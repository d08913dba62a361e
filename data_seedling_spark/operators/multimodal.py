"""Multimodal columns: opaque ``binary`` payloads + typed metadata.

The engine treats images/audio/video as binary columns with a metadata
struct; decode / feature-extract / resize / frame-sample run as
Arrow-batched ``mapInPandas`` operators so each python worker touches
one batch of payloads at a time (bounded memory, no driver collect).

BMP, PNG, GIF (variable-width LZW), baseline JPEG, WAV/PCM16,
MJPEG-in-AVI video, and mp3 frame metadata are REAL library-free
codecs/parsers (fixed headers, stdlib zlib for PNG's DEFLATE, numpy
for filters/DCT/samples), decoded and oracle-checked end-to-end.
Inter-coded video (h264/vp9), mp3 PCM decode, and progressive JPEG
need external codecs (Pillow/ffmpeg/torchaudio) that are NOT in this
container, so they stay behind ``decode_stub``'s deterministic fake —
the Spark-side plumbing (schema, batch shape, partitioning) is
identical and tested; swap ``_fake_decode`` for a real decoder to go
live.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Metadata contract for a binary payload column.
MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("byte_len", T.LongType()),
        T.StructField("mime", T.StringType()),
        T.StructField("checksum", T.StringType()),
    ]
)

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("ok", T.BooleanType()),
    ]
)


def attach_binary_payload(
    df: DataFrame, source_col: str, payload_col: str = "payload", mime: str = "text/plain"
) -> DataFrame:
    """Materialise a binary column + metadata struct from a source
    column (here: utf-8 text stands in for image bytes). All JVM-side."""
    payload = F.encode(F.col(source_col), "utf-8")
    return df.withColumn(payload_col, payload).withColumn(
        payload_col + "_meta",
        F.struct(
            F.octet_length(payload).cast("long").alias("byte_len"),
            F.lit(mime).alias("mime"),
            F.sha2(payload, 256).alias("checksum"),
        ),
    )


def _fake_decode(payload: bytes) -> dict:
    """Deterministic stand-in for an image decoder: dimensions derived
    from the byte length. Replace with e.g. PIL.Image.open for real
    media (not installed in this container)."""
    n = len(payload)
    return {"width": int(n % 640) + 1, "height": int(n % 480) + 1, "n_frames": 1, "ok": True}


def decode_stub(
    df: DataFrame, payload_col: str = "payload", out_col: str = "decoded", decoder=None
) -> DataFrame:
    """Batch 'decode' of binary payloads via mapInPandas. ``decoder``
    takes bytes → dict matching DECODED_SCHEMA; the default is the
    deterministic fake. Raises NotImplementedError for real media types
    when no decoder is supplied."""
    decoder = decoder or _fake_decode
    out_schema = T.StructType(df.schema.fields + [T.StructField(out_col, DECODED_SCHEMA)])

    def run(batches):
        for pdf in batches:
            pdf[out_col] = [
                None if b is None else decoder(bytes(b)) for b in pdf[payload_col]
            ]
            yield pdf

    return df.mapInPandas(run, out_schema)


def frame_sample_stub(
    df: DataFrame, payload_col: str = "payload", every_n: int = 2
) -> DataFrame:
    """Frame-sampling plumbing demo: one output row per sampled frame
    (explode pattern). Real video decoding is NotImplemented in this
    container; the fake emits byte-offset 'frames'."""

    def sample(batches):
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                payload = row[payload_col]
                if payload is None:
                    continue
                for i in range(0, max(len(bytes(payload)) // 64, 1), every_n):
                    rows.append({"doc_id": row["doc_id"], "frame_idx": i})
            yield pd.DataFrame(rows, columns=["doc_id", "frame_idx"])

    return df.mapInPandas(sample, "doc_id long, frame_idx int")


# ---------------------------------------------------------------------------
# Real decode path: BMP (fixed 54-byte header + raw padded BGR rows),
# PNG (chunks + CRC32 + DEFLATE — stdlib zlib + numpy unfilter), and
# baseline JPEG (further below). video stays behind decoder= seams
# until its libs exist in the runtime.
# ---------------------------------------------------------------------------

DECODED_IMAGE_SCHEMA = T.StructType(
    [
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
        T.StructField("ok", T.BooleanType()),
    ]
)


def encode_bmp(img) -> bytes:
    """uint8 RGB (H, W, 3) array → 24-bit uncompressed BMP bytes
    (bottom-up rows, BGR order, rows padded to 4 bytes)."""
    import struct

    import numpy as np

    img = np.asarray(img, dtype=np.uint8)
    h, w, _ = img.shape
    row_size = (w * 3 + 3) & ~3
    img_size = row_size * h
    header = struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0)
    bgr = img[:, :, ::-1]
    pad = b"\x00" * (row_size - w * 3)
    rows = [bgr[y].tobytes() + pad for y in range(h - 1, -1, -1)]
    return header + info + b"".join(rows)


def decode_bmp_pixels(data: bytes):
    """24-bit uncompressed BMP bytes → uint8 RGB (H, W, 3) array —
    the pixel-level inverse of :func:`encode_bmp`."""
    import struct

    import numpy as np

    if data[:2] != b"BM":
        raise ValueError("not a BMP payload")
    offset = struct.unpack_from("<I", data, 10)[0]
    w, h = struct.unpack_from("<ii", data, 18)
    bpp = struct.unpack_from("<H", data, 28)[0]
    if bpp != 24 or h <= 0:
        raise ValueError(f"unsupported BMP variant (bpp={bpp}, h={h})")
    row_size = (w * 3 + 3) & ~3
    buf = np.frombuffer(data, np.uint8, row_size * h, offset).reshape(h, row_size)
    return buf[:, : w * 3].reshape(h, w, 3)[::-1, :, ::-1]  # un-flip, BGR→RGB


def decode_image(data: bytes) -> dict:
    """Image bytes (BMP or PNG, format-sniffed) → dims + per-channel
    means (matching DECODED_IMAGE_SCHEMA, ``ok`` excluded)."""
    px = decode_image_pixels(data)
    h, w = px.shape[0], px.shape[1]
    return {
        "width": int(w),
        "height": int(h),
        "mean_r": float(px[..., 0].mean()),
        "mean_g": float(px[..., 1].mean()),
        "mean_b": float(px[..., 2].mean()),
    }


def _png_filter_row(cur, prev, nch: int, f: int):
    """Apply PNG filter ``f`` to one scanline at ENCODE time. Unlike
    decoding, filtering is not a recurrence (predictors read original
    pixel values), so every filter vectorizes."""
    import numpy as np

    cur_i = cur.astype(np.int32)
    a = np.concatenate([np.zeros(nch, np.int32), cur_i[:-nch]])
    b = prev.astype(np.int32)
    c = np.concatenate([np.zeros(nch, np.int32), b[:-nch]])
    if f == 0:
        pred = np.zeros_like(cur_i)
    elif f == 1:  # Sub
        pred = a
    elif f == 2:  # Up
        pred = b
    elif f == 3:  # Average
        pred = (a + b) >> 1
    elif f == 4:  # Paeth
        p = a + b - c
        pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
        pred = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
    else:
        raise ValueError(f"bad PNG filter type {f}")
    return ((cur_i - pred) & 0xFF).astype(np.uint8)


def encode_png(img, filter_type: int = 0) -> bytes:
    """uint8 RGB (H, W, 3) array → PNG bytes (8-bit truecolor, one
    zlib-deflated IDAT). Library-free: PNG's container is chunks +
    CRC32 + DEFLATE, all stdlib. ``filter_type`` picks the scanline
    filter (0=None, 1=Sub, 2=Up, 3=Average, 4=Paeth) — a real encoder
    chooses per row for compression; exposing it lets tests and
    oracle queries exercise every unfilter path in the decoder."""
    import struct
    import zlib

    import numpy as np

    img = np.asarray(img, dtype=np.uint8)
    h, w, nch = img.shape
    prev = np.zeros(w * nch, np.uint8)
    lines = []
    for y in range(h):
        cur = img[y].reshape(-1)
        lines.append(
            bytes([filter_type])
            + _png_filter_row(cur, prev, nch, filter_type).tobytes()
        )
        prev = cur

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"".join(lines)))
        + chunk(b"IEND", b"")
    )


def decode_png_pixels(data: bytes):
    """PNG bytes → uint8 RGB (H, W, 3) array. Real decoder, no
    imaging library: chunk walk → zlib inflate → per-scanline
    unfilter (all five filter types: None/Sub/Up/Average/Paeth).
    Supports 8-bit depth, color types gray(0)/RGB(2)/gray+alpha(4)/
    RGBA(6), non-interlaced; gray expands and alpha drops so every
    caller sees RGB. Up-filtered rows vectorize; Sub/Average/Paeth
    are sequential per scanline (their recurrence is inherently so)."""
    import struct
    import zlib

    import numpy as np

    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    pos, ihdr, idat = 8, None, []
    while pos + 8 <= len(data):
        ln, tag = struct.unpack_from(">I4s", data, pos)
        body = data[pos + 8 : pos + 8 + ln]
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
        pos += 12 + ln
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, depth, ctype, _comp, _filt, interlace = ihdr
    if depth != 8 or interlace != 0 or ctype not in (0, 2, 4, 6):
        raise ValueError(
            f"unsupported PNG variant (depth={depth}, color={ctype}, "
            f"interlace={interlace})"
        )
    nch = {0: 1, 2: 3, 4: 2, 6: 4}[ctype]
    raw = zlib.decompress(b"".join(idat))
    stride = w * nch
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG scanline payload size mismatch")
    out = np.empty((h, stride), np.uint8)
    prev = np.zeros(stride, np.int32)
    pos = 0
    for y in range(h):
        f = raw[pos]
        line = np.frombuffer(raw, np.uint8, stride, pos + 1).astype(np.int32)
        pos += 1 + stride
        if f == 0:
            cur = line
        elif f == 2:  # Up
            cur = (line + prev) & 0xFF
        elif f in (1, 3, 4):  # Sub / Average / Paeth
            cur = np.empty(stride, np.int32)
            for x in range(stride):
                a = cur[x - nch] if x >= nch else 0
                b = prev[x]
                c = prev[x - nch] if x >= nch else 0
                if f == 1:
                    pred = a
                elif f == 3:
                    pred = (a + b) >> 1
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (line[x] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {f}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    px = out.reshape(h, w, nch)
    if ctype == 0:
        return np.repeat(px, 3, axis=2)
    if ctype == 4:
        return np.repeat(px[:, :, :1], 3, axis=2)
    if ctype == 6:
        return np.ascontiguousarray(px[:, :, :3])
    return px


#: GIF interlace passes: (first row, row step) per the GIF89a spec —
#: pass 1 every 8th row from 0, pass 2 every 8th from 4, pass 3 every
#: 4th from 2, pass 4 every 2nd from 1.
_GIF_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _gif_row_order(h: int, interlace: bool) -> list[int]:
    if not interlace:
        return list(range(h))
    return [y for start, step in _GIF_PASSES for y in range(start, h, step)]


def encode_gif(indices, palette, interlace: bool = False) -> bytes:
    """uint8 palette-index (H, W) array + (P, 3) RGB palette → GIF89a
    bytes with REAL variable-width LZW compression (the format's
    mandatory codec — there is no uncompressed GIF): dictionary-coded
    strings, clear/EOI control codes, code width growing 1 bit each
    time the next slot crosses a power of two (capped at 12, CLEAR +
    reset on a full 4096-entry table), LSB-first bit packing into
    255-byte sub-blocks. ``interlace=True`` writes rows in the spec's
    4-pass order. Palette size is rounded up to a power of two ≥ 4."""
    import struct

    import numpy as np

    idx = np.asarray(indices, dtype=np.uint8)
    pal = np.asarray(palette, dtype=np.uint8)
    h, w = idx.shape
    bits = max(2, int(len(pal) - 1).bit_length())
    m = bits  # LZW min code size
    clear, eoi = 1 << m, (1 << m) + 1
    pal_full = np.zeros((1 << bits, 3), dtype=np.uint8)
    pal_full[: len(pal)] = pal

    data = idx[_gif_row_order(h, interlace)].reshape(-1).tolist()

    out_bits: list[tuple[int, int]] = []  # (code, width)
    # Encoder mirrors the DECODER's width schedule: the decoder adds a
    # dictionary entry on every data code after the first of a segment,
    # and widens when its next slot hits 1<<width — so the encoder
    # counts emitted data codes and replays that exact bump.
    table: dict[bytes, int] = {bytes([i]): i for i in range(1 << m)}
    next_enc = eoi + 1
    width = m + 1
    dec_next = eoi + 1
    emitted_data = 0

    def emit(code: int) -> None:
        nonlocal dec_next, width, emitted_data
        out_bits.append((code, width))
        emitted_data += 1
        if emitted_data >= 2 and dec_next < 4096:
            dec_next += 1
            if dec_next == (1 << width) and width < 12:
                width += 1

    def reset() -> None:
        nonlocal table, next_enc, width, dec_next, emitted_data
        out_bits.append((clear, width))
        table = {bytes([i]): i for i in range(1 << m)}
        next_enc = eoi + 1
        width = m + 1
        dec_next = eoi + 1
        emitted_data = 0

    reset()
    s = bytes([data[0]])
    for c in data[1:]:
        sc = s + bytes([c])
        if sc in table:
            s = sc
            continue
        emit(table[s])
        if next_enc < 4096:
            table[sc] = next_enc
            next_enc += 1
        else:
            reset()
        s = bytes([c])
    emit(table[s])
    out_bits.append((eoi, width))

    # LSB-first bit pack
    acc = nbits = 0
    packed = bytearray()
    for code, cw in out_bits:
        acc |= code << nbits
        nbits += cw
        while nbits >= 8:
            packed.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        packed.append(acc & 0xFF)

    blocks = bytearray()
    for i in range(0, len(packed), 255):
        chunk = packed[i : i + 255]
        blocks.append(len(chunk))
        blocks.extend(chunk)
    blocks.append(0)

    lsd_packed = 0x80 | ((bits - 1) << 4) | (bits - 1)
    img_packed = 0x40 if interlace else 0x00
    return (
        b"GIF89a"
        + struct.pack("<HHBBB", w, h, lsd_packed, 0, 0)
        + pal_full.tobytes()
        + struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, img_packed)
        + bytes([m])
        + bytes(blocks)
        + b"\x3B"
    )


def decode_gif_pixels(data: bytes):
    """GIF87a/89a bytes → uint8 RGB (H, W, 3) array: header + global
    color table walk, extension-block skip, full variable-width LZW
    decode (clear/EOI, dictionary rebuild including the KwKwK
    just-defined-code case, width bump at each power-of-two slot,
    12-bit cap) and 4-pass de-interlace, then palette lookup. The
    library-free inverse of :func:`encode_gif`."""
    import struct

    import numpy as np

    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    sw, sh, lsd, _bg, _ar = struct.unpack_from("<HHBBB", data, 6)
    pos = 13
    if not lsd & 0x80:
        raise ValueError("GIF without a global color table")
    gct_n = 2 << (lsd & 0x07)
    palette = np.frombuffer(data, np.uint8, gct_n * 3, pos).reshape(gct_n, 3)
    pos += gct_n * 3
    while True:
        block = data[pos]
        if block == 0x21:  # extension: label + sub-blocks
            pos += 2
            while data[pos]:
                pos += 1 + data[pos]
            pos += 1
        elif block == 0x2C:
            break
        else:
            raise ValueError(f"unexpected GIF block 0x{block:02x}")
    _l, _t, w, h, img_packed = struct.unpack_from("<HHHHB", data, pos + 1)
    pos += 10
    if img_packed & 0x80:
        lct_n = 2 << (img_packed & 0x07)
        palette = np.frombuffer(data, np.uint8, lct_n * 3, pos).reshape(lct_n, 3)
        pos += lct_n * 3
    interlace = bool(img_packed & 0x40)

    m = data[pos]
    pos += 1
    stream = bytearray()
    while data[pos]:
        n = data[pos]
        stream.extend(data[pos + 1 : pos + 1 + n])
        pos += 1 + n

    clear, eoi = 1 << m, (1 << m) + 1
    width = m + 1
    table: list[bytes] = [bytes([i]) for i in range(1 << m)] + [b"", b""]
    prev: bytes | None = None
    out = bytearray()
    acc = nbits = bit_pos = 0
    total = len(stream)
    while True:
        while nbits < width:
            if bit_pos >= total:
                raise ValueError("truncated GIF LZW stream")
            acc |= stream[bit_pos] << nbits
            nbits += 8
            bit_pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = [bytes([i]) for i in range(1 << m)] + [b"", b""]
            width = m + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table):
            entry = prev + prev[:1]  # KwKwK: code defined by this very step
        else:
            raise ValueError(f"corrupt GIF LZW code {code}")
        out.extend(entry)
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry

    idx = np.frombuffer(bytes(out[: w * h]), np.uint8).reshape(h, w)
    if interlace:
        order = _gif_row_order(h, True)
        deinter = np.empty_like(idx)
        deinter[order] = idx
        idx = deinter
    return palette[idx]


def decode_image_pixels(data: bytes):
    """Format-sniffing pixel decode: BMP, PNG, GIF and baseline JPEG
    are REAL library-free codecs; other magics raise (and the
    mapInPandas operators turn that into ok=False / NULL per row).
    video stays behind the decoder seam until its libs exist in the
    runtime."""
    if data[:2] == b"BM":
        return decode_bmp_pixels(data)
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        return decode_png_pixels(data)
    if data[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif_pixels(data)
    if data[:2] == b"\xff\xd8":
        import numpy as np

        px = decode_jpeg_pixels(data)
        # grayscale streams present as RGB so every downstream feature
        # (means, resize, re-encode) sees one shape
        return px if px.ndim == 3 else np.stack([px] * 3, axis=2)
    raise ValueError(
        "unrecognized image payload (supported: BMP, PNG, GIF, JPEG)"
    )


def resize_nearest(px, width: int, height: int):
    """Nearest-neighbor resize by integer index mapping:
    ``src = (dst * src_dim) // dst_dim`` — pure integer arithmetic, so
    any engine (and the SQL oracle) reproduces the exact pixel
    selection."""
    import numpy as np

    h, w = px.shape[0], px.shape[1]
    ys = (np.arange(height) * h) // height
    xs = (np.arange(width) * w) // width
    return px[ys][:, xs]


def resize_images(
    df: DataFrame,
    payload_col: str = "payload",
    width: int = 4,
    height: int = 3,
    out_col: str = "resized",
) -> DataFrame:
    """REAL image resize over ``mapInPandas``: decode (BMP or PNG,
    format-sniffed) → nearest-neighbor index resize → re-encode BMP
    into ``out_col``. Per-row error isolation (undecodable payloads
    yield NULL, never a failed batch). Same Arrow-batched plumbing as
    ``decode_images``; a Pillow/opencv resampler swaps in as a kernel
    change, not a plan change."""
    out_schema = T.StructType(
        df.schema.fields + [T.StructField(out_col, T.BinaryType())]
    )

    def run(batches):
        for pdf in batches:
            resized = []
            for b in pdf[payload_col]:
                if b is None:
                    resized.append(None)
                    continue
                try:
                    px = decode_image_pixels(bytes(b))
                    resized.append(encode_bmp(resize_nearest(px, width, height)))
                except Exception:
                    resized.append(None)
            pdf[out_col] = resized
            yield pdf

    return df.mapInPandas(run, out_schema)


def decode_images(
    df: DataFrame, payload_col: str = "payload", out_col: str = "decoded"
) -> DataFrame:
    """REAL image decode over ``mapInPandas``: BMP, PNG and baseline
    JPEG payloads (format-sniffed) decode to dims + channel means;
    anything else yields ``ok=False`` instead of failing the batch
    (per-row error isolation — one corrupt asset must not kill a
    100 TB decode job). Same batched plumbing as ``decode_stub``, so
    swapping in Pillow/ffmpeg for the remaining formats swaps a
    decoder, not a plan."""
    out_schema = T.StructType(
        df.schema.fields + [T.StructField(out_col, DECODED_IMAGE_SCHEMA)]
    )

    def run(batches):
        for pdf in batches:
            decoded = []
            for b in pdf[payload_col]:
                if b is None:
                    decoded.append(None)
                    continue
                try:
                    d = decode_image(bytes(b))
                    d["ok"] = True
                except Exception:
                    d = {
                        "width": None, "height": None,
                        "mean_r": None, "mean_g": None, "mean_b": None,
                        "ok": False,
                    }
                decoded.append(d)
            pdf[out_col] = decoded
            yield pdf

    return df.mapInPandas(run, out_schema)


# ---------------------------------------------------------------------------
# Real audio path: WAV/PCM16 (RIFF header + raw little-endian samples —
# the audio twin of the BMP codec: no library needed). mp3/flac/ogg
# stay behind the decoder seam until their libs exist in the runtime.
# ---------------------------------------------------------------------------

AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("windows", T.ArrayType(
            T.StructType(
                [
                    T.StructField("window_idx", T.IntegerType()),
                    T.StructField("rms", T.DoubleType()),
                    T.StructField("peak", T.IntegerType()),
                ]
            )
        )),
        T.StructField("ok", T.BooleanType()),
    ]
)


# ---------------------------------------------------------------------------
# Real JPEG path: baseline JFIF (SOI/APP0/DQT/SOF0/DHT/SOS), library-free.
# The encoder emits 4:4:4 (or grayscale) baseline JPEG with canonical
# fixed-length Huffman tables declared in DHT; the decoder is a general
# baseline decoder driven entirely by the stream's own DQT/DHT/SOF0
# markers (it decodes Annex-K-table streams just the same, as long as
# sampling is 1x1). Exactness lever for oracles: a constant 8x8 block
# is DC-only through the float DCT (AC sums cancel to ~0 and round
# away), and with a quant value dividing 8 the DC roundtrips exactly —
# so constant-block images decode bit-exact and their channel means
# have closed forms. Progressive/arithmetic/subsampled variants stay
# behind the decoder seam.
# ---------------------------------------------------------------------------

_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

#: canonical-Huffman specs (bits-per-length counts + symbol order), in
#: DHT wire layout. DC: the 12 size categories as 4-bit codes; AC: all
#: 162 (run,size) symbols as 8-bit codes (EOB=0x00, ZRL=0xF0). Both
#: leave the all-ones code unused, so 1-padding at scan end never
#: decodes as a symbol.
_DC_BITS = [0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
_AC_VALS = [0x00, 0xF0] + [
    (run << 4) | size for run in range(16) for size in range(1, 11)
]
_AC_BITS = [0, 0, 0, 0, 0, 0, 0, len(_AC_VALS), 0, 0, 0, 0, 0, 0, 0, 0]

#: progressive AC table: the baseline symbols plus the EOBn run
#: symbols (n<<4 for n=1..14, T.81 G.1.2.2) at length 9 — Kraft sum
#: 162/256 + 14/512 < 1 and the all-ones code stays unused.
_AC_VALS_PROG = _AC_VALS + [n << 4 for n in range(1, 15)]
_AC_BITS_PROG = [0, 0, 0, 0, 0, 0, 0, len(_AC_VALS), 14, 0, 0, 0, 0, 0, 0, 0]


def _dct_matrix():
    import numpy as np

    x = np.arange(8)
    m = 0.5 * np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / 16)
    m[0, :] = 0.5 / np.sqrt(2.0)
    return m


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, nbits: int) -> None:
        self.acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        self.nbits += nbits
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)
            self.nbits -= 8
            self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            self.write(0x7F, 8 - self.nbits)  # pad with 1s
        return bytes(self.out)


def _huff_codes(bits, vals):
    """Canonical Huffman code assignment from a DHT (bits, values)
    spec — the shared table construction for encoder and decoder."""
    codes, code = {}, 0
    i = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[i]] = (code, length)
            code += 1
            i += 1
        code <<= 1
    return codes


def _category(v: int) -> int:
    return 0 if v == 0 else int(abs(v)).bit_length()


def _encode_block(writer, block, qtable, prev_dc, dc_codes, ac_codes, dctm):
    """One 8x8 block: level shift → DCT → quantize → zigzag → DPCM DC
    + run-length AC, all huffman-coded. Returns the new DC predictor."""
    import numpy as np

    coeffs = dctm @ (block.astype(np.float64) - 128.0) @ dctm.T
    q = np.round(coeffs / qtable).astype(np.int64)
    zz = q.reshape(64)[_ZIGZAG]
    diff = int(zz[0]) - prev_dc
    size = _category(diff)
    code, length = dc_codes[size]
    writer.write(code, length)
    if size:
        writer.write(diff if diff >= 0 else diff + (1 << size) - 1, size)
    run = 0
    last_nz = max([i for i in range(1, 64) if zz[i]] or [0])
    for i in range(1, last_nz + 1):
        v = int(zz[i])
        if v == 0:
            run += 1
            continue
        while run > 15:
            c, ln = ac_codes[0xF0]  # ZRL
            writer.write(c, ln)
            run -= 16
        size = _category(v)
        c, ln = ac_codes[(run << 4) | size]
        writer.write(c, ln)
        writer.write(v if v >= 0 else v + (1 << size) - 1, size)
        run = 0
    if last_nz < 63:
        c, ln = ac_codes[0x00]  # EOB
        writer.write(c, ln)
    return int(zz[0])


def encode_jpeg(img, quant_value: int = 1) -> bytes:
    """uint8 array → baseline JFIF bytes. ``(H, W)`` encodes grayscale
    (1 component); ``(H, W, 3)`` RGB encodes 4:4:4 YCbCr. Dimensions
    pad up to 8 with edge replication (SOF0 carries the true size, the
    decoder crops back). ``quant_value`` fills the uniform quant table;
    any divisor of 8 makes constant blocks roundtrip bit-exact."""
    import struct

    import numpy as np

    img = np.asarray(img, dtype=np.uint8)
    gray = img.ndim == 2
    h, w = img.shape[:2]
    ph, pw = (h + 7) & ~7, (w + 7) & ~7
    pad = [(0, ph - h), (0, pw - w)] + ([] if gray else [(0, 0)])
    img = np.pad(img, pad, mode="edge")
    if gray:
        planes = [img.astype(np.float64)]
    else:
        r, g, b = (img[:, :, i].astype(np.float64) for i in range(3))
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
        planes = [np.round(p) for p in (y, cb, cr)]
    qtable = np.full((8, 8), quant_value, dtype=np.float64)
    out = bytearray(b"\xff\xd8")  # SOI
    out += (
        b"\xff\xe0"
        + struct.pack(">H", 16)
        + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    )
    zz_q = qtable.reshape(64)[_ZIGZAG].astype(np.uint8)
    out += b"\xff\xdb" + struct.pack(">HB", 67, 0) + zz_q.tobytes()
    ncomp = len(planes)
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * ncomp, 8, h, w, ncomp)
    for cid in range(1, ncomp + 1):
        out += struct.pack(">BBB", cid, 0x11, 0)  # 1x1 sampling, qtable 0
    for tclass, bits, vals in ((0, _DC_BITS, _DC_VALS), (1, _AC_BITS, _AC_VALS)):
        out += b"\xff\xc4" + struct.pack(">HB", 19 + len(vals), tclass << 4)
        out += bytes(bits) + bytes(vals)
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * ncomp, ncomp)
    for cid in range(1, ncomp + 1):
        out += struct.pack(">BB", cid, 0x00)  # DC table 0, AC table 0
    out += b"\x00\x3f\x00"  # spectral selection 0..63, no approx
    dc_codes = _huff_codes(_DC_BITS, _DC_VALS)
    ac_codes = _huff_codes(_AC_BITS, _AC_VALS)
    dctm = _dct_matrix()
    writer = _BitWriter()
    prev = [0] * ncomp
    for by in range(ph // 8):
        for bx in range(pw // 8):
            for ci, plane in enumerate(planes):  # interleaved 1x1 MCU
                block = plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                prev[ci] = _encode_block(
                    writer, block, qtable, prev[ci], dc_codes, ac_codes, dctm
                )
    out += writer.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _quantized_blocks(img, quant_value: int = 1):
    """Shared encoder front half: uint8 image → per-component lists of
    quantized zigzag blocks (raster order) plus true dims. Grayscale
    ``(H, W)`` → 1 component; RGB ``(H, W, 3)`` → 4:4:4 YCbCr. The
    same level-shift → float DCT → uniform-quant → zigzag math as the
    baseline encoder, so baseline and progressive streams carry
    identical coefficients for identical pixels."""
    import numpy as np

    img = np.asarray(img, dtype=np.uint8)
    gray = img.ndim == 2
    h, w = img.shape[:2]
    ph, pw = (h + 7) & ~7, (w + 7) & ~7
    pad = [(0, ph - h), (0, pw - w)] + ([] if gray else [(0, 0)])
    img = np.pad(img, pad, mode="edge")
    if gray:
        planes = [img.astype(np.float64)]
    else:
        r, g, b = (img[:, :, i].astype(np.float64) for i in range(3))
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
        planes = [np.round(p) for p in (y, cb, cr)]
    qtable = np.full((8, 8), quant_value, dtype=np.float64)
    dctm = _dct_matrix()
    comps = []
    for plane in planes:
        blocks = []
        for by in range(ph // 8):
            for bx in range(pw // 8):
                blk = plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                coeffs = dctm @ (blk - 128.0) @ dctm.T
                q = np.round(coeffs / qtable).astype(np.int64)
                blocks.append(q.reshape(64)[_ZIGZAG])
        comps.append(blocks)
    return h, w, comps


def _ac_pt(v: int, al: int) -> int:
    """AC successive-approximation point transform (T.81 G.1.2.2):
    sign(v) * (|v| >> Al) — NOT an arithmetic shift for negatives
    (the DC point transform IS the arithmetic shift)."""
    return -((-v) >> al) if v < 0 else v >> al


def _encode_dc_first(writer, blocks_per_comp, order, al, dc_codes):
    preds = [0] * len(blocks_per_comp)
    for b in order:
        for ci, blocks in enumerate(blocks_per_comp):
            val = int(blocks[b][0]) >> al  # DC pt: arithmetic shift
            diff = val - preds[ci]
            preds[ci] = val
            size = _category(diff)
            code, length = dc_codes[size]
            writer.write(code, length)
            if size:
                writer.write(diff if diff >= 0 else diff + (1 << size) - 1, size)


def _flush_eobrun(writer, ac_codes, eobrun: int, bebits: list) -> None:
    """Emit an EOBn symbol for an accumulated end-of-band run (T.81
    G.1.2.2: symbol (n<<4)|0 codes a run of 2^n + n-extension-bits
    blocks), followed by the buffered correction bits of the blocks
    the run passed over (refinement scans only)."""
    if eobrun:
        r = eobrun.bit_length() - 1
        c, ln = ac_codes[r << 4]
        writer.write(c, ln)
        if r:
            writer.write(eobrun - (1 << r), r)
    for bit in bebits:
        writer.write(bit, 1)


def _encode_ac_first(writer, blocks, ss, se, al, ac_codes):
    eobrun = 0
    for zz in blocks:
        vals = [_ac_pt(int(zz[k]), al) for k in range(ss, se + 1)]
        if not any(vals):  # whole band zero → join the EOB run
            eobrun += 1
            if eobrun == 0x7FFF:
                _flush_eobrun(writer, ac_codes, eobrun, [])
                eobrun = 0
            continue
        _flush_eobrun(writer, ac_codes, eobrun, [])
        eobrun = 0
        run = 0
        for v in vals:
            if v == 0:
                run += 1
                continue
            while run > 15:
                c, ln = ac_codes[0xF0]
                writer.write(c, ln)
                run -= 16
            size = _category(v)
            c, ln = ac_codes[(run << 4) | size]
            writer.write(c, ln)
            writer.write(v if v >= 0 else v + (1 << size) - 1, size)
            run = 0
        if run:  # trailing zeros start a new EOB run
            eobrun = 1
    _flush_eobrun(writer, ac_codes, eobrun, [])


def _encode_ac_refine(writer, blocks, ss, se, ah, al, ac_codes):
    """Refinement AC scan (G.1.2.3): zero-history coefficients code as
    runs + newly-significant (magnitude exactly 1 at this precision,
    sign bit follows the symbol); nonzero-history coefficients emit
    one correction bit each, buffered and flushed after the next
    symbol. End-of-band runs accumulate ACROSS blocks (EOBn), their
    correction bits buffered in block order behind the eventual
    symbol — mirroring how the decoder consumes them."""
    eobrun = 0
    bebits: list[int] = []
    for zz in blocks:
        vals = [int(zz[k]) for k in range(ss, se + 1)]
        hist = [abs(v) >> ah for v in vals]
        now = [abs(v) >> al for v in vals]
        new_sig = [i for i in range(len(vals)) if hist[i] == 0 and now[i]]
        if not new_sig:  # whole band joins the EOB run
            eobrun += 1
            bebits.extend(now[i] & 1 for i in range(len(vals)) if hist[i])
            if eobrun == 0x7FFF:
                _flush_eobrun(writer, ac_codes, eobrun, bebits)
                eobrun, bebits = 0, []
            continue
        _flush_eobrun(writer, ac_codes, eobrun, bebits)
        eobrun, bebits = 0, []
        last = new_sig[-1]
        run = 0
        pending: list[int] = []
        for i in range(last + 1):
            if hist[i] == 0 and now[i] == 0:
                run += 1
                continue
            # ZRL flushes lazily AT a nonzero position so the pending
            # corrections all lie among the 16 zeros the decoder's ZRL
            # walk covers (an eager flush at the 16th zero could trap
            # later corrections behind the wrong symbol)
            while run > 15:
                c, ln = ac_codes[0xF0]
                writer.write(c, ln)
                for bit in pending:
                    writer.write(bit, 1)
                pending = []
                run -= 16
            if hist[i]:
                pending.append(now[i] & 1)
                continue
            # newly significant (now == 1 by Ah = Al + 1)
            c, ln = ac_codes[(run << 4) | 1]
            writer.write(c, ln)
            writer.write(1 if vals[i] > 0 else 0, 1)
            for bit in pending:
                writer.write(bit, 1)
            pending = []
            run = 0
        # remainder of the band starts a new EOB run iff anything
        # (zero-history zeros or corrections) is left in it
        if last + 1 <= len(vals) - 1:
            eobrun = 1
            bebits = [now[i] & 1 for i in range(last + 1, len(vals)) if hist[i]]
    _flush_eobrun(writer, ac_codes, eobrun, bebits)


def encode_jpeg_progressive(img, quant_value: int = 1) -> bytes:
    """uint8 array → PROGRESSIVE JFIF bytes (SOF2): the same quantized
    coefficients as :func:`encode_jpeg`, delivered across a standard
    multi-scan script exercising all four progressive scan types —

    1. DC first, all components interleaved (Ah=0, Al=1)
    2. AC first per component, split spectral bands 1–5 and 6–63 (Al=1)
    3. DC refinement, interleaved (Ah=1, Al=0)
    4. AC refinement per component, band 1–63 (Ah=1, Al=0)

    — i.e. spectral selection AND successive approximation, the full
    T.81 Annex-G surface. AC first scans bound EOBRUN to 1 (EOB0 only)
    which is spec-valid; the decoder accepts general EOBn. Since the
    scans reconstruct every coefficient down to Al=0, a progressive
    stream decodes bit-identically to its baseline twin."""
    import struct

    h, w, comps = _quantized_blocks(img, quant_value)
    ncomp = len(comps)
    nblocks = len(comps[0])
    out = bytearray(b"\xff\xd8")
    out += (
        b"\xff\xe0"
        + struct.pack(">H", 16)
        + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    )
    import numpy as np

    qtable = np.full(64, quant_value, dtype=np.float64)
    zz_q = qtable[_ZIGZAG].astype(np.uint8)
    out += b"\xff\xdb" + struct.pack(">HB", 67, 0) + zz_q.tobytes()
    out += b"\xff\xc2" + struct.pack(">HBHHB", 8 + 3 * ncomp, 8, h, w, ncomp)
    for cid in range(1, ncomp + 1):
        out += struct.pack(">BBB", cid, 0x11, 0)
    for tclass, bits, vals in (
        (0, _DC_BITS, _DC_VALS),
        (1, _AC_BITS_PROG, _AC_VALS_PROG),
    ):
        out += b"\xff\xc4" + struct.pack(">HB", 19 + len(vals), tclass << 4)
        out += bytes(bits) + bytes(vals)
    dc_codes = _huff_codes(_DC_BITS, _DC_VALS)
    ac_codes = _huff_codes(_AC_BITS_PROG, _AC_VALS_PROG)

    def sos(scan_comps, ss, se, ah, al):
        seg = bytearray(
            b"\xff\xda" + struct.pack(">HB", 6 + 2 * len(scan_comps), len(scan_comps))
        )
        for cid in scan_comps:
            seg += struct.pack(">BB", cid, 0x00)
        seg += struct.pack(">BBB", ss, se, (ah << 4) | al)
        return bytes(seg)

    order = list(range(nblocks))
    # 1. DC first (interleaved)
    out += sos(list(range(1, ncomp + 1)), 0, 0, 0, 1)
    wtr = _BitWriter()
    _encode_dc_first(wtr, comps, order, 1, dc_codes)
    out += wtr.flush()
    # 2. AC first per component, two spectral bands
    for ci in range(ncomp):
        for ss, se in ((1, 5), (6, 63)):
            out += sos([ci + 1], ss, se, 0, 1)
            wtr = _BitWriter()
            _encode_ac_first(wtr, comps[ci], ss, se, 1, ac_codes)
            out += wtr.flush()
    # 3. DC refinement (interleaved, raw bits)
    out += sos(list(range(1, ncomp + 1)), 0, 0, 1, 0)
    wtr = _BitWriter()
    for b in order:
        for ci in range(ncomp):
            wtr.write(int(comps[ci][b][0]) & 1, 1)
    out += wtr.flush()
    # 4. AC refinement per component, full band
    for ci in range(ncomp):
        out += sos([ci + 1], 1, 63, 1, 0)
        wtr = _BitWriter()
        _encode_ac_refine(wtr, comps[ci], 1, 63, 1, 0, ac_codes)
        out += wtr.flush()
    out += b"\xff\xd9"
    return bytes(out)


class _BitReader:
    """Entropy-segment bit reader with 0xFF00 unstuffing."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        byte = self.data[self.pos]
        if byte == 0xFF:
            nxt = self.data[self.pos + 1]
            if nxt != 0x00:
                raise EOFError("marker inside entropy data")
            self.pos += 2
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | byte
        self.nbits += 8

    def read(self, nbits: int) -> int:
        while self.nbits < nbits:
            self._fill()
        self.nbits -= nbits
        v = (self.acc >> self.nbits) & ((1 << nbits) - 1)
        self.acc &= (1 << self.nbits) - 1
        return v


def _read_huff_symbol(reader, table):
    code, length = 0, 0
    while length < 16:
        code = (code << 1) | reader.read(1)
        length += 1
        sym = table.get((code, length))
        if sym is not None:
            return sym
    raise ValueError("invalid huffman code")


def _extend(v: int, size: int) -> int:
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _decode_scan_baseline(reader, coefs, scan_comps, htables, nblocks):
    """One baseline SOS: interleaved full-band DPCM+RLE into the
    per-component coefficient stores (dequant/IDCT happen once at
    EOI, shared with the progressive path)."""
    import numpy as np

    prev = [0] * len(scan_comps)
    for b in range(nblocks):
        for si, (ci, dc_id, ac_id) in enumerate(scan_comps):
            dc_tab = htables[(0, dc_id)]
            ac_tab = htables[(1, ac_id)]
            zz = np.zeros(64, dtype=np.int64)
            size = _read_huff_symbol(reader, dc_tab)
            diff = _extend(reader.read(size), size) if size else 0
            prev[si] += diff
            zz[0] = prev[si]
            k = 1
            while k < 64:
                sym = _read_huff_symbol(reader, ac_tab)
                if sym == 0x00:  # EOB
                    break
                if sym == 0xF0:  # ZRL
                    k += 16
                    continue
                k += sym >> 4
                size = sym & 0xF
                zz[k] = _extend(reader.read(size), size)
                k += 1
            coefs[ci][b] = zz


def _decode_scan_progressive(
    reader, coefs, scan_comps, htables, nblocks, ss, se, ah, al
):
    """One progressive SOS per T.81 Annex G.2: DC scans (Ss=0) are
    interleaved first-pass DPCM at Al precision or 1-raw-bit
    refinements; AC scans are single-component spectral bands with
    EOBRUN (general EOBn) and, on refinement, correction bits for
    already-nonzero coefficients."""
    if ss == 0:  # DC scan (Se must be 0)
        if ah == 0:
            pred = [0] * len(scan_comps)
            for b in range(nblocks):
                for si, (ci, dc_id, _) in enumerate(scan_comps):
                    tab = htables[(0, dc_id)]
                    size = _read_huff_symbol(reader, tab)
                    diff = _extend(reader.read(size), size) if size else 0
                    pred[si] += diff
                    coefs[ci][b][0] = pred[si] << al
        else:
            for b in range(nblocks):
                for ci, _, _ in scan_comps:
                    if reader.read(1):
                        coefs[ci][b][0] |= 1 << al
        return
    ci, _, ac_id = scan_comps[0]  # AC scans are single-component
    tab = htables[(1, ac_id)]
    eobrun = 0
    if ah == 0:  # first pass
        for b in range(nblocks):
            if eobrun:
                eobrun -= 1
                continue
            zz = coefs[ci][b]
            k = ss
            while k <= se:
                sym = _read_huff_symbol(reader, tab)
                r, s = sym >> 4, sym & 0xF
                if s:
                    k += r
                    zz[k] = _extend(reader.read(s), s) << al
                    k += 1
                elif r != 15:  # EOBn
                    eobrun = (1 << r) - 1
                    if r:
                        eobrun += reader.read(r)
                    break
                else:  # ZRL
                    k += 16
        return
    p1, m1 = 1 << al, -(1 << al)  # refinement pass
    for b in range(nblocks):
        zz = coefs[ci][b]
        k = ss
        if eobrun == 0:
            while k <= se:
                sym = _read_huff_symbol(reader, tab)
                r, s = sym >> 4, sym & 0xF
                val = 0
                if s:  # s == 1: newly-significant, sign bit follows
                    val = p1 if reader.read(1) else m1
                elif r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += reader.read(r)
                    break
                # advance past r zero-history coeffs, emitting
                # correction bits for nonzero-history ones passed over
                while k <= se:
                    if zz[k] != 0:
                        if reader.read(1) and (zz[k] & p1) == 0:
                            zz[k] += p1 if zz[k] >= 0 else m1
                    else:
                        if r == 0:
                            if val:
                                zz[k] = val
                            k += 1
                            break
                        r -= 1
                    k += 1
        if eobrun:
            while k <= se:  # corrections only, to end of band
                if zz[k] != 0:
                    if reader.read(1) and (zz[k] & p1) == 0:
                        zz[k] += p1 if zz[k] >= 0 else m1
                k += 1
            eobrun -= 1


def _next_marker(data: bytes, pos: int) -> int:
    """First byte offset at/after ``pos`` of a real marker (0xFF
    followed by neither 0x00 stuffing nor another 0xFF fill)."""
    while pos < len(data) - 1:
        if data[pos] == 0xFF and data[pos + 1] not in (0x00, 0xFF):
            return pos
        pos += 1
    raise ValueError("ran off stream looking for a marker")


def decode_jpeg_pixels(data: bytes):
    """JFIF bytes → uint8 array: ``(H, W)`` for grayscale streams,
    ``(H, W, 3)`` RGB for 3-component 4:4:4. A general decoder for
    baseline (SOF0, single scan) AND progressive (SOF2, multi-scan
    spectral selection + successive approximation per T.81 Annex G)
    streams — tables read from the stream's DQT/DHT, any number of
    tables, any canonical code lengths, general EOBn run lengths.
    Entropy scans accumulate into per-component coefficient stores;
    dequant + IDCT run once at EOI, so a progressive stream whose
    scans reach Al=0 decodes bit-identically to its baseline twin.
    Only subsampled, restart-interval, and non-Huffman variants
    raise."""
    import struct

    import numpy as np

    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qtables: dict[int, object] = {}
    htables: dict[tuple[int, int], dict] = {}
    frame = None
    progressive = False
    coefs: list | None = None
    nblocks = 0
    saw_scan = False
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError("marker expected")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        seg_len = struct.unpack_from(">H", data, pos)[0]
        seg = data[pos + 2 : pos + seg_len]
        if marker == 0xDB:  # DQT (possibly several tables)
            off = 0
            while off < len(seg):
                pq, tq = seg[off] >> 4, seg[off] & 0xF
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                vals = np.frombuffer(seg, np.uint8, 64, off + 1).astype(np.float64)
                q = np.empty(64)
                q[_ZIGZAG] = vals
                qtables[tq] = q.reshape(8, 8)
                off += 65
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            progressive = marker == 0xC2
            _, h, w, ncomp = struct.unpack_from(">BHHB", seg, 0)
            comps = []
            for i in range(ncomp):
                cid, samp, tq = struct.unpack_from(">BBB", seg, 6 + 3 * i)
                if samp != 0x11:
                    raise ValueError("subsampled JPEG unsupported")
                comps.append((cid, tq))
            frame = (h, w, comps)
            nblocks = (((h + 7) & ~7) // 8) * (((w + 7) & ~7) // 8)
            coefs = [
                [np.zeros(64, dtype=np.int64) for _ in range(nblocks)]
                for _ in comps
            ]
        elif marker in (0xC1, 0xC3):
            raise ValueError("only baseline/progressive huffman JPEG supported")
        elif marker == 0xC4:  # DHT (possibly several tables)
            off = 0
            while off < len(seg):
                tclass, tid = seg[off] >> 4, seg[off] & 0xF
                bits = list(seg[off + 1 : off + 17])
                nvals = sum(bits)
                vals = list(seg[off + 17 : off + 17 + nvals])
                htables[(tclass, tid)] = {
                    (c, ln): s for s, (c, ln) in _huff_codes(bits, vals).items()
                }
                off += 17 + nvals
        elif marker == 0xDD:
            raise ValueError("restart intervals unsupported")
        elif marker == 0xDA:  # SOS — decode one entropy scan
            if frame is None or coefs is None:
                raise ValueError("SOS before SOF")
            ns = seg[0]
            cid_to_ix = {cid: i for i, (cid, _) in enumerate(frame[2])}
            scan_comps = [
                (
                    cid_to_ix[seg[1 + 2 * i]],
                    seg[2 + 2 * i] >> 4,
                    seg[2 + 2 * i] & 0xF,
                )
                for i in range(ns)
            ]
            ss, se, aa = seg[1 + 2 * ns], seg[2 + 2 * ns], seg[3 + 2 * ns]
            reader = _BitReader(data, pos + seg_len)
            if progressive:
                _decode_scan_progressive(
                    reader, coefs, scan_comps, htables, nblocks,
                    ss, se, aa >> 4, aa & 0xF,
                )
            else:
                _decode_scan_baseline(
                    reader, coefs, scan_comps, htables, nblocks
                )
            saw_scan = True
            pos = _next_marker(data, reader.pos)
            continue
        pos += seg_len
    if frame is None or not saw_scan:
        raise ValueError("missing SOF/SOS")
    h, w, comps = frame
    ph, pw = (h + 7) & ~7, (w + 7) & ~7
    dctm = _dct_matrix()
    planes = [np.zeros((ph, pw)) for _ in comps]
    qt = [qtables[tq] for _, tq in comps]
    bw = pw // 8
    for ci in range(len(comps)):
        for b in range(nblocks):
            block = np.empty(64)
            block[_ZIGZAG] = coefs[ci][b]
            coeffs = block.reshape(8, 8) * qt[ci]
            px = dctm.T @ coeffs @ dctm + 128.0
            by, bx = divmod(b, bw)
            planes[ci][by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = px
    planes = [p[:h, :w] for p in planes]
    if len(planes) == 1:
        return np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def encode_wav(samples, sample_rate: int = 16000) -> bytes:
    """int16 mono PCM array → WAV bytes (44-byte RIFF header +
    little-endian samples)."""
    import struct

    import numpy as np

    samples = np.asarray(samples, dtype="<i2")
    data = samples.tobytes()
    byte_rate = sample_rate * 2
    header = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(data), b"WAVE",
        b"fmt ", 16, 1, 1, sample_rate, byte_rate, 2, 16,
        b"data", len(data),
    )
    return header + data


def decode_wav(data: bytes):
    """WAV bytes → (sample_rate, int16 numpy array). Only the
    PCM16-mono subset ``encode_wav`` emits; anything else raises (the
    caller isolates per row)."""
    import struct

    import numpy as np

    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    fmt, channels, rate, bits = struct.unpack_from("<HHIxxxxxxH", data, 20)
    if (fmt, channels, bits) != (1, 1, 16):
        raise ValueError(f"unsupported WAV variant ({fmt}, {channels}ch, {bits}bit)")
    n = struct.unpack_from("<I", data, 40)[0]
    return rate, np.frombuffer(data, "<i2", n // 2, 44)


def audio_features(
    df: DataFrame,
    payload_col: str = "payload",
    window: int = 256,
    out_col: str = "audio",
) -> DataFrame:
    """REAL audio feature extraction over ``mapInPandas``: decode
    WAV/PCM16, then per fixed-size window emit RMS energy
    (``sqrt(mean(x²))`` in float64 — integer squares sum exactly, and
    IEEE sqrt is correctly rounded, so the doubles are engine-portable
    as-is; round at the QUERY edge with ``F.round``, not here: Python
    ``round`` is banker's, SQL round is half-up) and the absolute
    peak — the
    segmentation/energy pass an audio curation pipeline runs before
    VAD or transcription. Short final windows keep their true length
    in the mean. Per-row error isolation: ``ok=False`` rows, never
    failed batches."""

    def run(batches):
        import numpy as np

        for pdf in batches:
            feats = []
            for b in pdf[payload_col]:
                if b is None:
                    feats.append(None)
                    continue
                try:
                    rate, samples = decode_wav(bytes(b))
                    x = samples.astype(np.float64)
                    wins = []
                    for i in range(0, max(len(x), 1), window):
                        seg = x[i : i + window]
                        if len(seg) == 0:
                            break
                        wins.append(
                            {
                                "window_idx": i // window,
                                "rms": float(np.sqrt((seg * seg).mean())),
                                "peak": int(np.abs(samples[i : i + window]).max()),
                            }
                        )
                    feats.append(
                        {
                            "sample_rate": int(rate),
                            "n_samples": len(samples),
                            "duration_ms": int(len(samples) * 1000 // rate),
                            "windows": wins,
                            "ok": True,
                        }
                    )
                except Exception:
                    feats.append(
                        {
                            "sample_rate": None, "n_samples": None,
                            "duration_ms": None, "windows": None, "ok": False,
                        }
                    )
            pdf[out_col] = feats
            yield pdf

    out_schema = T.StructType(
        df.schema.fields + [T.StructField(out_col, AUDIO_FEATURES_SCHEMA)]
    )
    return df.mapInPandas(run, out_schema)


# ---------------------------------------------------------------------------
# Real video path: MJPEG-in-AVI (RIFF container walk + the baseline
# JPEG codec above — no library needed, each frame IS a JFIF payload).
# Inter-coded codecs (h264/vp9/av1) stay behind the decoder seam until
# their libs exist in the runtime.
# ---------------------------------------------------------------------------


def encode_avi_mjpeg(frames: list, fps: int = 10) -> bytes:
    """List of same-size grayscale/RGB uint8 frames → MJPEG AVI bytes:
    each frame JPEG-encoded (:func:`encode_jpeg`) into a ``00dc``
    chunk under ``LIST movi``, with spec-shaped ``avih``/``strh``/
    ``strf`` headers and a keyframe ``idx1`` index (every MJPEG frame
    is a keyframe — that is what makes the format frame-sampleable
    without decoding predecessors)."""
    import struct

    import numpy as np

    imgs = [np.asarray(f, dtype=np.uint8) for f in frames]
    h, w = imgs[0].shape[:2]
    payloads = [encode_jpeg(f) for f in imgs]

    def chunk(tag: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) % 2 else b""
        return tag + struct.pack("<I", len(body)) + body + pad

    def lst(four: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", four + body)

    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        1_000_000 // fps, 0, 0, 0x10, len(payloads), 0, 1, 0, w, h,
        0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        b"vids", b"MJPG", 0, 0, 0, 0, 1, fps, 0, len(payloads),
        0, 0xFFFFFFFF, 0, 0, 0, w, h,
    )
    strf = struct.pack(
        "<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG", w * h * 3, 0, 0, 0, 0
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi_body = b"".join(chunk(b"00dc", p) for p in payloads)
    movi = lst(b"movi", movi_body)
    idx = bytearray()
    off = 4  # offsets are relative to the start of 'movi' fourcc
    for p in payloads:
        idx += struct.pack("<4sIII", b"00dc", 0x10, off, len(p))
        off += 8 + len(p) + (len(p) % 2)
    riff_body = b"AVI " + hdrl + movi + chunk(b"idx1", bytes(idx))
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def decode_avi_frames(data: bytes):
    """MJPEG AVI bytes → (width, height, n_frames_declared,
    [jpeg payloads]): RIFF walk to ``avih`` for the declared geometry
    and to ``LIST movi`` for the per-frame ``00dc``/``00db`` chunks
    (pad-byte aware). Frame pixels come from
    :func:`decode_jpeg_pixels` on each payload — the container layer
    and the codec layer stay separable, which is exactly how a real
    pipeline swaps MJPEG for an external h264 decoder."""
    import struct

    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not an AVI payload")
    width = height = declared = None
    frames: list[bytes] = []

    def walk(buf: bytes, pos: int, end: int) -> None:
        nonlocal width, height, declared
        while pos + 8 <= end:
            tag = buf[pos : pos + 4]
            size = struct.unpack_from("<I", buf, pos + 4)[0]
            body_start = pos + 8
            if tag == b"LIST":
                walk(buf, body_start + 4, body_start + size)
            elif tag == b"avih":
                fields = struct.unpack_from("<IIIIIIIIII", buf, body_start)
                declared = fields[4]
                width, height = fields[8], fields[9]
            elif tag in (b"00dc", b"00db"):
                frames.append(bytes(buf[body_start : body_start + size]))
            pos = body_start + size + (size % 2)

    walk(data, 12, len(data))
    if width is None:
        raise ValueError("AVI without an avih header")
    return width, height, declared, frames


VIDEO_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
    ]
)


def sample_video_frames(
    df: DataFrame,
    payload_col: str = "payload",
    out_col: str = "frames",
    every: int = 1,
) -> DataFrame:
    """REAL video frame sampling over ``mapInPandas``: AVI container
    walk → keep every ``every``-th MJPEG frame → JPEG-decode just
    those (MJPEG keyframe independence means skipped frames cost
    nothing — the property that makes stride sampling cheap) → one
    struct per sampled frame with dims + channel means. Corrupt
    payloads isolate as NULL, same per-row error contract as
    :func:`decode_images`."""
    import numpy as np

    out_schema = T.StructType(
        df.schema.fields
        + [T.StructField(out_col, T.ArrayType(VIDEO_FRAME_SCHEMA))]
    )

    def run(batches):
        for pdf in batches:
            out = []
            for b in pdf[payload_col]:
                if b is None:
                    out.append(None)
                    continue
                try:
                    _w, _h, _n, payloads = decode_avi_frames(bytes(b))
                    rows = []
                    for t in range(0, len(payloads), every):
                        px = decode_jpeg_pixels(payloads[t])
                        if px.ndim == 2:
                            px = np.stack([px] * 3, axis=2)
                        rows.append(
                            {
                                "frame_idx": t,
                                "width": int(px.shape[1]),
                                "height": int(px.shape[0]),
                                "mean_r": float(px[..., 0].mean()),
                                "mean_g": float(px[..., 1].mean()),
                                "mean_b": float(px[..., 2].mean()),
                            }
                        )
                    out.append(rows)
                except Exception:
                    out.append(None)
            pdf[out_col] = out
            yield pdf

    return df.mapInPandas(run, out_schema)


# ---------------------------------------------------------------------------
# Real mp3 METADATA path: frame-header walk (sync scan, bitrate/
# samplerate tables, VBR-aware per-frame sizes, ID3v2 skip). PCM
# decode (huffman + IMDCT) stays behind the decoder seam — metadata
# is what corpus curation needs (duration/bitrate filters) and it
# parses library-free.
# ---------------------------------------------------------------------------

#: MPEG-1 Layer III bitrate table (kbps), index 1..14.
_MP3_BITRATES = (
    None, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320,
)
_MP3_SAMPLERATES = (44100, 48000, 32000)
_MP3_SAMPLES_PER_FRAME = 1152


def encode_mp3_frames(
    frame_bitrates_kbps: list, samplerate: int = 44100, id3_payload: bytes | None = None
) -> bytes:
    """Synthesize a (headers-valid, silence-payload) MPEG-1 Layer III
    stream: one 4-byte frame header per requested bitrate + zero
    main-data filler to the spec frame size (144·bitrate/samplerate),
    optionally prefixed with an ID3v2 tag. Varying per-frame bitrates
    produce a true VBR stream — a parser must walk header by header,
    not extrapolate from the first frame."""
    sr_idx = _MP3_SAMPLERATES.index(samplerate)
    out = bytearray()
    if id3_payload is not None:
        n = len(id3_payload)
        syncsafe = bytes(
            [(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F]
        )
        out += b"ID3\x04\x00\x00" + syncsafe + id3_payload
    for kbps in frame_bitrates_kbps:
        br_idx = _MP3_BITRATES.index(kbps)
        hdr = bytes(
            [
                0xFF,
                0xFB,  # MPEG-1, Layer III, no CRC
                (br_idx << 4) | (sr_idx << 2),  # no padding
                0x00,
            ]
        )
        size = 144 * kbps * 1000 // samplerate
        out += hdr + b"\x00" * (size - 4)
    return bytes(out)


def parse_mp3_metadata(data: bytes) -> dict:
    """mp3 bytes → {n_frames, sample_rate, avg_bitrate_kbps,
    duration_ms}: skip an ID3v2 tag if present (syncsafe size), then
    walk frame headers — each frame's size comes from ITS OWN header
    (VBR-correct), duration from frames × 1152 / samplerate. Raises on
    desync; PCM decode is behind the external-decoder seam."""
    pos = 0
    if data[:3] == b"ID3":
        sz = (
            (data[6] << 21) | (data[7] << 14) | (data[8] << 7) | data[9]
        )
        pos = 10 + sz
    n = 0
    kbps_total = 0
    sample_rate = None
    while pos + 4 <= len(data):
        if data[pos] != 0xFF or (data[pos + 1] & 0xE0) != 0xE0:
            raise ValueError(f"mp3 desync at byte {pos}")
        if (data[pos + 1] & 0x1E) != 0x1A:
            raise ValueError("only MPEG-1 Layer III is parsed")
        br_idx = data[pos + 2] >> 4
        sr_idx = (data[pos + 2] >> 2) & 0x3
        padding = (data[pos + 2] >> 1) & 0x1
        kbps = _MP3_BITRATES[br_idx]
        if kbps is None or sr_idx > 2:
            raise ValueError("bad mp3 bitrate/samplerate index")
        sr = _MP3_SAMPLERATES[sr_idx]
        if sample_rate is None:
            sample_rate = sr
        elif sr != sample_rate:
            raise ValueError("mixed sample rates in one stream")
        n += 1
        kbps_total += kbps
        pos += 144 * kbps * 1000 // sr + padding
    if n == 0 or pos != len(data):
        raise ValueError("truncated mp3 stream")
    return {
        "n_frames": n,
        "sample_rate": sample_rate,
        "avg_bitrate_kbps": kbps_total / n,
        "duration_ms": n * _MP3_SAMPLES_PER_FRAME * 1000 // sample_rate,
    }


MP3_META_SCHEMA = T.StructType(
    [
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("avg_bitrate_kbps", T.DoubleType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("ok", T.BooleanType()),
    ]
)


def mp3_metadata(
    df: DataFrame, payload_col: str = "payload", out_col: str = "meta"
) -> DataFrame:
    """Arrow-batched mp3 metadata extraction with the same per-row
    error isolation as the image decoders."""
    out_schema = T.StructType(
        df.schema.fields + [T.StructField(out_col, MP3_META_SCHEMA)]
    )

    def run(batches):
        for pdf in batches:
            metas = []
            for b in pdf[payload_col]:
                if b is None:
                    metas.append(None)
                    continue
                try:
                    d = parse_mp3_metadata(bytes(b))
                    d["ok"] = True
                except Exception:
                    d = {
                        "n_frames": None, "sample_rate": None,
                        "avg_bitrate_kbps": None, "duration_ms": None,
                        "ok": False,
                    }
                metas.append(d)
            pdf[out_col] = metas
            yield pdf

    return df.mapInPandas(run, out_schema)


def image_hash_bits(px) -> tuple[int, int, int, int]:
    """Perceptual hashes of a decoded RGB pixel array, all-integer so
    every engine (and a SQL oracle) reproduces the exact bits.

    aHash: partition the image into an 8x8 block grid (row block of
    pixel row r is ``(r*8)//H`` — exact integer banding, any dims),
    bit k = br*8+bc is 1 iff the block's gray mass exceeds the image
    mean, compared cross-multiplied (``S_blk * N_tot > S_tot * N_blk``)
    so no division ever happens. dHash: same row banding over an 8x9
    column grid, bit = 1 iff the left block's mean exceeds its right
    neighbour's (``S_l * N_r > S_r * N_l``; empty blocks — possible
    when W < 9 — count as zero mass on both engines). Gray mass is the
    raw channel sum r+g+b (no /3: comparisons are scale-invariant).

    Returns ``(ahash_hi, ahash_lo, dhash_hi, dhash_lo)`` — each 64-bit
    hash packed MSB-first into two 32-bit halves so values stay far
    inside int64 on both Spark and DuckDB.
    """
    import numpy as np

    px = np.asarray(px)
    s = px.astype(np.int64).sum(axis=2)
    h, w = s.shape
    if h < 8 or w < 8:
        raise ValueError(f"image too small for an 8x8 hash grid: {h}x{w}")
    br = (np.arange(h) * 8) // h
    bc = (np.arange(w) * 8) // w
    idx = (br[:, None] * 8 + bc[None, :]).ravel()
    # bincount weights are float64 but the sums are < 2^53: exact.
    sb = np.bincount(idx, weights=s.ravel(), minlength=64).astype(np.int64)
    nb = np.bincount(idx, minlength=64).astype(np.int64)
    s_tot, n_tot = int(s.sum()), h * w
    abits = (sb * n_tot > s_tot * nb).astype(np.int64)

    bc9 = (np.arange(w) * 9) // w
    idx9 = (br[:, None] * 9 + bc9[None, :]).ravel()
    s9 = np.bincount(idx9, weights=s.ravel(), minlength=72)
    s9 = s9.astype(np.int64).reshape(8, 9)
    n9 = np.bincount(idx9, minlength=72).astype(np.int64).reshape(8, 9)
    dbits = (s9[:, :8] * n9[:, 1:] > s9[:, 1:] * n9[:, :8]).astype(np.int64)
    dbits = dbits.ravel()

    def pack(bits) -> tuple[int, int]:
        hi = lo = 0
        for k in range(32):
            hi = (hi << 1) | int(bits[k])
        for k in range(32, 64):
            lo = (lo << 1) | int(bits[k])
        return hi, lo

    ahi, alo = pack(abits)
    dhi, dlo = pack(dbits)
    return ahi, alo, dhi, dlo

