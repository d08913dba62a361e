"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` built from the run's
``--seed``, so the same seed yields byte-identical inputs. The program
under test only ever sees the generated rows: the benchmark never reads
a fixture directory.

- :func:`write_star_schema` writes the TPC-H-shaped star schema the
  warehouse queries scan (region, nation, customer, supplier, part,
  orders, lineitem), with the value domains of the repository's
  synthetic test data so the registry queries' filters select rows.
- :class:`Corpus` draws documents from the same 31-word vocabulary as
  that test data, with a seeded share of near-duplicates (a few words
  edited) so LSH buckets collide.
- :class:`NoteStream` turns corpus text into ``patient_notes`` batches
  with entities to mask, and remembers the live notes so a batch can
  delete earlier ``NoteID`` values.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

#: Base rows per table at scale factor 1; the star schema is written at
#: ``sf`` times these (region and nation are fixed).
ROWS_AT_SF1 = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
}

_EPOCH = dt.datetime(1970, 1, 1)


def _days(lo: dt.datetime, hi: dt.datetime, n: int, rng) -> np.ndarray:
    """``n`` midnight timestamps uniform in ``[lo, hi]`` as datetime64[us]."""
    d0, d1 = (lo - _EPOCH).days, (hi - _EPOCH).days
    days = rng.integers(d0, d1 + 1, n).astype("int64")
    return (days * 86_400_000_000).astype("datetime64[us]")


def _money(lo: float, hi: float, n: int, rng) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star_schema(sf: float, rng) -> dict[str, pa.Table]:
    """The TPC-H-shaped tables at scale factor ``sf``."""
    n = {k: max(1, int(v * sf)) for k, v in ROWS_AT_SF1.items()}
    seg = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    adj = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
    noun = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
    ptype = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )
    c = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(c, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(c)],
            "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
            "c_acctbal": _money(-999.99, 9999.99, c, rng),
            "c_mktsegment": seg[rng.integers(0, len(seg), c)],
        }
    )
    s = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(s, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(s)],
            "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
            "s_acctbal": _money(-999.99, 9999.99, s, rng),
        }
    )
    p = n["part"]
    names = np.char.add(np.char.add(adj[rng.integers(0, 8, p)], " "), noun[rng.integers(0, 8, p)])
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(p, dtype="int64"),
            "p_name": names,
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, p).astype(str)),
            "p_type": ptype[rng.integers(0, len(ptype), p)],
            "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 2),
        }
    )
    o = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(o, dtype="int64"),
            "o_custkey": rng.integers(0, c, o).astype("int64"),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, o)],
            "o_totalprice": _money(1000.0, 500_000.0, o, rng),
            "o_orderdate": _days(dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), o, rng),
            "o_orderpriority": prio[rng.integers(0, len(prio), o)],
        }
    )
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype("float64")
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, o, li).astype("int64"),
            "l_partkey": rng.integers(0, p, li).astype("int64"),
            "l_suppkey": rng.integers(0, s, li).astype("int64"),
            "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": _money(900.0, 105_000.0, li, rng),
            "l_discount": rng.integers(0, 11, li) / 100.0,
            "l_tax": rng.integers(0, 9, li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, li)],
            "l_shipdate": _days(dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4), li, rng),
        }
    )
    return t


def write_star_schema(sf_dir: str, sf: float, rng) -> int:
    """Write the star schema as ``<sf_dir>/<table>.parquet``; returns the
    in-memory (Arrow) bytes of the rows written."""
    os.makedirs(sf_dir, exist_ok=True)
    user_bytes = 0
    for name, table in star_schema(sf, rng).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
        user_bytes += table.nbytes
    return user_bytes


class Corpus:
    """Seeded documents over :data:`VOCAB` with planted near-duplicates.

    A document is 10-100 words. With probability ``dup_share`` it is a
    copy of an earlier document with ``1..3`` words replaced, so its
    word 3-gram set overlaps the original's and the pair shares LSH
    buckets; otherwise its words are drawn uniformly."""

    def __init__(self, rng, dup_share: float = 0.2):
        self.rng = rng
        self.dup_share = dup_share
        self.texts: list[str] = []

    def draw(self, n: int) -> list[str]:
        rng, out = self.rng, []
        for _ in range(n):
            if self.texts and rng.random() < self.dup_share:
                words = self.texts[rng.integers(0, len(self.texts))].split(" ")
                for _ in range(rng.integers(1, 4)):
                    words[rng.integers(0, len(words))] = VOCAB[rng.integers(0, len(VOCAB))]
            else:
                words = [VOCAB[i] for i in rng.integers(0, len(VOCAB), rng.integers(10, 101))]
            text = " ".join(words)
            self.texts.append(text)
            out.append(text)
        return out


#: Entities the notes carry: (token template, placeholder the masking
#: stage must leave in its place). Each token matches exactly one of the
#: program's masking rules and none of the others, so the expected
#: masked text is known without running the program's masker.
ENTITIES = (
    ("pat{n}.doe@example.org", "<EMAIL_ADDRESS>"),
    ("https://records.example.org/n/{n}", "<URL>"),
    ("2023-0{m}-1{m}", "<DATE_TIME>"),
    ("07700-9{n:05d}", "<PHONE_NUMBER>"),
    ("supplier", "<PERSON>"),
)

NOTE_SCHEMA = pa.schema(
    [
        ("NoteID", pa.int64()),
        ("NoteText", pa.string()),
        ("UserID", pa.int64()),
        ("AppointmentDate", pa.timestamp("us")),
    ]
)


class NoteStream:
    """Seeded ``patient_notes`` change batches.

    :meth:`batch` returns ``(inserts, deletes)`` as Arrow tables in
    :data:`NOTE_SCHEMA`: ``n_insert`` new notes with fresh ``NoteID``
    values, and ``n_delete`` full rows of live notes inserted by earlier
    batches (a change feed's delete rows carry the deleted row). The
    stream also keeps the expected silver row of every live note
    (masked text, date truncated to the day, no ``UserID``), which is
    the twin the benchmark checks the pipeline's output against."""

    def __init__(self, rng, corpus: Corpus):
        self.rng = rng
        self.corpus = corpus
        self.next_id = 0
        #: NoteID -> raw row (text, user, date) of every live note
        self.live: dict[int, tuple[str, int, np.datetime64]] = {}
        #: NoteID -> (masked text, day-truncated date) of every live note
        self.expected: dict[int, tuple[str, np.datetime64]] = {}

    def _note(self, nid: int, text: str) -> tuple[str, str]:
        """``(raw, masked)`` text: corpus words plus up to two entities
        of distinct kinds (two phone numbers side by side would mask as
        one). The corpus word ``customer`` is itself a person entity."""
        words = text.split(" ")
        masked = ["<PERSON>" if w == "customer" else w for w in words]
        kinds = self.rng.choice(len(ENTITIES), int(self.rng.integers(0, 3)), replace=False)
        for k in kinds:
            token, placeholder = ENTITIES[k]
            at = int(self.rng.integers(0, len(words) + 1))
            words.insert(at, token.format(n=nid, m=1 + nid % 9))
            masked.insert(at, placeholder)
        return " ".join(words), " ".join(masked)

    def batch(self, n_insert: int, n_delete: int) -> tuple[pa.Table, pa.Table]:
        rng = self.rng
        ids = list(range(self.next_id, self.next_id + n_insert))
        self.next_id += n_insert
        victims = []
        if n_delete and self.live:
            pool = np.fromiter(self.live, dtype="int64")
            pool.sort()
            victims = rng.choice(pool, min(n_delete, len(pool)), replace=False).tolist()
        rows = []
        for nid, text in zip(ids, self.corpus.draw(n_insert)):
            raw, masked = self._note(nid, text)
            user = int(rng.integers(0, 50_000))
            secs = int(rng.integers(0, 2 * 365 * 86_400))
            when = np.datetime64("2022-01-01T00:00:00", "us") + np.timedelta64(secs, "s")
            rows.append((nid, raw, user, when))
            self.live[nid] = (raw, user, when)
            self.expected[nid] = (masked, when.astype("datetime64[D]").astype("datetime64[us]"))
        dels = []
        for nid in victims:
            raw, user, when = self.live.pop(nid)
            del self.expected[nid]
            dels.append((nid, raw, user, when))
        return _notes_table(rows), _notes_table(dels)


def _notes_table(rows) -> pa.Table:
    cols = list(zip(*rows)) if rows else [[], [], [], []]
    return pa.table(
        [pa.array(list(c), f.type) for c, f in zip(cols, NOTE_SCHEMA)],
        schema=NOTE_SCHEMA,
    )
