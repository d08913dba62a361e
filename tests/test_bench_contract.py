"""Bench-contract guards (VERDICT r8 items #1/#3/#6).

The regression rule is only falsifiable when every benched headliner
has a recorded bound — these tests hold that invariant at commit time,
mirroring the hard refusal in ``bench.py::main``.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

import baseline_bounds  # noqa: E402
import bench  # noqa: E402


def test_every_headliner_has_a_time_bound():
    """A headline query with no BASELINE.md row makes the 2x rule
    unfalsifiable for it (r8 shipped 15 such queries); bench.py
    refuses to run in that state and this test turns the same gap
    red before a bench run ever happens."""
    missing = baseline_bounds.unbounded(bench.HEADLINE)
    assert missing == [], (
        f"headline queries without a 2x bound in BASELINE.md: {missing}; "
        "record a best-of-2 baseline row (see tools/baseline_bounds.py)"
    )


def test_bounds_parser_reads_both_table_layouts():
    bounds = baseline_bounds.time_bounds()
    # r1 6-column layout
    assert bounds["flagship_revenue_by_nation"][1] > 0
    # r9 batch (3- and 6-column rows in the same section)
    assert bounds["audio_tone_detect_dft"] == (8.583, 17.17)
    # the dagger alias carries embedding_near_dup over to the IVF twin
    assert "embedding_near_dup_ivf" in bounds
    # bounds are 2x the recorded best-of-2 (parser reads, not derives —
    # sanity-check the ledger itself on a few rows)
    for name in ("audio_tone_detect_dft", "geo_cell_density_customers"):
        sec, bound = bounds[name]
        assert abs(bound - round(2 * sec, 2)) <= 0.015, (name, sec, bound)


def test_headliners_exist_in_registry():
    from data_seedling_spark.queries import registry

    reg = registry()
    ghosts = [n for n in bench.HEADLINE if n not in reg]
    assert ghosts == [], f"bench.HEADLINE names not in the registry: {ghosts}"


def test_shuffle_baseline_well_formed():
    """BASELINE_SHUFFLE.json (self-seeded by bench.py on first
    measurement, append-only after) must stay a flat {query: bytes}
    map over known headliners."""
    path = os.path.join(REPO, "BASELINE_SHUFFLE.json")
    if not os.path.exists(path):
        return  # seeded on the first post-r9 bench run
    with open(path) as f:
        base = json.load(f)
    assert base, "shuffle baseline exists but is empty"
    headline = set(bench.HEADLINE)
    for name, val in base.items():
        assert isinstance(val, int) and val >= 0, (name, val)
        assert name in headline, f"stale shuffle baseline entry: {name}"


def test_round_marker_pinned_and_current():
    """BENCH_r{N}.json names the round being BUILT (r9 verdict #3:
    inferring N from CORRECTNESS records drifted a round off the
    driver's convention). The repo-root ROUND file pins it; it must
    exist and be no older than the newest driver correctness record —
    a stale pin would file this round's bench under last round's
    name."""
    import re

    round_path = os.path.join(REPO, "ROUND")
    assert os.path.exists(round_path), "ROUND marker missing (bump at round start)"
    with open(round_path) as f:
        rnd = int(f.read().strip())
    recorded = [
        int(m.group(1))
        for fn in os.listdir(REPO)
        if (m := re.match(r"CORRECTNESS_r(\d+)\.json$", fn))
    ]
    assert rnd >= max(recorded, default=0), (
        f"ROUND={rnd} is behind the newest driver correctness record "
        f"r{max(recorded):02d}; bump ROUND at round start"
    )


def test_new_oracle_queries_enter_window():
    """VERDICT r9 #1's policy, enforced: every oracle-backed query
    added since the round-start registry snapshot must be in the
    driver's rotating verification window (_ROTATING), so fresh code
    always gets independently driver-verified the round it lands.
    Rows-only queries are exempt (they would read as `err` in the
    window and are bounded by pytest floors + oracle-exact twins)."""
    from data_seedling_spark.queries import _ANCHORS, _ROTATING, registry

    snap_path = os.path.join(REPO, "tools", "registry_snapshot.txt")
    with open(snap_path) as f:
        snapshot = {
            line.strip() for line in f
            if line.strip() and not line.startswith("#")
        }
    reg = registry()
    unrotated = [
        n for n, spec in reg.items()
        if n not in snapshot and spec.oracle is not None
        and n not in _ROTATING
    ]
    assert unrotated == [], (
        f"oracle-backed queries added this round but not in _ROTATING: "
        f"{unrotated}; point queries.py _ROTATING at them (and regenerate "
        "tools/registry_snapshot.txt at the NEXT round's start)"
    )
    # window invariants: exactly the driver's 50 slots, no overlap,
    # every rotating entry oracle-backed
    assert len(_ANCHORS) + len(_ROTATING) == 50
    assert not set(_ANCHORS) & set(_ROTATING)
    assert all(reg[n].oracle is not None for n in _ROTATING)


def test_calibration_drift_scaling():
    """VERDICT r10 #7 + r11 ADVICE: the over-bound check scales bounds
    by the pass's calibration ratio, clamped to [1.0, 1.3] — bounds
    scale UP on a slow host but never DOWN on a fast one (per-query
    baselines were seeded under unknown load; a fast calibration pass
    must not ratchet them tighter and reopen the false-over-bound
    channel) — while a real 2×+ plan regression still blows through
    the 1.3× allowance."""
    # no baseline yet → neutral (first run self-seeds)
    assert bench.drift_ratio(5.0, None) == 1.0
    assert bench.drift_ratio(5.0, 0) == 1.0
    # slow-host drift passes through
    assert abs(bench.drift_ratio(2.4, 2.0) - 1.2) < 1e-9
    # fast-host drift floors at neutral — bounds never tighten
    assert bench.drift_ratio(1.8, 2.0) == 1.0
    assert bench.drift_ratio(0.1, 2.0) == 1.0
    # clamped at 1 + CALIBRATION_CLAMP
    assert bench.drift_ratio(10.0, 2.0) == 1.0 + bench.CALIBRATION_CLAMP


def test_calibration_baseline_well_formed():
    """BASELINE_CALIBRATION.json (self-seeded on the first baseline-sf
    bench run, append-only after) holds the host-speed anchors the
    drift scaling divides by — since r14 a two-component BASKET
    (VERDICT r13 #2): the scan/sha2/shuffle mix plus the text-shaped
    window-explode workload."""
    path = os.path.join(REPO, "BASELINE_CALIBRATION.json")
    if not os.path.exists(path):
        return  # seeded on the first post-r10 bench run
    with open(path) as f:
        base = json.load(f)
    assert {"calibration_sec"} <= set(base) <= {
        "calibration_sec", "calibration_text_sec"
    }
    for v in base.values():
        assert isinstance(v, (int, float)) and v > 0


def _hand_stamps(package: str) -> list[str]:
    """``withColumn(SOURCE_HI | "_source_hi", ...)`` calls in
    ``package`` outside ``operators/matview.py``, as ``path:line``."""
    import ast

    def names_marker(node) -> bool:
        if isinstance(node, ast.Constant):
            return node.value == "_source_hi"
        if isinstance(node, ast.Name):
            return node.id == "SOURCE_HI"
        return isinstance(node, ast.Attribute) and node.attr == "SOURCE_HI"

    hits = []
    for root, _, files in os.walk(package):
        for name in sorted(files):
            path = os.path.join(root, name)
            rel = os.path.relpath(path, os.path.dirname(package))
            if not name.endswith(".py") or rel == os.path.join(
                "data_seedling_spark", "operators", "matview.py"
            ):
                continue
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            hits += [
                f"{rel}:{node.lineno}"
                for node in ast.walk(tree)
                if isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "withColumn"
                and node.args
                and names_marker(node.args[0])
            ]
    return sorted(hits)


def test_views_stamp_watermarks_through_matview():
    """The exactly-once protocol has one stamp-and-commit step,
    ``matview.stamp_commit``: a view that stamps ``_source_hi`` by hand
    can drift from it (mode, marker row, atomicity) unnoticed."""
    hits = _hand_stamps(os.path.join(REPO, "data_seedling_spark"))
    assert hits == [], (
        f"_source_hi stamped outside operators/matview.py: {hits}; "
        "commit through matview.stamp_commit / refresh_state"
    )


#: The one parquet write/scan helper pair, in ``tables.py``.
_PARQUET_HELPERS = ("write_parquet_dir", "scan_parquet")


def _unseeded_parquet_io(path: str) -> list[str]:
    """``….write….parquet(`` calls and schema-less ``….read….parquet(``
    calls in ``path`` outside the helper pair, as ``line: kind``."""
    import ast

    def chain(node) -> list[str]:
        names = []
        while isinstance(node, (ast.Attribute, ast.Call)):
            if isinstance(node, ast.Call):
                node = node.func
            else:
                names.append(node.attr)
                node = node.value
        return names

    with open(path) as f:
        tree = ast.parse(f.read(), path)
    helper_lines = {
        line
        for node in ast.walk(tree)
        if isinstance(node, ast.FunctionDef) and node.name in _PARQUET_HELPERS
        for line in range(node.lineno, node.end_lineno + 1)
    }
    hits = []
    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "parquet"
            and node.lineno not in helper_lines
        ):
            continue
        names = chain(node.func.value)
        if "write" in names:
            hits.append(f"{node.lineno}: write")
        elif "read" in names and "schema" not in names:
            hits.append(f"{node.lineno}: schema-less read")
    return hits


def _unions_in_snapshot_reads(path: str) -> list[str]:
    """``unionByName`` calls inside ``VersionedTable.read`` /
    ``read_pruned``, as ``line: method``."""
    import ast

    with open(path) as f:
        tree = ast.parse(f.read(), path)
    return [
        f"{node.lineno}: {fn.name}"
        for cls in tree.body
        if isinstance(cls, ast.ClassDef) and cls.name == "VersionedTable"
        for fn in cls.body
        if isinstance(fn, ast.FunctionDef) and fn.name in ("read", "read_pruned")
        for node in ast.walk(fn)
        if isinstance(node, ast.Attribute) and node.attr == "unionByName"
    ]


def test_ledger_parquet_io_goes_through_the_seeding_helpers():
    """Every ledger and base-table parquet write goes through
    ``tables.write_parquet_dir``, which seeds the schema cache, and every
    scan through ``tables.scan_parquet``, which replays it. A write that
    skips the helper leaves its dir to a schema-inference job on every
    first read; a bare scan infers on every call. A snapshot read is one
    multi-path ``scan_parquet`` call: a union of per-commit scans adds a
    scan per live commit."""
    pkg = os.path.join(REPO, "data_seedling_spark")
    hits = {
        rel: found
        for rel in ("operators/ledger.py", "tables.py")
        if (found := _unseeded_parquet_io(os.path.join(pkg, rel)))
    }
    assert hits == {}, (
        f"parquet I/O outside tables.write_parquet_dir / scan_parquet: {hits}"
    )
    unions = _unions_in_snapshot_reads(os.path.join(pkg, "operators/ledger.py"))
    assert unions == [], f"snapshot read unions per-commit scans: {unions}"
