"""``measure.run`` through ``bench.py --profile``: every record is read
back by the query's own job group, so repeated passes agree exactly,
and a profiled process leaves no workspace or layout dir behind."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from collections import defaultdict

import pytest

from data_seedling_spark import measure
from tests.conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAMES = ("pricing_summary", "bucketed_layout_build",
         "exact_substring_incremental_ingest")


def test_profile_records_repeat_by_job_group(tmp_path):
    env = {**os.environ, "TMPDIR": str(tmp_path), "SPARK_GRAFT_SF_DIR": SF_SMOKE,
           "SPARK_GRAFT_CPUS": "2", "SPARK_GRAFT_DRIVER_MEM": "2g"}
    proc = subprocess.run(
        [sys.executable, "bench.py", "--profile", "--passes", "2", *NAMES],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    records = defaultdict(list)
    for line in proc.stdout.splitlines():
        if '{"query"' in line:
            record = json.loads(line[line.index('{"query"'):])
            records[record["query"]].append(record)

    assert sorted(records) == sorted(NAMES)
    for name, (first, second) in records.items():
        for r in (first, second):
            assert "error" not in r, r
            assert r["jobs"] > 0, r
            assert abs(r["build_s"] + r["execute_s"] - r["wall_s"]) <= 0.002, r
        assert first["jobs"] == second["jobs"], name
        assert first["shuffle_bytes"] == second["shuffle_bytes"], name
    assert records["pricing_summary"][0]["shuffle_bytes"] > 0
    assert not [d for d in os.listdir(tmp_path) if d.startswith("ds_")]


def test_run_refuses_a_session_without_ui(spark):
    """With the UI off there is no status API: raise, never read 0."""
    assert spark.sparkContext.uiWebUrl is None
    with pytest.raises(RuntimeError, match="spark.ui.enabled"):
        measure.run(spark, "pricing_summary", SF_SMOKE)
