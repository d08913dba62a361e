"""Tests of the benchmark's own accounting (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402
from spans import Tracer  # noqa: E402


class FakeWorkload:
    """Op 1 raises; op 2 returns a result its check rejects."""

    def __init__(self, ws):
        self.ws = ws

    def inputs(self, i, **opts):
        pass

    def op(self, i):
        deadline = time.process_time() + 0.05  # some CPU time to measure
        while time.process_time() < deadline:
            pass
        if i == 1:
            raise RuntimeError("op failed")
        with open(os.path.join(self.ws, f"out-{i}"), "w") as f:
            f.write("x" * 10)
        return i

    def check(self, i, result):
        return result != 2

    def op_counts(self):
        return {}


def _run(tmp_path, n_ops):
    wl = FakeWorkload(str(tmp_path))
    r = run.Run(wl, run.WriteMeter(str(tmp_path)), Tracer(False), None)
    for i in range(n_ops):
        r.one(i, {}, timed=True)
    return r


def test_raising_and_wrong_ops_lower_correct_op_share(tmp_path):
    r = _run(tmp_path, 4)
    amp = {"written": 1, "user": 1, "disk": 1, "live": 1}
    m = run.end_to_end(r, setup_s=1.0, amp=amp, peak_rss=2**20)
    assert (r.attempted, r.failed) == (4, 2)
    assert m["correct_op_share"] == 0.5
    assert m["peak_rss_mb"] == 1.0
    assert m["op_cpu_p50_s"] > 0 and m["ops_per_cpu_s"] > 0


def test_all_correct_ops_give_share_one(tmp_path):
    r = _run(tmp_path, 1)
    amp = {"written": 1, "user": 1, "disk": 1, "live": 1}
    assert run.end_to_end(r, 1.0, amp, 1)["correct_op_share"] == 1.0


def test_write_meter_counts_new_and_rewritten_files(tmp_path):
    meter = run.WriteMeter(str(tmp_path))
    (tmp_path / "a").write_bytes(b"12345")
    assert meter.scan() == (5, 1)
    assert meter.scan() == (0, 0)
    (tmp_path / "a").write_bytes(b"1234567")
    assert meter.scan() == (7, 1)
    assert (meter.bytes, meter.files) == (12, 2)


def test_self_time_subtracts_child_spans():
    tr = Tracer(True)
    tr.op = 0
    tr.spans = [
        ["outer", 0.0, 10.0, None, 0],
        ["inner", 2.0, 5.0, 0, 0],
        ["inner", 4.0, 7.0, 0, 0],  # overlaps the first child: covered once
    ]
    times = tr.self_times(0)
    assert times == {"outer": 5.0, "inner": 6.0}

