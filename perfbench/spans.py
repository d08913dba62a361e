"""Spans and Spark job-group statistics for the traced run.

Spans are recorded from the benchmark's own files: :meth:`Tracer.install`
wraps the program's public layer calls (the program itself is not
changed) and the workloads open spans around their own calls. Spans
live in memory as ``(name, start, end, parent, op)`` and are written
out when the run ends. A layer's self time is its span's duration minus
the part its child spans cover.

Spans around lazy builders (``read_increment``, ``pseudo_transform``,
``new_vs_all_candidates``) time plan construction only; the Spark work
they describe runs inside the span of the action that consumes them.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
import urllib.request
from datetime import datetime

#: (module path, attribute owner, attribute, span name). ``write`` is
#: traced only for appends: an overwrite is the tail of the enclosing
#: call (a compaction's rewrite), so it stays in that call's self time.
LAYER_CALLS = (
    ("data_seedling_spark.operators.ledger", "VersionedTable", "write", "ledger.append"),
    ("data_seedling_spark.operators.ledger", "VersionedTable", "merge", "ledger.merge"),
    ("data_seedling_spark.operators.ledger", "VersionedTable", "compact", "ledger.compact"),
    ("data_seedling_spark.streaming.incremental", None, "read_increment", "incremental.read"),
    ("data_seedling_spark.streaming.incremental", None, "write_increment", "incremental.write"),
    ("data_seedling_spark.streaming.incremental", None, "update_watermark", "watermark.advance"),
    ("data_seedling_spark.pipelines.pseudonymise", None, "pseudo_transform", "pseudonymise.build"),
    ("data_seedling_spark.operators.dedup", "MaterializedLshIndex", "refresh", "dedup.refresh"),
)


def _is_append(args, kwargs) -> bool:
    return kwargs.get("mode", args[2] if len(args) > 2 else "append") == "append"


class Tracer:
    """In-memory span recorder. Disabled, :meth:`span` is a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.op = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled or self.op is None:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, time.perf_counter(), None, parent, self.op])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def install(self) -> None:
        import importlib

        for module, owner, attr, name in LAYER_CALLS:
            target = importlib.import_module(module)
            if owner:
                target = getattr(target, owner)
            original = getattr(target, attr)
            when = _is_append if attr == "write" else None

            def wrapper(*args, _orig=original, _name=name, _when=when, **kwargs):
                if _when is not None and not _when(args, kwargs):
                    return _orig(*args, **kwargs)
                with self.span(_name):
                    return _orig(*args, **kwargs)

            setattr(target, attr, functools.wraps(original)(wrapper))

    def self_times(self, op) -> dict[str, float]:
        """Sum of each layer's self time within op ``op``."""
        mine = [i for i, s in enumerate(self.spans) if s[4] == op]
        children: dict[int, list[int]] = {}
        for i in mine:
            if self.spans[i][3] is not None:
                children.setdefault(self.spans[i][3], []).append(i)
        out: dict[str, float] = {}
        for i in mine:
            name, start, end = self.spans[i][:3]
            covered, reach = 0.0, start
            for c in sorted(children.get(i, []), key=lambda c: self.spans[c][1]):
                c0, c1 = max(self.spans[c][1], reach), self.spans[c][2]
                if c1 > c0:
                    covered += c1 - c0
                    reach = c1
            out[name] = out.get(name, 0.0) + (end - start) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for name, start, end, parent, op in self.spans:
                f.write(json.dumps({"name": name, "start": start, "end": end,
                                    "parent": parent, "op": op}) + "\n")


def _rest_ms(stamp: str | None) -> float | None:
    if not stamp:
        return None
    return datetime.strptime(stamp.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp() * 1e3


class JobGroupStats:
    """Per-op Spark counts: the op's jobs are tagged with a job group,
    found with ``statusTracker``, and read back from the UI's REST API
    (job intervals, completed tasks, stage shuffle writes)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            return json.load(r)

    def begin(self, op) -> None:
        self.group = f"perfbench-op-{op}"
        self.sc.setJobGroup(self.group, self.group)

    def end(self, wall_s: float, settle_s: float = 5.0) -> dict:
        self.sc.setJobGroup("perfbench-idle", "perfbench-idle")
        ids = list(self.sc.statusTracker().getJobIdsForGroup(self.group))
        deadline = time.monotonic() + settle_s
        while True:
            jobs = [self._get(f"/jobs/{j}") for j in ids]
            stages = {}
            for job in jobs:
                for sid in job["stageIds"]:
                    for attempt in self._get(f"/stages/{sid}"):
                        if attempt["status"] == "COMPLETE":
                            stages[sid] = attempt
            settled = all(j["status"] != "RUNNING" and j.get("completionTime") for j in jobs)
            if settled or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        spans = sorted(
            (_rest_ms(j.get("submissionTime")), _rest_ms(j.get("completionTime")))
            for j in jobs
        )
        busy_ms, reach = 0.0, float("-inf")
        for a, b in spans:
            if a is None or b is None:
                continue
            a = max(a, reach)
            if b > a:
                busy_ms += b - a
                reach = b
        return {
            "spark.jobs_per_op": len(jobs),
            "spark.tasks_per_op": sum(j["numCompletedTasks"] for j in jobs),
            "spark.job_time_share": busy_ms / 1e3 / wall_s if wall_s > 0 else 0.0,
            "spark.shuffle_write_bytes_per_op": sum(
                s["shuffleWriteBytes"] for s in stages.values()
            ),
        }
