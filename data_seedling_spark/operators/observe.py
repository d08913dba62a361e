"""Pipeline observability without extra jobs (A5 done right).

The reference logs row counts with eager ``df.count()`` calls sprinkled
through the write path (``datalake.py:96,183,192,206,224``), each of
which is a *separate Spark job* over the same data — the survey flags
it as an anti-pattern (SURVEY §4). Here metrics ride along the one real
action via ``DataFrame.observe``: Catalyst evaluates the aggregate
expressions inside the existing plan, and the observation surfaces
after the action completes, at zero extra scans. The driver-side
``MetricsLog`` mirrors the reference's ``SumAggregation`` semantics
(``monitoring.py:104-131``): tagged measurements accumulated per key.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

#: Exporter seam (reference ``monitoring.py:53-94`` ships measurements
#: to Azure Monitor via OpenCensus): any callable taking
#: (metric_name, value, tags). Transport-specific exporters (console,
#: StatsD, a cloud monitor SDK) plug in here without touching the
#: aggregation semantics.
MetricExporter = Callable[[str, float, dict[str, str]], None]


@dataclass
class MetricsLog:
    """Driver-side tagged-sum accumulator (reference ``SumAggregation``)
    with a pluggable export fan-out: every ``record`` updates the local
    sums *and* pushes the raw measurement to each exporter."""

    sums: dict[tuple, float] = field(default_factory=dict)
    exporters: list[MetricExporter] = field(default_factory=list)

    def record(self, name: str, value: float, **tags: str) -> None:
        key = (name, *sorted(tags.items()))
        self.sums[key] = self.sums.get(key, 0.0) + value
        for export in self.exporters:
            export(name, value, dict(tags))

    def get(self, name: str, **tags: str) -> float:
        return self.sums.get((name, *sorted(tags.items())), 0.0)


def observed_rows(df: DataFrame, name: str = "rows") -> tuple[DataFrame, Observation]:
    """Attach a row-count observation to the plan. Read
    ``observation.get`` only after an action has run the plan."""
    obs = Observation(name)
    return df.observe(obs, F.count(F.lit(1)).alias("n_rows")), obs


def write_with_metrics(
    df: DataFrame, writer_fn, metrics: MetricsLog, activity: str, table: str
) -> int:
    """Run ``writer_fn(df_observed)`` (one action) and record the row
    count that actually flowed — the reference's ``rows_updated``
    metric (``datalake.py:198-215``) without its second scan."""
    observed, obs = observed_rows(df)
    writer_fn(observed)
    n = int(obs.get["n_rows"])
    metrics.record("rows_updated", n, activity=activity, table=table)
    return n


def jsonl_exporter(path: str) -> MetricExporter:
    """File-transport exporter: one JSON object per measurement,
    append-only — the shape log shippers (fluentd/vector/otel file
    receivers) ingest directly, so a cluster without a metrics SDK
    still gets durable, parseable telemetry. The reference exports to
    Azure Monitor (``patient_notes/monitoring.py:53-94``); this is the
    vendor-free twin on the same MetricExporter seam."""
    import json
    import time as _time

    def export(name: str, value: float, tags: dict[str, str]) -> None:
        with open(path, "a") as f:
            f.write(
                json.dumps(
                    {
                        "ts_ms": int(_time.time() * 1000),
                        "metric": name,
                        "value": value,
                        "tags": dict(sorted(tags.items())),
                    }
                )
                + "\n"
            )

    return export
