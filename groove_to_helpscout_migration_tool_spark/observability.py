"""Pipeline metrics via DataFrame.observe (K5/A4 operability surface).

The reference's SyncCommandBase wraps every sync in progress logging:
per-batch counts, error tallies, and a running ETA printed to the
console (SyncCommandBase.php:106-127 progress; :203-221 ETA math). On
Spark the equivalent is NOT a driver loop counting rows -- it is
``DataFrame.observe``: named aggregates evaluated INSIDE the action
that runs the pipeline, costing zero extra jobs (a count() per metric
would re-run the plan). Each tracked stage contributes one Observation;
after the action, ``snapshot`` assembles the metrics table and ``log``
renders the reference's console lines.

Scale: observe() metrics are accumulated map-side per task and merged
on the driver -- constant overhead per task, no shuffle, no extra scan,
at any corpus size. That is the whole point over count()-based
progress: the 100 TB pipeline runs ONCE.
"""

from __future__ import annotations

import time
from typing import Any

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

METRICS_SCHEMA = T.StructType([
    T.StructField("step", T.StringType()),
    T.StructField("metric", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("observed_at_sec", T.DoubleType()),
])

# Sentinel: the observed action COMPLETED but the metrics row could not be
# decoded (reflection/serialization drift). Distinct from None (= action
# genuinely pending) so callers can render the difference.
METRICS_UNAVAILABLE: dict[str, Any] = {}


class PipelineMetrics:
    """Collects per-stage observations for one pipeline run.

    Usage::

        pm = PipelineMetrics()
        df = pm.track(df, "tickets_in")           # counts rows
        df = pm.track(df, "validated", F.sum(F.col("ok").cast("long")).alias("n_ok"))
        result.collect()                           # the pipeline's action
        pm.snapshot(spark).show()                  # metrics table
    """

    def __init__(self) -> None:
        self._observations: list[tuple[str, Observation]] = []
        self._t0 = time.monotonic()

    def track(self, df: DataFrame, step: str, *metrics: Column) -> DataFrame:
        """Attach an Observation to ``df``; returns the observed frame.

        With no explicit metrics, observes the row count. Metric columns
        must be aggregates (observe()'s contract) and carry aliases.
        """
        obs = Observation(step)
        cols = metrics or (F.count(F.lit(1)).alias("n_rows"),)
        self._observations.append((step, obs))
        return df.observe(obs, *cols)

    @staticmethod
    def _metrics_or_none(obs: Observation) -> dict[str, Any] | None:
        """Timed read of an Observation's metrics.

        ``Observation.get`` blocks FOREVER until the observed frame's
        first action completes, so a snapshot taken before (or without)
        the action would hang the driver. The JVM Observation exposes
        ``getRowOrEmpty`` -- a bounded ~100ms wait returning
        Option[Row] -- which we decode the same way pyspark's ``get``
        does. Returns None when metrics aren't available yet, and the
        distinct METRICS_UNAVAILABLE sentinel when the stage HAS a row
        but the reflection/deserialization path failed (pyspark
        internals moved) -- so a genuinely pending stage and a broken
        metrics read render differently instead of both looking pending.
        """
        try:
            jo = obs._jo
            if jo is None:
                return None  # never attached via observe()
            opt = jo.getRowOrEmpty()
            if not opt.isDefined():
                return None  # action has not run yet
        except Exception:
            return METRICS_UNAVAILABLE  # non-blocking probe itself is gone
        try:
            from pyspark.serializers import CPickleSerializer

            utils = getattr(
                obs._jvm, "org.apache.spark.sql.api.python.PythonSQLUtils"
            )
            row = CPickleSerializer().loads(utils.toPyRow(opt.get()))
            return row.asDict(recursive=False)
        except Exception:
            return METRICS_UNAVAILABLE  # row exists; decode path failed

    def snapshot(self, spark: SparkSession) -> DataFrame:
        """-> (step, metric, value, observed_at_sec) for every tracked
        stage whose action has run. Long-format so heterogeneous metrics
        across steps share one schema (the K5 metrics-table shape).
        Stages whose action has not completed are omitted (bounded wait,
        never an indefinite block), so the table is empty/partial rather
        than a hang when called early.

        The rows reach the JVM as one Arrow table, which plans as a
        LocalRelation: no Python-worker job, empty table included."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        elapsed = time.monotonic() - self._t0
        rows: list[dict[str, Any]] = []
        for step, obs in self._observations:
            metrics = self._metrics_or_none(obs)
            if metrics is None or metrics is METRICS_UNAVAILABLE:
                continue
            for metric, value in metrics.items():
                rows.append({
                    "step": step, "metric": metric,
                    "value": float(value if value is not None else 0),
                    "observed_at_sec": elapsed,
                })
        table = pa.Table.from_pylist(rows, schema=to_arrow_schema(METRICS_SCHEMA))
        return spark.createDataFrame(table, METRICS_SCHEMA)

    def log(self, printer: Any = print) -> None:
        """K5 console sink: render SyncCommandBase-style progress lines.
        Pending stages print as such instead of blocking the driver."""
        elapsed = max(time.monotonic() - self._t0, 1e-9)
        for step, obs in self._observations:
            metrics = self._metrics_or_none(obs)
            if metrics is None:
                printer(f"[{step}] <pending: action has not completed>")
                continue
            if metrics is METRICS_UNAVAILABLE:
                printer(f"[{step}] <metrics unavailable: decode failed>")
                continue
            for metric, value in metrics.items():
                rate = (value or 0) / elapsed
                printer(
                    f"[{step}] {metric}={value} ({rate:.1f}/sec over {elapsed:.1f}s)"
                )


def eta_hms(done: int, total: int, elapsed_sec: float) -> str:
    """SyncCommandBase.php:203-221 ETA: running avg sec/unit * remaining,
    rendered hh:mm:ss. Driver-side helper for progress printing."""
    if done <= 0:
        return "--:--:--"
    remaining = max(total - done, 0) * (elapsed_sec / done)
    s = int(remaining)
    return f"{s // 3600:02d}:{(s // 60) % 60:02d}:{s % 60:02d}"
