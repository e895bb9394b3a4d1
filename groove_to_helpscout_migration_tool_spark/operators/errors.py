"""Error side-channel reporting (SURVEY.md T4, A2, K4).

The reference never aborts on a bad record: each failure is captured as
(error_type, detail), the record is skipped, and at the end errors are
grouped by message and exported to CSV (TicketPublisher.php:56-90;
APIHelper.php:241-261). Here the pipelines in plans/ emit their error
rows as an (error_type, detail) DataFrame beside the ok rows -- never a
Python-side try/except per row, so the hot path stays in codegen -- and
this module groups and exports them. The grouping shuffles only
(type, detail) strings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def group_error_report(errors: DataFrame) -> DataFrame:
    """A2: group by message, collect occurrences (sorted for determinism)."""
    return errors.groupBy("error_type").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.array_sort(F.collect_list("detail")).alias("details"),
    )


def write_error_csv(errors: DataFrame, path: str, job_name: str = "sync") -> None:
    """K4: flatten the grouped report back to (type, detail) rows and write
    CSV (the reference stamps sync-tickets-YmdHis; the caller passes the
    stamped path so results stay deterministic/testable)."""
    flat = group_error_report(errors).select(
        "error_type", F.explode("details").alias("detail")
    )
    flat.write.mode("overwrite").option("header", True).csv(path)
