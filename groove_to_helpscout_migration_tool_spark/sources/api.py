"""Paginated API source, id lookups and the publish sink (SURVEY.md
S1-S4, K1-K3).

Every request goes through one governed call, built once per task: take
a token from the task's bucket (ratelimit.py), then make one call of the
injected request function, which sends one wire request. Retries run
inside the task with a fresh token per attempt, so retry traffic counts
against the budget (SyncCommandBase.php:163-193). The exceptions are
the live transport's in-place replays (http_live.py): after a wait the
server set with Retry-After, and once after a 401 token refresh.

The reference's acquire loop (``while page <= totalPages`` with a
metadata probe first) becomes:

    probe (1 driver-side request)  ->  spark.range(1, total_pages + 1)
      -> repartition to the rate budget -> mapInPandas(governed fetch_page)

Page scans and id lookups run ``min(n, budget)`` tasks, each with its
``per_task_rate`` share. The sink keeps its input's partitions and
publishes one record per request, like the reference's publishers
(CustomerPublisher.php:38-42). The fetch and publish functions are
injected: tests pass fakes or a local socket server.

Resume (T2): ``start_page``/``stop_page`` filter the page range BEFORE
fetching. Point lookups (S4) take an explicit id list. Idempotency (T3)
composes with operators.dedup_anti_join upstream of the sink.
"""

from __future__ import annotations

import math
from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .ratelimit import TokenBucket, per_task_rate
from .retry import with_retries

# fetch_page(page:int, per_page:int) -> list[dict] (one dict per record)
FetchPage = Callable[[int, int], list[dict[str, Any]]]
# fetch_by_id(id) -> dict | None
FetchById = Callable[[Any], dict[str, Any] | None]

# point lookups keep the reference's per-minute window
LOOKUP_WINDOW_S = 60.0


def _governed(
    request: Callable[..., Any],
    rate: int,
    window: float,
    attempts: int = 1,
    backoff: float = 0.0,
) -> Callable[..., Any]:
    """Build once per task: ``request`` paced by the task's own bucket.
    Every attempt, retries included, takes a token and makes one request."""
    bucket = TokenBucket(rate=rate, window=window)

    def once(*args: Any) -> Any:
        bucket.acquire()
        return request(*args)

    return with_retries(once, max_attempts=attempts, backoff_base=backoff)


def _split_budget(n: int, budget: int) -> tuple[int, int]:
    """-> (partitions, per-task rate): ``min(n, budget)`` tasks, at least
    one, each with a floor share so the aggregate never exceeds budget."""
    parts = max(1, min(n, budget))
    return parts, per_task_rate(budget, parts)


def paginated_source(
    spark: SparkSession,
    fetch_page: FetchPage,
    total_count: int,
    schema: T.StructType,
    per_page: int = 50,
    requests_per_minute: int = 30,
    start_page: int = 1,
    stop_page: int | None = None,
    window_seconds: float = 60.0,
    retry_attempts: int = 1,
    retry_backoff: float = 0.0,
) -> DataFrame:
    """S1/S2: distributed paginated scan, one governed call per page.

    ``total_count`` comes from the S3 metadata probe (one driver-side
    call by the caller). The page axis becomes the partition axis.

    ``retry_attempts`` > 1 retries transient fetch failures (429/5xx ->
    TransientApiError) inside the task, each attempt taking a token.
    Wrap the fetch callable in with_retries OUTSIDE this source and the
    retries bypass the governor: the bucket then sees one token per
    page, not one per wire request.
    """
    out_schema = T.StructType(schema.fields + [T.StructField("page", T.LongType())])
    total_pages = math.ceil(total_count / per_page)
    stop = min(stop_page or total_pages, total_pages)
    if start_page > stop:
        return spark.createDataFrame([], out_schema)
    num_parts, rate = _split_budget(stop - start_page + 1, requests_per_minute)
    pages = spark.range(start_page, stop + 1).withColumnRenamed("id", "page")
    names = [f.name for f in schema.fields]

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        call = _governed(fetch_page, rate, window_seconds,
                         retry_attempts, retry_backoff)
        for pdf in batches:
            for page in pdf["page"]:
                out = pd.DataFrame(call(int(page), per_page), columns=names)
                out["page"] = int(page)
                yield out

    return pages.repartition(num_parts).mapInPandas(fetch, schema=out_schema)


def point_lookup_source(
    spark: SparkSession,
    fetch_by_id: FetchById,
    ids: list[Any],
    schema: T.StructType,
    requests_per_minute: int = 30,
) -> DataFrame:
    """S4: fetch an explicit id list (resume-by-key / retry path), one
    governed call per id; a ``None`` answer drops the id."""
    num_parts, rate = _split_budget(len(ids), requests_per_minute)
    ids_df = spark.createDataFrame([(i,) for i in ids], "lookup_id string")
    names = [f.name for f in schema.fields]

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        call = _governed(fetch_by_id, rate, LOOKUP_WINDOW_S)
        for pdf in batches:
            rows = [r for r in map(call, pdf["lookup_id"]) if r is not None]
            yield pd.DataFrame(rows, columns=names)

    return ids_df.repartition(num_parts).mapInPandas(fetch, schema=schema)


def foreach_partition_sink(
    df: DataFrame,
    publish: Callable[[list[dict[str, Any]]], None],
    requests_per_minute: int = 200,
    window_seconds: float = 60.0,
) -> None:
    """K1/K2: rate-limited per-record publish via foreachPartition.

    Each task splits the budget with the other partitions and calls
    ``publish`` once per record, with a one-record batch, each call
    taking one token. A failed publish fails the task; there are no POST
    retries. ``publish`` must be idempotent (the reference guards re-runs
    with the J5 duplicate check upstream)."""
    rate = per_task_rate(requests_per_minute, df.rdd.getNumPartitions())

    def sink(rows) -> None:
        send = _governed(publish, rate, window_seconds)
        for row in rows:
            send([row.asDict(recursive=True)])

    df.foreachPartition(sink)
