"""Python Data Source (Spark 4 `spark.dataSource.register`): a
paginated-API-shaped source with page partitions, filter pushdown, and a
streaming reader whose offset IS the page number.

The reference's acquire loop (SyncCustomers.php:71-83: probe total_pages,
then `while page <= totalPages` fetch page-by-page; resume via
`--startPage`, SyncTickets.php:160-205) becomes a first-class source:

  - one InputPartition per page (SURVEY section 1.4: "page number ~
    partition id") -- Spark schedules pages across executors;
  - the S3 metadata probe happens once, driver-side, in partitions();
  - `page` predicates are PUSHED DOWN (pushFilters) and prune partitions
    before any fetch -- the --startPage/--stopPage semantics as real
    partition pruning (SURVEY section 4's one "custom work needed" row);
  - the streaming reader's offset dict is {"page": N} -- the resume
    token (T2) literally is the checkpoint offset, and each micro-batch
    is one page (T5's acquire->process->publish micro-batching).

Backed here by a JSONL snapshot file ("the API's export"); a live
deployment swaps _fetch_page for an HTTP call + sources.ratelimit token
bucket. No live HTTP anywhere in tests.
"""

from __future__ import annotations

import json
import math
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType

DEFAULT_SCHEMA = "page int, id bigint, email string, name string"


def _count_records(path: str) -> int:
    """S3 pagination-metadata probe: one driver-side pass for total_count."""
    n = 0
    with open(path, "rb") as f:
        for line in f:
            if line.strip():
                n += 1
    return n


def _fetch_page(path: str, page: int, per_page: int) -> Iterator[dict]:
    """The injected 'API request' for one page (records are 0-indexed;
    page numbering starts at 1 like the reference's)."""
    lo, hi = (page - 1) * per_page, page * per_page
    with open(path, "rb") as f:
        i = 0
        for line in f:
            if not line.strip():
                continue
            if i >= hi:
                break
            if i >= lo:
                yield json.loads(line)
            i += 1


def _page_rows(
    schema: StructType, path: str, page: int, per_page: int
) -> Iterator[tuple]:
    """One page as row tuples in ``schema`` order, with its page number."""
    fields = [f.name for f in schema.fields]
    for rec in _fetch_page(path, page, per_page):
        rec = {**rec, "page": page}
        yield tuple(rec.get(name) for name in fields)


class _PagePartition(InputPartition):
    def __init__(self, page: int):
        self.page = page


class PagedJsonReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self.schema = schema
        self.path = options["path"]
        self.per_page = int(options.get("per_page", 50))
        self.start_page = int(options.get("start_page", 1))
        raw_stop = options.get("stop_page")
        self.stop_page = None if raw_stop in (None, "") else int(raw_stop)

    def pushFilters(self, filters):  # noqa: N802 (Spark API name)
        """Prune the page range from pushed `page` predicates; everything
        else is returned for Spark to evaluate post-scan."""
        unsupported = []

        def tighten_stop(v: int) -> None:
            # Explicit None check: stop_page=0 (from a pushed `page < 1`)
            # is a real, degenerate bound -- `or` would silently drop it
            # and the consumed filter would never be re-applied by Spark.
            self.stop_page = v if self.stop_page is None else min(self.stop_page, v)

        for f in filters:
            attr = getattr(f, "attributeOrNull", None) or getattr(f, "attribute", None)
            col = attr[0] if isinstance(attr, tuple) else attr
            if col == "page" and isinstance(f, EqualTo):
                self.start_page = max(self.start_page, int(f.value))
                tighten_stop(int(f.value))
            elif col == "page" and isinstance(f, GreaterThanOrEqual):
                self.start_page = max(self.start_page, int(f.value))
            elif col == "page" and isinstance(f, GreaterThan):
                self.start_page = max(self.start_page, int(f.value) + 1)
            elif col == "page" and isinstance(f, LessThanOrEqual):
                tighten_stop(int(f.value))
            elif col == "page" and isinstance(f, LessThan):
                tighten_stop(int(f.value) - 1)
            else:
                unsupported.append(f)
        return unsupported

    def partitions(self):
        total_pages = math.ceil(_count_records(self.path) / self.per_page)
        stop = total_pages if self.stop_page is None else min(self.stop_page, total_pages)
        # A degenerate range (stop < start, incl. negative stop) is an
        # empty scan, not a full one.
        return [_PagePartition(p) for p in range(self.start_page, stop + 1)]

    def read(self, partition: _PagePartition):
        if partition is None:  # empty partition list -> Spark calls read(None)
            return
        yield from _page_rows(self.schema, self.path, partition.page, self.per_page)


class PagedJsonStreamReader(SimpleDataSourceStreamReader):
    """One page per micro-batch; the offset dict {"page": N} is the
    resume token. Restarting from a checkpoint resumes mid-scan exactly
    like the reference's --startPage."""

    def __init__(self, schema: StructType, options: dict):
        self.schema = schema
        self.path = options["path"]
        self.per_page = int(options.get("per_page", 50))
        self.start_page = int(options.get("start_page", 1))
        self._total_pages = math.ceil(_count_records(self.path) / self.per_page)

    def initialOffset(self) -> dict:  # noqa: N802
        return {"page": self.start_page}

    def read(self, start: dict):
        page = int(start["page"])
        if page > self._total_pages:
            return iter(()), start
        # a page is bounded (per_page records), so materialize: Spark's
        # prefetch cache copies the returned iterator, and a list_iterator
        # (unlike a generator) supports copy
        rows = _page_rows(self.schema, self.path, page, self.per_page)
        return iter(list(rows)), {"page": page + 1}

    def readBetweenOffsets(self, start: dict, end: dict):  # noqa: N802
        for page in range(int(start["page"]), int(end["page"])):
            yield from _page_rows(self.schema, self.path, page, self.per_page)


class PagedJsonDataSource(DataSource):
    """format name: ``groove_pages`` (register with
    ``spark.dataSource.register(PagedJsonDataSource)``)."""

    @classmethod
    def name(cls) -> str:
        return "groove_pages"

    def schema(self) -> str:
        return self.options.get("recordSchema", DEFAULT_SCHEMA)

    def reader(self, schema: StructType) -> PagedJsonReader:
        return PagedJsonReader(schema, self.options)

    def simpleStreamReader(self, schema: StructType) -> PagedJsonStreamReader:  # noqa: N802
        return PagedJsonStreamReader(schema, self.options)
