"""The two pipeline workloads: ``migrate_http`` (Acquire -> Process ->
Publish over a local TCP API) and ``process_bulk`` (Process alone over
a staged corpus).

Both drive the package only through its public functions, each call
wrapped in a span together with the action that materializes it:

  sources.acquire   probe + ``paginated_source`` + landing to staging
  plans.validate    the ``build_conversations`` call (eager validations)
  plans.customers   ``transform_customers`` + its sink
  plans.conversations  the conversations sink
  plans.errors      ``write_error_csv`` for errors and warnings
  observability.snapshot  ``PipelineMetrics.snapshot`` collected
  sources.publish   ``foreach_partition_sink``, one POST per record

Output checks run between timed passes, never inside one.
"""

from __future__ import annotations

import csv
import glob
import json
import os
import statistics
import subprocess
import sys
import time
import urllib.request
from collections import Counter
from functools import partial
from types import SimpleNamespace

from pyspark.sql import functions as F
from pyspark.sql import types as T

from groove_to_helpscout_migration_tool_spark import schemas
from groove_to_helpscout_migration_tool_spark.observability import PipelineMetrics
from groove_to_helpscout_migration_tool_spark.operators.errors import write_error_csv
from groove_to_helpscout_migration_tool_spark.plans import (
    build_conversations,
    transform_customers,
)
from groove_to_helpscout_migration_tool_spark.sources.api import (
    foreach_partition_sink,
    paginated_source,
)
from groove_to_helpscout_migration_tool_spark.sources.http_fixture import FixtureHttpClient
from groove_to_helpscout_migration_tool_spark.sources.http_live import LiveHttpTransport

from . import corpus as corpus_mod
from .sparkenv import ROOT

PER_PAGE = 50             # Groove's page size (SyncTickets.php:189-202)
READ_BUDGET = 30          # requests per window, Groove (ratelimit.py)
WRITE_BUDGET = 200        # requests per window, HelpScout (ratelimit.py)
# A window this short keeps the governor from binding at HEAD while the
# budgets keep the reference's request counts, so paginated_source
# partitions the page range exactly as it would in production.
WINDOW_S = 0.001
RETRY_ATTEMPTS = 4
RETRY_BACKOFF_S = 0.01
FAULT_RATE = 0.02
# process_bulk times at least three warm passes after the cold one, so
# the median drops the slowest: a pass that stalled, or the first warm
# pass, which is slower while the JIT settles
MIN_TIMED_PASSES = 3


def _drop(schema: T.StructType, name: str) -> list[T.StructField]:
    return [f for f in schema.fields if f.name != name]


API_SCHEMAS = {
    "customers": schemas.GROOVE_CUSTOMER,
    "tickets": T.StructType(_drop(schemas.GROOVE_TICKET, "page")),
    "messages": T.StructType(_drop(schemas.GROOVE_MESSAGE, "page")),
    "attachments": T.StructType(
        _drop(schemas.GROOVE_ATTACHMENT, "data")
        + [T.StructField("data_b64", T.StringType())]),
    "mailboxes": T.StructType([T.StructField("name", T.StringType())]),
    "agents": T.StructType([T.StructField("email", T.StringType())]),
    "agent_dir": T.StructType([T.StructField("agent_id", T.StringType()),
                               T.StructField("email", T.StringType())]),
    "hs_mailboxes": schemas.HELPSCOUT_MAILBOX,
    "hs_users": schemas.HELPSCOUT_USER,
    "hs_customers": schemas.HELPSCOUT_CUSTOMER_DIM,
    "hs_conversations": schemas.HELPSCOUT_CONVERSATION_DIM,
}


# ---------------------------------------------------------------- staging
def stage_with_arrow(tables: dict, staged: str) -> None:
    """Write the corpus as the Acquire step lands it (API shape + page),
    without Spark, so staging costs the Process workload nothing."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    for name, recs in tables.items():
        schema = T.StructType(API_SCHEMAS[name].fields
                              + [T.StructField("page", T.LongType())])
        rows = [dict(r, page=i // PER_PAGE + 1) for i, r in enumerate(recs)]
        table = pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
        os.makedirs(f"{staged}/{name}", exist_ok=True)
        pq.write_table(table, f"{staged}/{name}/part-0.parquet")


def load_staged(spark, staged: str) -> tuple[SimpleNamespace, SimpleNamespace]:
    """Staged parquet -> the (groove, hs) frames the pipelines take."""
    def read(name):
        return spark.read.parquet(f"{staged}/{name}")

    def paged(name):
        return read(name).withColumn("page", F.col("page").cast("int"))

    def flat(name):
        return read(name).drop("page")

    attachments = (read("attachments")
                   .withColumn("data", F.unbase64("data_b64"))
                   .drop("data_b64", "page"))
    groove = SimpleNamespace(
        customers=flat("customers"), tickets=paged("tickets"),
        messages=paged("messages"), attachments=attachments,
        mailboxes=flat("mailboxes"), agents=flat("agents"),
        agent_dir=flat("agent_dir"),
    )
    hs = SimpleNamespace(
        mailboxes=flat("hs_mailboxes"), users=flat("hs_users"),
        customers=flat("hs_customers"), conversations=flat("hs_conversations"),
    )
    return groove, hs


# ---------------------------------------------------------------- process
def process(spark, tracer, staged: str, out: str, sink: str) -> dict:
    """One Process pass. ``sink`` is "parquet" (outputs feed Publish) or
    "noop" (full materialization, nothing kept). -> observed metrics."""
    groove, hs = load_staged(spark, staged)
    pm = PipelineMetrics()

    def land(df, name):
        if sink == "noop":
            df.write.format("noop").mode("overwrite").save()
        else:
            df.write.mode("overwrite").parquet(f"{out}/{name}")

    with tracer.span("plans.validate"):
        conversations, errors = build_conversations(groove, hs, metrics=pm)
    with tracer.span("plans.customers"):
        customers, warnings = transform_customers(groove.customers, metrics=pm)
        land(customers, "customers")
    with tracer.span("plans.conversations"):
        land(conversations, "conversations")
    with tracer.span("plans.errors"):
        write_error_csv(errors, f"{out}/errors", "sync-tickets")
        write_error_csv(warnings, f"{out}/warnings", "sync-customers")
    with tracer.span("observability.snapshot"):
        rows = pm.snapshot(spark).collect()
    return {f"{r['step']}.{r['metric']}": r["value"] for r in rows}


# ---------------------------------------------------------------- checks
class Checks:
    """Tallies checked operations; every failure is named."""

    def __init__(self):
        self.attempted = self.failed = 0
        self.failures: list[str] = []

    def expect(self, what: str, got, want) -> None:
        self.ops(what, 1, int(got != want))
        if got != want:
            self.failures[-1] = f"{what}: got {got!r}, want {want!r}"

    def ops(self, what: str, attempted: int, failed: int) -> None:
        self.attempted += attempted
        self.failed += failed
        if failed:
            self.failures.append(f"{what}: {failed} of {attempted} failed")


def error_counts(path: str) -> dict:
    """Rows per error_type in a ``write_error_csv`` output directory."""
    counts: Counter = Counter()
    for part in glob.glob(f"{path}/part-*.csv"):
        with open(part, newline="") as f:
            counts.update(row["error_type"] for row in csv.DictReader(f))
    return dict(sorted(counts.items()))


PROCESS_CHECKS = 5  # the checks ``check_process`` makes per pass


def check_process(checks: Checks, observed: dict, out: str, expected: dict) -> None:
    """Counts a correct Process pass must produce, from the generator."""
    checks.expect("tickets_in", observed.get("tickets_in.n_rows"), expected["tickets"])
    checks.expect(
        "conversations = tickets - validation drops - dedup skips",
        observed.get("conversations_out.n_rows"),
        expected["tickets"] - expected["validation_drops"] - expected["dedup_skips"],
    )
    checks.expect("customers_out", observed.get("customers_out.n_rows"), expected["customers"])
    want_errors = {k: v for k, v in expected["errors"].items() if v}
    checks.expect("error rows by type", error_counts(f"{out}/errors"), want_errors)
    checks.expect("warning rows by type", error_counts(f"{out}/warnings"),
                  expected["warnings"])


def check_pages(checks: Checks, stats: dict, paths: list[str]) -> None:
    """Every page of every resource was answered with a 200."""
    missing = [p for p in paths if not stats["answered"].get(p)]
    checks.ops("pages fetched" + (f" (first missing: {missing[0]})" if missing else ""),
               len(paths), len(missing))


def check_receipts(checks: Checks, stats: dict, expected: dict) -> None:
    """Every published record reached the server exactly once."""
    for resource, key in (("customers", "published_customers"),
                          ("conversations", "published_conversations")):
        got = stats["receipts"].get(resource, {})
        want = {str(k) for k in expected[key]}
        missing = len(want - got.keys())
        extra = len(got.keys() - want)
        dupes = sum(1 for k, n in got.items() if n > 1)
        checks.ops(f"{resource} published exactly once", len(want),
                   missing + extra + dupes)


# ---------------------------------------------------------------- process_bulk
def run_process_bulk(spark, tracer, work: str, seed: int, seconds: float,
                     n_tickets: int) -> dict:
    corpus = corpus_mod.make_corpus(seed, n_tickets)
    staged, out = f"{work}/staged", f"{work}/out"
    stage_with_arrow(corpus["tables"], staged)
    checks = Checks()
    failed = {"walls": [], "tickets": n_tickets, "checks": checks}
    observed, _ = timed_pass(spark, tracer, checks, staged, out)  # the cold pass
    if observed is None:
        return failed
    check_process(checks, observed, out, corpus["expected"])
    tracer.spans.clear()
    walls = []
    while len(walls) < MIN_TIMED_PASSES or sum(walls) < seconds:
        # collect the previous pass's garbage now, not inside a timed pass
        spark.sparkContext._jvm.System.gc()
        observed, wall = timed_pass(spark, tracer, checks, staged, out)
        if observed is None:
            return failed
        walls.append(wall)
        check_process(checks, observed, out, corpus["expected"])
    return {"walls": walls, "tickets": n_tickets, "checks": checks}


def timed_pass(spark, tracer, checks: Checks, staged: str, out: str):
    """-> (observed, seconds) of one noop Process pass, or (None, 0.0) if
    it raised; a raise fails every check of the pass and is named."""
    t0 = time.perf_counter()
    try:
        observed = process(spark, tracer, staged, out, "noop")
    except Exception as exc:  # noqa: BLE001 -- counted and named, not fatal
        checks.ops(f"Process pass raised {type(exc).__name__}: {str(exc)[:300]}",
                   PROCESS_CHECKS, PROCESS_CHECKS)
        return None, 0.0
    return observed, time.perf_counter() - t0


# ---------------------------------------------------------------- migrate_http
def post_each(client: FixtureHttpClient, resource: str, batch: list) -> None:
    """The reference's publishers: one POST per record."""
    for record in batch:
        client.publish(record, resource)


class ApiServer:
    """The local API as a child process; stopped by closing its stdin."""

    def __init__(self, work: str, tables: dict, faults: dict, max_conns: int):
        spec = f"{work}/api_corpus.json"
        with open(spec, "w") as f:
            json.dump({"tables": tables, "faults": faults}, f)
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(ROOT, "perfbench", "server.py"),
             "--corpus", spec, "--per-page", str(PER_PAGE),
             "--window", str(WINDOW_S),
             "--max-conns", str(max_conns)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        self.base = f"http://127.0.0.1:{int(self.proc.stdout.readline())}"

    def stats(self) -> dict:
        with urllib.request.urlopen(f"{self.base}/_admin/stats", timeout=30) as resp:
            return json.loads(resp.read())

    def close(self) -> None:
        self.proc.stdin.close()
        try:
            self.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.proc.stdout.close()


def page_paths(tables: dict) -> list[str]:
    return [f"/v1/{name}?page={p}&per_page={PER_PAGE}"
            for name, recs in tables.items()
            for p in range(1, max(1, -(-len(recs) // PER_PAGE)) + 1)]


def migrate_once(spark, tracer, client: FixtureHttpClient, tables: dict,
                 staged: str, out: str) -> dict:
    """Acquire -> Process -> Publish, one cold migration of the corpus."""
    with tracer.span("sources.acquire"):
        for name in tables:
            total = client.probe_total(name)
            df = paginated_source(
                spark, partial(client.fetch_page, resource=name), total,
                API_SCHEMAS[name], per_page=PER_PAGE,
                requests_per_minute=READ_BUDGET, window_seconds=WINDOW_S,
                retry_attempts=RETRY_ATTEMPTS, retry_backoff=RETRY_BACKOFF_S,
            )
            df.write.mode("overwrite").parquet(f"{staged}/{name}")
    observed = process(spark, tracer, staged, out, "parquet")
    with tracer.span("sources.publish"):
        for resource in ("customers", "conversations"):
            foreach_partition_sink(
                spark.read.parquet(f"{out}/{resource}"),
                partial(post_each, client, resource),
                requests_per_minute=WRITE_BUDGET, window_seconds=WINDOW_S,
            )
    return observed


def run_migrate_http(spark, tracer, work: str, seed: int, n_tickets: int,
                     max_conns: int) -> dict:
    """One cold migration per session, as an operator runs it. The Groove
    resources come over HTTP; the HelpScout lookup tables (mailboxes,
    users, known customers and conversations) are a local snapshot."""
    corpus = corpus_mod.make_corpus(seed, n_tickets)
    expected = corpus["expected"]
    groove = {n: t for n, t in corpus["tables"].items() if not n.startswith("hs_")}
    staged, out = f"{work}/staged", f"{work}/out"
    stage_with_arrow({n: t for n, t in corpus["tables"].items() if n.startswith("hs_")},
                     staged)
    paths = page_paths(groove)
    faults = corpus_mod.fault_schedule(seed, paths, FAULT_RATE)
    server = ApiServer(work, groove, faults, max_conns)
    checks = Checks()
    # every check the run makes: pages, receipts, Process counts, faults
    n_checks = (len(paths) + len(expected["published_customers"])
                + len(expected["published_conversations"]) + PROCESS_CHECKS + 1)
    try:
        client = FixtureHttpClient(LiveHttpTransport(), base_url=f"{server.base}/v1")
        t0 = time.perf_counter()
        try:
            observed = migrate_once(spark, tracer, client, groove, staged, out)
        except Exception as exc:  # noqa: BLE001 -- counted and named, not fatal
            checks.ops(f"migration raised {type(exc).__name__}: {str(exc)[:300]}",
                       n_checks, n_checks)
            return {"walls": [], "tickets": n_tickets, "checks": checks}
        wall = time.perf_counter() - t0
        stats = server.stats()
    finally:
        server.close()
    check_pages(checks, stats, paths)
    check_receipts(checks, stats, expected)
    check_process(checks, observed, out, expected)
    checks.expect("faults served", stats["faults_served"],
                  sum(len(v) for v in faults.values()))
    return {"walls": [wall], "tickets": n_tickets, "checks": checks,
            "server": stats, "n_pages": len(paths), "n_probes": len(groove)}


def layer_metrics(spans, result: dict) -> dict:
    """-> {name: (value, unit)}: span times are medians over the timed
    passes, counts are per pass; server tallies cover the one migration."""
    passes = max(1, len(result["walls"]))
    by_layer: dict[str, list] = {}
    for sp in spans:
        by_layer.setdefault(sp.layer, []).append(sp)

    def per_pass(layer, attr):
        vals = [getattr(sp, attr) for sp in by_layer.get(layer, [])]
        return sum(vals) / passes

    def sec(layer):
        vals = [sp.seconds for sp in by_layer.get(layer, [])]
        return statistics.median(vals) if vals else 0.0

    m = {}
    for layer in ("sources.acquire", "sources.publish", "plans.validate",
                  "plans.conversations", "plans.errors", "plans.customers",
                  "observability.snapshot"):
        m[f"{layer}_s"] = (sec(layer), "s")
    plans = [l for l in by_layer if l.startswith("plans.")]
    for attr, name, unit, scale in (("jobs", "jobs", "count", 1),
                                    ("stages", "stages", "count", 1),
                                    ("tasks", "tasks", "count", 1),
                                    ("shuffle_write_bytes", "shuffle_write_mb", "MB", 2**-20),
                                    ("gc_ms", "gc_s", "s", 1e-3)):
        m[f"plans.{name}"] = (sum(per_pass(l, attr) for l in plans) * scale, unit)
    m["sources.acquire_tasks"] = (per_pass("sources.acquire", "tasks"), "count")
    m["sources.publish_tasks"] = (per_pass("sources.publish", "tasks"), "count")
    stats = result.get("server")
    if stats:
        gets = stats["gets"] - result["n_probes"]
        posts = stats["posts"]
        peak = max(stats["peak_reads_per_window"] / READ_BUDGET,
                   stats["peak_writes_per_window"] / WRITE_BUDGET)
        pages = result["n_pages"]
    else:
        gets = posts = peak = pages = 0
    m["sources.acquire_pages"] = (pages, "count")
    m["sources.acquire_requests"] = (gets, "count")
    m["sources.acquire_useful_ratio"] = (pages / gets if gets else 0.0, "ratio")
    m["sources.publish_posts"] = (posts, "count")
    m["sources.peak_rate_over_budget"] = (peak, "ratio")
    return m
