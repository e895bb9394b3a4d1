"""Anti-join operators (SURVEY.md J5, J6).

Every reference lookup is a linear probe of a small cached array; here
each is a broadcast hash join -- O(n) with no shuffle of the big side.
Case-insensitivity (P12) is handled by lower() join keys. The J1-J4
lookups are written inline where they run (plans/ticket_pipeline.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def validation_anti_join(
    facts: DataFrame, dim: DataFrame, fact_key: Column, dim_key: Column,
    check_name: str, entity: Column,
) -> DataFrame:
    """J6: rows of ``facts`` with no (case-insensitive) match in ``dim``.
    The caller raises if the result is non-empty (fail-fast,
    SyncTickets.php:70-115) unless bypass_validation is set."""
    # project the dim key to a private alias so same-named columns on both
    # sides never collide (the dim_key Column resolves in dim's context)
    keyed_dim = dim.select(F.lower(dim_key).alias("__vkey")).distinct()
    misses = facts.join(
        F.broadcast(keyed_dim), F.lower(fact_key) == F.col("__vkey"), "left_anti"
    )
    return misses.select(
        F.lit(check_name).alias("check_name"),
        entity.alias("entity"),
    )


def dedup_anti_join(
    incoming: DataFrame, existing: DataFrame, keys: list[tuple[Column, Column]]
) -> DataFrame:
    """J5: drop incoming rows whose composite key already exists in the sink
    (duplicate-ticket skip, TicketProcessor.php:353-372). ``keys`` pairs
    (incoming_key, existing_key); string keys compare case-insensitively
    upstream via lower().

    Resume recipe caveat (the reference warns the same hazard as
    HelpScout's pickup delay, README.md:74: receipts lag publishes): a
    crashed publish run can still have POSTs in flight when the driver
    regains control -- a job abort does not wait for sibling tasks'
    requests on the wire. QUIESCE THE SINK (no active publisher work,
    receipt feed stable), THEN fetch ``existing`` and anti-join;
    snapshotting receipts immediately after the failure undercounts and
    re-publishes whatever landed late. Exercised under injected chaos in
    tests/test_http_live.py::_quiesce_publishes."""
    cond = None
    for ik, ek in keys:
        c = ik.eqNullSafe(ek)
        cond = c if cond is None else (cond & c)
    return incoming.join(F.broadcast(existing), cond, "left_anti")


class ValidationError(Exception):
    """Raised when a fail-fast validation anti-join is non-empty."""

    def __init__(self, failures: list[tuple[str, str]]):
        self.failures = failures
        super().__init__(f"{len(failures)} validation failures: {failures[:10]}")


VALIDATION_SAMPLE_CAP = 1000


def run_validations(checks: list[DataFrame], bypass: bool = False) -> list[tuple[str, str]]:
    """Union the J6 checks and either raise (default) or return the misses.

    The driver-side materialization is CAPPED at VALIDATION_SAMPLE_CAP
    rows: deciding pass/fail and naming offenders needs a bounded sample,
    not the full miss set -- a validation failing on 1% of a 100 TB fact
    table would otherwise collect millions of rows into the driver."""
    if not checks:
        return []
    all_checks = checks[0]
    for c in checks[1:]:
        all_checks = all_checks.unionByName(c)
    failures = [
        (r["check_name"], r["entity"])
        for r in all_checks.limit(VALIDATION_SAMPLE_CAP).collect()
    ]
    if failures and not bypass:
        raise ValidationError(failures)
    return failures
