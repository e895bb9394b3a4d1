"""Tests for the benchmark's own inputs and output checks (no Spark).

Run with: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import urllib.error
import urllib.request

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import corpus, pipeline, server  # noqa: E402


# ---------------------------------------------------------------- generator
def _bytes(obj) -> bytes:
    return json.dumps(obj, sort_keys=True, separators=(",", ":")).encode()


def test_corpus_is_byte_identical_for_a_seed():
    a = _bytes(corpus.make_corpus(7, 400))
    b = _bytes(corpus.make_corpus(7, 400))
    c = _bytes(corpus.make_corpus(8, 400))
    assert a == b
    assert a != c


def test_edge_case_mix_is_fixed_whatever_the_seed():
    counts = []
    for seed in (1, 2, 3):
        e = corpus.make_corpus(seed, 1000)["expected"]
        counts.append((e["dedup_skips"], e["validation_drops"], e["conversations"],
                       e["warnings"]))
    assert counts[0] == counts[1] == counts[2]
    dedup, drops, conversations, _ = counts[0]
    assert dedup == 10 and drops == 50
    assert conversations == 1000 - dedup - drops


def test_expected_counts_match_the_records():
    c = corpus.make_corpus(5, 600)
    t, e = c["tables"], c["expected"]
    assert e["tickets"] == len(t["tickets"]) == 600
    assert e["messages"] == len(t["messages"]) == 4 * 600
    assert e["customers"] == len(t["customers"])
    assert len(e["published_conversations"]) == e["conversations"]
    assert e["published_customers"] == sorted(r["email"] for r in t["customers"])
    no_link = sum(r["links"]["customer"]["href"] is None for r in t["tickets"])
    bogus = sum(r["state"] == "bogus" for r in t["tickets"])
    unresolved = sum("/customers/cust-" in (r["links"]["customer"]["href"] or "")
                     for r in t["tickets"])
    assert e["validation_drops"] == no_link + bogus + unresolved
    assert e["dedup_skips"] == sum(r["subject"].startswith("T")
                                   for r in t["hs_conversations"])
    unreachable = sum(r["data_b64"] is None for r in t["attachments"])
    assert 0 < e["errors"]["AttachmentMigrationFailure"] <= unreachable


def test_fault_schedule_is_byte_identical_and_within_retry_budget():
    paths = [f"/v1/tickets?page={p}&per_page=50" for p in range(1, 501)]
    a = corpus.fault_schedule(3, paths, 0.02)
    assert _bytes(a) == _bytes(corpus.fault_schedule(3, paths, 0.02))
    assert a != corpus.fault_schedule(4, paths, 0.02)
    assert len(a) == 10
    assert set(a) <= set(paths)
    assert max(len(f) for f in a.values()) < pipeline.RETRY_ATTEMPTS
    statuses = {s for faults in a.values() for s, _ in faults}
    assert 429 in statuses and statuses & {500, 503}
    assert any(ra for faults in a.values() for _, ra in faults)


# ---------------------------------------------------------------- checks
def _write_csv(path, rows):
    os.makedirs(path)
    with open(f"{path}/part-00000-x.csv", "w") as f:
        f.write("error_type,detail\n")
        for error_type, detail in rows:
            f.write(f"{error_type},{detail}\n")


def _process_fixture(tmp_path):
    expected = {"tickets": 10, "customers": 4, "validation_drops": 2, "dedup_skips": 1,
                "errors": {"ValidationException": 3, "AttachmentSizeWarning": 1,
                           "AttachmentMigrationFailure": 0},
                "warnings": {"TruncationWarning": 2}}
    out = tmp_path / "out"
    _write_csv(f"{out}/errors", [("ValidationException", "a")] * 3
               + [("AttachmentSizeWarning", "b")])
    _write_csv(f"{out}/warnings", [("TruncationWarning", "c")] * 2)
    observed = {"tickets_in.n_rows": 10.0, "conversations_out.n_rows": 7.0,
                "customers_out.n_rows": 4.0}
    return expected, str(out), observed


def test_check_process_passes_on_correct_counts(tmp_path):
    expected, out, observed = _process_fixture(tmp_path)
    checks = pipeline.Checks()
    pipeline.check_process(checks, observed, out, expected)
    assert checks.failed == 0 and checks.attempted == pipeline.PROCESS_CHECKS


def test_check_process_names_each_wrong_count(tmp_path):
    expected, out, observed = _process_fixture(tmp_path)
    observed["conversations_out.n_rows"] = 8.0
    expected["errors"]["ValidationException"] = 4
    checks = pipeline.Checks()
    pipeline.check_process(checks, observed, out, expected)
    assert checks.failed == 2
    assert any(f.startswith("conversations = tickets") for f in checks.failures)
    assert any(f.startswith("error rows by type") for f in checks.failures)


def test_a_process_pass_that_raises_fails_its_checks_and_is_named(monkeypatch):
    def boom(*args):
        raise RuntimeError("executor lost")

    monkeypatch.setattr(pipeline, "process", boom)
    checks = pipeline.Checks()
    assert pipeline.timed_pass(None, None, checks, "staged", "out") == (None, 0.0)
    assert checks.attempted == checks.failed == pipeline.PROCESS_CHECKS
    assert checks.failures == [
        f"Process pass raised RuntimeError: executor lost: "
        f"{pipeline.PROCESS_CHECKS} of {pipeline.PROCESS_CHECKS} failed"]


def test_check_pages_counts_pages_never_answered():
    paths = pipeline.page_paths({"tickets": [{}] * 120, "agents": [{}]})
    assert len(paths) == 4  # three ticket pages and one agent page
    checks = pipeline.Checks()
    pipeline.check_pages(checks, {"answered": {p: 1 for p in paths}}, paths)
    assert (checks.attempted, checks.failed) == (4, 0)

    checks = pipeline.Checks()
    answered = {p: 1 for p in paths[1:]} | {"/v1/tickets?page=1&per_page=1": 1}
    pipeline.check_pages(checks, {"answered": answered}, paths)
    assert (checks.attempted, checks.failed) == (4, 1)
    assert paths[0] in checks.failures[0]


def test_check_receipts_counts_missing_extra_and_duplicate_records():
    expected = {"published_customers": ["a@x.com", "b@x.com"],
                "published_conversations": [1, 2, 3]}
    ok = {"receipts": {"customers": {"a@x.com": 1, "b@x.com": 1},
                       "conversations": {"1": 1, "2": 1, "3": 1}}}
    checks = pipeline.Checks()
    pipeline.check_receipts(checks, ok, expected)
    assert (checks.attempted, checks.failed) == (5, 0)

    bad = {"receipts": {"customers": {"a@x.com": 2},
                        "conversations": {"1": 1, "2": 1, "3": 1, "9": 1}}}
    checks = pipeline.Checks()
    pipeline.check_receipts(checks, bad, expected)
    # customers: b missing + a duplicated; conversations: 9 unexpected
    assert checks.failed == 3
    assert len(checks.failures) == 2


# ---------------------------------------------------------------- server
def test_api_state_serves_faults_in_order_then_the_page():
    path = "/v1/tickets?page=1&per_page=50"
    state = server.ApiState({path: b'{"tickets": []}'}, {path: [(429, "0.02"), (503, None)]})
    first = state.get(path)
    assert first[0] == 429 and first[2] == {"Retry-After": "0.02"}
    assert state.get(path)[0] == 503
    assert state.get(path) == (200, b'{"tickets": []}', {})
    assert state.get("/v1/nope")[0] == 404
    assert state.stats(1.0)["faults_served"] == 2
    assert state.stats(1.0)["answered"] == {path: 1}


def test_peak_in_window():
    assert server.peak_in_window([0.0, 0.0005, 0.0009, 0.5], 0.001) == 3
    assert server.peak_in_window([], 0.001) == 0


def test_server_round_trip_over_tcp(tmp_path):
    c = corpus.make_corpus(1, 40)
    groove = {n: t for n, t in c["tables"].items() if not n.startswith("hs_")}
    api = pipeline.ApiServer(str(tmp_path), groove, {}, max_conns=2)
    try:
        with urllib.request.urlopen(f"{api.base}/v1/tickets?page=1&per_page=50",
                                    timeout=10) as resp:
            body = json.loads(resp.read())
        assert len(body["tickets"]) == 40
        assert body["meta"]["pagination"]["total_count"] == 40
        req = urllib.request.Request(f"{api.base}/v1/conversations",
                                     data=json.dumps({"groove_ticket_number": 7}).encode())
        with urllib.request.urlopen(req, timeout=10) as resp:
            assert resp.status == 201
        with pytest.raises(urllib.error.HTTPError):
            urllib.request.urlopen(f"{api.base}/v1/unknown", timeout=10)
        stats = api.stats()
        assert stats["receipts"] == {"conversations": {"7": 1}}
        assert stats["gets"] == 2 and stats["posts"] == 1
    finally:
        api.close()
    assert api.proc.returncode == 0
