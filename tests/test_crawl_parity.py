"""Golden crawl-semantics tests: Spark engine vs pyref oracle (SURVEY.md §5.2).

The three BASELINE.json:6 invariants under the same seed list + politeness
budget: identical crawl ordering per host, identical URL-seen set, and
per-document span-sequence equality (kind, text, media_ref, order).
"""

from __future__ import annotations

import pytest

from tests.conftest import run_engine


FILTER_KINDS = ("bloom", "cuckoo")


@pytest.fixture(scope="module")
def engine_runs(spark, tmp_path_factory, tiny_cfg, tiny_seeds):
    """One 4-epoch TINY crawl per seen-filter kind (``run_crawl.py
    --filter-kind``); every test below checks each of them against pyref."""
    runs = {}
    for kind in FILTER_KINDS:
        root = tmp_path_factory.mktemp(f"crawl_tiny_{kind}")
        eng, _ = run_engine(spark, root, tiny_cfg, tiny_seeds, max_epochs=4, filter_kind=kind)
        runs[kind] = eng
    return runs


def test_crawl_order_per_host(engine_runs, tiny_oracle):
    want = sorted(tiny_oracle.crawl_log)
    for kind, eng in engine_runs.items():
        got = sorted(
            (r["epoch"], r["host"], r["fetch_seq_in_host"], r["url"], r["url_hash"])
            for r in eng.catalog.read_appended("crawl_log").collect()
        )
        assert len(got) == len(want), kind
        assert got == want, kind


def test_url_seen_set(engine_runs, tiny_oracle):
    for kind, eng in engine_runs.items():
        frontier = eng.catalog.read_snapshot("frontier")
        got = {r["url_hash"] for r in frontier.select("url_hash").collect()}
        assert got == tiny_oracle.seen_set, kind


def test_frontier_statuses(engine_runs, tiny_oracle):
    want = {h: (rec.status, rec.depth, rec.retries) for h, rec in tiny_oracle.frontier.items()}
    for kind, eng in engine_runs.items():
        got = {
            r["url_hash"]: (r["status"], r["depth"], r["retries"])
            for r in eng.catalog.read_snapshot("frontier").collect()
        }
        assert got == want, kind


def test_span_sequence_equality(engine_runs, tiny_oracle):
    want = {url: [tuple(s) for s in spans] for url, (ep, spans) in tiny_oracle.docs.items()}
    for kind, eng in engine_runs.items():
        rows = eng.catalog.read_appended("documents").collect()
        got = {
            r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
            for r in rows
        }
        assert set(got) == set(want), kind
        for doc_id in want:
            assert got[doc_id] == want[doc_id], f"{kind}: span mismatch for {doc_id}"


def test_metrics_parity(engine_runs, tiny_oracle):
    keys = [
        "urls_popped",
        "urls_fetch_ok",
        "urls_fetch_fail",
        "docs_parsed",
        "outlinks_extracted",
        "outlinks_candidates",
        "outlinks_new",
        "disallowed",
        "pending_end",
    ]
    for kind, eng in engine_runs.items():
        got: dict[int, dict] = {}
        for r in eng.catalog.read_appended("metrics").collect():
            got.setdefault(r["epoch"], {})[r["key"]] = r["value"]
        for m in tiny_oracle.metrics:
            ep = m["epoch"]
            for k in keys:
                assert got[ep][k] == pytest.approx(m[k]), f"{kind}: epoch {ep} metric {k}"
