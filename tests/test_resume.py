"""K1/K2: kill-safety + resume-equivalence (SURVEY.md §5.5) and Q1 retry
parity on the flaky graph — run on a reduced graph to keep the suite fast."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

import engine.crawl as crawlmod
from engine import seen as seenmod
from engine.crawl import CrawlEngine
from engine.schemas import FRONTIER, ROBOTS_RULES
from engine.synthgraph import GraphConfig, gen_seed_urls
from pyref.oracle import run_crawl as oracle_run

SMALL = GraphConfig(n_hosts=8, max_pages=20, max_depth=2)
FLAKY = GraphConfig(n_hosts=8, max_pages=20, max_depth=2, fail_mod=6, max_retries=2)


def _final_state(eng):
    fr = sorted(
        tuple(r) for r in eng.catalog.read_snapshot("frontier").select(
            "url_hash", "url", "status", "depth", "retries", "priority"
        ).collect()
    )
    log = sorted(tuple(r) for r in eng.catalog.read_appended("crawl_log").collect())
    docs = sorted(
        (r["doc_id"], tuple((s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]))
        for r in eng.catalog.read_appended("documents").collect()
    )
    return fr, log, docs


@pytest.fixture(scope="module")
def three_epoch_state(spark, tmp_path_factory):
    eng = CrawlEngine(spark, str(tmp_path_factory.mktemp("ref3")), SMALL, n_filter_parts=4, salt=4)
    eng.run(3, seeds=gen_seed_urls(SMALL))
    return _final_state(eng)


def test_resume_equals_uninterrupted(spark, tmp_path, three_epoch_state):
    seeds = gen_seed_urls(SMALL)
    # interrupted: 2 epochs, then a NEW engine instance resumes to 3 with
    # junk staging simulating a mid-epoch kill before commit
    eng_b1 = CrawlEngine(spark, str(tmp_path / "b"), SMALL, n_filter_parts=4, salt=4)
    eng_b1.run(2, seeds=seeds)
    junk = tmp_path / "b" / "staging" / "epoch=000003" / "frontier"
    junk.mkdir(parents=True)
    (junk / "part-junk.parquet").write_bytes(b"not parquet")
    eng_b2 = CrawlEngine(spark, str(tmp_path / "b"), SMALL, n_filter_parts=4, salt=4)
    eng_b2.run(3, seeds=seeds, resume=True)
    assert _final_state(eng_b2) == three_epoch_state


def test_resume_from_per_bucket_pending_cells(spark, tmp_path, three_epoch_state):
    """A catalog whose pending rows sit in one cell per host bucket
    (``pending/<b>`` keys, the layout before pending rows shared one cell)
    resumes: the first new epoch drops every per-bucket cell, and the
    committed rows equal an uninterrupted run's."""
    seeds = gen_seed_urls(SMALL)
    eng = CrawlEngine(spark, str(tmp_path / "c"), SMALL, n_filter_parts=4, salt=4)
    eng.run(1, seeds=seeds)
    cat = eng.catalog
    manifest = cat.manifest(1)
    parts = manifest["snapshots"]["frontier"]["parts"]
    # rewrite epoch 1's pending cell as one leaf dir per bucket; ``_b`` is a
    # copy, so host_bucket stays in the data files
    old = str(tmp_path / "per_bucket")
    (
        cat.read_parts(parts, schema=FRONTIER, status="pending")
        .withColumn("_b", F.col("host_bucket"))
        .write.partitionBy("_b")
        .parquet(old)
    )
    buckets = {d[len("_b="):]: os.path.join(old, d) for d in os.listdir(old) if d.startswith("_b=")}
    assert len(buckets) > 1
    del parts["pending"]
    parts.update({f"pending/{b}": [d] for b, d in buckets.items()})
    with open(os.path.join(cat.root, "manifests", "manifest-000001.json"), "w") as f:
        json.dump(manifest, f)

    eng = CrawlEngine(spark, str(tmp_path / "c"), SMALL, n_filter_parts=4, salt=4)
    eng.run(3, seeds=seeds, resume=True)
    assert "/" not in "".join(eng.catalog.frontier_parts(2)), eng.catalog.frontier_parts(2)
    assert _final_state(eng) == three_epoch_state


@pytest.fixture(scope="module")
def two_epoch_state(spark, tmp_path_factory):
    eng = CrawlEngine(spark, str(tmp_path_factory.mktemp("ref")), SMALL, n_filter_parts=4, salt=4)
    eng.run(2, seeds=gen_seed_urls(SMALL))
    return _final_state(eng)


@pytest.mark.parametrize("point", ["fetch_parse", "flag_new", "write_lineage_parquet"])
def test_failed_epoch_leaves_no_writer_or_cache(
    spark, tmp_path, monkeypatch, two_epoch_state, point
):
    """A raise in epoch 2 — before the gather while the pool's crawl_log
    write is live (``fetch_parse``), inside the dedup phase once the
    probe's cache is built and the merge write runs (``flag_new``), or
    after the gather (``write_lineage_parquet``) — keeps epoch 1
    committed, leaves no write running and no cache persisted, and a
    same-session retry of the epoch reaches the uninterrupted run's
    state.  No cache outlives an epoch, committed or not: every RDD the
    session holds persisted was persisted before the engine existed (caches
    left by earlier tests may be cleaned meanwhile, so the ids are compared,
    not the count)."""
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet())

    def new_persisted() -> set[int]:
        return set(sc._jsc.getPersistentRDDs().keySet()) - before

    eng = CrawlEngine(spark, str(tmp_path / "f"), SMALL, n_filter_parts=4, salt=4)
    eng.run(1, seeds=gen_seed_urls(SMALL))
    assert not new_persisted(), "a cache outlived epoch 1"

    def fault(*args, **kwargs):
        if point == "flag_new":  # args[0]: the persisted probe result
            args[0].write.format("noop").mode("overwrite").save()
        raise RuntimeError(f"injected fault in {point}")

    with monkeypatch.context() as m:
        m.setattr(seenmod if point == "flag_new" else crawlmod, point, fault)
        with pytest.raises(RuntimeError, match="injected fault"):
            eng.run_epoch(2)
    # the crawl_log write the epoch started has finished: nothing can still
    # be writing into the staging dir that the retry overwrites
    crawl_log = eng.catalog.stage_path(2, "crawl_log")
    assert os.path.exists(os.path.join(crawl_log, "_SUCCESS")), "a write outlived the epoch"
    assert eng.catalog.last_epoch() == 1
    assert not new_persisted()

    eng.run_epoch(2)
    assert not new_persisted()
    assert _final_state(eng) == two_epoch_state


def test_flaky_retry_parity(spark, tmp_path):
    """Q1: deterministic failures/retries match the oracle exactly, and so
    does every epoch's metrics row, pending_end included: failed fetches
    re-enter 'pending' until their retries run out."""
    seeds = gen_seed_urls(FLAKY)
    eng = CrawlEngine(spark, str(tmp_path / "f"), FLAKY, n_filter_parts=4, salt=4)
    got_metrics = eng.run(4, seeds=seeds)
    want = oracle_run(seeds, FLAKY, max_epochs=4)
    keys = (
        "urls_popped",
        "urls_fetch_ok",
        "urls_fetch_fail",
        "outlinks_candidates",
        "outlinks_new",
        "disallowed",
        "pending_end",
    )
    assert len(got_metrics) == len(want.metrics) == 4
    for got, exp in zip(got_metrics, want.metrics):
        assert {k: got[k] for k in keys} == {k: exp[k] for k in keys}, exp["epoch"]
    got_log = sorted(
        (r["epoch"], r["host"], r["fetch_seq_in_host"], r["url"], r["url_hash"])
        for r in eng.catalog.read_appended("crawl_log").collect()
    )
    assert got_log == sorted(want.crawl_log)
    got_status = {
        r["url_hash"]: (r["status"], r["retries"])
        for r in eng.catalog.read_snapshot("frontier").collect()
    }
    want_status = {h: (rec.status, rec.retries) for h, rec in want.frontier.items()}
    assert got_status == want_status
    assert any(s == "failed" or r > 0 for s, r in want_status.values()), "fixture must exercise retries"


def test_politeness_never_exceeded(spark, tmp_path):
    """Property (§5.4): ∀ (host, epoch): fetches ≤ max_fetches_per_epoch."""
    from engine.synthgraph import budget_for_host

    seeds = gen_seed_urls(SMALL)
    eng = CrawlEngine(spark, str(tmp_path / "p"), SMALL, n_filter_parts=4, salt=4)
    eng.run(3, seeds=seeds)
    counts = (
        eng.catalog.read_appended("crawl_log")
        .groupBy("epoch", "host")
        .agg(F.count("*").alias("n"), F.max("fetch_seq_in_host").alias("mx"))
        .collect()
    )
    for r in counts:
        k = budget_for_host(r["host"])
        assert r["n"] <= k, f"{r['host']} epoch {r['epoch']}: {r['n']} > {k}"
        assert r["mx"] == r["n"] - 1  # dense 0-based sequence


def test_robots_rules_cover_every_frontier_host(spark, tmp_path):
    """R1 needs no bootstrap: after init_run and after every epoch, each
    host holding a frontier row (any status) has committed robots rules,
    and the manifest's robots_rules row count is the committed table's.
    Half the hosts are seeded, so later epochs discover the rest.  An
    epoch whose delta is empty leaves no robots_rules staging dir."""
    eng = CrawlEngine(spark, str(tmp_path / "r"), SMALL, n_filter_parts=4, salt=4)
    eng.init_run(gen_seed_urls(SMALL)[: SMALL.n_hosts // 2])
    cat = eng.catalog
    n_rule_hosts, empty_deltas = [], 0
    for epoch in range(4):
        if epoch:
            eng.run_epoch(epoch)
            rows = [cat.manifest(e)["snapshots"]["robots_rules"]["rows"] for e in (epoch - 1, epoch)]
            staged = os.path.exists(cat.stage_path(epoch, "robots_rules"))
            assert staged == (rows[1] > rows[0]), epoch
            empty_deltas += not staged
        assert cat.last_epoch() == epoch
        frontier_hosts = {
            r["host"] for r in cat.read_snapshot("frontier").select("host").distinct().collect()
        }
        rules = cat.read_snapshot("robots_rules")
        rule_hosts = {r["host"] for r in rules.select("host").distinct().collect()}
        assert frontier_hosts and frontier_hosts <= rule_hosts, epoch
        assert cat.manifest(epoch)["snapshots"]["robots_rules"]["rows"] == rules.count(), epoch
        n_rule_hosts.append(len(rule_hosts))
    assert n_rule_hosts[-1] > n_rule_hosts[0], "fixture must discover hosts after init"
    assert empty_deltas, "fixture must run an epoch that discovers no host"


def test_robots_compaction_keeps_rows(spark, tmp_path, monkeypatch):
    """With MAX_CELL_DIRS=1 every epoch that writes a robots delta compacts
    the robots snapshot into one dir, and after every epoch the committed
    rules are those of an uncompacted run.  Half the hosts are seeded, so
    epochs discover the rest and write deltas."""
    seeds = gen_seed_urls(SMALL)[: SMALL.n_hosts // 2]

    def rules(cat):
        return sorted(tuple(r) for r in cat.read_snapshot("robots_rules").collect())

    def step(eng):
        eng.init_run(seeds)
        yield 0
        for epoch in range(1, 4):
            eng.run_epoch(epoch)
            yield epoch

    plain = CrawlEngine(spark, str(tmp_path / "plain"), SMALL, n_filter_parts=4, salt=4)
    want = {epoch: rules(plain.catalog) for epoch in step(plain)}
    monkeypatch.setattr(crawlmod, "MAX_CELL_DIRS", 1)
    eng = CrawlEngine(spark, str(tmp_path / "compact"), SMALL, n_filter_parts=4, salt=4)
    cat, deltas = eng.catalog, 0
    for epoch in step(eng):
        if epoch and os.path.exists(cat.stage_path(epoch, "robots_rules")):
            deltas += 1
            assert len(cat.manifest(epoch)["snapshots"]["robots_rules"]["paths"]) == 1, epoch
        assert rules(cat) == want[epoch], epoch
    assert deltas, "fixture must write a robots delta"


def test_failed_init_leaves_no_commit_or_cache(spark, tmp_path, monkeypatch, two_epoch_state):
    """A raise inside init_run's robots write (the fetcher's Python worker
    fails) commits nothing, leaves no cache persisted, and a resume then
    reaches the uninterrupted run's state."""

    def failing_fetch(hosts, cfg, epoch):
        def boom(batches):
            raise RuntimeError("injected fault in fetch_robots")
            yield  # a generator: the raise runs in the Python worker

        return hosts.select("host").mapInPandas(boom, ROBOTS_RULES)

    eng = CrawlEngine(spark, str(tmp_path / "i"), SMALL, n_filter_parts=4, salt=4)
    sc = spark.sparkContext
    n_persisted = sc._jsc.getPersistentRDDs().size()
    with monkeypatch.context() as m:
        m.setattr(crawlmod, "fetch_robots", failing_fetch)
        with pytest.raises(Exception, match="injected fault"):
            eng.init_run(gen_seed_urls(SMALL))
    assert eng.catalog.last_epoch() is None
    assert sc._jsc.getPersistentRDDs().size() == n_persisted

    eng.run(2, seeds=gen_seed_urls(SMALL), resume=True)
    assert _final_state(eng) == two_epoch_state
