"""F7 cell-granular merge: an epoch rewrites the pending cell and only
appends to terminal cells.

SURVEY.md §1.2 / §2.1-F7: the frontier is partitioned by status alone.
Every pending row's host pops a row or has it disallowed, so each epoch
rewrites all pending rows (O(pending)): the one pending cell holds that
epoch's merged dir and at most one insert dir.  Rows that leave 'pending'
are written as ONE new immutable dir per (epoch, terminal status),
appended to that status's cell and never rewritten, so terminal dirs carry
forward by identity.  This is the sandbox analogue of Iceberg MERGE INTO's
add/remove-file commit.
"""

from __future__ import annotations

import os
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

import engine.crawl as crawlmod
from engine.crawl import CrawlEngine
from engine.frontier import apply_updates
from engine.schemas import FRONTIER
from engine.synthgraph import TINY, TINY_FLAKY, gen_seed_urls

EPOCHS = 3


def _files(d: str) -> list[tuple[str, int, int]]:
    stats = {n: os.stat(os.path.join(d, n)) for n in os.listdir(d)}
    return sorted((n, st.st_size, st.st_mtime_ns) for n, st in stats.items())


@pytest.fixture(scope="module")
def tiny_crawl(spark, tmp_path_factory):
    """A 3-epoch TINY crawl, stepped epoch by epoch; records every terminal
    dir's files right after the epoch that committed it, and the leaf node
    names of the optimized plan of each epoch's merge input."""
    eng = CrawlEngine(
        spark, str(tmp_path_factory.mktemp("cells")), TINY, n_buckets=8, n_filter_parts=4
    )
    eng.init_run(gen_seed_urls(TINY))
    metrics, terminal_files, merge_leaves = {}, {}, []

    def capture(frontier, updates):
        leaves = frontier._jdf.queryExecution().optimizedPlan().collectLeaves()
        merge_leaves.append([leaves.apply(i).nodeName() for i in range(leaves.size())])
        return apply_updates(frontier, updates)

    with pytest.MonkeyPatch.context() as m:
        m.setattr(crawlmod, "apply_updates", capture)
        for ep in range(1, EPOCHS + 1):
            metrics[ep] = eng.run_epoch(ep)
            for cell, dirs in eng.catalog.frontier_parts(ep).items():
                if cell != "pending":
                    for d in dirs:
                        terminal_files.setdefault(d, _files(d))
    return eng, metrics, terminal_files, merge_leaves


@pytest.mark.slow
def test_terminal_cells_append_only(tiny_crawl):
    eng, _, terminal_files, _ = tiny_crawl
    cat = eng.catalog
    assert cat.last_epoch() == EPOCHS

    for ep in range(1, EPOCHS + 1):
        prev, cur = cat.frontier_parts(ep - 1), cat.frontier_parts(ep)
        for cell, dirs in cur.items():
            if cell == "pending":
                continue
            # one cell per terminal status
            assert cell in ("done", "failed", "disallowed"), cell
            # earlier dirs survive verbatim, in order; the epoch adds at
            # most one dir of its own
            old = prev.get(cell, [])
            assert dirs[: len(old)] == old, (ep, cell)
            added = dirs[len(old):]
            assert len(added) <= 1, (ep, cell, added)
            assert all(f"epoch={ep:06d}" in d for d in added), (ep, cell, added)
        if ep >= 2:
            # strict subset: at least one dir from an older epoch is reused
            reused = [
                d for dirs in cur.values() for d in dirs if f"epoch={ep:06d}" not in d
            ]
            assert reused, f"epoch {ep} rewrote every cell"

    # no terminal dir changed after the epoch that committed it
    assert terminal_files
    for d, files in terminal_files.items():
        assert _files(d) == files, d

    # integrity: committed frontier has unique url_hash and matching count
    fr = cat.read_snapshot("frontier")
    n = fr.count()
    assert n == fr.select("url_hash").distinct().count()
    assert n == cat.manifest(cat.last_epoch())["snapshots"]["frontier"]["rows"]


@pytest.mark.slow
def test_lineage_rows_match_metrics(tiny_crawl):
    """Lineage rows (one per file a stage wrote) add up to the epoch's
    metrics: pop and fetch_parse to urls_popped, dedup_insert to
    outlinks_new."""
    eng, metrics, _, _ = tiny_crawl
    cat = eng.catalog
    lineage = cat.read_appended("lineage")
    sums = defaultdict(int)
    for r in lineage.groupBy("epoch", "stage").agg(F.sum("rows_out").alias("n")).collect():
        sums[(r["epoch"], r["stage"])] = r["n"]
    for ep, m in metrics.items():
        assert sums[(ep, "pop")] == m["urls_popped"], ep
        assert sums[(ep, "fetch_parse")] == m["urls_popped"], ep
        assert sums[(ep, "dedup_insert")] == m["outlinks_new"], ep
        entry = cat.manifest(ep)["appends"]["lineage"]
        assert entry["rows"] == lineage.where(F.col("epoch") == ep).count(), ep
    assert lineage.where(F.col("partition_id") < 0).count() == 0


@pytest.mark.slow
def test_merge_reads_the_gated_cache(tiny_crawl):
    """The merge is the one place pending rows change status: its input is
    the gated cache (one leaf, an InMemoryRelation) with the disallowed
    rows marked, not a second scan of the pending dirs.  No manifest
    carries a tracked pending count: pending_end is counted on the merge's
    write."""
    eng, _, _, merge_leaves = tiny_crawl
    assert merge_leaves == [["InMemoryRelation"]] * EPOCHS, merge_leaves
    for ep in range(EPOCHS + 1):
        assert "pending" not in eng.catalog.manifest(ep)["meta"], ep


def test_committed_frontier_read_starts_no_job(spark, tmp_path):
    """Reading a committed frontier over more than 32 leaf dirs (Spark's
    default parallel-listing threshold) lists them on the driver: no job."""
    n_dirs = 40
    rows = [
        (b, f"https://h{b}.example/", f"h{b}.example", b, 0, 0.0, 0, "pending", 0, None)
        for b in range(n_dirs)
    ]
    out = str(tmp_path / "cells")
    (
        spark.createDataFrame(rows, FRONTIER)
        .withColumn("_b", F.col("host_bucket"))
        .write.partitionBy("_b")
        .parquet(out)
    )
    eng = CrawlEngine(spark, str(tmp_path / "c"), TINY, n_buckets=n_dirs)
    cat = eng.catalog
    # per-bucket pending keys, the layout of catalogs written before the
    # pending rows shared one cell: reads still match them by status
    parts = {f"pending/{b}": [os.path.join(out, f"_b={b}")] for b in range(n_dirs)}
    cat.commit(0, {"frontier": {"rows": n_dirs, "parts": parts}}, appends={})

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    df = cat.read_parts(cat.frontier_parts(), schema=FRONTIER)
    assert set(tracker.getJobIdsForGroup()) - before == set()
    assert df.count() == n_dirs


@pytest.fixture(scope="module")
def flaky_crawl(spark, tmp_path_factory):
    """A TINY_FLAKY crawl (disallowed rows, fetch failures, inserts) at the
    default bucket count; records every epoch's cell map and the parquet
    files its frontier staging dir holds, init included."""
    eng = CrawlEngine(
        spark, str(tmp_path_factory.mktemp("flaky")), TINY_FLAKY, n_filter_parts=4
    )
    eng.init_run(gen_seed_urls(TINY_FLAKY))
    cat = eng.catalog
    totals, parts, n_files = defaultdict(int), {}, {}
    for ep in range(EPOCHS + 1):
        if ep:
            for key, v in eng.run_epoch(ep).items():
                totals[key] += v
        parts[ep] = cat.frontier_parts(ep)
        n_files[ep] = sum(
            f.endswith(".parquet")
            for _, _, files in os.walk(cat.stage_path(ep, "frontier"))
            for f in files
        )
    assert totals["disallowed"] and totals["urls_fetch_fail"] and totals["outlinks_new"], totals
    return parts, n_files


@pytest.mark.slow
def test_pending_cells_hold_only_this_epochs_dirs(flaky_crawl):
    """After init and after every epoch, exactly one pending cell exists,
    and it names only dirs written by that epoch: its merged dir and at
    most one insert dir."""
    parts, _ = flaky_crawl
    for ep, cells in parts.items():
        pending = {c: d for c, d in cells.items() if c.partition("/")[0] == "pending"}
        assert list(pending) == ["pending"], (ep, list(pending))
        dirs = pending["pending"]
        assert 1 <= len(dirs) <= 2, (ep, dirs)
        assert all(f"epoch={ep:06d}" in d for d in dirs), (ep, dirs)


@pytest.mark.slow
def test_frontier_files_per_epoch_bounded_by_write_tasks(spark, flaky_crawl):
    """An epoch's frontier writes hold at most one file per write task in
    the pending dirs (merged and insert) plus one per terminal status:
    2·n + 3 parquet files, n being the session's shuffle partitions, however
    many host buckets the pending rows span."""
    _, n_files = flaky_crawl
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    for ep, count in n_files.items():
        assert 0 < count <= 2 * n + 3, (ep, count, n)
