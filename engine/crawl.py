"""E1 — the epoch driver loop: one Spark batch job per scheduling epoch.

Per-epoch dataflow (SURVEY.md §3.1, shuffles labeled):

  pending scan (partition-pruned on status)             [no shuffle]
  → R2 robots gate (broadcast join + array HOF, zero-shuffle —
    rules were prefetched by init_run / the previous epoch, so R1
    never sits on the epoch critical path) → the gated cache
  → politeness k (broadcast join budgets)
  → F5 salted two-stage window-rank pop                 [shuffle 1: (host,salt); shuffle 2: host (pruned)]
  → F6+X1+X2+C1 fused fetch/parse/extract/canonicalize (mapInPandas,
    raw outlinks → canonical ``links``)                 [narrow]
  ── the F7 merge of the gated cache (disallowed rows marked) with the
     popped rows' Q1 transitions starts here, on a thread pool ──
  → dedup phase, on the main thread, materialized ONCE into a cache:
    X2 explode ``links`` + intra-epoch min_by dedup     [shuffle 3: url_hash]
    → D1 bloom probe (cogrouped applyInPandas)          [shuffle 4: part_id]
    → D2 exact anti-join of maybe-seen rows vs frontier [shuffle 5: url_hash, bloom-cut]
  ── everything below overlaps on the pool, each future its own write ──
  → F7 insert-dir appends + D3 filter update
    + R1 robots for this epoch's new hosts → staging writes
  → L1 lineage from the written files' parquet footers  [driver, no job]
  → K1 atomic manifest commit                           [driver]

Frontier layout (engine/catalog.py cell notes): the frontier is
partitioned by status alone, since no reader prunes on anything else.
Every pending row's host pops at least one row or has that row
disallowed (k >= 1), so each epoch rewrites all pending rows, O(pending)
and not O(delta), and the one pending cell ends the epoch with one merged
dir and at most one insert dir.  Rows that leave 'pending' are read only
whole, by D2's anti-join, so each epoch writes them as ONE leaf dir per
terminal status, appended to that status's cell and never rewritten or
compacted.  Cell writes repartition to the session's shuffle partition
count, spreading pending rows by host_bucket, so they run as several
tasks with at most one file per task in the pending dir and one file per
terminal dir.  No read lists its dirs through a Spark job: the session
keeps the parallel listing threshold above any catalog's dir count
(engine/session.py) and frontier reads pass the schema, so a read costs
driver-side listing only.

Determinism: every ordering decision reduces to the total key
(priority, depth, url_hash), so the committed tables are identical at any
parallelism — that is what the pyref-parity tests and the N-vs-4N scaling
protocol both rely on.
"""

from __future__ import annotations

import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from engine import seen as seenmod
from engine.canonicalize import path_expr
from engine.catalog import SnapshotCatalog
from engine.fetch import fetch_parse
from engine.frontier import apply_updates, pending_rows, pop_frontier, retry_transition
from engine.lineage import write_lineage_parquet, write_metrics_parquet
from engine.parse import extract_candidates
from engine.robots import fetch_robots, robots_gate
from engine.schemas import (
    FETCHED_STAGED,
    FRONTIER,
    POLITENESS_BUDGETS,
    ROBOTS_RULES,
    SEEN_FILTER,
)
from engine.seed import seeds_to_frontier
from engine.synthgraph import GraphConfig, gen_budgets


# politeness budget of a host with no budgets row: every graph host has
# one, so this only keeps the budgets join total
DEFAULT_K = 1
# dirs the robots snapshot may hold before it is rewritten into one dir
MAX_CELL_DIRS = 16


class CrawlEngine:
    """Spark-native crawl engine over snapshot-versioned (Iceberg-role) tables."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        cfg: GraphConfig,
        *,
        n_buckets: int = 64,
        n_filter_parts: int = 16,
        salt: int = 16,
        bench_budget: int | None = None,
        filter_kind: str = "bloom",
    ):
        self.spark = spark
        self.cfg = cfg
        self.n_buckets = n_buckets
        self.n_filter_parts = n_filter_parts
        self.salt = salt
        self.bench_budget = bench_budget
        self.filter_kind = filter_kind
        self.catalog = SnapshotCatalog(spark, root)

    # ------------------------------------------------------------------ init
    def init_run(self, seeds: list[str]) -> None:
        """Epoch-0 commit: frontier from seeds, budgets, seed-host robots, filter."""
        cat = self.catalog
        fr_obs = Observation("seed_frontier")
        frontier = seeds_to_frontier(self.spark, seeds, self.n_buckets).observe(
            fr_obs, F.count(F.lit(1)).alias("n")
        )
        fr_path = cat.stage_path(0, "frontier")
        cells = self._write_cells(frontier, os.path.join(fr_path, "pending"))
        n_frontier = fr_obs.get["n"]
        parts0 = {cell: [p] for cell, p in cells.items()}
        frontier = cat.read_parts(parts0, schema=FRONTIER)

        # bench_budget: uniform politeness budget for throughput benches
        # (politeness *semantics* are identical; only the k value changes,
        # so oracle-parity configs must leave this None)
        rows = (
            [(h, self.bench_budget, 0.0) for h, _, _ in gen_budgets(self.cfg)]
            if self.bench_budget is not None
            else gen_budgets(self.cfg)
        )
        bud_path = cat.stage_path(0, "politeness_budgets")
        self._write(self.spark.createDataFrame(rows, POLITENESS_BUDGETS), bud_path)

        # R1 prefetch: rules for the SEED hosts are acquired here, and every
        # epoch acquires rules for its INSERT hosts as part of its
        # overlapped writes.  Every host that ever held a frontier row
        # entered as a seed or an insert, so the committed robots table
        # covers every host a pending scan can produce: the R2 gate never
        # sees a rule-less host, and no epoch starts with a synchronous
        # rules job.  The dir stays even when empty, so the robots snapshot
        # always names at least one path.
        rob_path = cat.stage_path(0, "robots_rules")
        n_rules = self._write_rules(frontier.select("host").distinct(), 0, rob_path)

        blobs = seenmod.init_filter(
            self.spark,
            frontier.select("url_hash"),
            self.n_filter_parts,
            kind=self.filter_kind,
        )
        sf_path = cat.stage_path(0, "seen_filter")
        self._write(blobs, sf_path)
        cat.commit(
            0,
            {
                "frontier": {"rows": n_frontier, "parts": parts0},
                "politeness_budgets": {"path": bud_path, "rows": len(rows)},
                "robots_rules": {"paths": [rob_path], "rows": n_rules},
                "seen_filter": {"path": sf_path, "rows": self.n_filter_parts},
            },
            appends={},
            # the frontier and robots counts are their snapshot entries'
            # ``rows``; an epoch counts its pending rows as it writes them
            meta={"cfg": repr(self.cfg)},
        )

    # ----------------------------------------------------------------- epoch
    def run_epoch(self, epoch: int) -> dict:
        t0 = time.time()
        _ph, _tp = {}, [time.time()]

        def _mark(name: str) -> None:
            # phase wall-clock profile, printed when SPARK_GRAFT_EPOCH_TIMING
            # is set — perfbench's PhaseTap reads it to attribute an
            # epoch's wall time to a concrete stage
            now = time.time()
            _ph[name] = round(now - _tp[0], 2)
            _tp[0] = now

        def _timed(name: str, fn, *args):
            # per-future (start, dur) relative to epoch t0: shows which
            # concurrent job is the overlap window's straggler
            def wrapped():
                s = time.time()
                try:
                    return fn(*args)
                finally:
                    _ph.setdefault("futures", {})[name] = (
                        round(s - t0, 2),
                        round(time.time() - s, 2),
                    )

            return wrapped

        spark, cat, cfg = self.spark, self.catalog, self.cfg
        budgets = cat.read_snapshot("politeness_budgets", schema=POLITENESS_BUDGETS)
        prev_epoch = cat.last_epoch()
        prev_manifest = cat.manifest(prev_epoch)
        prev_snaps = prev_manifest["snapshots"]
        prev_rows = prev_snaps["frontier"]["rows"]
        prev_robots_rows = prev_snaps["robots_rules"]["rows"]

        # SC3 scan prune: the pending scan is pruned at the MANIFEST —
        # terminal (done/failed/disallowed) dirs are never even listed, let
        # alone read.  Both reads list their dirs on the driver (no job).
        parts = prev_snaps["frontier"]["parts"]
        frontier = cat.read_parts(parts, schema=FRONTIER)
        pending = cat.read_parts(parts, status="pending", schema=FRONTIER)

        # --- R2 gate; R1 ran AHEAD (init_run / previous epoch's overlap) ---
        # The committed robots table already covers every host that has
        # ever held a frontier row (init_run's R1 note), so the epoch start
        # needs NO synchronous rules job — the acquisition for this epoch's
        # newly-discovered hosts runs below, overlapped with the writes.
        robots_paths = prev_snaps["robots_rules"]["paths"]
        robots = spark.read.schema(ROBOTS_RULES).parquet(*robots_paths)
        gated = robots_gate(pending.withColumn("path", path_expr()), robots).drop("path")
        # the pool of overlapped writes and every cache are released whether
        # or not the epoch commits: a failed epoch leaves no writer running
        # into its staging dirs and no persisted frame behind
        pool = ThreadPoolExecutor(max_workers=10)
        gated = gated.persist()
        popped = probed = flagged = None
        try:
            _mark("gate_build")
            eligible = gated.where(F.col("allowed"))

            # --- politeness k + F5 pop ---
            # effective k = logical budget ∧ delay cap: a host with
            # min_delay_s = d > 0 fits only floor(epoch_window_s/d)+1 fetches
            # in the epoch's logical window (same rule as pyref/oracle.py and
            # synthgraph.delay_cap — floor division on doubles in both).
            delay_cap_expr = F.when(
                F.col("min_delay_s") > 0,
                (F.floor(F.lit(cfg.epoch_window_s) / F.col("min_delay_s")) + 1).cast("int"),
            ).otherwise(F.lit((1 << 31) - 1))
            elig_k = (
                eligible.join(
                    F.broadcast(
                        budgets.select(
                            "host",
                            F.col("max_fetches_per_epoch").alias("k"),
                            "min_delay_s",
                        )
                    ),
                    "host",
                    "left",
                )
                .fillna({"k": DEFAULT_K, "min_delay_s": 0.0})
                .withColumn("k", F.least(F.col("k"), delay_cap_expr))
            )
            popped = pop_frontier(elig_k, self.salt).persist()
            # Materialize each persisted stage ONCE, in dependency order, before
            # anything downstream references it from multiple branches.  Without
            # this, the first write action recomputes the whole lazy chain
            # (pandas-UDF fetch included) once per branch — measured 98s vs 5s
            # for the frontier write at 8k pops.  The popped/gated caches are
            # populated by the crawl_log and fetch writes below.
            crawl_log = popped.select(
                F.lit(epoch).cast("int").alias("epoch"),
                "host",
                "fetch_seq_in_host",
                "url",
                "url_hash",
            )
            # the crawl_log write is submitted BEFORE the fetch write so the
            # (cheap) write overlaps it: both consume the popped cache, whose
            # block locks make the first job compute each partition and the
            # other reuse it — one fewer job serialized into the epoch tail
            crawl_log_path = cat.stage_path(epoch, "crawl_log")
            fut_crawl_log = pool.submit(_timed("crawl_log", self._write, crawl_log, crawl_log_path))

            # --- F6/X1/X2/C1 ---
            # Materialize the fetch output ONCE as a staged parquet table
            # instead of a DISK_ONLY cache.  Rationale (the 100 TB shape): a
            # cached row is monolithic — every downstream consumer (candidate
            # extraction, retry transition, lineage) deserializes the
            # spans payload it never uses — whereas a parquet scan prunes to
            # the columns each consumer reads.  The fat spans column is written
            # exactly once (Python → Arrow → parquet) and never read again this
            # epoch: the committed ``documents`` append IS the ok=1 cells of
            # this directory (zero-copy publish; extra engine columns on the
            # documents table are allowed, SURVEY.md §1.2).  ``okp`` is an int
            # partition column (hive partition inference has no boolean type),
            # so the failed-row consumers prune to the tiny okp=0 cells.  The
            # fetch metrics ride the write as an observation (no stats job
            # over the staged files).
            fetched_dir = cat.stage_path(epoch, "fetched")
            fetch_obs = Observation(f"fetch_stats_e{epoch}")
            self._write(
                fetch_parse(popped, cfg)
                .withColumn("okp", F.col("ok").cast("int"))
                .withColumn("doc_id", F.col("url"))
                .withColumn("epoch", F.lit(epoch).cast("int"))
                .withColumn(
                    "n_outlinks", F.coalesce(F.size("outlinks"), F.lit(0)).cast("int")
                )
                .observe(
                    fetch_obs,
                    F.count(F.when(F.col("ok"), 1)).alias("n_ok"),
                    F.count(F.when(~F.col("ok"), 1)).alias("n_fail"),
                    F.coalesce(
                        F.sum(F.when(F.col("ok"), F.col("n_outlinks"))), F.lit(0)
                    ).alias("links"),
                ),
                fetched_dir,
                partition_cols=["okp"],
            )
            fetched = spark.read.schema(FETCHED_STAGED).parquet(fetched_dir)
            stats = fetch_obs.get
            _mark("fetch_write")

            # --- F7 merge: every pending row, rewritten (O(pending)) ---
            # The one place pending rows change status: the gated cache with
            # its disallowed rows marked (retries and priority kept), plus the
            # popped rows' Q1 transitions.  Every pending row's host pops a row
            # or has it disallowed, so the merge rewrites the whole pending
            # cell; rows leaving 'pending' go to ONE new immutable dir per
            # terminal status, appended to that status's cell and never
            # rewritten — the manifest-level analogue of Iceberg MERGE INTO's
            # add/remove-file commit (engine/catalog.py cell notes).  Its
            # counts ride the write, so they count the rows written.  It runs
            # on the pool from here, overlapping the dedup phase and every
            # write after it.  Atomicity is untouched: nothing is visible until
            # the manifest rename below, and a failure in ANY job aborts the
            # epoch before commit (futures re-raise at the gather).
            marked = gated.withColumn(
                "status",
                F.when(~F.col("allowed"), F.lit("disallowed")).otherwise(F.col("status")),
            ).select(*FRONTIER.fieldNames())
            merge_obs = Observation(f"merge_stats_e{epoch}")
            merged = apply_updates(marked, retry_transition(fetched, cfg.max_retries)).observe(
                merge_obs,
                F.count(F.when(F.col("status") == "pending", 1)).alias("n_pending"),
                F.count(F.when(F.col("status") == "disallowed", 1)).alias("n_disallowed"),
            )
            fr_dir = cat.stage_path(epoch, "frontier")
            fut_merged = pool.submit(_timed(
                "merged", self._write_cells, merged, os.path.join(fr_dir, "cells")
            ))

            # --- dedup phase: X2 → D1 → D2, computed once ---
            # ``flagged`` (every candidate, with ``is_new``) is materialized
            # here, on the main thread, by one noop write: the extract and
            # the probe each run once (the probe's cache serves both routes of
            # flag_new), and the candidate + insert counts fire as an
            # observation under the cache.  The futures below then only
            # read the cache and write.
            cands = extract_candidates(
                fetched.where(F.col("okp") == 1), cfg, self.n_buckets
            )
            seen = cat.read_snapshot("seen_filter", schema=SEEN_FILTER)
            probed = seenmod.probe_filter(cands, seen, self.n_filter_parts).persist()
            ins_obs = Observation(f"ins_stats_e{epoch}")
            flagged = (
                seenmod.flag_new(probed, frontier.select("url_hash"))
                .observe(
                    ins_obs,
                    F.count(F.lit(1)).alias("n_cands"),
                    F.count(F.when(F.col("is_new"), 1)).alias("n"),
                )
                .persist()
            )
            flagged.write.format("noop").mode("overwrite").save()
            ins_stats = ins_obs.get
            _mark("dedup")

            inserts = pending_rows(flagged.where("is_new"), epoch)
            # F7 inserts: one dir, appended to the pending cell next to the
            # merged dir; the next epoch's merge folds both in.
            fut_insert_cells = pool.submit(_timed(
                "insert_cells",
                self._write_cells,
                inserts,
                os.path.join(fr_dir, "inserts"),
            ))

            # --- D3 filter update ---
            def write_seen() -> str:
                new_blobs = seenmod.update_filter(
                    seen, inserts.select("url_hash"), self.n_filter_parts, epoch
                )
                sf_path = cat.stage_path(epoch, "seen_filter")
                self._write(new_blobs, sf_path)
                return sf_path

            fut_seen = pool.submit(_timed("seen", write_seen))

            # --- R1 for NEXT epoch's gate: rules for hosts first discovered by
            # this epoch's inserts, committed with this epoch (init_run's R1
            # note); an empty delta leaves no staging dir and keeps the
            # snapshot ---
            def robots_delta() -> tuple[int, list[str] | None]:
                new_hosts = (
                    inserts.select("host")
                    .distinct()
                    .join(robots.select("host").distinct(), "host", "left_anti")
                )
                rpath = cat.stage_path(epoch, "robots_rules")
                dpath = os.path.join(rpath, "delta")
                n = self._write_rules(new_hosts, epoch, dpath)
                if not n:
                    shutil.rmtree(rpath)
                    return prev_robots_rows, None
                paths = robots_paths + [dpath]
                if len(paths) > MAX_CELL_DIRS:
                    cpath = os.path.join(rpath, "compact")
                    self._write(spark.read.schema(ROBOTS_RULES).parquet(*paths), cpath)
                    paths = [cpath]
                return prev_robots_rows + n, paths

            fut_robots = pool.submit(_timed("robots_delta", robots_delta))

            # --- gather (any failure aborts before commit) ---
            merged_cells = fut_merged.result()
            insert_cells = fut_insert_cells.result()
            fut_crawl_log.result()
            n_robots_rows, new_robots_paths = fut_robots.result()
            sf_path = fut_seen.result()
            _mark("overlap_stats_writes")

            n_ok, n_fail, n_links = int(stats["n_ok"]), int(stats["n_fail"]), int(stats["links"])
            n_popped = n_ok + n_fail
            merge_stats = merge_obs.get
            n_cands, n_new = int(ins_stats["n_cands"]), int(ins_stats["n"])

            # assemble the cell map deterministically on the main thread: the
            # merge rewrote every pending row, so the previous pending cell is
            # dropped (also the per-bucket "pending/<b>" cells of catalogs
            # written before pending rows shared one cell); terminal dirs
            # APPEND to their cells, and the pending cell is the merged dir
            # plus the insert dir
            new_parts = {
                c: list(d) for c, d in parts.items() if c.partition("/")[0] != "pending"
            }
            for cells in (merged_cells, insert_cells):
                for cell, p in cells.items():
                    new_parts.setdefault(cell, []).append(p)

            # --- L1 lineage: row counts from the footers of the files this
            # epoch wrote, read on the driver (no Spark job) ---
            lineage_path = cat.stage_path(epoch, "lineage")
            n_lineage = write_lineage_parquet(
                lineage_path,
                epoch,
                {
                    "pop": [crawl_log_path],
                    "fetch_parse": [fetched_dir],
                    "dedup_insert": list(insert_cells.values()),
                },
                f"epoch={epoch - 1}",
                f"epoch={epoch}",
            )

            appends: dict = {
                # documents needs NO job at all: the append entry points at the
                # okp=1 cells of the already-written fetched staging dir (doc_id
                # / spans / url / host / epoch are in the files; the extra
                # engine columns ride along, nullable-allowed per SURVEY.md §1.2)
                "documents": {"path": os.path.join(fetched_dir, "okp=1"), "rows": n_ok},
                "crawl_log": {"path": crawl_log_path, "rows": n_popped},
                "lineage": {"path": lineage_path, "rows": n_lineage},
            }
            snapshots: dict = {"seen_filter": {"path": sf_path, "rows": self.n_filter_parts}}
            if new_robots_paths is not None:
                snapshots["robots_rules"] = {"paths": new_robots_paths, "rows": n_robots_rows}
            _mark("assemble")

            # --- metrics (definitions shared with pyref.oracle) ---
            # pending_end: the merge's pending rows plus the inserts (all
            # pending); the merge rewrites rows in place, so frontier_rows
            # grows by the inserts alone.  No post-write table scan.
            frontier_rows = prev_rows + n_new
            pending_end = int(merge_stats["n_pending"]) + n_new
            wall = time.time() - t0
            metrics = {
                "urls_popped": n_popped,
                "urls_fetch_ok": n_ok,
                "urls_fetch_fail": n_fail,
                "docs_parsed": n_ok,
                "outlinks_extracted": n_links,
                "outlinks_candidates": n_cands,
                "outlinks_new": n_new,
                "disallowed": int(merge_stats["n_disallowed"]),
                "pending_end": pending_end,
                "wall_ms": wall * 1000.0,
                "urls_per_sec": (n_popped / wall) if wall > 0 else 0.0,
            }
            # metrics are driver-resident scalars: write the parquet directly via
            # pyarrow — zero Spark jobs, same schema as engine.schemas.METRICS
            mpath = cat.stage_path(epoch, "metrics")
            write_metrics_parquet(mpath, epoch, metrics)
            appends["metrics"] = {"path": mpath, "rows": len(metrics)}

            # --- K1 atomic commit ---
            snapshots["frontier"] = {"rows": frontier_rows, "parts": new_parts}
            cat.commit(
                epoch,
                snapshots,
                appends,
                meta={"metrics": metrics},
            )
        finally:
            pool.shutdown(wait=True)
            for df in (gated, popped, probed, flagged):
                if df is not None:
                    df.unpersist()
        _mark("commit")
        if os.environ.get("SPARK_GRAFT_EPOCH_TIMING"):
            import json as _json
            import sys as _sys

            print(
                _json.dumps({"epoch": epoch, "phases_s": _ph}),
                file=_sys.stderr,
                flush=True,
            )
        return metrics

    # ------------------------------------------------------------------- run
    def run(self, max_epochs: int, seeds: list[str] | None = None, resume: bool = False) -> list[dict]:
        """Full crawl: init (or resume) then epoch loop until drained."""
        if resume:
            self.catalog.discard_uncommitted()
            if self.catalog.last_epoch() is None:
                self.init_run(seeds)
        else:
            self.init_run(seeds)
        start = self.catalog.last_epoch() + 1
        out = []
        for epoch in range(start, max_epochs + 1):
            m = self.run_epoch(epoch)
            out.append(m)
            if m["pending_end"] == 0:
                break
        return out

    # ---------------------------------------------------------------- helpers
    def _write_rules(self, hosts: DataFrame, epoch: int, path: str) -> int:
        """R1: write the fetched robots rules of ``hosts`` to ``path`` and
        return the row count, observed on the write, so the counted rows
        are the written rows (a real fetcher is non-deterministic)."""
        obs = Observation(f"robots_rules_e{epoch}")
        self._write(
            fetch_robots(hosts, self.cfg, epoch).observe(obs, F.count(F.lit(1)).alias("n")),
            path,
        )
        return obs.get["n"]

    @staticmethod
    def _write(df: DataFrame, path: str, partition_cols: list[str] | None = None) -> None:
        w = df.write.mode("overwrite")
        if partition_cols:
            w = w.partitionBy(*partition_cols)
        w.parquet(path)

    def _write_cells(self, df: DataFrame, path: str) -> dict[str, str]:
        """Write frontier rows as one leaf dir per status.  Returns
        {status: leaf_dir}.

        The ``_cell`` partition column is a copy of ``status``, so status
        stays IN the data files (a hive leaf dir read directly loses its
        partition columns).  The repartition key spreads pending rows over
        every write task by host_bucket and sends each terminal status to
        one task, so the pending dir holds at most one file per task and
        each terminal dir one file.  An explicit count keeps AQE from coalescing
        the write to one task."""
        key = F.when(
            F.col("status") == "pending", F.col("host_bucket").cast("string")
        ).otherwise(F.col("status"))
        n = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        (
            df.withColumn("_cell", F.col("status"))
            .repartition(n, key)
            .write.mode("overwrite")
            .partitionBy("_cell")
            .parquet(path)
        )
        return {
            d[len("_cell="):]: os.path.join(path, d)
            for d in os.listdir(path)
            if d.startswith("_cell=")
        }
