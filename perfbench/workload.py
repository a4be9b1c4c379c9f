"""One measured run of one benchmark workload, in a fresh process.

``perfbench/run.py`` starts this file pinned to the machine's cores, from the
repository root, and reads the JSON result it writes to ``--out``:

    python3 perfbench/workload.py --workload crawl_polite --seed 1 \
        --seconds 20 --trace 0 --cores 4 --work .perfbench/work --out result.json

The program is driven only through its public entry points:
``CrawlEngine.init_run`` / ``run_epoch`` over a generated seed list, and
``__spark_entry__.queries()`` over generated tables.  The run is one
closed-loop client: each epoch or query starts when the previous one has
returned.  Outputs are checked after the timed region; every operation that
raised or failed a check counts as failed.
"""

from __future__ import annotations

import time

T_PROC0 = time.time()  # process start, before the heavy imports

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402

REPO = os.getcwd()
sys.path.insert(0, REPO)
sys.path.insert(1, os.path.dirname(os.path.abspath(__file__)))

import duckdb  # noqa: E402

import corpus_data  # noqa: E402
from spans import Tracer  # noqa: E402

# The analytics query set: at least one query per analytics module, each
# with a DuckDB twin in oracle_sql().  frontier_pop and canonicalize_urls
# run engine.frontier / engine.canonicalize outside any crawl.
QUERY_SET = (
    "pipeline_multimodal_corpus",
    "dedup_exact",
    "link_pagerank",
    "index_bm25_topk",
    "ann_topk_bruteforce",
    "text_quality",
    "doc_pii_scrub",
    "frontier_pop",
    "canonicalize_urls",
    "crawl_host_graph",
    "events_sessionize",
    "j10_star_q5",
    "media_interleaved_pack",
    "doc_sample_stratified",
    "ud5_grouped_agg_udaf",
)
CORPUS_SCALE = 0.01
# the untimed warm pass runs every query once on a tenth-size copy: plan
# shapes, JIT and the Python worker pool warm up at a fraction of the cost
WARM_SCALE = 0.001

# Crawl workloads: graph shape and engine settings.  The seed argument
# becomes GraphConfig.graph_seed.
CRAWL = {
    # many seeds per host and a uniform budget: every epoch pops and
    # fetches a large batch, so per-URL work weighs most
    "crawl_bulk": {
        "graph": {"n_hosts": 1000, "max_pages": 200, "max_depth": 6},
        "seed_pages": 10,
        "bench_budget": 20,
    },
    # one seed per host, natural budgets of 1-5, delays and failures:
    # small epochs where the fixed per-epoch driver cost weighs most (on
    # 4 cores an epoch of 1000 hosts takes ~12 s, one of 2000 hosts ~15 s)
    "crawl_polite": {
        "graph": {"n_hosts": 1000, "max_pages": 200, "max_depth": 6, "delay_mod": 4, "fail_mod": 20},
        "seed_pages": 0,
        "bench_budget": None,
    },
}
ENGINE_KW = {"n_buckets": 64, "n_filter_parts": 16, "salt": 16}
METRIC_KEYS = (
    "urls_popped",
    "urls_fetch_ok",
    "urls_fetch_fail",
    "docs_parsed",
    "outlinks_extracted",
    "outlinks_candidates",
    "outlinks_new",
    "disallowed",
    "pending_end",
)
FPR_PROBES = 200_000
# a run measures at least this many operations and at least --seconds
MIN_OPS = 2
# the first epoch pays JIT and Python-worker warm-up (~30% slower than the
# next one on fewer URLs); it is checked but not timed, so it is set-up
WARM_EPOCHS = 1


def _median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


class PhaseTap:
    """Stand-in for sys.stderr that keeps the engine's per-epoch timing
    lines (``SPARK_GRAFT_EPOCH_TIMING``) and passes all other text on."""

    def __init__(self, inner):
        self.inner = inner
        self.buf = ""
        self.records: list[dict] = []

    def write(self, s: str) -> int:
        self.buf += s
        while "\n" in self.buf:
            line, self.buf = self.buf.split("\n", 1)
            if line.startswith('{"epoch"'):
                self.records.append(json.loads(line))
            else:
                self.inner.write(line + "\n")
        return len(s)

    def flush(self) -> None:
        self.inner.flush()

    def __getattr__(self, name):
        return getattr(self.inner, name)


def build_spark(n_cores: int, work: str):
    from engine.session import build_session

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return build_session(
        app_name="perfbench",
        master=f"local[{n_cores}]",
        shuffle_partitions=2 * n_cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )


class JobCounter:
    """Jobs, completed tasks and failed tasks since the last call, from
    Spark's public status tracker (works with the UI off)."""

    def __init__(self, sc):
        self.tracker = sc.statusTracker()
        self.seen = set(self.tracker.getJobIdsForGroup())

    def delta(self) -> tuple[int, int, int]:
        ids = [j for j in self.tracker.getJobIdsForGroup() if j not in self.seen]
        self.seen.update(ids)
        stages = set()
        for j in ids:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = failed = 0
        for sid in stages:
            st = self.tracker.getStageInfo(sid)
            if st is not None:
                tasks += st.numCompletedTasks
                failed += st.numFailedTasks
        return len(ids), tasks, failed


# ---------------------------------------------------------------- crawl


def crawl_inputs(workload: str, seed: int):
    from engine.synthgraph import GraphConfig, gen_seed_urls

    spec = CRAWL[workload]
    cfg = GraphConfig(graph_seed=seed, **spec["graph"])
    if spec["seed_pages"]:
        seeds = [
            f"https://host{h:04d}.example/page/{p}"
            for h in range(cfg.n_hosts)
            for p in range(spec["seed_pages"])
        ]
    else:
        seeds = gen_seed_urls(cfg)
    return cfg, seeds, spec["bench_budget"]


def _parquet_files(dirs: list[str]) -> list[str]:
    return [f for d in dirs for f in sorted(glob.glob(os.path.join(d, "*.parquet")))]


def read_catalog(root: str, last_epoch: int):
    """Committed frontier (url_hash, status) and crawl_log rows of the
    catalog at ``root``, read from the files through DuckDB rather than
    through the engine's own read path."""
    con = duckdb.connect()
    man_dir = os.path.join(root, "manifests")

    def manifest(ep: int) -> dict:
        with open(os.path.join(man_dir, f"manifest-{ep:06d}.json")) as f:
            return json.load(f)

    parts = manifest(last_epoch)["snapshots"]["frontier"]["parts"]
    frontier = con.execute(
        "SELECT url_hash, status FROM read_parquet(?, hive_partitioning = false)",
        [_parquet_files([d for dirs in parts.values() for d in dirs])],
    ).fetchall()
    log_dirs = []
    for ep in range(1, last_epoch + 1):
        entry = manifest(ep)["appends"].get("crawl_log")
        if entry and entry["rows"] > 0:
            log_dirs.append(entry["path"])
    log_files = _parquet_files(log_dirs)
    crawl_log = []
    if log_files:
        crawl_log = con.execute(
            "SELECT epoch, host, fetch_seq_in_host, url, url_hash"
            " FROM read_parquet(?, hive_partitioning = false)",
            [log_files],
        ).fetchall()
    con.close()
    return frontier, crawl_log


def check_polite(root, seeds, cfg, metrics) -> set[int]:
    """Epochs whose metrics or (epoch, host) pop order differ from the
    pyref oracle; a wrong final seen set is charged to the last epoch."""
    from pyref.oracle import run_crawl

    epochs = [m["epoch"] for m in metrics]
    ref = run_crawl(seeds, cfg, max_epochs=epochs[-1])
    frontier, crawl_log = read_catalog(root, epochs[-1])
    want_metrics = {m["epoch"]: m for m in ref.metrics}
    bad = set()
    for m in metrics:
        want = want_metrics.get(m["epoch"])
        if want is None or any(m[k] != want[k] for k in METRIC_KEYS):
            bad.add(m["epoch"])
    got_log, want_log = defaultdict(list), defaultdict(list)
    for row in crawl_log:
        got_log[row[0]].append(tuple(row))
    for row in ref.crawl_log:
        want_log[row[0]].append(tuple(row))
    for ep in epochs:
        if sorted(got_log[ep]) != sorted(want_log[ep]):
            bad.add(ep)
    if {h for h, _ in frontier} != ref.seen_set:
        bad.add(epochs[-1])
    return bad


def check_bulk(root, seeds, cfg, metrics) -> set[int]:
    """Invariants: unique frontier url_hash, pending_end equal to the
    committed pending rows, crawl_log rows equal to urls_popped, and epoch 1
    popping every distinct canonical seed that robots allows."""
    from engine.synthgraph import robots_allowed, robots_rules_for_host
    from engine.urlnorm import canonicalize_url, host_of, path_of
    from engine.xxh64 import xxh64_str

    last = metrics[-1]["epoch"]
    frontier, crawl_log = read_catalog(root, last)
    bad = set()
    hashes = [h for h, _ in frontier]
    pending = sum(1 for _, st in frontier if st == "pending")
    if len(hashes) != len(set(hashes)) or pending != metrics[-1]["pending_end"]:
        bad.add(last)
    popped_in, rows = defaultdict(set), defaultdict(int)
    for ep, _, _, _, h in crawl_log:
        popped_in[ep].add(h)
        rows[ep] += 1
    for m in metrics:
        if rows[m["epoch"]] != m["urls_popped"]:
            bad.add(m["epoch"])
    allowed_seeds = set()
    for raw in seeds:
        canon = canonicalize_url(raw)
        if canon is not None and robots_allowed(
            path_of(canon), robots_rules_for_host(host_of(canon), cfg.graph_seed)
        ):
            allowed_seeds.add(xxh64_str(canon))
    if popped_in[1] != allowed_seeds:
        bad.add(1)
    return bad


def _walk(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


def seen_fpr(spark, eng, seed: int) -> float:
    """False-positive rate of the committed seen filter, probed with
    random hashes that are absent from the committed frontier."""
    import numpy as np
    import pandas as pd

    from engine import seen as seenmod

    last = eng.catalog.last_epoch()
    known = {h for h, _ in read_catalog(eng.catalog.root, last)[0]}
    rng = np.random.default_rng(seed)
    drawn = rng.integers(-(1 << 63), (1 << 63) - 1, FPR_PROBES, dtype="int64").tolist()
    probes = np.array([h for h in drawn if h not in known], dtype="int64")
    cands = spark.createDataFrame(pd.DataFrame({"url_hash": probes}))
    blobs = eng.catalog.read_snapshot("seen_filter")
    hits = seenmod.probe_filter(cands, blobs, eng.n_filter_parts).where("maybe_seen").count()
    return hits / len(probes)


def crawl_layers(spark, eng, seed: int, metrics: list[dict], per_epoch: list) -> dict:
    """Per-layer numbers of a traced crawl run: medians over the measured
    epochs of the engine's phase and future walls, plus counters."""

    def phase(name: str) -> float:
        return _median([p.get(name, 0.0) for p, _ in per_epoch])

    def future(name: str) -> float:
        return _median([p.get("futures", {}).get(name, (0.0, 0.0))[1] for p, _ in per_epoch])

    walks = [_walk(eng.catalog.stage_path(m["epoch"], "")) for m in metrics]
    popped = [max(1, m["urls_popped"]) for m in metrics]
    return {
        "catalog.scan_plan_s": phase("gate_build"),
        "catalog.frontier_dirs": sum(len(d) for d in eng.catalog.frontier_parts().values()),
        "catalog.compact_s": phase("assemble"),
        "catalog.commit_s": phase("commit"),
        "catalog.bytes_per_url": _median([w[1] / n for w, n in zip(walks, popped)]),
        "catalog.files_per_epoch": _median([w[0] for w in walks]),
        "fetch.stage_s": phase("fetch_write"),
        "frontier.crawl_log_s": future("crawl_log"),
        "frontier.insert_s": future("insert_cells"),
        "frontier.merge_s": future("merged"),
        "parse.candidates_per_url": _median(
            [m["outlinks_candidates"] / n for m, n in zip(metrics, popped)]
        ),
        "seen.update_s": future("seen"),
        "seen.fpr": seen_fpr(spark, eng, seed),
        "seen.new_ratio": _median(
            [m["outlinks_new"] / max(1, m["outlinks_candidates"]) for m in metrics]
        ),
        "robots.delta_s": future("robots_delta"),
        "robots.disallowed_ratio": _median(
            [m["disallowed"] / max(1, m["urls_popped"] + m["disallowed"]) for m in metrics]
        ),
        "lineage.write_s": future("lineage"),
        "crawl.overlap_s": phase("overlap_stats_writes"),
        "crawl.jobs_per_epoch": _median([j[0] for _, j in per_epoch]),
        "crawl.tasks_per_epoch": _median([j[1] for _, j in per_epoch]),
        "crawl.tasks_failed": sum(j[2] for _, j in per_epoch),
    }


def run_crawl_workload(args, tracer: Tracer | None) -> dict:
    from engine.crawl import CrawlEngine

    cfg, seeds, budget = crawl_inputs(args.workload, args.seed)
    t_sess = time.time()
    spark = build_spark(args.cores, args.work)
    try:
        t_init = time.time()
        eng = CrawlEngine(
            spark, os.path.join(args.work, "catalog"), cfg, bench_budget=budget, **ENGINE_KW
        )
        eng.init_run(seeds)
        t_meas = t_ready = time.time()  # t_meas moves past the warm-up epochs
        layer = {"session.start_s": t_init - t_sess, "crawl.init_run_s": t_ready - t_init}
        if tracer:
            tracer.span("session.start", t_sess, t_init)
            tracer.span("crawl.init_run", t_init, t_ready)
            tap = sys.stderr = PhaseTap(sys.stderr)
            jobs = JobCounter(spark.sparkContext)

        metrics, walls, per_epoch, raised = [], [], [], 0
        epoch = 1
        while True:
            t = time.time()
            try:
                m = eng.run_epoch(epoch)
            except Exception:  # noqa: BLE001 - a failed operation, counted below
                traceback.print_exc()
                raised = 1
                break
            end = time.time()
            metrics.append(dict(m, epoch=epoch))
            if tracer:
                eid = tracer.span("crawl.run_epoch", t, end, epoch=epoch, warm_up=epoch <= WARM_EPOCHS)
                phases = tap.records.pop()["phases_s"] if tap.records else {}
                tracer.engine_phases(phases, t, eid)
                counts = jobs.delta()
            if epoch <= WARM_EPOCHS:
                t_meas = end
            else:
                walls.append(end - t)
                if tracer:
                    per_epoch.append((phases, counts))
            epoch += 1
            if m["pending_end"] == 0 or (len(walls) >= MIN_OPS and end - t_meas >= args.seconds):
                break
        if tracer:
            sys.stderr = tap.inner

        check = check_polite if args.workload == "crawl_polite" else check_bulk
        bad = check(eng.catalog.root, seeds, cfg, metrics) if metrics else set()
        timed = metrics[WARM_EPOCHS:]
        if tracer and timed:
            layer.update(crawl_layers(spark, eng, args.seed, timed, per_epoch))
        return {
            "attempted": len(metrics) + raised,
            "failed": len(bad) + raised,
            "e2e": {
                "setup_s": t_meas - T_PROC0,
                "op_wall_p50_s": _median(walls),
                "items_per_s": sum(m["urls_popped"] for m in timed) / sum(walls) if walls else 0.0,
            },
            "layer": layer,
        }
    finally:
        spark.stop()


# --------------------------------------------------------------- corpus


def run_corpus_workload(args, tracer: Tracer | None) -> dict:
    import __spark_entry__ as se
    from analytics.common import TABLES
    from tools.check_parity import normalize

    data, warm = os.path.join(args.work, "corpus"), os.path.join(args.work, "corpus-warm")
    corpus_data.generate(data, args.seed, CORPUS_SCALE)
    corpus_data.generate(warm, args.seed, WARM_SCALE)
    order = list(QUERY_SET)
    random.Random(args.seed).shuffle(order)
    queries = se.queries()
    module = {n: mod.__name__ for mod in se._MODULES for n in mod.QUERIES}

    t_sess = time.time()
    spark = build_spark(args.cores, args.work)
    try:
        t_warm = time.time()
        for name in order:
            queries[name](spark, warm).collect()
        t_meas = time.time()
        layer = {"session.start_s": t_warm - t_sess}
        if tracer:
            tracer.span("session.start", t_sess, t_warm)
            tracer.span("corpus.warm_pass", t_warm, t_meas)

        results, walls, passes = [], defaultdict(list), []
        while True:
            t_pass = time.time()
            pid = tracer.span("corpus.pass", t_pass, t_pass) if tracer else None
            for name in order:
                t = time.time()
                try:
                    df = queries[name](spark, data)
                    results.append((name, df.columns, df.collect()))
                except Exception:  # noqa: BLE001 - a failed operation, counted below
                    traceback.print_exc()
                    results.append((name, None, None))
                end = time.time()
                walls[name].append(end - t)
                if tracer:
                    tracer.span(f"query.{name}", t, end, pid, module=module[name])
            end = time.time()
            passes.append(end - t_pass)
            if tracer:
                tracer.close(pid, end)
            if len(passes) >= MIN_OPS and end - t_meas >= args.seconds:
                break

        con = duckdb.connect()
        for table in TABLES:
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{data}/{table}.parquet')")
        oracles, want = se.oracle_sql(), {}
        for name in order:
            cur = con.execute(oracles[name])
            cols = [d[0] for d in cur.description]
            want[name] = (sorted(cols), normalize(cur.fetchall(), cols))
        con.close()
        wrong = [
            name
            for name, cols, rows in results
            if cols is None or want[name] != (sorted(cols), normalize([tuple(r) for r in rows], cols))
        ]
        if wrong:
            print(f"perfbench: results differ from DuckDB: {sorted(set(wrong))}", file=sys.stderr)
        failed = len(wrong)
        if tracer:
            mods = defaultdict(float)
            for name in order:
                mods[module[name]] += _median(walls[name])
            layer.update({f"{m}.wall_s": v for m, v in mods.items()})
            layer["frontier.pop_query_s"] = _median(walls["frontier_pop"])
            layer["canonicalize.query_s"] = _median(walls["canonicalize_urls"])
        return {
            "attempted": len(results),
            "failed": failed,
            "e2e": {
                "setup_s": t_meas - T_PROC0,
                "op_wall_p50_s": _median(passes),
                "items_per_s": len(results) / sum(passes),
            },
            "layer": layer,
        }
    finally:
        spark.stop()


WORKLOADS = {
    "crawl_bulk": run_crawl_workload,
    "crawl_polite": run_crawl_workload,
    "corpus_queries": run_corpus_workload,
}


def main() -> int:
    ap = argparse.ArgumentParser(description="one measured run of one workload")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spans", default=None, help="span file of a traced run")
    args = ap.parse_args()
    tracer = Tracer(T_PROC0) if args.trace else None
    result = WORKLOADS[args.workload](args, tracer)
    if tracer and args.spans:
        tracer.write(args.spans)
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
