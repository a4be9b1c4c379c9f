"""The crawl's dedup stage runs once per epoch: C1 inside the fused fetch
crossing (``links``), a JVM-only candidate extract, one seen-filter probe,
and ``flagged`` materialized by the engine's own ``dedup`` phase."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from engine import seen as seenmod
from engine.crawl import CrawlEngine
from engine.fetch import fetch_parse
from engine.parse import extract_candidates
from engine.synthgraph import TINY, gen_seed_urls
from engine.urlnorm import canonicalize_url

# Spark jobs of one TINY epoch (epoch 1 after init_run, test session
# local[8] with 8 shuffle partitions); 41 before the dedup stage ran once,
# 33 while epoch 1 built a politeness-budgets cache the engine held
TINY_EPOCH1_JOBS = 31
# Spark jobs of init_run on TINY, same session; 16 while init_run
# persisted and counted its robots rules and counted the frontier and the
# budgets
TINY_INIT_JOBS = 9


def _plan_node_names(spark, plan) -> list[str]:
    """Node names of a physical plan, descending into AQE and cached
    subplans; a cached relation read in several places is walked once,
    because its plan executes once."""
    identity = spark._jvm.java.lang.System.identityHashCode
    walked, names = set(), []

    def seq(s):
        return [s.apply(i) for i in range(s.size())]

    def walk(node):
        name = node.nodeName()
        names.append(name)
        kids = seq(node.children())
        if name == "AdaptiveSparkPlan":
            kids.append(node.executedPlan())
        elif name.endswith("QueryStage"):
            kids.append(node.plan())
        elif name == "InMemoryTableScan":
            builder = node.relation().cacheBuilder()
            if identity(builder) not in walked:
                walked.add(identity(builder))
                kids.append(builder.cachedPlan())
        for kid in kids:
            walk(kid)

    walk(plan)
    return names


def test_fetch_links_are_canonical_outlinks(spark):
    """``links`` is canonicalize_url(u, base=url) over the raw outlinks, in
    raw order, nulls dropped; the raw ``outlinks`` are untouched."""
    urls = [
        f"https://host{h:04d}.example/page/{p}"
        for h in range(TINY.n_hosts)
        for p in range(TINY.max_pages)
    ]
    popped = spark.createDataFrame([(u,) for u in urls], "url string").select(
        F.xxhash64("url").alias("url_hash"),
        "url",
        F.regexp_extract("url", r"://([^/]+)", 1).alias("host"),
        F.lit(0).alias("depth"),
        F.lit(0).alias("retries"),
    )
    rows = fetch_parse(popped, TINY).select("url", "ok", "outlinks", "links").collect()
    assert len(rows) == len(urls)
    n_slow = 0
    for r in rows:
        assert r["ok"]
        want = [c for c in (canonicalize_url(u, base=r["url"]) for u in r["outlinks"]) if c]
        assert r["links"] == want, r["url"]
        n_slow += sum(a != b for a, b in zip(r["outlinks"], r["links"]))
    assert n_slow > 0, "fixture must hold links the fast path cannot prove canonical"


def test_extract_candidates_is_jvm_only(spark):
    """No Python evaluation in the extract's plan, and the min (depth,
    parent_hash) candidate per canonical url survives."""
    fetched = spark.createDataFrame(
        [
            (1, "https://a.example/page/0", 0, True, ["https://b.example/page/1"]),
            (2, "https://c.example/page/0", 1, True, ["https://b.example/page/1"]),
            (0, "https://d.example/page/0", 0, True, ["https://b.example/page/1"]),
            (3, "https://e.example/page/0", 0, False, None),
            (4, "https://f.example/page/0", TINY.max_depth, True, ["https://g.example/x"]),
        ],
        "url_hash long, url string, depth int, ok boolean, links array<string>",
    )
    cands = extract_candidates(fetched, TINY, 8)
    plan = cands._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    rows = [r.asDict() for r in cands.collect()]
    assert [(r["url"], r["depth"], r["parent_hash"], r["host"]) for r in rows] == [
        ("https://b.example/page/1", 1, 0, "b.example")
    ]


def test_init_filter_plans_one_cogroup(spark):
    """init_filter is the D3 rewrite of one empty blob row per part: one
    cogroup, with no separate seed build and no union for unseeded parts."""
    keys = spark.range(0, 100).select(F.xxhash64("id").alias("url_hash"))
    blobs = seenmod.init_filter(spark, keys, n_parts=4, nbits=1 << 16)
    names = _plan_node_names(spark, blobs._jdf.queryExecution().executedPlan())
    assert names.count("FlatMapCoGroupsInPandas") == 1, names
    assert "FlatMapGroupsInPandas" not in names, names
    assert "Union" not in names, names


@pytest.fixture(scope="module")
def tiny_epoch(spark, tmp_path_factory):
    """init_run and one TINY epoch after it: the job count of each, the
    persistent-RDD count init_run left behind, and the physical plan of the
    frame flag_new returns, captured while the epoch's caches live."""
    eng = CrawlEngine(spark, str(tmp_path_factory.mktemp("dedup")), TINY)
    tracker = spark.sparkContext.statusTracker()
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before, n_persisted = set(tracker.getJobIdsForGroup()), persisted().size()
    eng.init_run(gen_seed_urls(TINY))
    after_init = set(tracker.getJobIdsForGroup())
    init = {"jobs": len(after_init - before), "persisted": persisted().size() - n_persisted}
    plans = []
    flag_new = seenmod.flag_new

    def capture(*args):
        df = flag_new(*args)
        plans.append(df._jdf.queryExecution().executedPlan())
        return df

    with pytest.MonkeyPatch.context() as m:
        m.setattr(seenmod, "flag_new", capture)
        eng.run_epoch(1)
    n_jobs = len(set(tracker.getJobIdsForGroup()) - after_init)
    return init, n_jobs, [_plan_node_names(spark, p) for p in plans]


def test_dedup_frame_plans_one_probe_and_one_extract(tiny_epoch):
    _, _, plans = tiny_epoch
    assert len(plans) == 1
    names = plans[0]
    assert names.count("FlatMapCoGroupsInPandas") == 1, names
    assert names.count("Generate") == 1, names
    assert "ArrowEvalPython" not in names, names


def test_tiny_epoch_job_count(tiny_epoch):
    _, n_jobs, _ = tiny_epoch
    assert n_jobs == TINY_EPOCH1_JOBS


def test_tiny_init_job_count(tiny_epoch):
    """init_run observes its row counts on its writes: no count job, and
    no cache left behind."""
    init, _, _ = tiny_epoch
    assert init == {"jobs": TINY_INIT_JOBS, "persisted": 0}
