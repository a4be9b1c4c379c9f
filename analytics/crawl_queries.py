"""Driver-parity queries over the CRAWL operators themselves.

The flagship (``frontier_pop``) runs the engine's real salted two-stage
window-rank pop (engine/frontier.py F5) over a frontier synthesized
deterministically from the driver's ``orders`` table, and its DuckDB oracle
is the *unsalted* textbook per-host top-k — so the driver independently
proves the skew-defused plan computes the exact spec'd pop order.

``frontier_merge`` and ``robots_longest_prefix`` parity-check F7 and R2 the
same way.  ``canonicalize_urls`` has a *constructive* oracle: the SQL builds
the expected canonical string from the same key, independently of the C1
pandas UDF.  Engine ops whose state DuckDB cannot express (bloom probe,
synthetic fetch/parse, seed ingest with xxhash64 keys) are registered
rows-only; their exactness is covered by tests/ (pytest vs pyref oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from analytics.common import load, registry
from engine import seen as seenmod
from engine.canonicalize import canonicalize_udf, with_url_keys
from engine.fetch import fetch_parse
from engine.frontier import apply_updates, pop_frontier
from engine.robots import robots_gate
from engine.seed import seeds_to_frontier
from engine.synthgraph import TINY, gen_seed_urls

QUERIES, ORACLE, q = registry()


# one definition of the synthetic 211-host frontier key, shared by
# _synth_frontier and recrawl_priority on both engines
_FRONTIER_HOST_SQL = "'h' || lpad(CAST(o_custkey % 211 AS VARCHAR), 4, '0')"


def _frontier_host():
    return F.concat(
        F.lit("h"), F.lpad(F.pmod("o_custkey", F.lit(211)).cast("string"), 4, "0")
    )


def _synth_frontier(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic frontier derived from orders (shared by pop/merge)."""
    o = load(spark, sf, "orders")
    hostnum = F.pmod("o_custkey", F.lit(211))
    return o.select(
        F.col("o_orderkey").alias("url_hash"),
        _frontier_host().alias("host"),
        F.pmod("o_orderkey", F.lit(4)).cast("int").alias("depth"),
        (
            F.pmod("o_orderkey", F.lit(4)).cast("double")
            + F.pmod("o_orderkey", F.lit(7)).cast("double") * 0.25
        ).alias("priority"),
        (F.lit(1) + F.pmod(hostnum, F.lit(5))).cast("int").alias("k"),
    )


_SYNTH_FRONTIER_SQL = f"""
  SELECT o_orderkey AS url_hash,
         {_FRONTIER_HOST_SQL} AS host,
         CAST(o_orderkey % 4 AS INT) AS depth,
         CAST(o_orderkey % 4 AS DOUBLE) + CAST(o_orderkey % 7 AS DOUBLE) * 0.25 AS priority,
         CAST(1 + (o_custkey % 211) % 5 AS INT) AS k
  FROM orders
"""


@q(
    "frontier_pop",
    f"""
    WITH f AS ({_SYNTH_FRONTIER_SQL}),
    r AS (SELECT host, url_hash, k,
                 row_number() OVER (PARTITION BY host
                                    ORDER BY priority, depth, url_hash) AS rn
          FROM f)
    SELECT host, url_hash, CAST(rn - 1 AS INT) AS fetch_seq_in_host
    FROM r WHERE rn <= k
    """,
)
def frontier_pop(spark: SparkSession, sf: str) -> DataFrame:
    """F5 flagship: salted two-stage window-rank pop == plain per-host top-k.

    The Spark side runs engine.frontier.pop_frontier with salt fan-out 16
    (the skew-defused production plan); the oracle is the unsalted spec.
    Identical output proves the salting is a pure physical optimization.
    """
    return pop_frontier(_synth_frontier(spark, sf), salt=16).select(
        "host", "url_hash", "fetch_seq_in_host"
    )


@q(
    "frontier_merge",
    f"""
    WITH f0 AS ({_SYNTH_FRONTIER_SQL}),
    frontier AS (
      SELECT url_hash, host, depth, priority, 'pending' AS status, 0 AS retries
      FROM f0 WHERE url_hash % 3 != 0),
    upd AS (
      SELECT url_hash,
             CASE WHEN url_hash % 2 = 0 THEN 'done' ELSE 'failed' END AS new_status,
             CAST(CASE WHEN url_hash % 2 = 0 THEN 0 ELSE 1 END AS INT) AS new_retries,
             CASE WHEN url_hash % 2 = 0 THEN NULL
                  ELSE priority + 0.5 END AS new_priority
      FROM frontier WHERE url_hash % 5 = 0),
    merged AS (
      SELECT f.url_hash, f.host, f.depth,
             coalesce(u.new_priority, f.priority) AS priority,
             coalesce(u.new_status, f.status) AS status,
             CAST(coalesce(u.new_retries, f.retries) AS INT) AS retries
      FROM frontier f LEFT JOIN upd u ON f.url_hash = u.url_hash),
    inserts AS (
      SELECT url_hash, host, depth, priority, 'pending' AS status,
             CAST(0 AS INT) AS retries
      FROM f0 WHERE url_hash % 3 = 0)
    SELECT url_hash, status, retries, round(priority, 4) AS prio
    FROM (SELECT * FROM merged UNION ALL SELECT * FROM inserts)
    """,
)
def frontier_merge(spark: SparkSession, sf: str) -> DataFrame:
    """F7: upsert semantics of engine.frontier.apply_updates (the engine's
    merge of the pending rows) plus the insert union, vs plain SQL."""
    f0 = _synth_frontier(spark, sf).drop("k")
    frontier = (
        f0.where(F.pmod("url_hash", F.lit(3)) != 0)
        .withColumn("status", F.lit("pending"))
        .withColumn("retries", F.lit(0).cast("int"))
    )
    even = F.pmod("url_hash", F.lit(2)) == 0
    updates = frontier.where(F.pmod("url_hash", F.lit(5)) == 0).select(
        "url_hash",
        F.when(even, F.lit("done")).otherwise(F.lit("failed")).alias("new_status"),
        F.when(even, F.lit(0)).otherwise(F.lit(1)).cast("int").alias("new_retries"),
        F.when(even, F.lit(None).cast("double"))
        .otherwise(F.col("priority") + 0.5)
        .alias("new_priority"),
    )
    inserts = (
        f0.where(F.pmod("url_hash", F.lit(3)) == 0)
        .withColumn("status", F.lit("pending"))
        .withColumn("retries", F.lit(0).cast("int"))
    )
    merged = apply_updates(frontier, updates)
    merged = merged.unionByName(inserts.select(*merged.columns))
    return merged.select(
        "url_hash", "status", "retries", F.round("priority", 4).alias("prio")
    )


@q(
    "robots_longest_prefix",
    """
    WITH urls AS (
      SELECT o_orderkey AS url_hash,
             'h' || CAST(o_custkey % 50 AS VARCHAR) AS host,
             CASE o_orderkey % 3 WHEN 0 THEN '/a/b/' || CAST(o_orderkey % 10 AS VARCHAR)
                                 WHEN 1 THEN '/a/' || CAST(o_orderkey % 10 AS VARCHAR)
                                 ELSE '/c/' || CAST(o_orderkey % 10 AS VARCHAR) END AS path
      FROM orders),
    rules AS (
      SELECT 'h' || CAST(r AS VARCHAR) AS host, p.path_prefix, p.allow
      FROM range(0, 50) t(r),
           (VALUES ('', true), ('/a/', false), ('/a/b/', true)) p(path_prefix, allow)
      WHERE r % 2 = 0),
    m AS (
      SELECT u.url_hash, u.host, u.path, r.allow, r.path_prefix,
             row_number() OVER (PARTITION BY u.url_hash
                                ORDER BY length(r.path_prefix) DESC, r.allow DESC) AS rn
      FROM urls u JOIN rules r
        ON u.host = r.host AND starts_with(u.path, r.path_prefix))
    SELECT u.url_hash, u.host,
           coalesce(m.allow, true) AS allowed
    FROM urls u LEFT JOIN (SELECT * FROM m WHERE rn = 1) m
      ON u.url_hash = m.url_hash
    """,
)
def robots_longest_prefix(spark: SparkSession, sf: str) -> DataFrame:
    """R2: engine robots_gate (broadcast + array HOF longest-prefix) vs a
    window-rank SQL spec, on rules synthesized for even-numbered hosts."""
    o = load(spark, sf, "orders")
    urls = o.select(
        F.col("o_orderkey").alias("url_hash"),
        F.concat(F.lit("h"), F.pmod("o_custkey", F.lit(50)).cast("string")).alias("host"),
        F.concat(
            F.when(F.pmod("o_orderkey", F.lit(3)) == 0, F.lit("/a/b/"))
            .when(F.pmod("o_orderkey", F.lit(3)) == 1, F.lit("/a/"))
            .otherwise(F.lit("/c/")),
            F.pmod("o_orderkey", F.lit(10)).cast("string"),
        ).alias("path"),
    )
    hosts = spark.range(0, 50).where(F.col("id") % 2 == 0)
    prefixes = spark.createDataFrame(
        [("", True), ("/a/", False), ("/a/b/", True)], "path_prefix string, allow boolean"
    )
    rules = hosts.crossJoin(prefixes).select(
        F.concat(F.lit("h"), F.col("id").cast("string")).alias("host"),
        F.lit(0).cast("int").alias("rule_order"),
        "allow",
        "path_prefix",
        F.lit(0.0).alias("crawl_delay"),
        F.lit(0).cast("int").alias("fetched_epoch"),
    )
    return robots_gate(urls, rules).select("url_hash", "host", "allowed")


@q(
    "canonicalize_urls",
    """
    SELECT o_orderkey AS id,
           CASE o_orderkey % 4
             WHEN 0 THEN 'https://host' || CAST(o_custkey % 97 AS VARCHAR)
                         || '.example/page/' || CAST(o_orderkey % 1000 AS VARCHAR)
             WHEN 1 THEN 'https://host' || CAST(o_custkey % 97 AS VARCHAR)
                         || '.example/page/' || CAST(o_orderkey % 1000 AS VARCHAR)
             WHEN 2 THEN 'https://host' || CAST(o_custkey % 97 AS VARCHAR)
                         || '.example/page/' || CAST(o_orderkey % 1000 AS VARCHAR)
                         || '?a=1&b=2'
             ELSE 'http://host' || CAST(o_custkey % 97 AS VARCHAR)
                  || '.example/~user/page/' || CAST(o_orderkey % 1000 AS VARCHAR)
           END AS url
    FROM orders
    """,
)
def canonicalize_urls(spark: SparkSession, sf: str) -> DataFrame:
    """C1: the pandas-UDF canonicalizer vs a *constructive* oracle — the SQL
    builds the expected canonical form from the same keys, so uppercase
    host, default port, fragment, dot-segments, utm params, query-param
    sorting and %7E decoding are each independently verified."""
    o = load(spark, sf, "orders")
    hostnum = F.pmod("o_custkey", F.lit(97)).cast("string")
    page = F.pmod("o_orderkey", F.lit(1000)).cast("string")
    m = F.pmod("o_orderkey", F.lit(4))
    raw = (
        F.when(
            m == 0,
            F.concat(F.lit("HTTPS://HOST"), hostnum, F.lit(".EXAMPLE/page/"), page),
        )
        .when(
            m == 1,
            F.concat(
                F.lit("https://host"),
                hostnum,
                F.lit(".example:443/a/../page/"),
                page,
                F.lit("#frag"),
            ),
        )
        .when(
            m == 2,
            F.concat(
                F.lit("https://host"),
                hostnum,
                F.lit(".example/page/"),
                page,
                F.lit("?utm_source=x&b=2&a=1"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("http://host"),
                hostnum,
                F.lit(".example:80/%7Euser/page/"),
                page,
            )
        )
    )
    return o.select(F.col("o_orderkey").alias("id"), raw.alias("raw")).select(
        "id", canonicalize_udf("raw").alias("url")
    )


@q("seed_ingest")
def seed_ingest(spark: SparkSession, sf: str) -> DataFrame:
    """S1+C2+C3 (rows-only): seed list → canonical keyed frontier rows.
    xxhash64 keys have no DuckDB twin; exactness vs the pure-Python xxh64
    is pinned by tests/test_units.py."""
    return seeds_to_frontier(spark, gen_seed_urls(TINY), n_buckets=64).select(
        "url_hash", "url", "host", "host_bucket", "depth", "status"
    )


@q("url_keys")
def url_keys(spark: SparkSession, sf: str) -> DataFrame:
    """C2/C3 (rows-only): url_hash/host/host_bucket over canonical URLs."""
    o = load(spark, sf, "orders")
    urls = o.select(
        F.concat(
            F.lit("https://host"),
            F.pmod("o_custkey", F.lit(97)).cast("string"),
            F.lit(".example/page/"),
            F.col("o_orderkey").cast("string"),
        ).alias("url")
    )
    return with_url_keys(urls, n_buckets=64)


@q("synth_fetch_spans")
def synth_fetch_spans(spark: SparkSession, sf: str) -> DataFrame:
    """F6+X1 (rows-only): deterministic synthetic fetch → span arrays →
    explode (UD2 + UD6).  Span-sequence exactness vs pyref is pinned by
    tests/test_crawl_parity.py."""
    frontier = seeds_to_frontier(spark, gen_seed_urls(TINY), n_buckets=64)
    fetched = fetch_parse(frontier, TINY)
    return (
        fetched.where("ok")
        .select("url", F.posexplode("spans").alias("pos", "span"))
        .select(
            "url",
            "pos",
            F.col("span.kind").alias("kind"),
            F.col("span.offset").alias("offset"),
            F.length("span.text").alias("text_len"),
        )
    )


@q(
    "recrawl_priority",
    f"""
    WITH f AS (
      SELECT o_orderkey AS url_hash,
             {_FRONTIER_HOST_SQL} AS host,
             CAST(o_orderkey % 20 AS INT) AS last_crawl_epoch,
             CAST(o_custkey % 10 AS DOUBLE) / 10.0 AS change_rate
      FROM orders),
    s AS (SELECT url_hash, host,
                 CAST(20 - last_crawl_epoch AS INT) AS age_epochs,
                 round((20 - last_crawl_epoch) * (0.1 + change_rate), 4)
                   AS recrawl_score
          FROM f)
    SELECT url_hash, host, age_epochs, recrawl_score, CAST(rk AS INT) AS rk
    FROM (SELECT *, row_number() OVER (PARTITION BY host
                                       ORDER BY recrawl_score DESC, url_hash) AS rk
          FROM s) WHERE rk <= 3
    """,
)
def recrawl_priority(spark: SparkSession, sf: str) -> DataFrame:
    """Freshness-driven recrawl scheduling: score = age × (base + observed
    change rate) — the expected-change utility an incremental crawler
    ranks its re-fetch queue by — then per-host top-k so politeness
    budgets spend on the stalest, fastest-changing pages first.

    Scale shape: scoring is a stateless scan; the top-k is the same
    per-host window as the frontier pop (F5) — host-partitioned,
    bounded-skew, no global sort.  Deterministic (last_crawl_epoch,
    change_rate) synthesized from ``orders`` so the DuckDB twin
    value-hashes the full ranking."""
    o = load(spark, sf, "orders")
    f = o.select(
        F.col("o_orderkey").alias("url_hash"),
        _frontier_host().alias("host"),
        (F.col("o_orderkey") % 20).cast("int").alias("last_crawl_epoch"),
        ((F.col("o_custkey") % 10).cast("double") / 10.0).alias("change_rate"),
    )
    s = f.select(
        "url_hash",
        "host",
        (F.lit(20) - F.col("last_crawl_epoch")).cast("int").alias("age_epochs"),
        F.round(
            (F.lit(20) - F.col("last_crawl_epoch")).cast("double")
            * (F.lit(0.1) + F.col("change_rate")),
            4,
        ).alias("recrawl_score"),
    )
    w = Window.partitionBy("host").orderBy(F.col("recrawl_score").desc(), "url_hash")
    return (
        s.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("url_hash", "host", "age_epochs", "recrawl_score", F.col("rk").cast("int").alias("rk"))
    )


# --- shared synthetic URL space (url_template_topk / crawl_trap_hosts) ------
# ONE definition of the 97-host synthetic URL space on each engine: the
# trap detector consumes the template rollup by construction, so the
# synthesis must never drift between the two queries (r05 review: it was
# hand-copied in four places).
_URL_HOST_SQL = "'host' || lpad(CAST(o_custkey % 97 AS VARCHAR), 2, '0')"


def _url_host():
    return F.concat(
        F.lit("host"), F.lpad((F.col("o_custkey") % 97).cast("string"), 2, "0")
    )


def _url_path_sql(extra_when: str = "") -> str:
    """The synthetic path CASE; callers may prepend an extra WHEN branch
    (crawl_trap_hosts' calendar generator)."""
    return (
        "CASE "
        + extra_when
        + """WHEN o_orderkey % 3 = 0
                  THEN 'item/' || CAST(o_orderkey AS VARCHAR) || '/view'
                  WHEN o_orderkey % 3 = 1
                  THEN 'page/' || CAST(o_orderkey AS VARCHAR)
                  ELSE 'cat/' || CAST(o_custkey % 11 AS VARCHAR)
                       || '/page/' || CAST(o_orderkey AS VARCHAR)
             END"""
    )


def _url_space_sql(extra_when: str = "") -> str:
    """u (host, path) + t (host, template, cnt) CTE pair."""
    return f"""u AS (
      SELECT {_URL_HOST_SQL} AS host,
             {_url_path_sql(extra_when)} AS path
      FROM orders),
    t AS (SELECT host, regexp_replace(path, '[0-9]+', 'N', 'g') AS template,
                 CAST(count(*) AS BIGINT) AS cnt
          FROM u GROUP BY 1, 2)"""


def _url_path():
    """Spark twin of _url_path_sql's base branches."""
    return (
        F.when(
            F.col("o_orderkey") % 3 == 0,
            F.concat(
                F.lit("item/"), F.col("o_orderkey").cast("string"), F.lit("/view")
            ),
        )
        .when(
            F.col("o_orderkey") % 3 == 1,
            F.concat(F.lit("page/"), F.col("o_orderkey").cast("string")),
        )
        .otherwise(
            F.concat(
                F.lit("cat/"),
                (F.col("o_custkey") % 11).cast("string"),
                F.lit("/page/"),
                F.col("o_orderkey").cast("string"),
            )
        )
    )


def _template_rollup(o: DataFrame, path) -> DataFrame:
    """(host, template, cnt) — digit-collapsed per-host template counts."""
    return (
        o.select(_url_host().alias("host"), path.alias("path"))
        .select("host", F.regexp_replace("path", "[0-9]+", "N").alias("template"))
        .groupBy("host", "template")
        .agg(F.count("*").alias("cnt"))
    )


@q(
    "url_template_topk",
    f"""
    WITH {_url_space_sql()}
    SELECT host, template, cnt, CAST(rk AS INT) AS rk FROM (
      SELECT *, row_number() OVER (PARTITION BY host
                                   ORDER BY cnt DESC, template) AS rk
      FROM t) WHERE rk <= 2
    """,
)
def url_template_topk(spark: SparkSession, sf: str) -> DataFrame:
    """URL path-template mining (crawl-trap / structure detection): paths
    collapse to templates by digit-run substitution, then per-host top-k
    templates by frequency.  Real crawlers use exactly this rollup to cap
    infinite calendar/pagination traps and to pick per-template sampling
    rates.

    Scale shape: template collapse is a stateless scan; the rollup is one
    partial-agg groupBy on (host, template) — bounded cardinality — and
    the top-k window partitions per host (millions of small partitions,
    no pole).  Deterministic synthetic paths derived from ``orders`` so
    the DuckDB twin value-hashes the full result."""
    o = load(spark, sf, "orders")
    t = _template_rollup(o, _url_path())
    w = Window.partitionBy("host").orderBy(F.col("cnt").desc(), "template")
    return (
        t.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 2)
        .select("host", "template", "cnt", F.col("rk").cast("int").alias("rk"))
    )


@q("media_interleave_stats")
def media_interleave_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Interleaved-payload structure stats over the fetched span arrays
    (rows-only: spans come from the deterministic synthetic fetcher, so
    DuckDB has no twin; per-field exactness vs the pure-python
    ``pyref``/synthgraph generator is pinned by tests/test_pipeline_ops.py).

    Per ok document: span counts by kind, kind transitions, first kind,
    total text payload length, and the media share — the profile a
    multimodal training pipeline reads before deciding per-modality
    routing.  Everything is native array HOFs over the already-fetched
    spans column: a stateless per-row scan, zero shuffles, no Python, so
    it rides the document scan at any corpus scale."""
    frontier = seeds_to_frontier(spark, gen_seed_urls(TINY), n_buckets=64)
    fetched = fetch_parse(frontier, TINY).where("ok")
    kinds = F.col("spans").getField("kind")
    n = F.size("spans")
    transitions = F.size(
        F.filter(
            F.zip_with(
                F.slice(kinds, F.lit(1), n - 1),
                F.slice(kinds, F.lit(2), n - 1),
                lambda a, b: a != b,
            ),
            lambda x: x,
        )
    )
    text_len = F.aggregate(
        "spans",
        F.lit(0).cast("long"),
        lambda acc, s: acc + F.coalesce(F.length(s.getField("text")), F.lit(0)),
    )
    n_media = F.size(F.filter(kinds, lambda k: k == F.lit("media")))
    return fetched.select(
        "url",
        n.cast("long").alias("n_spans"),
        (n - n_media).cast("long").alias("n_text_spans"),
        n_media.cast("long").alias("n_media_spans"),
        transitions.cast("long").alias("n_transitions"),
        F.element_at(kinds, 1).alias("first_kind"),
        text_len.alias("total_text_len"),
        F.round(n_media.cast("double") / n, 4).alias("media_ratio"),
    )


@q("bloom_probe")
def bloom_probe(spark: SparkSession, sf: str) -> DataFrame:
    """D1 (rows-only): partitioned bloom build + cogrouped vectorized probe.
    Zero false negatives by construction; FPR bound pinned by
    tests/test_units.py."""
    o = load(spark, sf, "orders")
    all_keys = o.select(F.xxhash64("o_orderkey").alias("url_hash"))
    seeded = all_keys.where(F.pmod("url_hash", F.lit(2)) == 0)
    blobs = seenmod.init_filter(spark, seeded, n_parts=8)
    return seenmod.probe_filter(all_keys, blobs, n_parts=8).select(
        "url_hash", "maybe_seen"
    )


# --- Crawler-trap host detection ---------------------------------------------
# The consumer of url_template_topk's rollup: a host whose URL space
# collapses into one dominant template (calendar pages, faceted search,
# session-id pagination) is an infinite-URL trap and must get a per-template
# crawl cap before it eats the frontier.  The synthetic URL space is the
# url_template_topk one, plus md5-keyed TRAP HOSTS (~1/8) whose paths all
# come from a date-calendar generator and so collapse to a single
# 'cal/N/N/N' template — deterministic on both engines.  The trap predicate
# is the all-integer comparison 100*top_cnt > 60*n_urls (top template covers
# > 60% of the host's URLs) at n_urls >= 20.
TRAP_SHARE_PCT = 60
TRAP_MIN_URLS = 20


_TRAP_WHEN_SQL = f"""WHEN CAST(('0x' || substr(md5({_URL_HOST_SQL}),
                         1, 4)) AS INT) % 8 = 0
                  THEN 'cal/' || CAST(year(o_orderdate) AS VARCHAR)
                       || '/' || CAST(month(o_orderdate) AS VARCHAR)
                       || '/' || CAST(day(o_orderdate) AS VARCHAR)
                  """


@q(
    "crawl_trap_hosts",
    f"""
    WITH {_url_space_sql(_TRAP_WHEN_SQL)},
    s AS (SELECT host, template, cnt,
                 CAST(sum(cnt) OVER (PARTITION BY host) AS BIGINT) AS n_urls,
                 CAST(count(*) OVER (PARTITION BY host) AS BIGINT)
                   AS n_templates,
                 row_number() OVER (PARTITION BY host
                                    ORDER BY cnt DESC, template) AS rk
          FROM t)
    SELECT host, n_urls, n_templates,
           template AS top_template, cnt AS top_cnt,
           (100 * cnt > {TRAP_SHARE_PCT} * n_urls
            AND n_urls >= {TRAP_MIN_URLS}) AS is_trap
    FROM s WHERE rk = 1
    """,
)
def crawl_trap_hosts(spark: SparkSession, sf: str) -> DataFrame:
    """Trap-host detector over the mined URL templates: per host, total
    URLs, distinct templates, the dominant template and its count, and
    the integer-exact trap flag (see module comment — no float surface
    anywhere).

    Scale shape: the (host, template) rollup partial-aggregates map-side
    (token-bounded shuffle), and every window below runs over the
    ROLLED-UP template rows — bounded by templates-per-host, never by
    URLs-per-host, so the 10^9-URL calendar trap itself costs one
    aggregated row.  This is the signal engine/frontier.py's politeness
    budgets would consume to cap per-template pops."""
    o = load(spark, sf, "orders")
    trap = (
        F.conv(F.substring(F.md5(_url_host()), 1, 4), 16, 10).cast("int") % 8 == 0
    )
    path = F.when(
        trap,
        F.concat(
            F.lit("cal/"),
            F.year("o_orderdate").cast("string"),
            F.lit("/"),
            F.month("o_orderdate").cast("string"),
            F.lit("/"),
            F.dayofmonth("o_orderdate").cast("string"),
        ),
    ).otherwise(_url_path())
    t = _template_rollup(o, path)
    wh = Window.partitionBy("host")
    wr = Window.partitionBy("host").orderBy(F.col("cnt").desc(), "template")
    s = (
        t.withColumn("n_urls", F.sum("cnt").over(wh))
        .withColumn("n_templates", F.count("*").over(wh))
        .withColumn("rk", F.row_number().over(wr))
    )
    return s.where(F.col("rk") == 1).select(
        "host",
        "n_urls",
        "n_templates",
        F.col("template").alias("top_template"),
        F.col("cnt").alias("top_cnt"),
        (
            (100 * F.col("cnt") > TRAP_SHARE_PCT * F.col("n_urls"))
            & (F.col("n_urls") >= TRAP_MIN_URLS)
        ).alias("is_trap"),
    )


# --- host-level link-graph contraction -------------------------------------
HG_HOSTS = 211  # same host namespace as the synthetic frontier


@q(
    "crawl_host_graph",
    f"""
    WITH e AS (
      SELECT 'h' || lpad(CAST(l_partkey % {HG_HOSTS} AS VARCHAR), 4, '0') AS src,
             'h' || lpad(CAST(l_suppkey % {HG_HOSTS} AS VARCHAR), 4, '0') AS dst,
             CAST(count(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY 1, 2),
    o AS (SELECT src AS host,
                 CAST(sum(CASE WHEN src != dst THEN cnt ELSE 0 END) AS BIGINT)
                   AS out_links,
                 CAST(count(*) FILTER (WHERE src != dst) AS BIGINT) AS out_hosts,
                 CAST(sum(CASE WHEN src = dst THEN cnt ELSE 0 END) AS BIGINT)
                   AS self_links
          FROM e GROUP BY 1),
    i AS (SELECT dst AS host,
                 CAST(sum(CASE WHEN src != dst THEN cnt ELSE 0 END) AS BIGINT)
                   AS in_links,
                 CAST(count(*) FILTER (WHERE src != dst) AS BIGINT) AS in_hosts
          FROM e GROUP BY 1)
    SELECT coalesce(o.host, i.host) AS host,
           coalesce(out_links, 0) AS out_links,
           coalesce(out_hosts, 0) AS out_hosts,
           coalesce(in_links, 0) AS in_links,
           coalesce(in_hosts, 0) AS in_hosts,
           coalesce(self_links, 0) AS self_links,
           -- pure-sink hosts (denominator 0) are NULL on both engines:
           -- DuckDB's 0/0 is NULL, and the Spark side guards the division
           -- with an equivalent F.when (ANSI Spark would otherwise abort)
           CASE WHEN coalesce(self_links, 0) + coalesce(out_links, 0) = 0
                THEN NULL
                ELSE round(CAST(coalesce(self_links, 0) AS DOUBLE)
                           / (coalesce(self_links, 0)
                              + coalesce(out_links, 0)), 4) END
             AS self_ratio
    FROM o FULL OUTER JOIN i ON o.host = i.host
    WHERE coalesce(self_links, 0) + coalesce(out_links, 0) > 0
       OR coalesce(in_links, 0) > 0
    """,
)
def crawl_host_graph(spark: SparkSession, sf: str) -> DataFrame:
    """Host-level link-graph contraction — the "domain graph" rollup every
    production crawler maintains (crawl budgeting, spam/link-farm
    signals, politeness planning): page-level edges collapse onto their
    hosts, and each host reports distinct out/in neighbor hosts, total
    out/in link multiplicity, and its self-link (intra-site) ratio.
    Edges reuse the deterministic lineitem incidence mapped into the
    211-host frontier namespace.

    Parity: every stat is an exact integer off the contracted
    (src, dst, cnt) table; self_ratio is ONE rounded division.  The
    full-outer join carries pure-source and pure-sink hosts; the final
    predicate is on exact integers.

    Scale shape: THE canonical scale win of host contraction — the only
    corpus-sized exchange is the (src, dst) hash agg with map-side
    partials (the web's 10^12 edges collapse to a host²-bounded table;
    in practice ~10^8 rows for 10^7 hosts); the out/in rollups and the
    full-outer join then run on the contracted table keyed by host.
    Hub hosts skew the contraction agg, not a join — partial
    aggregation absorbs them map-side exactly like dedup_exact."""
    li = load(spark, sf, "lineitem")

    def hostcol(c):
        return F.concat(
            F.lit("h"),
            F.lpad(F.pmod(c, F.lit(HG_HOSTS)).cast("string"), 4, "0"),
        )

    e = (
        li.select(
            hostcol(F.col("l_partkey")).alias("src"),
            hostcol(F.col("l_suppkey")).alias("dst"),
        )
        .groupBy("src", "dst")
        .agg(F.count("*").alias("cnt"))
    )
    ncnt = F.when(F.col("src") != F.col("dst"), F.col("cnt")).otherwise(F.lit(0))
    scnt = F.when(F.col("src") == F.col("dst"), F.col("cnt")).otherwise(F.lit(0))
    o = e.groupBy(F.col("src").alias("host")).agg(
        F.sum(ncnt).alias("out_links"),
        F.count(F.when(F.col("src") != F.col("dst"), True)).alias("out_hosts"),
        F.sum(scnt).alias("self_links"),
    )
    i = e.groupBy(F.col("dst").alias("host")).agg(
        F.sum(ncnt).alias("in_links"),
        F.count(F.when(F.col("src") != F.col("dst"), True)).alias("in_hosts"),
    )
    z = F.lit(0).cast("long")
    j = o.join(i, "host", "full_outer").select(
        "host",
        F.coalesce("out_links", z).alias("out_links"),
        F.coalesce("out_hosts", z).alias("out_hosts"),
        F.coalesce("in_links", z).alias("in_links"),
        F.coalesce("in_hosts", z).alias("in_hosts"),
        F.coalesce("self_links", z).alias("self_links"),
    )
    # pure-sink hosts (in-links only) keep the row but have denominator 0:
    # guard the division — under this build's ANSI-enabled Spark 4 an
    # unguarded 0/0 aborts the job rather than returning NULL (r05 review,
    # live repro); DuckDB's 0/0 is NULL and the oracle states the CASE
    den = F.col("self_links") + F.col("out_links")
    return j.where((den > 0) | (F.col("in_links") > 0)).select(
        "*",
        F.when(
            den > 0, F.round(F.col("self_links").cast("double") / den, 4)
        ).alias("self_ratio"),
    )


# --- sitemap ingestion ------------------------------------------------------
SM_HOSTS = 50  # sitemap-host namespace (the robots_longest_prefix device)


@q(
    "crawl_sitemap_parse",
    f"""
    WITH u AS (
      SELECT 'h' || CAST(o_custkey % {SM_HOSTS} AS VARCHAR) AS host,
             'https://h' || CAST(o_custkey % {SM_HOSTS} AS VARCHAR)
               || '.example/page/' || CAST(o_orderkey AS VARCHAR) AS loc,
             CAST(o_orderdate AS VARCHAR) AS lastmod
      FROM orders),
    x AS (
      SELECT host,
             '<?xml version="1.0"?><urlset>' || string_agg(
               '<url><loc>' || loc || '</loc><lastmod>' || lastmod
               || '</lastmod></url>', '' ORDER BY loc)
             || '</urlset>' AS xml
      FROM u GROUP BY host),
    p AS (
      SELECT host,
             regexp_extract_all(xml, '<loc>([^<]*)</loc>', 1) AS locs,
             regexp_extract_all(xml, '<lastmod>([^<]*)</lastmod>', 1) AS mods
      FROM x)
    SELECT host, locs[CAST(i AS INT)] AS url,
           mods[CAST(i AS INT)] AS lastmod,
           CAST(i AS INT) AS pos
    FROM p, unnest(generate_series(1, len(locs))) t(i)
    """,
)
def crawl_sitemap_parse(spark: SparkSession, sf: str) -> DataFrame:
    """Sitemap ingestion — the seed-acquisition path next to S1 text seeds:
    per-host sitemap XML is synthesized deterministically from ``orders``
    (the doc_html_extract markup-synthesis device, so both engines see
    byte-identical files), then PARSED back the way the crawler ingests a
    real /sitemap.xml: extract the <loc> and <lastmod> streams with one
    regexp pass each, zip them positionally, and emit one (host, url,
    lastmod, pos) row per entry — the rows a frontier merge would take as
    seed inserts with recrawl hints.

    Parity: pure string/regexp work end to end; entries are
    string_agg'd in explicit loc order so position i is the same entry
    in both engines; no float anywhere.

    Scale shape: the synthesis groupBy is fixture-only (real sitemaps
    arrive as fetched documents); the PARSE path — the part that ships —
    is stateless per sitemap file inside WholeStageCodegen (two
    regexp_extract_all + one arrays_zip + posexplode), embarrassingly
    parallel over millions of sitemap files, with the bounded ~50k-URL
    sitemap-spec file size capping per-row work."""
    o = load(spark, sf, "orders")
    host = F.concat(F.lit("h"), F.pmod("o_custkey", F.lit(SM_HOSTS)).cast("string"))
    u = o.select(
        host.alias("host"),
        F.concat(
            F.lit("https://h"),
            F.pmod("o_custkey", F.lit(SM_HOSTS)).cast("string"),
            F.lit(".example/page/"),
            F.col("o_orderkey").cast("string"),
        ).alias("loc"),
        F.col("o_orderdate").cast("string").alias("lastmod"),
    )
    x = u.groupBy("host").agg(
        F.concat(
            F.lit('<?xml version="1.0"?><urlset>'),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("loc", "lastmod"))),
                    lambda s: F.concat(
                        F.lit("<url><loc>"),
                        s.loc,
                        F.lit("</loc><lastmod>"),
                        s.lastmod,
                        F.lit("</lastmod></url>"),
                    ),
                ),
                "",
            ),
            F.lit("</urlset>"),
        ).alias("xml")
    )
    z = x.select(
        "host",
        F.arrays_zip(
            F.expr(r"regexp_extract_all(xml, '<loc>([^<]*)</loc>', 1)"),
            F.expr(r"regexp_extract_all(xml, '<lastmod>([^<]*)</lastmod>', 1)"),
        ).alias("z"),
    )
    return z.select(
        "host", F.posexplode("z").alias("p", "e")
    ).select(
        "host",
        F.col("e").getField("0").alias("url"),
        F.col("e").getField("1").alias("lastmod"),
        (F.col("p") + 1).cast("int").alias("pos"),
    )
