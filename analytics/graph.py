"""Link-graph analytics for the crawl corpus — iterative PageRank + HITS.

PageRank is THE canonical web-graph operator a crawl analytics engine is
expected to carry (SURVEY.md §2 names link analysis as the downstream
consumer of the outlink table).  The implementation is the pure DataFrame
power-iteration: per round, one shuffle-on-key aggregation of
``rank/out_degree`` contributions plus a left join back to the node set —
no RDDs, no driver-side state, no collect.

Scale shape (the 100 TB question): the edge table shuffles once per
round on ``dst`` (partial aggregation combines map-side, so the shuffle
carries one row per (partition, dst), not per edge); the node set joins
by key on the same partitioning.  ``localCheckpoint`` per round truncates
the lineage so the Catalyst plan stays O(1) per iteration instead of
growing O(rounds) (same device as analytics/dedup.py's connected
components).  At a 10^10-node web graph this is the textbook Pregel-free
PageRank — each round is one co-partitioned join + agg, embarrassingly
scalable, dominated by the edge shuffle that AQE skew-splits on hub
pages.

The DuckDB oracle unrolls the fixed iteration count into chained CTEs —
identical damping arithmetic per round — so the op is fully value-hash
checked, not rows-only (iterative ≠ un-oracle-able when the trip count
is static).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from analytics.common import load, registry

QUERIES, ORACLE, q = registry()


# Deterministic synthetic link graph over the fixture tables: lineitem's
# (part, supplier) incidence folded onto 400 nodes — ~31k distinct directed
# edges at sf0.01, every node reachable.  Damping 0.85, 4 power iterations
# (static trip count so the oracle can unroll).
N_NODES = 400
DAMPING = 0.85
N_ITER = 4

# Seed-free graph prefix shared by every link_* oracle; each op appends its
# own seed CTE(s) instead of string-replacing a seed line out of a combined
# block (r05 review: an exact-string .replace() is a silent no-op the moment
# the matched text drifts, breaking four oracles far from the edit).
_GRAPH_SQL = f"""
  edges AS (SELECT DISTINCT l_partkey % {N_NODES} AS src,
                            l_suppkey % {N_NODES} AS dst
            FROM lineitem
            WHERE l_partkey % {N_NODES} != l_suppkey % {N_NODES}),
  outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
  nodes AS (SELECT DISTINCT src AS node FROM edges
            UNION SELECT DISTINCT dst FROM edges)"""

# undirected adjacency + self-label row — shared by components / label-prop
_ADJ_SQL = """
  adj AS (SELECT node AS v, node AS u FROM nodes
          UNION ALL SELECT src, dst FROM edges
          UNION ALL SELECT dst, src FROM edges)"""


def _link_edges(spark: SparkSession, sf: str, checkpoint: bool = True) -> DataFrame:
    """The deterministic lineitem link graph — single-source Spark twin of
    the _GRAPH_SQL edges CTE (previously hand-rolled in six ops; an edit
    to one copy would silently break only that op's oracle parity).
    checkpoint=True when several iteration rounds re-read the edges."""
    e = (
        load(spark, sf, "lineitem")
        .select(
            (F.col("l_partkey") % N_NODES).alias("src"),
            (F.col("l_suppkey") % N_NODES).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    return e.localCheckpoint() if checkpoint else e


def _link_nodes(edges: DataFrame) -> DataFrame:
    """Node set of the link graph (both endpoints, deduped) — twin of the
    _GRAPH_SQL nodes CTE; always checkpointed (every caller re-reads it
    per round)."""
    return (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )


def _link_adj(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """Undirected adjacency with a self row per node — twin of _ADJ_SQL."""
    return (
        nodes.select(F.col("node").alias("v"), F.col("node").alias("u"))
        .union(edges.select(F.col("src").alias("v"), F.col("dst").alias("u")))
        .union(edges.select(F.col("dst").alias("v"), F.col("src").alias("u")))
        .localCheckpoint()
    )


def _iter_sql(i: int) -> str:
    return f"""
  pr{i} AS (SELECT n.node,
                   CAST(1.0 - {DAMPING} AS DOUBLE)
                   + CAST({DAMPING} AS DOUBLE)
                     * coalesce(sum(p.pr / o.deg), 0) AS pr
            FROM nodes n
            LEFT JOIN edges e ON e.dst = n.node
            LEFT JOIN outdeg o ON o.src = e.src
            LEFT JOIN pr{i - 1} p ON p.node = e.src
            GROUP BY n.node)
"""


@q(
    "link_pagerank",
    "WITH "
    + ",".join(
        [_GRAPH_SQL, "\n  pr0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS pr FROM nodes)"]
        + [_iter_sql(i) for i in range(1, N_ITER + 1)]
    )
    + f"""
    SELECT node, round(pr, 4) AS pr FROM pr{N_ITER}
    """,
)
def link_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """PageRank over the deterministic lineitem link graph: 4 power
    iterations, damping 0.85, PR' = (1-d) + d * Σ PR(u)/deg(u)."""
    # edges + outdeg feed every round: checkpoint once so 4 rounds of
    # plans reference a materialized table, not 4 re-derivations of
    # the distinct (which would re-shuffle the scan per round)
    edges = _link_edges(spark, sf)
    outdeg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    nodes = _link_nodes(edges)
    ranks = nodes.withColumn("pr", F.lit(1.0))
    for _ in range(N_ITER):
        contribs = (
            edges.join(outdeg, "src")
            .join(ranks.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("pr") / F.col("deg")).alias("c"))
        )
        ranks = (
            nodes.join(contribs, nodes.node == contribs.dst, "left")
            .select(
                "node",
                (
                    F.lit(1.0 - DAMPING)
                    + F.lit(DAMPING) * F.coalesce(F.col("c"), F.lit(0.0))
                ).alias("pr"),
            )
            # per-round lineage cut: keeps every round's physical plan the
            # SAME two-stage shape instead of a 4x-nested re-expansion
            .localCheckpoint()
        )
    return ranks.select("node", F.round("pr", 4).alias("pr"))


# --- HITS hubs & authorities ---------------------------------------------
HITS_ITER = 4
HITS_GRID = 1_000_000


def _hits_iter_sql(i: int) -> str:
    # per-round renormalize onto the integer grid (the emb_pca_power
    # device): raw sums are 128-bit exact (BIGINT->HUGEINT), then ONE
    # double expression round(r/m*GRID) on bit-equal integer inputs — so
    # every round's state is pure integers in both engines and magnitudes
    # never grow past in-degree*GRID.  The max comes in via max() OVER ()
    # so every CTE is referenced exactly ONCE: a second reference (e.g. a
    # scalar max subquery) would make DuckDB's CTE inlining re-expand the
    # whole upstream chain per round — 2^rounds blow-up (measured 264 s
    # vs 2 s at sf0.01)
    return f"""
  ar{i} AS (SELECT n.node, coalesce(sum(h.hub), 0) AS r
            FROM nodes n
            LEFT JOIN edges e ON e.dst = n.node
            LEFT JOIN h{i - 1} h ON h.node = e.src
            GROUP BY n.node),
  a{i} AS (SELECT node,
                  CAST(round(CAST(r AS DOUBLE)
                             / CAST(max(r) OVER () AS DOUBLE)
                             * {HITS_GRID}) AS BIGINT) AS auth
           FROM ar{i}),
  hr{i} AS (SELECT n.node, coalesce(sum(a.auth), 0) AS r
            FROM nodes n
            LEFT JOIN edges e ON e.src = n.node
            LEFT JOIN a{i} a ON a.node = e.dst
            GROUP BY n.node),
  h{i} AS (SELECT node,
                  CAST(round(CAST(r AS DOUBLE)
                             / CAST(max(r) OVER () AS DOUBLE)
                             * {HITS_GRID}) AS BIGINT) AS hub
           FROM hr{i})
"""


@q(
    "link_hits",
    "WITH "
    + ",".join(
        [
            _GRAPH_SQL,
            f"\n  h0 AS (SELECT node, CAST({HITS_GRID} AS BIGINT) AS hub FROM nodes)",
        ]
        + [_hits_iter_sql(i) for i in range(1, HITS_ITER + 1)]
    )
    + f"""
    SELECT node,
           round(CAST(auth AS DOUBLE)
                 / CAST(sum(auth) OVER () AS DOUBLE), 6) AS auth_score,
           round(CAST(hub AS DOUBLE)
                 / CAST(sum(hub) OVER () AS DOUBLE), 6) AS hub_score
    FROM (SELECT a.node, a.auth, h.hub
          FROM a{HITS_ITER} a JOIN h{HITS_ITER} h ON h.node = a.node)
    """,
)
def link_hits(spark: SparkSession, sf: str) -> DataFrame:
    """HITS (Kleinberg, "Authoritative Sources in a Hyperlinked
    Environment") over the same deterministic lineitem link graph as
    link_pagerank: HITS_ITER coupled rounds of
    auth(v) = Σ_{u→v} hub(u); hub(u) = Σ_{u→v} auth(v), each side
    renormalized to max = HITS_GRID after every half-round.

    Parity device — integer state, one scale-free double op per round
    (the emb_pca_power renormalization): the textbook L1/L2 norm divides
    by an order-dependent floating sum, and fully UN-normalized rounds
    (the r04 form) overflow double exactness — at sf0.01 round-4 sums
    reach ~1e20 >> 2^53, making the result order-dependent (r05 review).
    Instead each half-round is [128-bit-exact integer sum (Spark
    decimal(38,0), DuckDB HUGEINT) -> renormalize by max|r| onto the
    x1e6 integer grid].  The division is ONE double expression on
    bit-equal integers — deterministic across engines regardless of
    magnitude — so every round's state is bit-identical in Spark, DuckDB
    and python AT ANY SCALE, and score magnitudes stay <= in-degree*1e6
    forever.  Renormalizing by max instead of a norm keeps the iterate
    on the grid (the power method's fixed direction is scale-free).  The
    final global-sum normalization + round(·, 6) is the only other
    inexact arithmetic, composed once from exact integers.

    Scale shape: identical to link_pagerank — per round two
    shuffle-on-key aggregations (dst then src, partial aggs combine
    map-side) plus two 1-row max-aggs broadcast back, edges/nodes
    checkpointed once, per-round localCheckpoint keeps the plan O(1);
    AQE skew-splits hub pages.  The final normalization is a 1-row
    global agg broadcast back with a crossJoin, not a driver collect."""
    edges = _link_edges(spark, sf)
    nodes = _link_nodes(edges)
    dec = "decimal(38,0)"
    grid = (
        F.round(
            F.col("r").cast("double") / F.col("m").cast("double") * HITS_GRID
        )
        .cast("long")
    )
    hub = nodes.withColumn("hub", F.lit(HITS_GRID).cast("long"))
    auth = None
    for _ in range(HITS_ITER):
        a_contrib = (
            edges.join(hub.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("hub").cast(dec)).alias("s"))
        )
        a_raw = nodes.join(a_contrib, nodes.node == a_contrib.dst, "left").select(
            "node", F.coalesce("s", F.lit(0).cast(dec)).alias("r")
        )
        am = a_raw.agg(F.max("r").alias("m"))
        auth = (
            a_raw.crossJoin(F.broadcast(am))
            .select("node", grid.alias("auth"))
            .localCheckpoint()
        )
        h_contrib = (
            edges.join(auth.withColumnRenamed("node", "dst"), "dst")
            .groupBy("src")
            .agg(F.sum(F.col("auth").cast(dec)).alias("s"))
        )
        h_raw = nodes.join(h_contrib, nodes.node == h_contrib.src, "left").select(
            "node", F.coalesce("s", F.lit(0).cast(dec)).alias("r")
        )
        hm = h_raw.agg(F.max("r").alias("m"))
        hub = (
            h_raw.crossJoin(F.broadcast(hm))
            .select("node", grid.alias("hub"))
            .localCheckpoint()
        )
    tot = auth.agg(F.sum(F.col("auth").cast(dec)).alias("ta")).crossJoin(
        hub.agg(F.sum(F.col("hub").cast(dec)).alias("th"))
    )
    return (
        auth.join(hub, "node")
        .crossJoin(F.broadcast(tot))
        .select(
            "node",
            F.round(
                F.col("auth").cast("double") / F.col("ta").cast("double"), 6
            ).alias("auth_score"),
            F.round(
                F.col("hub").cast("double") / F.col("th").cast("double"), 6
            ).alias("hub_score"),
        )
    )


# --- weakly connected components -----------------------------------------
CC_ROUNDS = 6


def _cc_iter_sql(i: int) -> str:
    return f"""
  l{i} AS (SELECT a.v AS node, min(l.lbl) AS lbl
           FROM adj a JOIN l{i - 1} l ON l.node = a.u
           GROUP BY a.v)
"""


@q(
    "link_components",
    "WITH "
    + ",".join(
        [
            _GRAPH_SQL,
            _ADJ_SQL,
            "\n  l0 AS (SELECT node, node AS lbl FROM nodes)",
        ]
        + [_cc_iter_sql(i) for i in range(1, CC_ROUNDS + 1)]
    )
    + f"""
    SELECT node, CAST(lbl AS BIGINT) AS comp FROM l{CC_ROUNDS}
    """,
)
def link_components(spark: SparkSession, sf: str) -> DataFrame:
    """Weakly connected components over the link graph by CC_ROUNDS rounds
    of min-label propagation: lbl(v) <- min(lbl(v), min over undirected
    neighbors u of lbl(u)), labels initialized to node ids.  With a fixed
    trip count the result is deterministic ("min label within CC_ROUNDS
    hops") and fully oracle-able by unrolled CTEs — the pytest proves the
    fixture converges inside CC_ROUNDS, i.e. the output IS the true
    min-id component labeling (checked against a python union-find).

    Scale shape: the same per-round co-partitioned join + min-agg as
    link_pagerank — the undirected adjacency (edges both ways + a self
    row carrying the node's own label) shuffles on the neighbor key with
    map-side partial mins, and localCheckpoint keeps each round's plan
    O(1).  Plain label propagation is O(diameter) rounds; web graphs
    have small effective diameter, and the star-contraction variant that
    cuts worst-case chains to O(log n) rounds ships in
    analytics/dedup.py's duplicate-cluster resolution (SoCC'14) — this
    query exposes the oracle-checkable fixed-round form over the link
    graph."""
    edges = _link_edges(spark, sf)
    nodes = _link_nodes(edges)
    adj = _link_adj(edges, nodes)
    lbl = nodes.select("node", F.col("node").alias("lbl"))
    for _ in range(CC_ROUNDS):
        lbl = (
            adj.join(lbl.withColumnRenamed("node", "u"), "u")
            .groupBy(F.col("v").alias("node"))
            .agg(F.min("lbl").alias("lbl"))
            .localCheckpoint()
        )
    return lbl.select("node", F.col("lbl").cast("long").alias("comp"))


# --- triangle counting / clustering coefficient ----------------------------
_TRI_SQL = f"""
WITH {_GRAPH_SQL + ''',
  und AS (SELECT least(src, dst) AS a, greatest(src, dst) AS b
           FROM edges GROUP BY 1, 2),
  udeg AS (SELECT n, CAST(count(*) AS BIGINT) AS d
           FROM (SELECT a AS n FROM und UNION ALL SELECT b FROM und)
           GROUP BY n),
  o AS (SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
                    THEN u.a ELSE u.b END AS src,
               CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
                    THEN u.b ELSE u.a END AS dst
        FROM und u
        JOIN udeg da ON da.n = u.a
        JOIN udeg db ON db.n = u.b),
  tri AS (SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
          FROM o e1
          JOIN o e2 ON e2.src = e1.src AND e2.dst != e1.dst
          JOIN o e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
  per AS (SELECT x AS node FROM tri
          UNION ALL SELECT y FROM tri
          UNION ALL SELECT z FROM tri),
  cnt AS (SELECT node, CAST(count(*) AS BIGINT) AS triangles
          FROM per GROUP BY node)'''}
SELECT n.node,
       coalesce(c.triangles, 0) AS triangles,
       round(CASE WHEN d.d >= 2
                  THEN 2.0 * coalesce(c.triangles, 0) / (d.d * (d.d - 1.0))
                  ELSE 0.0 END, 6) AS clustering
FROM nodes n
JOIN udeg d ON d.n = n.node
LEFT JOIN cnt c ON c.node = n.node
"""


@q("link_triangles", _TRI_SQL)
def link_triangles(spark: SparkSession, sf: str) -> DataFrame:
    """Per-node triangle count + local clustering coefficient over the
    undirected link graph — the density/community signal a crawl corpus
    report carries next to PageRank (link farms score near-clique
    clustering; genuine hub pages score low).

    Algorithm: degree-ordered orientation (Schank & Wagner 2005; the MR
    formulation is Suri & Vassilvitskii, WWW'11 "Counting triangles and
    the curse of the last reducer").  Each undirected edge is oriented
    from its lower-(degree, id) endpoint to the higher one, so every
    triangle {x,y,z} is found EXACTLY once: as the wedge at its
    least-(degree, id) vertex x closed by the oriented edge y->z (the
    wedge enumerates both (y,z) orders; only one matches the edge's
    unique orientation).

    Scale shape — the "last reducer" question: a naive wedge join
    enumerates sum(deg^2) pairs, and the one celebrity node with deg
    10^7 makes one task enumerate 10^14 wedges.  Orientation caps
    oriented out-degree at O(sqrt(m)) for ANY degree distribution, so
    the wedge self-join is O(m^1.5) TOTAL and, more importantly,
    per-key work is bounded — no hot reducer.  Both joins are plain
    equi-joins on src / (src,dst): partial aggregation combines
    map-side, AQE splits residual skew.  The triangle->vertex fan-out
    (3 rows per triangle) then one hash agg per node."""
    edges = _link_edges(spark, sf, checkpoint=False)
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
        .localCheckpoint()
    )
    udeg = (
        und.select(F.col("a").alias("n"))
        .union(und.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
        .localCheckpoint()
    )
    da = udeg.select(F.col("n").alias("a"), F.col("d").alias("da"))
    db = udeg.select(F.col("n").alias("b"), F.col("d").alias("db"))
    fwd = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    o = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("dst"),
        )
        .localCheckpoint()
    )
    e1 = o.select(F.col("src").alias("x"), F.col("dst").alias("y"))
    e2 = o.select(F.col("src").alias("x"), F.col("dst").alias("z"))
    e3 = o.select(F.col("src").alias("y"), F.col("dst").alias("z"))
    tri = (
        e1.join(e2, "x")
        .where(F.col("y") != F.col("z"))
        .join(e3, ["y", "z"])
    )
    # single-pass fan-out: a union of three tri projections would plan
    # and execute the expensive wedge-closing join once PER BRANCH (r05
    # review measured 7 SMJs / 0 reuse); explode emits the same 3 rows
    # per triangle from ONE execution of the join
    per = tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
    cnt = per.groupBy("node").agg(F.count("*").alias("triangles"))
    nodes = udeg.select(F.col("n").alias("node"), "d")
    return (
        nodes.join(cnt, "node", "left")
        .select(
            "node",
            F.coalesce("triangles", F.lit(0)).alias("triangles"),
            F.round(
                F.when(
                    F.col("d") >= 2,
                    2.0
                    * F.coalesce("triangles", F.lit(0))
                    / (F.col("d") * (F.col("d") - 1.0)),
                ).otherwise(0.0),
                6,
            ).alias("clustering"),
        )
    )


# --- label-propagation communities ----------------------------------------
LP_ROUNDS = 4


def _lp_iter_sql(i: int) -> str:
    return f"""
  c{i} AS (SELECT a.v, l.lbl, count(*) AS cnt
           FROM adj a JOIN lp{i - 1} l ON l.node = a.u
           GROUP BY a.v, l.lbl),
  m{i} AS (SELECT v, lbl, cnt, max(cnt) OVER (PARTITION BY v) AS mc
           FROM c{i}),
  lp{i} AS (SELECT v AS node, min(lbl) AS lbl
            FROM m{i} WHERE cnt = mc GROUP BY v)
"""


@q(
    "link_label_prop",
    "WITH "
    + ",".join(
        [
            _GRAPH_SQL,
            _ADJ_SQL,
            "\n  lp0 AS (SELECT node, node AS lbl FROM nodes)",
        ]
        + [_lp_iter_sql(i) for i in range(1, LP_ROUNDS + 1)]
    )
    + f"""
    SELECT node, CAST(lbl AS BIGINT) AS community FROM lp{LP_ROUNDS}
    """,
)
def link_label_prop(spark: SparkSession, sf: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan et
    al.): LP_ROUNDS rounds of lbl(v) <- the most frequent label among
    v's undirected neighbors plus its own (self-preference variant),
    ties broken by the smallest label — a total order, so the fixed-trip
    result is deterministic and the DuckDB oracle unrolls it exactly
    (the link_pagerank device).

    Scale shape: each round is ONE (v, lbl) hash agg with map-side
    partials followed by ONE agg per v — the per-node argmax is
    expressed as max(struct(cnt, -lbl)), which partial-aggregates
    (unlike a window over neighbor labels, there is no per-node sort and
    no high-degree-hub window pole; AQE skew-splits the hub keys of the
    first agg).  localCheckpoint per round keeps the plan O(1) in the
    round count."""
    edges = _link_edges(spark, sf)
    nodes = _link_nodes(edges)
    adj = _link_adj(edges, nodes)
    lbl = nodes.select("node", F.col("node").alias("lbl"))
    for _ in range(LP_ROUNDS):
        lbl = (
            adj.join(lbl.withColumnRenamed("node", "u"), "u")
            .groupBy(F.col("v").alias("node"), "lbl")
            .agg(F.count("*").alias("cnt"))
            .groupBy("node")
            .agg(F.max(F.struct(F.col("cnt"), (-F.col("lbl")).alias("nl"))).alias("b"))
            .select("node", (-F.col("b.nl")).alias("lbl"))
            .localCheckpoint()
        )
    return lbl.select("node", F.col("lbl").cast("long").alias("community"))


# --- anchor-text aggregation (round 5g) --------------------------------------
ANCHOR_TOPK = 3

ORACLE["link_anchor_topk"] = f"""
    WITH e AS (
      SELECT l_suppkey % {N_NODES} AS dst, p_name
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE l_partkey % {N_NODES} != l_suppkey % {N_NODES}),
    t AS (
      SELECT dst, unnest(string_split(p_name, ' ')) AS word FROM e),
    c AS (
      SELECT dst, word, count(*) AS cnt FROM t GROUP BY dst, word),
    r AS (
      SELECT dst, word, cnt,
             CAST(row_number() OVER (PARTITION BY dst
                                     ORDER BY cnt DESC, word) AS INT) AS rn
      FROM c)
    SELECT dst, word, cnt, rn FROM r WHERE rn <= {ANCHOR_TOPK}
"""


@q("link_anchor_topk")
def link_anchor_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Anchor-text aggregation — the classic web-index signal: for every
    link target, the most frequent words used in anchors pointing AT it
    (search engines rank/title pages by in-link anchor text).  Links are
    the deterministic lineitem graph (the link_pagerank edge synthesis,
    every lineitem row = one link occurrence); the anchor is the linking
    part's p_name, joined from the broadcast part dim.

    Scale shape: anchor aggregation at web scale is the google.com pole —
    billions of in-links onto one hot target.  The defense is
    aggregate-FIRST: the (dst, word) groupBy partial-aggregates map-side,
    so the shuffle carries one row per (partition, dst, word) and the
    post-agg top-k window partitions are vocabulary-bounded (distinct
    anchor words per target), NOT in-link-bounded — a hot page with 10^9
    in-links still ranks over at most |vocab| rows.  The dim join is an
    explicit broadcast; no row-level data ever collapses onto one task."""
    li = load(spark, sf, "lineitem").select(
        (F.col("l_partkey") % N_NODES).alias("src"),
        (F.col("l_suppkey") % N_NODES).alias("dst"),
        "l_partkey",
    ).where(F.col("src") != F.col("dst"))
    part = load(spark, sf, "part").select("p_partkey", "p_name")
    anchors = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    counts = (
        anchors.select("dst", F.explode(F.split("p_name", " ")).alias("word"))
        .groupBy("dst", "word")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("dst").orderBy(F.desc("cnt"), F.asc("word"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= ANCHOR_TOPK)
        .select("dst", "word", "cnt", "rn")
    )


# --- BFS crawl depth -------------------------------------------------------
# Hop distance from the seed set — THE crawler scheduling signal: depth from
# the seed list bounds politeness budgets, dictates recrawl tiers, and is the
# standard "crawl frontier ring" statistic.  Seeds = every 40th node (10 of
# 400); K static hops so the oracle can unroll.
#
# Edge synthesis differs from the pagerank graph on purpose: the pagerank
# edges' dst range is supplier-bounded (~100 values), so every reachable
# node is 1 hop from the seed ring and BFS would be degenerate.  Here the
# graph is a stepped lattice — node h links forward to h+1 .. h+5 (step =
# 1 + l_suppkey % 5) — so depth genuinely spreads over 0..K and the ring
# past 5*K hops stays unreached, exercising the NULL (next-ring) branch.
BFS_SEED_MOD = 40
BFS_HOPS = 4

_BFS_BASE_SQL = f"""
  edges AS (SELECT DISTINCT l_partkey % {N_NODES} AS src,
                            (l_partkey + 1 + l_suppkey % 5) % {N_NODES} AS dst
            FROM lineitem
            WHERE l_partkey % {N_NODES}
                  != (l_partkey + 1 + l_suppkey % 5) % {N_NODES}),
  nodes AS (SELECT DISTINCT src AS node FROM edges
            UNION SELECT DISTINCT dst FROM edges),
  d0 AS (SELECT node,
                CASE WHEN node % {BFS_SEED_MOD} = 0 THEN 0 END AS depth
         FROM nodes)
"""


def _bfs_iter_sql(i: int) -> str:
    # relax: depth_i(n) = min(depth_{i-1}(n), 1 + min over in-edges of
    # depth_{i-1}(src)).  coalesce(least(a,b),a,b) instead of bare least so
    # the NULL (unreached) semantics are explicit and engine-independent.
    return f"""
  c{i} AS (SELECT e.dst AS node, min(p.depth) + 1 AS cand
           FROM edges e JOIN d{i - 1} p ON p.node = e.src
           WHERE p.depth IS NOT NULL
           GROUP BY e.dst),
  d{i} AS (SELECT n.node,
                  coalesce(least(n.depth, c.cand), n.depth, c.cand) AS depth
           FROM d{i - 1} n LEFT JOIN c{i} c ON c.node = n.node)
"""


@q(
    "link_bfs_depth",
    "WITH "
    + ",".join([_BFS_BASE_SQL] + [_bfs_iter_sql(i) for i in range(1, BFS_HOPS + 1)])
    + f"""
    SELECT node, CAST(depth AS INT) AS depth
    FROM d{BFS_HOPS} WHERE depth IS NOT NULL
    """,
)
def link_bfs_depth(spark: SparkSession, sf: str) -> DataFrame:
    """BFS hop distance from the seed set over the deterministic lineitem
    link graph: BFS_HOPS relaxation rounds, nodes still unreached after
    round K are omitted (they are depth > K, the next crawl ring).

    Scale shape: each round is ONE co-partitioned join (frontier onto
    edges by src) + ONE min-aggregation on dst — exactly the frontier-
    expansion shape of the crawl engine's epoch loop (engine/crawl.py),
    and of Pregel BFS, without any vertex-program framework.  Partial
    aggregation combines map-side, so the shuffle carries one candidate
    row per (partition, dst), not per traversed edge; localCheckpoint per
    round keeps the plan O(1) like link_pagerank.  Depths are exact
    integers — no float parity surface at all.  At web scale the K-round
    unroll IS the production pattern (crawl rings are shallow: the web's
    seed-to-page distance is small); an open-ended BFS would loop until
    an empty-frontier count, same per-round plan."""
    li = load(spark, sf, "lineitem")
    edges = (
        li.select(
            (F.col("l_partkey") % N_NODES).alias("src"),
            (
                (F.col("l_partkey") + 1 + F.col("l_suppkey") % 5) % N_NODES
            ).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    dist = nodes.withColumn(
        "depth",
        F.when(F.col("node") % BFS_SEED_MOD == 0, F.lit(0)).cast("int"),
    )
    for _ in range(BFS_HOPS):
        cand = (
            edges.join(
                dist.where(F.col("depth").isNotNull()).withColumnRenamed(
                    "node", "src"
                ),
                "src",
            )
            .groupBy("dst")
            .agg((F.min("depth") + 1).alias("cand"))
        )
        dist = (
            dist.join(cand, dist.node == cand.dst, "left")
            .select(
                "node",
                F.coalesce(
                    F.least("depth", "cand"), F.col("depth"), F.col("cand")
                ).alias("depth"),
            )
            .localCheckpoint()
        )
    return dist.where(F.col("depth").isNotNull()).select(
        "node", F.col("depth").cast("int").alias("depth")
    )


# --- Co-citation related pages ---------------------------------------------
# "Related pages" by co-citation (Dean & Henzinger, WWW'99): two pages are
# related when many sources link to BOTH.  The quadratic hazard is hub
# sources — a directory page with 10^5 outlinks would contribute 10^10
# pairs — so production co-citation caps the per-source outlink sample; the
# cap here is deterministic (lowest-ranked dsts) so both engines agree.
COCITE_CAP = 32
COCITE_TOPK = 10

_COCITE_SQL = f"""
    WITH edges AS (SELECT DISTINCT l_partkey % {N_NODES} AS src,
                                   l_suppkey % {N_NODES} AS dst
                   FROM lineitem
                   WHERE l_partkey % {N_NODES} != l_suppkey % {N_NODES}),
    capped AS (
      SELECT src, dst FROM (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src ORDER BY dst) AS rn
        FROM edges) WHERE rn <= {COCITE_CAP}),
    p AS (SELECT c1.dst AS a, c2.dst AS b, CAST(count(*) AS BIGINT) AS cnt
          FROM capped c1 JOIN capped c2
            ON c1.src = c2.src AND c1.dst != c2.dst
          GROUP BY 1, 2),
    r AS (SELECT a, b, cnt,
                 CAST(row_number() OVER (PARTITION BY a
                                         ORDER BY cnt DESC, b) AS INT) AS rn
          FROM p)
    SELECT a, b, cnt, rn FROM r WHERE rn <= {COCITE_TOPK}
"""


@q("link_cocitation_topk", _COCITE_SQL)
def link_cocitation_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Related pages by co-citation: for every page ``a``, the top
    10 (COCITE_TOPK) pages ``b`` most often linked FROM THE SAME SOURCE as
    ``a`` (common in-link count), ties broken by page id.  Edges are the
    deterministic lineitem graph shared with link_pagerank.

    Scale shape: the pair generation is an inverted-index self-join keyed
    on src, and its cost is Σ deg(src)² — unbounded at web scale (one
    directory hub = 10^10 pairs).  The defense is the deterministic
    per-source outlink cap: a src-keyed window keeps the 32 (COCITE_CAP)
    lowest dsts per source BEFORE the self-join, bounding the blow-up at
    |sources| × CAP² regardless of hub degree (the sampling
    device of production related-pages and of dedup_prefix_jaccard's
    prefix filter).  The window and the self-join share the src hash
    partitioning, so the join adds no exchange beyond the window's own;
    pair counts partial-aggregate map-side, and the final per-page top-k
    window ranks at most |pages| × CAP candidate rows with
    WindowGroupLimit pushdown.  Counts are exact integers — no float
    parity surface."""
    edges = _link_edges(spark, sf, checkpoint=False)
    w_cap = Window.partitionBy("src").orderBy("dst")
    capped = (
        edges.withColumn("rn", F.row_number().over(w_cap))
        .where(F.col("rn") <= COCITE_CAP)
        .drop("rn")
        # both sides of the self-join read capped: checkpoint once or the
        # scan -> distinct -> cap window subtree executes twice (the r05
        # review measured the parquet scan planned 2x with 0 reuse — the
        # AQE-stage-re-execution cost class dedup_containment paid for)
        .localCheckpoint()
    )
    pairs = (
        capped.alias("c1")
        .join(capped.alias("c2"), "src")
        .where(F.col("c1.dst") != F.col("c2.dst"))
        .groupBy(F.col("c1.dst").alias("a"), F.col("c2.dst").alias("b"))
        .agg(F.count("*").alias("cnt"))
    )
    w_top = Window.partitionBy("a").orderBy(F.desc("cnt"), F.asc("b"))
    return (
        pairs.withColumn("rn", F.row_number().over(w_top))
        .where(F.col("rn") <= COCITE_TOPK)
        .select("a", "b", "cnt", "rn")
    )


# --- personalized PageRank -------------------------------------------------
# Topic-sensitive PageRank (Haveliwala, WWW'02): the damping reset mass
# returns to a SEED SET instead of uniformly, so scores measure proximity
# to the seeds — the primitive behind focused-crawl prioritization
# ("crawl pages near the trusted seed list first") and TrustRank-style
# spam demotion.  Same deterministic lineitem graph, damping and trip
# count as link_pagerank; seeds are every PPR_SEED_MOD-th node.
PPR_SEED_MOD = 16


def _ppr_iter_sql(i: int) -> str:
    return f"""
  pp{i} AS (SELECT n.node,
                   CASE WHEN n.node % {PPR_SEED_MOD} = 0
                        THEN CAST(1.0 - {DAMPING} AS DOUBLE) ELSE 0.0 END
                   + CAST({DAMPING} AS DOUBLE)
                     * coalesce(sum(p.pr / o.deg), 0) AS pr
            FROM nodes n
            LEFT JOIN edges e ON e.dst = n.node
            LEFT JOIN outdeg o ON o.src = e.src
            LEFT JOIN pp{i - 1} p ON p.node = e.src
            GROUP BY n.node)
"""


@q(
    "link_ppr",
    "WITH "
    + ",".join(
        [
            _GRAPH_SQL,
            f"""
  pp0 AS (SELECT node,
                 CASE WHEN node % {PPR_SEED_MOD} = 0
                      THEN CAST(1.0 AS DOUBLE) ELSE 0.0 END AS pr
          FROM nodes)""",
        ]
        + [_ppr_iter_sql(i) for i in range(1, N_ITER + 1)]
    )
    + f"""
    SELECT node, round(pr, 4) AS ppr FROM pp{N_ITER} WHERE round(pr, 4) > 0
    """,
)
def link_ppr(spark: SparkSession, sf: str) -> DataFrame:
    """Personalized PageRank from the seed set (node % PPR_SEED_MOD == 0):
    4 power iterations of pr' = (1-d)*reset + d * Σ pr(u)/deg(u) with the
    reset mass concentrated on the seeds, returning nodes with non-zero
    rounded score (unreached nodes are exactly 0.0 — the seed-proximity
    frontier after 4 hops, cf. link_bfs_depth's ring cutoff).

    Scores are per-seed-unit mass, not probabilities: every seed starts
    with mass 1.0 and takes (1-d) reset mass per round, undivided by the
    seed count, so the scores sum to up to the number of seeds, not to 1.

    Parity device: identical to link_pagerank — the per-round arithmetic
    tree is the same fixed shape in both engines, the reset CASE is
    integer-exact, and the single round(·, 4) pins the output; the
    WHERE > 0 cut compares the ROUNDED value so both engines cut the
    same rows.

    Scale shape: identical to link_pagerank (one co-partitioned
    join + partial-agg shuffle per round, edges/outdeg/nodes
    checkpointed once, per-round localCheckpoint, AQE skew-split on hub
    dsts).  The only difference is the reset expression — personalization
    adds ZERO distributed cost, which is exactly why topic-sensitive PR
    is practical as a per-topic batch family at web scale."""
    edges = _link_edges(spark, sf)
    outdeg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    nodes = _link_nodes(edges)
    reset = F.when(F.col("node") % PPR_SEED_MOD == 0, F.lit(1.0 - DAMPING)).otherwise(
        F.lit(0.0)
    )
    ranks = nodes.withColumn(
        "pr",
        F.when(F.col("node") % PPR_SEED_MOD == 0, F.lit(1.0)).otherwise(F.lit(0.0)),
    )
    for _ in range(N_ITER):
        contribs = (
            edges.join(outdeg, "src")
            .join(ranks.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("pr") / F.col("deg")).alias("c"))
        )
        ranks = (
            nodes.join(contribs, nodes.node == contribs.dst, "left")
            .select(
                "node",
                (reset + F.lit(DAMPING) * F.coalesce(F.col("c"), F.lit(0.0))).alias(
                    "pr"
                ),
            )
            .localCheckpoint()
        )
    return (
        ranks.select("node", F.round("pr", 4).alias("ppr"))
        .where(F.col("ppr") > 0)
    )
