"""SURVEY.md §2.2 relational operator surface — one driver-parity query per row.

Each entry in ``QUERIES`` is a Spark DataFrame program; ``ORACLE`` holds the
equivalent DuckDB SQL the driver runs on the same parquet views.  Column
names/aliases match exactly on both sides (driver hashes by sorted column
name).  Doubles are rounded to 4 decimals on both sides; timestamps are
rendered as UTC wall-clock strings (see analytics/common.py).

Operator coverage (SURVEY.md §2.2 IDs in each docstring): SC1, PF1-PF4,
J1-J8, A1/A2/A4/A5/A6, W1-W4, T1-T3, U1-U3, X-str/hash/date/math/arr/json,
ST3-ST5.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from analytics.common import load, registry, utc

QUERIES, ORACLE, q = registry()


# --------------------------------------------------------------------- scans
@q(
    "sc1_pushdown_scan",
    """
    SELECT l_returnflag, count(*) AS n, round(sum(l_extendedprice), 2) AS revenue
    FROM lineitem WHERE l_quantity < 10 AND l_discount > 0.05
    GROUP BY l_returnflag
    """,
)
def sc1_pushdown_scan(spark: SparkSession, sf: str) -> DataFrame:
    """SC1: parquet scan with predicate pushdown + column pruning.

    Plan check (tests/test_plan_shape_analytics.py::test_sc1_pushdown_and_pruning):
    PushedFilters carries both predicates; ReadSchema is the 4 referenced
    columns only.
    """
    li = load(spark, sf, "lineitem")
    return (
        li.where((F.col("l_quantity") < 10) & (F.col("l_discount") > 0.05))
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_extendedprice"), 2).alias("revenue"))
    )


@q(
    "sc8_bucketed_join",
    """
    SELECT c.c_mktsegment AS seg, CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o.o_totalprice), 2) AS revenue
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment
    """,
)
def sc8_bucketed_join(spark: SparkSession, sf: str) -> DataFrame:
    """SC8: bucketed-table write + exchange-free co-located join.

    Both inputs are written as bucketed tables (8 buckets, hashed and
    sorted on the join key), then joined with a MERGE hint: because the
    two scans already share Spark's bucket partitioning on c_custkey /
    o_custkey, the sort-merge join needs NO Exchange on either side —
    tests/test_plan_shape_analytics.py pins zero Exchanges below the
    join.  This is THE at-rest answer to the repeated-join shuffle at
    100 TB: bucket the frontier and the seen-set once at write time and
    every subsequent epoch's dedup join is shuffle-free (the Iceberg
    production path declares the same layout via bucket partition
    transforms).  The tiny fixture writes land under /tmp, keyed by the
    sf directory name so concurrent sf runs never collide; the result
    itself is an ordinary join+agg any engine can oracle."""
    tag = sf.rstrip("/").rsplit("/", 1)[-1]
    base = f"/tmp/spider_sc8_{tag}"
    # ONE sanitized suffix for write and read: any non-identifier char
    # (not just '.') would throw ParseException in the unquoted table
    # name, and a second hand-derived copy could drift from this one
    suffix = re.sub(r"[^A-Za-z0-9_]", "_", tag)
    for name, src, key in (
        ("orders", "orders", "o_custkey"),
        ("customer", "customer", "c_custkey"),
    ):
        tbl = f"sc8_{name}_{suffix}"
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        (
            load(spark, sf, src)
            .write.bucketBy(8, key)
            .sortBy(key)
            .option("path", f"{base}/{name}")
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(tbl)
        )
    o = spark.table(f"sc8_orders_{suffix}")
    c = spark.table(f"sc8_customer_{suffix}")
    return (
        o.join(c.hint("merge"), o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


# ------------------------------------------------------- projection / filter
@q(
    "pf1_projection",
    """
    SELECT c_custkey, lower(c_name) AS name_lc,
           c_acctbal * 2 AS bal_adj, c_mktsegment AS seg
    FROM customer
    """,
)
def pf1_projection(spark: SparkSession, sf: str) -> DataFrame:
    """PF1: projection / rename / computed column (doubling is exact in
    binary fp, so no round() boundary can split the engines)."""
    return load(spark, sf, "customer").select(
        "c_custkey",
        F.lower("c_name").alias("name_lc"),
        (F.col("c_acctbal") * 2).alias("bal_adj"),
        F.col("c_mktsegment").alias("seg"),
    )


@q(
    "pf2_predicates",
    """
    SELECT l_orderkey, l_linenumber FROM lineitem
    WHERE (l_quantity BETWEEN 5 AND 15 AND l_returnflag IN ('A', 'R'))
       OR (l_discount > 0.09 AND NOT l_linestatus = 'O')
    """,
)
def pf2_predicates(spark: SparkSession, sf: str) -> DataFrame:
    """PF2: conjunctive/disjunctive/IN/NOT predicate tree."""
    li = load(spark, sf, "lineitem")
    return li.where(
        (F.col("l_quantity").between(5, 15) & F.col("l_returnflag").isin("A", "R"))
        | ((F.col("l_discount") > 0.09) & ~(F.col("l_linestatus") == "O"))
    ).select("l_orderkey", "l_linenumber")


@q(
    "pf3_null_safe",
    """
    WITH e AS (SELECT event_id, CASE WHEN value < 10 THEN NULL ELSE value END AS v
               FROM events)
    SELECT count(*) AS n_rows,
           count(v) AS n_notnull,
           count(*) FILTER (WHERE v IS NULL) AS n_null,
           count(*) FILTER (WHERE v IS NOT DISTINCT FROM NULL) AS n_nullsafe_eq
    FROM e
    """,
)
def pf3_null_safe(spark: SparkSession, sf: str) -> DataFrame:
    """PF3: isNull / isNotNull / null-safe equality."""
    e = load(spark, sf, "events").withColumn(
        "v", F.when(F.col("value") < 10, F.lit(None)).otherwise(F.col("value"))
    )
    return e.agg(
        F.count("*").alias("n_rows"),
        F.count("v").alias("n_notnull"),
        F.count(F.when(F.col("v").isNull(), 1)).alias("n_null"),
        F.count(F.when(F.col("v").eqNullSafe(F.lit(None).cast("double")), 1)).alias(
            "n_nullsafe_eq"
        ),
    )


@q(
    "pf4_like_rlike",
    """
    SELECT p_partkey, p_type FROM part
    WHERE p_type LIKE '%ECO%' OR regexp_matches(p_name, '^[bc].*t$')
    """,
)
def pf4_like_rlike(spark: SparkSession, sf: str) -> DataFrame:
    """PF4: LIKE and regexp predicates."""
    p = load(spark, sf, "part")
    return p.where(
        F.col("p_type").like("%ECO%") | F.col("p_name").rlike("^[bc].*t$")
    ).select("p_partkey", "p_type")


# --------------------------------------------------------------------- joins
@q(
    "j1_broadcast_join",
    """
    SELECT n.n_name, r.r_name FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def j1_broadcast_join(spark: SparkSession, sf: str) -> DataFrame:
    """J1: broadcast hash equi-join (explicit F.broadcast hint)."""
    n, r = load(spark, sf, "nation"), load(spark, sf, "region")
    return n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select("n_name", "r_name")


@q(
    "j2_shuffle_join_agg",
    """
    SELECT c.c_mktsegment AS seg, count(*) AS n_orders,
           round(sum(o.o_totalprice), 2) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def j2_shuffle_join_agg(spark: SparkSession, sf: str) -> DataFrame:
    """J2: shuffle equi-join (AQE picks SMJ/SHJ) + hash agg on top."""
    o, c = load(spark, sf, "orders"), load(spark, sf, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )


@q(
    "j3_left_outer_join",
    """
    SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
    """,
)
def j3_left_outer_join(spark: SparkSession, sf: str) -> DataFrame:
    """J3: left outer join preserving order-less customers (count = 0)."""
    o, c = load(spark, sf, "orders"), load(spark, sf, "customer")
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@q(
    "j4_left_anti_join",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
)
def j4_left_anti_join(spark: SparkSession, sf: str) -> DataFrame:
    """J4: left anti join — the D2 URL-seen dedup primitive."""
    o, c = load(spark, sf, "orders"), load(spark, sf, "customer")
    return c.join(
        o.where(F.col("o_totalprice") > 300000), o.o_custkey == c.c_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@q(
    "j5_left_semi_join",
    """
    SELECT c_custkey FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
    """,
)
def j5_left_semi_join(spark: SparkSession, sf: str) -> DataFrame:
    """J5: left semi join — eligible-host style selection."""
    o, c = load(spark, sf, "orders"), load(spark, sf, "customer")
    return c.join(
        o.where(F.col("o_totalprice") > 100000), o.o_custkey == c.c_custkey, "left_semi"
    ).select("c_custkey")


@q(
    "j6_range_join",
    """
    WITH bands(band, lo, hi) AS (VALUES (0, 0.0, 25.0), (1, 25.0, 50.0),
                                        (2, 50.0, 75.0), (3, 75.0, 1e18))
    SELECT b.band, count(*) AS n, round(sum(e.value), 4) AS total
    FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
    GROUP BY b.band
    """,
)
def j6_range_join(spark: SparkSession, sf: str) -> DataFrame:
    """J6: theta/range join of a fact table against tiny value bands."""
    e = load(spark, sf, "events")
    bands = spark.createDataFrame(
        [(0, 0.0, 25.0), (1, 25.0, 50.0), (2, 50.0, 75.0), (3, 75.0, 1e18)],
        "band int, lo double, hi double",
    )
    return (
        e.join(F.broadcast(bands), (e.value >= bands.lo) & (e.value < bands.hi))
        .groupBy("band")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total"))
    )


@q(
    "j7_asof_join",
    """
    WITH j AS (
      SELECT e.event_id, o.o_orderkey, o.o_orderdate,
             row_number() OVER (PARTITION BY e.event_id
                                ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
      FROM events e JOIN orders o
        ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts)
    SELECT event_id, o_orderkey AS asof_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS asof_date
    FROM j WHERE rn = 1
    """,
)
def j7_asof_join(spark: SparkSession, sf: str) -> DataFrame:
    """J7: as-of join — most recent order per (user==custkey) at event time.

    Spark has no native as-of; this is the standard window-rank reduction
    also used for robots TTL resolution (engine/robots.py).
    """
    utc(spark)
    o, e = load(spark, sf, "orders"), load(spark, sf, "events")
    j = e.join(o, (o.o_custkey == e.user_id) & (o.o_orderdate <= e.ts))
    w = Window.partitionBy("event_id").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        j.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "event_id",
            F.col("o_orderkey").alias("asof_orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("asof_date"),
        )
    )


@q(
    "j8_cross_join",
    """
    SELECT r.r_name, n.n_name FROM region r CROSS JOIN nation n
    """,
)
def j8_cross_join(spark: SparkSession, sf: str) -> DataFrame:
    """J8: cross join (tiny dims only — F5 salt-enumeration pattern)."""
    r, n = load(spark, sf, "region"), load(spark, sf, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


# -------------------------------------------------------------- aggregations
@q(
    "a1_hash_agg",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS n
    FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def a1_hash_agg(spark: SparkSession, sf: str) -> DataFrame:
    """A1: TPC-H Q1-style hash aggregation (partial+final automatic)."""
    utc(spark)  # string->timestamp literal must not shift with session TZ
    li = load(spark, sf, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("n"),
        )
    )


@q(
    "a2_count_distinct",
    """
    SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_customers, count(*) AS n_orders
    FROM orders GROUP BY o_orderstatus
    """,
)
def a2_count_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """A2: exact distinct count (seen-set size audit pattern)."""
    return (
        load(spark, sf, "orders")
        .groupBy("o_orderstatus")
        .agg(F.countDistinct("o_custkey").alias("n_customers"), F.count("*").alias("n_orders"))
    )


@q(
    "a3_approx_distinct",
    """
    SELECT count(DISTINCT l_orderkey) AS n_exact, TRUE AS within_band
    FROM lineitem
    """,
)
def a3_approx_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """A3: approx_count_distinct (HLL, rsd 5%) with a tolerance-band oracle:
    Spark's sketch value can never hash-match DuckDB's (different sketch),
    so the hashed output is (exact count, |approx-exact| <= 3*rsd*exact) —
    the band check runs in-query and the driver gets a checkable row
    instead of `no_oracle`."""
    agg = load(spark, sf, "lineitem").agg(
        F.approx_count_distinct("l_orderkey", 0.05).alias("approx"),
        F.countDistinct("l_orderkey").alias("n_exact"),
    )
    band = F.abs(F.col("approx") - F.col("n_exact")) <= 3 * 0.05 * F.col("n_exact")
    return agg.select("n_exact", band.alias("within_band"))


@q(
    "a4_rollup",
    """
    SELECT coalesce(l_returnflag, '<all>') AS rf, coalesce(l_linestatus, '<all>') AS ls,
           count(*) AS n, round(sum(l_quantity), 2) AS qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def a4_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """A4: rollup grouping sets (L1 metrics rollup pattern)."""
    return (
        load(spark, sf, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("<all>")).alias("rf"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("ls"),
            "n",
            "qty",
        )
    )


@q(
    "a5_collect_list_ordered",
    """
    SELECT user_id, string_agg(event_type, ',' ORDER BY ts, event_id) AS type_seq
    FROM events GROUP BY user_id
    """,
)
def a5_collect_list_ordered(spark: SparkSession, sf: str) -> DataFrame:
    """A5: deterministic ordered collect_list (crawl_log order-compare
    pattern): sort structs by a unique key, then project."""
    e = load(spark, sf, "events")
    return e.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
                lambda s: s["event_type"],
            ),
            ",",
        ).alias("type_seq")
    )


@q(
    "a6_global_agg",
    """
    SELECT count(*) AS n, round(min(l_extendedprice), 2) AS min_price,
           round(max(l_extendedprice), 2) AS max_price,
           round(avg(l_quantity), 4) AS avg_qty
    FROM lineitem
    """,
)
def a6_global_agg(spark: SparkSession, sf: str) -> DataFrame:
    """A6: global (grouping-less) aggregation — the stop-condition agg."""
    return load(spark, sf, "lineitem").agg(
        F.count("*").alias("n"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
    )


# ------------------------------------------------------------------- windows
@q(
    "w1_row_number_topk",
    """
    SELECT o_custkey, o_orderkey, rn FROM (
      SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) WHERE rn <= 3
    """,
)
def w1_row_number_topk(spark: SparkSession, sf: str) -> DataFrame:
    """W1/T3: per-group top-k via row_number — the F5 pop shape."""
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        load(spark, sf, "orders")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
    )


@q(
    "w2_rank_dense",
    """
    SELECT s_nationkey, s_suppkey,
           rank() OVER (PARTITION BY s_nationkey ORDER BY round(s_acctbal, 2) DESC) AS rk,
           dense_rank() OVER (PARTITION BY s_nationkey ORDER BY round(s_acctbal, 2) DESC) AS drk
    FROM supplier
    """,
)
def w2_rank_dense(spark: SparkSession, sf: str) -> DataFrame:
    """W2: rank / dense_rank (ties share rank — deterministic output)."""
    w = Window.partitionBy("s_nationkey").orderBy(F.round("s_acctbal", 2).desc())
    s = load(spark, sf, "supplier")
    return s.select(
        "s_nationkey",
        "s_suppkey",
        F.rank().over(w).alias("rk"),
        F.dense_rank().over(w).alias("drk"),
    )


@q(
    "w3_lag_lead",
    """
    SELECT event_id,
           round(lag(value) OVER w, 4) AS prev_value,
           round(lead(value) OVER w, 4) AS next_value
    FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def w3_lag_lead(spark: SparkSession, sf: str) -> DataFrame:
    """W3: lag/lead analytics over a deterministic per-user order."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return load(spark, sf, "events").select(
        "event_id",
        F.round(F.lag("value").over(w), 4).alias("prev_value"),
        F.round(F.lead("value").over(w), 4).alias("next_value"),
    )


@q(
    "w4_running_sum",
    """
    SELECT event_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
             AS running_total
    FROM events
    """,
)
def w4_running_sum(spark: SparkSession, sf: str) -> DataFrame:
    """W4: frame-spec running aggregate (politeness-budget audit shape)."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return load(spark, sf, "events").select(
        "event_id", F.round(F.sum("value").over(w), 4).alias("running_total")
    )


@q(
    "w5_range_frame",
    """
    SELECT event_id,
           round(sum(value) OVER (PARTITION BY user_id
                                  ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                                  RANGE BETWEEN 300 PRECEDING AND CURRENT ROW), 4)
             AS sum_5min
    FROM events
    """,
)
def w5_range_frame(spark: SparkSession, sf: str) -> DataFrame:
    """W5: RANGE (value-based) window frame — the sliding 5-minute running
    sum per user (rate-limit / burst-detection shape).  Unlike the W4
    ROWS frame, a RANGE frame includes every peer at the same order
    value, so tied timestamps aggregate identically on both engines
    regardless of tie order.  The oracle keys on floor(epoch(ts)) because
    Spark's unix_timestamp TRUNCATES sub-second fractions while DuckDB's
    bare CAST(epoch(ts) AS BIGINT) rounds half-up — on microsecond
    timestamps the two keyings disagree on ~half the rows (r04 advice)."""
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-300, Window.currentRow)
    )
    return load(spark, sf, "events").select(
        "event_id", F.round(F.sum("value").over(w), 4).alias("sum_5min")
    )


@q(
    "events_funnel",
    """
    WITH b AS (
      SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS s
      FROM events),
    c AS (SELECT user_id, min(s) AS click_s FROM b
          WHERE event_type = 'click' GROUP BY user_id),
    v AS (SELECT b.user_id, min(s) AS view_s
          FROM b JOIN c USING (user_id)
          WHERE event_type = 'view' AND s > click_s GROUP BY b.user_id),
    p AS (SELECT b.user_id, min(s) AS purchase_s
          FROM b JOIN v USING (user_id)
          WHERE event_type = 'purchase' AND s > view_s GROUP BY b.user_id)
    SELECT c.user_id, c.click_s, v.view_s, p.purchase_s
    FROM c LEFT JOIN v USING (user_id) LEFT JOIN p USING (user_id)
    """,
)
def events_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered conversion funnel (click -> view -> purchase): per user,
    the first click, the first view strictly after it, and the first
    purchase strictly after that — the sequential-pattern query every
    event-analytics surface ships.  Stage timestamps are floor-epoch
    seconds (the shared st3/w5 convention) and stage k is NULL when the
    user never progressed, so the row itself encodes funnel depth.

    Scale shape: every stage is a user_id-keyed filter + min-agg, and
    every join is on user_id — one logical hash partitioning reused
    across all three stages and both left joins (AQE coalesces; no
    re-key, no window over raw events, no per-user sort).  Stage tables
    shrink monotonically (funnel property), so the later joins see
    strictly smaller inputs."""
    b = load(spark, sf, "events").select(
        "user_id", "event_type", F.unix_timestamp("ts").alias("s")
    )
    c = (
        b.where(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("s").alias("click_s"))
    )
    v = (
        b.where(F.col("event_type") == "view")
        .join(c, "user_id")
        .where(F.col("s") > F.col("click_s"))
        .groupBy("user_id")
        .agg(F.min("s").alias("view_s"))
    )
    p = (
        b.where(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .where(F.col("s") > F.col("view_s"))
        .groupBy("user_id")
        .agg(F.min("s").alias("purchase_s"))
    )
    return c.join(v, "user_id", "left").join(p, "user_id", "left").select(
        "user_id", "click_s", "view_s", "purchase_s"
    )


@q(
    "a7_cube",
    """
    SELECT coalesce(lang, 'ALL') AS lang,
           coalesce(source, 'ALL') AS source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY CUBE (lang, source)
    """,
)
def a7_cube(spark: SparkSession, sf: str) -> DataFrame:
    """A7: CUBE multi-dimensional aggregate (all four grouping sets in one
    pass — Catalyst's Expand feeds a single hash aggregate, so the input
    is scanned once however many sets roll up).  NULL markers coalesced
    to 'ALL' on both engines so the driver canonicalizer never sorts
    NULLs."""
    d = load(spark, sf, "documents")
    return (
        d.cube("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .select(
            F.coalesce("lang", F.lit("ALL")).alias("lang"),
            F.coalesce("source", F.lit("ALL")).alias("source"),
            "n_docs",
            "total_chars",
        )
    )


@q(
    "a8_pivot",
    """
    SELECT o_orderpriority,
           CAST(coalesce(count(*) FILTER (WHERE o_orderstatus = 'F'), 0)
                AS BIGINT) AS n_f,
           CAST(coalesce(count(*) FILTER (WHERE o_orderstatus = 'O'), 0)
                AS BIGINT) AS n_o,
           CAST(coalesce(count(*) FILTER (WHERE o_orderstatus = 'P'), 0)
                AS BIGINT) AS n_p,
           round(coalesce(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'F'),
                          0), 2) AS price_f
    FROM orders GROUP BY o_orderpriority
    """,
)
def a8_pivot(spark: SparkSession, sf: str) -> DataFrame:
    """A8: PIVOT — long-to-wide reshape (groupBy().pivot()).  The pivot
    values are given EXPLICITLY: without them Spark first runs a
    driver-blocking distinct scan over the pivot column to discover the
    domain — at 10^10 rows that is a full extra pass before planning even
    starts.  With the domain pinned, the plan is one partial+final hash
    aggregate over Expand-projected conditional aggregates, exactly the
    CUBE shape (A7): the input is scanned once regardless of the output
    width.  The DuckDB twin is the equivalent conditional aggregation
    (FILTER clauses), which is also what Catalyst lowers pivot to."""
    o = load(spark, sf, "orders")
    wide = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            # count(lit(1)): pivot lowers each agg to agg(CASE WHEN pivot
            # = v), where a star argument is not legal
            F.count(F.lit(1)).alias("n"),
            F.sum("o_totalprice").alias("price"),
        )
    )
    return wide.select(
        "o_orderpriority",
        F.coalesce(F.col("F_n"), F.lit(0)).cast("long").alias("n_f"),
        F.coalesce(F.col("O_n"), F.lit(0)).cast("long").alias("n_o"),
        F.coalesce(F.col("P_n"), F.lit(0)).cast("long").alias("n_p"),
        F.round(F.coalesce(F.col("F_price"), F.lit(0)), 2).alias("price_f"),
    )


# PF5 shares one SQL body across both engines (only the table names differ)
# so the subquery semantics under test are literally identical.
_PF5_SQL = """
    SELECT c_custkey, round(c_acctbal, 2) AS acctbal
    FROM {c} c
    WHERE c_acctbal > (SELECT round(avg(c_acctbal), 0) FROM {c})
      AND EXISTS (SELECT 1 FROM {o} o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderstatus = 'F')
      AND c_custkey NOT IN (SELECT o_custkey FROM {o}
                            WHERE o_totalprice > 400000)
"""


@q("pf5_subqueries", _PF5_SQL.format(c="customer", o="orders"))
def pf5_subqueries(spark: SparkSession, sf: str) -> DataFrame:
    """PF5: SQL subquery surface — an uncorrelated scalar subquery, a
    correlated EXISTS, and a NOT IN list subquery in one predicate.

    These are planner features, not expressible as single DataFrame
    verbs: Catalyst turns the scalar subquery into a one-row broadcast
    exchange reused by every task, EXISTS into a left-semi join, and
    NOT IN into a null-aware left-anti join — so this row exercises the
    subquery *rewrite* machinery the DataFrame J4/J5 rows bypass.  The
    scalar threshold is round(avg, 0): the engines may disagree on
    avg's last ulp (summation order), but a whole-dollar rounding moves
    the boundary only if the true mean sits within ~1e-12 of a .5 —
    the same tolerance class as the repo-wide round(·, 4) convention.

    Scale shape: one extra tiny job for the scalar subquery, then
    semi/anti joins on o_custkey that AQE plans like any J4/J5 —
    nothing here widens with row count except the joins themselves."""
    load(spark, sf, "customer").createOrReplaceTempView("pf5_customer")
    load(spark, sf, "orders").createOrReplaceTempView("pf5_orders")
    return spark.sql(_PF5_SQL.format(c="pf5_customer", o="pf5_orders"))


@q(
    "j9_full_outer",
    """
    WITH rich AS (SELECT c_custkey, c_acctbal FROM customer
                  WHERE c_acctbal > 7000),
         pend AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_p
                  FROM orders WHERE o_orderstatus = 'P' GROUP BY o_custkey)
    SELECT coalesce(r.c_custkey, p.o_custkey) AS custkey,
           round(r.c_acctbal, 2) AS acctbal, p.n_p
    FROM rich r FULL OUTER JOIN pend p ON p.o_custkey = r.c_custkey
    """,
)
def j9_full_outer(spark: SparkSession, sf: str) -> DataFrame:
    """J9: full outer join — both sides keep their unmatched rows (NULLs
    on the other side), the reconciliation shape (e.g. frontier-vs-log
    audit: URLs popped but never fetched ∪ fetched but never popped).
    The two inputs are deliberately non-nested subsets: high-balance
    customers vs customers holding rare 'P'-status orders, so both
    left-only and right-only rows exist at every sf.

    Scale shape: full outer cannot broadcast either side (both sides'
    unmatched rows must survive), so it is the one join type that is
    ALWAYS a shuffle on the key — both inputs here are pre-aggregated /
    pre-filtered to key-unique rows first, which is exactly what you
    want at 100 TB: shuffle the distilled keys, not the raw tables."""
    c = load(spark, sf, "customer")
    o = load(spark, sf, "orders")
    rich = c.where(F.col("c_acctbal") > 7000).select("c_custkey", "c_acctbal")
    pend = (
        o.where(F.col("o_orderstatus") == "P")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_p"))
    )
    return rich.join(
        pend, rich.c_custkey == pend.o_custkey, "full_outer"
    ).select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        F.round("c_acctbal", 2).alias("acctbal"),
        "n_p",
    )


@q(
    "a9_grouping_sets",
    """
    SELECT coalesce(l_returnflag, 'ALL') AS flag,
           coalesce(l_linestatus, 'ALL') AS status,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(l_quantity), 2) AS qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def a9_grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    """A9: explicit GROUPING SETS — the general form A4's rollup and A7's
    cube are sugar for; here an asymmetric set list ((flag, status),
    (flag), ()) that neither rollup nor cube generates.  Same Expand +
    single hash-aggregate physical shape as A7: the input is scanned
    once, each row fans out to one tuple per grouping set with partial
    aggregation before the shuffle.  NULL markers coalesced to 'ALL'
    (the A7 device); real flag/status values are single letters, so the
    marker can never collide."""
    li = load(spark, sf, "lineitem")
    return (
        li.groupingSets(
            [
                [F.col("l_returnflag"), F.col("l_linestatus")],
                [F.col("l_returnflag")],
                [],
            ],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("flag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("status"),
            "n",
            "qty",
        )
    )


@q(
    "w6_rank_funcs",
    """
    SELECT o_orderkey,
           round(percent_rank() OVER (PARTITION BY o_orderpriority
                                      ORDER BY o_totalprice, o_orderkey), 6)
             AS pct_rank,
           round(cume_dist() OVER (PARTITION BY o_orderpriority
                                   ORDER BY o_totalprice, o_orderkey), 6)
             AS cum_dist,
           CAST(ntile(4) OVER (PARTITION BY o_orderpriority
                               ORDER BY o_totalprice, o_orderkey) AS BIGINT)
             AS quartile
    FROM orders
    """,
)
def w6_rank_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """W6: distribution-rank window functions — percent_rank, cume_dist,
    ntile.  The ordering ends in the unique o_orderkey so peer groups
    are single rows and both engines assign identical ranks (ntile's
    bucket-boundary arithmetic and cume_dist's peer counting agree only
    under a total order).  Used-by shape: quantile bucketing of hosts by
    fetch latency, the same device doc_quality_buckets implements at
    corpus scale without the per-partition sort this window needs."""
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return load(spark, sf, "orders").select(
        "o_orderkey",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cum_dist"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


@q(
    "st7_stream_static_join",
    """
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(e.value), 4) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def st7_stream_static_join(spark: SparkSession, sf: str) -> DataFrame:
    """ST7 batch twin: stream-static enrichment join + segment rollup.
    The streaming form (engine/streaming.py segment_rollup over a file
    stream) is proven equal on the same files by tests/test_streaming.py;
    this registration carries the DuckDB oracle.  The dim side is
    broadcast — the stream (or batch scan) is never shuffled for the
    join, and the rollup's groupBy key is low-cardinality with map-side
    partials."""
    from engine.streaming import segment_rollup

    e = load(spark, sf, "events")
    dim = load(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    return segment_rollup(e, dim)


@q(
    "st8_stream_stream_join",
    """
    SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           CAST(floor(epoch(p.ts)) - floor(epoch(c.ts)) AS BIGINT) AS lag_s
    FROM events c JOIN events p
      ON p.user_id = c.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """,
)
def st8_stream_stream_join(spark: SparkSession, sf: str) -> DataFrame:
    """ST8 batch twin: stream-stream interval join (click -> purchase
    attribution within 30 minutes, keyed on user_id).  The streaming form
    (engine/streaming.py click_purchase_attribution over two file
    streams, both sides watermarked) is proven equal on the same files by
    tests/test_streaming.py; this registration carries the DuckDB oracle.
    lag_s uses unix_timestamp / floor(epoch()) — the truncate-to-second
    convention the st3/st4/w5 oracles share."""
    from engine.streaming import click_purchase_attribution

    e = load(spark, sf, "events")
    return click_purchase_attribution(
        e.where(F.col("event_type") == "click"),
        e.where(F.col("event_type") == "purchase"),
    )


# ------------------------------------------------- sort / limit / set ops
@q(
    "t1_global_sort",
    """
    SELECT n_name, row_number() OVER (ORDER BY n_name) AS pos FROM nation
    """,
)
def t1_global_sort(spark: SparkSession, sf: str) -> DataFrame:
    """T1: global total-order sort, made hash-visible via position."""
    w = Window.orderBy("n_name")
    return load(spark, sf, "nation").select("n_name", F.row_number().over(w).alias("pos"))


@q(
    "t2_topk_limit",
    """
    SELECT o_orderkey, round(o_totalprice, 2) AS price FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def t2_topk_limit(spark: SparkSession, sf: str) -> DataFrame:
    """T2: global top-k (TakeOrderedAndProject)."""
    return (
        load(spark, sf, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("price"))
    )


@q(
    "t3_group_topk",
    """
    SELECT s_nationkey, s_suppkey FROM (
      SELECT s_nationkey, s_suppkey,
             row_number() OVER (PARTITION BY s_nationkey
                                ORDER BY s_acctbal DESC, s_suppkey) AS rn
      FROM supplier) WHERE rn <= 2
    """,
)
def t3_group_topk(spark: SparkSession, sf: str) -> DataFrame:
    """T3: per-group top-k (the F5 frontier-pop relational shape)."""
    w = Window.partitionBy("s_nationkey").orderBy(F.col("s_acctbal").desc(), F.col("s_suppkey"))
    return (
        load(spark, sf, "supplier")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 2)
        .select("s_nationkey", "s_suppkey")
    )


@q(
    "u1_union",
    """
    SELECT r_name, count(*) AS n FROM (
      SELECT r_name FROM region UNION ALL SELECT r_name FROM region)
    GROUP BY r_name
    """,
)
def u1_union(spark: SparkSession, sf: str) -> DataFrame:
    """U1: unionByName (F7 merge shape)."""
    r = load(spark, sf, "region").select("r_name")
    return r.unionByName(r).groupBy("r_name").agg(F.count("*").alias("n"))


@q(
    "u2_intersect_except",
    """
    SELECT 'both' AS tag, n_nationkey FROM
      (SELECT n_nationkey FROM nation INTERSECT
       SELECT n_nationkey FROM nation WHERE n_regionkey IN (0, 1))
    UNION ALL
    SELECT 'only_a' AS tag, n_nationkey FROM
      (SELECT n_nationkey FROM nation EXCEPT
       SELECT n_nationkey FROM nation WHERE n_regionkey IN (0, 1))
    """,
)
def u2_intersect_except(spark: SparkSession, sf: str) -> DataFrame:
    """U2: intersect / except (resume-equivalence diff-test primitives)."""
    n = load(spark, sf, "nation").select("n_nationkey")
    sub = load(spark, sf, "nation").where(F.col("n_regionkey").isin(0, 1)).select("n_nationkey")
    both = n.intersect(sub).select(F.lit("both").alias("tag"), "n_nationkey")
    # subtract IS EXCEPT DISTINCT; exceptAll().distinct() keeps a value
    # that appears twice left / once right, which EXCEPT drops (r05
    # review — safe today only because n_nationkey is unique)
    only_a = n.subtract(sub).select(F.lit("only_a").alias("tag"), "n_nationkey")
    return both.unionByName(only_a)


@q(
    "u3_distinct_pairs",
    """
    SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
    """,
)
def u3_distinct_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """U3: dropDuplicates on a full projection (deterministic form)."""
    return load(spark, sf, "orders").select("o_orderstatus", "o_orderpriority").distinct()


# ---------------------------------------------------------- scalar functions
@q(
    "x_string_funcs",
    """
    SELECT c_custkey,
           lower(trim(c_name)) AS lc,
           substring(c_name, 1, 8) AS prefix,
           length(c_name) AS name_len,
           regexp_extract(c_name, '([0-9]+)', 1) AS digits,
           concat_ws('|', c_mktsegment, c_name) AS joined,
           lpad(CAST(c_nationkey AS VARCHAR), 4, '0') AS nk_pad
    FROM customer
    """,
)
def x_string_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """X-str: lower/trim/substring/length/regexp_extract/concat_ws/lpad."""
    c = load(spark, sf, "customer")
    return c.select(
        "c_custkey",
        F.lower(F.trim("c_name")).alias("lc"),
        F.substring("c_name", 1, 8).alias("prefix"),
        F.length("c_name").alias("name_len"),
        F.regexp_extract("c_name", r"([0-9]+)", 1).alias("digits"),
        F.concat_ws("|", "c_mktsegment", "c_name").alias("joined"),
        F.lpad(F.col("c_nationkey").cast("string"), 4, "0").alias("nk_pad"),
    )


@q(
    "x_hash_funcs",
    """
    SELECT p_partkey, md5(p_name) AS name_md5, sha256(p_brand) AS brand_sha
    FROM part
    """,
)
def x_hash_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """X-hash: md5 / sha2-256 (content_hash pattern). xxhash64 (C2) has no
    DuckDB twin and is parity-checked via pytest vectors instead."""
    p = load(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.md5("p_name").alias("name_md5"),
        F.sha2("p_brand", 256).alias("brand_sha"),
    )


@q(
    "x_date_funcs",
    """
    SELECT o_orderkey,
           year(o_orderdate) AS y, month(o_orderdate) AS m, day(o_orderdate) AS d,
           strftime(o_orderdate, '%Y-%m-%d') AS ymd,
           datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since
    FROM orders
    """,
)
def x_date_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """X-date: component extraction + formatting + datediff (UTC-pinned)."""
    utc(spark)
    o = load(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.dayofmonth("o_orderdate").alias("d"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("ymd"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")).alias(
            "days_since"
        ),
    )


@q(
    "x_math_funcs",
    """
    SELECT l_orderkey, l_linenumber,
           ((l_orderkey % 64) + 64) % 64 AS bucket,
           abs(l_discount - 0.05) AS adisc,
           CAST(floor(l_quantity / 7) AS BIGINT) AS qgrp,
           round(ln(1 + l_extendedprice), 4) AS lprice
    FROM lineitem
    """,
)
def x_math_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """X-math: pmod (the C3 bucketing fn) / abs / floor / log1p.

    The oracle CASTs floor() to BIGINT: Spark's floor returns LONG while
    DuckDB's returns DOUBLE, and the driver's typed value-hash treats
    3 != 3.0 (the r01 hash_match:false root cause)."""
    li = load(spark, sf, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.pmod("l_orderkey", F.lit(64)).alias("bucket"),
        F.abs(F.col("l_discount") - 0.05).alias("adisc"),
        F.floor(F.col("l_quantity") / 7).alias("qgrp"),
        F.round(F.log1p("l_extendedprice"), 4).alias("lprice"),
    )


@q(
    "x_array_funcs",
    """
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_words,
           len(list_distinct(string_split(text, ' '))) AS n_distinct,
           list_max(list_transform(string_split(text, ' '), w -> length(w))) AS max_word_len,
           array_to_string(list_sort(string_split(text, ' ')[1:3]), ',') AS first3_sorted
    FROM documents
    """,
)
def x_array_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """X-arr: split/size/distinct/transform/array_max/slice/sort/join —
    the span-array HOF surface (X1/X2) over driver text."""
    d = load(spark, sf, "documents")
    words = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(words).cast("long").alias("n_words"),
        F.size(F.array_distinct(words)).cast("long").alias("n_distinct"),
        F.array_max(F.transform(words, lambda w: F.length(w))).cast("long").alias("max_word_len"),
        F.array_join(F.array_sort(F.slice(words, 1, 3)), ",").alias("first3_sorted"),
    )


@q(
    "x_json_funcs",
    """
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
    """,
)
def x_json_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """X-json: get_json_object on the events.props JSON string."""
    e = load(spark, sf, "events")
    return e.select(
        "event_id", F.get_json_object("props", "$.k").cast("long").alias("k")
    )


# ------------------------------------------------------ streaming surface
_BUCKET_SQL = (
    "strftime(TIMESTAMP '1970-01-01' + INTERVAL 1 SECOND * "
    "CAST(floor(epoch(ts) / {w}) * {w} + {off} AS BIGINT), '%Y-%m-%d %H:%M:%S')"
)


@q(
    "st3_tumbling_window",
    f"""
    SELECT {_BUCKET_SQL.format(w=600, off=0)} AS win_start,
           count(*) AS n, round(sum(value), 4) AS total
    FROM events GROUP BY 1
    """,
)
def st3_tumbling_window(spark: SparkSession, sf: str) -> DataFrame:
    """ST3: 10-minute tumbling window aggregate (epoch-batch form of the
    Structured Streaming windowed agg; streaming/epoch_stream.py runs the
    same plan under trigger(availableNow=True))."""
    utc(spark)
    e = load(spark, sf, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"), "n", "total"
        )
    )


@q(
    "st4_sliding_window",
    f"""
    WITH s AS (
      SELECT {_BUCKET_SQL.format(w=300, off=0)} AS win_start, value FROM events
      UNION ALL
      SELECT {_BUCKET_SQL.format(w=300, off=-300)} AS win_start, value FROM events)
    SELECT win_start, count(*) AS n, round(sum(value), 4) AS total
    FROM s GROUP BY win_start
    """,
)
def st4_sliding_window(spark: SparkSession, sf: str) -> DataFrame:
    """ST4: 10-minute window sliding by 5 — every event lands in 2 windows."""
    utc(spark)
    e = load(spark, sf, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"), "n", "total"
        )
    )


@q(
    "st5_session_window",
    """
    WITH o AS (
      SELECT user_id, event_id, ts, value,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events),
    s AS (
      SELECT user_id, ts, value,
             -- (ts, event_id) tie-break like the lag above: ts-only order
             -- is unspecified between equal timestamps, and a flag-0 peer
             -- sorted before its session's flag-1 starter would split the
             -- session (r05 review; w3/w4/a5/w5/scd2 all carry the key)
             sum(CASE WHEN prev_ts IS NULL
                        OR epoch(ts) - epoch(prev_ts) >= 1800 THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
      FROM o)
    SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS sess_start,
           count(*) AS n, round(sum(value), 4) AS total
    FROM s GROUP BY user_id, sess
    """,
)
def st5_session_window(spark: SparkSession, sf: str) -> DataFrame:
    """ST5: session window (30-min gap) — Spark native session_window vs a
    lag+cumulative-sum reconstruction in the oracle."""
    utc(spark)
    e = load(spark, sf, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("sess_start"),
            "n",
            "total",
        )
    )


# ---------------------------------------------------- layout / reshape ops
def _zbits(xcol: str, ycol: str, bits: int = 10) -> str:
    """Morton/Z-order bit interleave as a plain integer expression — the
    same text parses in Spark SQL and DuckDB, so the two engines share
    the arithmetic verbatim.  Disjoint bit positions make + equal to |,
    and every op is exact int64."""
    terms = []
    for i in range(bits):
        terms.append(f"((({xcol} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({ycol} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


@q(
    "layout_zorder",
    f"""
    WITH pts AS (SELECT l_partkey % 1024 AS x, l_suppkey % 1024 AS y
                 FROM lineitem),
    z AS (SELECT x, y, {_zbits("x", "y")} AS zv FROM pts)
    SELECT CAST(zv >> 14 AS BIGINT) AS z_bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(x) AS BIGINT) AS x_min, CAST(max(x) AS BIGINT) AS x_max,
           CAST(min(y) AS BIGINT) AS y_min, CAST(max(y) AS BIGINT) AS y_max,
           CAST((max(x) - min(x) + 1) * (max(y) - min(y) + 1) AS BIGINT)
             AS bbox_area
    FROM z GROUP BY 1
    """,
)
def layout_zorder(spark: SparkSession, sf: str) -> DataFrame:
    """Z-order (Morton) clustering key + per-bucket locality stats — the
    data-layout primitive behind Delta/Iceberg OPTIMIZE ZORDER.  Each
    row's (x, y) key pair is bit-interleaved into a 20-bit Z-value; the
    top 6 bits bucket rows into 64 Z-ranges.  The per-bucket bounding
    box is the proof of why this layout matters at 100 TB: every bucket
    covers a small aligned rectangle of the key space (bbox_area ≤
    16 384 = 2^14, vs ~1 M for a random or single-dimension sort
    layout), so a file written per bucket carries tight min/max stats
    on BOTH columns and a scan filtered on either dimension prunes most
    files — two-dimensional partition pruning from one sort key.

    Scale shape: the Z-value is pure integer codegen (no UDF, no
    shuffle); the bucket agg is one partial+final hash agg.  The
    production write path is range-partition by zv then write — the
    same one shuffle any global sort pays."""
    pts = load(spark, sf, "lineitem").select(
        (F.col("l_partkey") % 1024).alias("x"),
        (F.col("l_suppkey") % 1024).alias("y"),
    )
    zv = pts.withColumn("zv", F.expr(_zbits("x", "y")))
    return (
        zv.groupBy(F.shiftright("zv", 14).cast("long").alias("z_bucket"))
        .agg(
            F.count("*").alias("n"),
            F.min("x").alias("x_min"),
            F.max("x").alias("x_max"),
            F.min("y").alias("y_min"),
            F.max("y").alias("y_max"),
        )
        .select(
            "z_bucket",
            "n",
            "x_min",
            "x_max",
            "y_min",
            "y_max",
            (
                (F.col("x_max") - F.col("x_min") + 1)
                * (F.col("y_max") - F.col("y_min") + 1)
            ).alias("bbox_area"),
        )
    )


@q(
    "events_gapfill",
    """
    WITH b AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s, value
               FROM events),
    d AS (SELECT user_id, s - (s % 86400) AS day, value FROM b),
    agg AS (SELECT user_id, day, CAST(count(*) AS BIGINT) AS n_events,
                   round(sum(value), 4) AS total
            FROM d GROUP BY 1, 2),
    ext AS (SELECT user_id, min(day) AS mn, max(day) AS mx
            FROM d GROUP BY 1),
    span AS (SELECT user_id, unnest(range(mn, mx + 1, 86400)) AS day
             FROM ext)
    SELECT s.user_id, CAST(s.day AS BIGINT) AS day,
           coalesce(a.n_events, 0) AS n_events,
           coalesce(a.total, 0.0) AS total
    FROM span s LEFT JOIN agg a USING (user_id, day)
    """,
)
def events_gapfill(spark: SparkSession, sf: str) -> DataFrame:
    """Time-series densification (resample + gap fill): per user, one row
    per DAY between their first and last event, zero-filled where no
    events landed — the regular-grid prep every downstream rate model /
    anomaly detector needs (sparse event logs lie about quiet periods).
    Day keys are integer floor-epoch arithmetic (s - s % 86400) so both
    engines bucket identically with no float division.

    Scale shape: the dense grid is generated DISTRIBUTEDLY — sequence()
    explodes per user from a 2-column (min, max) agg, never a
    driver-side calendar table — and both the per-day agg and the left
    join share the user_id/day keying.  Grid size is bounded by
    users x days, independent of event count; a per-user span cap is
    the guard against the one-user-since-1970 pole (the fixture's span
    is one month)."""
    b = load(spark, sf, "events").select(
        "user_id",
        F.unix_timestamp("ts").alias("s"),
        "value",
    )
    d = b.select(
        "user_id", (F.col("s") - (F.col("s") % 86400)).alias("day"), "value"
    )
    agg = d.groupBy("user_id", "day").agg(
        F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("total")
    )
    span = (
        d.groupBy("user_id")
        .agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
        .select(
            "user_id",
            F.explode(F.sequence("mn", "mx", F.lit(86400))).alias("day"),
        )
    )
    return span.join(agg, ["user_id", "day"], "left").select(
        "user_id",
        "day",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.coalesce("total", F.lit(0.0)).alias("total"),
    )


@q(
    "a10_unpivot",
    """
    SELECT l_orderkey, l_linenumber, measure, round(value, 4) AS value
    FROM (SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax
          FROM lineitem)
    UNPIVOT (value FOR measure IN (l_quantity, l_discount, l_tax))
    """,
)
def a10_unpivot(spark: SparkSession, sf: str) -> DataFrame:
    """A10: UNPIVOT / melt — wide-to-long reshape, the inverse of A8's
    pivot (metric-per-column tables into the (key, measure, value)
    shape every generic aggregation/plotting layer wants).  Catalyst
    lowers unpivot to Expand — 3 output rows per input row in one
    narrow pass, no shuffle, no UDF."""
    return (
        load(spark, sf, "lineitem")
        .unpivot(
            ["l_orderkey", "l_linenumber"],
            ["l_quantity", "l_discount", "l_tax"],
            "measure",
            "value",
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            "measure",
            F.round("value", 4).alias("value"),
        )
    )


@q(
    "sc9_csv_json_sources",
    """
    WITH e AS (SELECT event_type, value FROM events WHERE event_id <= 2000)
    SELECT event_type, CAST(2 * count(*) AS BIGINT) AS n,
           round(2 * sum(value), 4) AS total
    FROM e GROUP BY event_type
    """,
)
def sc9_csv_json_sources(spark: SparkSession, sf: str) -> DataFrame:
    """SC9: CSV and JSON-lines sources — the two text formats every
    ingest surface must read (seed lists, exported logs, sidecar
    metadata).  A 2000-row events slice is round-tripped through BOTH
    formats under /tmp, read back with EXPLICIT schemas (schema
    inference is a full extra pass over the data before planning — the
    a8_pivot discipline applied to scans), unioned, and aggregated; the
    oracle is the same aggregate over the parquet slice counted twice,
    so any loss or type drift in either format breaks the value hash.

    Scale shape: both readers split by file/line offset exactly like
    parquet scans (CSV/JSON are splittable uncompressed), so the union
    is 2x the scan parallelism; the agg is one partial+final hash agg.
    Floats survive the text round-trip because Spark writes shortest
    round-trip decimal representations and reads them back to the
    identical double."""
    tag = sf.rstrip("/").rsplit("/", 1)[-1]
    base = f"/tmp/spider_sc9_{tag}"
    e = (
        load(spark, sf, "events")
        .where(F.col("event_id") <= 2000)
        .select("event_id", "event_type", "value")
    )
    e.write.mode("overwrite").option("header", True).csv(f"{base}/csv")
    e.write.mode("overwrite").json(f"{base}/json")
    schema = "event_id BIGINT, event_type STRING, value DOUBLE"
    csv = spark.read.schema(schema).option("header", True).csv(f"{base}/csv")
    jsn = spark.read.schema(schema).json(f"{base}/json")
    return (
        csv.unionByName(jsn)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("total"),
        )
    )


@q(
    "j10_star_q5",
    """
    SELECT n.n_name AS nation,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND s.s_nationkey = c.c_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    """,
)
def j10_star_q5(spark: SparkSession, sf: str) -> DataFrame:
    """J10: the TPC-H Q5 star — a 6-table local-supplier-volume join, the
    canonical join-ordering / broadcast-strategy benchmark shape.

    Plan intent at 100 TB: the two facts (lineitem, orders) shuffle-join
    on orderkey after the orders date filter prunes a year (pushed to the
    parquet scan); customer joins on the shuffled custkey; the three true
    dimensions — supplier (SF x 10k rows), nation (25), region (5) — are
    explicitly broadcast so the local-supplier equi-predicate
    (s_nationkey = c_nationkey) is evaluated map-side with zero extra
    exchanges.  Catalyst's CBO would pick most of this, but the broadcast
    hints make the plan deterministic across stats states.
    """
    utc(spark)
    li = load(spark, sf, "lineitem")
    o = load(spark, sf, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    c = load(spark, sf, "customer")
    s = F.broadcast(load(spark, sf, "supplier"))
    n = F.broadcast(load(spark, sf, "nation"))
    r = F.broadcast(load(spark, sf, "region").where(F.col("r_name") == "ASIA"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (s.s_nationkey == c.c_nationkey))
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@q("a11_hll_sketch_rollup")
def a11_hll_sketch_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """A11 (rows-only): mergeable-sketch rollup — the pattern that makes
    distinct counts affordable at 100 TB.  Per-group Apache DataSketches
    HLL sketches are built in ONE pass over events (partial-aggregated
    map-side like any hash agg); the global distinct-user estimate is then
    derived by UNIONING the 12-bit group sketches — no second scan of the
    fact table, which is exactly how a production rollup cube serves
    "distinct users by any group-by subset" from per-leaf sketches.

    DataSketches estimates are deterministic for a given input multiset
    but not reproducible in DuckDB, so the driver records rows-only;
    tests/test_pipeline_ops.py pins (a) union-of-group-sketches ==
    one-shot whole-table sketch estimate exactly, and (b) both within 5%
    of the exact distinct count."""
    ev = load(spark, sf, "events")
    per = ev.groupBy("event_type").agg(
        F.hll_sketch_agg(F.col("user_id").cast("string"), F.lit(12)).alias("sk"),
        F.count("*").alias("n_events"),
    )
    typed = per.select(
        F.col("event_type").alias("scope"),
        "n_events",
        F.hll_sketch_estimate("sk").alias("approx_users"),
    )
    merged = per.agg(
        F.sum("n_events").alias("n_events"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"),
    ).select(F.lit("ALL").alias("scope"), "n_events", "approx_users")
    return typed.unionByName(merged)


@q(
    "scd2_order_history",
    """
    WITH v1 AS (
      SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS price,
             1 AS version FROM orders),
    v2 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END,
             round(CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 100
                        ELSE o_totalprice END, 2),
             2 FROM orders),
    v3 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 13 = 0 THEN 'Z'
                  WHEN o_orderkey % 7 = 0 THEN 'X'
                  ELSE o_orderstatus END,
             round(CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 100
                        ELSE o_totalprice END, 2),
             3 FROM orders),
    snaps AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2 UNION ALL SELECT * FROM v3),
    changed AS (
      SELECT * FROM (
        SELECT o_orderkey, o_orderstatus, price, version,
               lag(o_orderstatus) OVER w AS ps, lag(price) OVER w AS pp
        FROM snaps WINDOW w AS (PARTITION BY o_orderkey ORDER BY version))
      WHERE ps IS NULL OR ps != o_orderstatus OR pp != price)
    SELECT o_orderkey, o_orderstatus, price,
           version AS valid_from,
           lead(version) OVER (PARTITION BY o_orderkey ORDER BY version) AS valid_to,
           CAST(lead(version) OVER (PARTITION BY o_orderkey ORDER BY version) IS NULL AS BOOLEAN) AS is_current
    FROM changed
    """,
)
def scd2_order_history(spark: SparkSession, sf: str) -> DataFrame:
    """SCD2 history build — collapse a stack of full-table snapshots into
    type-2 slowly-changing-dimension intervals (valid_from / valid_to /
    is_current), the warehouse temporal-merge primitive.

    Three snapshot versions are synthesized deterministically from
    ``orders`` (v2 flips status+price for keys % 7, v3 re-flips keys
    % 13) so the DuckDB twin constructs byte-identical input.  The build
    is two windows over the same (o_orderkey, version) partitioning —
    lag() to drop no-change rows, lead() to close intervals — so Spark
    plans ONE Exchange and two in-partition Window passes.

    Scale shape: snapshot stacking is a unioned scan (narrow); the only
    shuffle is by the dimension key, which is the natural partitioning a
    production SCD2 MERGE already maintains; no skew (keys are unique per
    snapshot, runs are bounded by the snapshot count)."""
    o = load(spark, sf, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    flip = F.col("o_orderkey") % 7 == 0
    # single round over the RAW value, exactly as the oracle writes it:
    # round(round(x,2)+100, 2) is a double-rounding that can differ by
    # 0.01 from round(x+100, 2) near an x.xx5 boundary
    flip_price = F.round(
        F.when(flip, F.col("o_totalprice") + 100).otherwise(
            F.col("o_totalprice")
        ),
        2,
    )
    v1 = o.select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("price"),
        F.lit(1).alias("version"),
    )
    v2 = o.select(
        "o_orderkey",
        F.when(flip, "X").otherwise(F.col("o_orderstatus")).alias("o_orderstatus"),
        flip_price.alias("price"),
        F.lit(2).alias("version"),
    )
    v3 = o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 13 == 0, "Z")
        .when(flip, "X")
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        flip_price.alias("price"),
        F.lit(3).alias("version"),
    )
    snaps = v1.unionByName(v2).unionByName(v3)
    w = Window.partitionBy("o_orderkey").orderBy("version")
    changed = (
        snaps.withColumn("ps", F.lag("o_orderstatus").over(w))
        .withColumn("pp", F.lag("price").over(w))
        .where(
            F.col("ps").isNull()
            | (F.col("ps") != F.col("o_orderstatus"))
            | (F.col("pp") != F.col("price"))
        )
        .drop("ps", "pp")
    )
    return changed.select(
        "o_orderkey",
        "o_orderstatus",
        "price",
        F.col("version").alias("valid_from"),
        F.lead("version").over(w).alias("valid_to"),
        F.lead("version").over(w).isNull().alias("is_current"),
    )


SKEW_SALT = 8  # fact-side salt fan-out for the hot-key join


@q(
    "j11_salted_skew_join",
    """
    WITH f AS (
      SELECT event_id, user_id % 3 AS hot_key, value FROM events),
    d AS (
      SELECT DISTINCT user_id % 3 AS hot_key,
             CASE user_id % 3 WHEN 0 THEN 'alpha' WHEN 1 THEN 'beta'
                              ELSE 'gamma' END AS segment
      FROM events)
    SELECT d.segment, CAST(count(*) AS BIGINT) AS n,
           round(sum(f.value), 4) AS total
    FROM f JOIN d ON f.hot_key = d.hot_key
    GROUP BY d.segment
    """,
)
def j11_salted_skew_join(spark: SparkSession, sf: str) -> DataFrame:
    """J11: explicit salt-based skew-join — the hand-rolled mitigation for
    when a shuffle join's key distribution would pole a single reducer
    (every row here lands on THREE keys, the worst case AQE's skew split
    cannot always save, e.g. when the dim side must not be broadcast).

    Construction: the fact side appends ``salt = xxhash64(event_id) %
    SKEW_SALT`` to the join key; the dim side explodes each row into all
    SKEW_SALT salt values.  The join key becomes (hot_key, salt), fanning
    each hot key across SKEW_SALT reducers; results are provably
    identical to the unsalted join — which is exactly what the DuckDB
    twin runs, so the driver's hash check IS the equivalence proof.

    Scale shape: dim-side explode costs |dim| x SKEW_SALT rows (dims are
    small by premise); fact side is one narrow projection; the shuffle
    spreads uniformly because xxhash64 of a unique id is uniform.  This
    is the static form of what frontier_pop's two-stage salted rank does
    dynamically (engine/frontier.py F5)."""
    ev = load(spark, sf, "events")
    f = ev.select(
        "event_id",
        (F.col("user_id") % 3).alias("hot_key"),
        "value",
        (F.pmod(F.xxhash64("event_id"), F.lit(SKEW_SALT))).alias("salt"),
    )
    d = (
        ev.select((F.col("user_id") % 3).alias("hot_key"))
        .distinct()
        .select(
            "hot_key",
            F.element_at(
                F.array(F.lit("alpha"), F.lit("beta"), F.lit("gamma")),
                (F.col("hot_key") + 1).cast("int"),
            ).alias("segment"),
            F.explode(F.sequence(F.lit(0), F.lit(SKEW_SALT - 1))).alias("salt"),
        )
    )
    # hint both sides away from broadcast so the salted SHUFFLE join is the
    # plan actually exercised (that is the scenario salting exists for)
    return (
        f.hint("shuffle_hash")
        .join(d.hint("shuffle_hash"), ["hot_key", "salt"])
        .groupBy("segment")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total"))
    )


@q(
    "sc10_orc_source",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 4) AS total
    FROM orders
    WHERE o_orderkey <= 5000 AND o_totalprice > 50000
    GROUP BY o_orderpriority
    """,
)
def sc10_orc_source(spark: SparkSession, sf: str) -> DataFrame:
    """SC10: ORC source round-trip — the other columnar lake format a
    Spark-native engine reads for free (Hive-era warehouses are full of
    it).  An orders slice is written to ORC under /tmp, read back, and
    aggregated behind a predicate, so the oracle (the same aggregate
    over the parquet original) breaks on any loss, type drift, or
    mis-pushed filter.  Doubles survive exactly: ORC is binary columnar,
    no text re-parse.

    Scale shape: Spark's native ORC reader is vectorized, splits by
    stripe like parquet row-groups, and pushes predicates into stripe /
    row-group skipping via search arguments — the
    `o_totalprice > 50000` filter lands in PushedFilters (plan-pinned),
    so a 100 TB ORC lake scans only matching stripes."""
    tag = sf.rstrip("/").rsplit("/", 1)[-1]
    base = f"/tmp/spider_sc10_{tag}"
    o = (
        load(spark, sf, "orders")
        .where(F.col("o_orderkey") <= 5000)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
    )
    o.write.mode("overwrite").orc(base)
    r = spark.read.orc(base).where(F.col("o_totalprice") > 50000)
    return r.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.round(F.sum("o_totalprice"), 4).alias("total"),
    )


COMPACT_TARGET_BYTES = 128 * 1024  # per-file target for the test-scale slice


@q(
    "layout_compact_small_files",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 4) AS total
    FROM events WHERE event_id <= 20000 GROUP BY event_type
    """,
)
def layout_compact_small_files(spark: SparkSession, sf: str) -> DataFrame:
    """Small-file compaction — the OPTIMIZE/bin-packing maintenance pass
    every streaming or epoch-append lake needs: a fragmented table (64
    tiny parquet files, the shape an hourly micro-batch writer leaves
    behind) is rewritten into ceil(total_bytes / target) right-sized
    files, and the returned aggregate is computed FROM the compacted
    output — the oracle over the original slice therefore proves the
    rewrite is lossless end-to-end (any dropped/duplicated row or type
    drift breaks the value hash).  File-count/size assertions live in
    the pytest (not SQL-expressible).

    Scale shape: sizing reads ONLY file metadata (a listing, no data
    scan — at 100 TB this is the catalog/FS listing every table-service
    compactor does); the rewrite is one round-robin repartition = one
    all-to-all shuffle of just the fragmented partitions' rows, which
    bin-packs evenly regardless of input skew.  Small-file pressure is
    THE silent killer at 1000 executors: 10^6 tiny files mean 10^6
    scheduler tasks and 10^6 NameNode/object-store round trips per
    scan; compaction restores maxPartitionBytes-sized splits."""
    import glob as _glob
    import math
    import os

    tag = sf.rstrip("/").rsplit("/", 1)[-1]
    base = f"/tmp/spider_compact_{tag}"
    e = (
        load(spark, sf, "events")
        .where(F.col("event_id") <= 20000)
        .select("event_id", "event_type", "value")
    )
    e.repartition(64).write.mode("overwrite").parquet(f"{base}/frag")
    frag_bytes = sum(
        os.path.getsize(p) for p in _glob.glob(f"{base}/frag/*.parquet")
    )
    n_out = max(1, math.ceil(frag_bytes / COMPACT_TARGET_BYTES))
    frag = spark.read.parquet(f"{base}/frag")
    frag.repartition(n_out).write.mode("overwrite").parquet(f"{base}/compact")
    c = spark.read.parquet(f"{base}/compact")
    return c.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 4).alias("total"),
    )


# --- SC6 companion: MERGE INTO dataflow, executed natively --------------------
# engine/catalog.py:182 carries the exact Iceberg MERGE the jar-enabled
# deployment runs for the F7 frontier merge; the jar does not exist in this
# container (SURVEY.md §0.3), so the MERGE *dataflow* is proven here instead:
# the same WHEN MATCHED UPDATE / WHEN MATCHED DELETE / WHEN NOT MATCHED
# INSERT semantics as one key-partitioned full outer join, with the delta
# synthesized md5-keyed from the snapshot itself (deterministic on both
# engines).  Iceberg's MERGE plans exactly this join under the hood (plus
# the O(delta) file-rewrite commit the snapshot backend already implements
# cell-granularly in engine/crawl.py F7).
MERGE_INS_OFFSET = 1_000_000_000


@q(
    "sc6_merge_upsert",
    f"""
    WITH t AS (
      SELECT o_orderkey AS k, o_orderstatus AS status,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
      FROM orders),
    h AS (
      SELECT k, status, price_cents,
             CAST(('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 4)) AS INT)
               % 10 AS b
      FROM t),
    delta AS (
      SELECT k, 'U' AS op, 'UPD' AS s2, price_cents + 500 AS p2
      FROM h WHERE b IN (0, 1)
      UNION ALL
      SELECT k, 'D', NULL, NULL FROM h WHERE b = 2
      UNION ALL
      SELECT k + {MERGE_INS_OFFSET}, 'I', 'NEW', 9999 FROM h WHERE b = 3),
    m AS (
      SELECT coalesce(t.k, d.k) AS o_orderkey,
             CASE WHEN d.op IN ('U', 'I') THEN d.s2 ELSE t.status END
               AS status,
             CASE WHEN d.op IN ('U', 'I') THEN d.p2 ELSE t.price_cents END
               AS price_cents,
             CASE WHEN d.op IS NULL THEN 'keep'
                  WHEN d.op = 'U' THEN 'update'
                  WHEN d.op = 'I' THEN 'insert'
                  ELSE 'delete' END AS action
      FROM t FULL OUTER JOIN delta d ON t.k = d.k)
    SELECT o_orderkey, status, price_cents, action
    FROM m WHERE action != 'delete'
    """,
)
def sc6_merge_upsert(spark: SparkSession, sf: str) -> DataFrame:
    """MERGE INTO semantics executed natively: apply an md5-keyed delta
    (20% updates, 10% deletes, 10% inserts under new keys) to the orders
    snapshot via ONE full outer join on the merge key, emitting the
    post-merge table plus the action each row took.  This is the exact
    row-level contract of engine/catalog.py:182's jar-gated Iceberg MERGE
    (SC6), so the semantics are driver-verified even though the Iceberg
    commit protocol itself cannot run in this sandbox.

    Scale shape: MERGE at 10^10 rows IS a key-co-partitioned full outer
    join of snapshot x delta — both sides hash-partition on the merge
    key, AQE skew-splits any hot key, and nothing ever collects.  In
    production Iceberg prunes the join to only the files whose key
    ranges intersect the delta (the O(delta) property the engine's
    cell-granular snapshot backend reproduces at engine/crawl.py F7);
    the dataflow below is what runs inside each rewritten file group.
    Prices ride the x100 integer grid — the merge output is
    integer-exact."""
    t = load(spark, sf, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
    )
    b = (
        F.conv(F.substring(F.md5(F.col("k").cast("string")), 1, 4), 16, 10)
        .cast("int")
        % 10
    )
    h = t.withColumn("b", b)
    upd = h.where(F.col("b").isin(0, 1)).select(
        "k",
        F.lit("U").alias("op"),
        F.lit("UPD").alias("s2"),
        (F.col("price_cents") + 500).alias("p2"),
    )
    dele = h.where(F.col("b") == 2).select(
        "k",
        F.lit("D").alias("op"),
        F.lit(None).cast("string").alias("s2"),
        F.lit(None).cast("long").alias("p2"),
    )
    ins = h.where(F.col("b") == 3).select(
        (F.col("k") + MERGE_INS_OFFSET).alias("k"),
        F.lit("I").alias("op"),
        F.lit("NEW").alias("s2"),
        F.lit(9999).cast("long").alias("p2"),
    )
    delta = upd.unionByName(dele).unionByName(ins)
    m = t.join(delta, "k", "full_outer").select(
        F.col("k").alias("o_orderkey"),
        F.when(F.col("op").isin("U", "I"), F.col("s2"))
        .otherwise(F.col("status"))
        .alias("status"),
        F.when(F.col("op").isin("U", "I"), F.col("p2"))
        .otherwise(F.col("price_cents"))
        .alias("price_cents"),
        F.when(F.col("op").isNull(), "keep")
        .when(F.col("op") == "U", "update")
        .when(F.col("op") == "I", "insert")
        .otherwise("delete")
        .alias("action"),
    )
    return m.where(F.col("action") != "delete")


# --- A12: FILTER-clause / conditional aggregation ------------------------------
@q(
    "a12_filtered_aggs",
    """
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_all,
           CAST(count(*) FILTER (WHERE l_quantity > 25) AS BIGINT)
             AS n_bulk,
           CAST(count(DISTINCT l_suppkey) FILTER (WHERE l_discount > 0.05)
                AS BIGINT) AS n_discount_supps,
           CAST(coalesce(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                           FILTER (WHERE l_tax = 0), 0) AS BIGINT)
             AS taxfree_cents
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a12_filtered_aggs(spark: SparkSession, sf: str) -> DataFrame:
    """A12: conditional aggregation — the FILTER-clause family (count_if,
    filtered sum, filtered count distinct) that every report query uses
    to compute many differently-predicated measures in ONE pass instead
    of N self-joins.  Money rides the x100 integer grid; coalesce pins
    the empty-filter sum to 0 on both engines.

    Scale shape: all four measures reduce in a single partial+final hash
    aggregate over one scan — the whole point of FILTER at 100 TB is
    that adding a measure adds zero scans and zero shuffles (only the
    count-distinct expands the partial rows by its distinct key)."""
    li = load(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n_all"),
        F.count(F.when(F.col("l_quantity") > 25, 1)).alias("n_bulk"),
        F.count_distinct(
            F.when(F.col("l_discount") > 0.05, F.col("l_suppkey"))
        ).alias("n_discount_supps"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("l_tax") == 0,
                    F.round(F.col("l_extendedprice") * 100).cast("long"),
                )
            ),
            F.lit(0).cast("long"),
        ).alias("taxfree_cents"),
    )


# --- SC12: schema-evolution read (mergeSchema) ---------------------------------
@q(
    "sc12_schema_evolution",
    """
    WITH v1 AS (
      SELECT event_id, event_type, CAST(NULL AS BIGINT) AS value_cents
      FROM events WHERE event_id % 2 = 0),
    v2 AS (
      SELECT event_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS value_cents
      FROM events WHERE event_id % 2 = 1),
    u AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(count(value_cents) AS BIGINT) AS n_with_value,
           CAST(coalesce(sum(value_cents), 0) AS BIGINT) AS total_cents
    FROM u GROUP BY event_type
    """,
)
def sc12_schema_evolution(spark: SparkSession, sf: str) -> DataFrame:
    """SC12: schema-evolution read — a table whose early files predate a
    column (v1: event_id, event_type) and whose later files carry it
    (v2: + value_cents) is read as ONE dataset via
    ``mergeSchema=true``; missing columns surface as NULLs.  This is the
    append-only evolution every long-lived lakehouse table goes through
    (the crawl frontier's own lineage columns were added the same way).

    Scale shape: schema merge is a FILE-FOOTER operation — the read
    unions per-file schemas at planning time, no data rewrite, no
    shuffle beyond the report agg's partial+final pass; at 100 TB the
    alternative (rewriting every historical file to add a NULL column)
    is exactly what this avoids."""
    tag = sf.rstrip("/").rsplit("/", 1)[-1]
    base = f"/tmp/spider_schevo_{tag}"
    e = load(spark, sf, "events")
    v1 = e.where(F.col("event_id") % 2 == 0).select("event_id", "event_type")
    v2 = e.where(F.col("event_id") % 2 == 1).select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    )
    v1.write.mode("overwrite").parquet(f"{base}/v1")
    v2.write.mode("overwrite").parquet(f"{base}/v2")
    u = spark.read.option("mergeSchema", "true").parquet(
        f"{base}/v1", f"{base}/v2"
    )
    return u.groupBy("event_type").agg(
        F.count("*").alias("n_total"),
        F.count("value_cents").alias("n_with_value"),
        F.coalesce(F.sum("value_cents"), F.lit(0).cast("long")).alias(
            "total_cents"
        ),
    )


# --- A13: exact distinct via bitmap aggregation --------------------------------
@q(
    "a13_bitmap_distinct",
    """
    SELECT o_orderpriority,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
)
def a13_bitmap_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """A13: EXACT distinct counting via the two-level bitmap sketch —
    ``bitmap_construct_agg`` packs each key's presence into fixed 4 KB
    bucket bitmaps, so the shuffle carries one bitmap per
    (group, bucket) instead of one row per distinct raw value, and the
    final count sums ``bitmap_count`` over buckets.  Exactness means the
    DuckDB twin is plain COUNT(DISTINCT) — same numbers, different
    physical strategy.

    Scale shape vs A2 (expand-based distinct): at 10^10 orders a hot
    group's distinct custkeys shuffle as dense integer-indexed bitmaps
    (32 K keys per 4 KB bucket) with map-side OR-combine, a fixed-size
    partial no matter how many duplicate occurrences exist — the
    classic exact-distinct answer when approx (A3 HLL) is not
    acceptable and the key domain is integer-dense."""
    o = load(spark, sf, "orders")
    b = o.select(
        "o_orderpriority",
        F.bitmap_bucket_number("o_custkey").alias("bk"),
        F.bitmap_bit_position("o_custkey").alias("bp"),
    )
    per_bucket = b.groupBy("o_orderpriority", "bk").agg(
        F.bitmap_construct_agg("bp").alias("bm"),
        F.count("*").alias("n_rows"),
    )
    return per_bucket.groupBy("o_orderpriority").agg(
        F.sum(F.bitmap_count("bm")).alias("n_custs"),
        F.sum("n_rows").alias("n_orders"),
    )


# --- PF6: dynamic partition pruning --------------------------------------------
DPP_TYPES = ("purchase", "signup")


@q(
    "pf6_dynamic_partition_pruning",
    f"""
    WITH dim AS (
      SELECT DISTINCT event_type FROM events
      WHERE event_type IN ('{DPP_TYPES[0]}', '{DPP_TYPES[1]}')),
    f AS (SELECT e.event_type,
                 CAST(round(e.value * 100) AS BIGINT) AS vc
          FROM events e JOIN dim USING (event_type))
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(vc) AS BIGINT) AS total_cents
    FROM f GROUP BY event_type
    """,
)
def pf6_dynamic_partition_pruning(spark: SparkSession, sf: str) -> DataFrame:
    """PF6: dynamic partition pruning — the fact side is written
    partitioned by event_type (the star-schema layout), the dim side is
    filtered at runtime, and Catalyst injects a dynamicpruning subquery
    into the fact scan's PartitionFilters so unselected partitions are
    never read (plan-pinned by tests/test_plan_shape_analytics.py).

    Scale shape: THE star-join enabler at 100 TB — a static filter can
    only prune partitions named in the query text; DPP prunes on values
    discovered from the dim at runtime, turning a full fact scan into a
    2-of-5-partition scan here (and a 0.1% scan on a real date-keyed
    fact).  x100 integer money keeps the agg exact."""
    tag = sf.rstrip("/").rsplit("/", 1)[-1]
    base = f"/tmp/spider_dpp_{tag}"
    # unconditional overwrite, like every /tmp-writing sibling (sc9-sc12):
    # a marker-file skip would silently reuse a stale fact when the
    # fixture under the same leaf name changes
    load(spark, sf, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("vc"),
    ).write.mode("overwrite").partitionBy("event_type").parquet(base)
    fact = spark.read.parquet(base)
    dim = (
        load(spark, sf, "events")
        .select("event_type")
        .where(F.col("event_type").isin(*DPP_TYPES))
        .distinct()
    )
    f = fact.join(dim, "event_type")
    return f.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("vc").alias("total_cents"),
    )
