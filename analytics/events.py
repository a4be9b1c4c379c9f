"""Event-stream analytics ops (round 5): skyline, Markov transitions,
exact-integer outlier flagging.

Same driver-parity discipline as the rest of the package: every query has
a DuckDB twin, exact-integer arithmetic wherever summation order could
matter, and at most one correctly-rounded IEEE division/round per output
column (the integer-grid family, see analytics/text.py bigram-LM notes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from analytics.common import load, registry, utc

QUERIES, ORACLE, q = registry()


SKY_BUCKETS = 64  # stage-1 local-prune fan-out (the F5 salting device)


@q(
    "events_skyline",
    """
    WITH b AS (
      SELECT epoch_us(ts) AS t_us, CAST(round(value * 100) AS BIGINT) AS vc
      FROM events),
    m AS (SELECT t_us, max(vc) AS vc FROM b GROUP BY t_us),
    r AS (SELECT t_us, vc,
                 max(vc) OVER (ORDER BY t_us
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) AS pm
          FROM m)
    SELECT t_us, vc FROM r WHERE pm IS NULL OR vc > pm
    """,
)
def events_skyline(spark: SparkSession, sf: str) -> DataFrame:
    """2-D skyline (Pareto frontier): the events that were, at their
    moment, the highest-valued ever seen — point (t, v) survives iff no
    point has an earlier-or-equal timestamp and a >= value (per-timestamp
    max reduction handles the equal-t case, so the scan rule is strictly
    earlier t with >= v).  Timestamps are exact epoch microseconds and
    values sit on the x100 integer grid, so dominance is integer-exact on
    both engines.

    Scale shape — the naive plan is a single global running-max window
    over ALL n rows (one-task pole).  Instead, the two-stage prune of F5:
    stage 1 hash-buckets rows by pmod(xxhash64(t), 64) and takes the
    LOCAL skyline per bucket (a bucket's running max can only over-keep,
    never drop a global survivor), stage 2 runs the exact global window
    on the survivors only — expected O(buckets * ln n) rows (random
    2-D skyline size is H(n)), metadata-sized at any corpus scale."""
    utc(spark)  # ts is NTZ parquet; cast->TIMESTAMP must not shift wall-clock
    b = load(spark, sf, "events").select(
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
        F.round(F.col("value") * 100).cast("long").alias("vc"),
    )
    m = b.groupBy("t_us").agg(F.max("vc").alias("vc"))
    w_loc = (
        Window.partitionBy("bucket")
        .orderBy("t_us")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    s1 = (
        m.withColumn("bucket", F.pmod(F.xxhash64("t_us"), F.lit(SKY_BUCKETS)))
        .withColumn("pm", F.max("vc").over(w_loc))
        .where(F.col("pm").isNull() | (F.col("vc") > F.col("pm")))
        .drop("bucket", "pm")
    )
    w_glob = Window.orderBy("t_us").rowsBetween(Window.unboundedPreceding, -1)
    return (
        s1.withColumn("pm", F.max("vc").over(w_glob))
        .where(F.col("pm").isNull() | (F.col("vc") > F.col("pm")))
        .select("t_us", "vc")
    )


@q(
    "events_markov",
    """
    WITH b AS (
      SELECT user_id, event_id, event_type,
             CAST(floor(epoch(ts)) AS BIGINT) AS s
      FROM events),
    p AS (SELECT event_type AS src,
                 lead(event_type) OVER (PARTITION BY user_id
                                        ORDER BY s, event_id) AS dst
          FROM b),
    c AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS n
          FROM p WHERE dst IS NOT NULL GROUP BY src, dst),
    t AS (SELECT src, sum(n) AS tot FROM c GROUP BY src)
    SELECT src, dst, n, round(CAST(n AS DOUBLE) / tot, 4) AS p
    FROM c JOIN t USING (src)
    """,
)
def events_markov(spark: SparkSession, sf: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event-type
    sequences — the session-modeling primitive (next-action prediction,
    funnel leak analysis).  Sequences order by (floor-epoch second,
    event_id): the shared st3/w5 time key plus a total tie-break, so both
    engines see identical successor pairs.

    Parity device: transition counts are exact integers; row-normalizing
    is ONE correctly-rounded division per (src, dst) cell.

    Scale shape: one user_id-keyed window (per-user sequences are
    bounded — no global sort), then the pair counts collapse to at most
    |event_type|^2 cells with map-side partial aggregation; the src
    totals are re-aggregated from those cells (matrix-sized, broadcast),
    never from the raw stream."""
    b = load(spark, sf, "events").select(
        "user_id", "event_id", "event_type", F.unix_timestamp("ts").alias("s")
    )
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    c = (
        b.withColumn("dst", F.lead("event_type").over(w))
        .where(F.col("dst").isNotNull())
        .groupBy(F.col("event_type").alias("src"), "dst")
        .agg(F.count("*").cast("long").alias("n"))
    )
    t = c.groupBy("src").agg(F.sum("n").alias("tot"))
    return c.join(F.broadcast(t), "src").select(
        "src", "dst", "n", F.round(F.col("n") / F.col("tot"), 4).alias("p")
    )


@q(
    "events_zscore_outliers",
    """
    WITH b AS (
      SELECT event_id, user_id, CAST(round(value * 100) AS BIGINT) AS vc
      FROM events),
    a AS (SELECT user_id, count(*) AS n, sum(vc) AS s, sum(vc * vc) AS q
          FROM b GROUP BY user_id)
    SELECT event_id,
           CAST((CAST(n AS HUGEINT) * vc - s)
                  * (CAST(n AS HUGEINT) * vc - s)
                > 4 * (CAST(n AS HUGEINT) * q - CAST(s AS HUGEINT) * s)
                AS INT) AS is_outlier
    FROM b JOIN a USING (user_id)
    """,
)
def events_zscore_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user z-score outlier flag (|z| > 2) with ZERO floating point:
    the anomaly/data-quality gate every ingest pipeline runs.  On the
    x100 integer grid, z^2 > 4 is the integer inequality
    (n*v - s)^2 > 4*(n*q - s^2) with s = sum, q = sum of squares — both
    sides computed in 128-bit exact arithmetic end to end (Spark sums
    pre-widened decimal(38,0) values, matching DuckDB's BIGINT-sums-into-
    HUGEINT), so no variance estimate, division, or sqrt ever touches a
    float and summation order cannot flip a flag.

    Scale shape: per-user moments are one hash agg with map-side
    partials; the flag join keys on user_id — the same partitioning the
    agg just produced.  The join strategy is deliberately left to
    Catalyst/AQE size stats: at test scale the moments table is tiny and
    broadcasts; at web scale the user dimension outgrows the broadcast
    threshold and the planner falls back to a shuffle join that reuses
    the agg's user_id partitioning — no hint needed in either regime."""
    b = load(spark, sf, "events").select(
        "event_id", "user_id", F.round(F.col("value") * 100).cast("long").alias("vc")
    )
    dec = "decimal(38,0)"
    # widen BEFORE the sums, not just before the multiply: a 64-bit
    # sum(vc*vc) overflows (ANSI error under Spark 4's default) once
    # Σvc² exceeds 2^63 at scale, while the DuckDB twin's BIGINT sums
    # aggregate into HUGEINT — decimal(38,0) sums keep both engines
    # 128-bit exact end to end
    a = b.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum(F.col("vc").cast(dec)).alias("s"),
        F.sum(F.col("vc").cast(dec) * F.col("vc")).alias("q"),
    )
    lhs_base = F.col("n").cast(dec) * F.col("vc").cast(dec) - F.col("s")
    rhs = 4 * (F.col("n").cast(dec) * F.col("q") - F.col("s") * F.col("s"))
    return b.join(a, "user_id").select(
        "event_id", (lhs_base * lhs_base > rhs).cast("int").alias("is_outlier")
    )


SESSION_GAP_S = 1800  # 30-minute inactivity timeout


@q(
    "events_sessionize",
    f"""
    WITH b AS (
      SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS s
      FROM events),
    g AS (
      SELECT user_id, event_id, s,
             CASE WHEN lag(s) OVER w IS NULL
                       OR s - lag(s) OVER w >= {SESSION_GAP_S}
                  THEN 1 ELSE 0 END AS brk
      FROM b
      WINDOW w AS (PARTITION BY user_id ORDER BY s, event_id)),
    a AS (
      SELECT user_id, s,
             sum(brk) OVER (PARTITION BY user_id ORDER BY s, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS session_idx
      FROM g)
    SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
           CAST(count(*) AS BIGINT) AS n_events,
           min(s) AS start_s, max(s) AS end_s,
           max(s) - min(s) AS duration_s
    FROM a GROUP BY user_id, session_idx
    """,
)
def events_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Sessionization with a 30-minute inactivity timeout — the explicit
    session-ID ASSIGNMENT form (lag gap-flag + running sum), the standard
    companion to the session_window aggregate (ST5): downstream joins
    need the id on every event, not just the aggregate.  Emitted here as
    the per-session rollup (count, bounds, duration) so the driver hash
    pins both the assignment and the aggregation.

    Ordering key is (floor-epoch second, event_id) — the shared total
    order, so tied timestamps sessionize identically on both engines,
    and gap arithmetic is exact integers.

    Scale shape: ONE user_id Exchange feeds both windows and the rollup
    (identical partition+order keys — Spark plans a single sort, three
    pipelined operators); per-user sequences are bounded, so there is no
    global sort and no skew pole beyond a power user, which stays a
    single in-memory partition chunk."""
    b = load(spark, sf, "events").select(
        "user_id", "event_id", F.unix_timestamp("ts").alias("s")
    )
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    brk = (
        F.when(
            F.lag("s").over(w).isNull()
            | (F.col("s") - F.lag("s").over(w) >= SESSION_GAP_S),
            1,
        )
        .otherwise(0)
        .alias("brk")
    )
    run = Window.partitionBy("user_id").orderBy("s", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        b.select("user_id", "event_id", "s", brk)
        .select("user_id", "s", F.sum("brk").over(run).alias("session_idx"))
        .groupBy("user_id", "session_idx")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.min("s").alias("start_s"),
            F.max("s").alias("end_s"),
            (F.max("s") - F.min("s")).alias("duration_s"),
        )
    )


WEEK_S = 604800  # epoch weeks — integer cohort keys on both engines


@q(
    "events_retention_cohorts",
    f"""
    WITH b AS (
      SELECT user_id,
             CAST(floor(epoch(ts) / {WEEK_S}) AS BIGINT) AS wk
      FROM events),
    fw AS (SELECT user_id, min(wk) AS cohort FROM b GROUP BY user_id),
    act AS (SELECT DISTINCT user_id, wk FROM b),
    k AS (
      SELECT f.cohort, a.wk - f.cohort AS k,
             CAST(count(*) AS BIGINT) AS n_users
      FROM act a JOIN fw f USING (user_id)
      GROUP BY f.cohort, a.wk - f.cohort),
    base AS (SELECT cohort, n_users AS n0 FROM k WHERE k = 0)
    SELECT k.cohort, k.k, k.n_users,
           round(CAST(k.n_users AS DOUBLE) / b.n0, 4) AS retention
    FROM k JOIN base b USING (cohort)
    """,
)
def events_retention_cohorts(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort retention matrix — THE product-analytics rollup: users
    cohorted by their first active epoch-week, and for each offset k the
    share of the cohort still active k weeks later.  Week keys are exact
    integers (floor epoch/604800 — the st3/w5 floor convention), counts
    are exact, and retention is one rounded division per cell (k=0 is
    1.0 by construction — every user is active in their cohort week —
    which doubles as a self-check).

    Scale shape: first-week and the activity set are user_id-keyed aggs
    on one shared partitioning; their join is user_id-to-user_id on that
    same partitioning; the (cohort, k) rollup is a plain count — act is
    already distinct (user_id, wk) and cohort is functionally dependent
    on user_id, so (cohort, k, user_id) is provably unique and a
    count-distinct would only add a redundant dedup phase; the k=0
    base table is cohort-count-sized — metadata — and broadcasts back
    onto the matrix."""
    b = load(spark, sf, "events").select(
        "user_id",
        F.floor(F.unix_timestamp("ts") / WEEK_S).cast("long").alias("wk"),
    )
    fw = b.groupBy("user_id").agg(F.min("wk").alias("cohort"))
    act = b.distinct()
    k = (
        act.join(fw, "user_id")
        .groupBy("cohort", (F.col("wk") - F.col("cohort")).alias("k"))
        .agg(F.count("*").cast("long").alias("n_users"))
    )
    base = k.where(F.col("k") == 0).select("cohort", F.col("n_users").alias("n0"))
    return k.join(F.broadcast(base), "cohort").select(
        "cohort",
        "k",
        "n_users",
        F.round(F.col("n_users") / F.col("n0"), 4).alias("retention"),
    )


@q(
    "events_ab_ttest",
    """
    WITH b AS (
      SELECT event_type, user_id % 2 AS v,
             CAST(round(value * 100) AS BIGINT) AS vc
      FROM events),
    m AS (SELECT event_type, v, count(*) AS n,
                 CAST(sum(vc) AS DOUBLE) AS s,
                 CAST(sum(vc * vc) AS DOUBLE) AS q
          FROM b GROUP BY event_type, v),
    w AS (
      SELECT a.event_type AS event_type,
             a.n AS n_a, c.n AS n_b,
             a.s / a.n AS mean_a, c.s / c.n AS mean_b,
             (a.q - a.s * a.s / a.n) / (a.n - 1) AS var_a,
             (c.q - c.s * c.s / c.n) / (c.n - 1) AS var_b
      FROM m a JOIN m c ON a.event_type = c.event_type
      -- n > 1 per variant: var is undefined at n = 1 and the engines'
      -- 0/0 disagree (Spark NULL vs DuckDB NaN, and DuckDB orders NaN
      -- above 1.96) — the test has no meaning there anyway
      WHERE a.v = 0 AND c.v = 1 AND a.n > 1 AND c.n > 1)
    SELECT event_type, n_a, n_b,
           round(mean_a, 4) AS mean_a, round(mean_b, 4) AS mean_b,
           round((mean_a - mean_b) / sqrt(var_a / n_a + var_b / n_b), 4)
             AS t_stat,
           CAST(abs((mean_a - mean_b) / sqrt(var_a / n_a + var_b / n_b))
                > 1.96 AS INT) AS significant
    FROM w
    """,
)
def events_ab_ttest(spark: SparkSession, sf: str) -> DataFrame:
    """Welch's two-sample t-test per event_type — the experiment-readout
    query every product-analytics deployment runs daily.  Variant = the
    deterministic hash split user_id % 2 (A=0, B=1); metric = value on
    the x100 integer grid.

    Parity device (the events_zscore / emb_drift family): per-variant
    moments n, s=Σvc, q=Σvc² are EXACT integer sums — pre-widened to
    decimal(38,0) to match DuckDB's BIGINT-sums-into-HUGEINT, then cast
    to DOUBLE once (exact-integer-to-double rounds identically from
    either 128-bit representation) — and the only float arithmetic is
    one fixed expression
    tree — mean = s/n, var = (q - s·s/n)/(n-1), t = Δmean/√(var_a/n_a +
    var_b/n_b) — written identically in both engines, so IEEE-754 makes
    the doubles bit-equal before the final round(·,4).  The significance
    flag compares the UNROUNDED t against 1.96 in both engines.

    Scale shape: one hash agg with map-side partials reduces the raw
    stream to a (event_type × 2)-row moments table; the A/B self-join is
    over that tiny table, never the stream.  At web scale this is the
    same plan — experiment readout cost is one pass + O(cells)."""
    b = load(spark, sf, "events").select(
        "event_type",
        (F.col("user_id") % 2).alias("v"),
        F.round(F.col("value") * 100).cast("long").alias("vc"),
    )
    dec = "decimal(38,0)"
    # pre-widened sums: see events_zscore_outliers — a 64-bit Σvc²
    # overflows past 2^63 where the oracle's HUGEINT sum stays exact
    m = b.groupBy("event_type", "v").agg(
        F.count("*").alias("n"),
        F.sum(F.col("vc").cast(dec)).cast("double").alias("s"),
        F.sum(F.col("vc").cast(dec) * F.col("vc")).cast("double").alias("q"),
    )
    a = m.where(F.col("v") == 0).select(
        "event_type",
        F.col("n").alias("n_a"),
        F.col("s").alias("s_a"),
        F.col("q").alias("q_a"),
    )
    c = m.where(F.col("v") == 1).select(
        "event_type",
        F.col("n").alias("n_b"),
        F.col("s").alias("s_b"),
        F.col("q").alias("q_b"),
    )
    # n > 1 per variant — mirrors the oracle's guard (see SQL comment)
    j = a.join(c, "event_type").where((F.col("n_a") > 1) & (F.col("n_b") > 1))
    mean_a = F.col("s_a") / F.col("n_a")
    mean_b = F.col("s_b") / F.col("n_b")
    var_a = (F.col("q_a") - F.col("s_a") * F.col("s_a") / F.col("n_a")) / (
        F.col("n_a") - 1
    )
    var_b = (F.col("q_b") - F.col("s_b") * F.col("s_b") / F.col("n_b")) / (
        F.col("n_b") - 1
    )
    t = (mean_a - mean_b) / F.sqrt(var_a / F.col("n_a") + var_b / F.col("n_b"))
    return j.select(
        "event_type",
        "n_a",
        "n_b",
        F.round(mean_a, 4).alias("mean_a"),
        F.round(mean_b, 4).alias("mean_b"),
        F.round(t, 4).alias("t_stat"),
        (F.abs(t) > 1.96).cast("int").alias("significant"),
    )


@q(
    "events_stickiness",
    """
    WITH b AS (
      SELECT DISTINCT CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS day,
                      user_id
      FROM events),
    w AS (
      SELECT DISTINCT b.user_id, b.day + r.i AS day
      FROM b, range(0, 7) r(i)),
    dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM b GROUP BY day),
    wau AS (SELECT day, CAST(count(*) AS BIGINT) AS wau FROM w GROUP BY day)
    SELECT dau.day AS day, dau.dau AS dau, wau.wau AS wau,
           round(CAST(dau.dau AS DOUBLE) / wau.wau, 4) AS stickiness
    FROM dau JOIN wau ON wau.day = dau.day
    """,
)
def events_stickiness(spark: SparkSession, sf: str) -> DataFrame:
    """DAU / WAU stickiness per day — the product-analytics engagement
    ratio every dashboard carries.  The hard part distributed is WAU:
    an exact DISTINCT over a trailing 7-day window.  The sliding-window
    distinct inverts into a bounded forward explode: each (user, active
    day) pair supports WAU on days d..d+6, so WAU(d) = |distinct (user)
    after exploding every active day 7x| — a fixed 7x expansion + one
    dropDuplicates, never a per-day window over the raw stream (the
    events_retention_cohorts two-phase count-distinct device).

    Parity: day keys are exact floor-epoch integers (the st3/w5 floor
    discipline — floored twice, identically, in both engines), DAU/WAU
    are exact counts, and stickiness is ONE double division of exact
    integers rounded once.

    Scale shape: the raw stream reduces to distinct (user, day) pairs in
    one partial-aggregated pass; everything after is user-day-sized (7x
    bounded).  Output days include the 6 run-out days after the last
    active day (their WAU window still contains activity) — same set in
    both engines; the final join keeps only days with DAU, i.e. real
    dashboard rows."""
    b = (
        load(spark, sf, "events")
        .select(
            F.floor(F.unix_timestamp("ts") / 86400).alias("day"),
            "user_id",
        )
        .distinct()
    )
    w = (
        b.select("user_id", F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"), "day")
        .select("user_id", (F.col("day") + F.col("i")).alias("day"))
        .distinct()
    )
    dau = b.groupBy("day").agg(F.count("*").alias("dau"))
    wau = w.groupBy("day").agg(F.count("*").alias("wau"))
    return dau.join(wau, "day").select(
        "day",
        "dau",
        "wau",
        F.round(F.col("dau").cast("double") / F.col("wau"), 4).alias("stickiness"),
    )


# --- Marketing attribution ---------------------------------------------------
ATTR_TOUCHES = ("click", "view")
ATTR_WINDOW_US = 3 * 24 * 3600 * 1_000_000  # last-touch lookback: 3 days
# single-source the touch list into the SQL twin (like ATTR_WINDOW_US):
# a hardcoded IN ('click','view') would silently go stale if ATTR_TOUCHES
# ever gains a type
_ATTR_IN = ", ".join(f"'{t}'" for t in ATTR_TOUCHES)


@q(
    "events_attribution",
    f"""
    WITH b AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS t_us,
             CAST(round(value * 100) AS BIGINT) AS vc
      FROM events),
    t AS (
      SELECT *,
             last_value(CASE WHEN event_type IN ({_ATTR_IN})
                             THEN t_us END IGNORE NULLS)
               OVER w AS lt_t,
             last_value(CASE WHEN event_type IN ({_ATTR_IN})
                             THEN event_type END IGNORE NULLS)
               OVER w AS lt_c
      FROM b
      WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
    p AS (
      SELECT CASE WHEN lt_t IS NOT NULL
                       AND t_us - lt_t <= {ATTR_WINDOW_US}
                  THEN lt_c ELSE 'direct' END AS channel,
             vc
      FROM t WHERE event_type = 'purchase')
    SELECT channel,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(vc) AS BIGINT) AS revenue_cents
    FROM p GROUP BY channel
    """,
)
def events_attribution(spark: SparkSession, sf: str) -> DataFrame:
    """Last-touch revenue attribution — the standard marketing-analytics
    primitive: each purchase is credited to the user's most recent
    strictly-preceding click/view within a 3-day lookback, else to
    'direct'.  Event order is (exact epoch microseconds, event_id) — the
    events_skyline time key plus a total tie-break — and revenue sums on
    the x100 integer grid, so the whole result is integer-exact.

    Parity device: the last touch's (time, channel) pair is carried as
    TWO last-non-null window columns whose NULL conditions are identical,
    so they always come from the same touch row — this sidesteps
    engine-specific struct-in-window syntax while staying pairwise
    consistent.

    Scale shape: one user_id-keyed window (per-user event sequences are
    bounded — no global sort; the hot-user pole does not exist because a
    single user's history fits a task by construction of the domain),
    then the purchase rows collapse to |channels| cells with map-side
    partial aggregation.  At 100 TB this is the canonical
    sessionization-class plan: one shuffle on user_id, metadata-sized
    output."""
    utc(spark)
    b = load(spark, sf, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
        F.round(F.col("value") * 100).cast("long").alias("vc"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col("event_type").isin(*ATTR_TOUCHES)
    t = b.withColumn(
        "lt_t", F.last(F.when(is_touch, F.col("t_us")), ignorenulls=True).over(w)
    ).withColumn(
        "lt_c",
        F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True).over(w),
    )
    p = t.where(F.col("event_type") == "purchase").select(
        F.when(
            F.col("lt_t").isNotNull()
            & (F.col("t_us") - F.col("lt_t") <= ATTR_WINDOW_US),
            F.col("lt_c"),
        )
        .otherwise(F.lit("direct"))
        .alias("channel"),
        "vc",
    )
    return p.groupBy("channel").agg(
        F.count("*").alias("n_purchases"),
        F.sum("vc").alias("revenue_cents"),
    )


# --- Robust MAD outliers ------------------------------------------------------
# Median-absolute-deviation outliers — the robust cousin of
# events_zscore_outliers: mean/std are dragged by the very outliers they
# hunt, median/MAD are not.  Everything stays integer-exact on both engines
# by carrying DOUBLED medians: on the x100 grid, 2*median(ints) =
# lower-middle + upper-middle (an exact BIGINT whatever the parity of n),
# so dev2 = |2v - med2| and mad4 = 2*median(dev2) are exact, and the
# standard dev > 3*MAD flag becomes the integer comparison
# 2*dev2 > 3*mad4.  (The 1.4826 normal-consistency constant is omitted —
# it only rescales the threshold, which is calibrated directly.)
MAD_K_NUM = 3  # flag when dev > 3 * MAD


def _hist_med2(df, key: str, val: str, out: str):
    """2*median(val) per key via the corpus_token_stats histogram device:
    ONE partial-agg histogram shuffle, windows over histogram rows
    (value-cardinality-bounded, never row-bounded), min-conditional pick
    of the two middle elements.  No per-key sort of raw rows exists in
    the plan — the one-task-per-key pole is designed out.

    NULL vals are excluded from the histogram to match SQL median()
    semantics (aggregates skip NULLs); a NULL row would otherwise sort
    first and inflate cum/n, shifting the order-statistic picks."""
    hist = (
        df.where(F.col(val).isNotNull())
        .groupBy(key, val)
        .agg(F.count("*").alias("c"))
    )
    wcum = (
        Window.partitionBy(key)
        .orderBy(val)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy(key)
    h = hist.withColumn("cum", F.sum("c").over(wcum)).withColumn(
        "n", F.sum("c").over(wall)
    )
    k1 = F.floor((F.col("n") + 1) / 2)
    k2 = F.floor((F.col("n") + 2) / 2)
    return h.groupBy(key).agg(
        (
            F.min(F.when(F.col("cum") >= k1, F.col(val)))
            + F.min(F.when(F.col("cum") >= k2, F.col(val)))
        ).alias(out)
    )


@q(
    "events_mad_outliers",
    f"""
    WITH b AS (
      SELECT event_id, event_type, CAST(round(value * 100) AS BIGINT) AS v
      FROM events),
    m AS (SELECT event_type, CAST(2 * median(v) AS BIGINT) AS med2
          FROM b GROUP BY event_type),
    d AS (SELECT b.event_id, b.event_type, b.v,
                 abs(2 * b.v - m.med2) AS dev2, m.med2
          FROM b JOIN m USING (event_type)),
    md AS (SELECT event_type, CAST(2 * median(dev2) AS BIGINT) AS mad4
           FROM d GROUP BY event_type)
    SELECT d.event_id, d.event_type, d.v, d.med2, d.dev2, md.mad4,
           (2 * d.dev2 > {MAD_K_NUM} * md.mad4) AS is_outlier
    FROM d JOIN md USING (event_type)
    """,
)
def events_mad_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Robust per-event-type outlier flags via doubled-median MAD (see
    module comment — the entire computation is BIGINT-exact; the DuckDB
    twin's 2*median(int) is exactly lower+upper middle, the same value
    the histogram device picks).

    Scale shape: TWO histogram median passes (value grid is
    cardinality-bounded, windows run over histogram rows) + two
    broadcast joins of |event_type|-sized tables onto the stream scan —
    no global sort, no per-type sort of raw rows, no Python.  This is
    the corpus_token_stats percentile shape applied twice."""
    b = load(spark, sf, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    m = _hist_med2(b, "event_type", "v", "med2")
    d = b.join(F.broadcast(m), "event_type").select(
        "event_id",
        "event_type",
        "v",
        F.abs(2 * F.col("v") - F.col("med2")).alias("dev2"),
        "med2",
    )
    md = _hist_med2(d, "event_type", "dev2", "mad4")
    return d.join(F.broadcast(md), "event_type").select(
        "event_id",
        "event_type",
        "v",
        "med2",
        "dev2",
        "mad4",
        (2 * F.col("dev2") > MAD_K_NUM * F.col("mad4")).alias("is_outlier"),
    )


# --- dyadic-weight EWMA smoothing -----------------------------------------
EWMA_K = 8  # window depth; weight for lag k is 2^(EWMA_K-1-k) — exact ints

_EWMA_NUM = " + ".join(
    f"coalesce(l{k}, 0) * {1 << (EWMA_K - 1 - k)}" for k in range(EWMA_K)
)
_EWMA_DEN = " + ".join(
    f"CASE WHEN l{k} IS NOT NULL THEN {1 << (EWMA_K - 1 - k)} ELSE 0 END"
    for k in range(EWMA_K)
)


@q(
    "events_ewma",
    f"""
    WITH b AS (
      SELECT event_id, user_id, epoch_us(ts) AS t_us,
             CAST(round(value * 100) AS BIGINT) AS vc
      FROM events),
    l AS (
      SELECT event_id, user_id, vc,
             {", ".join(
                 f"lag(vc, {k}) OVER (PARTITION BY user_id "
                 f"ORDER BY t_us, event_id) AS l{k}"
                 for k in range(EWMA_K)
             )}
      FROM b)
    SELECT event_id, user_id, vc,
           round(CAST({_EWMA_NUM} AS DOUBLE) / ({_EWMA_DEN}), 4) AS ewma
    FROM l
    """,
)
def events_ewma(spark: SparkSession, sf: str) -> DataFrame:
    """Exponentially-weighted moving average per user — the time-series
    smoothing pass behind rate/anomaly monitors — truncated to the last
    EWMA_K events with DYADIC weights 2^-(k+1): every weight and both
    accumulators are exact integers on the x100 value grid (weight for
    lag k = 2^(EWMA_K-1-k), denominator = sum of the weights actually
    present, so partial leading windows normalize correctly), and the
    only float op is ONE rounded division per row.  The standard
    α = 1/2 recursive EWMA truncated at K terms — truncation is what
    makes the op windowed (hence distributed) instead of a sequential
    per-series scan.

    Scale shape: one user_id Exchange feeds a single Window that
    evaluates all EWMA_K lags in one pass over each partition (lag
    frames share the sort); no global window, no pole — users
    parallelize freely, exactly like events_sessionize."""
    b = load(spark, sf, "events").select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
        F.round(F.col("value") * 100).cast("long").alias("vc"),
    )
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    lagged = b.select(
        "event_id",
        "user_id",
        "vc",
        *[F.lag("vc", k).over(w).alias(f"l{k}") for k in range(EWMA_K)],
    )
    num = sum(
        (F.coalesce(F.col(f"l{k}"), F.lit(0)) * (1 << (EWMA_K - 1 - k)))
        for k in range(EWMA_K)
    )
    den = sum(
        F.when(F.col(f"l{k}").isNotNull(), F.lit(1 << (EWMA_K - 1 - k))).otherwise(
            F.lit(0)
        )
        for k in range(EWMA_K)
    )
    # all-NULL window (e.g. a user's first event has value NULL): den = 0.
    # DuckDB's 0/0 is NULL; guard the Spark division explicitly — under
    # this build's ANSI-enabled Spark 4 an unguarded 0/0 would not return
    # NULL but abort the job with DIVIDE_BY_ZERO (r05 review, live repro)
    return lagged.select(
        "event_id",
        "user_id",
        "vc",
        F.when(den > 0, F.round(num.cast("double") / den, 4)).alias("ewma"),
    )
