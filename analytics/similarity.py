"""Similarity search over the ``embeddings`` table (vec_id, embedding:
array<float>[64], label).

- ``emb_cosine_pairs`` / ``ann_topk_bruteforce``: exact cosine via native
  higher-order functions (zip_with + aggregate — JVM-side, no Python),
  DuckDB-oracled against ``list_cosine_similarity``.
- ``ann_lsh_bucketed``: the 100 TB scale path — deterministic random-
  hyperplane LSH buckets candidates so the expensive exact rerank touches
  only bucket-mates, not the full corpus.  At cluster scale the bucket id
  is the shuffle key (one shuffle, skew-free by construction since the
  hyperplanes split the space evenly); brute-force is kept as the small-SF
  baseline and recall oracle (the ``*_recall_vs_bruteforce`` tests in
  tests/test_pipeline_ops.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from analytics.common import load_spread, registry

QUERIES, ORACLE, q = registry()


def _dot(a, b) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a, b) -> Column:
    """Exact cosine similarity of two float-array columns (JVM HOFs)."""
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def with_norm(e: DataFrame, vid: str, emb: str, norm: str) -> DataFrame:
    """Precompute each vector's L2 norm once — the pairwise stage then does
    one dot product per pair instead of three (the thing that matters when
    the pair count is corpus², not corpus)."""
    return e.select(
        F.col("vec_id").alias(vid),
        F.col("embedding").alias(emb),
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias(norm),
    )


@q(
    "emb_cosine_pairs",
    """
    SELECT a.vec_id AS v1, b.vec_id AS v2,
           round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4)
             AS cos
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.35
    """,
)
def emb_cosine_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding near-dup pairs: exact pairwise cosine above threshold
    (0.35 ~ top 0.1% of this corpus's pair distribution)."""
    e = load_spread(spark, sf, "embeddings")
    a = with_norm(e, "v1", "e1", "n1")
    b = with_norm(e, "v2", "e2", "n2")
    c = _dot(F.col("e1"), F.col("e2")) / (F.col("n1") * F.col("n2"))
    return (
        a.join(b, F.col("v1") < F.col("v2"))
        .where(c >= 0.35)
        .select("v1", "v2", F.round(c, 4).alias("cos"))
    )


@q(
    "ann_topk_bruteforce",
    """
    WITH s AS (
      SELECT q.vec_id AS qid, c.vec_id AS cid,
             list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos
      FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND c.vec_id != q.vec_id),
    r AS (SELECT qid, cid, cos,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY cos DESC, cid) AS rk
          FROM s)
    SELECT qid, cid, rk, round(cos, 4) AS cos FROM r WHERE rk <= 5
    """,
)
def ann_topk_bruteforce(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force cosine top-5 for 10 query vectors — the exact-recall
    baseline every ANN variant is judged against."""
    from pyspark.sql import Window

    from analytics.common import load

    # Query side: 10 rows — read it WITHOUT load_spread (repartitioning 10
    # rows buys nothing and costs a shuffle) and broadcast it explicitly so
    # the nested-loop join streams the big candidate side, whose
    # load_spread gives the per-core parallelism.  r03 regression lesson:
    # spreading BOTH branches made the optimizer's size estimate for the
    # tiny side opaque (repartition hides the scan stats) and doubled the
    # wall (BENCH_r03 2.88 s vs r02 1.38 s).
    qs = F.broadcast(
        load(spark, sf, "embeddings")
        .where(F.col("vec_id") < 10)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"))
    )
    e = load_spread(spark, sf, "embeddings")
    cs = e.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("ce"))
    c = cosine(F.col("qe"), F.col("ce"))
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid"))
    return (
        qs.join(cs, F.col("cid") != F.col("qid"))
        .select("qid", "cid", c.alias("cos"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 5)
        .select("qid", "cid", "rk", F.round("cos", 4).alias("cos"))
    )


N_PLANES = 6
DIM = 64
LSH_GRID = 1_000_000  # microunit snap — projection signs are exact integers


def _hyperplanes() -> list[list[int]]:
    """Deterministic Rademacher (±1) hyperplanes derived from md5 — the
    emb_random_projection sign device.  ±1 planes instead of the r01
    gaussian draw for two reasons: (a) sign-of-±1-projection is a valid
    hyperplane-LSH family (Achlioptas-style sparse projections), and
    (b) the projection becomes an exact integer sum on the microunit
    grid, so the bucket id is bit-identical in Spark, DuckDB and
    python — which is what upgraded this op from rows-only to a full
    DuckDB oracle."""
    import hashlib

    return [
        [
            1
            if hashlib.md5(f"lsh{i}_{p}".encode()).hexdigest()[0] <= "7"
            else -1
            for i in range(1, DIM + 1)
        ]
        for p in range(N_PLANES)
    ]


def lsh_bucket(emb: Column) -> Column:
    """Sign-of-projection bucket id (0..2^N_PLANES-1) — native HOFs only.
    Each projection is an exact BIGINT: Σ ±round(x_i * 1e6)."""
    xm = F.transform(
        emb, lambda x: F.round(x.cast("double") * LSH_GRID).cast("long")
    )
    bucket = F.lit(0)
    for p, plane in enumerate(_hyperplanes()):
        proj = F.aggregate(
            F.zip_with(
                xm,
                F.array(*[F.lit(s) for s in plane]),
                lambda x, s: x * s.cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


def _lsh_bucket_sql(xm: str = "m") -> str:
    """DuckDB twin of lsh_bucket over a pre-snapped BIGINT list column."""
    projs = []
    for p in range(N_PLANES):
        proj = (
            f"list_sum(list_transform(range(1, {DIM + 1}), i -> "
            f"CASE WHEN substring(md5('lsh' || CAST(i AS VARCHAR) || '_{p}'), 1, 1)"
            f" <= '7' THEN {xm}[CAST(i AS INT)] ELSE -{xm}[CAST(i AS INT)] END))"
        )
        projs.append(f"(CASE WHEN {proj} > 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(projs)


_LSH_MASKS = (
    [0]
    + [1 << i for i in range(N_PLANES)]
    + [
        (1 << i) | (1 << j)
        for i in range(N_PLANES)
        for j in range(i + 1, N_PLANES)
    ]
)


@q(
    "ann_lsh_bucketed",
    f"""
    WITH x AS (
      SELECT vec_id, embedding,
             list_transform(embedding,
               v -> CAST(round(CAST(v AS DOUBLE) * {LSH_GRID}) AS BIGINT)) AS m
      FROM embeddings),
    b AS (SELECT vec_id, embedding, {_lsh_bucket_sql('m')} AS bucket FROM x),
    pr AS (SELECT unnest({_LSH_MASKS}) AS mask),
    q AS (SELECT b.vec_id AS qid, b.embedding AS qe,
                 xor(b.bucket, pr.mask) AS pb
          FROM b, pr WHERE b.vec_id < 10),
    s AS (SELECT DISTINCT q.qid, c.vec_id AS cid,
                 list_cosine_similarity(q.qe::DOUBLE[], c.embedding::DOUBLE[])
                   AS cos
          FROM q JOIN b c ON c.bucket = q.pb AND c.vec_id != q.qid),
    r AS (SELECT qid, cid, cos,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY cos DESC, cid) AS rk
          FROM s)
    SELECT qid, cid, rk, round(cos, 4) AS cos FROM r WHERE rk <= 5
    """,
)
def ann_lsh_bucketed(spark: SparkSession, sf: str) -> DataFrame:
    """Scale-path ANN: hyperplane-LSH bucket join + exact rerank inside
    buckets, with multi-probe out to Hamming distance 2.  On THIS corpus
    (uniform random vectors — no cluster structure) the analytic ceiling
    for 6 planes + 2-bit probes is ~0.6 recall of the true top-5; real
    embedding corpora are strongly clustered, where the same construction
    probes a constant bucket set while candidate volume stays O(n/2^P) —
    that is the 100 TB path.

    Fully oracled since round 5: the md5-Rademacher planes on the
    microunit grid make every bucket id an exact-integer artifact both
    engines compute bit-identically (previously rows-only because the
    gaussian planes' float dot products could not be stated in SQL);
    recall vs brute force additionally asserted in
    tests/test_pipeline_ops.py."""
    e = load_spread(spark, sf, "embeddings").withColumn("bucket", lsh_bucket(F.col("embedding")))
    # multi-probe: query side also probes every bucket within Hamming
    # distance 2 of its own (1 + P + P*(P-1)/2 probes).
    flips = [0] + [1 << i for i in range(N_PLANES)] + [
        (1 << i) | (1 << j)
        for i in range(N_PLANES)
        for j in range(i + 1, N_PLANES)
    ]
    probes = e.select(
        "vec_id",
        "embedding",
        F.explode(
            F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)) for m in flips])
        ).alias("probe_bucket"),
    )
    qs = probes.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"), "probe_bucket"
    )
    cs = e.select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce"), F.col("bucket").alias("probe_bucket")
    )
    c = cosine(F.col("qe"), F.col("ce"))
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid"))
    return (
        qs.join(cs, "probe_bucket")
        .where(F.col("cid") != F.col("qid"))
        .select("qid", "cid", c.alias("cos"))
        .distinct()
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 5)
        .select("qid", "cid", "rk", F.round("cos", 4).alias("cos"))
    )


N_LISTS = 16
N_PROBE = 4


def _coarse_score(e: DataFrame) -> DataFrame:
    """Coarse-quantizer scoring shared by ann_ivf / dedup_semantic /
    emb_cluster_sample (previously three hand-rolled copies — r05
    review): the N_LISTS lowest-vec_id vectors are the centroid set
    (deterministic across engines, no iterative training job), broadcast
    against the corpus scan, scored by cosine."""
    cents = (
        e.orderBy("vec_id")
        .limit(N_LISTS)
        .select(F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent"))
    )
    return e.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "embedding",
        "cent_id",
        cosine(F.col("embedding"), F.col("cent")).alias("cs"),
    )


def _coarse_assign(scored: DataFrame, emb_alias: str | None = None) -> DataFrame:
    """(vec_id, list_id[, <emb_alias>]) cluster assignment off the scored
    frame.  Argmax tie-break: exact cosine ties happen (centroids score
    1.0 with themselves and any duplicate vector), and a bare
    max_by(cent_id, cs) is then nondeterministic across partitionings —
    ordering by struct(cs, -cent_id) picks the lowest cent_id among the
    maxima, the same rule as the IVF probe side's row_number window.
    The groupBy(vec_id) is key-unique and skew-free; Catalyst prunes the
    embedding column when emb_alias is None."""
    aggs = [
        F.max_by(
            "cent_id", F.struct(F.col("cs"), (-F.col("cent_id")).alias("nc"))
        ).alias("list_id")
    ]
    if emb_alias:
        aggs.append(F.first("embedding").alias(emb_alias))
    return scored.groupBy("vec_id").agg(*aggs)


@q(
    "ann_ivf",
    f"""
    WITH cents AS (
      SELECT vec_id AS cent_id, embedding AS cent
      FROM embeddings ORDER BY vec_id LIMIT {N_LISTS}),
    scored AS (
      SELECT e.vec_id, e.embedding, c.cent_id,
             list_cosine_similarity(e.embedding::DOUBLE[], c.cent::DOUBLE[])
               AS cs
      FROM embeddings e, cents c),
    assign AS (
      SELECT vec_id, embedding, cent_id AS list_id
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY cs DESC, cent_id) AS rn
            FROM scored)
      WHERE rn = 1),
    probes AS (
      SELECT vec_id AS qid, embedding AS qe, cent_id AS list_id
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY cs DESC, cent_id) AS prk
            FROM scored WHERE vec_id < 10)
      WHERE prk <= {N_PROBE}),
    s AS (
      SELECT p.qid, a.vec_id AS cid,
             list_cosine_similarity(p.qe::DOUBLE[], a.embedding::DOUBLE[])
               AS cos
      FROM probes p JOIN assign a USING (list_id)
      WHERE a.vec_id != p.qid),
    r AS (SELECT qid, cid, cos,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY cos DESC, cid) AS rk
          FROM s)
    SELECT qid, cid, rk, round(cos, 4) AS cos FROM r WHERE rk <= 5
    """,
)
def ann_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-style ANN — the second scale path next to ``ann_lsh_bucketed``
    (the brief asks for "an IVF or LSH-bucketed variant"; clustered corpora
    favor IVF because lists follow the data's own density, not fixed
    hyperplanes).

    Shape, cluster-scale reading:
      1. coarse quantizer: the N_LISTS lowest-vec_id vectors act as
         centroids (k-means random-init analogue — deterministic across
         engines/cluster sizes, no iterative training job);
      2. assign pass: broadcast the centroids (tiny dim table), one narrow
         crossJoin + max_by per vector -> (vec_id, list_id) inverted lists;
         the only shuffle is the groupBy(vec_id) argmax, key-unique and
         skew-free;
      3. query: each query ranks the SAME broadcast centroids, probes its
         N_PROBE nearest lists, and exact-reranks only those lists'
         members — candidate volume ~ N_PROBE/N_LISTS of the corpus.
    Fully oracled since round 5: centroid choice (lowest-vec_id LIMIT),
    argmax assignment (cs DESC, cent_id tie-break — the max_by struct
    rule stated as a window), probe ranking and the rerank are all
    deterministic given the proven bit-equality of the two engines'
    cosine (the ann_topk_bruteforce device), so list membership is NOT
    engine-defined after all.  Recall vs ``ann_topk_bruteforce``
    additionally asserted in tests/test_pipeline_ops.py."""
    from pyspark.sql import Window

    e = load_spread(spark, sf, "embeddings")
    scored = _coarse_score(e)
    assign = _coarse_assign(scored, emb_alias="ce")
    wq = Window.partitionBy("qid").orderBy(F.col("cs").desc(), F.col("cent_id"))
    probes = (
        scored.where(F.col("vec_id") < 10)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"), "cent_id", "cs")
        .withColumn("prk", F.row_number().over(wq))
        .where(F.col("prk") <= N_PROBE)
        .select("qid", "qe", F.col("cent_id").alias("list_id"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid"))
    return (
        probes.join(assign, "list_id")
        .where(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("cid"), cosine(F.col("qe"), F.col("ce")).alias("cos"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 5)
        .select("qid", "cid", "rk", F.round("cos", 4).alias("cos"))
    )


N_BLOCKS = 8


@q(
    "emb_cosine_pairs_blocked",
    # identical oracle to emb_cosine_pairs: the blocked plan is exact by
    # construction (set-equality also pinned in tests/test_pipeline_ops.py),
    # so the scale path itself is driver-hash-checked.
    """
    SELECT a.vec_id AS v1, b.vec_id AS v2,
           round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4)
             AS cos
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.35
    """,
)
def emb_cosine_pairs_blocked(spark: SparkSession, sf: str) -> DataFrame:
    """Exact cosine pairs >= 0.35 via distributed blocked GEMM — the scale
    path for exact-threshold pair search (same result set as
    ``emb_cosine_pairs``; set-equality pinned in tests/test_pipeline_ops.py,
    i.e. recall = 1.0 by construction, stronger than the 0.95 an ANN
    candidate stage would promise).

    Why not LSH candidates here: this corpus is isotropic (uniform random
    64-dim vectors — measured pair cosines top out at 0.51, and passing
    pairs sit at 0.35-0.51 where a random hyperplane agrees with
    probability only 0.61 vs 0.50 background).  Banding at any (r, b) that
    reaches 0.95 recall on a p=0.61 pair emits >= 0.4 background
    collisions per RANDOM pair — i.e. candidates ~ all pairs, a sham
    prune.  Hyperplane LSH prunes only clustered corpora; for those,
    ``ann_lsh_bucketed`` is the construction.  The honest exact-pair scale
    design is FAISS-style blocking: every vector is replicated into the
    N_BLOCKS block-pair groups it participates in (shuffle O(B*n) rows),
    each group computes its pair block with one vectorized numpy GEMM
    (Arrow batches, no per-row Python), so compute is O(n^2/B^2) per task
    — embarrassingly parallel, no task ever holds more than 2n/B vectors.
    At a real 100 TB scale B grows with the corpus so the per-task block
    stays cache-sized; candidate memory never exceeds the emitted pairs.
    """
    import numpy as np
    import pandas as pd

    e = load_spread(spark, sf, "embeddings").select("vec_id", "embedding")
    blk = F.pmod(F.xxhash64(F.col("vec_id")), F.lit(N_BLOCKS))
    # row in block k joins group (gi, gj) as: left when k == gi, right when
    # k == gj (diagonal groups hold each row once, flagged both sides)
    groups = F.array(
        *(
            [
                F.when(
                    blk == i,
                    F.struct(F.lit(i).alias("gi"), F.lit(j).alias("gj"), F.lit("L").alias("side")),
                )
                for i in range(N_BLOCKS)
                for j in range(i, N_BLOCKS)
            ]
            + [
                F.when(
                    blk == j,
                    F.struct(F.lit(i).alias("gi"), F.lit(j).alias("gj"), F.lit("R").alias("side")),
                )
                for i in range(N_BLOCKS)
                for j in range(i + 1, N_BLOCKS)
            ]
        )
    )
    exploded = (
        e.withColumn("g", F.explode(F.filter(groups, lambda s: s.isNotNull())))
        .select("vec_id", "embedding", "g.gi", "g.gj", "g.side")
    )

    def gemm(pdf: pd.DataFrame) -> pd.DataFrame:
        diag = pdf["gi"].iloc[0] == pdf["gj"].iloc[0]
        left = pdf if diag else pdf[pdf["side"] == "L"]
        right = pdf if diag else pdf[pdf["side"] == "R"]
        if not len(left) or not len(right):
            return pd.DataFrame({"v1": [], "v2": [], "cos": []})
        lid = left["vec_id"].to_numpy()
        rid = right["vec_id"].to_numpy()
        lm = np.stack(left["embedding"].to_numpy()).astype(np.float64)
        rm = np.stack(right["embedding"].to_numpy()).astype(np.float64)
        lm /= np.linalg.norm(lm, axis=1, keepdims=True)
        rm /= np.linalg.norm(rm, axis=1, keepdims=True)
        sim = lm @ rm.T
        if diag:
            # same set on both sides: each unordered pair appears twice,
            # keep the lid < rid orientation
            mask = (sim >= 0.35) & (lid[:, None] < rid[None, :])
        else:
            # disjoint blocks: each unordered pair appears exactly once,
            # in EITHER orientation — normalize to (min, max) below
            mask = sim >= 0.35
        ii, jj = np.nonzero(mask)
        c = sim[ii, jj]
        # half-away-from-zero like Spark/DuckDB round() — np.round is
        # banker's (half-to-even), which would emit a different 4-dp cos
        # for a pair landing on a halfway (r05 review: np.round(2.5)=2
        # vs engine round(2.5)=3)
        return pd.DataFrame(
            {
                "v1": np.minimum(lid[ii], rid[jj]),
                "v2": np.maximum(lid[ii], rid[jj]),
                "cos": np.copysign(np.floor(np.abs(c) * 1e4 + 0.5), c) / 1e4,
            }
        )

    return (
        exploded.groupBy("gi", "gj")
        .applyInPandas(gemm, "v1 long, v2 long, cos double")
        .select("v1", "v2", "cos")
    )


# ---------------------------------------------------------- quantization
def quantize_int8(e: DataFrame) -> DataFrame:
    """Symmetric per-vector int8 quantization (the storage/ANN-index
    compression pass of a vector pipeline): scale = max|x| / 127, each
    component rounded to [-127, 127].  Library form — emits the raw
    ``qvec: array<tinyint>`` column downstream index builds consume.

    Pure native HOFs over the embedding array — WholeStageCodegen, zero
    Python, zero shuffle: a single stateless scan that maps 256 B of
    float32 to 64 B of int8 per vector, exactly the pass that runs over
    every shard of a 100 TB embedding store before index build.  All
    arithmetic is forced to float64 on both engines (float32 division
    would make last-ulp rounding engine-dependent); both Spark ``round``
    and DuckDB ``round`` are half-away-from-zero, so the oracle is an
    exact twin.  Degenerate all-zero vectors (scale = 0) quantize to all
    zeros instead of dividing by zero (null under non-ANSI Spark, NaN in
    DuckDB — the twin diverged there before the guard).  The emitted
    6-dp scale goes through the x1e6 integer grid (round-to-integer of a
    bit-equal double, then one exact division) instead of round(·, 6) —
    fractional-decimal round is the one float op whose halfway detection
    can differ between Spark's shortest-repr BigDecimal path and
    DuckDB's scaled-binary path (the r04-advice flake class the kmeans
    grid exists to avoid); round-to-INTEGER agrees everywhere."""
    absmax = F.array_max(F.transform("embedding", lambda x: F.abs(x))).cast("double")
    scale = absmax / F.lit(127.0)
    safe = F.when(scale == 0, F.lit(None).cast("double")).otherwise(scale)
    qvec = F.transform(
        "embedding",
        lambda x: F.coalesce(F.round(x.cast("double") / safe), F.lit(0.0)).cast("byte"),
    )
    return e.select(
        "vec_id",
        (F.round(scale * 1_000_000).cast("long") / F.lit(1_000_000.0)).alias("scale"),
        qvec.alias("qvec"),
    )


@q(
    "emb_quantize_int8",
    """
    WITH s AS (
      SELECT vec_id, embedding,
             CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE)
               / 127.0 AS scale
      FROM embeddings)
    SELECT vec_id,
           CAST(round(scale * 1000000) AS BIGINT) / 1000000.0 AS scale,
           array_to_string(list_transform(embedding,
             x -> CAST(coalesce(round(CAST(x AS DOUBLE) / nullif(scale, 0)), 0)
                       AS TINYINT)), ',') AS qvec
    FROM s
    """,
)
def emb_quantize_int8(spark: SparkSession, sf: str) -> DataFrame:
    """Driver-facing shape of :func:`quantize_int8`: the int8 components are
    joined into one comma-separated string because the driver's row
    canonicalizer sorts by every output column and cannot sort list-typed
    values (CORRECTNESS_r03 `TypeError: unhashable type: 'list'`).  The
    array-returning library form stays `quantize_int8`."""
    qv = quantize_int8(load_spread(spark, sf, "embeddings"))
    return qv.select(
        "vec_id",
        "scale",
        F.array_join(F.transform("qvec", lambda v: v.cast("string")), ",").alias("qvec"),
    )


# --- sparse random projection (JL dimensionality reduction) -------------
RP_D = 64  # input embedding dim (TESTDATA embeddings)
RP_K = 16  # output dim; sqrt(RP_K) = 4 is exact, so the final scale
# division is a single deterministic IEEE op


@q(
    "emb_random_projection",
    f"""
    WITH s AS (
      SELECT i, j,
             CASE WHEN substring(md5(i::VARCHAR || '_' || j::VARCHAR), 1, 1)
                       <= '7' THEN 1 ELSE -1 END AS sgn
      FROM range(1, {RP_D + 1}) t(i), range(1, {RP_K + 1}) u(j)),
    ex AS (
      SELECT vec_id, p AS i,
             CAST(round(embedding[p]::DOUBLE * 1000000) AS BIGINT) AS q
      FROM (SELECT vec_id, embedding,
                   unnest(range(1, len(embedding) + 1)) AS p
            FROM embeddings))
    SELECT vec_id, CAST(s.j AS INT) AS j,
           CAST(round(CAST(sum(q * sgn) AS DOUBLE) / 4.0) AS BIGINT) AS p_micro
    FROM ex JOIN s ON s.i = ex.i
    GROUP BY vec_id, s.j
    """,
)
def emb_random_projection(spark: SparkSession, sf: str) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction with a DATA-FREE
    dense +/-1 sign matrix (the Achlioptas "database-friendly" family):
    out_j = sum_i v_i * sgn(i, j) / sqrt(k), with sgn derived from
    md5(i || '_' || j) — both engines (and numpy in the pytest) compute
    the identical matrix from nothing but the dimension indices, so no
    RNG state needs to be shared.  The standard pre-LSH / pre-clustering
    shrink step for web-scale embedding pipelines.

    Parity device: coordinates are snapped to BIGINT microunits BEFORE
    the aggregation (the kmeans_train integer grid), so the projection
    sums are exact and summation-order-independent, and the OUTPUT stays
    on the integer grid: p_micro = round(sum / 4.0) in 1e-6 units.  The
    divide-by-4 (sqrt(16)) is exact in binary, so round() sees the
    identical double in every engine, and round-to-INTEGER ties (x.5,
    exactly representable) break away-from-zero in both Spark and DuckDB
    — unlike round-to-6-decimals, whose halfway detection differs (the
    r04-advice flake class; a first draft of this op hit exactly that at
    0.1266695).

    Scale shape: one narrow posexplode (bounded d-fold expansion, no
    shuffle), a broadcast join against the d x k sign matrix (k*d rows —
    metadata-sized at any corpus scale), and ONE hash aggregation on
    (vec_id, j) with map-side partials.  No driver-side matrix, no
    Python; output stays long-form (vec_id, j, p) — the shape the next
    pipeline stage (LSH bucketing, k-means) consumes without a pivot."""
    e = load_spread(spark, sf, "embeddings")
    smat = (
        spark.range(1, RP_D + 1)
        .select(F.col("id").alias("i"))
        .crossJoin(spark.range(1, RP_K + 1).select(F.col("id").alias("j")))
        .select(
            "i",
            "j",
            F.when(
                F.substring(F.md5(F.concat_ws("_", "i", "j")), 1, 1) <= "7", 1
            )
            .otherwise(-1)
            .alias("sgn"),
        )
    )
    ex = e.select(
        "vec_id", F.posexplode("embedding").alias("pos", "v")
    ).select(
        "vec_id",
        (F.col("pos") + 1).alias("i"),
        F.round(F.col("v").cast("double") * 1_000_000).cast("long").alias("q"),
    )
    return (
        ex.join(F.broadcast(smat), "i")
        .groupBy("vec_id", "j")
        .agg(F.sum(F.col("q") * F.col("sgn")).alias("sq"))
        .select(
            "vec_id",
            F.col("j").cast("int").alias("j"),
            F.round(F.col("sq").cast("double") / 4.0).cast("long").alias("p_micro"),
        )
    )


# --- k-means coarse-quantizer training ---------------------------------
KM_K = 8
KM_ITER = 3
_KM_G = 1_000_000  # centroid grid: 1e-6 microunits.  Member coordinates are
# snapped to BIGINT microunits BEFORE summing (integer sums are exact and
# order-independent, so Spark and DuckDB agree however they order the group
# members), and the new centroid is the mean rounded to an integer microunit.
# round-to-INTEGER of a shared double is safe in both engines (the only true
# tie, s/n = k+0.5 with integer s,n, is exactly representable and both round
# ties away from zero), unlike round-to-6-decimals whose half-way detection
# differs between Spark's BigDecimal path and DuckDB's numeric path — the
# r04-advice parity flake this grid design removes.


def _km_iter_sql(i: int) -> str:
    return f"""
  d{i} AS (SELECT e.vec_id, e.embedding, c.cid,
                  list_sum(list_transform(range(1, len(e.embedding) + 1),
                           j -> (e.embedding[j]::DOUBLE - c.cent[j]) ^ 2)) AS dist
           FROM embeddings e, c{i - 1} c),
  a{i} AS (SELECT vec_id, embedding, cid FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id
                                          ORDER BY dist, cid) AS rn
             FROM d{i}) WHERE rn = 1),
  m{i} AS (SELECT cid, j,
                  CAST(round(CAST(sum(CAST(round(embedding[j]::DOUBLE * {_KM_G})
                                          AS BIGINT)) AS DOUBLE)
                             / count(*)) AS BIGINT) / CAST({_KM_G} AS DOUBLE) AS x
           FROM a{i}, unnest(range(1, len(embedding) + 1)) t(j)
           GROUP BY cid, j),
  n{i} AS (SELECT cid, list(x ORDER BY j) AS cent FROM m{i} GROUP BY cid),
  c{i} AS (SELECT p.cid, coalesce(n.cent, p.cent) AS cent
           FROM c{i - 1} p LEFT JOIN n{i} n ON p.cid = n.cid)
"""


@q(
    "kmeans_train",
    f"""
    WITH c0 AS (
      SELECT vec_id AS cid,
             list_transform(embedding,
               x -> CAST(round(x::DOUBLE * {_KM_G}) AS BIGINT)
                    / CAST({_KM_G} AS DOUBLE)) AS cent
      FROM embeddings ORDER BY vec_id LIMIT {KM_K}),
    {",".join(_km_iter_sql(i) for i in range(1, KM_ITER + 1))},
    df AS (SELECT e.vec_id, c.cid,
                  list_sum(list_transform(range(1, len(e.embedding) + 1),
                           j -> (e.embedding[j]::DOUBLE - c.cent[j]) ^ 2)) AS dist
           FROM embeddings e, c{KM_ITER} c),
    af AS (SELECT vec_id, cid FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id
                                          ORDER BY dist, cid) AS rn
             FROM df) WHERE rn = 1),
    cnt AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_members FROM af GROUP BY cid)
    SELECT c.cid, t.j - 1 AS dim_idx, c.cent[t.j] AS val, cnt.n_members
    FROM c{KM_ITER} c
    JOIN cnt ON c.cid = cnt.cid,
    unnest(range(1, len(c.cent) + 1)) t(j)
    """,
)
def kmeans_train(spark: SparkSession, sf: str) -> DataFrame:
    """Lloyd's k-means over the embedding corpus — the training job that
    produces the IVF/SemDeDup coarse quantizer (``ann_ivf`` /
    ``dedup_semantic`` consume exactly this kind of centroid table).
    Deterministic init (the KM_K lowest-vec_id vectors), KM_ITER
    assign+recenter rounds, squared-L2 assignment with a lowest-cid
    tie-break, empty clusters keep their previous centroid.

    Scale shape: per round, ONE broadcast of the K×dim centroid table
    (KB-sized however big the corpus), one narrow scan computing the
    argmin per vector (key-unique groupBy — no skew), and one
    (cid, dim) mean aggregation whose partial aggregates combine
    map-side; ``localCheckpoint`` per round cuts the lineage so the plan
    stays O(1) per iteration (same device as PageRank / connected
    components).  The DuckDB oracle unrolls the fixed trip count into
    chained CTEs; centroids live on an integer microunit grid (_KM_G):
    member coordinates snap to BIGINT microunits before the (exact,
    order-independent) integer sum, and the mean rounds to an integer
    microunit — so both engines carry bit-identical centroids through
    every iteration with no order- or rounding-implementation
    sensitivity (r04-advice hardening).  Output is
    (cid, dim_idx, val, n_members) rows — scalars, driver-sortable (the
    emb_quantize_int8 list-column lesson)."""
    e = load_spread(spark, sf, "embeddings").select("vec_id", "embedding")
    cents = (
        e.orderBy("vec_id")
        .limit(KM_K)
        .select(
            F.col("vec_id").alias("cid"),
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * _KM_G, 0).cast("long")
                / F.lit(float(_KM_G)),
            ).alias("cent"),
        )
    )

    def assign_to(c: DataFrame) -> DataFrame:
        dist = F.aggregate(
            F.zip_with(
                "embedding",
                "cent",
                lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return (
            e.crossJoin(F.broadcast(c))
            .select("vec_id", "embedding", "cid", dist.alias("dist"))
            .groupBy("vec_id")
            .agg(
                F.min_by(F.struct("cid", "embedding"), F.struct("dist", "cid")).alias(
                    "s"
                )
            )
            .select(
                "vec_id",
                F.col("s.cid").alias("cid"),
                F.col("s.embedding").alias("embedding"),
            )
        )

    for _ in range(KM_ITER):
        assign = assign_to(cents)
        newc = (
            assign.select("cid", F.posexplode("embedding").alias("j", "x"))
            .groupBy("cid", "j")
            .agg(
                F.sum(
                    F.round(F.col("x").cast("double") * _KM_G, 0).cast("long")
                ).alias("s"),
                F.count("*").alias("n"),
            )
            .select(
                "cid",
                "j",
                (
                    F.round(F.col("s").cast("double") / F.col("n"), 0).cast("long")
                    / F.lit(float(_KM_G))
                ).alias("x"),
            )
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("j", "x"))), lambda s: s.x
                ).alias("cent")
            )
        )
        cents = (
            cents.withColumnRenamed("cent", "prev")
            .join(newc, "cid", "left")
            .select("cid", F.coalesce("cent", "prev").alias("cent"))
            .localCheckpoint()
        )
    counts = assign_to(cents).groupBy("cid").agg(F.count("*").alias("n_members"))
    return (
        cents.join(F.broadcast(counts), "cid")
        .select("cid", "n_members", F.posexplode("cent").alias("dim_idx", "val"))
        .select("cid", F.col("dim_idx").cast("long").alias("dim_idx"), "val", "n_members")
    )


SEMDEDUP_T = 0.35


@q(
    "dedup_semantic",
    f"""
    WITH cents AS (SELECT vec_id AS cent_id, embedding AS cent
                   FROM embeddings ORDER BY vec_id LIMIT {N_LISTS}),
    scored AS (SELECT e.vec_id, e.embedding, c.cent_id,
                      list_cosine_similarity(e.embedding::DOUBLE[],
                                             c.cent::DOUBLE[]) AS cs
               FROM embeddings e CROSS JOIN cents c),
    assign AS (SELECT vec_id, embedding, cent_id AS list_id FROM (
                 SELECT *, row_number() OVER (PARTITION BY vec_id
                                              ORDER BY cs DESC, cent_id) AS rk
                 FROM scored) WHERE rk = 1),
    dropped AS (SELECT DISTINCT b.vec_id
                FROM assign a JOIN assign b
                  ON a.list_id = b.list_id AND a.vec_id < b.vec_id
                WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                                             b.embedding::DOUBLE[])
                      >= {SEMDEDUP_T})
    SELECT s.vec_id, s.list_id
    FROM assign s LEFT JOIN dropped d ON s.vec_id = d.vec_id
    WHERE d.vec_id IS NULL
    """,
)
def dedup_semantic(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster embeddings with the IVF coarse
    quantizer, then remove near-duplicates WITHIN each cluster — pairwise
    cosine is computed only against same-cluster members, never corpus-wide.
    Keeps the lowest vec_id of each near-dup group (drop v2 whenever some
    same-cluster v1 < v2 has cos >= T).

    Scale shape: assignment is a broadcast-centroid scan + key-unique
    argmax (same as ``ann_ivf``); the pair stage shuffles once on list_id
    and is O(Σ cluster²) — in production the list count grows with the
    corpus so cluster sizes stay bounded, which is exactly the SemDeDup
    paper's cost model (k ∝ n keeps within-cluster pairs linear).  The
    survivor anti-join reuses the url-dedup D2 pattern.  Threshold 0.35
    suits this isotropic synthetic corpus (real embedding spaces use
    ~0.95); the centroid set (lowest-{N_LISTS} vec_ids) is deterministic
    across engines and cluster sizes."""
    e = load_spread(spark, sf, "embeddings")
    assign = _coarse_assign(_coarse_score(e), emb_alias="emb")
    a = assign.select(
        F.col("list_id"),
        F.col("vec_id").alias("v1"),
        F.col("emb").alias("e1"),
    )
    b = assign.select(
        F.col("list_id"),
        F.col("vec_id").alias("v2"),
        F.col("emb").alias("e2"),
    )
    dropped = (
        a.join(b, "list_id")
        .where(F.col("v1") < F.col("v2"))
        .where(cosine(F.col("e1"), F.col("e2")) >= F.lit(SEMDEDUP_T))
        .select(F.col("v2").alias("vec_id"))
        .distinct()
    )
    return assign.join(dropped, "vec_id", "left_anti").select("vec_id", "list_id")


@q(
    "ann_hard_negatives",
    """
    WITH s AS (
      SELECT q.vec_id AS qid, c.vec_id AS cid, c.label AS neg_label,
             list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos
      FROM embeddings q JOIN embeddings c
        ON q.vec_id < 10 AND c.label != q.label),
    r AS (SELECT qid, cid, neg_label, cos,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY cos DESC, cid) AS rk
          FROM s)
    SELECT qid, cid, CAST(neg_label AS INTEGER) AS neg_label, rk,
           round(cos, 4) AS cos
    FROM r WHERE rk <= 5
    """,
)
def ann_hard_negatives(spark: SparkSession, sf: str) -> DataFrame:
    """Hard-negative mining for contrastive training (the SimCSE / DPR /
    CLIP data-prep primitive): for each query vector, the top-5 most
    cosine-similar vectors carrying a DIFFERENT label — the
    near-boundary negatives that give the training signal easy random
    negatives cannot.

    Same plan discipline as ann_topk_bruteforce: the 10-row query side
    is explicitly broadcast (never spread), the corpus side is spread to
    core count, and the label inequality rides the join condition so
    same-label pairs are dropped BEFORE the per-query top-k window.  At
    100 TB you swap the brute-force candidate stream for the IVF/LSH
    bucketed candidates (ann_ivf / ann_lsh_bucketed) and keep this exact
    mining tail — the label-aware top-k is unchanged."""
    from pyspark.sql import Window

    from analytics.common import load

    qs = F.broadcast(
        load(spark, sf, "embeddings")
        .where(F.col("vec_id") < 10)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qe"),
            F.col("label").alias("qlabel"),
        )
    )
    e = load_spread(spark, sf, "embeddings")
    cs = e.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("ce"),
        F.col("label").alias("neg_label"),
    )
    c = cosine(F.col("qe"), F.col("ce"))
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid"))
    return (
        qs.join(cs, F.col("neg_label") != F.col("qlabel"))
        .select("qid", "cid", "neg_label", c.alias("cos"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 5)
        .select("qid", "cid", "neg_label", "rk", F.round("cos", 4).alias("cos"))
    )


@q(
    "emb_cluster_sample",
    f"""
    WITH cents AS (SELECT vec_id AS cent_id, embedding AS cent
                   FROM embeddings ORDER BY vec_id LIMIT {N_LISTS}),
    scored AS (SELECT e.vec_id, c.cent_id,
                      list_cosine_similarity(e.embedding::DOUBLE[],
                                             c.cent::DOUBLE[]) AS cs
               FROM embeddings e CROSS JOIN cents c),
    assign AS (SELECT vec_id, cent_id AS list_id FROM (
                 SELECT *, row_number() OVER (PARTITION BY vec_id
                                              ORDER BY cs DESC, cent_id) AS rk
                 FROM scored) WHERE rk = 1),
    sized AS (SELECT list_id, count(*) AS n FROM assign GROUP BY 1),
    quota AS (SELECT min(n) AS q FROM sized),
    r AS (SELECT vec_id, list_id,
                 row_number() OVER (PARTITION BY list_id
                                    ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                             vec_id) AS rk
          FROM assign)
    SELECT r.vec_id, r.list_id FROM r CROSS JOIN quota WHERE r.rk <= quota.q
    """,
)
def emb_cluster_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Cluster-balanced diversity sampling: assign every embedding to its
    nearest coarse-quantizer centroid (the dedup_semantic / ann_ivf
    assignment), then keep an EQUAL quota from every cluster — the
    smallest cluster's size — chosen by md5-of-id rank.  This is the
    embedding-space counterpart of doc_mixture_rebalance: strata are
    LEARNED clusters instead of metadata, and rank-to-quota gives exact
    equality instead of a probabilistic cut, so the subsample covers
    the embedding space uniformly (the coreset/diversity-sampling step
    of SemDeDup-style curation pipelines).

    Scale shape: assignment is the broadcast-centroid scan; cluster
    sizes are a 16-row agg; the per-cluster rank windows over
    corpus-proportional partitions (k ∝ n in production keeps each
    bounded — the SemDeDup cost model); the md5 order is content-keyed,
    so the sample is identical on any engine, partitioning, or retry."""
    from pyspark.sql import Window

    e = load_spread(spark, sf, "embeddings")
    assign = _coarse_assign(_coarse_score(e))
    quota = (
        assign.groupBy("list_id")
        .agg(F.count("*").alias("n"))
        .agg(F.min("n").alias("q"))
    )
    w = Window.partitionBy("list_id").orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id"
    )
    return (
        assign.withColumn("rk", F.row_number().over(w))
        .crossJoin(F.broadcast(quota))
        .where(F.col("rk") <= F.col("q"))
        .select("vec_id", "list_id")
    )


# --- product quantization + ADC search ----------------------------------
PQ_M = 4  # subspaces (64-dim embeddings -> 4 x 16)
PQ_SUB = 16  # dims per subspace
PQ_K = 16  # codes per subspace codebook
PQ_ITER = 3  # Lloyd rounds per subspace
PQ_NQ = 10  # query vectors (vec_id < PQ_NQ, same set as ann_topk_bruteforce)
PQ_TOPK = 5


def _pq_iter_sql(i: int) -> str:
    return f"""
  d{i} AS (SELECT e.vec_id, e.m, c.code,
                  sum((e.q - c.c) * (e.q - c.c)) AS d
           FROM ex e JOIN c{i - 1} c ON e.m = c.m AND e.jj = c.jj
           GROUP BY e.vec_id, e.m, c.code),
  a{i} AS (SELECT vec_id, m, code FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                          ORDER BY d, code) AS rn
             FROM d{i}) WHERE rn = 1),
  n{i} AS (SELECT a.m, a.code, e.jj,
                  CAST(round(CAST(sum(e.q) AS DOUBLE) / count(*)) AS BIGINT) AS c
           FROM a{i} a JOIN ex e ON a.vec_id = e.vec_id AND a.m = e.m
           GROUP BY a.m, a.code, e.jj),
  c{i} AS (SELECT p.m, p.code, p.jj, coalesce(n.c, p.c) AS c
           FROM c{i - 1} p LEFT JOIN n{i} n
             ON p.m = n.m AND p.code = n.code AND p.jj = n.jj)
"""


ORACLE["ann_pq_adc"] = f"""
    WITH ex AS (
      SELECT vec_id,
             (t.j - 1) // {PQ_SUB} AS m,
             (t.j - 1) % {PQ_SUB} AS jj,
             CAST(round(embedding[t.j]::DOUBLE * {_KM_G}) AS BIGINT) AS q
      FROM embeddings, unnest(range(1, len(embedding) + 1)) t(j)),
    seeds AS (
      SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS code
      FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {PQ_K})),
    c0 AS (SELECT e.m, s.code, e.jj, e.q AS c
           FROM ex e JOIN seeds s ON e.vec_id = s.vec_id),
    {",".join(_pq_iter_sql(i) for i in range(1, PQ_ITER + 1))},
    denc AS (SELECT e.vec_id, e.m, c.code,
                    sum((e.q - c.c) * (e.q - c.c)) AS d
             FROM ex e JOIN c{PQ_ITER} c ON e.m = c.m AND e.jj = c.jj
             GROUP BY e.vec_id, e.m, c.code),
    enc AS (SELECT vec_id, m, code FROM (
              SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                           ORDER BY d, code) AS rn
              FROM denc) WHERE rn = 1),
    lut AS (SELECT e.vec_id AS qid, c.m, c.code,
                   sum((e.q - c.c) * (e.q - c.c)) AS lt
            FROM ex e JOIN c{PQ_ITER} c ON e.m = c.m AND e.jj = c.jj
            WHERE e.vec_id < {PQ_NQ}
            GROUP BY 1, 2, 3),
    adc AS (SELECT l.qid, en.vec_id AS cid, CAST(sum(l.lt) AS BIGINT) AS d2
            FROM enc en JOIN lut l ON en.m = l.m AND en.code = l.code
            WHERE en.vec_id != l.qid
            GROUP BY 1, 2)
    SELECT qid, cid, rk, d2 FROM (
      SELECT qid, cid, d2,
             row_number() OVER (PARTITION BY qid ORDER BY d2, cid) AS rk
      FROM adc)
    WHERE rk <= {PQ_TOPK}
"""


def _pq_subvectors(spark: SparkSession, sf: str) -> DataFrame:
    """(vec_id, m, qs): embeddings cut into PQ_M subvectors of PQ_SUB
    integer-microunit coordinates each — the array form keeps subspace
    distances a single zip_with expression (no per-dimension shuffle)."""
    e = load_spread(spark, sf, "embeddings").select("vec_id", "embedding")
    sub = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(m).cast("long").alias("m"),
                    F.transform(
                        F.slice("embedding", m * PQ_SUB + 1, PQ_SUB),
                        lambda x: F.round(x.cast("double") * _KM_G, 0).cast("long"),
                    ).alias("qs"),
                )
                for m in range(PQ_M)
            ]
        )
    )
    return e.select("vec_id", sub.alias("s")).select("vec_id", "s.m", "s.qs")


def _pq_dist(a, b):
    """Exact integer squared L2 between two micro-unit coordinate arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


@q("ann_pq_adc")
def ann_pq_adc(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al., PAMI'11): train per-subspace
    codebooks (PQ_M x PQ_K = 4 x 16, PQ_ITER Lloyd rounds), encode every vector as
    PQ_M one-byte codes, then answer top-k by Asymmetric Distance
    Computation — each query precomputes a PQ_M x PQ_K lookup table of
    exact subspace distances and candidate scoring is a table lookup + sum,
    never a full d-dim float op.

    EVERYTHING runs on the kmeans integer-microunit grid (_KM_G): member
    coordinates snap to BIGINT micro before any sum, so distances, means
    and rankings are exact int64 arithmetic — bit-identical in Spark,
    DuckDB (unrolled-CTE twin) and the numpy recompute, with zero
    float-order sensitivity anywhere.  Subvectors travel as ARRAYS, so a
    subspace distance is one zip_with/aggregate expression per
    (vector, centroid) pair — the Lloyd round is broadcast-join + ONE
    min_by agg, with no per-dimension distance shuffle and no
    assignment join-back (the first cut of this op paid 2 extra
    shuffles per round for exactly the same integers).

    Scale shape: training is O(n*D*K) behind a broadcast of the 64-row
    codebook (production trains on a sample — the plumbing is identical);
    encoding is one broadcast-join pass storing PQ_M bytes/vector (16x
    compression of a float64x64 row); ADC search broadcasts the per-query
    LUT (PQ_NQ x PQ_M x PQ_K rows) and scans codes once — O(n*M) lookups
    per query batch with NO distance recomputation, the FAISS IVFADC
    memory/computation contract.  Every join is key-unique (no skew);
    codebooks coalesce(1) + localCheckpoint per round (<= 64 rows) so the
    plan stays O(1) and each round schedules one task, not
    shuffle.partitions near-empty ones."""
    from pyspark.sql import Window

    ex = _pq_subvectors(spark, sf)
    # the unpartitioned window runs AFTER the limit — it ranks exactly PQ_K
    # rows on one task, so the WindowExec single-partition warning is moot
    seeds = (
        ex.select("vec_id").distinct().orderBy("vec_id").limit(PQ_K)
        .withColumn("code", F.row_number().over(Window.orderBy("vec_id")) - 1)
    )
    cents = (
        ex.join(F.broadcast(seeds), "vec_id")
        .select("m", "code", F.col("qs").alias("cs"))
        .coalesce(1)
        .localCheckpoint()
    )

    def assign_to(c: DataFrame, keep_qs: bool) -> DataFrame:
        """argmin code per (vec_id, m); ties break to the lowest code."""
        d = ex.join(F.broadcast(c), "m").select(
            "vec_id",
            "m",
            "code",
            "qs",
            _pq_dist(F.col("qs"), F.col("cs")).alias("d"),
        )
        val = F.struct("code", "qs") if keep_qs else F.col("code")
        out = d.groupBy("vec_id", "m").agg(
            F.min_by(val, F.struct("d", "code")).alias("a")
        )
        if keep_qs:
            return out.select(
                "vec_id", "m", F.col("a.code").alias("code"), F.col("a.qs").alias("qs")
            )
        return out.select("vec_id", "m", F.col("a").alias("code"))

    for _ in range(PQ_ITER):
        assign = assign_to(cents, keep_qs=True)
        newc = (
            assign.select("m", "code", F.posexplode("qs").alias("jj", "q"))
            .groupBy("m", "code", "jj")
            .agg(
                F.round(F.sum("q").cast("double") / F.count("*"), 0)
                .cast("long")
                .alias("x")
            )
            .groupBy("m", "code")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("jj", "x"))), lambda s: s.x
                ).alias("cn")
            )
        )
        cents = (
            cents.join(newc, ["m", "code"], "left")
            .select("m", "code", F.coalesce("cn", "cs").alias("cs"))
            .coalesce(1)
            .localCheckpoint()
        )
    enc = assign_to(cents, keep_qs=False)
    lut = (
        ex.where(F.col("vec_id") < PQ_NQ)
        .join(F.broadcast(cents), "m")
        .select(
            F.col("vec_id").alias("qid"),
            "m",
            "code",
            _pq_dist(F.col("qs"), F.col("cs")).alias("lt"),
        )
    )
    adc = (
        enc.join(F.broadcast(lut), ["m", "code"])
        .where(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", F.col("vec_id").alias("cid"))
        .agg(F.sum("lt").alias("d2"))
    )
    w = Window.partitionBy("qid").orderBy("d2", "cid")
    return (
        adc.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= PQ_TOPK)
        .select("qid", "cid", "rk", "d2")
    )


# ---------------------------------------------- embedding drift monitor
ORACLE["emb_drift_check"] = """
    WITH g AS (
      SELECT CASE WHEN substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) < '8'
                  THEN 'a' ELSE 'b' END AS grp,
             embedding
      FROM embeddings),
    d AS (
      SELECT grp, j - 1 AS dim,
             CAST(round(CAST(embedding[j] AS DOUBLE) * 1000000) AS BIGINT)
               AS vc
      FROM g, unnest(range(1, len(embedding) + 1)) t(j)),
    m AS (
      SELECT grp, dim,
             CAST(round(CAST(sum(vc) AS DOUBLE) / count(*)) AS BIGINT)
               AS mean_micro
      FROM d GROUP BY grp, dim)
    SELECT a.dim, a.mean_micro AS mean_a, b.mean_micro AS mean_b,
           abs(a.mean_micro - b.mean_micro) AS shift_micro
    FROM m a JOIN m b USING (dim)
    WHERE a.grp = 'a' AND b.grp = 'b'
"""


@q("emb_drift_check")
def emb_drift_check(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-distribution drift monitor — the data-quality check a
    production embedding pipeline runs between two corpus slices (old
    model vs new, last week vs this week): per-dimension mean shift.
    Slices here are an md5 split of vec_id (the doc_split_assign
    device), so the comparison is deterministic with no fixture.

    Parity device: components land on the x1e6 integer grid (float32 ->
    float64 is exact, one round), per-(slice, dim) sums are exact
    BIGINTs, and each mean is one correctly-rounded division — the
    kmeans/centroid integer-grid family, immune to summation order.

    Scale shape: posexplode fans each vector into d rows, but map-side
    partial aggregation collapses them to (2 * d) rows per task before
    the shuffle — the exchange is model-sized, not corpus-sized; the
    final a/b self-join runs on 2*d rows (metadata)."""
    g = load_spread(spark, sf, "embeddings").select(
        F.when(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1) < "8", "a")
        .otherwise("b")
        .alias("grp"),
        "embedding",
    )
    d = g.select(
        "grp", F.posexplode("embedding").alias("dim", "v")
    ).select(
        "grp",
        "dim",
        F.round(F.col("v").cast("double") * 1000000).cast("long").alias("vc"),
    )
    m = d.groupBy("grp", "dim").agg(
        F.round(F.sum("vc") / F.count("*")).cast("long").alias("mean_micro")
    )
    a = m.where(F.col("grp") == "a").select("dim", F.col("mean_micro").alias("mean_a"))
    b = m.where(F.col("grp") == "b").select("dim", F.col("mean_micro").alias("mean_b"))
    return a.join(b, "dim").select(
        "dim",
        "mean_a",
        "mean_b",
        F.abs(F.col("mean_a") - F.col("mean_b")).alias("shift_micro"),
    )


# --- exact covariance via one-pass GEMM (round 5g) ----------------------------
COV_GRID = 1_000_000  # the kmeans/drift x1e6 integer grid


def _cov_sql(g_sql: str) -> str:
    """The exact-covariance oracle parameterized over the integer-grid
    row source (g must yield one BIGINT-list column xi of length DIM) —
    shared by emb_covariance (raw grid) and emb_pca_power (spiked grid)."""
    return f"""
    WITH g AS ({g_sql}),
    n AS (SELECT count(*) AS n FROM g),
    s AS (
      SELECT k.k AS k, CAST(sum(xi[k.k]) AS BIGINT) AS sv
      FROM g, range(1, {DIM} + 1) k(k) GROUP BY k.k),
    p AS (
      SELECT i.i AS i, j.j AS j, CAST(sum(xi[i.i] * xi[j.j]) AS BIGINT) AS sxy
      FROM g, range(1, {DIM} + 1) i(i), range(1, {DIM} + 1) j(j)
      WHERE j.j >= i.i
      GROUP BY i.i, j.j)
    SELECT p.i, p.j, n.n AS n, p.sxy AS sxy_grid,
           -- + 0.0 collapses IEEE -0.0 to +0.0 (both engines) so the
           -- driver's string/value hash cannot see a signed-zero split
           round(CAST(p.sxy AS DOUBLE) / n.n / {COV_GRID * COV_GRID}.0
                 - (CAST(si.sv AS DOUBLE) / n.n / {COV_GRID}.0)
                   * (CAST(sj.sv AS DOUBLE) / n.n / {COV_GRID}.0), 4)
           + 0.0 AS cov
    FROM p
    JOIN s si ON si.k = p.i
    JOIN s sj ON sj.k = p.j
    CROSS JOIN n
"""


_COV_G_RAW = f"""
      SELECT list_transform(embedding,
               v -> CAST(round(CAST(v AS DOUBLE) * {COV_GRID}) AS BIGINT)) AS xi
      FROM embeddings"""

ORACLE["emb_covariance"] = _cov_sql(_COV_G_RAW)


@q("emb_covariance")
def emb_covariance(spark: SparkSession, sf: str) -> DataFrame:
    """Exact d x d covariance matrix of the embedding corpus — the
    statistics pass PCA / whitening / drift analysis starts from.  One
    distributed GEMM: each Arrow batch computes X'^T X' where X' is the
    integer-grid matrix with a constant GRID column appended, so a single
    (d+1)^2 partial per batch simultaneously carries sum(xi*xj),
    GRID*sum(xi) (the constant-column cross terms), and n*GRID^2 (the
    corner) — cross-moments, means, and count in ONE pass, Chan et al.'s
    textbook trick.

    Parity device: components land on the x1e6 integer grid (float32 ->
    double exact, one round), every partial is an exact int64 (|xi| <=
    1e6 so xi*xj <= 1e12/row).  Two bounds, stated exactly (r05 review —
    the earlier "< 2^53" claim was arithmetically false): (1) the summed
    moments pass 2^53 already at ~1e4 rows, so the closing double
    conversion is correctly-ROUNDED, not exact — but both engines
    convert the SAME exact integer and IEEE conversion of equal integers
    is identical, so cross-engine parity holds bit-for-bit regardless;
    (2) the int64 moment (and the BIGINT sxy_grid output column) holds
    ~9e6 rows per moment before overflowing — loudly, under ANSI — at
    which point the production shape is per-shard moment matrices merged
    with Chan et al.'s pairwise update, not a wider single sum.  The
    final covariance is one identical double expression on both engines
    — the summation-order immunity of the kmeans/drift integer-grid
    family.

    Scale shape: the shuffle carries (d+1)(d+2)/2 rows PER BATCH (model-
    sized, ~2 k for d=64), never corpus rows; partial aggregation combines
    map-side; the three final joins run on metadata-sized tables.  At
    10^10 vectors the plan is scan -> Arrow GEMM -> tiny agg: the optimal
    distributed moment computation."""
    e = load_spread(spark, sf, "embeddings").select(
        F.transform(
            "embedding",
            lambda v: F.round(v.cast("double") * COV_GRID).cast("long"),
        ).alias("xi")
    )
    return _cov_frame(e)


def _cov_frame(e: DataFrame) -> DataFrame:
    """Spark twin of _cov_sql: the emb_covariance GEMM over any prepared
    integer-grid frame (one BIGINT-array column xi of length DIM) —
    shared with emb_pca_power's spiked grid."""
    import numpy as np
    import pandas as pd

    d = DIM

    def gemm(batches):
        iu = np.triu_indices(d + 1)
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["xi"].values).astype("int64")
            X = np.hstack(
                [X, np.full((X.shape[0], 1), COV_GRID, dtype="int64")]
            )
            S = X.T @ X
            yield pd.DataFrame(
                {
                    "i": iu[0].astype("int32"),
                    "j": iu[1].astype("int32"),
                    "s": S[iu],
                }
            )

    tot = (
        e.mapInPandas(gemm, "i int, j int, s long")
        .groupBy("i", "j")
        .agg(F.sum("s").alias("s"))
    )
    n_df = tot.where((F.col("i") == d) & (F.col("j") == d)).select(
        (F.col("s") / (COV_GRID * COV_GRID)).cast("long").alias("n")
    )
    sums = tot.where((F.col("j") == d) & (F.col("i") < d)).select(
        (F.col("i") + 1).alias("k"),
        (F.col("s") / COV_GRID).cast("long").alias("sv"),
    )
    pairs = tot.where((F.col("i") < d) & (F.col("j") < d)).select(
        (F.col("i") + 1).alias("i"), (F.col("j") + 1).alias("j"), "s"
    )
    si = sums.select(F.col("k").alias("ki"), F.col("sv").alias("svi"))
    sj = sums.select(F.col("k").alias("kj"), F.col("sv").alias("svj"))
    return (
        pairs.join(F.broadcast(si), pairs.i == si.ki)
        .join(F.broadcast(sj), pairs.j == sj.kj)
        .crossJoin(F.broadcast(n_df))
        .select(
            "i",
            "j",
            "n",
            F.col("s").alias("sxy_grid"),
            (
                F.round(
                    F.col("s").cast("double") / F.col("n") / float(COV_GRID) ** 2
                    - (F.col("svi").cast("double") / F.col("n") / COV_GRID)
                    * (F.col("svj").cast("double") / F.col("n") / COV_GRID),
                    4,
                )
                + F.lit(0.0)  # collapse IEEE -0.0 (see oracle comment)
            ).alias("cov"),
        )
    )


# --- PCA top component via power iteration ---------------------------------
# The consumer half of emb_covariance: the dominant principal direction,
# computed with PCA_ROUNDS unrolled power iterations entirely on integer
# grids so the iterate is bit-identical across engines (the kmeans / HITS
# device applied to linear algebra).
#
# The fixture embeddings are zero-mean isotropic (covariance eigengap
# ratio ~0.93 — a power method would need ~30 rounds), so the op plants a
# deterministic rank-1 spike before the moment pass — the md5-synthesized
# -defect device of vocab_spell_correct / doc_c4_clean applied to linear
# algebra: x' = x + a*w with a = ((vec_id % 7) - 3) * 0.5 and
# w_k = -1 if k % 3 == 0 else +1.  The spiked covariance has eigengap
# ratio ~4e-4 on the fixture, so PCA_ROUNDS=4 CONVERGES (the pytest pins
# recovery of the planted direction at |cos| > 0.999, the
# link_components convergence-proof policy), and ground truth is known
# by construction.
PCA_ROUNDS = 4
PCA_GRID = 1_000_000


def _pca_g_spiked(cols: str = "") -> str:
    """Spiked integer-grid scan, optionally carrying extra lead columns —
    parameterized instead of post-hoc string surgery (the graph.py
    seed-composition lesson: a .replace() on oracle text is a silent
    no-op once the anchor drifts)."""
    return f"""
      SELECT {cols}list_transform(embedding,
               (v, k) -> CAST(round((CAST(v AS DOUBLE)
                                     + ((vec_id % 7) - 3) * 0.5
                                       * (CASE WHEN k % 3 = 0
                                               THEN -1 ELSE 1 END))
                                    * {COV_GRID}) AS BIGINT)) AS xi
      FROM embeddings"""


_PCA_G_SPIKED = _pca_g_spiked()

# Spark twin of _pca_g_spiked — ONE definition consumed by both
# emb_pca_power and emb_pca_project (previously duplicated 13 lines;
# tuning the spike in one copy would silently desynchronize the other).
# A function, not a module constant: Column construction needs an active
# SparkContext, which does not exist at import time.
def _spiked_xi():
    return F.transform(
        "embedding",
        lambda v, i: F.round(
            (
                v.cast("double")
                + (F.col("vec_id") % 7 - 3)
                * 0.5
                * F.when((i + 1) % 3 == 0, -1.0).otherwise(1.0)
            )
            * COV_GRID
        ).cast("long"),
    )

# seed-free shared prefix: covariance + grid rescale + unrolled power
# iterations; each consumer appends its own final SELECT
_PCA_ITER_SQL = (
    f"""
    WITH cov AS ({_cov_sql(_PCA_G_SPIKED)}),
    full_c AS (
      SELECT i, j, cov FROM cov
      UNION ALL
      SELECT j AS i, i AS j, cov FROM cov WHERE j > i),
    mx AS (SELECT max(abs(cov)) AS m FROM full_c),
    c AS (SELECT i, j,
                 CAST(round(cov / m * {PCA_GRID}) AS BIGINT) AS c
          FROM full_c CROSS JOIN mx),
    v0 AS (SELECT k.k AS k, CAST({PCA_GRID} AS BIGINT) AS v
           FROM range(1, {DIM} + 1) k(k))
"""
    + ","
    + ",".join(
        f"""
  u{r} AS (SELECT c.i AS k, sum(c.c * v.v) AS u
           FROM c JOIN v{r - 1} v ON v.k = c.j GROUP BY c.i),
  m{r} AS (SELECT max(abs(u)) AS m FROM u{r}),
  v{r} AS (SELECT k, CAST(round(CAST(u AS DOUBLE) / m * {PCA_GRID}) AS BIGINT)
                  AS v
           FROM u{r} CROSS JOIN m{r})
"""
        for r in range(1, PCA_ROUNDS + 1)
    )
)

ORACLE["emb_pca_power"] = (
    _PCA_ITER_SQL
    + f"""
    SELECT k, v AS comp FROM v{PCA_ROUNDS}
"""
)


@q("emb_pca_power")
def emb_pca_power(spark: SparkSession, sf: str) -> DataFrame:
    """Dominant principal direction of the (spike-planted) embedding
    corpus: PCA_ROUNDS power iterations v <- C v on the exact covariance
    matrix, the consumer half of emb_covariance (PCA projection /
    whitening both start from this vector).  The deterministic rank-1
    spike (see the module comment above _PCA_G_SPIKED) gives the fixture
    a real dominant direction, so the fixed trip count provably CONVERGES
    and the pytest checks recovery of the planted ground truth.

    Parity device (kmeans/HITS applied to linear algebra): the covariance
    enters on emb_covariance's hash-matched rounded-grid form; it is
    rescaled once to the x1e6 integer grid (elementwise double ops on
    bit-equal inputs), and every iteration is then [exact int64 matvec
    (|c|,|v| <= 1e6 so each product <= 1e12, the d=64 row sum <= 6.4e13
    — exact) -> elementwise renormalize by max|u| back onto the grid].
    No sum of doubles ever occurs, so summation order cannot shift a bit;
    the output is pure integers.  Renormalizing by max|.| instead of the
    L2 norm keeps the iterate rational (no sqrt) — scale is irrelevant to
    the power method's fixed direction.

    Scale shape: C is model-sized (d^2 rows) — the iteration runs on
    broadcast-trivial tables; the ONLY corpus-sized work is the one
    emb_covariance GEMM pass that produced C.  At 10^10 vectors this is
    exactly how you'd do it: one distributed moment pass, then O(d^2)
    iterations anywhere.  The scalar max|u| rides a crossJoin(broadcast)
    like emb_covariance's n — never a collect."""
    e = load_spread(spark, sf, "embeddings").select(_spiked_xi().alias("xi"))
    cov = _cov_frame(e).select("i", "j", "cov")
    full_c = cov.unionAll(
        cov.where(F.col("j") > F.col("i")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "cov"
        )
    )
    mx = full_c.agg(F.max(F.abs("cov")).alias("m"))
    c = (
        full_c.crossJoin(F.broadcast(mx))
        .select(
            "i",
            "j",
            F.round(F.col("cov") / F.col("m") * PCA_GRID).cast("long").alias("c"),
        )
        # model-sized (d^2 rows): collapse to ONE partition before the
        # iteration so each matvec round is a single local task instead of
        # a 64-partition shuffle of 4096 rows (the PQ-codebook device —
        # at any corpus scale C stays d^2, so this never un-distributes
        # real work; the corpus-sized GEMM above keeps full parallelism)
        .coalesce(1)
        .localCheckpoint()  # one GEMM pass feeds every round
    )
    v = spark.range(1, DIM + 1).select(
        F.col("id").alias("k"), F.lit(PCA_GRID).cast("long").alias("v")
    )
    for _ in range(PCA_ROUNDS):
        u = (
            # v is d rows — ALWAYS broadcast: without the hint Catalyst
            # has no stats for the derived iterate and plans a per-round
            # SortMergeJoin + two exchanges of the d^2 matrix.  At this
            # size the wall is the same (~1 s for 4 rounds either way,
            # measured sf0.1), but the broadcast shape is the one that
            # holds if d grows: the matrix side never re-sorts.
            c.join(F.broadcast(v), c.j == v.k)
            .groupBy(c.i)
            .agg(F.sum(F.col("c") * F.col("v")).alias("u"))
            .select(F.col("i").alias("k"), "u")
        )
        m = u.agg(F.max(F.abs("u")).alias("m"))
        v = u.crossJoin(F.broadcast(m)).select(
            "k",
            F.round(F.col("u").cast("double") / F.col("m") * PCA_GRID)
            .cast("long")
            .alias("v"),
        )
    return v.select("k", F.col("v").alias("comp"))


ORACLE["emb_pca_project"] = (
    _PCA_ITER_SQL
    + f""",
    sp AS (SELECT k, v FROM v{PCA_ROUNDS}),
    rows_g AS ({_pca_g_spiked("vec_id, ")})
    SELECT r.vec_id AS vec_id,
           CAST(sum(r.xi[sp.k] * sp.v) AS BIGINT) AS proj_grid
    FROM rows_g r CROSS JOIN sp
    GROUP BY r.vec_id"""
)


@q("emb_pca_project")
def emb_pca_project(spark: SparkSession, sf: str) -> DataFrame:
    """The consumer half of emb_pca_power: every embedding projected onto
    the recovered principal direction — the 1-D whitening/feature score
    a curation pipeline sorts or buckets by (e.g. ranking docs along the
    dominant topic axis, or splitting a corpus by its first PC).

    Parity: ZERO float surface — the iterate v and the spiked grid xi
    are both exact int64 vectors, so the projection Σ xi[k]·v[k] is an
    exact integer (|xi| <= ~2.2e6 spiked, |v| <= 1e6 → products <=
    2.2e12, the d=64 sum <= 1.5e14 — int64-exact); the output column IS
    the grid value.

    Scale shape: the direction is d rows — broadcast onto the corpus
    scan; the projection is one narrow zip-free aggregate per row
    (posexplode + broadcast join + sum with map-side partials, the
    emb_drift_check exchange shape: the shuffle carries one row per
    (partition, vec_id) — and since vec_id partitions the scan, the
    partial IS the total).  At 10^10 vectors: one pass, model-sized
    broadcast, no self-join anywhere."""
    comp = QUERIES["emb_pca_power"](spark, sf)  # (k, comp) — d rows
    e = load_spread(spark, sf, "embeddings").select(
        "vec_id", _spiked_xi().alias("xi")
    )
    x = e.select("vec_id", F.posexplode("xi").alias("p", "x"))
    return (
        x.join(F.broadcast(comp), x.p + 1 == comp.k)
        .groupBy("vec_id")
        .agg(F.sum(F.col("x") * F.col("comp")).alias("proj_grid"))
    )


# ------------------------------------------- centroid-distance outlier filter
# Embedding-quality gate: vectors far from their label's centroid are
# corrupted (truncated inputs, encoder NaN fallbacks, mixed-up modalities)
# and must be dropped before contrastive training.  The fixture's per-label
# clouds are tight (d2/avg ratios 0.9-1.12), so corruption is synthesized:
# md5(vec_id)-keyed vectors (~1/16) are scaled x3 ON THE INTEGER GRID —
# byte-identical injection on both engines, and the factor-2 threshold then
# separates exactly the injected set at every sf.
OUTLIER_FACTOR = 2


ORACLE["emb_outlier_filter"] = f"""
    WITH g0 AS (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * {COV_GRID}) AS BIGINT))
               AS xi
      FROM embeddings),
    g AS (
      SELECT vec_id, label,
             CASE WHEN CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)),
                                            1, 4)) AS INT) % 16 = 0
                  THEN list_transform(xi, v -> v * 3) ELSE xi END AS xi
      FROM g0),
    d AS (
      SELECT vec_id, label, j - 1 AS dim, xi[j] AS vc
      FROM g, unnest(range(1, len(xi) + 1)) t(j)),
    c AS (
      SELECT label, dim,
             CAST(round(CAST(sum(vc) AS DOUBLE) / count(*)) AS BIGINT) AS mc
      FROM d GROUP BY label, dim),
    dist AS (
      SELECT d.vec_id, d.label,
             CAST(sum((d.vc - c.mc) * (d.vc - c.mc)) AS BIGINT) AS d2
      FROM d JOIN c USING (label, dim) GROUP BY d.vec_id, d.label),
    t AS (
      SELECT label,
             CAST(round(CAST(sum(d2) AS DOUBLE) / count(*)) AS BIGINT)
               AS avg_d2
      FROM dist GROUP BY label)
    SELECT vec_id, label, d2 AS d2_grid, avg_d2 AS avg_d2_grid,
           (d2 > {OUTLIER_FACTOR} * avg_d2) AS is_outlier
    FROM dist JOIN t USING (label)
"""


@q("emb_outlier_filter")
def emb_outlier_filter(spark: SparkSession, sf: str) -> DataFrame:
    """Centroid-distance outlier filter: per-label mean on the x1e6
    integer grid (emb_drift_check's exact-mean device), per-vector exact
    squared L2 distance to its label centroid, flagged when d2 exceeds
    OUTLIER_FACTOR x the label's mean d2.  Every comparison is between
    BIGINTs — zero float parity surface beyond the two correctly-rounded
    means, and both mean numerators are summed pre-widened to
    decimal(38,0) to match the oracle's BIGINT-into-HUGEINT sums (d2 is
    ~4e12/vector on this grid, so a 64-bit Σd2 would overflow past ~2e5
    vectors per label — the events_zscore overflow class).

    Scale shape: centroids come from one posexplode + (label, dim)
    partial agg whose shuffle is model-sized (|labels| x d rows); the
    distance pass is a BROADCAST join of those centroid arrays onto the
    corpus scan followed by one zip_with/aggregate HOF — zero corpus
    shuffle, zero Python; the per-label threshold is another model-sized
    agg broadcast back.  At 100 TB the corpus is touched twice, both
    times as narrow scans."""
    e = load_spread(spark, sf, "embeddings")
    h16 = F.conv(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 4), 16, 10
    ).cast("int")
    xi = F.transform(
        "embedding",
        lambda x: F.round(x.cast("double") * COV_GRID).cast("long"),
    )
    g = e.select(
        "vec_id",
        "label",
        F.when(h16 % 16 == 0, F.transform(xi, lambda v: v * 3))
        .otherwise(xi)
        .alias("xi"),
    ).localCheckpoint()  # injected grid is reused by two passes below
    dec = "decimal(38,0)"
    c = (
        g.select("label", F.posexplode("xi").alias("dim", "vc"))
        .groupBy("label", "dim")
        .agg(
            F.round(
                F.sum(F.col("vc").cast(dec)).cast("double") / F.count("*")
            )
            .cast("long")
            .alias("mc")
        )
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "mc"))),
                lambda s: s["mc"],
            ).alias("centroid")
        )
    )
    dist = g.join(F.broadcast(c), "label").select(
        "vec_id",
        "label",
        F.aggregate(
            F.zip_with("xi", "centroid", lambda x, m: (x - m) * (x - m)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("d2"),
    )
    t = dist.groupBy("label").agg(
        F.round(F.sum(F.col("d2").cast(dec)).cast("double") / F.count("*"))
        .cast("long")
        .alias("avg_d2")
    )
    return dist.join(F.broadcast(t), "label").select(
        "vec_id",
        "label",
        F.col("d2").alias("d2_grid"),
        F.col("avg_d2").alias("avg_d2_grid"),
        (F.col("d2") > OUTLIER_FACTOR * F.col("avg_d2")).alias("is_outlier"),
    )


# --- binarized-embedding Hamming retrieval ---------------------------------
# Sign binarization (1 bit/dim) is the most aggressive embedding
# compression tier shipped by production vector stores (64x smaller than
# float32; Hamming distance approximates angular distance).  Bits pack
# into two BIGINT words of 32 dims each — positions 0..31 per word, so no
# sign-bit hazard — and distance is bit_count(xor) on exact integers:
# ZERO float surface anywhere in the query.
BH_TOPK = 10
BH_QVEC = 0


def _bh_word_sql(col: str, lo: int) -> str:
    return (
        f"list_sum(list_transform(range(1, 33), "
        f"i -> CASE WHEN {col}[CAST(i + {lo} AS INT)] > 0 "
        f"THEN 1::BIGINT << (i - 1) ELSE 0 END))"
    )


@q(
    "emb_hamming_topk",
    f"""
    WITH b AS (
      SELECT vec_id,
             {_bh_word_sql('embedding', 0)} AS w1,
             {_bh_word_sql('embedding', 32)} AS w2
      FROM embeddings),
    qv AS (SELECT w1, w2 FROM b WHERE vec_id = {BH_QVEC}),
    h AS (SELECT b.vec_id AS cid,
                 CAST(bit_count(xor(b.w1, qv.w1))
                      + bit_count(xor(b.w2, qv.w2)) AS BIGINT) AS hamming
          FROM b, qv WHERE b.vec_id != {BH_QVEC}),
    r AS (SELECT cid, hamming,
                 row_number() OVER (ORDER BY hamming, cid) AS rk
          FROM h)
    SELECT cid, hamming, CAST(rk AS INT) AS rk FROM r WHERE rk <= {BH_TOPK}
    """,
)
def emb_hamming_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Binary-quantized nearest neighbors: sign-binarize every embedding
    to 64 bits (two 32-dim BIGINT words), then return the BH_TOPK
    candidates nearest the query vector by Hamming distance — the
    1-bit compression tier below emb_quantize_int8 and ann_pq_adc
    (binary embeddings + Hamming rerank is the production recipe for
    billion-scale first-stage retrieval: 64x smaller than float32 and
    the distance is two XOR+popcounts).

    Parity: the packed words are exact integer sums of distinct powers
    of two (order-independent), Hamming is integer, ties break on cid —
    the entire query has NO float arithmetic, the strongest parity
    class in the similarity family.

    Scale shape: binarization is a stateless zero-shuffle projection
    (at scale it is written once as a 16-byte sidecar column); the
    1-row query packs broadcast and the scan streams candidates
    through XOR+popcount inside codegen; the global top-k is
    TakeOrdered (per-partition heaps, k rows moved) — the
    ann_topk_bruteforce plan with popcount instead of a float dot
    product."""
    from pyspark.sql import Window

    def word(lo: int):
        # shiftleft()'s bit count must be an expression here (it varies per
        # element), so the whole fold is one SQL expression string
        return F.expr(
            "aggregate(transform(sequence(1, 32), i -> "
            f"IF(element_at(embedding, CAST(i + {lo} AS INT)) > 0, "
            "shiftleft(1L, i - 1), 0L)), 0L, (acc, x) -> acc + x)"
        )

    b = load_spread(spark, sf, "embeddings").select(
        "vec_id", word(0).alias("w1"), word(32).alias("w2")
    )
    qv = F.broadcast(
        b.where(F.col("vec_id") == BH_QVEC).select(
            F.col("w1").alias("q1"), F.col("w2").alias("q2")
        )
    )
    hamming = (
        F.bit_count(F.col("w1").bitwiseXOR(F.col("q1")))
        + F.bit_count(F.col("w2").bitwiseXOR(F.col("q2")))
    ).cast("long")
    ranked = (
        b.where(F.col("vec_id") != BH_QVEC)
        .crossJoin(qv)
        .select(F.col("vec_id").alias("cid"), hamming.alias("hamming"))
        .orderBy("hamming", "cid")
        .limit(BH_TOPK)
    )
    w = Window.orderBy("hamming", "cid")
    return ranked.withColumn("rk", F.row_number().over(w).cast("int"))
