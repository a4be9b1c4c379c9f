"""Training-data deduplication operators over the ``documents`` table.

Five families, all scale-first designs:

- exact: content-hash groupBy — one shuffle on the hash, map-side partial
  agg; at 100 TB this is the cheapest pass and runs first.
- n-gram Jaccard: exact pairwise similarity restricted to shingle-sharing
  pairs (the inverted-index join), never all-pairs.
- MinHash + LSH: signature → banded bucket-join; candidate volume is
  O(colliding pairs), independent of corpus²; signatures are computed by
  ONE Arrow-vectorized numpy pass per permutation (no per-element Python,
  JVM twin kept as the semantics oracle).
- SimHash: 64-bit fingerprint + banded Hamming candidate join.
- cluster resolution: dup-pair edges → connected components via the
  SoCC'14 alternating star algorithm (O(log n) rounds), then the
  anti-join survivor list.

Jaccard/exact/clusters/keep-list have DuckDB oracles (same shingle
construction on both sides; components via recursive-CTE closure);
MinHash/SimHash are rows-only for the driver and are instead pinned by
tests/test_pipeline_ops.py (candidate set ⊇ truly-similar pairs).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from analytics.common import load, load_spread, registry

QUERIES, ORACLE, q = registry()


# ------------------------------------------------------------- exact dedup
@q(
    "dedup_exact",
    """
    SELECT md5(text) AS content_hash, count(*) AS n_docs, min(doc_id) AS keep_doc
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup: hash-groupBy, keep the min doc_id as representative."""
    d = load(spark, sf, "documents")
    return d.groupBy(F.md5("text").alias("content_hash")).agg(
        F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc")
    )


# ------------------------------------------------- shared shingle pipeline
def _shingle_arrays(spark: SparkSession, sf: str) -> DataFrame:
    """(doc_id, shingles: array<string>) — distinct word-trigram shingles
    per doc as a LOCAL array column.

    Trigram construction is a purely local array operation: transform over
    word indexes + array_distinct stays inside WholeStageCodegen with ZERO
    shuffle (the r01 version's posexplode + lead() window forced a per-doc
    sort shuffle plus a global distinct shuffle for the same rows — the
    kind of plan that dies first at 100x corpus scale).  The DuckDB oracle
    keeps the window formulation; both produce the same distinct
    (doc_id, shingle) set."""
    return _trigram_words(load_spread(spark, sf, "documents")).select(
        "doc_id", F.array_distinct(_tri_expr()).alias("shingles")
    )


def _trigram_words(corpus: DataFrame) -> DataFrame:
    """(doc_id, text) -> (doc_id, ws) word-array stage shared by every
    trigram consumer (r05 review: the split-CSE fix below lived only in
    containment's private copy while five queries paid double).

    The word array is materialized as a COLUMN before the trigram HOF:
    the interpreted lambda does not CSE an inlined split(text), so
    element_at(split(text), i) re-splits the doc per element — measured
    2x on the build (0.58 s -> 0.29 s at sf0.1 in containment; 8.6 s ->
    4.4 s on dedup_ngram_jaccard through this shared path).

    Docs with <3 words are pre-filtered BEFORE the build: they have no
    trigrams, so dropping them is semantics-preserving for every
    consumer (explode drops empty arrays; minhash skips empty docs), and
    the filter must stay CHEAP — Catalyst pushes it below load_spread's
    repartition, while the r03 formulation (a downstream
    where(size(shingles) > 0)) dragged the whole interpreted trigram
    build onto the single-file scan partition, serializing it (measured
    3.5 s of dedup_minhash_lsh's 8 s sf0.1 wall)."""
    return corpus.select("doc_id", F.split("text", " ").alias("ws")).where(
        F.size("ws") >= 3
    )


def _tri_expr():
    """Distinct word-trigram expression over the materialized ws column."""
    return F.transform(
        F.sequence(F.lit(1), F.size("ws") - 2),
        lambda i: F.concat_ws(
            " ",
            F.element_at(F.col("ws"), i),
            F.element_at(F.col("ws"), i + 1),
            F.element_at(F.col("ws"), i + 2),
        ),
    )


def _trigram_shingles(corpus: DataFrame) -> DataFrame:
    """(doc_id, text) -> exploded (doc_id, n, shingle) rows, n = the doc's
    distinct-shingle count.  Carrying the set size on every row lets the
    index join's aggregate read |A| and |B| with first(): no per-doc sizes
    table reads the shingle rows a third time, and none is joined back.

    The distinct array is projected ONCE and size() + explode read that
    column (the two-reference project is not collapsed, so the trigram
    build runs once per doc).  explode_OUTER, because the inner explode of
    a column ref triggers Catalyst's InferFiltersFromGenerate, which pushes
    size(col) > 0 AND isnotnull(col) into the scan Filter — duplicating the
    interpreted trigram build per row (measured 2.4 s -> 7 s on
    dedup_containment).  The outer form emits nothing extra here:
    _trigram_words already dropped every doc without a trigram.

    Consumers must not group by n: Catalyst then infers
    isnotnull(size(array_distinct(...))) and pushes it below load_spread's
    repartition, serializing the trigram build on the scan partition
    (measured 6.3-6.8 s against 2.2 s on dedup_ngram_jaccard at sf0.1,
    local[4])."""
    return (
        _trigram_words(corpus)
        .select("doc_id", F.array_distinct(_tri_expr()).alias("sh"))
        .select("doc_id", F.size("sh").alias("n"), "sh")
        .select("doc_id", "n", F.explode_outer("sh").alias("shingle"))
    )


def _pair_counts(shd: DataFrame) -> DataFrame:
    """Inverted-index self-join of (doc_id, n, shingle) rows: one row per
    ordered doc pair d1 < d2 sharing >= 1 shingle, with n_common and both
    set sizes n1, n2.  Only shingle-sharing pairs ever materialize (never
    all-pairs), and the count partial-aggregates map-side."""
    a, b = shd.alias("a"), shd.alias("b")
    return (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(
            F.count("*").alias("n_common"),
            F.first("a.n").alias("n1"),
            F.first("b.n").alias("n2"),
        )
    )


_SHINGLES_SQL = """
  w AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word,
           generate_subscripts(string_split(text, ' '), 1) AS idx
    FROM documents),
  sh AS (
    SELECT doc_id,
           word || ' ' || lead(word, 1) OVER win || ' ' || lead(word, 2) OVER win
             AS shingle
    FROM w WINDOW win AS (PARTITION BY doc_id ORDER BY idx)),
  shd AS (SELECT DISTINCT doc_id, shingle FROM sh WHERE shingle IS NOT NULL)
"""


@q(
    "dedup_ngram_jaccard",
    f"""
    WITH {_SHINGLES_SQL},
    sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_common
      FROM shd a JOIN shd b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT d1, d2,
           round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = d1
    JOIN sizes sb ON sb.doc_id = d2
    WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.12
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Exact trigram-Jaccard near-dup pairs via the inverted-index join —
    only pairs sharing ≥1 shingle are ever materialized (never all-pairs),
    which is the property that survives a 100× corpus scale-up."""
    inter = _pair_counts(_trigram_shingles(load_spread(spark, sf, "documents")))
    jac = F.col("n_common").cast("double") / (F.col("n1") + F.col("n2") - F.col("n_common"))
    return inter.where(jac >= 0.12).select("d1", "d2", F.round(jac, 4).alias("jaccard"))


# ------------------------------------------------------------ MinHash + LSH
N_PERM = 64
N_BANDS = 16
ROWS_PER_BAND = N_PERM // N_BANDS
_MERSENNE = (1 << 31) - 1


def _perm_coeffs() -> list[tuple[int, int]]:
    """Deterministic (a, b) permutation coefficients (seed 42)."""
    import random

    rng = random.Random(42)
    return [(rng.randrange(1, _MERSENNE), rng.randrange(0, _MERSENNE)) for _ in range(N_PERM)]


def _hashed_shingles(shingle_arrays: DataFrame) -> DataFrame:
    """(doc_id, hs: array<long>) — xxhash64 of each distinct shingle,
    mapped into [0, 2^31-1).  Local, zero-shuffle, JVM-side.

    No empty-array filter here: _shingle_arrays already drops <3-word docs
    with a cheap pre-build predicate, and re-filtering on the built array
    would be pushed below the spread repartition and serialize the trigram
    build (see _shingle_arrays).  The Arrow UDF keeps a per-row fallback
    as defense if a caller ever feeds empty arrays."""
    return shingle_arrays.select(
        "doc_id",
        F.expr(f"transform(shingles, s -> pmod(xxhash64(s), {_MERSENNE}L))").alias("hs"),
    )


# 64-bit odd multiplier (golden-ratio constant) for the per-band polynomial
# hash over the band's ROWS_PER_BAND signature minima — computed inside the
# same Arrow pass as the signatures themselves (uint64 wraparound), replacing
# the r03 JVM formulation (16 × xxhash64(concat_ws(element_at...)) — an
# interpreted per-band, per-row expression that measured ~27% of the query).
# Band semantics are unchanged: equal hash ⟺ equal 4-tuple (mod ~2^-64
# collisions); tests pin bands == hash(sig slice) independently.
_BAND_MULT = 0x9E3779B97F4A7C15


def _band_hashes_np(mins: "np.ndarray") -> "np.ndarray":
    """mins: uint64[N_PERM, n_docs] → int64[N_BANDS, n_docs] band hashes."""
    with np.errstate(over="ignore"):
        k = np.uint64(_BAND_MULT)
        out = np.empty((N_BANDS, mins.shape[1]), dtype=np.uint64)
        for b in range(N_BANDS):
            h = np.zeros(mins.shape[1], dtype=np.uint64)
            for r in range(ROWS_PER_BAND):
                h = h * k + mins[b * ROWS_PER_BAND + r]
            out[b] = h
    return out.astype(np.int64)


def minhash_signatures_banded(shingle_arrays: DataFrame) -> DataFrame:
    """(doc_id, shingles) → (doc_id, sig: array<long>[N_PERM],
    bands: array<long>[N_BANDS]) — signatures AND per-band LSH bucket
    hashes in ONE Arrow pass (see :func:`minhash_signatures`)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    coeffs = _perm_coeffs()
    a_vec = np.array([a for a, _ in coeffs], dtype=np.uint64)
    b_vec = np.array([b for _, b in coeffs], dtype=np.uint64)
    out_t = StructType(
        [
            StructField("sig", ArrayType(LongType())),
            StructField("bands", ArrayType(LongType())),
        ]
    )

    def _row_fallback(arr) -> tuple[list[int], list[int]] | None:
        # degenerate batches (an empty shingle array slipped through) fall
        # back per-row; caller filters empties so this is cold
        if not len(arr):
            return None
        # same uint64 wrap-cast as the vectorized path (r05 review: this
        # referenced an undefined name, so the documented defense could
        # only ever NameError — now pinned by a direct pytest)
        h64 = np.asarray(arr, dtype=np.uint64)
        sig = [
            int(((a * h64 + b) % np.uint64(_MERSENNE)).min())
            for a, b in zip(a_vec, b_vec)
        ]
        m = _band_hashes_np(
            np.asarray(sig, dtype=np.uint64).reshape(N_PERM, 1)
        )[:, 0]
        return sig, [int(x) for x in m]

    @pandas_udf(out_t)
    def sig_udf(hs: pd.Series) -> pd.DataFrame:
        lens = hs.map(len).to_numpy()
        if len(lens) == 0 or (lens == 0).any():
            pairs = hs.map(_row_fallback)
            return pd.DataFrame(
                {
                    "sig": pairs.map(lambda p: p and p[0]),
                    "bands": pairs.map(lambda p: p and p[1]),
                }
            )
        flat = np.concatenate([np.asarray(x, dtype=np.uint64) for x in hs])
        offsets = np.concatenate(([0], np.cumsum(lens)[:-1]))
        mins = np.empty((len(coeffs), len(lens)), dtype=np.uint64)
        m = np.uint64(_MERSENNE)
        for i in range(len(coeffs)):
            mins[i] = np.minimum.reduceat((a_vec[i] * flat + b_vec[i]) % m, offsets)
        bands = _band_hashes_np(mins)
        sig_i64 = mins.astype(np.int64)
        return pd.DataFrame(
            {
                "sig": list(sig_i64.T),
                "bands": list(bands.T),
            }
        )

    return _hashed_shingles(shingle_arrays).select(
        "doc_id", sig_udf("hs").alias("sb")
    ).select(
        "doc_id", F.col("sb.sig").alias("sig"), F.col("sb.bands").alias("bands")
    )


def minhash_signatures(shingle_arrays: DataFrame) -> DataFrame:
    """(doc_id, shingles: array<string>) → (doc_id, sig: array<long>[N_PERM]).

    Two stages, both per-doc LOCAL (zero shuffle):
      1. JVM: xxhash64 each distinct shingle once into a per-doc hash
         array (``_hashed_shingles``);
      2. Arrow: the 64 universal-hash minima via ONE vectorized pandas UDF
         — each permutation is a single numpy pass (a*h + b mod 2^31-1;
         products < 2^62, exact in uint64) over the batch's concatenated
         hash array followed by a per-doc segmented min
         (``np.minimum.reduceat``), i.e. 64 flat vector ops per Arrow
         batch and NO per-element Python.

    Why not Catalyst HOFs for stage 2: higher-order functions are
    interpreted per element (no WholeStageCodegen inside the lambda), and
    64 ``array_min(transform(...))`` passes measured ~6 s for 5 k docs on
    32 cores — ~50× the arithmetic cost.  The equivalent native-expression
    form is kept as ``minhash_signatures_native`` and pinned equal by
    tests/test_pipeline_ops.py, so the Arrow path is semantics-checked
    against the pure-JVM one.  Docs with zero shingles get no signature
    row (same contract as the exploded formulation).

    Single implementation lives in :func:`minhash_signatures_banded` (one
    Arrow pass also emits the per-band LSH hashes); this projection keeps
    the historical (doc_id, sig) surface for the parity/plan-shape tests.
    """
    return minhash_signatures_banded(shingle_arrays).select("doc_id", "sig")


def minhash_signatures_native(shingle_arrays: DataFrame) -> DataFrame:
    """Pure-JVM twin of ``minhash_signatures`` (64 array_min(transform)
    passes as ONE parsed expression — not 64 ``F.transform`` lambdas, whose
    py4j round-trips measured 19.4 s plan build vs 1.8 s parsed).  ~50×
    slower per row than the Arrow path (interpreted HOF lambdas), kept as
    the semantics oracle for the parity test."""
    sig_expr = (
        "array("
        + ",".join(
            f"array_min(transform(hs, h -> pmod({a}L*h+{b}L, {_MERSENNE}L)))"
            for (a, b) in _perm_coeffs()
        )
        + ")"
    )
    return _hashed_shingles(shingle_arrays).select("doc_id", F.expr(sig_expr).alias("sig"))


@q("dedup_minhash_lsh")
def dedup_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash(64) + LSH(16 bands × 4): candidate pairs + signature-estimated
    Jaccard.  Scale path of dedup_ngram_jaccard: bucket-join volume is
    O(collisions), not O(n²); the exact verifier then runs only on
    candidates.  Rows-only for the driver (bucketed-candidate recall is
    asserted vs exact Jaccard in tests/test_pipeline_ops.py).

    The 512-byte signature arrays are joined back ONCE, not once per pair
    side (the r03/r04 shape): each candidate pair unpivots into two
    (d1, d2, slot, doc_id) probe rows, ONE equi-join against the signature
    table attaches each doc's sig, and a (d1, d2) re-group pivots the two
    slots back into (sig1, sig2).  At web scale the signature table is the
    corpus-sized side (n_docs × 64 longs — never broadcastable), so
    scanning/shuffling it once instead of twice halves the dominant join
    input; the probe rows and the sig-carrying regroup are both
    O(candidates), which LSH keeps ≪ n_docs.

    The signature table feeds both the band join and the join-back, so it
    is cut once with an eager ``localCheckpoint`` (one Arrow pass): unlike
    a persist, the cut registers no plan-matched cache entry that a later
    call over a rewritten input would be served from."""
    sigs = minhash_signatures_banded(_shingle_arrays(spark, sf)).localCheckpoint()
    bands = sigs.select(
        "doc_id", F.posexplode("bands").alias("band_id", "band_hash")
    )
    a, b = bands.alias("a"), bands.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )
    sides = cands.select(
        "d1", "d2", F.explode(F.array(F.lit(1), F.lit(2))).alias("slot")
    ).withColumn(
        "doc_id", F.when(F.col("slot") == 1, F.col("d1")).otherwise(F.col("d2"))
    )
    paired = (
        sides.join(sigs.select("doc_id", "sig"), "doc_id")
        .groupBy("d1", "d2")
        .agg(
            F.first(F.when(F.col("slot") == 1, F.col("sig")), ignorenulls=True).alias(
                "sig1"
            ),
            F.first(F.when(F.col("slot") == 2, F.col("sig")), ignorenulls=True).alias(
                "sig2"
            ),
        )
    )
    est = (
        F.size(F.filter(F.zip_with("sig1", "sig2", lambda x, y: x == y), lambda v: v))
        / float(N_PERM)
    )
    return paired.select("d1", "d2", F.round(est, 4).alias("est_jaccard"))


# ----------------------------------------------------------------- SimHash
@q("dedup_simhash")
def dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash(64) near-dup: per-word xxhash64 → bitwise majority vote →
    two 32-bit halves (no 64-bit overflow under ANSI) → 4×16-bit banded
    candidate join → exact Hamming ≤ 6 filter.  All JVM-side.

    The fingerprint is fully LOCAL (same design move as
    minhash_signatures): ONE ``aggregate`` pass over the doc's word-hash
    array carries a 64-slot vote accumulator (``transform`` with index
    extracts each bit), so nothing shuffles until the (doc_id, fp) rows —
    the r02 version exploded to (doc, word) rows and ran a 64-column sum
    hash aggregation, a full corpus shuffle for a per-doc computation.
    Built as one parsed expression (py4j-lambda plan-build cost, see
    minhash_signatures).  The fingerprints feed the band join and both
    join-backs, so they are cut once with an eager ``localCheckpoint``
    (see dedup_minhash_lsh)."""
    d = load_spread(spark, sf, "documents")
    votes_expr = (
        "aggregate(transform(split(text, ' '), w -> xxhash64(w)), "
        "array_repeat(0L, 64), "
        "(acc, h) -> transform(acc, (v, i) -> "
        "v + CAST(shiftrightunsigned(h, i) & 1 AS BIGINT) * 2L - 1L))"
    )
    lo_expr = "+".join(f"IF(votes[{j}] > 0, {1 << j}L, 0L)" for j in range(32))
    hi_expr = "+".join(f"IF(votes[{j + 32}] > 0, {1 << j}L, 0L)" for j in range(32))
    fp = (
        d.select("doc_id", F.expr(votes_expr).alias("votes"))
        .select(
            "doc_id",
            F.expr(lo_expr).alias("sim_lo"),
            F.expr(hi_expr).alias("sim_hi"),
        )
        .localCheckpoint()
    )
    # 4 bands of 16 bits each (2 per half): near-dups (Hamming<=6) must
    # collide on >=1 band only if <=3 differing bands — banded recall is
    # probabilistic for 4..6 bit flips spread across all bands; candidates
    # are then exactly verified.
    chunks = [
        F.shiftrightunsigned(F.col(half), s).bitwiseAND(F.lit(0xFFFF))
        for half in ("sim_lo", "sim_hi")
        for s in (0, 16)
    ]
    bands = fp.select(
        "doc_id", F.posexplode(F.array(*chunks)).alias("band_id", "chunk")
    )
    a, b = bands.alias("a"), bands.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )
    f1 = fp.select(F.col("doc_id").alias("d1"), F.col("sim_lo").alias("lo1"), F.col("sim_hi").alias("hi1"))
    f2 = fp.select(F.col("doc_id").alias("d2"), F.col("sim_lo").alias("lo2"), F.col("sim_hi").alias("hi2"))
    hamming = F.bit_count(F.col("lo1").bitwiseXOR(F.col("lo2"))) + F.bit_count(
        F.col("hi1").bitwiseXOR(F.col("hi2"))
    )
    return (
        cands.join(f1, "d1")
        .join(f2, "d2")
        .where(hamming <= 6)
        .select("d1", "d2", hamming.cast("int").alias("hamming"))
    )


# ----------------------------------------- cluster resolution (dup pairs → CC)
def _dup_pair_edges(spark: SparkSession, sf: str) -> DataFrame:
    """Undirected dup-pair edge list (a, b), a != b: exact content-hash
    duplicates (each doc linked to its hash-group min — a star per group,
    same components as the all-pairs clique at a fraction of the edges)
    UNION trigram-Jaccard near-dup pairs (≥ 0.12, the oracled threshold)."""
    docs = load(spark, sf, "documents").select(
        F.md5("text").alias("ch_b"), F.col("doc_id").alias("b")
    )
    exact = (
        dedup_exact(spark, sf)
        .where(F.col("n_docs") > 1)
        .select("content_hash", F.col("keep_doc").alias("a"))
        # null-safe: md5(NULL text) is NULL on both engines, and the
        # oracle's min() OVER (PARTITION BY md5(text)) groups the NULL
        # hash into one partition — a plain equi-join would silently drop
        # those duplicate edges (r05 review)
        .join(docs, F.col("content_hash").eqNullSafe(F.col("ch_b")))
        .where(F.col("a") != F.col("b"))
        .select("a", "b")
    )
    jac = dedup_ngram_jaccard(spark, sf).select(
        F.col("d1").alias("a"), F.col("d2").alias("b")
    )
    return exact.unionByName(jac).distinct()


def connected_components(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """Alternating large-star / small-star connected components
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) over an undirected (a, b) edge list.

    Returns (doc_id, cluster_id) for every node in any edge, cluster_id =
    lexicographic min of the component.  Each round is two groupBy-min +
    join passes — O(log n) rounds to convergence regardless of component
    diameter (min-label propagation needs O(diameter) rounds, which at
    web scale is the difference between 5 shuffles and 500).  Every round
    ``localCheckpoint``s to truncate lineage — without it the plan doubles
    per iteration and analysis time, not data, becomes the bottleneck.
    """
    # parent edges (child → smaller parent); seed = both orientations
    e = edges.where(F.col("a") != F.col("b"))
    par = (
        e.select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
        .distinct()
        .localCheckpoint()
    )
    prev_cnt = par.count()
    for _ in range(max_iter):
        # large-star: every strictly-larger neighbor of u links to
        # min(Γ(u) ∪ {u}).  Neighborhood here is over the symmetric view.
        sym = par.unionByName(par.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.min("v").alias("m"))
        mins = mins.select("u", F.least("m", "u").alias("m"))
        large = (
            sym.where(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: u's smaller-or-equal neighbors (and u) link to the
        # min parent.  large's output is already child>parent directed.
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(mins2, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mins2.select("u", F.col("m").alias("v")))
            .distinct()
            .localCheckpoint()
        )
        # convergence: gate the expensive set-compare behind a count check
        # (non-final rounds almost always change the edge count, so the
        # exceptAll shuffle runs ~once per query).  Equal counts + empty
        # one-way difference of two distinct() sets ⇒ set equality.
        cnt = small.count()
        if cnt == prev_cnt and small.exceptAll(par).isEmpty():
            par = small
            break
        par, prev_cnt = small, cnt
    # stars: (child → root) ∪ (root → root)
    roots = par.select("v").distinct().join(
        par.select(F.col("u").alias("v")), "v", "left_anti"
    )
    return par.select(F.col("u").alias("doc_id"), F.col("v").alias("cluster_id")).unionByName(
        roots.select(F.col("v").alias("doc_id"), F.col("v").alias("cluster_id"))
    )


_PAIRS_SQL = f"""
  WITH {_SHINGLES_SQL},
  sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
  inter AS (
    SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_common
    FROM shd a JOIN shd b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id),
  jac AS (
    SELECT d1 AS a, d2 AS b FROM inter
    JOIN sizes sa ON sa.doc_id = d1 JOIN sizes sb ON sb.doc_id = d2
    WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.12),
  grp AS (
    SELECT md5(text) AS h, doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS keep
    FROM documents),
  exact AS (SELECT keep AS a, doc_id AS b FROM grp WHERE doc_id != keep),
  pairs AS (SELECT a, b FROM exact UNION SELECT a, b FROM jac),
  sym AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
  clusters AS (
    WITH RECURSIVE reach(a, b) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM sym)
      UNION
      SELECT r.a, e.b FROM reach r JOIN sym e ON r.b = e.a)
    SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a)
"""


@q(
    "dedup_clusters",
    _PAIRS_SQL + "SELECT doc_id, cluster_id FROM clusters",
)
def dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicate-cluster assignment: connected components over the union
    of exact-dup and Jaccard near-dup pair edges; cluster_id = component
    min doc_id.  The DuckDB oracle computes the same components by
    recursive-CTE transitive closure (fine at sf, unthinkable at 100 TB —
    which is exactly why the Spark side is the SoCC'14 star algorithm)."""
    return connected_components(_dup_pair_edges(spark, sf))


@q(
    "dedup_keep_list",
    _PAIRS_SQL
    + """
    SELECT d.doc_id FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM clusters WHERE doc_id != cluster_id)
    """,
)
def dedup_keep_list(spark: SparkSession, sf: str) -> DataFrame:
    """Survivor set after cluster resolution: every document except
    non-canonical cluster members (left_anti join — no NOT IN anti-pattern
    with its null-semantics trap; doc_id is non-null by schema)."""
    drop = dedup_clusters(spark, sf).where(F.col("doc_id") != F.col("cluster_id"))
    return (
        load(spark, sf, "documents")
        .select("doc_id")
        .join(drop.select("doc_id"), "doc_id", "left_anti")
    )


# ------------------------------------------ PPJoin prefix-filtered Jaccard
PPJ_NUM, PPJ_DEN = 3, 10  # threshold t = 0.3, kept exact-rational


@q(
    "dedup_prefix_jaccard",
    f"""
    WITH {_SHINGLES_SQL},
    sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_common
      FROM shd a JOIN shd b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT d1, d2,
           round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 4)
             AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = d1
    JOIN sizes sb ON sb.doc_id = d2
    WHERE n_common * {PPJ_DEN} >= {PPJ_NUM} * (sa.n + sb.n - n_common)
    """,
)
def dedup_prefix_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Set-similarity join with PPJoin/SSJoin PREFIX FILTERING (Bayardo
    et al., Chaudhuri et al.): order every doc's shingles by global
    rarity (document frequency asc, shingle asc) and index only each
    doc's first n - ceil(t*n) + 1 shingles.  Two docs with Jaccard >= t
    MUST share a prefix shingle (if the first shared element sits past
    A's prefix, at most ceil(t|A|) - 1 elements of A are shared, yet
    jac >= t forces |A∩B| >= t|A| — contradiction), so the pruning is
    LOSSLESS: the result set equals the any-shared-shingle exact join at
    the same threshold, which is exactly what the DuckDB twin computes
    and what the pytest asserts.

    The verify step intersects the two full (per-doc, bounded) shingle
    arrays, and the accept predicate is the exact rational
    n_common * 10 >= 3 * union — no float ever decides membership.

    Scale shape vs dedup_ngram_jaccard (the unfiltered inverted join):
    the index join shrinks by the prefix factor (~t of all postings
    dropped), and — the real win at web scale — the FREQUENT shingles
    are precisely the ones pruned first (rarity order), so the hot
    posting lists that drive the join's skew never enter the index.
    The df table is shingle-keyed and distributable; per-doc windows are
    bounded by doc length."""
    # the sorted shingle arrays feed BOTH the prefix build and the verify
    # step: cut them once with an eager localCheckpoint (the interpreted
    # trigram transform is the most expensive narrow stage — recomputing it
    # 3x measured 16.7 s vs 10.5 s at sf0.1), which leaves no plan-matched
    # cache entry behind; per-doc set size comes from size(array), not a
    # window
    arrs = _shingle_arrays(spark, sf).select(
        "doc_id", F.array_sort("shingles").alias("sh"), F.size("shingles").alias("n")
    ).localCheckpoint()
    shd = arrs.select("doc_id", "n", F.explode("sh").alias("shingle"))
    dfreq = shd.groupBy("shingle").agg(F.count("*").alias("df"))
    w_doc = Window.partitionBy("doc_id").orderBy("df", "shingle")
    ranked = shd.join(dfreq, "shingle").withColumn("rn", F.row_number().over(w_doc))
    p = F.col("n") - F.floor((PPJ_NUM * F.col("n") + PPJ_DEN - 1) / PPJ_DEN) + 1
    prefix = ranked.where(F.col("rn") <= p).select("doc_id", "shingle", "n")
    a, b = prefix.alias("a"), prefix.alias("b")
    # PPJoin length filter rides the join: jac >= t forces
    # t * max(|A|,|B|) <= min(|A|,|B|) — disparate sizes never pair up
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.n") * PPJ_DEN >= PPJ_NUM * F.col("b.n"))
            & (F.col("b.n") * PPJ_DEN >= PPJ_NUM * F.col("a.n")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        # NO distinct here: duplicate candidates (pair sharing several
        # prefix shingles) are rare (<1% measured), so deduping the
        # verified survivors (hundreds of rows) beats shuffling the full
        # candidate stream just to dedup it
    )
    s1 = arrs.select(
        F.col("doc_id").alias("d1"), F.col("sh").alias("sh1"), F.col("n").alias("n1")
    )
    s2 = arrs.select(
        F.col("doc_id").alias("d2"), F.col("sh").alias("sh2"), F.col("n").alias("n2")
    )
    # AQE coalesces the candidate stream to a handful of partitions (its
    # BYTES are small) but each row pays an array_intersect over ~100
    # strings — the small-bytes/heavy-CPU mismatch load_spread documents.
    # Spread the verify across cores explicitly; the extra shuffle moves
    # only (d1, d2) longs.
    cand = cand.repartition(spark.sparkContext.defaultParallelism)
    j = cand.join(s1, "d1").join(s2, "d2").select(
        "d1",
        "d2",
        F.size(F.array_intersect("sh1", "sh2")).alias("n_common"),
        "n1",
        "n2",
    )
    union = F.col("n1") + F.col("n2") - F.col("n_common")
    return (
        j.where(F.col("n_common") * PPJ_DEN >= PPJ_NUM * union)
        .select("d1", "d2", F.round(F.col("n_common") / union, 4).alias("jaccard"))
        .dropDuplicates(["d1", "d2"])
    )


# ------------------------------------------------------ containment detection
# Broder's CONTAINMENT C(A,B) = |A∩B| / |A| — the asymmetric cousin of
# resemblance: a syndicated quote page is ~contained in its source but has
# tiny Jaccard against it, so resemblance dedup misses the pair entirely.
# The fixture has no syndication, so quote pages are synthesized (md5-keyed
# ~1/10 of long docs: first CONT_QUOTE_W words + a feed suffix under a
# shifted doc_id) with byte-identical construction on both engines.
CONT_QUOTE_W = 24
CONT_MIN_WORDS = 30
CONT_THRESHOLD = 0.7
CONT_ID_OFFSET = 1_000_000_000
_CONT_SUFFIX = "via our newsfeed syndication read more"

ORACLE["dedup_containment"] = f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents WHERE length(text) > 0
      UNION ALL
      SELECT doc_id + {CONT_ID_OFFSET},
             array_to_string(list_slice(string_split(text, ' '), 1,
                                        {CONT_QUOTE_W}), ' ')
               || ' {_CONT_SUFFIX}'
      FROM documents
      WHERE length(text) > 0
        AND len(string_split(text, ' ')) >= {CONT_MIN_WORDS}
        AND CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT)
              % 10 = 0),
    w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word,
                 generate_subscripts(string_split(text, ' '), 1) AS idx
          FROM corpus),
    sh AS (SELECT doc_id,
                  word || ' ' || lead(word, 1) OVER win || ' '
                       || lead(word, 2) OVER win AS shingle
           FROM w WINDOW win AS (PARTITION BY doc_id ORDER BY idx)),
    shd AS (SELECT DISTINCT doc_id, shingle FROM sh
            WHERE shingle IS NOT NULL),
    sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
                     CAST(count(*) AS BIGINT) AS n_common
              FROM shd a JOIN shd b
                ON a.shingle = b.shingle AND a.doc_id != b.doc_id
              GROUP BY 1, 2)
    SELECT d1, d2, n_common,
           round(CAST(n_common AS DOUBLE) / sa.n, 4) AS containment
    FROM inter JOIN sizes sa ON sa.doc_id = d1
    WHERE CAST(n_common AS DOUBLE) / sa.n >= {CONT_THRESHOLD}
"""


@q("dedup_containment")
def dedup_containment(spark: SparkSession, sf: str) -> DataFrame:
    """Asymmetric containment pairs over the trigram inverted index:
    emit (d1, d2) where ≥ 0.7 (CONT_THRESHOLD) of d1's distinct shingles
    appear in d2 — quote/syndication detection that resemblance dedup
    cannot see (see module comment for the synthesized quote pages).

    Scale shape: dedup_ngram_jaccard's index join — pairs materialize ONLY
    via shared shingles (never all-pairs) and counts partial-aggregate
    map-side.  n_common is SYMMETRIC, so the join + count runs once over
    ordered pairs (d1 < d2, half the candidate rows of a != b) and ONE
    inline() emits both orientations from each aggregate row, each with
    its own denominator (n1 or n2, carried on the shingle rows): the pair
    table is read once, no union re-runs the join and no sizes table is
    joined back.  Stop-shingle capping would bound hot shingles at web
    scale exactly as in dedup_prefix_jaccard."""
    d = load_spread(spark, sf, "documents").where(F.length("text") > 0)
    words = F.split("text", " ")
    h16 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
    ).cast("int")
    quotes = d.where(
        (F.size(words) >= CONT_MIN_WORDS) & (h16 % 10 == 0)
    ).select(
        (F.col("doc_id") + CONT_ID_OFFSET).alias("doc_id"),
        F.concat(
            F.array_join(F.slice(words, 1, CONT_QUOTE_W), " "),
            F.lit(" " + _CONT_SUFFIX),
        ).alias("text"),
    )
    corpus = d.select("doc_id", "text").unionByName(quotes)
    half = _pair_counts(_trigram_shingles(corpus))
    d1, d2 = F.col("d1"), F.col("d2")
    both = half.select(
        F.inline(
            F.array(
                F.struct(d1, d2, "n_common", F.col("n1").alias("n")),
                F.struct(d2.alias("d1"), d1.alias("d2"), "n_common", F.col("n2").alias("n")),
            )
        )
    )
    cont = F.col("n_common").cast("double") / F.col("n")
    return both.where(cont >= CONT_THRESHOLD).select(
        "d1", "d2", "n_common", F.round(cont, 4).alias("containment")
    )
