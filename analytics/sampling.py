"""Deterministic sampling / split assignment for training-data pipelines.

Both operators are pure stateless filters/projections over ``documents`` —
zero shuffle, zero Python, WholeStageCodegen end to end — because at
100 TB sampling must be (a) a single scan, and (b) REPRODUCIBLE: Spark's
``df.sample()`` draws from a per-partition RNG stream, so its output
changes with partitioning, task retries, and cluster size.  The
scale-correct design is a content-keyed hash threshold: a doc is kept iff
``md5(salt || doc_id)`` falls below a per-stratum cut.  md5 hex is
uniform, so a lexicographic cut at fraction p of the hex space keeps ~p
of each stratum, identically on every engine — which is also what makes
the DuckDB oracle an exact twin rather than a statistical one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from analytics.common import load, registry

QUERIES, ORACLE, q = registry()


_SALT = "sample-v1:"

# per-language keep rates (a quality-weighted downsample: keep all of the
# scarce languages, thin the dominant one) expressed as hex-prefix cuts of
# the md5 space — 0x4000.../0x10000... = 1/4, 0xcccc.../0x10000... = 4/5
_RATES = {"en": "4", "de": "c", "fr": "c"}  # first hex digit cut
_DEFAULT_CUT = "8"  # unknown strata: keep ~1/2


def _cut_expr(lang_col):
    cut = F.lit(_DEFAULT_CUT)
    for lang, c in _RATES.items():
        cut = F.when(lang_col == lang, F.lit(c)).otherwise(cut)
    return cut


_CUT_SQL = (
    "CASE "
    + " ".join(f"WHEN lang = '{lang}' THEN '{c}'" for lang, c in _RATES.items())
    + f" ELSE '{_DEFAULT_CUT}' END"
)


@q(
    "doc_sample_stratified",
    f"""
    SELECT doc_id, lang, md5('{_SALT}' || CAST(doc_id AS VARCHAR)) AS sample_key
    FROM documents
    WHERE substr(md5('{_SALT}' || CAST(doc_id AS VARCHAR)), 1, 1) < ({_CUT_SQL})
    """,
)
def doc_sample_stratified(spark: SparkSession, sf: str) -> DataFrame:
    """Stratified downsample: keep a doc iff its salted md5 falls under its
    language's hex cut.  One scan, no shuffle, no RNG — rerunning on any
    cluster size returns the identical sample."""
    d = load(spark, sf, "documents")
    key = F.md5(F.concat(F.lit(_SALT), F.col("doc_id").cast("string")))
    return d.select("doc_id", "lang", key.alias("sample_key")).where(
        F.substring("sample_key", 1, 1) < _cut_expr(F.col("lang"))
    )


# train/val/test by hash range: first hex digit 0-b → train (12/16),
# c-d → val (2/16), e-f → test (2/16).  Disjoint and exhaustive by
# construction; the same doc lands in the same split forever.
_SPLIT_SALT = "split-v1:"


@q(
    "doc_split_assign",
    f"""
    SELECT doc_id,
           CASE WHEN substr(k, 1, 1) < 'c' THEN 'train'
                WHEN substr(k, 1, 1) < 'e' THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id, md5('{_SPLIT_SALT}' || CAST(doc_id AS VARCHAR)) AS k
          FROM documents)
    """,
)
def doc_split_assign(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic train/val/test assignment by salted-hash range —
    the split survives re-partitioning, retries, and incremental corpus
    growth (old docs never migrate between splits)."""
    d = load(spark, sf, "documents")
    k = F.substring(
        F.md5(F.concat(F.lit(_SPLIT_SALT), F.col("doc_id").cast("string"))), 1, 1
    )
    split = (
        F.when(k < "c", "train").when(k < "e", "val").otherwise("test")
    )
    return d.select("doc_id", split.alias("split"))


# ------------------------------------------------------- mixture rebalance
_MIX_SALT = "mix-v1:"


@q(
    "doc_mixture_rebalance",
    f"""
    WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY 1),
    m AS (SELECT min(cnt) AS mn FROM c),
    cuts AS (
      SELECT lang,
             CASE WHEN cnt <= mn THEN 'g'
                  ELSE printf('%08x', CAST(floor(mn * 4294967296.0 / cnt) AS BIGINT))
             END AS hex_cut
      FROM c, m)
    SELECT d.doc_id, d.lang
    FROM documents d JOIN cuts USING (lang)
    WHERE substr(md5('{_MIX_SALT}' || CAST(doc_id AS VARCHAR)), 1, 8) < hex_cut
    """,
)
def doc_mixture_rebalance(spark: SparkSession, sf: str) -> DataFrame:
    """Domain/language-mix rebalancing: downsample every stratum to the
    size of the smallest one (uniform target mixture), deterministically.

    The per-stratum keep fraction ``min_cnt / cnt`` is converted to an
    8-hex-digit cut of the md5 space (``'g'`` — lexicographically above
    every hex string — for keep-all strata, so fraction 1.0 needs no
    special numeric range).  Plan: one partial-agg scan for the stratum
    counts (a handful of rows), a broadcast of the cuts, then one
    stateless filter scan — the shape a 100 TB mixture pass needs.  The
    md5 threshold makes the sample identical on any engine, partitioning,
    or retry (same rationale as doc_sample_stratified); the DuckDB oracle
    is an exact twin, not a statistical one."""
    d = load(spark, sf, "documents")
    counts = d.groupBy("lang").agg(F.count("*").alias("cnt"))
    mn = counts.agg(F.min("cnt").alias("mn"))
    cuts = counts.crossJoin(F.broadcast(mn)).select(
        "lang",
        F.when(F.col("cnt") <= F.col("mn"), F.lit("g"))
        .otherwise(
            F.lpad(
                F.lower(
                    F.hex(
                        F.floor(F.col("mn") * 4294967296.0 / F.col("cnt")).cast(
                            "long"
                        )
                    )
                ),
                8,
                "0",
            )
        )
        .alias("hex_cut"),
    )
    key = F.substring(
        F.md5(F.concat(F.lit(_MIX_SALT), F.col("doc_id").cast("string"))), 1, 8
    )
    return (
        d.join(F.broadcast(cuts), "lang")
        .where(key < F.col("hex_cut"))
        .select("doc_id", "lang")
    )
