"""End-to-end pretraining-corpus pipeline: the composition query.

Every stage is an operator that also exists stand-alone (text_quality /
dedup_exact / doc_decontaminate / doc_mixture_rebalance /
doc_split_assign), chained the way a real 100 TB curation run chains
them.  The value of registering the composition itself is that the
driver's hash check then pins the INTERACTION of the stages (filter
ordering, dedup-before-decontam, rebalance-after-clean) — not just each
stage in isolation.

Scale shape of the whole chain: one wide scan of ``documents`` feeds a
narrow quality filter; exact dedup is one hash-partitioned window on
``md5(text)``; decontamination joins against a BROADCAST benchmark
n-gram set and anti-joins the (small) contaminated id set; the mixture
cut is a broadcast of per-language fractions; split assignment and the
final rollup are stateless + one partial agg.  Two shuffles total
(dedup window, final agg) plus the bloom-sized anti-join — nothing
quadratic, nothing driver-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from analytics.common import load, registry
from analytics.sampling import _MIX_SALT, _SPLIT_SALT

QUERIES, ORACLE, q = registry()


MIN_WORDS = 10  # quality gate: minimum document length in words
MIN_DISTINCT_RATIO = 0.2  # quality gate: anti-repetition threshold
DECON_N = 3  # decontamination word-n-gram width


@q(
    "pipeline_pretrain_corpus",
    f"""
    WITH base AS (
      SELECT doc_id, text, lang, source,
             list_filter(string_split(text, ' '), x -> x != '') AS ws
      FROM documents WHERE length(trim(text)) > 0),
    quality AS (
      SELECT * FROM base
      WHERE len(ws) >= {MIN_WORDS}
        AND CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) >= {MIN_DISTINCT_RATIO}),
    exact AS (
      SELECT * FROM quality
      QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1),
    g AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, len(ws) - {DECON_N - 1}),
               i -> array_to_string(ws[i:i+{DECON_N - 1}], ' ')))) AS ng
      FROM base WHERE len(ws) >= {DECON_N}),
    bench AS (SELECT DISTINCT ng FROM g WHERE doc_id % 97 = 0),
    contaminated AS (SELECT DISTINCT g.doc_id FROM g JOIN bench USING (ng)),
    clean AS (
      SELECT * FROM exact
      WHERE doc_id % 97 != 0
        AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
    c AS (SELECT lang, count(*) AS cnt FROM clean GROUP BY 1),
    m AS (SELECT min(cnt) AS mn FROM c),
    cuts AS (
      SELECT lang, CASE WHEN cnt <= mn THEN 'g'
           ELSE printf('%08x', CAST(floor(mn * 4294967296.0 / cnt) AS BIGINT))
           END AS hex_cut
      FROM c, m),
    mixed AS (
      SELECT d.* FROM clean d JOIN cuts USING (lang)
      WHERE substr(md5('{_MIX_SALT}' || CAST(doc_id AS VARCHAR)), 1, 8) < hex_cut),
    train AS (
      SELECT * FROM mixed
      WHERE substr(md5('{_SPLIT_SALT}' || CAST(doc_id AS VARCHAR)), 1, 1) < 'c')
    SELECT source, lang, count(*) AS n_docs,
           CAST(sum(len(ws)) AS BIGINT) AS n_tokens
    FROM train GROUP BY 1, 2
    """,
)
def pipeline_pretrain_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """Quality gate → exact dedup → benchmark decontamination → language
    mixture rebalance → train-split selection → per-(source, lang) corpus
    stats.  See module docstring for the stage-by-stage scale argument."""
    words = F.filter(F.split("text", " "), lambda x: x != "")
    base = (
        load(spark, sf, "documents")
        .where(F.length(F.trim("text")) > 0)
        .select("doc_id", "text", "lang", "source", words.alias("ws"))
    )

    n_ws = F.size("ws")
    quality = base.where(
        (n_ws >= MIN_WORDS)
        & (F.size(F.array_distinct("ws")).cast("double") / n_ws >= MIN_DISTINCT_RATIO)
    )

    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    exact = (
        quality.withColumn("rn", F.row_number().over(w)).where("rn = 1").drop("rn")
    )

    ngs = F.array_distinct(
        F.expr(
            f"transform(sequence(1, size(ws) - {DECON_N - 1}),"
            f" i -> concat_ws(' ', slice(ws, i, {DECON_N})))"
        )
    )
    g = base.where(n_ws >= DECON_N).select("doc_id", F.explode(ngs).alias("ng"))
    bench = g.where(F.col("doc_id") % 97 == 0).select("ng").distinct()
    contaminated = (
        g.join(F.broadcast(bench), "ng").select("doc_id").distinct()
    )
    clean = exact.where(F.col("doc_id") % 97 != 0).join(
        contaminated, "doc_id", "left_anti"
    )

    counts = clean.groupBy("lang").agg(F.count("*").alias("cnt"))
    mn = counts.agg(F.min("cnt").alias("mn"))
    cuts = counts.crossJoin(F.broadcast(mn)).select(
        "lang",
        F.when(F.col("cnt") <= F.col("mn"), F.lit("g"))
        .otherwise(
            F.lpad(
                F.lower(
                    F.hex(
                        F.floor(
                            F.col("mn") * 4294967296.0 / F.col("cnt")
                        ).cast("long")
                    )
                ),
                8,
                "0",
            )
        )
        .alias("hex_cut"),
    )
    mix_key = F.substring(
        F.md5(F.concat(F.lit(_MIX_SALT), F.col("doc_id").cast("string"))), 1, 8
    )
    mixed = clean.join(F.broadcast(cuts), "lang").where(mix_key < F.col("hex_cut"))

    split_key = F.substring(
        F.md5(F.concat(F.lit(_SPLIT_SALT), F.col("doc_id").cast("string"))), 1, 1
    )
    train = mixed.where(split_key < "c")

    return train.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size("ws")).cast("long").alias("n_tokens"),
    )


@q(
    "pipeline_multimodal_corpus",
    f"""
    WITH docs AS (
      SELECT doc_id, source, text FROM documents
      WHERE length(trim(text)) > 0
        AND len(string_split_regex(trim(text), ' +')) >= {MIN_WORDS}),
    keep AS (
      SELECT doc_id, source, text FROM (
        SELECT *, row_number() OVER (PARTITION BY md5(text)
                                     ORDER BY doc_id) AS rn
        FROM docs) WHERE rn = 1),
    d AS (
      SELECT doc_id, source,
             CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT) AS n_words
      FROM keep),
    c AS (
      SELECT doc_id, source, n_words,
             unnest(generate_series(
               0, CAST(ceil(n_words / 20.0) AS BIGINT) - 1)) AS i
      FROM d),
    s AS (
      SELECT doc_id, source, 2 * i AS pos, 'text' AS kind,
             least(20, n_words - i * 20) AS n_tok
      FROM c
      UNION ALL
      SELECT doc_id, source, 2 * i + 1,
             CASE WHEN substring(md5(CAST(doc_id AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 2, 1) <= '4' THEN 'image'
                  WHEN substring(md5(CAST(doc_id AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 2, 1) <= '9' THEN 'audio'
                  ELSE 'video' END,
             64
      FROM c
      WHERE substring(md5(CAST(doc_id AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 1) <= '4'),
    p AS (
      SELECT *, sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id, pos
                                 ROWS UNBOUNDED PRECEDING) - n_tok AS cum
      FROM s)
    SELECT source, kind,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT CAST(floor(CAST(cum AS DOUBLE) / 512) AS BIGINT))
                AS BIGINT) AS n_seqs
    FROM p GROUP BY source, kind
    """,
)
def pipeline_multimodal_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """The multimodal composition: quality gate (>= MIN_WORDS words) →
    exact text dedup (keep lowest doc_id per md5) → interleaved
    text+media packing → per-(source, kind) corpus rollup.

    Like ``pipeline_pretrain_corpus``, the point of registering the
    composition is that the hash check pins the stage INTERACTION —
    dedup-before-pack shifts every downstream token offset, so a wrong
    stage order or a dropped survivor changes n_seqs/n_tokens for every
    source.

    Scale shape: quality gate is a stateless scan; dedup is one
    hash-partitioned window on md5(text); packing adds its one
    per-source window; the rollup is a partial+final agg whose distinct
    seq count rides the same source partitioning.  Three shuffles total
    for the whole corpus pass — nothing quadratic, nothing driver-side."""
    from analytics.multimodal import interleave_pack

    d = load(spark, sf, "documents").where(
        (F.length(F.trim("text")) > 0)
        & (F.size(F.split(F.trim("text"), " +")) >= MIN_WORDS)
    )
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    keep = (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    packed = interleave_pack(keep)
    return packed.groupBy("source", "kind").agg(
        F.count("*").alias("n_spans"),
        F.sum("n_tok").alias("n_tokens"),
        F.countDistinct("seq_id").alias("n_seqs"),
    )
