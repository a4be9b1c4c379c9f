"""Text analysis for training-data pipelines over ``documents``.

Every operator here is a native-function pipeline (WholeStageCodegen,
scaling linearly with input splits), each with a DuckDB oracle
implementing the identical formula — with ONE deliberate exception:
text_normalize_nfc ships an Arrow-batched pandas UDF, because Unicode
NFC normalization has no JVM-side builtin (the per-row-Python CI gate
allows pandas UDFs; see that op's docstring).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from analytics.common import load, registry

QUERIES, ORACLE, q = registry()


_STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "on", "for", "with")
_SW_SQL = "('" + "', '".join(_STOPWORDS) + "')"


@q(
    "text_quality",
    f"""
    SELECT doc_id,
           length(text) AS n_chars,
           len(string_split(text, ' ')) AS n_words,
           round(CAST(length(text) AS DOUBLE)
                 / len(string_split(text, ' ')), 4) AS avg_word_len,
           round(CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))
                      AS DOUBLE) / length(text), 4) AS punct_ratio,
           round(CAST(len(list_filter(string_split(text, ' '),
                                      w -> w IN {_SW_SQL})) AS DOUBLE)
                 / len(string_split(text, ' ')), 4) AS stopword_ratio
    FROM documents WHERE length(text) > 0
    """,
)
def text_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Quality scoring: length / word / punctuation / stopword features
    (the heuristics corpus filters threshold on)."""
    d = load(spark, sf, "documents").where(F.length("text") > 0)
    words = F.split("text", " ")
    n_words = F.size(words).cast("long")
    sw = F.size(F.filter(words, lambda w: w.isin(*_STOPWORDS))).cast("double")
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        n_words.alias("n_words"),
        F.round(F.length("text").cast("double") / n_words, 4).alias("avg_word_len"),
        F.round(
            (
                F.length("text") - F.length(F.regexp_replace("text", "[^a-zA-Z0-9 ]", ""))
            ).cast("double")
            / F.length("text"),
            4,
        ).alias("punct_ratio"),
        F.round(sw / n_words, 4).alias("stopword_ratio"),
    )


_LANG_MARKERS = {
    "en": ("the", "and", "of", "is"),
    "es": ("el", "la", "de", "es"),
    "de": ("der", "die", "und", "ist"),
    "fr": ("le", "la", "et", "est"),
}


def _marker_sql(lang: str) -> str:
    return (
        "len(list_filter(string_split(text, ' '), w -> w IN ('"
        + "', '".join(_LANG_MARKERS[lang])
        + "')))"
    )


@q(
    "text_langid",
    f"""
    WITH s AS (
      SELECT doc_id,
             {_marker_sql('en')} AS s_en, {_marker_sql('es')} AS s_es,
             {_marker_sql('de')} AS s_de, {_marker_sql('fr')} AS s_fr
      FROM documents)
    SELECT doc_id,
           CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
                WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
                WHEN s_de >= s_fr THEN 'de'
                ELSE 'fr' END AS lang_pred
    FROM s
    """,
)
def text_langid(spark: SparkSession, sf: str) -> DataFrame:
    """Language ID: marker-word voting with a fixed tie order (en>es>de>fr).
    The stand-in for an n-gram LM scorer; the Spark plan shape (per-doc
    HOF counts + CASE argmax) is the real thing."""
    d = load(spark, sf, "documents")
    words = F.split("text", " ")
    s = {
        lang: F.size(F.filter(words, lambda w: w.isin(*marks)))
        for lang, marks in _LANG_MARKERS.items()
    }
    pred = (
        F.when((s["en"] >= s["es"]) & (s["en"] >= s["de"]) & (s["en"] >= s["fr"]), "en")
        .when((s["es"] >= s["de"]) & (s["es"] >= s["fr"]), "es")
        .when(s["de"] >= s["fr"], "de")
        .otherwise("fr")
    )
    return d.select("doc_id", pred.alias("lang_pred"))


@q(
    "token_count",
    """
    SELECT doc_id,
           len(string_split_regex(trim(text), ' +')) AS ws_tokens,
           len(regexp_extract_all(text, '([A-Za-z]+|[0-9]+|[^A-Za-z0-9 ])'))
             AS bpe_ish_tokens
    FROM documents
    """,
)
def token_count(spark: SparkSession, sf: str) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish regex tokenizer
    (letters / digit runs / single punctuation)."""
    d = load(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.size(F.split(F.trim("text"), " +")).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("([A-Za-z]+|[0-9]+|[^A-Za-z0-9 ])")))
        .cast("long")
        .alias("bpe_ish_tokens"),
    )


@q(
    "doc_fingerprint",
    """
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word,
             generate_subscripts(string_split(text, ' '), 1) AS idx
      FROM documents)
    SELECT doc_id,
           CAST(sum(idx * ascii(substring(word, 1, 1)) * length(word)) % 1000000007
                AS BIGINT) AS fingerprint
    FROM w WHERE word != '' GROUP BY doc_id
    """,
)
def doc_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Order-sensitive document fingerprint: position-weighted char/length
    hash, computed with a single indexed HOF fold (no shuffle beyond the
    per-doc agg) — the cheap first-pass identity for incremental crawls.

    Docs with no non-empty words (empty / whitespace-only / NULL text)
    are DROPPED to mirror the oracle, whose WHERE word != '' GROUP BY
    emits no row for them (r05 review: the Spark side used to emit
    (doc_id, 0) there — a row-count parity break on any corpus with
    such docs; the shipped fixtures just happen to contain none)."""
    d = load(spark, sf, "documents")
    words = F.split("text", " ")
    terms = F.zip_with(
        words,
        F.sequence(F.lit(1), F.size(words)),
        lambda w, i: F.when(
            w != "", i.cast("long") * F.ascii(F.substring(w, 1, 1)) * F.length(w)
        ).otherwise(F.lit(0).cast("long")),
    )
    total = F.aggregate(terms, F.lit(0).cast("long"), lambda acc, x: acc + x)
    return (
        d.where(F.size(F.filter(words, lambda w: w != "")) > 0)
        .select(
            "doc_id",
            F.pmod(total, F.lit(1000000007)).cast("long").alias("fingerprint"),
        )
    )


# -------------------------------------------------- pretraining packing ops
PACK_CTX = 256  # context-window length in whitespace tokens


@q(
    "doc_pack_sequences",
    f"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT) AS n_tokens
      FROM documents WHERE length(trim(text)) > 0),
    c AS (
      SELECT doc_id, source, n_tokens,
             sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_tokens AS cum_start
      FROM t)
    SELECT doc_id, source, n_tokens,
           CAST(floor(CAST(cum_start AS DOUBLE) / {PACK_CTX}) AS BIGINT) AS seq_id,
           CAST(cum_start % {PACK_CTX} AS BIGINT) AS offset_in_seq
    FROM c
    """,
)
def doc_pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    """Sequence packing for LLM pretraining: concat-and-chunk documents into
    PACK_CTX-token context windows (the GPT-style packing pass).

    Docs are concatenated in deterministic (source, doc_id) order; each doc
    gets the window index (``seq_id``) and token offset where it starts.
    Realized as a per-source running-total window — one shuffle on
    ``source``, then a linear scan per group.  Scale shape: packing is
    per-shard on a real corpus (each source/shard packs independently, no
    global order), so the window key gives the embarrassingly-parallel
    plan a 100x corpus needs; no collect, no global sort.
    """
    d = load(spark, sf, "documents").where(F.length(F.trim("text")) > 0)
    n_tokens = F.size(F.split(F.trim("text"), " +")).cast("long")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = d.select("doc_id", "source", n_tokens.alias("n_tokens"))
    cum_start = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("cum_start")
    c = t.select("doc_id", "source", "n_tokens", cum_start)
    return c.select(
        "doc_id",
        "source",
        "n_tokens",
        F.floor(F.col("cum_start").cast("double") / PACK_CTX)
        .cast("long")
        .alias("seq_id"),
        (F.col("cum_start") % PACK_CTX).alias("offset_in_seq"),
    )


@q(
    "corpus_bigram_topk",
    """
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents),
    b AS (
      SELECT doc_id, pos, word,
             lead(word) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
      FROM w WHERE word != '')
    SELECT word || ' ' || nxt AS bigram, count(*) AS cnt
    FROM b WHERE nxt IS NOT NULL AND nxt != ''
    GROUP BY 1 ORDER BY cnt DESC, bigram LIMIT 20
    """,
)
def corpus_bigram_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-level bigram frequency top-k (data-quality / contamination
    analysis pass).  The bigram list is built per-doc with ONE local HOF
    ``transform`` over the word array (no explode shuffle, no per-doc
    window): ``zip_with(words, slice(words, 2, n), concat)``.  Only the
    (bigram, count) pairs shuffle — a partial-aggregated hash agg, then a
    global top-k with a total-order tie-break (cnt desc, bigram asc) so the
    result is deterministic at any parallelism."""
    d = load(spark, sf, "documents")
    words = F.filter(F.split("text", " "), lambda x: x != "")
    bigrams = F.zip_with(
        words,
        F.slice(words, 2, F.greatest(F.size(words) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return (
        d.select(F.explode(bigrams).alias("bigram"))
        .where(~F.col("bigram").rlike("^[^ ]*$"))
        .groupBy("bigram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "bigram")
        .limit(20)
    )


COLLOC_MIN = 5  # minimum pair count for a collocation candidate


@q(
    "corpus_collocation_topk",
    f"""
    WITH w AS (
      SELECT list_filter(string_split(text, ' '), x -> x != '') AS ws
      FROM documents),
    u AS (
      SELECT word, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT unnest(ws) AS word FROM w) GROUP BY word),
    n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM u),
    p AS (
      SELECT ws[i] AS w1, ws[i + 1] AS w2, CAST(count(*) AS BIGINT) AS cxy
      FROM (SELECT ws, unnest(range(1, len(ws))) AS i FROM w
            WHERE len(ws) >= 2)
      GROUP BY 1, 2)
    SELECT w1, w2, cxy AS pair_cnt,
           CAST(round((CAST(cxy AS DOUBLE) * 1000000.0 * CAST(n.n AS DOUBLE))
                      / (CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE)))
                AS BIGINT) AS lift_micro
    FROM p
    JOIN u u1 ON u1.word = p.w1
    JOIN u u2 ON u2.word = p.w2
    CROSS JOIN n
    WHERE cxy >= {COLLOC_MIN}
    ORDER BY lift_micro DESC, w1, w2 LIMIT 20
    """,
)
def corpus_collocation_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Collocation mining: top-k adjacent word pairs by association LIFT
    P(xy)/(P(x)P(y)) = cxy*N/(cx*cy) — the exponent of PMI, monotone in
    it, so the ranking is the PMI ranking without computing ln.

    Parity device — the deliberate dodge of `ln`: transcendental libm
    functions are not required to be correctly rounded and can differ in
    the last ulp between the JVM and DuckDB, which round-to-decimals then
    amplifies (the r04-advice flake class).  Lift needs only * and /,
    which ARE correctly rounded per IEEE 754 — written as the identical
    left-associated expression on both engines, the doubles are
    bit-identical — and the output snaps to the integer microunit grid
    (round-to-INTEGER ties break away-from-zero in both engines; see
    kmeans_train), so both the values and the (lift, w1, w2) top-k order
    are fully deterministic.

    Scale shape: bigram pairs via the zero-shuffle zip_with HOF
    (corpus_bigram_topk's device), ONE partial-agg hash agg per
    granularity (pairs, unigrams), the vocab-sized unigram table
    broadcast twice (doc_tfidf_topk's call: vocab is bounded, corpus is
    not), total-token count as a broadcast 1-row cross join, and a
    global top-k with a total-order tie-break."""
    d = load(spark, sf, "documents")
    words = F.filter(F.split("text", " "), lambda x: x != "")
    pair_structs = F.zip_with(
        words,
        F.slice(words, 2, F.greatest(F.size(words) - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    pairs = (
        d.select(F.explode(pair_structs).alias("pr"))
        .where(F.col("pr.w2").isNotNull())
        .groupBy(F.col("pr.w1").alias("w1"), F.col("pr.w2").alias("w2"))
        .agg(F.count("*").alias("cxy"))
        .where(F.col("cxy") >= COLLOC_MIN)
    )
    uni = (
        d.select(F.explode(words).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("c"))
    )
    tot = uni.agg(F.sum("c").alias("n"))
    u1 = uni.select(F.col("word").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("word").alias("w2"), F.col("c").alias("c2"))
    lift = (
        F.col("cxy").cast("double")
        * F.lit(1000000.0)
        * F.col("n").cast("double")
    ) / (F.col("c1").cast("double") * F.col("c2").cast("double"))
    return (
        pairs.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.col("cxy").alias("pair_cnt"),
            F.round(lift).cast("long").alias("lift_micro"),
        )
        .orderBy(F.col("lift_micro").desc(), "w1", "w2")
        .limit(20)
    )


# ----------------------------------------------- decontamination + quality
DECON_N = 3  # word-n-gram width for benchmark-overlap detection


@q(
    "doc_decontaminate",
    f"""
    WITH w AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws
      FROM documents),
    g AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               generate_series(1, len(ws) - {DECON_N - 1}),
               i -> array_to_string(ws[i:i+{DECON_N - 1}], ' ')))) AS ng
      FROM w WHERE len(ws) >= {DECON_N}),
    bench AS (SELECT DISTINCT ng FROM g WHERE doc_id % 97 = 0)
    SELECT g.doc_id, count(DISTINCT g.ng) AS n_hits
    FROM g JOIN bench USING (ng)
    WHERE g.doc_id % 97 != 0
    GROUP BY 1
    """,
)
def doc_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing any word
    DECON_N-gram with the held-out benchmark set (here the deterministic
    ``doc_id % 97 == 0`` subset stands in for an eval suite).

    The n-gram list is built per-doc with local HOFs
    (``transform(sequence(...), i -> concat_ws(slice(...)))`` — no explode
    until the join key is needed) and deduped per doc before the join.
    Scale shape: real benchmark suites are megabytes against a 100 TB
    corpus, so the benchmark n-gram set is a BROADCAST hash join — the
    corpus side stays a single scan with no shuffle; only the per-doc hit
    count aggregates (partial, on doc_id)."""
    d = load(spark, sf, "documents")
    words = F.filter(F.split("text", " "), lambda x: x != "")
    w = d.select("doc_id", words.alias("ws")).where(F.size("ws") >= DECON_N)
    ngs = F.array_distinct(
        F.expr(
            f"transform(sequence(1, size(ws) - {DECON_N - 1}),"
            f" i -> concat_ws(' ', slice(ws, i, {DECON_N})))"
        )
    )
    g = w.select("doc_id", F.explode(ngs).alias("ng"))
    bench = g.where(F.col("doc_id") % 97 == 0).select("ng").distinct()
    return (
        g.where(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(bench), "ng")
        .groupBy("doc_id")
        .agg(F.count_distinct("ng").alias("n_hits"))
    )


@q(
    "doc_repetition_score",
    """
    WITH w AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS word
      FROM documents),
    c AS (SELECT doc_id, word, count(*) AS cnt FROM w GROUP BY 1, 2),
    s AS (SELECT doc_id, max(cnt) AS top_cnt, sum(cnt) AS n_words,
                 count(*) AS n_distinct
          FROM c GROUP BY 1)
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           round(CAST(top_cnt AS DOUBLE) / n_words, 4) AS top_word_ratio,
           round(CAST(n_distinct AS DOUBLE) / n_words, 4) AS distinct_ratio
    FROM s
    """,
)
def doc_repetition_score(spark: SparkSession, sf: str) -> DataFrame:
    """Intra-document repetition features (the Gopher-rule family corpus
    filters threshold on): top-word frequency ratio and distinct-word
    ratio.

    ZERO-shuffle: the top-word count is the longest run in the locally
    sorted word array, computed by one ``aggregate`` scan with a struct
    accumulator — the oracle's explode + two-level groupBy expresses the
    same semantics but would shuffle every word; this form stays a single
    narrow pass however large the corpus."""
    d = load(spark, sf, "documents")
    words = F.filter(F.split("text", " "), lambda x: x != "")
    w = d.select("doc_id", words.alias("ws")).where(F.size("ws") > 0)
    top_cnt = F.expr(
        """aggregate(
             array_sort(ws),
             named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L),
             (acc, w) -> named_struct(
               'prev', w,
               'run', IF(acc.prev IS NOT NULL AND w = acc.prev, acc.run + 1L, 1L),
               'best', GREATEST(acc.best,
                 IF(acc.prev IS NOT NULL AND w = acc.prev, acc.run + 1L, 1L))),
             acc -> acc.best)"""
    )
    n_words = F.size("ws").cast("long")
    return w.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(top_cnt.cast("double") / n_words, 4).alias("top_word_ratio"),
        F.round(F.size(F.array_distinct("ws")).cast("double") / n_words, 4).alias(
            "distinct_ratio"
        ),
    )


# ------------------------------------------------------- RAG-style chunking
CHUNK_W = 64  # chunk width in whitespace tokens
CHUNK_S = 48  # stride (CHUNK_W - CHUNK_S = 16 tokens of overlap)


@q(
    "doc_chunk_overlap",
    f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), ' +'), x -> x != '') AS w
      FROM documents WHERE length(trim(text)) > 0),
    s AS (SELECT doc_id, w, unnest(range(0, len(w), {CHUNK_S})) AS st FROM t)
    SELECT doc_id,
           CAST(st // {CHUNK_S} AS BIGINT) AS chunk_id,
           CAST(st AS BIGINT) AS start_tok,
           CAST(len(list_slice(w, st + 1, st + {CHUNK_W})) AS INTEGER)
             AS n_chunk_tokens,
           array_to_string(list_slice(w, st + 1, st + {CHUNK_W}), ' ')
             AS chunk_text
    FROM s
    """,
)
def doc_chunk_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Overlapping fixed-width chunking (the RAG / embedding-index prep
    pass): each document is cut into CHUNK_W-token windows every CHUNK_S
    tokens, so consecutive chunks share CHUNK_W - CHUNK_S tokens of
    context and every token is covered.

    Pure native HOFs — ``sequence`` of starts, one ``posexplode``, chunk
    text via ``slice`` + ``array_join`` — zero Python, and the only data
    movement is the explode itself (a narrow transform: no shuffle, no
    window).  Scale shape: a stateless per-row scan whose output is a
    bounded ~CHUNK_W/CHUNK_S-times expansion of the input, so it runs at
    scan speed on any corpus size and parallelism."""
    d = load(spark, sf, "documents").where(F.length(F.trim("text")) > 0)
    ws = F.filter(F.split(F.trim("text"), " +"), lambda x: x != "")
    starts = F.sequence(F.lit(0), F.size("ws") - 1, F.lit(CHUNK_S))
    w = d.select("doc_id", ws.alias("ws")).select(
        "doc_id", "ws", F.posexplode(starts).alias("chunk_id", "start_tok")
    )
    chunk = F.slice("ws", F.col("start_tok") + 1, F.lit(CHUNK_W))
    return w.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.col("start_tok").cast("long").alias("start_tok"),
        F.size(chunk).alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


# ------------------------------------------------------------ TF-IDF top-k
TFIDF_K = 3  # keywords kept per document


@q(
    "doc_tfidf_topk",
    f"""
    WITH w AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != ''))
               AS word
      FROM documents),
    tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1, 2),
    df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    s AS (SELECT tf.doc_id, tf.word,
                 round(tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6)
                   AS tfidf
          FROM tf JOIN df USING (word) CROSS JOIN n),
    r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY tfidf DESC, word) AS rk
          FROM s)
    SELECT doc_id, word, tfidf, CAST(rk AS INTEGER) AS rk
    FROM r WHERE rk <= {TFIDF_K}
    """,
)
def doc_tfidf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document TF-IDF keyword extraction (smoothed sklearn-style idf:
    ln((N+1)/(df+1)) + 1), keeping the TFIDF_K top-scoring terms per doc
    with a deterministic (score desc, word asc) tie-break on the ROUNDED
    score so the cut is engine-independent.

    Scale shape: term frequencies are one hash agg on (doc_id, word) with
    map-side partial aggregation; document frequencies are re-aggregated
    from the tf pairs (never from raw tokens) and the resulting df dim is
    vocabulary-sized — millions of rows at web scale, i.e. broadcastable —
    as is the single-row corpus count.  The only big shuffles are the tf
    agg and the per-doc top-k window, both partitioned on keys with
    corpus-proportional cardinality (no skew pole)."""
    d = load(spark, sf, "documents")
    w = d.select(
        "doc_id",
        F.explode(F.filter(F.split("text", " "), lambda x: x != "")).alias("word"),
    )
    tf = w.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    df = tf.groupBy("word").agg(F.count("*").alias("df"))
    n = d.select(F.count("*").alias("n_docs"))
    tfidf = F.round(
        F.col("tf")
        * (F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))) + F.lit(1.0)),
        6,
    )
    s = (
        tf.join(F.broadcast(df), "word")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "word", tfidf.alias("tfidf"))
    )
    wnd = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "word")
    return (
        s.withColumn("rk", F.row_number().over(wnd))
        .where(F.col("rk") <= TFIDF_K)
        .select("doc_id", "word", "tfidf", "rk")
    )


# ------------------------------------------------- bigram-LM quality score
def _bigram_array(ws):
    """array<string> of adjacent-pair bigrams over a word array (native)."""
    return F.transform(
        F.sequence(F.lit(1), F.size(ws) - 1),
        lambda i: F.concat(F.element_at(ws, i), F.lit(" "), F.element_at(ws, i + 1)),
    )


@q(
    "doc_lm_score",
    """
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws
      FROM documents),
    w AS (SELECT doc_id, unnest(ws) AS word FROM t),
    uc AS (SELECT word, count(*) AS c1 FROM w GROUP BY 1),
    v AS (SELECT count(*) AS v FROM uc),
    bg AS (SELECT doc_id,
                  unnest(list_transform(range(1, len(ws)),
                                        i -> ws[i] || ' ' || ws[i + 1])) AS bigram
           FROM t WHERE len(ws) >= 2),
    bc AS (SELECT bigram, count(*) AS c2 FROM bg GROUP BY 1),
    s AS (SELECT bg.doc_id, ln((bc.c2 + 1.0) / (uc.c1 + v.v)) AS lp
          FROM bg JOIN bc USING (bigram)
          JOIN uc ON uc.word = string_split(bg.bigram, ' ')[1]
          CROSS JOIN v)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(lp), 4) AS lm_score
    FROM s GROUP BY 1
    """,
)
def doc_lm_score(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-trained bigram-LM fluency score (the KenLM-perplexity-style
    quality filter, self-trained so no external model is needed): per doc,
    the mean log-probability of its adjacent word pairs under a
    Laplace-smoothed bigram model fit on the whole corpus —
    ln((c(w1 w2) + 1) / (c(w1) + V)).

    Scale shape: the bigram count table is corpus-derived and can exceed
    memory at web scale, so docs join it with a plain shuffle hash join on
    the bigram key (corpus-proportional cardinality, no skew pole); the
    unigram table is vocabulary-sized and broadcast, as is the single-row
    vocab count.  Per-doc scoring is then one partial-aggregated hash agg
    on doc_id.  Everything is native functions — zero Python."""
    d = load(spark, sf, "documents")
    t = d.select(
        "doc_id", F.filter(F.split("text", " "), lambda x: x != "").alias("ws")
    )
    w = t.select("doc_id", F.explode("ws").alias("word"))
    uc = w.groupBy("word").agg(F.count("*").alias("c1"))
    v = uc.select(F.count("*").alias("v"))
    bg = t.where(F.size("ws") >= 2).select(
        "doc_id", F.explode(_bigram_array(F.col("ws"))).alias("bigram")
    )
    bc = bg.groupBy("bigram").agg(F.count("*").alias("c2"))
    lp = F.log(
        (F.col("c2") + F.lit(1.0)) / (F.col("c1") + F.col("v").cast("double"))
    )
    s = (
        bg.join(bc, "bigram")
        .withColumn("w1", F.split("bigram", " ").getItem(0))
        .join(F.broadcast(uc.withColumnRenamed("word", "w1")), "w1")
        .crossJoin(F.broadcast(v))
        .select("doc_id", lp.alias("lp"))
    )
    return s.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.avg("lp"), 4).alias("lm_score"),
    )


# --- Kneser-Ney bigram LM estimation -----------------------------------
KN_D = 0.75  # absolute discount (exact in binary — no float surface)


@q(
    "corpus_kn_bigram_lm",
    f"""
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents),
    b AS (
      SELECT doc_id, pos, word AS w1,
             lead(word) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
      FROM w WHERE word != ''),
    bt AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cnt
           FROM b WHERE w2 IS NOT NULL AND w2 != '' GROUP BY 1, 2),
    lc AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS c1,
                  CAST(count(*) AS BIGINT) AS n1f
           FROM bt GROUP BY 1),
    rc AS (SELECT w2, CAST(count(*) AS BIGINT) AS ncont FROM bt GROUP BY 1),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS ntot FROM bt)
    SELECT bt.w1, bt.w2, bt.cnt,
           round((CAST(bt.cnt AS DOUBLE) - {KN_D}) / lc.c1
                 + {KN_D} * lc.n1f / lc.c1
                   * (CAST(rc.ncont AS DOUBLE) / tot.ntot), 6) AS p_kn
    FROM bt JOIN lc USING (w1) JOIN rc USING (w2) CROSS JOIN tot
    """,
)
def corpus_kn_bigram_lm(spark: SparkSession, sf: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities (Kneser & Ney '95 /
    Chen & Goodman '99) — the standard n-gram LM estimator, upgrading
    doc_lm_score's add-one smoothing: for every observed bigram type,
    p_kn(w2|w1) = (c(w1,w2) - D)/c(w1·) + D·N1+(w1,·)/c(w1·) ·
    N1+(·,w2)/N1+(·,·), with absolute discount D = 0.75 and the
    continuation-count backoff that makes KN the right estimator for
    corpus-quality scoring ("francisco" is frequent but only ever
    follows "san" — continuation counts catch that, raw unigrams
    don't).

    Parity device: every input is an exact integer off ONE bigram-type
    count table (c12 ≥ 1 and D < 1, so the discounted numerator never
    clamps); the probability is a fixed-shape arithmetic tree with
    identical left-associated operator order in both engines, rounded
    once.  No float accumulates anywhere.

    Scale shape: bigram pairs are built per-doc with the zero-shuffle
    zip_with device (corpus_bigram_topk); the only corpus-sized
    exchange is the (w1, w2) hash agg with map-side partials.  All
    three derived statistics re-aggregate the BIGRAM-TYPE table (lc and
    rc are VOCAB-sized, tot is one row), so at web scale — where the
    bigram-type table itself is too big to broadcast — the joins stay
    broadcast joins of vocab-sized stat tables against it, never a
    bigram×bigram shuffle."""
    d = load(spark, sf, "documents")
    words = F.filter(F.split("text", " "), lambda x: x != "")
    prs = F.zip_with(
        words,
        F.slice(words, 2, F.greatest(F.size(words) - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    bt = (
        d.select(F.explode(prs).alias("pr"))
        .where(F.col("pr.w2").isNotNull())
        .groupBy(F.col("pr.w1").alias("w1"), F.col("pr.w2").alias("w2"))
        .agg(F.count("*").alias("cnt"))
    )
    lc = bt.groupBy("w1").agg(
        F.sum("cnt").alias("c1"), F.count("*").alias("n1f")
    )
    rc = bt.groupBy("w2").agg(F.count("*").alias("ncont"))
    tot = bt.agg(F.count("*").alias("ntot"))
    p_kn = F.round(
        (F.col("cnt").cast("double") - KN_D) / F.col("c1")
        + F.lit(KN_D) * F.col("n1f") / F.col("c1")
        * (F.col("ncont").cast("double") / F.col("ntot")),
        6,
    )
    return (
        bt.join(F.broadcast(lc), "w1")
        .join(F.broadcast(rc), "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "cnt", p_kn.alias("p_kn"))
    )


# --- PII scrubbing -----------------------------------------------------
# The synthetic corpus carries no organic PII, so the op appends a
# deterministic, doc_id-derived contact line to every document before
# scrubbing — both engines build the identical augmented text, and the
# regex path is exercised on every row instead of zero.  Patterns stay in
# the Java∩RE2 common dialect (character classes + bounded quantifiers,
# no alternation whose leftmost-first vs leftmost-longest semantics could
# diverge between Spark's Java regex and DuckDB's RE2).
_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
_PHONE_RE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"


@q(
    "doc_pii_scrub",
    f"""
    WITH a AS (
      SELECT doc_id,
             text || ' contact user' || doc_id
                  || '@example.com or call 555-'
                  || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                  || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
               AS text
      FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PHONE_RE}')) AS BIGINT)
             AS n_phones,
           md5(regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                              '{_PHONE_RE}', '<PHONE>', 'g')) AS scrub_hash
    FROM a
    """,
)
def doc_pii_scrub(spark: SparkSession, sf: str) -> DataFrame:
    """PII redaction (the pre-training compliance scrub): count and mask
    email addresses and phone numbers with native regexp functions.

    Scale shape: stateless per-row regexp inside WholeStageCodegen — zero
    shuffles, zero Python, linear in input splits.  The scrubbed text is
    hashed (not returned) so the driver compares full-content equality
    without shipping megabyte rows."""
    d = load(spark, sf, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id"),
        F.lit("@example.com or call 555-"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    a = d.select("doc_id", aug.alias("text"))
    scrubbed = F.regexp_replace(
        F.regexp_replace("text", F.lit(_EMAIL_RE), F.lit("<EMAIL>")),
        F.lit(_PHONE_RE),
        F.lit("<PHONE>"),
    )
    return a.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE), 0)).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(_PHONE_RE), 0)).cast("long").alias("n_phones"),
        F.md5(scrubbed).alias("scrub_hash"),
    )


@q(
    "doc_quality_buckets",
    f"""
    WITH s AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(string_split(text, ' '),
                                  w -> w IN {_SW_SQL})) AS DOUBLE)
               / len(string_split(text, ' ')) AS score
      FROM documents WHERE length(text) > 0)
    SELECT doc_id, lang,
           CAST(ntile(3) OVER (PARTITION BY lang
                               ORDER BY score DESC, doc_id) AS INT) AS bucket
    FROM s
    """,
)
def doc_quality_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style quality bucketing: per language, rank documents by a
    fluency proxy (stopword ratio — natural prose has more function
    words) and ntile into head/middle/tail terciles; curation pipelines
    keep head+middle and drop tail.

    Scale shape — a distributed EXACT ntile, not ``F.ntile`` over a
    per-lang window (which collapses each language into ONE task: at a
    10^10-doc corpus with a handful of languages that is a single-machine
    sort, the canonical skew pole).  Instead: (1) aggregate to a
    per-(lang, score) histogram — the score is a ratio of two small ints,
    so distinct values are bounded by the vocabulary of (stopwords,
    n_words) pairs (~10^6), metadata-sized at any corpus scale; (2) a
    window over that TINY table yields each score's cumulative rank
    offset and per-lang total; (3) broadcast-join the offsets back and
    resolve ties inside fine-grained (lang, score) windows — millions of
    small partitions, no pole.  The SQL-standard ntile arithmetic (first
    n%k buckets get one extra row) reproduces ``F.ntile`` bit-for-bit —
    pinned by tests — and the DuckDB oracle keeps the plain ntile form."""
    d = load(spark, sf, "documents").where(F.length("text") > 0)
    words = F.split("text", " ")
    score = (
        F.size(F.filter(words, lambda w: w.isin(*_STOPWORDS))).cast("double")
        / F.size(words)
    )
    scored = d.select("doc_id", "lang", score.alias("score"))
    hist = scored.groupBy("lang", "score").agg(F.count("*").alias("c"))
    wcum = (
        Window.partitionBy("lang")
        .orderBy(F.col("score").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wtot = Window.partitionBy("lang")
    offsets = hist.select(
        "lang",
        "score",
        F.coalesce(F.sum("c").over(wcum), F.lit(0)).alias("before"),
        F.sum("c").over(wtot).alias("n"),
    )
    wtie = Window.partitionBy("lang", "score").orderBy("doc_id")
    r = F.col("before") + F.row_number().over(wtie)  # 1-based rank in lang

    def ceil_div(a, b):
        # integer-exact ceil(a/b): double ceil(a/b) mis-rounds once ranks
        # pass ~2^19 denominators; (a+b-1) - (a+b-1)%b is divisible by b,
        # so the one double division is exact for any long inputs
        t = a + b - F.lit(1)
        return ((t - t % b) / b).cast("long")

    k = F.lit(3)
    q, rem = F.floor(F.col("n") / k), F.col("n") % k
    head = rem * (q + 1)  # rows covered by the (q+1)-sized buckets
    bucket = F.when(r <= head, ceil_div(r, q + 1)).otherwise(
        rem + ceil_div(r - head, F.greatest(q, F.lit(1)))
    )
    return (
        scored.join(F.broadcast(offsets), ["lang", "score"])
        .select("doc_id", "lang", bucket.cast("int").alias("bucket"))
    )


# --- Gopher-style rule filter ------------------------------------------
# The Gopher corpus-filter rule family (word-count bounds, mean-word-length
# band, non-alphabetic-word share, stopword presence), thresholds sized to
# the fixture corpus (10-99-word docs) so the pass flag splits the corpus
# instead of degenerating to all-true; production swaps the constants, not
# the plan.  Stopword presence counts DISTINCT stopwords by filtering the
# tiny stopword list against the doc's word set — identical dedup
# semantics on both engines (array_intersect/list_intersect dedup rules
# differ, so neither is used).
_G_MIN_WORDS, _G_MAX_WORDS = 20, 100_000
_G_MWL_LO, _G_MWL_HI = 3.0, 10.0
_G_MAX_NOALPHA = 0.2
_G_MIN_STOPS = 2
_SW_LIST_SQL = "['" + "', '".join(_STOPWORDS) + "']"


@q(
    "doc_gopher_filter",
    f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), ' +'), x -> x != '') AS ws
      FROM documents WHERE length(trim(text)) > 0),
    f AS (
      SELECT doc_id,
             len(ws) AS n_words,
             CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE)
               / len(ws) AS mwl,
             CAST(len(list_filter(ws, x -> NOT regexp_matches(x, '[A-Za-z]')))
                  AS DOUBLE) / len(ws) AS noalpha,
             len(list_filter({_SW_LIST_SQL},
                             s -> list_contains(list_transform(ws, x -> lower(x)), s)))
               AS stop_hits
      FROM t)
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           round(mwl, 4) AS mean_word_len,
           round(noalpha, 4) AS noalpha_ratio,
           CAST(stop_hits AS BIGINT) AS stop_hits,
           CAST(n_words BETWEEN {_G_MIN_WORDS} AND {_G_MAX_WORDS}
                AND mwl BETWEEN {_G_MWL_LO} AND {_G_MWL_HI}
                AND noalpha <= {_G_MAX_NOALPHA}
                AND stop_hits >= {_G_MIN_STOPS} AS INT) AS pass_gopher
    FROM f
    """,
)
def doc_gopher_filter(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style heuristic quality gate: word-count bounds, mean word
    length band, non-alphabetic-word share cap, and minimum distinct
    stopword presence, folded into one per-doc pass flag.

    Scale shape: a stateless per-row scan of native array HOFs — zero
    shuffles, zero Python, runs inside WholeStageCodegen at scan speed on
    any corpus size.  This is the first pass of every curation pipeline
    (it drops the bulk of raw crawl text before the expensive dedup /
    LM-scoring stages see it), so staying shuffle-free matters."""
    d = load(spark, sf, "documents").where(F.length(F.trim("text")) > 0)
    ws = F.filter(F.split(F.trim("text"), " +"), lambda x: x != "")
    t = d.select("doc_id", ws.alias("ws"))
    n = F.size("ws").cast("long")
    mwl = (
        F.aggregate("ws", F.lit(0).cast("long"), lambda acc, w: acc + F.length(w))
        .cast("double")
        / n
    )
    noalpha = (
        F.size(F.filter("ws", lambda w: ~w.rlike("[A-Za-z]"))).cast("double") / n
    )
    lower_ws = F.transform("ws", F.lower)
    stop_hits = F.size(
        F.filter(
            F.array(*[F.lit(s) for s in _STOPWORDS]),
            lambda s: F.array_contains(lower_ws, s),
        )
    ).cast("long")
    f = t.select(
        "doc_id",
        n.alias("n_words"),
        mwl.alias("mwl"),
        noalpha.alias("noalpha"),
        stop_hits.alias("stop_hits"),
    )
    passed = (
        F.col("n_words").between(_G_MIN_WORDS, _G_MAX_WORDS)
        & F.col("mwl").between(_G_MWL_LO, _G_MWL_HI)
        & (F.col("noalpha") <= _G_MAX_NOALPHA)
        & (F.col("stop_hits") >= _G_MIN_STOPS)
    )
    return f.select(
        "doc_id",
        "n_words",
        F.round("mwl", 4).alias("mean_word_len"),
        F.round("noalpha", 4).alias("noalpha_ratio"),
        "stop_hits",
        passed.cast("int").alias("pass_gopher"),
    )


# --- Exact duplicated-span mining --------------------------------------
SPAN_K = 8  # span width in whitespace tokens


@q(
    "dup_ngram_spans",
    f"""
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws
      FROM documents),
    s AS (
      SELECT doc_id, array_to_string(list_slice(ws, st + 1, st + {SPAN_K}), ' ')
               AS span
      FROM (SELECT doc_id, ws, unnest(range(0, len(ws) - {SPAN_K} + 1)) AS st
            FROM t WHERE len(ws) >= {SPAN_K}))
    SELECT span,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_occ,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM s GROUP BY span HAVING count(DISTINCT doc_id) >= 2
    """,
)
def dup_ngram_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Exact duplicated-span mining (the substring-dedup primitive of
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better"): every SPAN_K-token rolling window, grouped across the
    corpus; spans appearing in >= 2 distinct documents come back with
    their document and occurrence counts.

    Scale shape: the rolling-window explode is a narrow transform (no
    shuffle — each doc expands locally to ~n_words spans); the only
    shuffle is the span groupBy, which Catalyst plans as the standard
    two-phase distinct-agg expansion with map-side partial counts.  Span
    keys are short bounded strings (SPAN_K tokens), so the shuffle rows
    are small and uniformly hash-distributed — no skew pole short of a
    single span duplicated corpus-wide, which partial aggregation absorbs
    map-side.  At 100 TB this is exactly the suffix-free approximation
    production substring dedup uses (hash-keyed span counting), and the
    downstream consumer cuts matching spans per doc with a broadcast of
    the (tiny) high-count span set."""
    d = load(spark, sf, "documents")
    ws = F.filter(F.split("text", " "), lambda x: x != "")
    t = d.select("doc_id", ws.alias("ws")).where(F.size("ws") >= SPAN_K)
    starts = F.sequence(F.lit(0), F.size("ws") - SPAN_K)
    s = t.select("doc_id", "ws", F.explode(starts).alias("st")).select(
        "doc_id",
        F.array_join(F.slice("ws", F.col("st") + 1, SPAN_K), " ").alias("span"),
    )
    return (
        s.groupBy("span")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occ"),
            F.min("doc_id").alias("first_doc"),
        )
        .where(F.col("n_docs") >= 2)
    )


@q(
    "doc_remove_dup_spans",
    f"""
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws
      FROM documents),
    e AS (
      SELECT doc_id, st,
             array_to_string(list_slice(ws, st + 1, st + {SPAN_K}), ' ') AS span
      FROM (SELECT doc_id, ws, unnest(range(0, len(ws) - {SPAN_K} + 1)) AS st
            FROM t WHERE len(ws) >= {SPAN_K})),
    dup AS (SELECT span FROM e GROUP BY span
            HAVING count(DISTINCT doc_id) >= 2),
    bad AS (SELECT e.doc_id, list(DISTINCT e.st) AS sts
            FROM e JOIN dup USING (span) GROUP BY e.doc_id),
    cut AS (
      SELECT t.doc_id, t.ws, coalesce(bad.sts, []) AS sts
      FROM t LEFT JOIN bad ON t.doc_id = bad.doc_id),
    k AS (
      SELECT doc_id, ws,
             list_transform(
               list_filter(range(0, len(ws)),
                 i -> len(list_filter(sts,
                        st -> st <= i AND i < st + {SPAN_K})) = 0),
               i -> ws[i + 1]) AS kept
      FROM cut)
    SELECT doc_id,
           CAST(len(ws) AS BIGINT) AS n_tokens,
           CAST(len(ws) - len(kept) AS BIGINT) AS n_removed,
           -- coalesce: DuckDB array_to_string([]) is NULL, Spark array_join
           -- of an empty array is '' — a fully-excised doc hashes md5('')
           md5(coalesce(array_to_string(kept, ' '), '')) AS clean_hash
    FROM k
    """,
)
def doc_remove_dup_spans(spark: SparkSession, sf: str) -> DataFrame:
    """The consumer half of substring dedup (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): excise every token that
    falls inside a corpus-duplicated SPAN_K-token window (the span set
    :func:`dup_ngram_spans` mines), keeping the rest of the document in
    order.  Output is per-doc token counts plus the md5 of the scrubbed
    text (the doc_pii_scrub device — full-content equality without
    shipping megabyte rows).

    Scale shape: span mining is the dup_ngram_spans plan (narrow rolling
    explode + two-phase count-distinct agg); the surviving high-count
    span set is tiny relative to the corpus (it is the point of the
    threshold), so the membership probe is a BROADCAST semi-join against
    the exploded (doc_id, st, span) rows — no corpus shuffle.  Bad start
    offsets re-aggregate per doc (collect_set over O(hits) rows) and join
    back to the column-pruned documents scan on doc_id — the one
    corpus-keyed shuffle; the excision itself is a stateless HOF over the
    token array (positions covered by any bad window drop out), entirely
    inside codegen with zero Python.  Docs shorter than SPAN_K tokens
    carry no windows and pass through unchanged."""
    d = load(spark, sf, "documents")
    ws = F.filter(F.split("text", " "), lambda x: x != "")
    t = d.select("doc_id", ws.alias("ws"))
    e = (
        t.where(F.size("ws") >= SPAN_K)
        .select(
            "doc_id",
            "ws",
            F.explode(F.sequence(F.lit(0), F.size("ws") - SPAN_K)).alias("st"),
        )
        .select(
            "doc_id",
            "st",
            F.array_join(F.slice("ws", F.col("st") + 1, SPAN_K), " ").alias("span"),
        )
    )
    dup = (
        e.groupBy("span")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") >= 2)
        .select("span")
    )
    bad = (
        e.join(F.broadcast(dup), "span", "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_set("st").alias("sts"))
    )
    cut = t.join(bad, "doc_id", "left").select(
        "doc_id",
        "ws",
        F.coalesce("sts", F.array().cast("array<int>")).alias("sts"),
    )
    covered = lambda i: F.exists(  # noqa: E731 — reads better inline
        "sts", lambda st: (st <= i) & (i < st + SPAN_K)
    )
    kept = F.transform(
        F.filter(
            F.transform("ws", lambda x, i: F.struct(x.alias("x"), i.alias("i"))),
            lambda s: ~covered(s.i),
        ),
        lambda s: s.x,
    )
    return cut.select(
        "doc_id",
        F.size("ws").cast("long").alias("n_tokens"),
        (F.size("ws") - F.size(kept)).cast("long").alias("n_removed"),
        # coalesce mirrors the oracle's md5(coalesce(..., '')): for a
        # NULL-text doc, kept is NULL and bare md5(array_join) would
        # NULL-propagate where the oracle pins md5('') (r05 review)
        F.md5(F.coalesce(F.array_join(kept, " "), F.lit(""))).alias("clean_hash"),
    )


# --- corpus token-count statistics -------------------------------------
@q(
    "corpus_token_stats",
    """
    WITH t AS (
      SELECT lang, len(list_filter(string_split(text, ' '), x -> x != ''))
               AS n_tokens
      FROM documents WHERE length(trim(text)) > 0)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(quantile_cont(n_tokens, 0.5), 4) AS p50_tokens,
           round(quantile_cont(n_tokens, 0.9), 4) AS p90_tokens,
           CAST(max(n_tokens) AS BIGINT) AS max_tokens
    FROM t GROUP BY lang
    """,
)
def corpus_token_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language corpus report: document counts, token totals, and
    EXACT interpolated p50/p90 token-count percentiles (the numbers a
    data-mixture design reads before setting sampling rates).

    Scale shape — exact percentiles WITHOUT the per-group sort pole: a
    naive ``percentile(n_tokens)`` over ``groupBy(lang)`` buffers every
    value of a language in one task (a handful of languages × 10^10 docs
    = a single-machine sort, same pole as ntile — see
    doc_quality_buckets).  Instead aggregate to the (lang, n_tokens)
    HISTOGRAM — token counts are small bounded ints, so the histogram is
    metadata-sized at any corpus scale — then read each percentile off
    the cumulative distribution with the quantile_cont interpolation
    (index p = q·(N−1); linear blend of the floor/ceil order statistics),
    resolved per lang by two conditional mins over the tiny histogram."""
    d = load(spark, sf, "documents").where(F.length(F.trim("text")) > 0)
    n_tok = F.size(F.filter(F.split("text", " "), lambda x: x != ""))
    t = d.select("lang", n_tok.alias("n"))
    hist = t.groupBy("lang", "n").agg(F.count("*").alias("c"))
    w = Window.partitionBy("lang").orderBy("n")
    wp = Window.partitionBy("lang")
    h = hist.select(
        "lang",
        "n",
        "c",
        F.sum("c").over(w).alias("cum_end"),
        F.sum("c").over(wp).alias("nd"),
        F.sum(F.col("n").cast("long") * F.col("c")).over(wp).alias("tot"),
    )

    def pct(q: float):
        # quantile_cont: index p = q*(N-1) into the sorted multiset;
        # order statistic i = smallest n with cumulative count > i
        p = F.lit(q) * (F.col("nd") - 1).cast("double")
        lo, hi = F.floor(p), F.ceil(p)
        v_lo = F.min(F.when(F.col("cum_end") > lo, F.col("n")))
        v_hi = F.min(F.when(F.col("cum_end") > hi, F.col("n")))
        frac = p - lo.cast("double")
        return F.round(
            v_lo.cast("double") + (v_hi - v_lo).cast("double") * F.max(frac), 4
        )

    return h.groupBy("lang").agg(
        F.max("nd").alias("n_docs"),
        F.max("tot").alias("total_tokens"),
        pct(0.5).alias("p50_tokens"),
        pct(0.9).alias("p90_tokens"),
        F.max("n").cast("long").alias("max_tokens"),
    )


# --- BPE tokenizer-training merges --------------------------------------
BPE_MERGES = 8


def _bpe_round_sql(i: int, mat: str = "") -> str:
    return f"""
  y{i} AS (SELECT freq, list_filter(string_split(s, chr(31)), x -> x != '')
                    AS syms
           FROM s{i - 1}),
  p{i} AS (SELECT syms[j] AS lhs, syms[j + 1] AS rhs, sum(freq) AS cnt
           FROM (SELECT freq, syms, unnest(range(1, len(syms))) AS j
                 FROM y{i} WHERE len(syms) >= 2)
           GROUP BY lhs, rhs),
  b{i} AS (SELECT lhs, rhs, cnt FROM p{i} ORDER BY cnt DESC, lhs, rhs LIMIT 1),
  s{i} AS {mat}(SELECT freq,
                  replace(s, chr(31) || lhs || chr(31) || rhs || chr(31),
                             chr(31) || lhs || rhs || chr(31)) AS s
           FROM s{i - 1}, b{i})
"""


def _bpe_train_ctes(mat: str = "") -> str:
    """Training CTE chain (word freqs -> chr(31)-delimited symbol strings ->
    BPE_MERGES rounds of pair-count / top-pair / rewrite).  ``mat`` set to
    'MATERIALIZED ' marks every state CTE materialized — required by any
    oracle that references a state s{i} a SECOND time (DuckDB inlines plain
    CTEs, so a double reference re-expands the whole upstream chain per
    round — the 2^rounds blow-up the link_hits oracle documents)."""
    return f"""w AS {mat}(
      SELECT word, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest(list_filter(string_split(text, ' '), x -> x != ''))
              AS word
            FROM documents)
      GROUP BY word),
    s0 AS {mat}(
      SELECT freq,
             chr(31) || array_to_string(string_split(word, ''), chr(31))
                     || chr(31) AS s
      FROM w),
    {",".join(_bpe_round_sql(i, mat) for i in range(1, BPE_MERGES + 1))}"""


# Shared verbatim by the bpe_train and bpe_apply oracles (single-reference
# chains — no materialization needed).
_BPE_TRAIN_CTES = _bpe_train_ctes()


@q(
    "bpe_train",
    f"""
    WITH {_BPE_TRAIN_CTES}
    {" UNION ALL ".join(
        f"SELECT CAST({i} AS INT) AS merge_rank, lhs, rhs, lhs || rhs AS merged, "
        f"CAST(cnt AS BIGINT) AS pair_count FROM b{i}"
        for i in range(1, BPE_MERGES + 1)
    )}
    """,
)
def bpe_train(spark: SparkSession, sf: str) -> DataFrame:
    """BPE tokenizer training (Sennrich et al., "Neural Machine Translation
    of Rare Words with Subword Units"): BPE_MERGES rounds, each taking the
    corpus-frequency-weighted most-frequent adjacent symbol pair and fusing
    it everywhere.  Returns the merge table (merge_rank, lhs, rhs, merged,
    pair_count) — the artifact a tokenizer ships.

    Determinism contract shared by the three oracles (Spark, DuckDB twin,
    python recompute in tests): ties on pair count break lexicographically
    on (lhs, rhs); the per-round rewrite replaces non-overlapping
    boundary-anchored occurrences in ONE left-to-right scan (`replace`
    scans identically in all three engines — a run of k overlapping
    occurrences fuses alternately, and the stragglers recount in the next
    round), with symbol sequences carried as chr(31)-delimited strings so
    a pair match can never cross a symbol boundary.

    Scale shape: the corpus is touched ONCE (the word-frequency hash agg
    with map-side partials); every BPE round then runs on the vocab-sized
    (word, freq) table — per round, one narrow pair-explode + (lhs, rhs)
    hash agg (bounded keys, partial-agg absorbed), a LIMIT-1 top-pair
    reduce, and a broadcast single-row rewrite of the symbol strings with
    `localCheckpoint` cutting the lineage per round (the kmeans_train /
    link_pagerank device).  No driver-side collect; the merge table
    accumulates as a union of the per-round 1-row frames."""
    bests = _bpe_train_merges(load(spark, sf, "documents"))
    merges = [
        best.select(
            F.lit(i).alias("merge_rank"),
            "lhs",
            "rhs",
            F.concat("lhs", "rhs").alias("merged"),
            F.col("cnt").cast("long").alias("pair_count"),
        )
        for i, best in enumerate(bests, start=1)
    ]
    out = merges[0]
    for m in merges[1:]:
        out = out.unionAll(m)
    return out


def _bpe_train_merges(
    d: DataFrame, states: list[DataFrame] | None = None
) -> list[DataFrame]:
    """The BPE_MERGES training rounds over a documents frame; returns the
    checkpointed 1-row best-pair frame (lhs, rhs, cnt) per rank, in rank
    order.  Shared by bpe_train (which emits the merge table), bpe_apply
    (which tokenizes the corpus with it) and bpe_compression_curve (pass
    ``states`` to also receive the vocab symbol-state frame BEFORE each
    round and after the last — BPE_MERGES+1 frames, rank 0 first)."""
    w = (
        d.select(F.explode(F.filter(F.split("text", " "), lambda x: x != "")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    v = w.select(
        "freq",
        F.expr(
            "concat(chr(31), array_join(split(word, ''), chr(31)), chr(31))"
        ).alias("s"),
    )
    pair_t = (
        "transform(sequence(1, size(syms) - 1), "
        "j -> struct(element_at(syms, j) AS lhs, element_at(syms, j + 1) AS rhs))"
    )
    bests = []
    if states is not None:
        states.append(v)
    for _ in range(BPE_MERGES):
        y = v.select("freq", F.expr("filter(split(s, chr(31)), x -> x != '')").alias("syms"))
        pairs = (
            y.where(F.size("syms") >= 2)
            .select("freq", F.explode(F.expr(pair_t)).alias("pr"))
            .groupBy(F.col("pr.lhs").alias("lhs"), F.col("pr.rhs").alias("rhs"))
            .agg(F.sum("freq").alias("cnt"))
        )
        best = (
            pairs.orderBy(F.col("cnt").desc(), "lhs", "rhs").limit(1).localCheckpoint()
        )
        bests.append(best)
        v = (
            v.crossJoin(F.broadcast(best.select("lhs", "rhs")))
            .select(
                "freq",
                F.expr(
                    "replace(s, concat(chr(31), lhs, chr(31), rhs, chr(31)), "
                    "concat(chr(31), lhs, rhs, chr(31)))"
                ).alias("s"),
            )
            .localCheckpoint()
        )
        if states is not None:
            states.append(v)
    return bests


@q(
    "bpe_apply",
    f"""
    WITH {_BPE_TRAIN_CTES},
    d0 AS (
      -- coalesce: DuckDB array_to_string([]) is NULL where Spark
      -- array_join is '' (the doc_remove_dup_spans device) — without it
      -- an empty/whitespace-only doc NULL-propagates through every merge
      -- and emits (NULL, NULL) against Spark's (0, md5(''))
      SELECT doc_id,
             coalesce(array_to_string(
               list_transform(
                 list_filter(string_split(text, ' '), x -> x != ''),
                 w -> chr(31) || array_to_string(string_split(w, ''), chr(31))
                              || chr(31)),
               chr(30)), '') AS s
      FROM documents),
    {",".join(
        f"d{i} AS (SELECT doc_id, "
        f"replace(s, chr(31) || lhs || chr(31) || rhs || chr(31), "
        f"chr(31) || lhs || rhs || chr(31)) AS s FROM d{i - 1}, b{i})"
        for i in range(1, BPE_MERGES + 1)
    )}
    SELECT doc_id,
           CAST(len(toks) AS INT) AS n_tokens,
           md5(coalesce(array_to_string(toks, chr(31)), '')) AS tokens_md5
    FROM (SELECT doc_id,
                 list_filter(string_split(replace(s, chr(30), chr(31)), chr(31)),
                             x -> x != '') AS toks
          FROM d{BPE_MERGES})
    """,
)
def bpe_apply(spark: SparkSession, sf: str) -> DataFrame:
    """BPE tokenization — the consumer half of bpe_train (the same
    detector/resolver pairing as dup clusters -> keep list and
    dup_ngram_spans -> doc_remove_dup_spans): train the merge table, then
    tokenize every document with it, emitting per doc the BPE token count
    and an md5 over the full chr(31)-joined token stream so the value
    hash pins the EXACT token sequence, not just its length.

    Merge application uses the training contract verbatim: each merge
    rank rewrites the corpus in one left-to-right non-overlapping
    `replace` pass, in rank order.  Documents are encoded as
    chr(31)-delimited symbols with words joined by chr(30), so a pair
    pattern (chr(31) lhs chr(31) rhs chr(31)) can never match across a
    word boundary — merges stay within words, as BPE requires.

    Scale shape: after the vocab-sized training rounds (see bpe_train),
    the corpus is rewritten by BPE_MERGES chained broadcast single-row
    joins — a zero-shuffle narrow pipeline over the documents scan; the
    1-row merge frames are already checkpointed, so the doc plan is a
    linear chain of BroadcastNestedLoopJoins feeding one projection."""
    d = load(spark, sf, "documents")
    bests = _bpe_train_merges(d)
    # coalesce for NULL-text docs: split(NULL) NULL-propagates through
    # array_join on the Spark side exactly like array_to_string does in
    # the oracle — both sides pin '' so such docs tokenize to (0, md5(''))
    s = d.select(
        "doc_id",
        F.expr(
            "coalesce(array_join(transform(filter(split(text, ' '), x -> x != ''), "
            "w -> concat(chr(31), array_join(split(w, ''), chr(31)), chr(31))), "
            "chr(30)), '')"
        ).alias("s"),
    )
    for best in bests:
        s = s.crossJoin(F.broadcast(best.select("lhs", "rhs"))).select(
            "doc_id",
            F.expr(
                "replace(s, concat(chr(31), lhs, chr(31), rhs, chr(31)), "
                "concat(chr(31), lhs, rhs, chr(31)))"
            ).alias("s"),
        )
    toks = F.expr(
        "filter(split(replace(s, chr(30), chr(31)), chr(31)), x -> x != '')"
    )
    return s.select(
        "doc_id",
        F.size(toks).cast("int").alias("n_tokens"),
        F.md5(F.array_join(toks, "\x1f")).alias("tokens_md5"),
    )


# --- BPE compression curve -------------------------------------------------
@q(
    "bpe_compression_curve",
    f"""
    WITH {_bpe_train_ctes('MATERIALIZED ')},
    ch AS (SELECT sum(freq * length(word)) AS chars FROM w)
    {" UNION ALL ".join(
        f"SELECT CAST({i} AS INT) AS merge_rank, "
        f"CAST(sum(freq * n) AS BIGINT) AS total_tokens, "
        f"round(max(chars) / sum(freq * n), 4) AS chars_per_token "
        f"FROM (SELECT freq, "
        f"len(list_filter(string_split(s, chr(31)), x -> x != '')) AS n "
        f"FROM s{i}), ch"
        for i in range(BPE_MERGES + 1)
    )}
    """,
)
def bpe_compression_curve(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer-eval curve: corpus token count and chars-per-token after
    each BPE merge rank 0..BPE_MERGES — the compression-vs-vocab-size
    trade-off curve a tokenizer-training run reports (rank 0 = character
    tokenization, each further row shows the marginal compression the
    next merge buys).  The third artifact of the BPE family
    (train → apply → evaluate, the detector/resolver/eval pattern of the
    dedup families).

    Token counts are freq-weighted over the VOCAB states (Σ freq ×
    n_symbols(word)), identical to tokenizing the corpus, because merges
    never cross word boundaries.  Counts are exact integers;
    chars_per_token is ONE division of two exact integer sums, rounded —
    no float accumulation at all.

    Scale shape: the corpus is touched once (the word-frequency agg
    inside the shared training rounds); each curve row is a 1-row
    aggregate over the vocab-sized checkpointed state frame with
    map-side partials — BPE_MERGES+1 tiny jobs unioned.  The oracle
    MATERIALIZES every state CTE because each s{{i}} is referenced twice
    (by s{{i+1}} and by its curve row) — a plain CTE chain would
    re-expand 2^rounds (the link_hits single-reference lesson)."""
    d = load(spark, sf, "documents")
    states: list[DataFrame] = []
    _bpe_train_merges(d, states=states)
    # rank 0 is the only non-checkpointed state (training checkpoints after
    # each rewrite); materialize it once — it feeds its curve row AND the
    # chars total, which IS the rank-0 token count (s0 symbols are single
    # characters), so no separate corpus word-freq pass is needed
    states[0] = states[0].localCheckpoint()
    n_syms = F.size(F.expr("filter(split(s, chr(31)), x -> x != '')"))

    def rank_total(i: int, st: DataFrame) -> DataFrame:
        return (
            st.select((F.col("freq") * n_syms).alias("t"))
            .agg(F.sum("t").alias("total_tokens"))
            .select(
                F.lit(i).cast("int").alias("merge_rank"),
                F.col("total_tokens").cast("long").alias("total_tokens"),
            )
        )

    ranks = None
    for i, st in enumerate(states):
        row = rank_total(i, st)
        ranks = row if ranks is None else ranks.unionAll(row)
    chars = rank_total(0, states[0]).select(
        F.col("total_tokens").alias("chars")
    )
    return ranks.crossJoin(F.broadcast(chars)).select(
        "merge_rank",
        "total_tokens",
        F.round(F.col("chars") / F.col("total_tokens"), 4).alias("chars_per_token"),
    )


# ------------------------------------------------- inverted-index build
@q(
    "index_postings",
    """
    WITH w AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != ''))
               AS word
      FROM documents),
    tf AS (SELECT word, doc_id, CAST(count(*) AS BIGINT) AS tf
           FROM w GROUP BY 1, 2)
    SELECT word, CAST(count(*) AS BIGINT) AS df,
           CAST(sum(tf) AS BIGINT) AS cf,
           string_agg(doc_id || ':' || tf, ' ' ORDER BY doc_id) AS postings
    FROM tf GROUP BY word
    """,
)
def index_postings(spark: SparkSession, sf: str) -> DataFrame:
    """Inverted-index construction: per term, the document-ordered posting
    list ``doc:tf doc:tf ...`` plus df (document frequency) and cf
    (collection frequency) — the retrieval-index half of the corpus
    tooling (BM25 / sparse retrieval prep; doc_tfidf_topk is the
    per-document view of the same tf/df aggregates).

    Scale shape: term frequencies are ONE hash agg on (word, doc_id)
    with map-side partials (raw token explode never shuffles — the
    tf agg is the first exchange), then one hash agg on word builds
    each posting list.  The fixture's 31-term vocabulary emits whole
    postings; the web-scale index shards giant postings by
    (term, doc_bucket) with the SAME two-agg plan so no single reducer
    owns a stopword's full list (the last-reducer discipline of
    link_triangles).  The posting list is rendered as a canonical
    string on both engines: Spark sorts the collected (doc_id, tf)
    structs — array_sort's lexicographic struct order IS doc order
    since doc_id is unique per term — and DuckDB string_aggs with an
    explicit ORDER BY doc_id."""
    d = load(spark, sf, "documents")
    w = d.select(
        "doc_id",
        F.explode(F.filter(F.split("text", " "), lambda x: x != "")).alias("word"),
    )
    tf = w.groupBy("word", "doc_id").agg(F.count("*").alias("tf"))
    return tf.groupBy("word").agg(
        F.count("*").alias("df"),
        F.sum("tf").alias("cf"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "tf"))),
                lambda s: F.concat_ws(":", s.doc_id, s.tf),
            ),
            " ",
        ).alias("postings"),
    )


# ------------------------------------------------- BM25 retrieval scoring
BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ("spark", "hash", "dup")  # fixed query terms present in the fixture vocab
BM25_TOPK = 10

# BM25 scoring CTE chain (w -> dl/stats -> tf/df -> per-doc score s) —
# shared verbatim by the index_bm25_topk and index_rrf_hybrid oracles so
# the sparse leg of the hybrid is the SAME scorer, not a drifting copy.
_BM25_SCORE_CTES = f"""w AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != ''))
               AS word
      FROM documents),
    dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM w GROUP BY 1),
    stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                     sum(dl) / count(*) AS avgdl
              FROM dl),
    tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
           FROM w WHERE word IN {BM25_QUERY!r} GROUP BY 1, 2),
    df AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    s AS (SELECT tf.doc_id,
                 sum(ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
                     * tf.tf * ({BM25_K1} + 1.0)
                     / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                        + {BM25_B} * dl.dl / stats.avgdl))) AS score
          FROM tf
          JOIN df USING (word)
          JOIN dl USING (doc_id)
          CROSS JOIN stats
          GROUP BY tf.doc_id)"""


@q(
    "index_bm25_topk",
    f"""
    WITH {_BM25_SCORE_CTES},
    r AS (SELECT doc_id, round(score, 6) AS bm25,
                 row_number() OVER (ORDER BY round(score, 6) DESC, doc_id)
                   AS rk
          FROM s)
    SELECT doc_id, bm25, CAST(rk AS INTEGER) AS rk
    FROM r WHERE rk <= {BM25_TOPK}
    """,
)
def index_bm25_topk(spark: SparkSession, sf: str) -> DataFrame:
    """BM25 retrieval — the consumer half of index_postings (every other
    index family here ships both a builder and a consumer: spans→excise,
    bpe_train→bpe_apply, clusters→keep_list).  Scores every document
    against a fixed 3-term query with Robertson/Sparck-Jones BM25
    (k1=1.2, b=0.75, the Lucene-default +1 idf smoothing) and returns
    the top-10.

    Parity device: tf, df, dl, n_docs are exact integers; avgdl is one
    division of exact integers; each term's score is a fixed-shape
    arithmetic tree evaluated identically per (doc, term) — the only
    cross-engine hazard would be summing MANY terms in different
    orders, but a 3-term query sums ≤ 3 doubles and DuckDB/Spark both
    fold small group sums in doc-major order; the final round(·, 6) and
    the rank's rounded-score tie-break (the doc_tfidf_topk discipline)
    pin the cut.

    Scale shape: the query-term IN filter prunes the token stream
    BEFORE the tf agg (a 3-term posting fetch, not a corpus scan, when
    run against the materialized index); doc lengths are one hash agg;
    df and the 1-row stats are broadcast-sized; the global top-k is
    TakeOrdered (no full sort)."""
    tf, df, dl, stats = _bm25_parts(spark, sf)
    return _bm25_topk_ranked(_bm25_exact(tf, df, dl, stats))


def _bm25_topk_ranked(s: DataFrame) -> DataFrame:
    """(doc_id, bm25, rk) top-BM25_TOPK off a scored frame.  orderBy +
    limit plans TakeOrderedAndProject — per-partition top-k heaps merged
    at the driver, k rows moved — and the rk window then sorts only the
    k survivors.  The previous bare row_number() window with no
    partitionBy single-task-sorted EVERY doc matching any query term
    (~10^8 postings for a common term at web scale) — exactly the skew
    pole the docstring's 'TakeOrdered (no full sort)' claim promises to
    avoid (r05 review)."""
    ranked = (
        s.select("doc_id", F.round("score", 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(BM25_TOPK)
    )
    wnd = Window.orderBy(F.col("bm25").desc(), "doc_id")
    return ranked.withColumn("rk", F.row_number().over(wnd))


def _bm25_idf():
    return F.log(
        1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )


def _bm25_parts(spark: SparkSession, sf: str):
    """Shared BM25 inputs (index_bm25_topk + index_wand_topk): exact
    integer tf / df / dl and the 1-row n_docs/avgdl stats frame."""
    d = load(spark, sf, "documents")
    w = d.select(
        "doc_id",
        F.explode(F.filter(F.split("text", " "), lambda x: x != "")).alias("word"),
    )
    dl = w.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl") / F.count("*")).alias("avgdl"),
    )
    tf = (
        w.where(F.col("word").isin(*BM25_QUERY))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("word").agg(F.count("*").alias("df"))
    return tf, df, dl, stats


def _bm25_exact(tf: DataFrame, df: DataFrame, dl: DataFrame, stats: DataFrame) -> DataFrame:
    """Exact per-doc BM25 score over a (possibly pruned) tf frame — the
    identical fixed-shape arithmetic tree in both consumers, so WAND's
    surviving scores are bit-equal to the exhaustive pass's."""
    term_score = _bm25_idf() * F.col("tf") * (BM25_K1 + 1.0) / (
        F.col("tf")
        + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
    )
    return (
        tf.join(F.broadcast(df), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(term_score).alias("score"))
    )


@q("index_wand_topk")
def index_wand_topk(spark: SparkSession, sf: str) -> DataFrame:
    """WAND-style pruned BM25 retrieval (Broder et al., CIKM'03) — the
    same top-10 as index_bm25_topk, computed WITHOUT exhaustively
    scoring every matching document.  The distributed adaptation of the
    max-score/WAND idea, in the dedup_prefix_jaccard "lossless pruning"
    family:

      phase 1 (threshold): score only the CONJUNCTIVE candidates (docs
        containing ALL query terms — a tiny, high-scoring subset; 14-158
        docs on the fixtures vs 458-4611 matching any term).  The k-th
        best conjunctive score is a lower bound θ on the true k-th best
        (a subset's k-th best can only be lower).
      phase 2 (prune): each term's score is bounded by its saturation
        limit ub(t) = idf(t)·(k1+1) (tf→∞, shortest doc), so a doc's
        score is bounded by Σ ub over the terms it CONTAINS.  Docs with
        Σ ub < θ cannot reach the top k and are dropped before the
        expensive exact scoring (dl join + stats).
      phase 3: exact-score the survivors with the IDENTICAL arithmetic
        tree (_bm25_exact) and rank.

    LOSSLESS by the θ ≤ true-kth argument ON THE ROUNDED GRID: the final
    ranking orders by (round(score, 6) DESC, doc_id), so θ and the prune
    comparison both round to 6 decimals too — round is monotone, so for
    any doc in the rounded top-k (including doc_id tie-breaks at the
    boundary): round(Σ ub) ≥ round(score) ≥ round(true kth) ≥
    round(conj kth) = θ, and it always survives.  (An unrounded θ would
    NOT be lossless: a doc with unrounded score just below θ can round
    equal to the k-th and win the doc_id tie-break in the exhaustive
    ranking — the rounded grid closes that boundary case.)  If the
    conjunctive set has < k docs θ falls back to -∞ (no pruning).
    tests/test_pipeline_ops.py pins result == index_bm25_topk AND that
    the prune genuinely discards documents on the fixture.

    Scale shape: this is the point at web scale — the exhaustive pass
    touches every posting of every query term (10^8 docs for a common
    term); WAND's phase 1 is an |Q|-way posting intersection (the rarest
    term bounds it) and phase 2 is one broadcast of |Q| ubs + a 1-row θ,
    so the heavy dl-join/score work runs only on the survivor sliver.
    θ and ub ride broadcasts; nothing collects."""
    tf, df, dl, stats = _bm25_parts(spark, sf)
    tf = tf.localCheckpoint()  # feeds threshold, prune AND final scoring
    n_terms = len(BM25_QUERY)
    # phase 1: conjunctive θ
    conj = (
        tf.groupBy("doc_id")
        .agg(F.count("*").alias("nt"))
        .where(F.col("nt") == n_terms)
        .select("doc_id")
    )
    conj_scores = _bm25_exact(
        tf.join(F.broadcast(conj), "doc_id", "left_semi"), df, dl, stats
    )
    theta = (
        conj_scores.orderBy(F.col("score").desc())
        .limit(BM25_TOPK)
        .agg(F.min(F.round("score", 6)).alias("kth"), F.count("*").alias("m"))
        .select(
            F.when(F.col("m") == BM25_TOPK, F.col("kth"))
            .otherwise(F.lit(float("-inf")))
            .alias("theta")
        )
    )
    # phase 2: per-term saturation upper bounds, Σ over present terms
    ub = df.crossJoin(F.broadcast(stats.select("n_docs"))).select(
        "word", (_bm25_idf() * (BM25_K1 + 1.0)).alias("ub")
    )
    survivors = (
        tf.join(F.broadcast(ub), "word")
        .groupBy("doc_id")
        .agg(F.sum("ub").alias("max_possible"))
        .crossJoin(F.broadcast(theta))
        .where(F.round("max_possible", 6) >= F.col("theta"))
        .select("doc_id")
    )
    # phase 3: exact scores for survivors only
    return _bm25_topk_ranked(
        _bm25_exact(
            tf.join(F.broadcast(survivors), "doc_id", "left_semi"), df, dl, stats
        )
    )


# Lossless pruning ⇒ the oracle IS the exhaustive-scan oracle (the
# j11_salted_skew_join device: a differently-planned Spark query checked
# against the straightforward SQL statement of the semantics).
ORACLE["index_wand_topk"] = ORACLE["index_bm25_topk"]


# ------------------------------------- hybrid sparse+dense retrieval (RRF)
# Reciprocal Rank Fusion (Cormack et al., SIGIR'09): fuse the BM25 ranking
# with a dense cosine ranking by score(d) = Σ_legs 1/(RRF_K + rank_leg(d)).
# The production hybrid-search shape (Elasticsearch/Vespa/Weaviate all ship
# exactly this): each leg returns only its top-RRF_CAND candidates, fusion
# happens on the k-sized lists, never on the corpus.
RRF_K = 60
RRF_CAND = 50
RRF_TOPK = 10
RRF_QVEC = 0  # dense query = embedding of vec_id 0 (doc_id ≡ vec_id)


@q(
    "index_rrf_hybrid",
    f"""
    WITH {_BM25_SCORE_CTES},
    sr AS (SELECT doc_id, round(score, 6) AS bm25 FROM s
           ORDER BY bm25 DESC, doc_id LIMIT {RRF_CAND}),
    srk AS (SELECT doc_id,
                   row_number() OVER (ORDER BY bm25 DESC, doc_id) AS bm25_rk
            FROM sr),
    qv AS (SELECT embedding FROM embeddings WHERE vec_id = {RRF_QVEC}),
    dn AS (SELECT c.vec_id AS doc_id,
                  round(list_cosine_similarity(
                    c.embedding::DOUBLE[], qv.embedding::DOUBLE[]), 6) AS cos
           FROM embeddings c, qv WHERE c.vec_id != {RRF_QVEC}),
    dr AS (SELECT doc_id, cos FROM dn ORDER BY cos DESC, doc_id
           LIMIT {RRF_CAND}),
    drk AS (SELECT doc_id,
                   row_number() OVER (ORDER BY cos DESC, doc_id) AS cos_rk
            FROM dr),
    f AS (SELECT coalesce(srk.doc_id, drk.doc_id) AS doc_id,
                 CAST(srk.bm25_rk AS INT) AS bm25_rk,
                 CAST(drk.cos_rk AS INT) AS cos_rk,
                 round(coalesce(1.0 / ({RRF_K} + srk.bm25_rk), 0)
                       + coalesce(1.0 / ({RRF_K} + drk.cos_rk), 0), 6) AS rrf
          FROM srk FULL OUTER JOIN drk ON srk.doc_id = drk.doc_id)
    SELECT doc_id, rrf, bm25_rk, cos_rk
    FROM f ORDER BY rrf DESC, doc_id LIMIT {RRF_TOPK}
    """,
)
def index_rrf_hybrid(spark: SparkSession, sf: str) -> DataFrame:
    """Hybrid retrieval: BM25 over ``documents`` fused with dense cosine
    over ``embeddings`` (doc_id ≡ vec_id in the fixture corpus) by
    Reciprocal Rank Fusion — the RAG-stack retrieval shape where a
    lexical and a vector index answer the same query and the fused
    top-10 feeds the generator.

    Parity device: both legs rank on ROUNDED scores with doc_id
    tie-breaks (the doc_tfidf_topk discipline — raw-double order ties
    are the only cross-engine hazard and rounding pins them); the RRF
    score is a fixed two-term sum of exact-integer reciprocals, rounded
    once; the final cut orders by (rounded rrf, doc_id).  Ranks are
    integers — the fused output carries no unpinned float.

    Scale shape: the sparse leg is the index_bm25_topk plan (pruned tf
    agg + TakeOrdered top-RRF_CAND — never a global sort); the dense leg
    broadcasts the 1-row query vector and TakeOrders the candidate scan
    (the ann_topk_bruteforce plan).  Fusion then touches exactly
    2×RRF_CAND rows — a full-outer join of two k-sized lists that AQE
    plans as a trivial exchange; at web scale each leg is served by its
    own index (postings / ANN) and the fusion cost stays O(k) per query
    regardless of corpus size."""
    from analytics.similarity import cosine

    tf, df, dl, stats = _bm25_parts(spark, sf)
    sparse = (
        _bm25_exact(tf, df, dl, stats)
        .select("doc_id", F.round("score", 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(RRF_CAND)
    )
    srk = sparse.withColumn(
        "bm25_rk",
        F.row_number().over(Window.orderBy(F.col("bm25").desc(), "doc_id")),
    ).select("doc_id", "bm25_rk")
    e = load(spark, sf, "embeddings")
    qv = F.broadcast(
        e.where(F.col("vec_id") == RRF_QVEC).select(F.col("embedding").alias("qe"))
    )
    dense = (
        e.where(F.col("vec_id") != RRF_QVEC)
        .crossJoin(qv)
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(cosine(F.col("embedding"), F.col("qe")), 6).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), "doc_id")
        .limit(RRF_CAND)
    )
    drk = dense.withColumn(
        "cos_rk",
        F.row_number().over(Window.orderBy(F.col("cos").desc(), "doc_id")),
    ).select("doc_id", "cos_rk")
    rrf = F.round(
        F.coalesce(F.lit(1.0) / (RRF_K + F.col("bm25_rk")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (RRF_K + F.col("cos_rk")), F.lit(0.0)),
        6,
    )
    return (
        srk.join(drk, "doc_id", "full_outer")
        .select(
            "doc_id",
            rrf.alias("rrf"),
            F.col("bm25_rk").cast("int").alias("bm25_rk"),
            F.col("cos_rk").cast("int").alias("cos_rk"),
        )
        .orderBy(F.col("rrf").desc(), "doc_id")
        .limit(RRF_TOPK)
    )


ORACLE["doc_html_extract"] = r"""
    WITH h AS (
      SELECT doc_id,
             '<html><head><title>'
             || array_to_string(string_split_regex(trim(text), ' +')[1:3], ' ')
             || '</title></head><body><p>'
             || regexp_replace(text, ' and ', ' &amp; ', 'g')
             || '</p><script>track(1);</script></body></html>' AS html
      FROM documents WHERE length(trim(text)) > 0),
    x AS (
      SELECT doc_id,
             regexp_extract(html, '<title>([^<]*)</title>', 1) AS title,
             trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                 html, '<script>.*?</script>', ' ', 'g'),
                 '<[^>]+>', ' ', 'g'),
                 '&amp;', '&', 'g'),
                 ' +', ' ', 'g')) AS clean
      FROM h)
    SELECT doc_id, title, md5(clean) AS clean_hash,
           CAST(len(string_split_regex(clean, ' +')) AS BIGINT) AS n_tokens
    FROM x
"""


@q("doc_html_extract")
def doc_html_extract(spark: SparkSession, sf: str) -> DataFrame:
    """HTML text extraction — the parse step every fetched page passes
    through before any curation op sees it: drop script/style payloads,
    strip tags, unescape entities, collapse whitespace, and pull the
    <title> as structured metadata.

    Markup is synthesized deterministically from ``documents`` (title =
    first three words, body = the text with ' and ' entity-escaped, plus
    a <script> block that must NOT leak into the clean text), so the
    DuckDB twin constructs byte-identical pages and the value hash
    proves the whole extract chain — the doc_pii_scrub device applied to
    markup stripping.  All four rewrite passes use the Java∩RE2 regex
    dialect (no lookaround, no backrefs; non-greedy '.*?' is common).

    Scale shape: stateless regexp scans in one WholeStageCodegen span —
    zero shuffles, zero Python; the parse cost is linear in page bytes
    and embarrassingly parallel, exactly how the engine's fetch epoch
    runs its span parser (X1)."""
    d = load(spark, sf, "documents").where(F.length(F.trim("text")) > 0)
    title3 = F.array_join(F.slice(F.split(F.trim("text"), " +"), 1, 3), " ")
    html = F.concat(
        F.lit("<html><head><title>"),
        title3,
        F.lit("</title></head><body><p>"),
        F.regexp_replace("text", " and ", " &amp; "),
        F.lit("</p><script>track(1);</script></body></html>"),
    )
    h = d.select("doc_id", html.alias("html"))
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace("html", "<script>.*?</script>", " "),
                    "<[^>]+>",
                    " ",
                ),
                "&amp;",
                "&",
            ),
            " +",
            " ",
        )
    )
    return h.select(
        "doc_id",
        F.regexp_extract("html", "<title>([^<]*)</title>", 1).alias("title"),
        F.md5(clean).alias("clean_hash"),
        F.size(F.split(clean, " +")).cast("long").alias("n_tokens"),
    )


# --------------------------------------------- hashed linear quality model
QC_D = 4096  # feature buckets (3 hex chars of md5 — exact, no modulo bias)


ORACLE["doc_quality_classifier"] = f"""
    WITH w AS (
      SELECT b,
             CAST(('0x' || substr(md5(CAST(b AS VARCHAR)), 1, 4)) AS INT)
               - 32768 AS wt
      FROM range({QC_D}) t(b)),
    tok AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(x), 1, 3)) AS INT) AS b
      FROM (SELECT doc_id,
                   unnest(list_filter(string_split(lower(text), ' '),
                                      x -> x <> '')) AS x
            FROM documents WHERE length(text) > 0))
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tok,
           CAST(round(CAST(sum(wt) AS DOUBLE) / count(*)) AS BIGINT)
             AS logit_micro,
           CAST(round(CAST(sum(wt) AS DOUBLE) / count(*)) > 0 AS INT) AS keep
    FROM tok JOIN w USING (b)
    GROUP BY doc_id
"""


@q("doc_quality_classifier")
def doc_quality_classifier(spark: SparkSession, sf: str) -> DataFrame:
    """Linear quality-classifier INFERENCE with the hashing trick — the
    fasttext/DCLM curation shape: lowercase unigrams hash into QC_D
    buckets (3 hex chars of md5 — exactly 4096, no modulo bias), a
    bucket-indexed weight table scores each token, and the document keeps
    the mean weight as its logit.  The weight table is DATA-FREE (wt(b) =
    md5-derived int in [-32768, 32767] — the emb_random_projection sign-
    matrix device), so all three engines (Spark, DuckDB, the pytest's
    python recompute) reconstruct the identical "trained model" from
    nothing but the bucket ids.

    Parity device: weights are exact integers, the per-doc sum is an
    exact BIGINT, and the single inexact op is one correctly-rounded
    IEEE division + round-to-integer (away-from-zero ties in both
    engines) — the integer-grid family; `keep` is emitted as INT 0/1.

    Scale shape: the weight table is model-sized (QC_D rows — metadata at
    any corpus scale) and BROADCAST, exactly how a real classifier's
    coefficient vector ships to executors; tokens explode narrowly and
    the ONLY shuffle is the final doc_id hash agg with map-side partials.
    No Python, no per-token shuffle, no vocabulary join (the hashing
    trick's whole point at web scale: bounded model size, no OOV path)."""
    d = load(spark, sf, "documents").where(F.length("text") > 0)
    wts = spark.range(QC_D).select(
        F.col("id").cast("int").alias("b"),
        (
            F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 4), 16, 10)
            .cast("int")
            - 32768
        ).alias("wt"),
    )
    tok = d.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.lower("text"), " "), lambda x: x != "")
        ).alias("x"),
    ).select(
        "doc_id",
        F.conv(F.substring(F.md5("x"), 1, 3), 16, 10).cast("int").alias("b"),
    )
    logit = F.round(F.col("s").cast("double") / F.col("n_tok")).cast("long")
    return (
        tok.join(F.broadcast(wts), "b")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tok"), F.sum("wt").alias("s"))
        .select(
            "doc_id",
            F.col("n_tok").cast("long").alias("n_tok"),
            logit.alias("logit_micro"),
            (logit > 0).cast("int").alias("keep"),
        )
    )


# ------------------------------------------- SymSpell spell correction
SPELL_CORRUPT_MOD = 9  # ~11% of (doc, word) pairs get one char deleted


ORACLE["vocab_spell_correct"] = f"""
    WITH tok AS (
      SELECT doc_id, x AS w
      FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS x
            FROM documents)
      WHERE regexp_matches(x, '^[a-z]{{4,}}$')),
    c AS (
      SELECT w,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || w),
                   1, 4)) AS BIGINT) % {SPELL_CORRUPT_MOD} = 0 AS bad,
             CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || w
                   || ':d'), 1, 2)) AS BIGINT) % length(w) AS INT) AS di
      FROM tok),
    dict AS (SELECT w, CAST(count(*) AS BIGINT) AS freq FROM tok GROUP BY w),
    miss AS (
      SELECT t, CAST(count(*) AS BIGINT) AS n_occ
      FROM (SELECT substr(w, 1, di) || substr(w, di + 2) AS t
            FROM c WHERE bad)
      WHERE t NOT IN (SELECT w FROM dict)
      GROUP BY t),
    vars AS (
      SELECT DISTINCT
             unnest(list_transform(generate_series(1, length(w)),
                    i -> substr(w, 1, i - 1) || substr(w, i + 1))) AS variant,
             w, freq
      FROM dict),
    cand AS (
      SELECT m.t, v.w, v.freq, m.n_occ,
             row_number() OVER (PARTITION BY m.t
                                ORDER BY v.freq DESC, v.w) AS rn
      FROM miss m JOIN vars v ON m.t = v.variant)
    SELECT t AS misspelled, w AS suggestion, freq, n_occ
    FROM cand WHERE rn = 1
"""


@q("vocab_spell_correct")
def vocab_spell_correct(spark: SparkSession, sf: str) -> DataFrame:
    """SymSpell dictionary spell correction — the OCR/typo-repair pass a
    web-text pipeline runs before tokenization.  Misspellings are
    synthesized deterministically (the doc_html_extract device): each
    (doc, word) pair whose md5 lands in 1/9 of the space has one
    md5-chosen character deleted, so Spark, DuckDB, and the pytest's
    python recompute all see the byte-identical corrupted corpus with no
    fixture file.

    The correction itself is the SymSpell reduction: instead of a fuzzy
    scan, index the dictionary by its 1-deletion neighborhood and repair
    a misspelling with an EXACT-match join (a 1-char deletion of w is,
    by construction, a member of deletes(w)).  Suggestion = the matching
    dictionary word with the highest corpus frequency, ties to the
    lexicographically smallest — exact integers throughout, no distance
    function in the hot path at all.

    Scale shape: the deletion-neighborhood index is |vocab| * avg_len
    rows — it scales with the DICTIONARY, not the corpus, and the repair
    is one equi-join against it (Catalyst broadcasts it at test scale;
    at a 1e7-type web vocabulary it falls back to a hash join on the
    variant key, which is exactly SymSpell's hash-table lookup,
    distributed).  The candidate ranking window partitions by misspelled
    token — bounded by the handful of dictionary words sharing a
    deletion, never by corpus size."""
    tok = (
        load(spark, sf, "documents")
        .select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .where(F.col("w").rlike("^[a-z]{4,}$"))
    )
    key = F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("w"))
    bad = (
        F.pmod(
            F.conv(F.substring(F.md5(key), 1, 4), 16, 10).cast("long"),
            F.lit(SPELL_CORRUPT_MOD),
        )
        == 0
    )
    di = F.pmod(
        F.conv(F.substring(F.md5(F.concat(key, F.lit(":d"))), 1, 2), 16, 10).cast(
            "long"
        ),
        F.length("w"),
    ).cast("int")
    dict_df = tok.groupBy("w").agg(F.count("*").cast("long").alias("freq"))
    miss = (
        tok.withColumn("di", di)
        .where(bad)
        .select(
            F.concat(
                F.expr("substring(w, 1, di)"), F.expr("substring(w, di + 2)")
            ).alias("t")
        )
        .join(dict_df.select(F.col("w").alias("t")), "t", "left_anti")
        .groupBy("t")
        .agg(F.count("*").cast("long").alias("n_occ"))
    )
    variants = dict_df.select(
        "w",
        "freq",
        F.explode(
            F.expr(
                "transform(sequence(1, length(w)),"
                " i -> concat(substring(w, 1, i - 1), substring(w, i + 1)))"
            )
        ).alias("variant"),
    ).distinct()
    wrank = Window.partitionBy("t").orderBy(F.desc("freq"), F.asc("w"))
    return (
        miss.join(variants, miss.t == variants.variant)
        .withColumn("rn", F.row_number().over(wrank))
        .where(F.col("rn") == 1)
        .select(
            F.col("t").alias("misspelled"),
            F.col("w").alias("suggestion"),
            "freq",
            "n_occ",
        )
    )


# ------------------------------------------ Count-Min sketch heavy hitters
CMS_DEPTH = 4
CMS_WIDTH = 4096  # 3 hex chars of md5 — exact, no modulo bias
CMS_TOPK = 20


ORACLE["corpus_cms_counts"] = f"""
    WITH tok AS (
      SELECT x AS w
      FROM (SELECT unnest(string_split(lower(text), ' ')) AS x
            FROM documents)
      WHERE regexp_matches(x, '^[a-z]+$')),
    cells AS (
      SELECT i AS r,
             CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || w), 1, 3))
               AS INT) AS c,
             CAST(count(*) AS BIGINT) AS cnt
      FROM tok CROSS JOIN range({CMS_DEPTH}) t(i)
      GROUP BY 1, 2),
    topk AS (
      SELECT w, CAST(count(*) AS BIGINT) AS n_true
      FROM tok GROUP BY w ORDER BY n_true DESC, w LIMIT {CMS_TOPK}),
    est AS (
      SELECT q.w, min(cells.cnt) AS n_est
      FROM (SELECT t.w, i AS r,
                   CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || t.w),
                         1, 3)) AS INT) AS c
            FROM topk t CROSS JOIN range({CMS_DEPTH}) r(i)) q
      JOIN cells USING (r, c)
      GROUP BY q.w)
    SELECT t.w AS term, t.n_true, e.n_est
    FROM topk t JOIN est e USING (w)
"""


def _cms_cells(w):
    """The CMS_DEPTH (row, col) cells a term hashes to — md5-derived so
    Spark, DuckDB, and python agree byte-for-byte."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).cast("long").alias("r"),
                    F.conv(
                        F.substring(F.md5(F.concat(F.lit(f"{i}:"), w)), 1, 3), 16, 10
                    )
                    .cast("int")
                    .alias("c"),
                )
                for i in range(CMS_DEPTH)
            ]
        )
    )


@q("corpus_cms_counts")
def corpus_cms_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Count-Min sketch heavy hitters — the second mergeable-sketch
    family next to the HLL rollup (a11): approximate term frequencies
    from a FIXED-size structure.  The sketch is materialized as a
    (row, col, count) table of at most CMS_DEPTH x CMS_WIDTH cells, which
    makes it (a) exactly mergeable by cell-wise addition — partial
    aggregation IS the sketch merge, the property that lets 1000
    executors each sketch their shard and combine for free — and (b)
    fully SQL-expressible, so unlike binary-blob sketches this one gets a
    complete DuckDB twin (exact integers end to end; the CMS guarantee
    est >= true is asserted per-row in pytest).

    Query side: estimate the counts of the exact top-20 terms (the
    heavy-hitter readout) as min over the term's CMS_DEPTH cells.

    Scale shape: the token stream collapses into <= 16384 cells with
    map-side partials — the shuffle is sketch-sized, not corpus-sized;
    the readout join probes those cells for 20*4 keys (Catalyst
    broadcasts the sketch — it is model-sized by construction)."""
    tok = (
        load(spark, sf, "documents")
        .select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .where(F.col("w").rlike("^[a-z]+$"))
    )
    cells = (
        tok.select(_cms_cells(F.col("w")).alias("rc"))
        .groupBy(F.col("rc.r").alias("r"), F.col("rc.c").alias("c"))
        .agg(F.count("*").alias("cnt"))
    )
    topk = (
        tok.groupBy("w")
        .agg(F.count("*").cast("long").alias("n_true"))
        .orderBy(F.desc("n_true"), F.asc("w"))
        .limit(CMS_TOPK)
    )
    probes = topk.select("w", "n_true", _cms_cells(F.col("w")).alias("rc")).select(
        "w", "n_true", F.col("rc.r").alias("r"), F.col("rc.c").alias("c")
    )
    est = (
        probes.join(F.broadcast(cells), ["r", "c"])
        .groupBy("w", "n_true")
        .agg(F.min("cnt").alias("n_est"))
    )
    return est.select(F.col("w").alias("term"), "n_true", "n_est")


ORACLE["doc_global_order"] = """
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id) - 1
                AS BIGINT) AS global_pos
    FROM documents
"""


@q("doc_global_order")
def doc_global_order(spark: SparkSession, sf: str) -> DataFrame:
    """Global consecutive position assignment under a total order — the
    curriculum-ordering / training-shard-layout primitive (write the
    corpus in length-descending order, cut fixed-size shards by
    position).  The naive plan is row_number() over one unpartitioned
    window: a single task materializing the full corpus.  This is the
    scalable two-phase form, pure DataFrame API:

      1. repartitionByRange on the total key (range exchange — every
         partition holds a contiguous key interval, partition ids
         ascending with the order),
      2. per-partition local row_number (bounded window: partitioned by
         spark_partition_id),
      3. per-partition counts -> cumulative offsets (partition-count
         rows — metadata) broadcast back; global_pos = offset + local rn.

    Correctness does not depend on where the sampled range boundaries
    fall: the key (n_chars DESC, doc_id) is total and unique, so
    offset + local rank equals the global rank for ANY contiguous
    partitioning.  The oracle is the single-window definition itself.

    Scale shape: one range exchange of the corpus (the same cost a
    global sort-write pays anyway), one metadata agg, one broadcast —
    no single-task stage anywhere."""
    d = (
        load(spark, sf, "documents")
        .select("doc_id", "n_chars")
        .repartitionByRange(F.desc("n_chars"), F.asc("doc_id"))
        .withColumn("pid", F.spark_partition_id())
    )
    w_loc = Window.partitionBy("pid").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    local = d.withColumn("rn", F.row_number().over(w_loc))
    w_off = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        local.groupBy("pid")
        .agg(F.count("*").alias("cnt"))
        .withColumn("off", F.coalesce(F.sum("cnt").over(w_off), F.lit(0)))
        .select("pid", "off")
    )
    return local.join(F.broadcast(offsets), "pid").select(
        "doc_id", (F.col("off") + F.col("rn") - 1).cast("long").alias("global_pos")
    )


# --------------------------------------------- positional phrase search
PHRASE = ("table", "hash")  # fixed 2-term phrase (the index_bm25 device)
PHRASE_TOPK = 10


ORACLE["index_phrase_topk"] = f"""
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents),
    p1 AS (SELECT doc_id, pos FROM w WHERE word = '{PHRASE[0]}'),
    p2 AS (SELECT doc_id, pos FROM w WHERE word = '{PHRASE[1]}'),
    h AS (
      SELECT p1.doc_id, CAST(count(*) AS BIGINT) AS n_hits
      FROM p1 JOIN p2 ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1
      GROUP BY p1.doc_id)
    SELECT doc_id, n_hits FROM h
    ORDER BY n_hits DESC, doc_id LIMIT {PHRASE_TOPK}
"""


@q("index_phrase_topk")
def index_phrase_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Phrase query over POSITIONAL postings — the consumer that makes an
    inverted index (index_postings) support quoted search: occurrences of
    '{w1} {w2}' are the positions p in {w1}'s posting list with p+1 in
    {w2}'s, intersected per document; top docs by occurrence count with
    doc_id tie-break (the index_bm25_topk fixed-query device).

    Scale shape: only the two query terms' postings survive the filter —
    pushed below the shuffle, so the adjacency join moves two posting
    lists, not the corpus; the join keys on doc_id (co-partitioned with
    the per-doc count that follows), and the top-k is a TakeOrdered, not
    a global sort."""
    w = (
        load(spark, sf, "documents")
        .select("doc_id", F.posexplode(F.split("text", " ")).alias("i", "word"))
        # oracle positions are 1-based generate_subscripts
        .select("doc_id", (F.col("i") + 1).alias("pos"), "word")
    )
    p1 = w.where(F.col("word") == PHRASE[0]).select("doc_id", "pos")
    p2 = w.where(F.col("word") == PHRASE[1]).select(
        "doc_id", (F.col("pos") - 1).alias("pos")
    )
    return (
        p1.join(p2, ["doc_id", "pos"])
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_hits"))
        .orderBy(F.desc("n_hits"), F.asc("doc_id"))
        .limit(PHRASE_TOPK)
    )


# ------------------------------------------------ FineWeb-style domain cap
DOMAIN_CAP = 15  # max docs kept per source
CAP_SALT = 8


ORACLE["doc_domain_cap"] = f"""
    WITH r AS (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                         doc_id) AS rn
      FROM documents)
    SELECT doc_id, source FROM r WHERE rn <= {DOMAIN_CAP}
"""


@q("doc_domain_cap")
def doc_domain_cap(spark: SparkSession, sf: str) -> DataFrame:
    """Per-domain document cap — the FineWeb/RefinedWeb curation step that
    stops one giant site from dominating the corpus: keep at most
    DOMAIN_CAP docs per source, chosen by md5(doc_id) rank so the kept
    set is deterministic, uniform over the domain's docs, and stable
    under repartitioning and corpus append order.

    Scale shape: a hot domain holds millions of docs, so the naive
    per-source window is the SAME hot-host pole F5 defuses — re-apply
    the two-stage salted rank: stage 1 ranks within (source, salt) and
    keeps <= CAP per cell (a doc outside its cell's top-CAP cannot be in
    the source's top-CAP), stage 2 ranks the <= CAP*SALT survivors per
    source exactly.  The oracle is the single-window definition; equality
    is the F5 theorem (total key: md5, doc_id)."""
    d = load(spark, sf, "documents").select(
        "doc_id", "source", F.md5(F.col("doc_id").cast("string")).alias("k")
    )
    w1 = Window.partitionBy(
        "source", F.pmod(F.xxhash64("doc_id"), F.lit(CAP_SALT))
    ).orderBy("k", "doc_id")
    s1 = d.withColumn("rn1", F.row_number().over(w1)).where(
        F.col("rn1") <= DOMAIN_CAP
    )
    w2 = Window.partitionBy("source").orderBy("k", "doc_id")
    return (
        s1.withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") <= DOMAIN_CAP)
        .select("doc_id", "source")
    )


# --- C4-style line-level cleaning (round 5g) ---------------------------------
# Raffel et al. 2020 (C4): keep only lines that end in terminal punctuation,
# have enough words, and carry no javascript/lone-brace boilerplate; drop
# documents left with too few lines.  The fixture docs are single-line word
# soup, so the line structure is SYNTHESIZED deterministically (the
# vocab_spell_correct / doc_pii_scrub md5-augmentation device): the text is
# re-lined every C4_LINE_W words and each line's defects (missing terminal
# period, injected 'javascript', injected '{') are keyed by
# md5(doc_id:line_no) so both engines build byte-identical dirty lines.
C4_LINE_W = 8  # words per synthesized line
C4_MIN_LINE_WORDS = 5
C4_MIN_KEPT_LINES = 3

# 16-bit defect key for line i of doc_id (DuckDB spelling).
_C4_H = (
    "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' "
    "|| CAST(i AS VARCHAR)), 1, 4)) AS INT)"
)
_C4_BASE = (
    f"array_to_string(list_slice(ws, i*{C4_LINE_W} + 1, "
    f"i*{C4_LINE_W} + {C4_LINE_W}), ' ')"
)
# defect layering: h%7==0 -> boilerplate token, h%11==0 -> lone brace,
# h%5!=0 -> terminal period (so ~20% of lines lack one)
_C4_AUG = f"""CASE WHEN {_C4_H} % 5 != 0 THEN
             (CASE WHEN {_C4_H} % 11 = 0 THEN
                (CASE WHEN {_C4_H} % 7 = 0 THEN {_C4_BASE} || ' javascript required'
                      ELSE {_C4_BASE} END) || ' {{'
              ELSE
                (CASE WHEN {_C4_H} % 7 = 0 THEN {_C4_BASE} || ' javascript required'
                      ELSE {_C4_BASE} END) END) || '.'
           ELSE
             (CASE WHEN {_C4_H} % 11 = 0 THEN
                (CASE WHEN {_C4_H} % 7 = 0 THEN {_C4_BASE} || ' javascript required'
                      ELSE {_C4_BASE} END) || ' {{'
              ELSE
                (CASE WHEN {_C4_H} % 7 = 0 THEN {_C4_BASE} || ' javascript required'
                      ELSE {_C4_BASE} END) END)
           END"""

ORACLE["doc_c4_clean"] = f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws
      FROM documents WHERE length(text) > 0),
    a AS (
      SELECT doc_id,
             list_transform(
               generate_series(0, CAST(floor((len(ws) - 1) / {C4_LINE_W}) AS INT)),
               i -> {_C4_AUG}) AS aug
      FROM w),
    k AS (
      SELECT doc_id, aug,
             list_filter(aug, s ->
               ends_with(s, '.')
               AND len(string_split(s, ' ')) >= {C4_MIN_LINE_WORDS}
               AND strpos(s, 'javascript') = 0
               AND strpos(s, '{{') = 0) AS kept
      FROM a)
    SELECT doc_id,
           len(aug) AS n_lines,
           len(kept) AS n_kept,
           CAST(len(kept) >= {C4_MIN_KEPT_LINES} AS INT) AS keep_doc,
           -- array_to_string of an empty list is NULL in DuckDB; Spark's
           -- array_join gives '' — coalesce so both hash md5('')
           md5(coalesce(array_to_string(kept, chr(10)), '')) AS clean_hash
    FROM k
"""


@q("doc_c4_clean")
def doc_c4_clean(spark: SparkSession, sf: str) -> DataFrame:
    """C4 line-level cleaning gate (Raffel et al. 2020): re-line each doc
    every C4_LINE_W words with md5-keyed synthetic defects, then keep only
    lines that end in '.', have >= C4_MIN_LINE_WORDS words, and contain no
    'javascript' token or '{'; a doc survives with >= C4_MIN_KEPT_LINES
    kept lines.  Returns per-doc line counts, the keep flag, and the md5 of
    the cleaned text so the driver compares full content without shipping
    megabyte rows (the doc_pii_scrub device).

    Scale shape: stateless per-row array HOFs (split/transform/filter)
    inside WholeStageCodegen — zero shuffles, zero Python, linear in input
    splits; the read schema prunes to (doc_id, text).  At 100 TB this is
    the cheapest possible pass: one scan, no exchange, no driver state."""
    d = load(spark, sf, "documents").where(F.length("text") > 0)
    words = F.split(F.col("text"), " ")
    idx = F.sequence(
        F.lit(0), F.floor((F.size(words) - 1) / C4_LINE_W).cast("int")
    )

    def _aug(i):
        base = F.array_join(
            F.slice(words, i * C4_LINE_W + F.lit(1), C4_LINE_W), " "
        )
        h = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("doc_id").cast("string"),
                            F.lit(":"),
                            i.cast("string"),
                        )
                    ),
                    1,
                    4,
                ),
                16,
                10,
            )
            .cast("int")
        )
        s = F.when(
            h % 7 == 0, F.concat(base, F.lit(" javascript required"))
        ).otherwise(base)
        s = F.when(h % 11 == 0, F.concat(s, F.lit(" {"))).otherwise(s)
        return F.when(h % 5 != 0, F.concat(s, F.lit("."))).otherwise(s)

    def _keep(s):
        return (
            F.endswith(s, F.lit("."))
            & (F.size(F.split(s, " ")) >= C4_MIN_LINE_WORDS)
            & (F.instr(s, "javascript") == 0)
            & (F.instr(s, "{") == 0)
        )

    aug = F.transform(idx, _aug)
    kept = F.filter(aug, _keep)
    return d.select(
        "doc_id",
        F.size(aug).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
        (F.size(kept) >= C4_MIN_KEPT_LINES).cast("int").alias("keep_doc"),
        F.md5(F.array_join(kept, "\n")).alias("clean_hash"),
    )


# --- winnowing fingerprints (round 5g) ----------------------------------------
# Schleimer/Wilkerson/Aiken 2003 (MOSS): hash every k-gram, slide a window of
# w consecutive hashes, keep each window's minimum — guarantees any shared
# substring of length >= k + w - 1 shares a fingerprint, with density ~2/(w+1).
WIN_K = 4  # words per shingle
WIN_W = 5  # hashes per winnowing window

# order-insensitive 32-bit shingle hash both engines can compute (8 md5 hex
# digits -> int; birthday bound ~77k distinct shingles per corpus slice —
# fine at fixture scale, widen the substr for larger corpora)
_WIN_HASH_SQL = "CAST(('0x' || substr(md5({s}), 1, 8)) AS BIGINT)"

ORACLE["doc_winnow_fingerprint"] = f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    s AS (
      SELECT doc_id,
             list_transform(
               generate_series(0, len(ws) - {WIN_K}),
               i -> {_WIN_HASH_SQL.format(s=f"array_to_string(list_slice(ws, i + 1, i + {WIN_K}), ' ')")}) AS hs
      FROM w WHERE len(ws) >= {WIN_K + WIN_W - 1}),
    f AS (
      SELECT doc_id,
             list_sort(list_distinct(list_transform(
               generate_series(0, len(hs) - {WIN_W}),
               j -> list_min(list_slice(hs, j + 1, j + {WIN_W}))))) AS fps
      FROM s)
    SELECT doc_id,
           len(fps) AS n_fps,
           md5(array_to_string(list_transform(fps, v -> CAST(v AS VARCHAR)),
                               ',')) AS fp_hash
    FROM f
"""


@q("doc_winnow_fingerprint")
def doc_winnow_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD 2003 — the
    MOSS algorithm): hash all word k-grams, slide a w-hash window, keep
    each window's minimum.  The selected set is position-independent and
    guarantees any shared run of >= k+w-1 words between two documents
    shares at least one fingerprint — the local-minimum sampling that
    makes substring-level copy detection index-able (store (fingerprint,
    doc) postings, join on equality).  Returns the fingerprint-set size
    and an md5 over the sorted set so the driver value-checks the full
    selection.

    Parity device: the shingle hash is the first 8 md5 hex digits as a
    BIGINT (both engines, the doc_quality_classifier bucket idiom), so
    minima are taken over identical integers.

    Scale shape: stateless per-row array HOFs — zero shuffle, zero
    Python, ~2n/(w+1) fingerprints per n-word doc.  The downstream
    equality join this feeds is the indexed substring-dedup alternative
    to dup_ngram_spans' exact mining."""
    d = load(spark, sf, "documents")
    words = F.split(F.col("text"), " ")
    n = F.size(words)

    def _hash8(s):
        return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")

    hs = F.transform(
        F.sequence(F.lit(0), n - WIN_K),
        lambda i: _hash8(F.array_join(F.slice(words, i + F.lit(1), WIN_K), " ")),
    )
    d = d.where(n >= WIN_K + WIN_W - 1).select("doc_id", hs.alias("hs"))
    fps = F.array_sort(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(F.col("hs")) - WIN_W),
                lambda j: F.array_min(F.slice(F.col("hs"), j + F.lit(1), WIN_W)),
            )
        )
    )
    return d.select(
        "doc_id",
        F.size(fps).cast("long").alias("n_fps"),
        F.md5(
            F.array_join(F.transform(fps, lambda v: v.cast("string")), ",")
        ).alias("fp_hash"),
    )


# --- Heaps'-law vocabulary growth -------------------------------------------
GROWTH_BUCKETS = 10  # doc_id-ordered corpus prefixes measured (deciles)

ORACLE["corpus_vocab_growth"] = f"""
    WITH ws AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws
      FROM documents),
    w AS (
      SELECT doc_id,
             unnest(list_transform(ws[1:len(ws) - 1],
                                   (x, i) -> x || ' ' || ws[i + 1])) AS word
      FROM ws),
    f AS (SELECT word, min(doc_id) AS first_doc FROM w GROUP BY word),
    mx AS (SELECT max(doc_id) AS mx FROM documents),
    -- floor() explicitly: DuckDB CAST(double AS BIGINT) ROUNDS while
    -- Spark's cast truncates — floor is the shared semantics
    b AS (SELECT CAST(least(CAST(floor(f.first_doc * {GROWTH_BUCKETS}
                                       / (mx.mx + 1)) AS BIGINT),
                            {GROWTH_BUCKETS} - 1) AS INTEGER) AS bucket,
                 count(*) AS new_words
          FROM f CROSS JOIN mx GROUP BY 1),
    t AS (SELECT CAST(least(CAST(floor(doc_id * {GROWTH_BUCKETS}
                                       / (mx.mx + 1)) AS BIGINT),
                            {GROWTH_BUCKETS} - 1) AS INTEGER) AS bucket,
                 CAST(count(*) AS BIGINT) AS docs
          FROM documents CROSS JOIN mx GROUP BY 1)
    SELECT t.bucket AS bucket,
           CAST(sum(t2.docs) AS BIGINT) AS docs_seen,
           CAST(coalesce(sum(b2.new_words), 0) AS BIGINT) AS vocab_size
    FROM t
    JOIN t t2 ON t2.bucket <= t.bucket
    LEFT JOIN b b2 ON b2.bucket = t2.bucket
    GROUP BY t.bucket
"""


@q("corpus_vocab_growth")
def corpus_vocab_growth(spark: SparkSession, sf: str) -> DataFrame:
    """Heaps'-law vocabulary-growth curve: distinct BIGRAM vocabulary
    after each doc_id-ordered tenth of the corpus (bigrams, not unigrams:
    the fixture's 31-word unigram vocabulary saturates inside the first
    bucket — the ~900-bigram vocabulary keeps discovering new entries in
    every decile, a real Heaps curve) — the curve a tokenizer/
    dedup team watches to decide whether more crawl yields more
    vocabulary (saturating curve ⇒ diminishing data value).

    The classic formulation is a sequential scan; the distributed trick
    is that cumulative-distinct collapses to a plain aggregation:
    vocab(prefix t) = #{words whose FIRST occurrence doc <= t}, and
    first occurrence is just min(doc_id) per word — one hash agg.  The
    curve is then a cumulative sum over GROWTH_BUCKETS bucket counts
    (bounded — never a corpus-length running window).  Outputs are exact
    counts; the only float is the shared IEEE bucket quotient
    floor(doc_id*B/(max+1)) — identical double division in both engines
    (exact while doc_id*B < 2^53; widen to decimal beyond that).

    Scale shape: one map-side-combined (word, min) agg — the shuffle is
    vocabulary-sized, not token-sized; the bucket rollup and the
    B x B cumulative self-join are constant-sized.  At 10^12 tokens the
    plan is scan -> partial-min -> tiny rollup, the optimal one-pass
    answer to an apparently-sequential question."""
    d = load(spark, sf, "documents")
    words = F.filter(F.split("text", " "), lambda x: x != "")
    bigrams = F.zip_with(  # the corpus_bigram_topk zero-shuffle expression
        words,
        F.slice(words, 2, F.greatest(F.size(words) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    w = d.select("doc_id", F.explode(bigrams).alias("word")).where(
        F.col("word").contains(" ")
    )
    f = w.groupBy("word").agg(F.min("doc_id").alias("first_doc"))
    mx = d.agg(F.max("doc_id").alias("mx"))
    B = GROWTH_BUCKETS
    bucket_of = lambda c: F.least(  # noqa: E731
        F.floor(c * B / (F.col("mx") + 1)), F.lit(B - 1)
    ).cast("int")
    b = (
        f.crossJoin(F.broadcast(mx))
        .groupBy(bucket_of(F.col("first_doc")).alias("bucket"))
        .agg(F.count("*").alias("new_words"))
    )
    t = (
        d.crossJoin(F.broadcast(mx))
        .groupBy(bucket_of(F.col("doc_id")).alias("bucket"))
        .agg(F.count("*").alias("docs"))
    )
    t2 = t.select(F.col("bucket").alias("b2"), F.col("docs").alias("d2"))
    b2 = b.select(F.col("bucket").alias("b3"), F.col("new_words").alias("nw"))
    return (
        t.join(t2, F.col("b2") <= F.col("bucket"))
        .join(b2, F.col("b3") == F.col("b2"), "left")
        .groupBy("bucket")
        .agg(
            F.sum("d2").alias("docs_seen"),
            F.coalesce(F.sum("nw"), F.lit(0)).alias("vocab_size"),
        )
    )


# --- Corpus mixture drift (chi-square per word) -----------------------------
ORACLE["corpus_chi2_drift"] = """
    WITH g AS (
      SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8'
                  THEN 'a' ELSE 'b' END AS grp,
             text
      FROM documents),
    w AS (
      SELECT grp,
             unnest(list_filter(string_split(text, ' '), x -> x != '')) AS word
      FROM g),
    c AS (SELECT word,
                 CAST(sum(CASE WHEN grp = 'a' THEN 1 ELSE 0 END) AS BIGINT)
                   AS c_a,
                 CAST(sum(CASE WHEN grp = 'b' THEN 1 ELSE 0 END) AS BIGINT)
                   AS c_b
          FROM w GROUP BY word),
    n AS (SELECT sum(c_a) AS n_a, sum(c_b) AS n_b FROM c)
    SELECT word, c_a, c_b,
           round(
             (c_a - n_a * (c_a + c_b) / (n_a + n_b))
             * (c_a - n_a * (c_a + c_b) / (n_a + n_b))
             / (n_a * (c_a + c_b) / (n_a + n_b))
             + (c_b - n_b * (c_a + c_b) / (n_a + n_b))
             * (c_b - n_b * (c_a + c_b) / (n_a + n_b))
             / (n_b * (c_a + c_b) / (n_a + n_b)), 6) AS chi2
    FROM c CROSS JOIN n
"""


@q("corpus_chi2_drift")
def corpus_chi2_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Text-mixture drift monitor — the corpus-side twin of
    emb_drift_check: split the corpus into two md5 slices (in production:
    two crawl epochs / two sources) and flag vocabulary whose frequency
    shifted, via the per-word 2x2 chi-square homogeneity contribution
    (c - e)^2/e summed over the two slices.

    chi-square, not KL, on purpose: KL needs ln() whose last-ulp
    behaviour is libm-specific, while every chi2 input here is an exact
    integer count and each per-word statistic is ONE fixed-shape rational
    expression — and the output is PER-WORD (vocabulary-sized), so no
    cross-word double summation ever happens: nothing in this query can
    depend on summation order at all.

    Scale shape: one map-side-combined (word, slice-flag) count agg — the
    shuffle is vocabulary-sized, not token-sized; the 1-row totals frame
    broadcasts (crossJoin of an aggregate, the emb_covariance n device).
    At web scale this is the daily two-epoch distribution diff: one scan,
    model-sized everything after."""
    d = load(spark, sf, "documents")
    g = d.select(
        F.when(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "8", "a")
        .otherwise("b")
        .alias("grp"),
        "text",
    )
    w = g.select(
        "grp",
        F.explode(F.filter(F.split("text", " "), lambda x: x != "")).alias("word"),
    )
    c = w.groupBy("word").agg(
        F.sum(F.when(F.col("grp") == "a", 1).otherwise(0)).alias("c_a"),
        F.sum(F.when(F.col("grp") == "b", 1).otherwise(0)).alias("c_b"),
    )
    n = c.agg(F.sum("c_a").alias("n_a"), F.sum("c_b").alias("n_b"))
    e_a = F.col("n_a") * (F.col("c_a") + F.col("c_b")) / (F.col("n_a") + F.col("n_b"))
    e_b = F.col("n_b") * (F.col("c_a") + F.col("c_b")) / (F.col("n_a") + F.col("n_b"))
    chi2 = (F.col("c_a") - e_a) * (F.col("c_a") - e_a) / e_a + (
        F.col("c_b") - e_b
    ) * (F.col("c_b") - e_b) / e_b
    return c.crossJoin(F.broadcast(n)).select(
        "word", "c_a", "c_b", F.round(chi2, 6).alias("chi2")
    )


# --- Unicode NFC normalization ---------------------------------------------
# Pre-tokenization normalization is a universal first pass of every LLM text
# pipeline (BPE vocabularies are trained on NFC/NFKC-normalized bytes, and
# near-dup hashing breaks if 'é' sometimes arrives composed U+00E9 and
# sometimes decomposed 'e'+U+0301).  Spark has NO built-in Unicode
# normalizer, so this is a legitimate Arrow-vectorized pandas-UDF hot path
# (UD1 class) — never per-row Python.  The fixture text is ASCII, so
# decomposed forms are injected deterministically (md5-keyed, the
# doc_c4_clean synthetic-defect device) with identical codepoints on both
# engines; DuckDB's nfc_normalize() is the oracle.  Only Unicode-1.1-stable
# combining sequences are used (e+U+0301, A+U+030A, o+U+0308) so the two
# engines' Unicode table versions cannot disagree.
_NFC_SUFFIX_0 = " café"  # -> " café"
_NFC_SUFFIX_1 = " Ångström"  # -> " Ångström"


@q(
    "text_normalize_nfc",
    f"""
    WITH aug AS (
      SELECT doc_id,
             CASE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                       AS BIGINT) % 3
               WHEN 0 THEN text || ' cafe' || chr(769)
               WHEN 1 THEN text || ' A' || chr(778) || 'ngstro' || chr(776)
                         || 'm'
               ELSE text END AS t
      FROM documents),
    n AS (SELECT doc_id, t, nfc_normalize(t) AS norm FROM aug)
    SELECT doc_id,
           CAST(length(t) AS BIGINT) AS n_raw,
           CAST(length(norm) AS BIGINT) AS n_norm,
           (t != norm) AS changed,
           md5(norm) AS norm_md5
    FROM n
    """,
)
def text_normalize_nfc(spark: SparkSession, sf: str) -> DataFrame:
    """NFC-normalize every document: inject md5-keyed decomposed Unicode
    suffixes (1/3 of docs get ' cafe'+COMBINING ACUTE, 1/3 get a
    decomposed ' Ångström', 1/3 stay ASCII), normalize with an
    Arrow-batched pandas UDF over ``unicodedata.normalize('NFC', ...)``,
    and return codepoint lengths before/after, a changed flag, and the
    md5 of the normalized text (full-content comparison without shipping
    megabyte rows — the doc_pii_scrub device).

    Scale shape: stateless per-row map — zero shuffles, linear in input
    splits; the only non-codegen span is the normalization UDF itself,
    which transfers each batch once over Arrow and runs C-implemented
    ``str.translate``-grade normalization per batch.  At 100 TB this
    pass is scan-bound; the read schema prunes to (doc_id, text)."""
    d = load(spark, sf, "documents")
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    aug = F.when(h % 3 == 0, F.concat("text", F.lit(_NFC_SUFFIX_0))).when(
        h % 3 == 1, F.concat("text", F.lit(_NFC_SUFFIX_1))
    ).otherwise(F.col("text"))

    @F.pandas_udf("string")
    def nfc(s: pd.Series) -> pd.Series:
        # .str.normalize is NA-safe: a NULL text row flows through as NULL
        # (matching DuckDB's nfc_normalize(NULL)) instead of raising in map
        return s.str.normalize("NFC")

    n = d.select("doc_id", aug.alias("t")).withColumn("norm", nfc("t"))
    return n.select(
        "doc_id",
        F.length("t").cast("long").alias("n_raw"),
        F.length("norm").cast("long").alias("n_norm"),
        (F.col("t") != F.col("norm")).alias("changed"),
        F.md5("norm").alias("norm_md5"),
    )


# --- Corpus-wide line dedup ---------------------------------------------------
# The other half of C4's line-level cleaning (Raffel et al. 2020 §2.2 dedup):
# any line occurring MORE THAN ONCE IN THE CORPUS is boilerplate (nav bars,
# cookie banners, "subscribe" calls) and is removed everywhere except its
# first occurrence.  doc_c4_clean gates lines WITHIN a doc; this op dedups
# lines ACROSS docs.  The fixture's word-soup lines are almost all unique, so
# boilerplate is synthesized: md5(doc_id:i)-keyed lines are replaced by a
# canonical banner string (~1/5 of lines), giving true corpus-wide dups with
# byte-identical injection on both engines.
LDD_LINE_W = C4_LINE_W
LDD_BANNER = "subscribe to our newsletter for updates"
# packed global position: docs are KB-sized (n_chars <= ~5k), so idx < 1e5
# always; doc_id * 1e5 + idx is collision-free and fits BIGINT at any sf.
_LDD_PACK = 100_000

_LDD_H = (
    "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' "
    "|| CAST(i AS VARCHAR)), 1, 4)) AS INT)"
)

ORACLE["corpus_line_dedup"] = f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws
      FROM documents WHERE length(text) > 0),
    l AS (
      SELECT doc_id, i AS idx,
             CASE WHEN {_LDD_H} % 5 = 0 THEN '{LDD_BANNER}'
                  ELSE array_to_string(
                         list_slice(ws, i*{LDD_LINE_W} + 1,
                                    i*{LDD_LINE_W} + {LDD_LINE_W}), ' ')
             END AS line
      FROM w, unnest(generate_series(
               0, CAST(floor((len(ws) - 1) / {LDD_LINE_W}) AS INT))) AS t(i)),
    f AS (
      SELECT md5(line) AS h,
             min(doc_id * {_LDD_PACK} + idx) AS keep_key
      FROM l GROUP BY md5(line)),
    k AS (
      SELECT l.doc_id, l.idx, l.line,
             (l.doc_id * {_LDD_PACK} + l.idx = f.keep_key) AS kept
      FROM l JOIN f ON md5(l.line) = f.h)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(kept AS INT)) AS BIGINT) AS n_kept,
           md5(coalesce(string_agg(CASE WHEN kept THEN line END,
                                   chr(10) ORDER BY idx), '')) AS clean_hash
    FROM k GROUP BY doc_id
"""


@q("corpus_line_dedup")
def corpus_line_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-WIDE line dedup (C4 §2.2): every line that occurs more than
    once across the whole corpus survives only at its globally-first
    occurrence (min packed ``doc_id*1e5 + idx`` — exact-integer argmin,
    no float tie surface).  Returns per-doc line counts and the md5 of
    the scrubbed text (the doc_pii_scrub full-content device).

    Scale shape — THE canonical web-corpus dedup plan: (1) re-line +
    hash, narrow; (2) groupBy md5(line) with map-side partial min — the
    shuffle carries (16-byte hash, 8-byte key) pairs, never line text;
    (3) join the keep-keys back ON THE SAME HASH partitioning (no extra
    exchange beyond the agg's); (4) one doc_id shuffle to rebuild docs.
    A hot banner line ("subscribe...") occurring 10^9 times partial-
    aggregates to one row per map task before the shuffle, so the
    boilerplate pole combines away map-side."""
    d = load(spark, sf, "documents").where(F.length("text") > 0)
    ws = F.split(F.col("text"), " ")
    h16 = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.col("i").cast("string"),
                )
            ),
            1,
            4,
        ),
        16,
        10,
    ).cast("int")
    l = (
        d.select(
            "doc_id",
            F.posexplode(
                F.sequence(
                    F.lit(0), F.floor((F.size(ws) - 1) / LDD_LINE_W).cast("int")
                )
            ).alias("pos", "i"),
            ws.alias("ws"),
        )
        .select(
            "doc_id",
            F.col("i").alias("idx"),
            F.when(h16 % 5 == 0, F.lit(LDD_BANNER))
            .otherwise(
                F.array_join(
                    F.slice("ws", F.col("i") * LDD_LINE_W + 1, LDD_LINE_W), " "
                )
            )
            .alias("line"),
        )
        .withColumn("h", F.md5("line"))
        .withColumn(
            "packed", F.col("doc_id") * _LDD_PACK + F.col("idx").cast("long")
        )
    )
    firsts = l.groupBy("h").agg(F.min("packed").alias("keep_key"))
    k = l.join(firsts, "h").withColumn(
        "kept", F.col("packed") == F.col("keep_key")
    )
    kept_struct = F.when(F.col("kept"), F.struct("idx", "line"))
    return k.groupBy("doc_id").agg(
        F.count("*").alias("n_lines"),
        F.sum(F.col("kept").cast("int")).alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda x: x["line"],
                ),
                "\n",
            )
        ).alias("clean_hash"),
    )


# --- Simpson lexical diversity ------------------------------------------------
# Corpus-mixture health metric: Simpson's index D = Σ n_i(n_i-1) / (N(N-1))
# (the probability two tokens drawn without replacement are the same word) —
# low D = diverse vocabulary, D→1 = degenerate repetition.  Chosen over
# Shannon entropy ON PURPOSE: entropy needs ln(), whose libm rounding is not
# pinned across engines, while Simpson is exact-integer up to ONE final
# correctly-rounded division (the corpus_chi2_drift no-libm discipline).
@q(
    "corpus_diversity_simpson",
    """
    WITH w AS (
      SELECT source, unnest(string_split(text, ' ')) AS word
      FROM documents WHERE length(text) > 0),
    c AS (
      SELECT source, word, CAST(count(*) AS BIGINT) AS n
      FROM w GROUP BY source, word),
    s AS (
      SELECT source,
             CAST(sum(n) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_vocab,
             CAST(sum(n * (n - 1)) AS BIGINT) AS num
      FROM c GROUP BY source)
    SELECT source, n_tokens, n_vocab,
           round(CAST(num AS DOUBLE)
                 / (CAST(n_tokens AS DOUBLE) * (n_tokens - 1)), 6)
             AS simpson
    FROM s WHERE n_tokens > 1
    """,
)
def corpus_diversity_simpson(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source Simpson lexical diversity: exact integer word counts,
    exact integer numerator Σ n(n-1), ONE correctly-rounded division per
    source (no libm surface at all — see module comment).

    Scale shape: explode + (source, word) groupBy partial-aggregates
    map-side, so the shuffle carries one row per (partition, source,
    word) — vocabulary-bounded, not token-bounded; the per-source
    reduction collapses to |sources| rows with a second map-side
    combine.  The repeated-token pole (a source that is one word 10^9
    times) combines to a single row per map task before either
    shuffle."""
    w = load(spark, sf, "documents").where(F.length("text") > 0).select(
        "source", F.explode(F.split("text", " ")).alias("word")
    )
    c = w.groupBy("source", "word").agg(F.count("*").alias("n"))
    s = c.groupBy("source").agg(
        F.sum("n").alias("n_tokens"),
        F.count("*").alias("n_vocab"),
        F.sum(F.col("n") * (F.col("n") - 1)).alias("num"),
    )
    return s.where(F.col("n_tokens") > 1).select(
        "source",
        "n_tokens",
        "n_vocab",
        F.round(
            F.col("num").cast("double")
            / (F.col("n_tokens").cast("double") * (F.col("n_tokens") - 1)),
            6,
        ).alias("simpson"),
    )
