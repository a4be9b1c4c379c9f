"""Multimodal column plumbing: opaque ``binary`` payloads + typed metadata.

The image/audio libraries are not in this container, so the *decode* steps
are deterministic fakes behind ``_FAKE_DECODE`` (clearly marked; swap in
PIL/ffmpeg bodies in production — the Spark-side contracts are the real
deliverable and are fully tested):

- schema: media payload as BinaryType + metadata struct, never strings;
- batch shape: ``mapInPandas`` iterator-of-batches so one task never
  materializes more than ``arrow.maxRecordsPerBatch`` payloads (the 100 TB
  constraint: media bytes dwarf text, so decode must stream);
- partitioning: payload rows are processed where they land — no shuffle is
  introduced by decode/feature steps (narrow chain after the scan).

Rows-only for the driver (binary ops are outside DuckDB parity);
tests/test_pipeline_ops.py pins determinism and schema.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from analytics.common import load, registry

QUERIES, ORACLE, q = registry()

_FAKE_DECODE = True  # real decode (PIL / soundfile / pyav) not available here


def media_table(spark: SparkSession, sf: str) -> DataFrame:
    """documents → synthetic media rows: payload bytes derived
    deterministically from the text (stands in for fetched image/audio
    bytes), media_type from doc_id."""
    d = load(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.element_at(
            F.array(F.lit("image/png"), F.lit("audio/wav"), F.lit("video/mp4")),
            (F.pmod("doc_id", F.lit(3)) + 1).cast("int"),
        ).alias("media_type"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )


DECODED = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_s", DoubleType()),
        StructField("feature", ArrayType(DoubleType())),
    ]
)


def decode_media(media: DataFrame) -> DataFrame:
    """Decode + feature-extract via mapInPandas (UD2 batch contract).

    FAKE decode: metadata and an 8-dim feature vector are derived
    deterministically from the payload bytes (sha-free, numpy-vectorized
    per batch).  Production swaps the marked block for a real decoder with
    the identical signature/schema.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            sizes = pdf["payload"].map(len).to_numpy(dtype=np.int64)
            if _FAKE_DECODE:
                # --- deterministic fake decoder (see module docstring) ---
                h = np.array(
                    [sum(b[:16]) + len(b) for b in pdf["payload"]], dtype=np.int64
                )
                width = (64 + (h % 1024)).astype(np.int32)
                height = (64 + ((h // 7) % 1024)).astype(np.int32)
                duration = np.where(
                    pdf["media_type"].to_numpy() == "image/png", 0.0, (h % 3600) / 10.0
                )
                feature = [
                    [float((hi >> (4 * j)) & 0xF) / 15.0 for j in range(8)] for hi in h
                ]
            else:  # pragma: no cover - production path
                raise NotImplementedError("real media decode needs PIL/pyav")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": sizes,
                    "width": width,
                    "height": height,
                    "duration_s": duration,
                    "feature": feature,
                }
            )

    return media.mapInPandas(run, DECODED)


@q("media_decode_stub")
def media_decode_stub(spark: SparkSession, sf: str) -> DataFrame:
    """Binary payload → decoded metadata + feature vector (rows-only)."""
    out = decode_media(media_table(spark, sf))
    return out.select(
        "doc_id",
        "media_type",
        "n_bytes",
        "width",
        "height",
        F.round("duration_s", 2).alias("duration_s"),
        F.round(F.element_at("feature", 1), 4).alias("f0"),
    )


@q("media_frame_sample")
def media_frame_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Frame sampling plumbing for video rows: every 10th frame index up to
    a duration-derived frame count — native sequence/explode, no Python.
    (rows-only)"""
    decoded = decode_media(media_table(spark, sf))
    vids = decoded.where(F.col("media_type") == "video/mp4").withColumn(
        "n_frames", (F.col("duration_s") * 24).cast("int")
    )
    return (
        vids.where(F.col("n_frames") > 0)
        .select(
            "doc_id",
            "n_frames",
            F.explode(
                F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(240))
            ).alias("frame_idx"),
        )
    )


@q("media_phash_dedup")
def media_phash_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Perceptual-hash media dedup (rows-only): quantize the decoded
    feature vector to a compact binary signature (bit j = feature[j] >=
    0.5 — the aHash construction over the fake decoder's features), then
    group exact signature matches per media type and report duplicate
    clusters with their canonical (lowest) doc_id.

    Scale shape: the signature is computed inside the same narrow
    post-decode projection (no extra pass over payload bytes), and the
    only shuffle is the (media_type, phash) groupBy — an 8-byte key with
    map-side partial counts, the exact-dedup D2 pattern applied to the
    media modality.  Production swaps the fake feature extractor for a
    real DCT phash; the clustering plumbing is unchanged."""
    decoded = decode_media(media_table(spark, sf))
    bits = F.aggregate(
        F.zip_with(
            "feature",
            F.sequence(F.lit(0), F.size("feature") - 1),
            # 2^j via pow (shiftleft needs a literal shift amount); exact
            # in double for j <= 52, and the signature is 8 bits wide
            lambda x, j: F.when(
                x >= 0.5, F.pow(F.lit(2.0), j.cast("double")).cast("long")
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, b: acc + b,
    )
    sigs = decoded.select("doc_id", "media_type", bits.alias("phash"))
    return (
        sigs.groupBy("media_type", "phash")
        .agg(
            F.count("*").alias("n_members"),
            F.min("doc_id").alias("canonical_doc"),
        )
        .where(F.col("n_members") >= 2)
    )


# Interleaved text+media packing (the BASELINE.json input_hint payload:
# spans of kind text|image|audio|video packed into fixed context windows).
PACK_W = 20  # words per text span
MEDIA_TOK = 64  # token budget one media span consumes (vision-token cost)
PACK_CTX = 512  # context-window length in tokens

# ------- shared chunk-synthesis device (single-sourced, r05 review) -------
# media_interleaved_pack and media_caption_pairs must agree on the exact
# same chunking, media-presence draw and kind mapping (their span sets are
# cross-checked by pytest), so every piece of the synthesis exists ONCE per
# engine: editing a threshold edits both ops together.
_CHUNK_MD5_SQL = "md5(CAST(doc_id AS VARCHAR) || '_' || CAST(i AS VARCHAR))"
_MEDIA_PRESENT_SQL = f"substring({_CHUNK_MD5_SQL}, 1, 1) <= '4'"
_MEDIA_KIND_SQL = f"""CASE WHEN substring({_CHUNK_MD5_SQL}, 2, 1) <= '4' THEN 'image'
                  WHEN substring({_CHUNK_MD5_SQL}, 2, 1) <= '9' THEN 'audio'
                  ELSE 'video' END"""
_CAP_TOK_SQL = f"least({PACK_W}, n_words - i * {PACK_W})"


def _chunk_ctes_sql(extra: str = "") -> str:
    """The d/c oracle CTEs: one row per PACK_W-word chunk of each
    non-empty doc, carrying ``extra`` columns verbatim."""
    return f"""d AS (
      SELECT doc_id,{extra}
             CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT) AS n_words
      FROM documents WHERE length(trim(text)) > 0),
    c AS (
      SELECT *, unnest(generate_series(
               0, CAST(ceil(n_words / {PACK_W}.0) AS BIGINT) - 1)) AS i
      FROM d)"""


def _chunk_rows(d: DataFrame, extra: list) -> DataFrame:
    """Spark twin of _chunk_ctes_sql: (doc_id, *extra, n_words, i) chunk
    rows; ``extra`` is a list of (alias, Column) carried through."""
    return d.select(
        "doc_id",
        *[c.alias(a) for a, c in extra],
        F.size(F.split(F.trim("text"), " +")).cast("long").alias("n_words"),
    ).select(
        "*",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"),
                F.ceil(F.col("n_words") / F.lit(float(PACK_W))).cast("long") - 1,
            )
        ).alias("i"),
    )


def _chunk_md5():
    return F.md5(
        F.concat_ws("_", F.col("doc_id").cast("string"), F.col("i").cast("string"))
    )


def _media_present(h):
    return F.substring(h, 1, 1) <= "4"


def _media_kind(h):
    return (
        F.when(F.substring(h, 2, 1) <= "4", "image")
        .when(F.substring(h, 2, 1) <= "9", "audio")
        .otherwise("video")
    )


def _cap_tok():
    return F.least(
        F.lit(PACK_W).cast("long"), F.col("n_words") - F.col("i") * PACK_W
    )


ORACLE["media_interleaved_pack"] = f"""
    WITH {_chunk_ctes_sql(" source,")},
    s AS (
      SELECT doc_id, source, 2 * i AS pos, 'text' AS kind,
             {_CAP_TOK_SQL} AS n_tok
      FROM c
      UNION ALL
      SELECT doc_id, source, 2 * i + 1,
             {_MEDIA_KIND_SQL},
             {MEDIA_TOK}
      FROM c
      WHERE {_MEDIA_PRESENT_SQL}),
    p AS (
      SELECT *, sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id, pos
                                 ROWS UNBOUNDED PRECEDING) - n_tok AS cum
      FROM s)
    SELECT doc_id, pos, kind, CAST(n_tok AS BIGINT) AS n_tok,
           CAST(floor(CAST(cum AS DOUBLE) / {PACK_CTX}) AS BIGINT) AS seq_id,
           CAST(cum % {PACK_CTX} AS BIGINT) AS offset_in_seq
    FROM p
"""


def interleave_pack(d: DataFrame) -> DataFrame:
    """Core interleaved packer over any (doc_id, source, text) frame —
    shared by the stand-alone op and pipeline_multimodal_corpus.
    Returns (doc_id, source, pos, kind, n_tok, seq_id, offset_in_seq)."""
    from pyspark.sql import Window

    base = _chunk_rows(d, [("source", F.col("source"))])
    h = _chunk_md5()
    text_span = F.struct(
        (2 * F.col("i")).alias("pos"),
        F.lit("text").alias("kind"),
        _cap_tok().cast("long").alias("n_tok"),
    )
    media_span = F.struct(
        (2 * F.col("i") + 1).alias("pos"),
        _media_kind(h).alias("kind"),
        F.lit(MEDIA_TOK).cast("long").alias("n_tok"),
    )
    spans = base.select(
        "doc_id",
        "source",
        F.explode(
            F.when(_media_present(h), F.array(text_span, media_span)).otherwise(
                F.array(text_span)
            )
        ).alias("s"),
    ).select("doc_id", "source", "s.pos", "s.kind", "s.n_tok")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id", "pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (F.sum("n_tok").over(w) - F.col("n_tok")).alias("cum")
    return spans.select("doc_id", "source", "pos", "kind", "n_tok", cum).select(
        "doc_id",
        "source",
        "pos",
        "kind",
        "n_tok",
        F.floor(F.col("cum").cast("double") / PACK_CTX).cast("long").alias("seq_id"),
        (F.col("cum") % PACK_CTX).alias("offset_in_seq"),
    )


@q("media_interleaved_pack")
def media_interleaved_pack(spark: SparkSession, sf: str) -> DataFrame:
    """Interleaved text+media sequence packing — the multimodal twin of
    ``doc_pack_sequences`` over exactly the input-hint payload shape
    (spans of kind text|image|audio|video in document order).

    Spans are synthesized deterministically from ``documents``: the text
    is cut into PACK_W-word spans; after span *i* a media span (kind by
    md5 hex digit — the cross-engine device from emb_random_projection)
    is interleaved for ~5/16 of positions, costing a fixed MEDIA_TOK
    token budget (the vision-token accounting real VLM packers do).
    Every span then gets its context window (``seq_id``) and offset via
    a per-source running token total in (doc_id, pos) order.

    Scale shape: the explode is narrow and bounded (×n_words/PACK_W per
    doc — no join, no Python); the single shuffle is the per-source
    packing window, so shards pack independently exactly like the
    text-only packer — the embarrassingly-parallel plan a 100x corpus
    needs.  Media spans are never split across windows implicitly:
    offset_in_seq + n_tok may cross the boundary only the way the
    text packer's concat-and-chunk contract already allows."""
    d = load(spark, sf, "documents").where(F.length(F.trim("text")) > 0)
    return interleave_pack(d).drop("source")


# --- media→caption pair mining ---------------------------------------------
ORACLE["media_caption_pairs"] = f"""
    WITH {_chunk_ctes_sql('''
             string_split_regex(trim(text), ' +') AS words,''')},
    m AS (
      SELECT doc_id, words, i, {_CAP_TOK_SQL} AS cap_tok
      FROM c WHERE {_MEDIA_PRESENT_SQL})
    SELECT doc_id,
           CAST(2 * i + 1 AS BIGINT) AS media_pos,
           {_MEDIA_KIND_SQL} AS kind,
           array_to_string(
             list_slice(words, i * {PACK_W} + 1, i * {PACK_W} + cap_tok),
             ' ') AS caption,
           CAST(cap_tok AS BIGINT) AS cap_tok
    FROM m
    """


@q("media_caption_pairs")
def media_caption_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """(media span → caption) pair mining over the interleaved corpus —
    the MMC4/OBELICS primitive that turns interleaved text+media
    documents into aligned training pairs: each media span is paired
    with its ADJACENT preceding text span's actual words (production
    systems then re-rank candidate pairings with CLIP similarity; the
    adjacency pairing is the deterministic backbone they all start
    from).

    Spans are the SAME deterministic synthesis as media_interleaved_pack
    (md5 chunk digits decide media presence at ~5/16 of positions and
    the image/audio/video kind), so the pair set is exactly the media
    spans that packer emits — but here the caption carries the real
    word payload, sliced from the document text at the span's word
    range, not just a token count.

    Scale shape: ZERO shuffle — one documents scan, a bounded narrow
    explode (n_words/PACK_W chunk rows per doc), an md5 filter, and an
    array slice, all inside WholeStageCodegen.  The 100 TB version is
    the identical plan: caption extraction is embarrassingly parallel
    per document, and the pair table partitions naturally by the
    upstream doc layout with no skew surface at all."""
    d = load(spark, sf, "documents").where(F.length(F.trim("text")) > 0)
    base = _chunk_rows(d, [("words", F.split(F.trim("text"), " +"))])
    h = _chunk_md5()
    cap_tok = _cap_tok()
    return (
        base.where(_media_present(h))
        .select(
            "doc_id",
            (2 * F.col("i") + 1).cast("long").alias("media_pos"),
            _media_kind(h).alias("kind"),
            F.array_join(
                F.slice(
                    F.col("words"),
                    (F.col("i") * PACK_W + 1).cast("int"),
                    cap_tok.cast("int"),
                ),
                " ",
            ).alias("caption"),
            cap_tok.alias("cap_tok"),
        )
    )
