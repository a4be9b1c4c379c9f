"""D1/D2/D3 — partitioned URL-seen filter sidecar + exact dedup anti-join.

The filter is cross-epoch persistent state (unlike Spark's per-query runtime
bloom join pruning, which is also enabled — SURVEY.md §4 O8): one bloom or
cuckoo (engine/cuckoo.py) blob per ``part_id = pmod(url_hash,
N_FILTER_PARTS)`` partition, stored as a binary column row (SURVEY.md §1.2
seen_filter).  The blob table has two Spark paths, both cogrouped
``applyInPandas`` (UD4) over Arrow batches (BASELINE.json:6 "per-partition
membership via Arrow-batched pandas UDFs"), numpy-vectorized except the
cuckoo insert's per-hash loop (engine/cuckoo.py ``insert_many``):

  * the probe (D1, :func:`probe_filter`): the candidate rows cross Arrow
    once and come back carrying their verdict; the engine caches that
    result, so the two routes of :func:`flag_new` read one probe;
  * the rewrite (D3, :func:`update_filter`), the only way blobs are
    written: an epoch inserts its new hashes with it, and
    :func:`init_filter` calls it to insert the seed hashes into one empty
    blob per part.  The crawl is single-pass, so no hash is ever removed.

Each filter-kind rule is written once, in the three blob helpers
``_empty_blob``, ``_probe_blob`` and ``_insert_blob``.

Exactness guarantee: the filter only *routes* — candidates it has definitely
never seen skip the expensive anti-join against the full frontier key set;
"maybe seen" candidates (true hits + false positives) still go through the
exact ``left_anti`` join (D2).  The URL-seen set is therefore exact
regardless of the filter's false-positive rate (BASELINE.json:6).

At 10^10-URL scale this is the shuffle cut that matters: the frontier key
set is ~80 GB of url_hash; the anti-join only ever shuffles the (small)
maybe-seen fraction of each epoch's discoveries, while the blobs
(N_FILTER_PARTS × nbits/8 bytes) stay partition-aligned with the candidate
stream — the cogroup shuffles candidates by part_id (1 shuffle) and blobs
(tiny) only.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StructField, StructType

from engine import cuckoo
from engine.schemas import SEEN_FILTER

_COLS = [f.name for f in SEEN_FILTER.fields]
DEFAULT_NBITS = 1 << 22  # 4 Mbit = 512 KiB per partition blob
DEFAULT_NHASH = 5


def _positions(hashes: np.ndarray, nbits: int, nhash: int) -> np.ndarray:
    """(n, nhash) bit positions via double hashing over the 64-bit url_hash."""
    u = hashes.astype(np.int64).view(np.uint64)
    h1 = u % np.uint64(nbits)
    h2 = ((u >> np.uint64(31)) | np.uint64(1)) % np.uint64(nbits)
    i = np.arange(nhash, dtype=np.uint64)
    return (h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(nbits)


def _probe_bits(bits: np.ndarray, pos: np.ndarray) -> np.ndarray:
    member = np.ones(pos.shape[0], dtype=bool)
    for j in range(pos.shape[1]):
        p = pos[:, j]
        member &= ((bits[p >> 3] >> (p & 7).astype(np.uint8)) & 1).astype(bool)
    return member


def _set_bits(bits: np.ndarray, pos: np.ndarray) -> None:
    flat = pos.reshape(-1)
    np.bitwise_or.at(bits, flat >> 3, (np.uint8(1) << (flat & 7).astype(np.uint8)))


def with_part_id(df: DataFrame, n_parts: int) -> DataFrame:
    return df.withColumn("part_id", F.pmod(F.col("url_hash"), F.lit(n_parts)).cast("int"))


def _empty_blob(kind: str, nbits: int) -> bytes:
    if kind == "cuckoo":
        table = cuckoo.new_table(cuckoo.buckets_for(nbits))
        return cuckoo.to_blob(table, np.array([], dtype=np.int64))
    return bytes(nbits // 8)


def _probe_blob(kind: str, nbits: int, nhash: int, blob: bytes, h: np.ndarray) -> np.ndarray:
    if kind == "cuckoo":
        return cuckoo.probe_many(*cuckoo.from_blob(blob, cuckoo.buckets_for(nbits)), h)
    return _probe_bits(np.frombuffer(blob, dtype=np.uint8), _positions(h, nbits, nhash))


def _insert_blob(kind: str, nbits: int, nhash: int, blob: bytes, h: np.ndarray) -> bytes:
    """``blob`` with ``h`` inserted."""
    if kind == "cuckoo":
        table, stash = cuckoo.from_blob(blob, cuckoo.buckets_for(nbits))
        stash = cuckoo.insert_many(table, stash, h)
        return cuckoo.to_blob(table, stash)
    bits = np.frombuffer(blob, dtype=np.uint8).copy()
    _set_bits(bits, _positions(h, nbits, nhash))
    return bits.tobytes()


def update_filter(blobs: DataFrame, hashes: DataFrame, n_parts: int, epoch: int) -> DataFrame:
    """D3, the one path that writes blobs: cogroup ``hashes`` with the blob
    rows by part_id (one shuffle of the hashes; the blobs stay
    partition-aligned) and insert each part's hashes.  A part with no
    hashes keeps its row unchanged; an edited part takes ``epoch`` and
    ``n_items`` grows by the hash count.  A part without a blob row fails
    the job (:func:`init_filter` writes a row for every part).

    NB: never union null rows into the url_hash column — a nullable int64
    batch arrives in pandas as float64 and large hashes silently lose
    precision (observed as bloom false negatives -> dedup leaks)."""
    keyed = with_part_id(hashes.select("url_hash"), n_parts)

    def edit(h_pdf: pd.DataFrame, blob_pdf: pd.DataFrame) -> pd.DataFrame:
        if h_pdf.empty:
            return blob_pdf[_COLS]
        assert not blob_pdf.empty, "no blob row for a part with hashes to insert"
        row = blob_pdf.iloc[0]
        assert pd.api.types.is_integer_dtype(h_pdf["url_hash"]), "url_hash must stay int64"
        h = h_pdf["url_hash"].to_numpy(dtype=np.int64)
        nbits, nhash = int(row["nbits"]), int(row["nhash"])
        blob = _insert_blob(row["kind"], nbits, nhash, row["bits"], h)
        n_items = int(row["n_items"]) + len(h)
        return pd.DataFrame(
            [(int(row["part_id"]), row["kind"], nbits, nhash, blob, n_items, epoch)],
            columns=_COLS,
        )

    return (
        keyed.groupBy("part_id")
        .cogroup(blobs.groupBy("part_id"))
        .applyInPandas(edit, SEEN_FILTER)
    )


def init_filter(
    spark: SparkSession,
    hashes: DataFrame,
    n_parts: int,
    nbits: int = DEFAULT_NBITS,
    nhash: int = DEFAULT_NHASH,
    kind: str = "bloom",
) -> DataFrame:
    """Blobs for ALL n_parts partitions, seeded with ``hashes``: the D3
    rewrite of one empty blob row per part, at epoch 0.

    ``kind``: 'bloom' (engine default) or 'cuckoo' (engine/cuckoo.py —
    lower FPR at equal bits; BASELINE.json:6 names both).  Probe/update
    dispatch on the kind stored in each blob row, so mixed catalogs read
    correctly.
    """
    empty = spark.range(n_parts).select(
        F.col("id").cast("int").alias("part_id"),
        F.lit(kind).alias("kind"),
        F.lit(nbits).cast("long").alias("nbits"),
        F.lit(nhash).cast("int").alias("nhash"),
        F.lit(_empty_blob(kind, nbits)).alias("bits"),
        F.lit(0).cast("long").alias("n_items"),
        F.lit(0).cast("int").alias("epoch"),
    )
    return update_filter(empty, hashes, n_parts, 0)


def probe_filter(candidates: DataFrame, blobs: DataFrame, n_parts: int) -> DataFrame:
    """D1: adds ``maybe_seen`` (and ``part_id``) to every candidate row.

    One cogrouped applyInPandas (UD4) over the full candidate rows, numpy-
    vectorized per partition: the rows cross Arrow once and come back with
    their verdict, so no join-back is needed.  Integer columns must be
    null-free: a nullable int64 batch arrives in pandas as float64 (see
    :func:`update_filter`)."""
    cands = with_part_id(candidates, n_parts)
    out_schema = StructType(cands.schema.fields + [StructField("maybe_seen", BooleanType())])
    cols = cands.columns

    def probe(cand_pdf: pd.DataFrame, blob_pdf: pd.DataFrame) -> pd.DataFrame:
        if cand_pdf.empty:
            return pd.DataFrame(columns=cols + ["maybe_seen"])
        assert not blob_pdf.empty, "no blob row for a part with candidates to probe"
        row0 = blob_pdf.iloc[0]
        assert pd.api.types.is_integer_dtype(cand_pdf["url_hash"]), "url_hash must stay int64"
        h = cand_pdf["url_hash"].to_numpy(dtype=np.int64)
        out = cand_pdf.copy()
        out["maybe_seen"] = _probe_blob(
            row0["kind"], int(row0["nbits"]), int(row0["nhash"]), row0["bits"], h
        )
        return out

    return (
        cands.groupBy("part_id")
        .cogroup(blobs.groupBy("part_id"))
        .applyInPandas(probe, out_schema)
    )


def flag_new(candidates_probed: DataFrame, frontier_keys: DataFrame) -> DataFrame:
    """D2 exact dedup, flag form: KEEPS every candidate row, adding
    ``is_new`` instead of anti-join-filtering — ``where(is_new)`` is
    row-identical to the left_anti formulation (J4, the driver-checked
    `j4_left_anti_join` parity query), and the flag lets the engine compute
    candidate-count and insert-count metrics over one cached frame.  Bloom
    shuffle-cut preserved: only maybe-seen rows reach the join.  The two
    routes each read ``candidates_probed``, so a caller that must not run
    the probe twice passes it persisted.

    The marker side is ``dropDuplicates``-ed: the left join is only
    row-identical to left_anti when the join key is unique, and while the
    F7 merge enforces one-frontier-row-per-url_hash, a corrupted frontier
    would otherwise silently MULTIPLY candidate rows (inflating
    n_cands/inserts and writing duplicate frontier rows).  The dedup's
    exchange hashes on the url_hash the join needs, so the join adds no
    exchange on the frontier side — near-free at any scale, and it turns
    the uniqueness invariant from an assumption into a guarantee."""
    definitely_new = candidates_probed.withColumn("is_new", ~F.col("maybe_seen")).where(
        ~F.col("maybe_seen")
    )
    maybe = candidates_probed.where(F.col("maybe_seen"))
    marker = (
        frontier_keys.select("url_hash").dropDuplicates().withColumn("_seen", F.lit(True))
    )
    checked = maybe.join(marker, "url_hash", "left").withColumn(
        "is_new", F.col("_seen").isNull()
    ).drop("_seen")
    return definitely_new.unionByName(checked).drop("maybe_seen", "part_id")
