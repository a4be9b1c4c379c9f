"""X2 — candidate extraction from the canonical outlinks.

X1 span parsing and C1 canonicalization are fused into engine/fetch.py
(same Arrow crossing, the ``links`` column); this module owns the
relational tail, JVM-only: explode the per-document canonical link arrays
(native UDTF-shaped ``explode``, UD6 — no Python UDTF), attach url keys
(C2/C3), and collapse same-epoch duplicate discoveries to the candidate
with the smallest (depth, parent_hash) — the normative intra-batch dedup
rule shared with the pyref oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from engine.canonicalize import with_url_keys
from engine.synthgraph import GraphConfig


def extract_candidates(fetched: DataFrame, cfg: GraphConfig, n_buckets: int) -> DataFrame:
    """Successful fetches → deduped canonical child-URL candidates."""
    links = fetched.where(F.col("ok") & (F.col("depth") < F.lit(cfg.max_depth))).select(
        F.col("url_hash").alias("parent_hash"),
        (F.col("depth") + 1).cast("int").alias("depth"),
        F.explode("links").alias("url"),
    )
    return first_discovery(with_url_keys(links, n_buckets))


def first_discovery(keyed: DataFrame) -> DataFrame:
    """Collapse duplicate discoveries of a url_hash to the one with the
    smallest (depth, parent_hash) — the normative rule, for seeds and
    same-epoch candidates alike."""
    # min_by instead of a row_number window: the aggregate runs a partial
    # pass before the url_hash shuffle, so same-epoch duplicate discoveries
    # (the common case — popular pages are re-linked by many parents)
    # collapse BEFORE the exchange instead of after it.  The struct-valued
    # buffer makes it a SortAggregate, so each side still sorts its rows.
    # Ties on (depth, parent_hash) are rows identical in every carried
    # column (same parent, same canonical url), so the pick is
    # deterministic either way.
    other = [c for c in keyed.columns if c != "url_hash"]
    return (
        keyed.groupBy("url_hash")
        .agg(
            F.min_by(
                F.struct(*other), F.struct(F.col("depth"), F.col("parent_hash"))
            ).alias("_best")
        )
        .select("url_hash", "_best.*")
    )
