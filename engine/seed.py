"""S1 — seed ingest: text source → canonicalize → dedupe → initial frontier."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.canonicalize import canonicalize_udf, with_url_keys
from engine.frontier import pending_rows
from engine.parse import first_discovery


def seeds_to_frontier(
    spark: SparkSession,
    seeds: list[str] | None,
    n_buckets: int,
    seed_path: str | None = None,
) -> DataFrame:
    """Seed list (in-memory SC7 or ``spark.read.text`` SC2) → frontier rows.

    depth=0, priority=0.0, status='pending', discovered_epoch=0; duplicate
    seeds canonicalize to identical rows, so collapsing them by the
    candidates' rule keeps that one row.
    """
    if seed_path is not None:
        raw = spark.read.text(seed_path).select(F.col("value").alias("raw_url"))
    else:
        raw = spark.createDataFrame([(s,) for s in seeds], "raw_url string")
    canon = (
        raw.withColumn("url", canonicalize_udf("raw_url"))
        .where(F.col("url").isNotNull())
        .drop("raw_url")
    )
    keyed = with_url_keys(canon, n_buckets).select(
        "*", F.lit(0).cast("int").alias("depth"), F.lit(None).cast("long").alias("parent_hash")
    )
    return pending_rows(first_discovery(keyed), 0)
