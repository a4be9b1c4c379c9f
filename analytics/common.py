"""Shared helpers for the driver-parity analytics surface.

Every ``queries()`` callable receives the *driver's* SparkSession, whose
session time zone is unknown; `utc()` pins it to UTC so timestamp
rendering and epoch arithmetic agree with DuckDB's naive-UTC semantics
(the driver's oracle engine).  All float outputs are rounded to 4
decimals on BOTH sides so partial-aggregation summation order can never
flip the driver's value hash.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def registry() -> tuple[dict, dict, Callable]:
    """A module's query registry: ``QUERIES, ORACLE, q = registry()``.

    ``@q(name, sql)`` registers the decorated query under ``name`` in
    QUERIES and its DuckDB twin, if any, in ORACLE.  A name registered
    twice in one module fails at import (a pasted @q block must not
    silently replace the original query and its oracle);
    ``__spark_entry__.queries()`` makes the same check across modules."""
    queries: dict = {}
    oracle: dict = {}

    def q(name: str, sql: str | None = None):
        def deco(fn):
            assert name not in queries, f"duplicate query name {name}"
            queries[name] = fn
            if sql is not None:
                oracle[name] = sql
            return fn

        return deco

    return queries, oracle, q


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_spread(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``load`` + a round-robin repartition to core count when the scan
    yields fewer partitions than cores.

    The sf test tables are single parquet files below
    ``files.maxPartitionBytes``, so Spark plans ONE input partition and a
    downstream per-row compute (64-perm MinHash, SimHash votes) runs
    serially on one core — measured 14.7 s for dedup_minhash_lsh at sf0.1
    on a 32-core box that should do it in ~2 s.  The repartition shuffles
    only the raw rows once (sub-MB here).  At production scale the scan
    already has thousands of partitions and this is a no-op — the gate
    reads the plan's partitioning, it never triggers a job.
    """
    df = load(spark, sf_dir, name)
    par = spark.sparkContext.defaultParallelism
    if _scan_tasks_estimate(spark, df) < par:
        return df.repartition(par)
    return df


def _scan_tasks_estimate(spark: SparkSession, df: DataFrame) -> int:
    """Planned scan parallelism ≈ Σ ceil(file_size / maxPartitionBytes)
    over the scan's input files — pure metadata, no job, no RDD API (the
    per-row-Python CI gate bans the RDD surface in this package).  Non-local URIs
    (a real cluster's object store) return a large constant: production
    scans always carry enough splits, making load_spread a no-op there."""
    import math
    import os

    raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "128m").lower().rstrip("b")
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}.get(raw[-1], 1)
    maxpb = int(raw.rstrip("kmg") or "1") * mult
    n = 0
    for uri in df.inputFiles():
        if uri.startswith("file:"):
            path = uri[len("file:"):]
            try:
                n += max(1, math.ceil(os.path.getsize(path) / maxpb))
            except OSError:
                n += 1
        else:
            return 1 << 30
    return n


def utc(spark: SparkSession) -> SparkSession:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark
