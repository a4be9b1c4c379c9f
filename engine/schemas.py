"""Canonical Spark schemas (SURVEY.md §1.2 — normative, static, columnar)."""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# BASELINE.json:15 — fixed verbatim: interleaved text+media span array.
SPAN_TYPE = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]
)

FRONTIER = StructType(
    [
        StructField("url_hash", LongType(), False),
        StructField("url", StringType()),
        StructField("host", StringType()),
        StructField("host_bucket", IntegerType()),
        StructField("depth", IntegerType()),
        StructField("priority", DoubleType()),
        StructField("discovered_epoch", IntegerType()),
        StructField("status", StringType()),
        StructField("retries", IntegerType()),
        StructField("parent_hash", LongType()),
    ]
)

SEEN_FILTER = StructType(
    [
        StructField("part_id", IntegerType(), False),
        StructField("kind", StringType()),
        StructField("nbits", LongType()),
        StructField("nhash", IntegerType()),
        StructField("bits", BinaryType()),
        StructField("n_items", LongType()),
        StructField("epoch", IntegerType()),
    ]
)

ROBOTS_RULES = StructType(
    [
        StructField("host", StringType()),
        StructField("rule_order", IntegerType()),
        StructField("allow", BooleanType()),
        StructField("path_prefix", StringType()),
        StructField("crawl_delay", DoubleType()),
        StructField("fetched_epoch", IntegerType()),
    ]
)

POLITENESS_BUDGETS = StructType(
    [
        StructField("host", StringType()),
        StructField("max_fetches_per_epoch", IntegerType()),
        StructField("min_delay_s", DoubleType()),
    ]
)

LINEAGE = StructType(
    [
        StructField("epoch", IntegerType()),
        StructField("stage", StringType()),
        StructField("partition_id", IntegerType()),
        StructField("rows_out", LongType()),
        StructField("input_snapshot", StringType()),
        StructField("output_snapshot", StringType()),
    ]
)

METRICS = StructType(
    [
        StructField("epoch", IntegerType()),
        StructField("key", StringType()),
        StructField("value", DoubleType()),
    ]
)

# Output schema of the fused F6+X1+X2+C1 mapInPandas stage (engine/fetch.py).
FETCHED = StructType(
    [
        StructField("url_hash", LongType()),
        StructField("url", StringType()),
        StructField("host", StringType()),
        StructField("depth", IntegerType()),
        StructField("retries", IntegerType()),
        StructField("ok", BooleanType()),
        StructField("spans", ArrayType(SPAN_TYPE)),
        StructField("outlinks", ArrayType(StringType())),
        # C1 output: ``outlinks`` resolved against ``url`` and canonicalized,
        # in raw order, unusable links dropped (engine/fetch.py)
        StructField("links", ArrayType(StringType())),
        # logical fetch time within the epoch window: fetch_seq_in_host *
        # min_delay_s (politeness delay bookkeeping; 0.0 when no delay)
        StructField("fetch_at_s", DoubleType()),
    ]
)

# FETCHED plus the engine columns stamped at the staged-parquet write
# (engine/crawl.py run_epoch): the epoch's fetch output is materialized once
# as a parquet table partitioned by ``okp`` (int form of ``ok`` — hive
# partition inference has no boolean), and the committed ``documents``
# append points at its okp=1 cells.  Explicit read schema so an epoch with
# zero popped rows (no partition dirs) still reads as an empty frame.
FETCHED_STAGED = StructType(
    FETCHED.fields
    + [
        StructField("doc_id", StringType()),
        StructField("epoch", IntegerType()),
        StructField("n_outlinks", IntegerType()),
        StructField("okp", IntegerType()),
    ]
)
