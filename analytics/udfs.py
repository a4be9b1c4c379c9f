"""UDF-surface parity queries (SURVEY.md §2.2 UD5, X-map, X-struct).

UD1 (scalar pandas UDF) is exercised by analytics/crawl_queries.py
canonicalize_urls; UD2-UD4 by the engine (fetch/parse, robots, bloom).
Here: UD5 — a vectorized GROUPED_AGG pandas UDAF — plus the map/struct
scalar-function families, each against a plainly-computed DuckDB oracle.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from analytics.common import load, registry

QUERIES, ORACLE, q = registry()


def _rms_udaf():
    """UD5: vectorized root-mean-square aggregate (Arrow batch in, one
    scalar out) — the span-sequence-hash aggregation pattern.  Built
    lazily: pandas_udf type resolution needs an active SparkContext."""
    from pyspark.sql.types import DoubleType

    @F.pandas_udf(DoubleType())
    def rms(v: pd.Series) -> float:
        return float((v.pow(2).mean()) ** 0.5)

    return rms


@q(
    "ud5_grouped_agg_udaf",
    """
    SELECT user_id, round(sqrt(avg(value * value)), 4) AS rms
    FROM events GROUP BY user_id
    """,
)
def ud5_grouped_agg_udaf(spark: SparkSession, sf: str) -> DataFrame:
    """UD5: GROUPED_AGG pandas UDAF vs the closed-form SQL aggregate."""
    e = load(spark, sf, "events")
    return e.groupBy("user_id").agg(F.round(_rms_udaf()("value"), 4).alias("rms"))


@q(
    "x_map_funcs",
    """
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click') AS n_click,
           count(DISTINCT event_type) AS n_types
    FROM events GROUP BY user_id
    """,
)
def x_map_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """X-map: map_from_entries / element_at / map_keys (the L1 metrics
    kv-pivot pattern), oracled by plain filtered counts."""
    e = load(spark, sf, "events")
    per_type = e.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    return (
        per_type.groupBy("user_id")
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("event_type", "n")))
            ).alias("m")
        )
        .select(
            "user_id",
            F.coalesce(F.element_at("m", "click"), F.lit(0)).alias("n_click"),
            F.size(F.map_keys("m")).cast("long").alias("n_types"),
        )
    )


@q(
    "x_struct_funcs",
    """
    SELECT o_orderkey,
           o_orderstatus AS status,
           round(o_totalprice, 2) AS price
    FROM orders WHERE o_totalprice > 200000
    """,
)
def x_struct_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """X-struct: struct build + getField round-trip survives Catalyst
    (folded away — the plan reads the two fields directly)."""
    o = load(spark, sf, "orders")
    s = F.struct(
        F.col("o_orderstatus").alias("status"), F.round("o_totalprice", 2).alias("price")
    )
    return (
        o.withColumn("s", s)
        .where(F.col("o_totalprice") > 200000)
        .select(
            "o_orderkey",
            F.col("s.status").alias("status"),
            F.col("s.price").alias("price"),
        )
    )
