"""R1/R2 — robots.txt acquisition and longest-prefix rule matching.

R1: rules are fetched once per host (mapInPandas fetch — synthetic in
sandbox, HTTP in production): for the seed hosts at init, and for each
epoch's insert hosts that have no rules yet (left_anti discovery).  Every
host that ever holds a frontier row therefore has rules before any pending
scan can pop it.  Rule-less hosts get a marker row (rule_order=-1,
path_prefix='', allow=true): '' prefix-matches every path at length 0, so
it IS the RFC 9309 default-allow — no special-casing downstream, and the
host is never re-fetched.

R2: zero-shuffle gate.  Rules are collapsed to one array per host (tiny
table), broadcast-joined, and the longest-prefix match is evaluated with
higher-order array functions entirely JVM-side:
``array_max(transform(filter(rules, startswith), (len, allow)))`` —
lexicographic struct max == longest prefix, tie → allow (RFC 9309 / T-C).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from engine.schemas import ROBOTS_RULES
from engine.synthgraph import GraphConfig, robots_rules_for_host


def fetch_robots(missing_hosts: DataFrame, cfg: GraphConfig, epoch: int) -> DataFrame:
    """R1: fetch+parse robots for hosts with no rules yet (mapInPandas, UD2)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for host in pdf["host"]:
                rules = robots_rules_for_host(host, cfg.graph_seed)
                if not rules:
                    rows.append((host, -1, True, "", 0.0, epoch))
                for order, allow, prefix, delay in rules:
                    rows.append((host, order, allow, prefix, delay, epoch))
            yield pd.DataFrame(
                rows,
                columns=[
                    "host",
                    "rule_order",
                    "allow",
                    "path_prefix",
                    "crawl_delay",
                    "fetched_epoch",
                ],
            )

    return missing_hosts.select("host").mapInPandas(gen, ROBOTS_RULES)


def robots_gate(pending: DataFrame, robots: DataFrame) -> DataFrame:
    """R2: adds boolean ``allowed``; requires a ``path`` column on pending."""
    rules_arr = robots.groupBy("host").agg(
        F.collect_list(F.struct("path_prefix", "allow")).alias("rules")
    )
    matched = F.filter(
        F.col("rules"), lambda r: F.startswith(F.col("path"), r["path_prefix"])
    )
    best = F.array_max(
        F.transform(
            matched,
            lambda r: F.struct(
                F.length(r["path_prefix"]).alias("l"), r["allow"].alias("a")
            ),
        )
    )
    return pending.join(F.broadcast(rules_arr), "host", "left").withColumn(
        "allowed", F.coalesce(best["a"], F.lit(True))
    ).drop("rules")
