"""Frontier operators: F5 salted window-rank pop, F7 update apply, new rows, Q1 retry + P1 priority.

F5 is the heart of the engine (BASELINE.json:6 "depth/priority-ordered
frontier pop … salted window-rank over hash-partitioned host groups to
defuse hot-domain skew").  Catalyst never salts windows (SURVEY.md §4 O9),
so the two-stage salted rank is explicit:

  stage 1: rank within (host, salt) where salt = pmod(url_hash, S) —
           a hot host's pending rows are spread over S window partitions,
           each pruned locally to its top-k, so no single task ever sorts
           more than ~1/S of the hot host's rows;
  stage 2: exact rank within host over the ≤ S*k survivors (tiny).

The pop order within a host is the total order (priority, depth, url_hash)
— deterministic under any partitioning/parallelism (tests/test_frontier.py
asserts identical output at 1/8/32 shuffle partitions), which is what makes
"identical crawl ordering per host" achievable on a cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

POP_ORDER = ("priority", "depth", "url_hash")


def pop_frontier(eligible: DataFrame, salt: int) -> DataFrame:
    """F5: per-host top-k pop; ``eligible`` must carry a per-host ``k`` column.

    Returns the popped rows with ``fetch_seq_in_host`` (0-based rank in the
    normative pop order — the crawl_log sequence the oracle checks).
    """
    order = [F.col(c).asc() for c in POP_ORDER]
    salted = eligible.withColumn("_salt", F.pmod(F.col("url_hash"), F.lit(salt)).cast("int"))
    w1 = Window.partitionBy("host", "_salt").orderBy(*order)
    stage1 = (
        salted.withColumn("_rn1", F.row_number().over(w1))
        .where(F.col("_rn1") <= F.col("k"))
        .drop("_rn1", "_salt")
    )
    w2 = Window.partitionBy("host").orderBy(*order)
    return (
        stage1.withColumn("_rn", F.row_number().over(w2))
        .where(F.col("_rn") <= F.col("k"))
        .withColumn("fetch_seq_in_host", (F.col("_rn") - 1).cast("int"))
        .drop("_rn", "k")
    )


def apply_updates(frontier: DataFrame, updates: DataFrame) -> DataFrame:
    """F7: apply this epoch's status transitions to frontier rows.

    ``updates``: (url_hash, new_status, new_retries, new_priority) for rows
    popped this epoch.  A left join + coalesce, so rows with no update pass
    through unchanged.  The engine applies it to every pending row, with
    the R2-disallowed rows already marked, since each epoch touches every
    pending row (O(pending)), and writes the result as the next immutable
    snapshot's cells (SC5); the insert union of a full MERGE is the
    caller's (the engine appends insert dirs instead).
    """
    return (
        frontier.join(updates, "url_hash", "left")
        .withColumn("status", F.coalesce(F.col("new_status"), F.col("status")))
        .withColumn("retries", F.coalesce(F.col("new_retries"), F.col("retries")))
        .withColumn("priority", F.coalesce(F.col("new_priority"), F.col("priority")))
        .drop("new_status", "new_retries", "new_priority")
    )


def pending_rows(keyed: DataFrame, epoch: int) -> DataFrame:
    """Seeds (epoch 0) and inserts as frontier rows: pending, no retries, P1
    priority = depth.  ``keyed`` carries the url keys, depth and parent_hash."""
    return keyed.select(
        "url_hash",
        "url",
        "host",
        "host_bucket",
        "depth",
        F.col("depth").cast("double").alias("priority"),
        F.lit(epoch).cast("int").alias("discovered_epoch"),
        F.lit("pending").alias("status"),
        F.lit(0).cast("int").alias("retries"),
        "parent_hash",
    )


def retry_transition(fetched: DataFrame, max_retries: int) -> DataFrame:
    """Q1: status transition for popped rows given fetch outcome ``ok``."""
    new_retries = F.when(F.col("ok"), F.col("retries")).otherwise(F.col("retries") + 1)
    new_status = (
        F.when(F.col("ok"), F.lit("done"))
        .when(new_retries >= F.lit(max_retries), F.lit("failed"))
        .otherwise(F.lit("pending"))
    )
    # P1 priority: depth plus 0.5 per retry.  0.5 per retry is exact in
    # binary floating point, so engine and pyref order identically.
    new_priority = F.when(
        ~F.col("ok") & (new_retries < F.lit(max_retries)),
        F.col("depth").cast("double") + 0.5 * new_retries.cast("double"),
    )
    return fetched.select(
        "url_hash",
        new_status.alias("new_status"),
        new_retries.cast("int").alias("new_retries"),
        new_priority.alias("new_priority"),
    )
