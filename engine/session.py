"""SparkSession builder with the engine's scale-tuned defaults.

Configs follow SURVEY.md §4: AQE on (O4/O7), runtime bloom-filter join
pruning (O8), Arrow everywhere (O10), explicit shuffle-partition sizing
(O12).  On a real cluster the same builder is used by
``spark-submit --py-files engine.zip run_crawl.py`` (BASELINE.json:14) —
only ``master`` and executor counts change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# A read of more than spark.sql.sources.parallelPartitionDiscovery.threshold
# paths (default 32) lists them in a Spark job with one task per path.  The
# catalog's manifests name every leaf dir and a crawl reads hundreds of
# them per epoch, where that job cost ~2.5 s of a 3 s gate on 4 cores
# while a driver-side listing takes milliseconds; so no catalog read may
# reach the threshold.
DRIVER_LISTING_MAX_PATHS = 1 << 16


def build_session(
    app_name: str = "distributed-spider-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    # Python workers must import the engine package (mapInPandas closures).
    pp = os.environ.get("PYTHONPATH", "")
    if REPO_ROOT not in pp.split(":"):
        os.environ["PYTHONPATH"] = f"{REPO_ROOT}:{pp}" if pp else REPO_ROOT

    cores = os.cpu_count() or 8
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    if shuffle_partitions is None:
        # local[N] -> N; 2x cores keeps partitions CPU-bound without tiny-task
        # overhead at sandbox scale (SURVEY.md §4 O12: 2-4x cores per run).
        n = master.split("[")[-1].rstrip("]") if "[" in master else str(cores)
        shuffle_partitions = 2 * (cores if n == "*" else max(1, int(n)))

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(DRIVER_LISTING_MAX_PATHS),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
