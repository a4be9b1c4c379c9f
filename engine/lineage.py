"""L1 — per-file lineage rows + per-epoch metrics (SURVEY.md §2.1 L1).

Lineage: one row per (epoch, stage, data file written by that stage) with
the file's row count and the id of the Spark task that wrote it, plus the
input/output snapshot ids — enough to audit which write task contributed
what to each committed epoch (BASELINE.json:14 "per-partition lineage rows
and metrics").  Both tables are written on the driver with pyarrow, typed
by the arrow form of their engine/schemas.py schemas: the row counts come
from the parquet footers of files the epoch already wrote, so neither
costs a Spark job.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.pandas.types import to_arrow_schema

from engine.schemas import LINEAGE, METRICS


def _write_table(path: str, table: pa.Table) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


def _data_files(d: str) -> list[str]:
    """Parquet data files under ``d``, hive partition subdirs included."""
    return sorted(
        os.path.join(root, n)
        for root, _, names in os.walk(d)
        for n in names
        if n.startswith("part-") and n.endswith(".parquet")
    )


def write_lineage_parquet(
    path: str,
    epoch: int,
    stage_dirs: dict[str, list[str]],
    input_snapshot: str,
    output_snapshot: str,
) -> int:
    """Write the lineage rows of the files under each stage's dirs; returns
    the row count.  ``partition_id`` is the writing task's partition, taken
    from Spark's ``part-NNNNN-...`` file name."""
    stages, pids, rows = [], [], []
    for stage, dirs in stage_dirs.items():
        for f in [f for d in dirs for f in _data_files(d)]:
            stages.append(stage)
            pids.append(int(os.path.basename(f).split("-")[1]))
            rows.append(pq.read_metadata(f).num_rows)
    n = len(rows)
    # columns in LINEAGE's field order
    cols = [[epoch] * n, stages, pids, rows, [input_snapshot] * n, [output_snapshot] * n]
    _write_table(path, pa.table(cols, schema=to_arrow_schema(LINEAGE)))
    return n


def write_metrics_parquet(path: str, epoch: int, values: dict[str, float]) -> None:
    """Driver-side metrics append — pyarrow write, zero Spark jobs (the
    metrics are already scalars on the driver)."""
    keys = sorted(values)
    # columns in METRICS' field order
    cols = [[epoch] * len(keys), keys, [float(values[k]) for k in keys]]
    _write_table(path, pa.table(cols, schema=to_arrow_schema(METRICS)))
