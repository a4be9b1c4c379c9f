"""L1 — per-file lineage rows + per-epoch metrics (SURVEY.md §2.1 L1).

Lineage: one row per (epoch, stage, data file written by that stage) with
the file's row count and the id of the Spark task that wrote it, plus the
input/output snapshot ids — enough to audit which write task contributed
what to each committed epoch (BASELINE.json:14 "per-partition lineage rows
and metrics").  Both tables are written on the driver with pyarrow: the
row counts come from the parquet footers of files the epoch already wrote,
so neither costs a Spark job.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq


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
    from Spark's ``part-NNNNN-...`` file name.  Schema mirrors LINEAGE."""
    stages, pids, rows = [], [], []
    for stage, dirs in stage_dirs.items():
        for f in [f for d in dirs for f in _data_files(d)]:
            stages.append(stage)
            pids.append(int(os.path.basename(f).split("-")[1]))
            rows.append(pq.read_metadata(f).num_rows)
    n = len(rows)
    _write_table(
        path,
        pa.table(
            {
                "epoch": pa.array([epoch] * n, pa.int32()),
                "stage": pa.array(stages, pa.string()),
                "partition_id": pa.array(pids, pa.int32()),
                "rows_out": pa.array(rows, pa.int64()),
                "input_snapshot": pa.array([input_snapshot] * n, pa.string()),
                "output_snapshot": pa.array([output_snapshot] * n, pa.string()),
            }
        ),
    )
    return n


def write_metrics_parquet(path: str, epoch: int, values: dict[str, float]) -> None:
    """Driver-side metrics append — pyarrow write, zero Spark jobs (the
    metrics are already scalars on the driver).  Schema mirrors METRICS so
    ``spark.read.parquet`` unions it with any Spark-written epochs."""
    keys = sorted(values)
    _write_table(
        path,
        pa.table(
            {
                "epoch": pa.array([epoch] * len(keys), pa.int32()),
                "key": pa.array(keys, pa.string()),
                "value": pa.array([float(values[k]) for k in keys], pa.float64()),
            }
        ),
    )
