"""Snapshot-versioned table catalog — K1 atomic epoch commit + K2 resume.

Iceberg ruling (SURVEY.md §0.3): no Iceberg runtime jar exists in this
sandbox, so the catalog provides the two Iceberg properties the spec uses
(BASELINE.json:6,14) without the jar:

  * **atomic multi-table commit per epoch** — every epoch's outputs are
    written under ``staging/epoch=K/<table>/`` first; the epoch becomes
    visible only via a single atomic ``os.rename`` of ``manifest-K.json``
    into ``manifests/``.  A kill at ANY point before the rename leaves the
    previous epoch as the committed state (tests/test_resume.py).
  * **time-travel / resume** — the committed state at epoch K is fully
    described by ``manifest-K.json`` (snapshot paths + append paths + row
    counts), so ``--resume`` re-reads it and continues at K+1
    (SURVEY.md §3.3).

Table kinds:
  * snapshot tables (``seen_filter``, ``robots_rules``,
    ``politeness_budgets``): each epoch writes a full immutable snapshot
    dir (robots: an appended delta dir); the manifest points at the newest.
  * the ``frontier`` snapshot is a map of cells, one per status, to
    immutable leaf dirs: the ``pending`` cell, which each epoch rewrites
    (a merged dir plus at most one insert dir), and one cell per terminal
    status that gains one leaf dir per epoch and is never rewritten (see
    the cell notes below).  At production scale this is an Iceberg
    ``MERGE INTO`` (SURVEY.md §2.2 SC6).
  * append tables (``documents``, ``crawl_log``, ``lineage``,
    ``metrics``): each epoch appends a new directory; a read unions all
    committed epochs' directories (parquet append sink, SC4).

No read of committed dirs starts a Spark job.  The manifest names every
leaf dir, so a read passes the dirs themselves; Spark would still list them
with a one-task-per-path job once a read passes more than 32 paths (its
default ``parallelPartitionDiscovery.threshold``), so the session raises
that threshold and the listing runs on the driver.  Frontier reads also
pass the table schema, which skips the footer-inference job.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from engine.schemas import FRONTIER


class SnapshotCatalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(os.path.join(root, "manifests"), exist_ok=True)
        os.makedirs(os.path.join(root, "staging"), exist_ok=True)

    # ---- paths ----
    def _manifest_path(self, epoch: int) -> str:
        return os.path.join(self.root, "manifests", f"manifest-{epoch:06d}.json")

    def stage_path(self, epoch: int, table: str) -> str:
        return os.path.join(self.root, "staging", f"epoch={epoch:06d}", table)

    # ---- commit / resume ----
    def last_epoch(self) -> int | None:
        names = [
            n
            for n in os.listdir(os.path.join(self.root, "manifests"))
            if n.startswith("manifest-") and n.endswith(".json")
        ]
        if not names:
            return None
        return max(int(n[len("manifest-") : -len(".json")]) for n in names)

    def manifest(self, epoch: int) -> dict:
        with open(self._manifest_path(epoch)) as f:
            return json.load(f)

    def commit(self, epoch: int, snapshots: dict, appends: dict, meta: dict | None = None) -> None:
        """Atomically publish epoch K.

        ``snapshots``/``appends``: table -> {"path": str, "rows": int}.
        Snapshot tables not written this epoch are carried forward from the
        previous manifest.  The ``os.rename`` below is the commit point.
        """
        prev = self.last_epoch()
        carried = {}
        if prev is not None:
            carried = self.manifest(prev)["snapshots"]
        merged = dict(carried)
        merged.update(snapshots)
        doc = {
            "epoch": epoch,
            "snapshots": merged,
            "appends": appends,
            "meta": meta or {},
        }
        tmp = self._manifest_path(epoch) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(doc, f, indent=1)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, self._manifest_path(epoch))  # THE atomic commit point

    def discard_uncommitted(self) -> None:
        """K2 resume hygiene: drop staging for any epoch beyond the last commit."""
        last = self.last_epoch()
        staging = os.path.join(self.root, "staging")
        for name in os.listdir(staging):
            if not name.startswith("epoch="):
                continue
            ep = int(name.split("=")[1])
            if last is None or ep > last:
                shutil.rmtree(os.path.join(staging, name), ignore_errors=True)

    # ---- reads (always of committed state only) ----
    def read_snapshot(self, table: str, schema=None) -> DataFrame:
        entry = self.manifest(self.last_epoch())["snapshots"][table]
        if "parts" in entry:  # the cell-granular frontier
            return self.read_parts(entry["parts"], schema=schema or FRONTIER)
        # "paths": append-list snapshot (robots delta dirs); "path": single dir
        paths = entry.get("paths") or [entry["path"]]
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(*paths)

    # ---- cell-granular snapshots (frontier) ----
    # The frontier snapshot is a dict of CELLS, each a list of immutable
    # leaf dirs, keyed by status: readers prune on status alone (the
    # pending scan), so that is the only partition key.  Every pending
    # row's host pops a row or has it disallowed, so each epoch rewrites
    # all pending rows (O(pending)) into one merged dir, and the epoch's
    # inserts add one insert dir, so the ``"pending"`` cell never holds
    # more than two dirs.  Rows that left 'pending' are only ever read
    # whole (D2's url_hash anti-join), so each epoch adds ONE leaf dir per
    # terminal status to that status's cell (``"done"``, ``"failed"``,
    # ``"disallowed"``); those dirs are never rewritten or compacted.  This
    # is the manifest-level equivalent of Iceberg's add/remove-data-file
    # commit (SC6): terminal rows cost O(delta), and a pending scan prunes
    # at the MANIFEST (terminal dirs are never listed).

    def frontier_parts(self, epoch: int | None = None) -> dict:
        """Cell map of the committed frontier."""
        ep = self.last_epoch() if epoch is None else epoch
        return self.manifest(ep)["snapshots"]["frontier"]["parts"]

    def read_parts(self, parts: dict, schema: StructType, status: str | None = None) -> DataFrame:
        """Union of the leaf dirs of the cells of ``status`` (all cells when
        None), read with ``schema``; an empty frame of ``schema`` when no
        cell matches.  A key's status is its text before any ``/``, so the
        per-bucket pending keys of older catalogs match too.  The schema
        skips footer-based schema inference, which is a Spark job; the dir
        listing itself runs on the driver (engine/session.py sets the
        parallel-listing threshold above any catalog's dir count)."""
        paths = []
        for cell, dirs in parts.items():
            if status is None or cell.partition("/")[0] == status:
                paths.extend(dirs)
        if not paths:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(*paths)

    def read_appended(self, table: str) -> DataFrame | None:
        last = self.last_epoch()
        if last is None:
            return None
        paths = []
        for ep in range(0, last + 1):
            mp = self._manifest_path(ep)
            if not os.path.exists(mp):
                continue
            entry = self.manifest(ep)["appends"].get(table)
            if entry and entry["rows"] > 0:
                paths.append(entry["path"])
        if not paths:
            return None
        return self.spark.read.parquet(*paths)
