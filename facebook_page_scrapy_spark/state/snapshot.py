"""Iceberg-style snapshot layer over parquet (no Iceberg jars in the sandbox;
verified `/opt/spark/jars` has none — SURVEY §4.2.5).

Mechanics mirror a table format: immutable per-snapshot parquet *delta* dirs,
a JSON manifest per snapshot listing every delta that composes each table,
atomic manifest publish (write tmp + rename), monotonically increasing
snapshot ids, time travel by reading an old manifest, and merge-on-read with
explicit compaction. Swap-in for real Iceberg is the table-format interface
(`commit/read/compact/latest`) — the engine never touches files directly.

Replaces the reference's checkpointing (full-queue pickle after every fetch,
``Facebook_group_post.py:64-74,208``) with per-round atomic snapshots carrying
the per-partition lineage + counters the north rule requires.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession


class StaleSnapshotError(RuntimeError):
    """``publish`` got a snapshot id that is not the next one: another commit
    landed between stage and publish."""


class SnapshotStore:
    def __init__(self, path: str):
        self.path = path
        os.makedirs(os.path.join(path, "snapshots"), exist_ok=True)
        os.makedirs(os.path.join(path, "data"), exist_ok=True)

    # -- manifest helpers ------------------------------------------------------
    def _manifest_file(self, snapshot_id: int) -> str:
        return os.path.join(self.path, "snapshots", f"{snapshot_id:012d}.json")

    def latest(self) -> int:
        snaps = os.listdir(os.path.join(self.path, "snapshots"))
        ids = [int(s.split(".")[0]) for s in snaps if s.endswith(".json")]
        return max(ids, default=0)

    def manifest(self, snapshot_id: int | None = None) -> dict:
        sid = snapshot_id if snapshot_id is not None else self.latest()
        if sid == 0:
            return {"snapshot_id": 0, "tables": {}, "meta": {}}
        with open(self._manifest_file(sid)) as f:
            return json.load(f)

    # -- write path -------------------------------------------------------------
    def commit(
        self,
        deltas: dict[str, DataFrame],
        meta: dict | None = None,
        replace: set[str] | None = None,
    ) -> int:
        """Write one new snapshot: append ``deltas[table]`` as an immutable
        delta dir per table; carry every other table forward unchanged.
        Tables in ``replace`` start from scratch (compaction / full rewrite).
        The manifest is published last via atomic rename — a crash mid-commit
        leaves the previous snapshot intact (resume sees only published state).
        """
        sid = self.manifest()["snapshot_id"] + 1
        written = self.stage(sid, deltas)
        return self.publish(sid, written, meta=meta, replace=replace)

    def stage(self, sid: int, deltas: dict[str, DataFrame]) -> list[tuple[str, str]]:
        """Write delta data files for snapshot ``sid`` WITHOUT publishing a
        manifest — the data-files-first half of a table-format commit.
        Returns (table, relpath) pairs for ``publish``. Until publish runs,
        readers cannot see the staged files (the manifest is the only
        visibility point), so staging is free to run concurrently with other
        jobs — the crawl round stages its stat-independent deltas while the
        bloom shard job is still running.

        Parallel delta writes: Spark's scheduler interleaves the jobs across
        the executor pool, so N small table writes cost ~one write of wall
        time instead of N (writes are independent; manifest publish is the
        only ordering point)."""

        def _write(item):
            t, df = item
            rel = os.path.join("data", t, f"s{sid:012d}_{uuid.uuid4().hex[:8]}")
            df.write.mode("overwrite").parquet(os.path.join(self.path, rel))
            return t, rel

        items = list(deltas.items())
        if len(items) > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=len(items)) as pool:
                return list(pool.map(_write, items))
        return [_write(i) for i in items]

    def publish(
        self,
        sid: int,
        written: list[tuple[str, str]],
        meta: dict | None = None,
        replace: set[str] | None = None,
    ) -> int:
        """Publish staged delta files as snapshot ``sid`` via atomic manifest
        rename — a crash before this point leaves the previous snapshot
        intact (resume sees only published state). Raises
        ``StaleSnapshotError`` unless ``sid`` follows the latest snapshot."""
        prev = self.manifest()
        if sid != prev["snapshot_id"] + 1:
            raise StaleSnapshotError(
                f"cannot publish snapshot {sid}: the latest is {prev['snapshot_id']}"
            )
        tables: dict[str, list[str]] = {
            t: list(paths) for t, paths in prev.get("tables", {}).items()
        }
        for t in replace or set():
            tables[t] = []
        for t, rel in written:
            tables.setdefault(t, []).append(rel)

        man = {"snapshot_id": sid, "parent": prev["snapshot_id"], "tables": tables,
               "meta": meta or {}}
        tmp = self._manifest_file(sid) + f".tmp{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(man, f, indent=1)
        os.rename(tmp, self._manifest_file(sid))
        return sid

    # -- read path ---------------------------------------------------------------
    def read(self, spark: SparkSession, table: str, snapshot_id: int | None = None) -> DataFrame | None:
        man = self.manifest(snapshot_id)
        paths = man.get("tables", {}).get(table, [])
        if not paths:
            return None
        return spark.read.parquet(*[os.path.join(self.path, p) for p in paths])

    def compact(self, spark: SparkSession, table: str, meta: dict | None = None) -> int:
        """Rewrite a table's delta chain into a single delta (MoR compaction).
        At 10^10-URL scale this runs every K rounds so the frontier read stays
        O(1) files per partition instead of O(rounds)."""
        df = self.read(spark, table)
        if df is None:
            return self.latest()
        # materialize before the manifest swap (read must not see its own write)
        rows = df.cache()
        rows.count()
        sid = self.commit({table: rows}, meta=meta or {"compaction": table}, replace={table})
        rows.unpersist()
        return sid
