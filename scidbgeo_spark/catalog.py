"""Catalog facade: the engine-side equivalents of the reference's DDL and
introspection surface (scidb.py):

- ``create array`` (scidb.py:267-294)      -> register/save a tile table
- ``remove(A)`` (scidb.py:126-156)          -> drop
- ``show(A)`` / ``list('arrays')`` (scidb.py:158-190) -> schema / listing
- ``list('instances')`` (SciDB_analysis.py:317-318)    -> parallelism probe
  (the reference sizes its ingest partitioning from the instance count;
  the engine reads Spark's default parallelism)

Tables live as temp views (session catalog) or parquet dirs (persistent).

:class:`SnapshotCatalog` adds the transactional layer (the Iceberg-shape
semantics, implemented on plain parquet + JSON manifests so it runs in
this container): snapshot-isolated MERGE of chunk updates with
copy-on-write at tile_y-partition granularity, snapshot listing
(SciDB ``versions(A)``), time-travel reads, optimistic commit via
exclusive manifest creation, and snapshot expiry (version GC).
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class ArrayCatalog:
    def __init__(self, spark: SparkSession, warehouse: str | None = None):
        self.spark = spark
        self.warehouse = warehouse

    # -- create array ------------------------------------------------------
    def register(self, name: str, df: DataFrame) -> None:
        df.createOrReplaceTempView(name)

    def save(self, name: str, df: DataFrame) -> None:
        if not self.warehouse:
            raise ValueError("no warehouse dir configured")
        df.write.mode("overwrite").parquet(f"{self.warehouse}/{name}")
        self.register(name, self.spark.read.parquet(f"{self.warehouse}/{name}"))

    def save_tiles(self, name: str, tiles: DataFrame) -> DataFrame:
        """Persist a chunked-array table with SciDB-like chunk placement:
        hive-partitioned by tile_y so dimension-range queries prune whole
        chunk-row directories at planning time (the Iceberg partition-spec
        analog — `bucket(tile_y, tile_x)` there; plain parquet here).
        Returns the re-read table (scans of it show PartitionFilters)."""
        if not self.warehouse:
            raise ValueError("no warehouse dir configured")
        path = f"{self.warehouse}/{name}"
        tiles.write.mode("overwrite").partitionBy("tile_y").parquet(path)
        df = self.spark.read.parquet(path)
        self.register(name, df)
        return df

    # -- show / list -------------------------------------------------------
    def show(self, name: str) -> str:
        """Schema string (the reference regex-parses show() output to clone
        dimension specs — here the schema is first-class)."""
        return self.spark.table(name).schema.simpleString()

    def list_arrays(self) -> list[str]:
        return [t.name for t in self.spark.catalog.listTables()]

    # -- remove ------------------------------------------------------------
    def remove(self, name: str) -> None:
        self.spark.catalog.dropTempView(name)

    # -- list('instances') -------------------------------------------------
    def instance_count(self) -> int:
        return self.spark.sparkContext.defaultParallelism


class SnapshotCatalog:
    """Transactional chunk-table store: MERGE + versions on plain parquet.

    The reference's array lifecycle is ``insert(redimension(...), A)``
    upserts plus ``versions(A)`` / ``remove_versions`` bookkeeping
    (SciDBParallel.py:346-348, scidb.py:126-156).  The production Spark
    analog is an Iceberg table (MERGE INTO, snapshots, expire_snapshots);
    this class implements the same semantics on the filesystem so the
    engine is self-contained:

    - each **snapshot** is a JSON manifest mapping ``tile_y`` partition
      keys to immutable data directories;
    - **merge** is copy-on-write at partition granularity: only
      partitions containing updated chunks are rewritten (merged with
      :func:`tiling.merge_into_tiles` chunk-upsert semantics); untouched
      partitions are inherited from the parent manifest by reference;
    - **commit** is optimistic: the manifest file is hard-linked into
      place (atomic create-if-absent); losing a race re-merges against
      the winner's snapshot and retries;
    - **expire** drops old manifests and any data directory no kept
      snapshot references (the reference's version GC).

    Readers always see a complete snapshot: a manifest is only visible
    after its data dirs are fully written, and data dirs are never
    mutated.
    """

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse

    # -- layout --------------------------------------------------------------
    def _dir(self, name: str) -> str:
        return os.path.join(self.warehouse, name)

    def _manifest_dir(self, name: str) -> str:
        return os.path.join(self._dir(name), "manifests")

    def _manifest_path(self, name: str, version: int) -> str:
        return os.path.join(self._manifest_dir(name), f"v{version:06d}.json")

    def versions(self, name: str) -> list[dict]:
        """All snapshots, oldest first — ``versions(A)`` (scidb.py:126-156)."""
        mdir = self._manifest_dir(name)
        out = []
        for f in sorted(os.listdir(mdir)):
            if f.endswith(".json"):
                with open(os.path.join(mdir, f)) as fh:
                    m = json.load(fh)
                out.append(m)
        return out

    def current_version(self, name: str) -> int:
        vs = [m["version"] for m in self.versions(name)]
        if not vs:
            raise FileNotFoundError(f"no snapshots for table {name}")
        return max(vs)

    def _read_manifest(self, name: str, version: int) -> dict:
        with open(self._manifest_path(name, version)) as fh:
            return json.load(fh)

    # -- writes ---------------------------------------------------------------
    def _write_partitions(self, name: str, version: int, tiles: DataFrame) -> dict[str, str]:
        """Write one immutable data dir for this snapshot, hive-split by
        tile_y (``pt_y`` is a throwaway copy so ``tile_y`` itself stays a
        data column and per-partition dirs are self-contained).

        The write lands in a writer-unique STAGING dir and publishes via
        atomic ``os.rename`` — concurrent writers can never mix files in
        one version dir, and exactly one rename wins (the loser raises
        FileExistsError and retries on top of the winner).  A genuine
        write failure cleans its own staging and re-raises.  Returns
        {tile_y: relative_path}."""
        rel = f"data/v{version:06d}"
        final = os.path.join(self._dir(name), rel)
        staging = final + f".staging-{os.getpid()}-{time.monotonic_ns()}"
        try:
            tiles.withColumn("pt_y", F.col("tile_y")).write.mode("error").partitionBy(
                "pt_y"
            ).parquet(staging)
            os.rename(staging, final)
        except OSError as exc:
            import errno

            shutil.rmtree(staging, ignore_errors=True)
            if exc.errno in (errno.EEXIST, errno.ENOTEMPTY):
                raise FileExistsError(
                    f"data dir {rel} already exists (concurrent writer)"
                ) from exc
            raise
        except Exception:
            shutil.rmtree(staging, ignore_errors=True)
            raise
        parts = {}
        for d in os.listdir(final):
            if d.startswith("pt_y="):
                parts[d.split("=", 1)[1]] = f"{rel}/{d}"
        return parts

    def _commit(self, name: str, manifest: dict) -> bool:
        """Atomic create-if-absent via hard link: returns False if another
        writer committed this version first (optimistic concurrency)."""
        final = self._manifest_path(name, manifest["version"])
        tmp = final + f".tmp-{os.getpid()}-{time.monotonic_ns()}"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh, indent=1)
        try:
            os.link(tmp, final)
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)

    def create(self, name: str, tiles: DataFrame) -> int:
        """``create array`` + initial load as snapshot 1."""
        os.makedirs(self._manifest_dir(name), exist_ok=True)
        parts = self._write_partitions(name, 1, tiles)
        ok = self._commit(
            name,
            {
                "version": 1,
                "parent": None,
                "operation": "create",
                "ts": time.time(),
                "partitions": parts,
            },
        )
        if not ok:
            raise FileExistsError(f"table {name} already has snapshot 1")
        return 1

    def read(self, name: str, version: int | None = None) -> DataFrame:
        """Snapshot read (current by default) — time travel via ``version``."""
        v = self.current_version(name) if version is None else version
        m = self._read_manifest(name, v)
        paths = [os.path.join(self._dir(name), p) for p in m["partitions"].values()]
        return self.spark.read.parquet(*paths).drop("pt_y")

    def merge(
        self,
        name: str,
        updates: DataFrame,
        max_retries: int = 5,
        wait_s: float = 60.0,
        orphan_grace_s: float = 300.0,
    ) -> int:
        """MERGE INTO: chunk-level upsert (``insert(redimension(...), A)``
        semantics — updated (tile_y, tile_x) chunks replace existing ones,
        everything else survives).  Copy-on-write: only tile_y partitions
        that contain updated chunks are rewritten; the rest are inherited
        by reference.  The touched-partition list is the only driver-side
        state (partition metadata, not data — the same list Iceberg's
        planner holds).

        Concurrency: data dirs publish via atomic staging->rename
        (exactly one writer per version), the manifest commits via atomic
        create-if-absent.  When another writer's data dir exists without
        its manifest yet, this writer WAITS up to ``wait_s`` for that
        commit (polling, not burning the retry budget at write speed);
        a dir that stays manifest-less past ``orphan_grace_s`` since its
        last modification is a crashed writer's orphan and is reclaimed
        so the table never wedges."""
        from scidbgeo_spark.tiling import merge_into_tiles

        touched = sorted(
            r.tile_y for r in updates.select("tile_y").distinct().collect()
        )
        attempt = 0
        while attempt < max_retries:
            parent_v = self.current_version(name)
            parent = self._read_manifest(name, parent_v)
            version = parent_v + 1
            data_dir = os.path.join(self._dir(name), f"data/v{version:06d}")
            if os.path.exists(data_dir):
                outcome = self._await_commit_or_reclaim(
                    name, version, data_dir, wait_s, orphan_grace_s
                )
                # reclaiming a crashed writer's orphan is table repair,
                # not a lost race: it must NOT consume retry budget,
                # else a single orphan inside its grace window burns all
                # attempts waiting (5 x wait_s == grace) and the merge
                # still raises.  A winner's commit or a timeout both
                # mean a LIVE competitor — those count.
                if outcome != "reclaimed":
                    attempt += 1
                continue  # re-read current and retry on top of the winner
            overlap = [str(y) for y in touched if str(y) in parent["partitions"]]
            existing_touched = (
                self.read(name, parent_v).filter(F.col("tile_y").isin(touched))
                if overlap
                else None
            )
            merged = (
                merge_into_tiles(existing_touched, updates)
                if existing_touched is not None
                else updates
            )
            try:
                new_parts = self._write_partitions(name, version, merged)
            except FileExistsError:
                attempt += 1
                continue  # lost the rename race — a writer is ahead
            parts = dict(parent["partitions"])
            parts.update(new_parts)
            manifest = {
                "version": version,
                "parent": parent_v,
                "operation": "merge",
                "ts": time.time(),
                "partitions": parts,
            }
            if self._commit(name, manifest):
                return version
            # a foreign manifest for this version appeared without the
            # data rename (only possible via external interference):
            # clean our own published-but-uncommitted data dir
            shutil.rmtree(data_dir, ignore_errors=True)
            attempt += 1
        raise RuntimeError(f"merge into {name} lost {max_retries} commit races")

    def _await_commit_or_reclaim(
        self, name: str, version: int, data_dir: str, wait_s: float, orphan_grace_s: float
    ) -> str:
        """A data dir for ``version`` exists but its manifest does not:
        poll for the concurrent writer's commit; reclaim the dir if it is
        an orphan (no manifest, untouched past the grace period).
        Returns what happened: "committed" (winner's manifest appeared),
        "reclaimed" (orphan removed / dir vanished), or "timeout"."""
        t0 = time.time()
        while time.time() - t0 < wait_s:
            if os.path.exists(self._manifest_path(name, version)):
                return "committed"  # winner committed; caller re-reads
            try:
                age = time.time() - os.path.getmtime(data_dir)
            except OSError:
                return "reclaimed"  # dir vanished (reclaimed elsewhere)
            if age > orphan_grace_s:
                shutil.rmtree(data_dir, ignore_errors=True)
                return "reclaimed"
            time.sleep(0.2)
        return "timeout"

    # -- maintenance -----------------------------------------------------------
    def expire_snapshots(self, name: str, keep_last: int = 1) -> list[int]:
        """Drop all but the newest ``keep_last`` snapshots and delete data
        dirs no kept snapshot references (remove_versions analog).
        Returns the expired version numbers."""
        vs = sorted(m["version"] for m in self.versions(name))
        expired = vs[:-keep_last] if keep_last > 0 else vs
        kept = vs[len(expired):]
        referenced = set()
        for v in kept:
            for rel in self._read_manifest(name, v)["partitions"].values():
                referenced.add(rel.split("/")[1])  # data/<vdir>/pt_y=...
        for v in expired:
            os.unlink(self._manifest_path(name, v))
        data_root = os.path.join(self._dir(name), "data")
        for d in os.listdir(data_root):
            if d not in referenced:
                shutil.rmtree(os.path.join(data_root, d), ignore_errors=True)
        return expired

    def compact(self, name: str) -> int:
        """Table maintenance: rewrite the CURRENT snapshot's data into
        one file per partition (the Iceberg ``rewrite_data_files``
        analog).  Many incremental merges leave each partition scattered
        across several small parquet files — the classic small-file debt
        that slows every scan; compaction repartitions by the partition
        key before the partitioned write, so each ``pt_y`` dir lands as
        a single file.  Content is IDENTICAL by construction —
        ``diff(v, v+1)`` returns empty (pinned by test) — and the commit
        uses the same optimistic machinery as merge, so a concurrent
        merge winning the version simply makes this compaction retry's
        caller re-run on the new current."""
        v = self.current_version(name)
        tiles = self.read(name, v).repartition("tile_y")
        new_v = v + 1
        parts = self._write_partitions(name, new_v, tiles)
        ok = self._commit(
            name,
            {
                "version": new_v,
                "parent": v,
                "operation": "compact",
                "ts": time.time(),
                "partitions": parts,
            },
        )
        if not ok:
            raise RuntimeError(
                f"compaction of {name} v{v} lost the commit race for "
                f"v{new_v}; re-run against the new current snapshot"
            )
        return new_v

    def rollback(self, name: str, to_version: int) -> int:
        """Roll the table back to an earlier snapshot (Iceberg
        ``rollback_to_snapshot`` analog): commits a NEW snapshot whose
        manifest references the TARGET version's data files verbatim —
        a metadata-only operation, no data rewrite, history preserved
        (time travel to the undone versions still works until
        expire_snapshots drops them).  Shared data dirs are safe:
        expiry retains any dir a kept snapshot references."""
        cur = self.current_version(name)
        if to_version == cur:
            return cur
        target = self._read_manifest(name, to_version)  # raises if absent
        new_v = cur + 1
        ok = self._commit(
            name,
            {
                "version": new_v,
                "parent": cur,
                "operation": f"rollback:{to_version}",
                "ts": time.time(),
                "partitions": dict(target["partitions"]),
            },
        )
        if not ok:
            raise RuntimeError(
                f"rollback of {name} to v{to_version} lost the commit race "
                f"for v{new_v}; re-check the current snapshot and retry"
            )
        return new_v

    def diff(self, name: str, v_old: int, v_new: int) -> DataFrame:
        """Incremental CHANGE extraction between two snapshots (the
        Iceberg changelog-scan analog, and the raster-analysis "change
        detection" primitive): cells whose value differs between
        ``v_old`` and ``v_new``, as ``(y, x, old_value, new_value)``
        with NULL old/new for appearing/disappearing cells.

        Scale shape: manifests are compared FIRST — only chunks whose
        data file changed between the two snapshots are read at all
        (copy-on-write means an untouched chunk has the identical
        partition path in both manifests), then a chunk-key join +
        cellwise ``zip_with`` comparison emits only differing cells.
        A 10^12-cell table with a 100-chunk update reads 200 chunks."""
        from pyspark.sql import functions as F

        from scidbgeo_spark import tiling

        mo = self._read_manifest(name, v_old)["partitions"]
        mn = self._read_manifest(name, v_new)["partitions"]
        changed_parts_old = [p for k, p in mo.items() if mn.get(k) != p]
        changed_parts_new = [p for k, p in mn.items() if mo.get(k) != p]
        if not changed_parts_old and not changed_parts_new:
            empty = "y long, x long, old_value long, new_value long"
            return self.spark.createDataFrame([], empty)

        def _coo(paths):
            tiles = self.spark.read.parquet(
                *[os.path.join(self._dir(name), p) for p in paths]
            ).drop("pt_y")
            return tiling.tiles_to_coo(tiles, "value")

        old = _coo(changed_parts_old) if changed_parts_old else None
        new = _coo(changed_parts_new) if changed_parts_new else None
        if old is None:
            return new.select(
                "y", "x", F.lit(None).cast("long").alias("old_value"),
                F.col("value").cast("long").alias("new_value"),
            )
        if new is None:
            return old.select(
                "y", "x", F.col("value").cast("long").alias("old_value"),
                F.lit(None).cast("long").alias("new_value"),
            )
        o = old.select("y", "x", F.col("value").cast("long").alias("old_value"))
        n = new.select("y", "x", F.col("value").cast("long").alias("new_value"))
        j = o.join(n, ["y", "x"], "full_outer")
        return j.filter(
            ~F.col("old_value").eqNullSafe(F.col("new_value"))
        ).select("y", "x", "old_value", "new_value")

    def drop(self, name: str) -> None:
        """``remove(A)`` — the whole table, all snapshots."""
        shutil.rmtree(self._dir(name), ignore_errors=True)
