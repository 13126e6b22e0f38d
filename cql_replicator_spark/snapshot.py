"""Versioned per-tile primary-key snapshot store.

The reference persists each tile's PK set as an Apache Iceberg table
(one Glue-Catalog table per tile, name scheme
``{catalog}.{ks}_db.{tbl}_tile_{n}_pk_snapshots`` — CQLReplicator.scala
K:1220-1272) and time-travels between snapshot ids (K:1340-1349), with
``expire_snapshots(retain_last=2)`` housekeeping (K:1278-1289).

The default backend implements the same contract on plain Parquet:
each snapshot is an immutable directory
``{root}/{ks}/{table}/tile={n}/snap-{id:08d}/`` plus a JSON manifest per
tile recording (id, committed_at, count, schema). The API mirrors
Iceberg's: write-overwrite (new snapshot, or one per tile in a single
partitioned write), current_snapshot_id, read at snapshot (time
travel), expire.

``SnapshotStore(..., fmt="delta")`` switches to a real
transaction-log-backed table per tile when the ``delta-spark`` package
is importable (the session must carry the Delta extensions —
``configure_spark_with_delta_pip`` / ``spark.sql.extensions``):
overwrite commits become Delta versions, time travel is
``versionAsOf``, and expiry maps to ``vacuum`` (old versions stay in
the log until log retention cleans them — Delta has no selective
version drop; the manifest still records which ids this store
considers live). The parquet+manifest backend remains the fallback so
the engine runs identically where no lakehouse jars exist.

``SnapshotStore(..., fmt="dlog")`` uses the in-repo pure-Python
Delta-protocol-shaped transaction log (dlog.py): overwrite commits are
versioned ``_delta_log`` entries, time travel is log replay at
``versionAsOf``, expiry is version-retention vacuum. It needs no
packages or session extensions, so the lakehouse semantics (immutable
data files + atomic log commit + version reads) are exercised in every
environment, not only where delta-spark is installed.

Scale note: snapshots are written ``repartition(k, pk_cols)`` so each
tile's snapshot has a bounded file count regardless of upstream
parallelism, and reads of a single tile never list other tiles' files.
"""

from __future__ import annotations

import datetime
import decimal
import json
import os
import shutil
import time
from dataclasses import dataclass

from .session import default_write_files as _default_write_files
from .staging import new_staging_dir, remove_dead_staging


def _stat_json(v):
    """Manifest-safe stats value: JSON primitives pass through; date /
    timestamp become ISO strings (lexicographic == chronological, so
    the pruning comparison stays order-correct); Decimal becomes
    float. Without this, stats_cols on a date column crashed
    json.dump AFTER the parquet commit, orphaning the snapshot dir.
    Pruning bounds are normalized with the same function — pass bounds
    in the column's own type."""
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    if v is None or isinstance(v, (str, int, float, bool)):
        return v
    return str(v)

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


@dataclass
class SnapshotInfo:
    id: int
    committed_at: float
    count: int
    path: str


def delta_available() -> bool:
    """True when the delta-spark package is importable."""
    import importlib.util

    return importlib.util.find_spec("delta") is not None


class SnapshotStore:
    def __init__(self, root: str, keyspace: str, table: str,
                 fmt: str = "parquet"):
        if fmt not in ("parquet", "delta", "dlog"):
            raise ValueError(f"unknown snapshot format {fmt!r}; "
                             "expected 'parquet', 'delta' or 'dlog'")
        if fmt == "delta" and not delta_available():
            raise ImportError(
                "fmt='delta' requires the delta-spark package; falling back "
                "is deliberate-only — pass fmt='parquet'")
        self.root = root
        self.keyspace = keyspace
        self.table = table
        self.fmt = fmt

    # -- layout ---------------------------------------------------------
    def _tile_dir(self, tile: int) -> str:
        return os.path.join(self.root, self.keyspace, self.table, f"tile={tile}")

    def _manifest_path(self, tile: int) -> str:
        return os.path.join(self._tile_dir(tile), "manifest.json")

    def _read_manifest(self, tile: int) -> list[dict]:
        p = self._manifest_path(tile)
        if not os.path.exists(p):
            return []
        with open(p) as f:
            return json.load(f)

    def _write_manifest(self, tile: int, entries: list[dict]) -> None:
        p = self._manifest_path(tile)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        tmp = f"{p}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(entries, f, indent=1)
        os.replace(tmp, p)  # atomic commit, like Iceberg's metadata swap

    def _tile_mutex(self, tile: int):
        """Cross-process mutex serializing this tile's manifest
        read-modify-write sections (write_snapshot, expire_snapshots,
        gc_orphans). Without it two racing discoverers — legal under
        the ledger's any-number-of-discovery-processes contract — read
        the same manifest, pick the SAME next snapshot id, overwrite
        one another's snap-{id} directory mid-write, and the
        last-write-wins manifest swap silently drops the other's entry
        (and an expire racing a writer drops the fresh entry). Same
        battle-tested lock as the ledger (ledger.file_mutex). The
        plain parquet path writes to a private staging dir and holds
        it only for the commit; the other paths hold it across the
        Spark write, which is fine — contention exists only
        when two processes rotate ONE tile simultaneously, and
        serializing them is exactly the intended outcome (the second
        one's record_discovery loses at the ledger gate and the runner
        skips the tile)."""
        from .ledger import file_mutex

        return file_mutex(self._manifest_path(tile) + ".lock")

    # -- API ------------------------------------------------------------
    def write_snapshot(self, df: DataFrame, tile: int,
                       files_per_snapshot: int | None = None,
                       stats_cols: list[str] | None = None) -> int:
        """Persist df as the tile's next snapshot; returns new snapshot id.

        Mirrors writeIcebergTileSnapshot (K:1328-1334). Coalesce keeps
        the per-tile file count bounded; ``files_per_snapshot`` defaults
        to the session's ``spark.sql.shuffle.partitions`` so the write
        can use the session's parallelism (coalesce never widens, so
        narrow inputs still produce few files). The old literal default
        of 1 was an UNCONDITIONAL single-task write — the r14 action
        audit's first catch; pass 1 explicitly only for frames that are
        small by construction.

        On the parquet backend without ``stats_cols`` this is
        ``write_snapshots`` with one tile: one parquet commit path.

        ``stats_cols`` (parquet backend only) turns on Iceberg-style
        file-level data skipping: rows are range-partitioned by those
        columns so files hold disjoint ranges, and per-file min/max/count
        go into the manifest — the same metadata Iceberg keeps in its
        manifests — letting ``read_snapshot(between=...)`` open only the
        files whose range intersects the predicate. The stats pass is one
        aggregate over the just-written files (it replaces the count
        read-back, so it costs nothing extra) and its output is one row
        per FILE, never data-sized."""
        if self.fmt == "parquet" and not stats_cols:
            if "tile" in df.columns:
                raise ValueError(
                    "write_snapshot: 'tile' is the store's partition column "
                    "and cannot be a snapshot column")
            return self.write_snapshots(
                df.withColumn("tile", F.lit(tile)), [tile],
                files_per_snapshot)[tile].id
        if files_per_snapshot is None:
            files_per_snapshot = _default_write_files(df)
        with self._tile_mutex(tile):
            return self._write_snapshot_locked(
                df, tile, files_per_snapshot, stats_cols)["id"]

    def write_snapshots(self, df: DataFrame, tiles: list[int],
                        files_per_snapshot: int | None = None
                        ) -> dict[int, SnapshotInfo]:
        """Commit one new snapshot for each of ``tiles`` from ``df``,
        whose ``tile`` column names each row's tile (the column is not
        stored; rows of other tiles are skipped). Returns
        ``{tile: SnapshotInfo}``.

        Parquet: ONE ``partitionBy("tile")`` write of every tile to a
        private staging directory (``staging``: the next write sweeps
        the one a killed writer left), with the per-tile row counts taken
        from an ``Observation`` on that write — no persist, no count
        pass, no per-tile filtered writes. Then, per tile under its
        mutex, the commit: allocate the id, rename ``tile=N`` to
        ``snap-{id}``, append to the manifest. A tile with no rows
        commits an empty directory; the manifest records the schema,
        so every read of it (empty or not) is schema-correct and skips
        the schema-inference job. Each tile commits on its own, so a
        crash mid-loop leaves the committed tiles intact and the rest
        as they were. The counts are of rows streamed through the
        write, so a corrupt or partial file surfaces at the first read
        of the snapshot, not at rotation (the ``stats_cols`` path reads
        its files back and keeps that check). When ``df`` is
        hash-partitioned by tile (``default_partitions``), each tile is
        written by one task: tile sizing, not ``files_per_snapshot``,
        bounds that.

        Delta / dlog: per-tile ``write_snapshot`` over the persisted
        frame (those backends commit one table per tile)."""
        tiles = sorted(set(tiles))
        if not tiles:
            return {}
        if files_per_snapshot is None:
            files_per_snapshot = _default_write_files(df)
        due = df.filter(F.col("tile").isin(tiles))
        if self.fmt != "parquet":
            return self._write_each(due, tiles, files_per_snapshot)
        schema = json.loads(due.drop("tile").schema.json())
        table_dir = os.path.join(self.root, self.keyspace, self.table)
        remove_dead_staging(table_dir)
        stage = new_staging_dir(table_dir)
        obs = Observation()
        try:
            (due.observe(obs, *[F.count(F.when(F.col("tile") == t, 1))
                                .alias(f"n{t}") for t in tiles])
             .coalesce(files_per_snapshot)
             .write.partitionBy("tile").parquet(stage))
            counts = obs.get
            out = {}
            for t in tiles:
                with self._tile_mutex(t):
                    entries = self._read_manifest(t)
                    new_id = (max(e["id"] for e in entries) + 1) if entries else 1
                    path = os.path.join(self._tile_dir(t), f"snap-{new_id:08d}")
                    # an uncommitted dir of a crashed write may hold the id
                    shutil.rmtree(path, ignore_errors=True)
                    staged = os.path.join(stage, f"tile={t}")
                    if os.path.isdir(staged):
                        os.makedirs(self._tile_dir(t), exist_ok=True)
                        os.rename(staged, path)
                    else:
                        os.makedirs(path)
                    entry = {"id": new_id, "committed_at": time.time(),
                             "count": int(counts[f"n{t}"]), "path": path,
                             "schema": schema}
                    self._write_manifest(t, entries + [entry])
                out[t] = SnapshotInfo(new_id, entry["committed_at"],
                                      entry["count"], path)
            return out
        finally:
            shutil.rmtree(stage, ignore_errors=True)

    def _write_each(self, due: DataFrame, tiles: list[int],
                    files_per_snapshot: int) -> dict[int, SnapshotInfo]:
        due = due.persist()
        try:
            out = {}
            for t in tiles:
                part = due.filter(F.col("tile") == t).drop("tile")
                with self._tile_mutex(t):
                    entry = self._write_snapshot_locked(
                        part, t, files_per_snapshot, None)
                out[t] = SnapshotInfo(entry["id"], entry["committed_at"],
                                      entry["count"], entry["path"])
            return out
        finally:
            due.unpersist()

    def _write_snapshot_locked(self, df: DataFrame, tile: int,
                               files_per_snapshot: int,
                               stats_cols: list[str] | None) -> dict:
        """Delta, dlog and stats_cols commits; returns the new
        manifest entry."""
        entries = self._read_manifest(tile)
        new_id = (max(e["id"] for e in entries) + 1) if entries else 1
        if self.fmt == "delta":
            if stats_cols:
                raise ValueError(
                    "stats_cols requires the parquet backend; Delta keeps "
                    "its own per-file stats in the transaction log")
            path = os.path.join(self._tile_dir(tile), "delta-table")
            (df.coalesce(files_per_snapshot).write.format("delta")
             .mode("overwrite").option("overwriteSchema", "true").save(path))
            from delta.tables import DeltaTable
            dt = DeltaTable.forPath(df.sparkSession, path)
            version = dt.history(1).select("version").first()[0]
            count = df.sparkSession.read.format("delta").load(path).count()
            entries.append({"id": new_id, "committed_at": time.time(),
                            "count": count, "path": path,
                            "delta_version": int(version)})
        elif self.fmt == "dlog":
            if stats_cols:
                raise ValueError(
                    "stats_cols requires the parquet backend; the dlog "
                    "backend keeps per-file metadata in its commit log")
            from .dlog import DeltaLogTable

            path = os.path.join(self._tile_dir(tile), "dlog-table")
            os.makedirs(path, exist_ok=True)
            tbl = DeltaLogTable(path)
            version = tbl.commit_overwrite(df, max_files=files_per_snapshot)
            count = tbl.read(df.sparkSession, version_as_of=version).count()
            entries.append({"id": new_id, "committed_at": time.time(),
                            "count": count, "path": path,
                            "dlog_version": int(version)})
        else:
            path = os.path.join(self._tile_dir(tile), f"snap-{new_id:08d}")
            out = df.repartitionByRange(files_per_snapshot, *stats_cols)
            out.write.mode("overwrite").parquet(path)
            back = df.sparkSession.read.parquet(path)
            aggs = [F.count("*").alias("__n")]
            for c in stats_cols:
                aggs += [F.min(c).alias(f"__lo_{c}"),
                         F.max(c).alias(f"__hi_{c}")]
            frows = (back.groupBy(F.input_file_name().alias("__f"))
                     .agg(*aggs).collect())
            files = [
                {"path": r["__f"], "count": r["__n"],
                 "min": {c: _stat_json(r[f"__lo_{c}"]) for c in stats_cols},
                 "max": {c: _stat_json(r[f"__hi_{c}"]) for c in stats_cols}}
                for r in frows]
            entries.append({"id": new_id, "committed_at": time.time(),
                            "path": path, "files": files,
                            "count": sum(f["count"] for f in files),
                            "schema": json.loads(df.schema.json())})
        self._write_manifest(tile, entries)
        return entries[-1]

    def current_snapshot_id(self, tile: int) -> int | None:
        """Latest committed snapshot (ORDER BY committed_at DESC LIMIT 1 — K:1297)."""
        entries = self._read_manifest(tile)
        return entries[-1]["id"] if entries else None

    def snapshot_exists(self, tile: int, snapshot_id: int) -> bool:
        return any(e["id"] == snapshot_id for e in self._read_manifest(tile))

    def read_snapshot(self, spark: SparkSession, tile: int, snapshot_id: int,
                      between: dict[str, tuple] | None = None) -> DataFrame:
        """Time-travel read (readIcebergAtSnapshot — K:1340-1349).

        ``between={col: (lo, hi)}`` returns only rows with every col in
        its inclusive range — and when the snapshot was written with
        ``stats_cols``, files whose manifest [min, max] cannot intersect
        the range are never opened (Iceberg-style manifest pruning: the
        predicate touches file METADATA first, so a point/range lookup
        on a 100 TB tile reads O(matching files), not the snapshot).
        Without stats the same predicate still applies, just without
        the skip. A parquet snapshot whose manifest records its schema
        is read with it: no schema-inference job per read."""
        for e in self._read_manifest(tile):
            if e["id"] != snapshot_id:
                continue
            reader = spark.read
            if "schema" in e:
                reader = reader.schema(StructType.fromJson(e["schema"]))
            if self.fmt == "delta":
                df = (spark.read.format("delta")
                      .option("versionAsOf", e["delta_version"])
                      .load(e["path"]))
            elif self.fmt == "dlog":
                from .dlog import DeltaLogTable

                df = DeltaLogTable(e["path"]).read(
                    spark, version_as_of=e["dlog_version"])
            elif between and e.get("files"):
                def _overlaps(f: dict) -> bool:
                    for c, (lo, hi) in between.items():
                        fmin, fmax = f["min"].get(c), f["max"].get(c)
                        if fmin is None or fmax is None:
                            continue  # unknown stats never exclude a file
                        # bounds normalized like the stored stats, so a
                        # date/timestamp compare is string-vs-string in
                        # the same ISO encoding
                        if fmax < _stat_json(lo) or fmin > _stat_json(hi):
                            return False
                    return True

                keep = [f["path"] for f in e["files"] if _overlaps(f)]
                if not keep:  # schema-correct empty frame, zero data read
                    df = reader.parquet(e["path"]).where(F.lit(False))
                else:
                    df = reader.parquet(*keep)
            else:
                df = reader.parquet(e["path"])
            if between:
                for c, (lo, hi) in between.items():
                    df = df.filter(F.col(c).between(lo, hi))
            return df
        raise ValueError(
            f"snapshot {snapshot_id} not found for {self.keyspace}.{self.table} tile {tile}"
        )

    def read_current(self, spark: SparkSession, tile: int) -> DataFrame:
        sid = self.current_snapshot_id(tile)
        if sid is None:
            raise ValueError(f"no snapshots for tile {tile}")
        return self.read_snapshot(spark, tile, sid)

    def expire_snapshots(self, tile: int, retain_last: int = 2) -> int:
        """Drop all but the newest N snapshots (K:1278-1289). Returns
        #expired. Delta backend: expired ids leave the manifest (reads
        through this store fail, matching parquet semantics) but their
        versions remain in the transaction log until Delta's own
        VACUUM/log-retention reclaims them — Delta cannot drop a
        selected old version eagerly."""
        with self._tile_mutex(tile):
            entries = self._read_manifest(tile)
            if len(entries) <= retain_last:
                return 0
            keep = entries[-retain_last:]
            expired = entries[:-retain_last]
            if self.fmt == "dlog":
                # one shared log per tile: reclaim data files
                # unreachable from the retained versions (vacuum); the
                # commit log keeps full history, reads of expired ids
                # fail at the manifest
                from .dlog import DeltaLogTable

                DeltaLogTable(entries[-1]["path"]).vacuum(
                    retain_versions=retain_last)
            elif self.fmt != "delta":
                for e in expired:
                    shutil.rmtree(e["path"], ignore_errors=True)
            self._write_manifest(tile, keep)
            return len(expired)

    def snapshots(self, tile: int) -> list[SnapshotInfo]:
        return [SnapshotInfo(
            id=e["id"], committed_at=e["committed_at"],
            count=e["count"], path=e["path"],
        ) for e in self._read_manifest(tile)]

    def gc_orphans(self, tile: int) -> list[str]:
        """Remove snapshot directories the manifest does not reference
        (Iceberg's remove_orphan_files housekeeping): a write that died
        between the parquet commit and the manifest swap leaves a
        ``snap-*`` dir no reader can ever reach — at scale, weeks of
        crashed cycles silently accrete storage. Only ``snap-*`` dirs
        are candidates; the manifest itself and the Delta table dir are
        never touched. Returns the removed paths. Safe against a
        concurrent writer: the manifest is the commit point, and gc
        runs under the same per-tile mutex as a snapshot commit — a
        writer creates its ``snap-*`` dir (a write into it, or the
        rename of its staged ``tile=N`` dir) and swaps the manifest
        under the lock, so gc can never classify a mid-flight
        (uncommitted but about to commit) snapshot dir as orphan; it
        sees the dir either before it exists or after the manifest
        lists it. Staging dirs of dead writers (``staging``) go too:
        they sit beside the tile dirs, so any tile's gc collects them."""
        removed = remove_dead_staging(
            os.path.join(self.root, self.keyspace, self.table))
        tdir = self._tile_dir(tile)
        if not os.path.isdir(tdir):
            return removed
        with self._tile_mutex(tile):
            live = {os.path.basename(e["path"])
                    for e in self._read_manifest(tile)}
            for name in sorted(os.listdir(tdir)):
                if name.startswith("snap-") and name not in live:
                    p = os.path.join(tdir, name)
                    if os.path.isdir(p):
                        shutil.rmtree(p, ignore_errors=True)
                        removed.append(p)
            return removed


def migrate_legacy_snapshots(
    spark: SparkSession,
    store: SnapshotStore,
    ledger,
    keyspace: str,
    table: str,
    legacy_root: str,
    tiles: list[int],
    pk_cols: list[str],
    total_tiles: int | None = None,
    cleanup: bool = True,
) -> dict[int, tuple[int, int]]:
    """Migrate legacy per-tile head/tail parquet dirs into the snapshot
    store + ledger (the K:1481-1560 parquet->Iceberg migration).

    Legacy layout: ``{legacy_root}/tile={n}/tail`` (older key set) and
    ``.../head`` (newer). The legacy tiles were assigned by the
    *reference's* tile hash (abs(xxhash64(concat))%N), which this engine
    deliberately does not reproduce (tiling.py uses native multi-arg
    xxhash64). Importing each legacy tile verbatim would therefore make
    the first post-migration discovery re-tile ~(1-1/N) of all keys,
    emitting a spurious delete+insert per moved key — so migration
    RE-TILES: union every legacy tile's tail set, assign tiles with this
    engine's tile_expr, and write each new tile's snapshot from that
    (then the same for head). Both generations go through the ledger's
    normal discovery/consume rotation, so the resumed pipeline's next
    discovery diffs against head with a stable tiling — the
    already-replicated head/tail delta is NOT replayed and no
    re-tiling churn is emitted. Returns
    {new_tile: (tail_snapshot_id, head_snapshot_id)}.
    """
    from .tiling import assign_tiles

    present = [
        t for t in tiles
        if os.path.isdir(os.path.join(legacy_root, f"tile={t}", "head"))
        and os.path.isdir(os.path.join(legacy_root, f"tile={t}", "tail"))
    ]
    if not present:
        return {}
    num_tiles = total_tiles or len(tiles)
    migrated: dict[int, list[int]] = {t: [] for t in range(num_tiles)}
    for phase in ("tail", "head"):
        union = None
        for tile in present:
            df = spark.read.parquet(os.path.join(legacy_root, f"tile={tile}", phase))
            union = df if union is None else union.unionByName(df)
        snaps = store.write_snapshots(assign_tiles(union, pk_cols, num_tiles),
                                      list(range(num_tiles)))
        for new_tile, snap in snaps.items():
            ledger.record_discovery(keyspace, table, new_tile, snap.id)
            ledger.mark_replication_complete(keyspace, table, new_tile)
            migrated[new_tile].append(snap.id)
    if cleanup:
        for tile in present:
            shutil.rmtree(os.path.join(legacy_root, f"tile={tile}"),
                          ignore_errors=True)
    return {t: (ids[0], ids[1]) for t, ids in migrated.items()}
