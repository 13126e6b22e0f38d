"""Versioned per-tile primary-key snapshot store.

The reference persists each tile's PK set as an Apache Iceberg table
(one Glue-Catalog table per tile, name scheme
``{catalog}.{ks}_db.{tbl}_tile_{n}_pk_snapshots`` — CQLReplicator.scala
K:1220-1272) and time-travels between snapshot ids (K:1340-1349), with
``expire_snapshots(retain_last=2)`` housekeeping (K:1278-1289); this
store expires by the ledger's bound instead, inside each commit.

This store keeps the same shape on plain Parquet, and it is the one
snapshot format: each snapshot is an immutable directory
``{root}/{ks}/{table}/tile={n}/snap-{id:08d}/``, and one JSON manifest
per table, ``{root}/{ks}/{table}/manifest.json``, lists each tile's live
snapshots (id, committed_at, count, the dir relative to the table dir,
a schema id and a ``files`` list: each data file's name and byte size,
plus count/min/max for ``stats_cols`` writes) — the role Iceberg's
metadata plays. Each distinct schema is stored once, in the manifest's
``schemas`` map, so the file grows with the live snapshots, not with
their schemas. A snapshot's ``count`` is the discovery gauge: the
number of keys the tile held when it was taken. Manifests of older
builds (per-tile ``tile={n}/manifest.json`` files, a table manifest
with a schema and an absolute path in each entry, or entries without a
``files`` list) are not read. The API mirrors Iceberg's:
write-overwrite (one new snapshot per tile, any number of tiles in one
partitioned write, with the expiry of each tile's snapshots before a
given id in the same manifest write) and read at snapshot (time
travel).

Layout contract. A snapshot is the directory
``{root}/{ks}/{table}/tile={n}/snap-{id:08d}/`` holding the snapshot's
data files and nothing else a reader lists (Spark skips ``_``/``.``
names), and its manifest entry names the schema of those files
without the tile. ``read_snapshots`` relies on both: it reads any set
of snapshot dirs as one relation with ``basePath`` at the table dir,
so Spark takes ``tile`` from the ``tile=N`` directory and the manifest
schema (plus ``tile int``) spares it the schema-inference job. An empty
snapshot is an empty directory, which reads as zero rows.

Torn files. Spark reads a zero-length parquet file as zero rows, and a
zero-length file is what an unsynced write can leave after a power loss.
Read silently, the lost keys would reach the sink as deletes. So every
read first checks, by ``os.stat``, that each file the entry lists is on
disk at the size its commit recorded, and raises ``TornSnapshotError``
if one is not.

Crash safety. Every commit stages its files in a private directory
(``staging``; each write sweeps the ones killed writers left) and then,
under one cross-process mutex per table, renames each tile's files to
``snap-{id}`` and writes the manifest once for every tile. So the only
dir a crash can orphan in a tile is ``snap-{max id + 1}`` (renamed, not
yet listed), and the next commit of that tile takes that id and removes
the dir first: each tile heals itself, with no separate orphan sweep.
Expiry runs inside a commit (``keep_from``), under the same mutex: it
removes the expired dirs, then the commit writes the manifest once for
every tile. A crash between the two leaves listed
entries whose dirs are gone; a commit's expiry only removes snapshots
older than one the ledger marked consumed, which no replication plan
reads again.

Scale note: ``write_snapshots`` writes every due tile in one
``coalesce(files_per_snapshot)`` (``repartitionByRange`` with
``stats_cols``) + ``partitionBy("tile")`` job, so a tile's snapshot
holds at most ``files_per_snapshot`` files (one file when the input is
hash-partitioned by tile); reads never list another tile's files. A
multi-tile read lists the requested dirs one by one; past 32 paths
(``spark.sql.sources.parallelPartitionDiscovery.threshold``) Spark
lists them in one parallel listing job instead.
"""

from __future__ import annotations

import datetime
import decimal
import json
import os
import shutil
import time
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructType

from .ledger import commit_json, file_mutex
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


class TornSnapshotError(RuntimeError):
    """A snapshot's data file is missing or not the size its commit
    recorded."""


@dataclass
class SnapshotInfo:
    id: int
    committed_at: float
    count: int
    path: str


class SnapshotStore:
    def __init__(self, root: str, keyspace: str, table: str):
        self.root = root
        self.keyspace = keyspace
        self.table = table

    # -- layout ---------------------------------------------------------
    def _table_dir(self) -> str:
        return os.path.join(self.root, self.keyspace, self.table)

    def _tile_dir(self, tile: int) -> str:
        return os.path.join(self._table_dir(), f"tile={tile}")

    def _manifest_path(self) -> str:
        return os.path.join(self._table_dir(), "manifest.json")

    def _load_manifest(self) -> dict:
        """The table manifest, ``{"schemas": {schema_id: schema},
        "tiles": {tile: [entry, ...]}}`` with each tile's entries oldest
        first (JSON object keys are strings)."""
        try:
            with open(self._manifest_path()) as f:
                manifest = json.load(f)
        except FileNotFoundError:
            manifest = {}
        return {"schemas": manifest.get("schemas", {}),
                "tiles": manifest.get("tiles", {})}

    def _write_manifest(self, manifest: dict) -> None:
        # a schema goes with the last entry that names it
        used = {str(e["schema_id"])
                for entries in manifest["tiles"].values() for e in entries}
        manifest["schemas"] = {k: v for k, v in manifest["schemas"].items()
                               if k in used}
        # atomic commit, like Iceberg's metadata swap
        commit_json(self._manifest_path(), manifest)

    @staticmethod
    def _schema_id(manifest: dict, schema: dict) -> int:
        """The id of ``schema`` in the manifest's schema map, added to
        the map if it is new there."""
        for k, v in manifest["schemas"].items():
            if v == schema:
                return int(k)
        new_id = max(map(int, manifest["schemas"]), default=0) + 1
        manifest["schemas"][str(new_id)] = schema
        return new_id

    def _abs_path(self, entry: dict) -> str:
        return os.path.join(self._table_dir(), entry["path"])

    def _table_mutex(self):
        """Cross-process mutex serializing the manifest's
        read-modify-write section (the commit in write_snapshots, with
        its expiry). Without it two racing
        discoverers — legal under the ledger's
        any-number-of-discovery-processes contract — read the same
        manifest, pick the SAME next snapshot id, rename
        onto one another's snap-{id} directory, and the last-write-wins
        manifest swap silently drops the other's entry (and an expiring
        commit racing a writer drops the fresh entry). Same
        battle-tested lock as the ledger (ledger.file_mutex). Writers stage their files
        outside it and hold it only for the renames and manifest swap."""
        return file_mutex(self._manifest_path() + ".lock")

    # -- API ------------------------------------------------------------
    def write_snapshot(self, df: DataFrame, tile: int,
                       files_per_snapshot: int | None = None,
                       stats_cols: list[str] | None = None) -> int:
        """Persist df as the tile's next snapshot; returns new snapshot id.

        Mirrors writeIcebergTileSnapshot (K:1328-1334): this is
        ``write_snapshots`` with one tile, so ``files_per_snapshot`` and
        ``stats_cols`` mean what they mean there."""
        if "tile" in df.columns:
            raise ValueError(
                "write_snapshot: 'tile' is the store's partition column "
                "and cannot be a snapshot column")
        return self.write_snapshots(
            df.withColumn("tile", F.lit(tile)), [tile],
            files_per_snapshot, stats_cols)[tile].id

    def write_snapshots(self, df: DataFrame, tiles: list[int],
                        files_per_snapshot: int | None = None,
                        stats_cols: list[str] | None = None,
                        keep_from: dict[int, int] | None = None
                        ) -> dict[int, SnapshotInfo]:
        """Commit one new snapshot for each of ``tiles`` from ``df``,
        whose ``tile`` column names each row's tile (the column is not
        stored; rows of other tiles are skipped). Returns
        ``{tile: SnapshotInfo}``.

        ONE ``partitionBy("tile")`` write of every tile to a private
        staging directory (``staging``: the next write sweeps the one a
        killed writer left), with the per-tile row counts taken from an
        ``Observation`` on that write — no persist, no count pass, no
        per-tile filtered writes. Then, under the table mutex, the
        commit: per tile, allocate the id and rename ``tile=N`` to
        ``snap-{id}``; then one manifest write lists every tile's new
        snapshot. A tile with no rows commits an empty directory; the
        manifest records the schema, so every read of it (empty or not)
        is schema-correct and skips the schema-inference job. A crash
        before the manifest write commits none of the tiles, and each
        renamed dir is taken over by its tile's next commit. The counts
        are of rows streamed through the write, so a corrupt or partial
        file surfaces at the first read of the snapshot, not at
        rotation.

        ``keep_from={tile: snapshot_id}`` expires, in the same commit,
        every snapshot of that tile older than ``snapshot_id``: their
        dirs go before the one manifest write, their entries in it. The
        runner passes each tile's consumed curr snapshot (the ledger's
        bound: no replication plan reads an older one), so a cycle's
        expiry costs no manifest write of its own, and a snapshot that
        lost a discovery race is collected with the rest.

        ``files_per_snapshot`` bounds each tile's file count by a
        ``coalesce``; it defaults to the session's
        ``spark.sql.shuffle.partitions`` so the write can use the
        session's parallelism (coalesce never widens, so narrow inputs
        still produce few files).

        Each entry's ``files`` lists the tile's data files with their
        byte sizes, taken by ``os.stat`` of the staged dir before the
        rename (no Spark job); every read checks them.

        ``stats_cols`` turns on Iceberg-style file-level data skipping:
        rows are range-partitioned by those columns into
        ``files_per_snapshot`` partitions, so each tile's files hold
        disjoint ranges, and per-file min/max/count — read back from the
        staged files in one aggregate whose output is one row per FILE —
        go into the same ``files`` records, letting
        ``read_snapshot(between=...)`` open only the files whose range
        intersects the predicate."""
        tiles = sorted(set(tiles))
        if not tiles:
            return {}
        if files_per_snapshot is None:
            files_per_snapshot = _default_write_files(df)
        due = df.filter(F.col("tile").isin(tiles))
        schema = json.loads(due.drop("tile").schema.json())
        shaped = (due.repartitionByRange(files_per_snapshot, *stats_cols)
                  if stats_cols else due.coalesce(files_per_snapshot))
        remove_dead_staging(self._table_dir())
        stage = new_staging_dir(self._table_dir())
        obs = Observation()
        try:
            (shaped.observe(obs, *[F.count(F.when(F.col("tile") == t, 1))
                                   .alias(f"n{t}") for t in tiles])
             .write.partitionBy("tile").parquet(stage))
            counts = obs.get
            stats = (self._staged_file_stats(df.sparkSession, stage, schema,
                                             stats_cols)
                     if stats_cols else {})
            files = {t: self._staged_files(os.path.join(stage, f"tile={t}"),
                                           stats.get(t, []))
                     for t in tiles}
            keep_from = keep_from or {}
            out = {}
            with self._table_mutex():
                manifest = self._load_manifest()
                schema_id = self._schema_id(manifest, schema)
                for t in tiles:
                    entries = manifest["tiles"].get(str(t), [])
                    new_id = (max(e["id"] for e in entries) + 1) if entries else 1
                    entry = {"id": new_id, "committed_at": time.time(),
                             "count": int(counts[f"n{t}"]),
                             "path": os.path.join(f"tile={t}",
                                                  f"snap-{new_id:08d}"),
                             "schema_id": schema_id, "files": files[t]}
                    path = self._abs_path(entry)
                    # an uncommitted dir of a crashed write may hold the id
                    shutil.rmtree(path, ignore_errors=True)
                    staged = os.path.join(stage, f"tile={t}")
                    if os.path.isdir(staged):
                        os.makedirs(self._tile_dir(t), exist_ok=True)
                        os.rename(staged, path)
                    else:
                        os.makedirs(path)
                    if t in keep_from:
                        n = sum(e["id"] < keep_from[t] for e in entries)
                        for e in entries[:n]:
                            shutil.rmtree(self._abs_path(e),
                                          ignore_errors=True)
                        entries = entries[n:]
                    manifest["tiles"][str(t)] = entries + [entry]
                    out[t] = SnapshotInfo(new_id, entry["committed_at"],
                                          entry["count"], path)
                self._write_manifest(manifest)
            return out
        finally:
            shutil.rmtree(stage, ignore_errors=True)

    @staticmethod
    def _staged_file_stats(spark: SparkSession, stage: str, schema: dict,
                           stats_cols: list[str]) -> dict[int, list[dict]]:
        """Per-file count/min/max of a staged ``partitionBy("tile")``
        write, as ``{tile: [{"name", "count", "min", "max"}]}``; a file
        is named as it will be inside its snapshot dir."""
        aggs = [F.count("*").alias("__n")]
        for c in stats_cols:
            aggs += [F.min(c).alias(f"__lo_{c}"), F.max(c).alias(f"__hi_{c}")]
        rows = (spark.read
                .schema(StructType.fromJson(schema).add("tile", IntegerType()))
                .parquet(stage)
                .groupBy("tile", F.input_file_name().alias("__f"))
                .agg(*aggs).collect())
        files: dict[int, list[dict]] = {}
        for r in rows:
            files.setdefault(r["tile"], []).append(
                {"name": os.path.basename(r["__f"]), "count": r["__n"],
                 "min": {c: _stat_json(r[f"__lo_{c}"]) for c in stats_cols},
                 "max": {c: _stat_json(r[f"__hi_{c}"]) for c in stats_cols}})
        return files

    @staticmethod
    def _staged_files(staged: str, stats: list[dict]) -> list[dict]:
        """The data files of one staged tile dir as ``[{"name", "size"}]``,
        each with its ``stats`` record (``_staged_file_stats``) merged in;
        no files when the write staged no rows for the tile."""
        if not os.path.isdir(staged):
            return []
        by_name = {f["name"]: f for f in stats}
        return [{"name": n, "size": os.stat(os.path.join(staged, n)).st_size,
                 **by_name.get(n, {})}
                for n in sorted(os.listdir(staged))
                if not n.startswith(("_", "."))]

    def _entry(self, tile: int, snapshot_id: int, manifest: dict) -> dict:
        """The tile's manifest entry for ``snapshot_id``, once each file
        it lists is on disk at its committed size."""
        for e in manifest["tiles"].get(str(tile), []):
            if e["id"] == snapshot_id:
                self._check_files(tile, e)
                return e
        raise ValueError(
            f"snapshot {snapshot_id} not found for {self.keyspace}.{self.table} tile {tile}"
        )

    def _check_files(self, tile: int, entry: dict) -> None:
        """Raise ``TornSnapshotError`` if a file the entry lists is
        missing or not the size its commit recorded."""
        for f in entry["files"]:
            path = os.path.join(self._abs_path(entry), f["name"])
            try:
                size = os.stat(path).st_size
            except FileNotFoundError:
                size = None
            if size != f["size"]:
                found = "missing" if size is None else f"{size} bytes"
                raise TornSnapshotError(
                    f"{self.keyspace}.{self.table} tile {tile} snapshot "
                    f"{entry['id']}: file {path} is {found}, committed "
                    f"{f['size']} bytes")

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
        the skip. The snapshot is read with the schema its manifest
        entry names: no schema-inference job per read."""
        manifest = self._load_manifest()
        e = self._entry(tile, snapshot_id, manifest)
        path = self._abs_path(e)
        reader = spark.read.schema(StructType.fromJson(
            manifest["schemas"][str(e["schema_id"])]))
        if between and any("min" in f for f in e["files"]):
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

            keep = [os.path.join(path, f["name"])
                    for f in e["files"] if _overlaps(f)]
            if not keep:  # schema-correct empty frame, zero data read
                df = reader.parquet(path).where(F.lit(False))
            else:
                df = reader.parquet(*keep)
        else:
            df = reader.parquet(path)
        if between:
            for c, (lo, hi) in between.items():
                df = df.filter(F.col(c).between(lo, hi))
        return df

    def read_snapshots(self, spark: SparkSession,
                       snapshot_ids: dict[int, int]) -> DataFrame:
        """Time-travel read of several tiles as ONE relation: for each
        ``{tile: snapshot_id}``, that snapshot's rows, with an int
        ``tile`` column after the snapshot's own columns.

        One ``spark.read`` of every requested snapshot dir with
        ``basePath`` at the table dir, so ``tile`` comes from the
        ``tile=N`` directory (the layout contract in the module
        docstring), read with the manifest schema: one scan node, and no
        job to build it below Spark's parallel-listing threshold. Empty
        snapshots add no rows; a request of only empty snapshots is a
        schema-correct empty frame. Snapshots of different schemas are
        read per tile and unioned here."""
        if not snapshot_ids:
            raise ValueError("read_snapshots: no snapshots requested")
        manifest = self._load_manifest()
        entries = {t: self._entry(t, sid, manifest)
                   for t, sid in sorted(snapshot_ids.items())}
        schema_ids = {e["schema_id"] for e in entries.values()}
        if len(schema_ids) == 1:
            schema = StructType.fromJson(
                manifest["schemas"][str(schema_ids.pop())]
            ).add("tile", IntegerType())
            return (spark.read.schema(schema)
                    .option("basePath", self._table_dir())
                    .parquet(*[self._abs_path(e) for e in entries.values()]))
        return reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True),
            [self.read_snapshot(spark, t, sid).withColumn("tile", F.lit(t))
             for t, sid in sorted(snapshot_ids.items())])

    def all_snapshots(self) -> dict[int, list[SnapshotInfo]]:
        """Every tile's live snapshots, oldest first, from one manifest
        read."""
        return {int(t): [SnapshotInfo(id=e["id"],
                                      committed_at=e["committed_at"],
                                      count=e["count"],
                                      path=self._abs_path(e))
                         for e in entries]
                for t, entries in self._load_manifest()["tiles"].items()}

