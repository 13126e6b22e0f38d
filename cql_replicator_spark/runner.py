"""Discovery / replication runner — the engine's control loop.

Reimplements the reference's job structure (SURVEY §3):
  * keysDiscoveryProcess (K:2233-2292): source scan -> PK+ts projection
    -> tile assignment -> per-tile snapshot write gated by the ledger.
  * dataReplicationProcess (K:1564-1681): per-tile three-way dispatch
    (nothing / historical / delta), change-set computation, hydration,
    sink write, completion mark, snapshot expiry.
  * poll loop with stop sentinel + cooldown (K:2338-2379, stop object
    K:654-670) — the reference's "streaming" is this micro-batch loop.
  * stats objects (DiscoveryStats / ReplicationStats case classes K:79-81,
    aggregation-on-write putStats K:759-785).

Each phase of a cycle is one Spark pass over every due tile, where the
reference runs one job per tile (Scala .par — K:2258): discovery writes
all due tiles in one ``partitionBy("tile")`` write; replication diffs
every delta tile in one full-outer join keyed on (tile, pk), and the
sink runs once per cycle on a ``ChangeSet`` whose frames carry
``tile``. The ledger still commits each tile on its own, after the
cycle-wide work.

The source is any callable returning a DataFrame with the PK columns
(+ optional ts): a Cassandra connector reader in production, parquet
fixtures in tests — the engine core is source-agnostic (SURVEY §7.1).
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable
from dataclasses import asdict, dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .diff import ChangeSet, changeset_from_tagged, compute_changes_tagged
from .ledger import DiscoveryRaceLost, Ledger
from .snapshot import SnapshotStore
from .tiling import assign_tiles


@dataclass
class DiscoveryStats:
    tile: int
    primaryKeys: int
    updatedTimestamp: float


@dataclass
class ReplicationStats:
    tile: int
    primaryKeys: int
    updatedPrimaryKeys: int
    insertedPrimaryKeys: int
    deletedPrimaryKeys: int
    updatedTimestamp: float


class StatsStore:
    """JSON stats objects with read-add-write aggregation (putStats
    K:759-785). One file per (tile, kind)."""

    def __init__(self, root: str):
        self.root = root

    def _path(self, ks: str, tbl: str, tile: int, kind: str) -> str:
        return os.path.join(self.root, ks, tbl, f"{kind}-tile-{tile}.json")

    def put(self, ks: str, tbl: str, stats: DiscoveryStats | ReplicationStats,
            snapshot_id: int | None = None) -> None:
        """Discovery stats overwrite (a gauge); replication stats add
        to the stored totals. ``snapshot_id`` is the curr snapshot a
        replication put accounts for: it is recorded as
        ``appliedSnapshotId``, and a put of the id already recorded
        does nothing, so a replication retried after a crash between
        this put and the ledger mark counts its tile once."""
        kind = "discovery" if isinstance(stats, DiscoveryStats) else "replication"
        path = self._path(ks, tbl, stats.tile, kind)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        merged = asdict(stats)
        if kind == "replication":
            if os.path.exists(path):
                with open(path) as f:
                    prev = json.load(f)
                if snapshot_id is not None and \
                        prev.get("appliedSnapshotId") == snapshot_id:
                    return
                # primaryKeys aggregates too — the reference's
                # historicallyInserted accumulation (K:1560)
                for k in ("primaryKeys", "updatedPrimaryKeys",
                          "insertedPrimaryKeys", "deletedPrimaryKeys"):
                    merged[k] += prev.get(k, 0)
            merged["appliedSnapshotId"] = snapshot_id
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(merged, f)
        os.replace(tmp, path)

    def get(self, ks: str, tbl: str, tile: int, kind: str) -> dict | None:
        path = self._path(ks, tbl, tile, kind)
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return json.load(f)


class StopSentinel:
    """Graceful-stop protocol: an object appears at a known location;
    the loop sees it, deletes it, and exits (requestStop/stopRequested
    K:654-670; the CLI writes it, C:1381-1394)."""

    def __init__(self, path: str):
        self.path = path

    def request(self) -> None:
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        with open(self.path, "w") as f:
            f.write("{}")

    def check_and_clear(self) -> bool:
        if os.path.exists(self.path):
            os.remove(self.path)
            return True
        return False


@dataclass
class CdcPipeline:
    """Wiring for one replicated table."""
    spark: SparkSession
    keyspace: str
    table: str
    pk_cols: list[str]
    source: Callable[[], DataFrame]          # full source table
    pk_source: Callable[[], DataFrame]       # (pk_cols..., ts) projection
    store: SnapshotStore
    ledger: Ledger
    stats: StatsStore
    total_tiles: int = 4
    ts_col: str = "ts"
    # (changes, batches), called once per replication cycle: changes is
    # every due tile's ChangeSet in one, each frame carrying ``tile``,
    # with its per-(tile, op) row counts in ``changes.counts``;
    # batches maps each due tile to its consumed curr snapshot id, unique
    # per rotation, so two cycles never collide on a sink path (a
    # wall-clock batch id collides when cycles are < 1s apart).
    sink: Callable[[ChangeSet, dict[int, int]], None] | None = None
    # Discovery-scan layout: when set, the tiled projection is
    # repartitioned to this many partitions on the tile column before
    # snapshotting (the reference's repartition(defaultPartitions, group)
    # K:1845-1847; compute via config.default_partitions_for). None =
    # leave layout to AQE, which is right for local/test runs.
    default_partitions: int | None = None
    # Tile assignment: None = production xxhash64 tiling (tiling.tile_expr,
    # K:1832-1843). A Column-returning callable overrides it with an
    # engine-portable rule (oracle-checked fixtures tile by pk % N —
    # xxhash64 has no DuckDB equivalent); any deterministic pure
    # function of the PK columns preserves the ledger/tile invariants.
    tile_of: Callable[[DataFrame], Column] | None = None

    # -- discovery ---------------------------------------------------------
    def discover(self) -> list[int]:
        """One discovery cycle; returns tiles that rotated a snapshot."""
        # Gate FIRST: a tile still holding an unconsumed snapshot is
        # skipped (K:2263-2271), and a cycle with no due tile refuses
        # without touching the source. can_discover is a read-only
        # probe; record_discovery re-checks under the ledger's lock.
        due = [t for t in range(self.total_tiles)
               if self.ledger.can_discover(self.keyspace, self.table, t)]
        if not due:
            return []
        src = self.pk_source()
        if self.tile_of is not None:
            tiled = src.withColumn("tile", self.tile_of(src))
            if self.default_partitions is not None:
                tiled = tiled.repartition(self.default_partitions,
                                          F.col("tile"))
        else:
            tiled = assign_tiles(
                src, self.pk_cols, self.total_tiles,
                repartition=self.default_partitions is not None,
                num_partitions=self.default_partitions)
        rotated = []
        for tile, snap in self.store.write_snapshots(tiled, due).items():
            try:
                self.ledger.record_discovery(
                    self.keyspace, self.table, tile, snap.id)
            except DiscoveryRaceLost:
                # A rival process rotated this tile between our gate
                # check and our record (the ledger allows any number of
                # discovery processes; record_discovery raises the TYPED
                # race exception to protect the unconsumed-snapshot
                # invariant — any other error is a real failure and
                # propagates). Our snapshot is an unreferenced orphan
                # until expiry: skip the tile, not the cycle.
                continue
            self.stats.put(self.keyspace, self.table,
                           DiscoveryStats(tile, snap.count, time.time()))
            rotated.append(tile)
        return rotated

    # -- replication --------------------------------------------------------
    def replicate(self) -> list[ReplicationStats]:
        return self._replicate(range(self.total_tiles))

    def replicate_tile(self, tile: int) -> ReplicationStats | None:
        out = self._replicate([tile])
        return out[0] if out else None

    def _replicate(self, tiles) -> list[ReplicationStats]:
        """Replicate every due tile of ``tiles`` in one pass: one tagged
        diff over the delta tiles keyed on (tile, pk), historical tiles
        as curr-as-insert rows, one sink call; then, tile by tile,
        stats, ledger mark and expiry."""
        plans = {}
        for t in tiles:
            plan = self.ledger.replication_plan(self.keyspace, self.table, t)
            if plan is not None:
                plans[t] = plan
        if not plans:
            return []

        def read(tile: int, sid: int) -> DataFrame:
            return (self.store.read_snapshot(self.spark, tile, sid)
                    .withColumn("tile", F.lit(tile)))

        def union(frames: list[DataFrame]) -> DataFrame:
            return reduce(lambda a, b: a.unionByName(
                b, allowMissingColumns=True), frames)

        delta = [t for t, p in plans.items() if p["mode"] == "delta"]
        counts: dict[int, dict[str, int]] = {t: {} for t in plans}
        parts = []
        tagged = None
        try:
            if delta:
                # single-pass diff: one full-outer join, materialized
                # once; the counts and the sink's three-set view reuse
                # the cache
                tagged = compute_changes_tagged(
                    union([read(t, plans[t]["curr"]) for t in delta]),
                    union([read(t, plans[t]["prev"]) for t in delta]),
                    ["tile", *self.pk_cols], self.ts_col).persist()
                for r in tagged.groupBy("tile", "op").count().collect():
                    counts[r["tile"]][r["op"]] = r["count"]
                parts.append(tagged)
            for t, p in plans.items():
                if p["mode"] == "historical":
                    # full load: everything in curr is an insert
                    # (K:1660-1674), counted by the manifest
                    parts.append(read(t, p["curr"])
                                 .withColumn("op", F.lit("insert")))
                    counts[t]["insert"] = next(
                        s.count for s in self.store.snapshots(t)
                        if s.id == p["curr"])
            if self.sink is not None:
                self.sink(changeset_from_tagged(union(parts), counts=counts),
                          {t: p["curr"] for t, p in plans.items()})
        finally:
            if tagged is not None:
                tagged.unpersist()

        out = []
        for t, p in plans.items():
            n = counts[t]
            n_ins, n_del, n_upd = (n.get("insert", 0), n.get("delete", 0),
                                   n.get("update", 0))
            st = ReplicationStats(t, n_ins + n_del + n_upd, n_upd, n_ins,
                                  n_del, time.time())
            # stats before the mark: a crash between the two re-runs the
            # tile, and the put of the same curr id is a no-op
            self.stats.put(self.keyspace, self.table, st, p["curr"])
            self.ledger.mark_replication_complete(self.keyspace, self.table, t)
            self.store.expire_snapshots(t, retain_last=2)  # K:1656-1657
            out.append(st)
        return out

    # -- loop -----------------------------------------------------------------
    def run_loop(
        self,
        stop: StopSentinel,
        cooldown_s: float = 0.0,
        max_cycles: int | None = None,
    ) -> int:
        """Micro-batch poll loop (K:2338-2379). Returns cycles completed."""
        cycles = 0
        while not stop.check_and_clear():
            if max_cycles is not None and cycles >= max_cycles:
                break
            self.discover()
            self.replicate()
            cycles += 1
            if cooldown_s:
                time.sleep(cooldown_s)
        return cycles
