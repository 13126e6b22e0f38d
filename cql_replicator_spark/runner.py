"""Discovery / replication runner — the engine's control loop.

Reimplements the reference's job structure (SURVEY §3):
  * keysDiscoveryProcess (K:2233-2292): source scan -> PK+ts projection
    -> tile assignment -> per-tile snapshot write gated by the ledger.
  * dataReplicationProcess (K:1564-1681): per-tile three-way dispatch
    (nothing / historical / delta), change-set computation, hydration,
    sink write, completion mark.
  * poll loop with stop sentinel + cooldown (K:2338-2379, stop object
    K:654-670) — the reference's "streaming" is this micro-batch loop.
  * stats objects (the ReplicationStats case class K:79-81,
    aggregation-on-write putStats K:759-785). The reference's
    DiscoveryStats gauge is the snapshot's manifest entry: its ``count``
    is the tile's key count at discovery, written in the same commit.

Each phase of a cycle is one Spark pass over every due tile, where the
reference runs one job per tile (Scala .par — K:2258): discovery writes
all due tiles in one ``partitionBy("tile")`` write; replication reads
the curr snapshots of every delta tile as one relation and their prev
snapshots as another (``SnapshotStore.read_snapshots``), diffs them in
one full-outer join keyed on (tile, pk), persists the op-tagged result
and counts it with one ``groupBy("tile", "op")``. The sink runs once
per cycle on a ``ChangeSet`` whose frames carry ``tile`` and whose
``tagged_union()`` is that persisted frame itself (plus the historical
tiles' curr relation, every row an insert). The state files commit
once per phase too. Discovery makes one snapshot manifest write, which
also expires every tile's snapshots older than its consumed curr (the
ledger's bound, ``write_snapshots(keep_from=...)``; the reference
expires by count after each replication, K:1656-1657), and one ledger
record for every rotated tile. Replication puts one stats file per
tile, then makes one ledger mark for every replicated tile. A delta
cycle of N tiles thus replaces 3 + N state files.

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

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .diff import ChangeSet, changeset_from_tagged, compute_changes_tagged
from .ledger import SUCCESS, Ledger
from .snapshot import SnapshotStore
from .tiling import tile_expr


@dataclass
class ReplicationStats:
    tile: int
    primaryKeys: int
    updatedPrimaryKeys: int
    insertedPrimaryKeys: int
    deletedPrimaryKeys: int
    updatedTimestamp: float


class StatsStore:
    """JSON replication stats objects with read-add-write aggregation
    (putStats K:759-785). One file per tile."""

    def __init__(self, root: str):
        self.root = root

    def _path(self, ks: str, tbl: str, tile: int) -> str:
        return os.path.join(self.root, ks, tbl, f"replication-tile-{tile}.json")

    def put(self, ks: str, tbl: str, stats: ReplicationStats,
            snapshot_id: int | None = None) -> None:
        """Add ``stats`` to the tile's stored totals. ``snapshot_id`` is
        the curr snapshot the put accounts for: it is recorded as
        ``appliedSnapshotId``, and a put of the id already recorded
        does nothing, so a replication retried after a crash between
        this put and the ledger mark counts its tile once."""
        path = self._path(ks, tbl, stats.tile)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        merged = asdict(stats)
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

    def get(self, ks: str, tbl: str, tile: int) -> dict | None:
        path = self._path(ks, tbl, tile)
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
    # Tile assignment: None = production xxhash64 tiling (tiling.tile_expr,
    # K:1832-1843). A Column-returning callable overrides it with an
    # engine-portable rule (oracle-checked fixtures tile by pk % N —
    # xxhash64 has no DuckDB equivalent); any deterministic pure
    # function of the PK columns preserves the ledger/tile invariants.
    tile_of: Callable[[DataFrame], Column] | None = None

    # -- discovery ---------------------------------------------------------
    def discover(self) -> list[int]:
        """One discovery cycle; returns tiles that rotated a snapshot.
        Each due tile's new manifest entry is its discovery gauge
        (``count``), and the same manifest write expires the tile's
        snapshots older than its consumed curr."""
        # Gate FIRST: a tile still holding an unconsumed snapshot is
        # skipped (K:2263-2271), and a cycle with no due tile refuses
        # without touching the source. can_discover is a read-only
        # probe; record_discoveries re-checks under the ledger's lock.
        due = [t for t in range(self.total_tiles)
               if self.ledger.can_discover(self.keyspace, self.table, t)]
        if not due:
            return []
        # A consumed curr is the oldest snapshot any later plan can read
        # (it becomes the prev of the next rotation, whoever makes it),
        # so the commit may drop everything before it. A tile whose curr
        # is not consumed (a rival rotated it since the gate) drops
        # nothing.
        consumed = {r.tile: int(r.location) for r in self.ledger.rows()
                    if (r.ks, r.tbl, r.ver, r.load_status)
                    == (self.keyspace, self.table, "curr", SUCCESS)
                    and r.tile in due}
        src = self.pk_source()
        tiled = src.withColumn(
            "tile", self.tile_of(src) if self.tile_of is not None
            else tile_expr(src, self.pk_cols, self.total_tiles))
        snaps = self.store.write_snapshots(tiled, due, keep_from=consumed)
        # A tile comes back lost when a rival process rotated it between
        # our gate check and our record (the ledger allows any number of
        # discovery processes). Our snapshot of it is an unreferenced
        # orphan until a later commit's bound passes it: skip the tile,
        # not the cycle.
        lost = self.ledger.record_discoveries(
            self.keyspace, self.table, {t: s.id for t, s in snaps.items()})
        return [t for t in snaps if t not in lost]

    # -- replication --------------------------------------------------------
    def replicate(self) -> list[ReplicationStats]:
        return self._replicate(range(self.total_tiles))

    def replicate_tile(self, tile: int) -> ReplicationStats | None:
        out = self._replicate([tile])
        return out[0] if out else None

    def _replicate(self, tiles) -> list[ReplicationStats]:
        """Replicate every due tile of ``tiles`` in one pass: one tagged
        diff keyed on (tile, pk) over one curr and one prev relation
        (``read_snapshots``), historical tiles as one curr-as-insert
        relation, one sink call on the tagged frame; then every tile's
        stats and one ledger mark for all of them. Expiry waits for the
        tiles' next discovery commit."""
        plans = {}
        for t in tiles:
            plan = self.ledger.replication_plan(self.keyspace, self.table, t)
            if plan is not None:
                plans[t] = plan
        if not plans:
            return []

        delta = {t: p for t, p in plans.items() if p["mode"] == "delta"}
        historical = {t: p["curr"] for t, p in plans.items()
                      if p["mode"] == "historical"}
        counts: dict[int, dict[str, int]] = {t: {} for t in plans}
        tagged = changes = None
        try:
            if delta:
                # single-pass diff: one full-outer join, materialized
                # once; the counts and the sink reuse the cache
                tagged = compute_changes_tagged(
                    self.store.read_snapshots(
                        self.spark, {t: p["curr"] for t, p in delta.items()}),
                    self.store.read_snapshots(
                        self.spark, {t: p["prev"] for t, p in delta.items()}),
                    ["tile", *self.pk_cols], self.ts_col).persist()
                for r in tagged.groupBy("tile", "op").count().collect():
                    counts[r["tile"]][r["op"]] = r["count"]
                changes = tagged
            if historical:
                # full load: everything in curr is an insert
                # (K:1660-1674), counted by the manifest
                loads = (self.store.read_snapshots(self.spark, historical)
                         .withColumn("op", F.lit("insert")))
                changes = loads if changes is None else changes.unionByName(
                    loads, allowMissingColumns=True)
                live = self.store.all_snapshots()
                for t, sid in historical.items():
                    counts[t]["insert"] = next(
                        s.count for s in live[t] if s.id == sid)
            if self.sink is not None:
                self.sink(changeset_from_tagged(changes, counts=counts),
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
            self.stats.put(self.keyspace, self.table, st, p["curr"])
            out.append(st)
        # stats before the mark: a crash between the two re-runs the
        # tiles, and a put of the same curr id is a no-op
        self.ledger.mark_replications_complete(self.keyspace, self.table,
                                               list(plans))
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
