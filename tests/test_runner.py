"""Runner loop, reconciliation pipeline, streaming."""

import json
import os

import pytest
from pyspark.sql import functions as F

from cql_replicator_spark.config import Transformation
from cql_replicator_spark.ledger import Ledger
from cql_replicator_spark.reconcile import (
    EXIT_BAD_ARGS, ReconcileError, ReconcileJob,
)
from cql_replicator_spark.runner import CdcPipeline, StatsStore, StopSentinel
from cql_replicator_spark.snapshot import SnapshotStore
from cql_replicator_spark.streaming.microbatch import state_at, time_slices
from cql_replicator_spark.streaming.windows import (
    run_stream_to_memory, stream_events_from_dir, windowed_event_counts,
)


def _make_pipeline(spark, tables, tmp_path, sink=None, mod=10):
    orders = tables["orders"]
    base = orders.select(
        F.col("o_orderkey").alias("pk"),
        (F.col("o_orderkey") % 1000).alias("ts"))
    state = {"mod": mod}
    return CdcPipeline(
        spark=spark, keyspace="tpch", table="orders", pk_cols=["pk"],
        source=lambda: orders,
        pk_source=lambda: base.filter(F.col("pk") % state["mod"] != 0),
        store=SnapshotStore(str(tmp_path / "snaps"), "tpch", "orders"),
        ledger=Ledger(str(tmp_path / "ledger.json")),
        stats=StatsStore(str(tmp_path / "stats")),
        total_tiles=4,
    ), state


def test_cdc_pipeline_full_cycle(spark, tables, tmp_path):
    from cql_replicator_spark.tiling import tile_expr

    captured = []

    def sink(changes, batches):
        # one call per cycle; per-tile facts come from the tile column
        per_tile: dict[int, dict[str, int]] = {}
        for op, frame in (("insert", changes.inserts),
                          ("delete", changes.deletes),
                          ("update", changes.updates)):
            # every row sits in the tile its key hashes to
            assert frame.filter(
                F.col("tile") != tile_expr(frame, ["pk"], 4)).count() == 0
            for r in frame.groupBy("tile").count().collect():
                per_tile.setdefault(r["tile"], {})[op] = r["count"]
        captured.append((dict(batches), per_tile))

    def by_tile(stats):
        return {s.tile: {"insert": s.insertedPrimaryKeys,
                         "delete": s.deletedPrimaryKeys,
                         "update": s.updatedPrimaryKeys} for s in stats}

    def sunk(per_tile):
        return {t: {op: n.get(op, 0) for op in ("insert", "delete", "update")}
                for t, n in per_tile.items()}

    pipe, state = _make_pipeline(spark, tables, tmp_path)
    pipe.sink = sink

    # cycle 1: historical load
    assert sorted(pipe.discover()) == [0, 1, 2, 3]
    stats1 = pipe.replicate()
    assert len(stats1) == 4
    total_loaded = sum(s.insertedPrimaryKeys for s in stats1)
    assert total_loaded == pipe.pk_source().count()
    assert len(captured) == 1  # sink invoked once per cycle
    batches1, per_tile1 = captured[0]
    assert batches1 == {t: pipe.store.current_snapshot_id(t) for t in range(4)}
    assert sunk(per_tile1) == by_tile(stats1)

    # cycle 2: mutate source (mod 10 -> 7), expect delta
    state["mod"] = 7
    pipe.discover()
    captured.clear()
    stats2 = pipe.replicate()
    ins = sum(s.insertedPrimaryKeys for s in stats2)
    dels = sum(s.deletedPrimaryKeys for s in stats2)
    keys = [r.pk for r in tables["orders"].select(F.col("o_orderkey").alias("pk")).collect()]
    t0 = {k for k in keys if k % 10 != 0}
    t1 = {k for k in keys if k % 7 != 0}
    assert ins == len(t1 - t0) and dels == len(t0 - t1)
    assert len(captured) == 1
    batches2, per_tile2 = captured[0]
    assert sorted(batches2) == [0, 1, 2, 3]  # every tile in the one call
    assert all(batches2[t] > batches1[t] for t in range(4))
    assert sorted(per_tile2) == [0, 1, 2, 3]
    assert sunk(per_tile2) == by_tile(stats2)

    # stats aggregated on disk
    st = pipe.stats.get("tpch", "orders", 0)
    assert st is not None and st["insertedPrimaryKeys"] > 0


def test_discovery_skips_unconsumed_tiles(spark, tables, tmp_path):
    pipe, _ = _make_pipeline(spark, tables, tmp_path)
    assert len(pipe.discover()) == 4
    # no replication happened -> second discovery must skip all tiles
    assert pipe.discover() == []


def test_discovery_lost_race_skips_tile_not_cycle(spark, tables, tmp_path):
    """The ledger contract allows ANY NUMBER of discovery processes; a
    rival that rotates a tile between our can_discover gate check and
    our record_discovery makes the record raise (the cross-process
    re-check protecting the unconsumed-snapshot invariant). The loser
    must treat that as 'tile taken' — skip it and rotate the rest —
    not crash the whole discovery cycle; the rival's unconsumed curr
    must survive untouched."""
    pipe, _ = _make_pipeline(spark, tables, tmp_path)
    rival = Ledger(pipe.ledger.path)

    real_can = pipe.ledger.can_discover
    raced = []

    def can_then_rival_rotates(ks, tbl, tile):
        ok = real_can(ks, tbl, tile)
        if ok and tile == 1 and not raced:
            raced.append(tile)
            rival.record_discovery(ks, tbl, tile, snapshot_id=777)
        return ok

    pipe.ledger.can_discover = can_then_rival_rotates
    try:
        rotated = sorted(pipe.discover())  # must NOT raise
    finally:
        pipe.ledger.can_discover = real_can

    assert rotated == [0, 2, 3], rotated
    curr = pipe.ledger.get("tpch", "orders", 1, "curr")
    assert curr is not None and curr.location == "777", \
        "loser clobbered the rival's rotation"
    assert curr.load_status != "SUCCESS"
    # the lost tile replicates the RIVAL's snapshot id on the next pass
    plan = pipe.ledger.replication_plan("tpch", "orders", 1)
    assert plan == {"mode": "historical", "curr": 777}


def test_lost_race_orphans_never_expire_the_consumed_snapshot(
        spark, tables, tmp_path):
    """Two snapshots that lost a discovery race (committed after the
    tile's rotation, never recorded in the ledger) sit after the curr
    the next replication consumes. Expiry keeps every snapshot from a
    consumed curr on, so the next cycles still find their prev, land
    the set arithmetic, and collect the orphans. Expiry by count (the
    newest 2 after the mark) removed the consumed curr here, and every
    later replicate() raised 'snapshot 2 not found'."""
    pipe, state = _make_pipeline(spark, tables, tmp_path)
    keys = {r.o_orderkey for r in tables["orders"].select("o_orderkey").collect()}

    def check(stats, old_mod, new_mod):
        old = {k for k in keys if k % old_mod != 0}
        new = {k for k in keys if k % new_mod != 0}
        assert sorted(s.tile for s in stats) == [0, 1, 2, 3]
        assert (sum(s.insertedPrimaryKeys for s in stats),
                sum(s.deletedPrimaryKeys for s in stats),
                sum(s.updatedPrimaryKeys for s in stats)) == \
            (len(new - old), len(old - new), 0)

    assert sorted(pipe.discover()) == [0, 1, 2, 3]
    pipe.replicate()
    state["mod"] = 7
    assert sorted(pipe.discover()) == [0, 1, 2, 3]
    rival = pipe.pk_source().withColumn("tile", F.lit(0))
    for _ in range(2):
        pipe.store.write_snapshots(rival, [0])
    live = pipe.store.snapshots(0)
    assert [s.id for s in live] == [1, 2, 3, 4]
    check(pipe.replicate(), 10, 7)  # consumes snapshot 2
    for old_mod, new_mod in ((7, 3), (3, 11)):
        state["mod"] = new_mod
        assert sorted(pipe.discover()) == [0, 1, 2, 3]
        check(pipe.replicate(), old_mod, new_mod)
    assert [s.id for s in pipe.store.snapshots(0)] == [5, 6]
    assert not any(os.path.exists(s.path) for s in live)


def _jobs_started(spark, fn) -> tuple[int, int]:
    """Spark jobs that fn starts: (those of the job group set on this
    thread, jobs without a group started meanwhile)."""
    import uuid

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"jobs-{uuid.uuid4().hex}"
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, "counted")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    bus.waitUntilEmpty()
    return (len(tracker.getJobIdsForGroup(group)),
            len(set(tracker.getJobIdsForGroup(None)) - before))


def _cli_sources(spark, tmp_path) -> tuple[str, str]:
    """Two versions of a 400-key source: v2 deletes pk % 10 == 0, bumps
    ts of the other pk % 7 == 0 and inserts 400..409."""
    v1, v2 = str(tmp_path / "v1.parquet"), str(tmp_path / "v2.parquet")
    base = spark.range(400).select(
        F.col("id").alias("pk"), (F.col("id") * 10).alias("ts"),
        F.concat(F.lit("v-"), F.col("id")).alias("payload"))
    base.write.parquet(v1)
    (base.filter("pk % 10 != 0")
     .withColumn("ts", F.when(F.col("pk") % 7 == 0, F.col("ts") + 1)
                 .otherwise(F.col("ts")))
     .unionByName(spark.range(400, 410).select(
         F.col("id").alias("pk"), (F.col("id") * 10).alias("ts"),
         F.concat(F.lit("v-"), F.col("id")).alias("payload")))
     .write.parquet(v2))
    return v1, v2


def _cli_pipeline(spark, state, source, tiles):
    import argparse

    from cql_replicator_spark import cli

    args = argparse.Namespace(
        source=source, table="t", pk="pk", ts_col="ts",
        workdir=str(state / "work"), target=str(state / "target"),
        tiles=tiles, mapping=None, mapping_b64=None)
    return cli._pipeline(spark, args), args


def _target_keys(spark, state, op) -> list[int]:
    return sorted(r.pk for r in spark.read.parquet(
        str(state / "target" / "default" / "t" / "*" / op / "*"))
        .select("pk").collect())


def test_cycle_jobs_do_not_grow_with_tiles(spark, tmp_path):
    """One Spark pass per phase: a delta cycle of the CLI pipeline
    (discovery write, diff, counts, sink) starts the same number of jobs
    at 2 tiles as at 8, and no more than a fixed ceiling."""
    v1, v2 = _cli_sources(spark, tmp_path)

    def delta_cycle_jobs(tiles: int) -> int:
        state = tmp_path / f"state-{tiles}"
        pipe, args = _cli_pipeline(spark, state, v1, tiles)
        assert sorted(pipe.discover()) == list(range(tiles))
        pipe.replicate()
        args.source = v2
        n = sum(_jobs_started(spark, lambda: (pipe.discover(),
                                              pipe.replicate())))
        assert len(_target_keys(spark, state, "delete")) == 40
        return n

    at2, at8 = delta_cycle_jobs(2), delta_cycle_jobs(8)
    assert at2 == at8, (at2, at8)
    assert at8 <= 16, at8


def test_cycle_state_commits_do_not_grow_with_tiles(spark, tmp_path,
                                                    monkeypatch):
    """One state commit per phase: a steady delta cycle of the CLI
    pipeline (each tile past its first delta, so expiry trims) replaces
    the ledger twice (record, mark) and the snapshot manifest once (the
    discovery commit, which also expires) at 2 tiles as at 8. The stats
    replace one replication file per tile; the discovery gauge is the
    manifest entry."""
    v1, v2 = _cli_sources(spark, tmp_path)
    real_replace = os.replace
    replaced: dict[str, int] = {}

    def counting_replace(src, dst, *args, **kwargs):
        if os.path.exists(dst):
            name = os.path.basename(dst)
            replaced[name] = replaced.get(name, 0) + 1
        return real_replace(src, dst, *args, **kwargs)

    monkeypatch.setattr(os, "replace", counting_replace)

    def delta_cycle_replaces(tiles: int) -> dict[str, int]:
        pipe, args = _cli_pipeline(spark, tmp_path / f"state-{tiles}", v1,
                                   tiles)
        for source in (v1, v2):
            args.source = source
            assert sorted(pipe.discover()) == list(range(tiles))
            pipe.replicate()
        args.source = v1
        replaced.clear()
        assert sorted(pipe.discover()) == list(range(tiles))
        assert len(pipe.replicate()) == tiles
        stats = sum(n for name, n in replaced.items() if "-tile-" in name)
        return {"ledger": replaced.get("ledger.json", 0),
                "manifest": replaced.get("manifest.json", 0),
                "stats": stats}

    for tiles in (2, 8):
        assert delta_cycle_replaces(tiles) == {
            "ledger": 2, "manifest": 1, "stats": tiles}, tiles


def test_cli_cycle_jobs_all_carry_the_callers_group(spark, tmp_path):
    """The CLI sink's delete write runs on its own thread; every job of a
    delta cycle, that write's included, carries the job group of the
    thread that runs the cycle."""
    v1, v2 = _cli_sources(spark, tmp_path)
    pipe, args = _cli_pipeline(spark, tmp_path / "state", v1, 4)
    pipe.discover()
    pipe.replicate()
    args.source = v2
    grouped, ungrouped = _jobs_started(
        spark, lambda: (pipe.discover(), pipe.replicate()))
    assert grouped > 0 and ungrouped == 0, (grouped, ungrouped)
    assert _target_keys(spark, tmp_path / "state", "delete") == \
        list(range(0, 400, 10))


def test_cli_sink_delete_failure_raises_after_upserts(spark, tmp_path,
                                                      monkeypatch):
    """A failing delete write, which overlaps the upsert write, surfaces
    from replicate() only once the upsert write has finished, with no
    job left running, no tile marked and no stats put; the retried
    cycle then lands exactly the set arithmetic."""
    import time

    from cql_replicator_spark.sinks import parquet_sink

    real = parquet_sink.write_tile_batches
    failing, events = [True], []

    def write_tile_batches(df, *args, **kwargs):
        if failing[0] and "payload" not in df.columns:  # keys only: deletes
            events.append(("delete failed", time.monotonic()))
            raise RuntimeError("delete write failed")
        real(df, *args, **kwargs)
        events.append(("written", time.monotonic()))

    monkeypatch.setattr(parquet_sink, "write_tile_batches", write_tile_batches)
    v1, v2 = _cli_sources(spark, tmp_path)
    state = tmp_path / "state"
    pipe, args = _cli_pipeline(spark, state, v1, 4)
    pipe.discover()
    pipe.replicate()  # historical: no delete write
    args.source = v2
    pipe.discover()
    plans = {t: pipe.ledger.replication_plan("default", "t", t)
             for t in range(4)}
    stats = {t: pipe.stats.get("default", "t", t)
             for t in range(4)}
    events.clear()

    with pytest.raises(RuntimeError, match="delete write failed"):
        pipe.replicate()
    raised = time.monotonic()
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getActiveJobsIds() == []
    assert sorted(e for e, _ in events) == ["delete failed", "written"]
    assert dict(events)["written"] <= raised
    assert all(p["mode"] == "delta" for p in plans.values())
    assert {t: pipe.ledger.replication_plan("default", "t", t)
            for t in range(4)} == plans
    assert {t: pipe.stats.get("default", "t", t)
            for t in range(4)} == stats

    failing[0] = False
    assert len(pipe.replicate()) == 4
    assert _target_keys(spark, state, "insert") == list(range(410))
    assert _target_keys(spark, state, "update") == [
        k for k in range(400) if k % 7 == 0 and k % 10 != 0]
    assert _target_keys(spark, state, "delete") == list(range(0, 400, 10))


def test_cli_sink_skips_writes_without_rows(spark, tmp_path, monkeypatch):
    """The CLI sink starts no write the runner's counts give no rows: the
    historical load writes no deletes, and a delete-only cycle neither
    hydrates (scans the source) nor writes upserts. Without counts both
    writes run."""
    from cql_replicator_spark import transform
    from cql_replicator_spark.diff import changeset_from_tagged
    from cql_replicator_spark.sinks import parquet_sink

    real_write = parquet_sink.write_tile_batches
    real_scan = transform.build_source_pipeline
    writes, scans = [], []

    def write_tile_batches(df, *args, **kwargs):
        writes.append("upserts" if "payload" in df.columns else "deletes")
        real_write(df, *args, **kwargs)

    def build_source_pipeline(*args, **kwargs):
        scans.append(1)
        return real_scan(*args, **kwargs)

    monkeypatch.setattr(parquet_sink, "write_tile_batches", write_tile_batches)
    monkeypatch.setattr(transform, "build_source_pipeline",
                        build_source_pipeline)
    v1 = str(tmp_path / "v1.parquet")
    spark.range(40).select(
        F.col("id").alias("pk"), (F.col("id") * 10).alias("ts"),
        F.concat(F.lit("v-"), F.col("id")).alias("payload")).write.parquet(v1)
    v2 = str(tmp_path / "v2.parquet")
    spark.read.parquet(v1).filter("pk % 10 != 0").write.parquet(v2)
    state = tmp_path / "state"
    pipe, args = _cli_pipeline(spark, state, v1, 2)

    pipe.discover()
    pipe.replicate()
    assert writes == ["upserts"]
    args.source = v2
    pipe.discover()
    writes.clear()
    scans.clear()
    pipe.replicate()
    assert writes == ["deletes"] and scans == []
    assert _target_keys(spark, state, "delete") == [0, 10, 20, 30]

    writes.clear()
    tagged = spark.createDataFrame([("delete", 0, 5, 50)],
                                   "op string, tile int, pk long, ts long")
    pipe.sink(changeset_from_tagged(tagged), {0: 99})
    assert sorted(writes) == ["deletes", "upserts"]


def test_discovery_commits_empty_tile(spark, tables, tmp_path):
    """A due tile no key hashes to still rotates: a schema-correct empty
    snapshot with count 0, replicated as zero changes."""
    pipe, state = _make_pipeline(spark, tables, tmp_path)
    pipe.tile_of = lambda df: F.pmod(F.col("pk"), F.lit(3))  # tile 3 empty
    assert sorted(pipe.discover()) == [0, 1, 2, 3]
    snap = pipe.store.snapshots(3)[-1]
    assert snap.count == 0
    empty = pipe.store.read_snapshot(spark, 3, snap.id)
    full = pipe.store.read_current(spark, 0)
    assert empty.count() == 0 and empty.schema == full.schema
    stats = {s.tile: s for s in pipe.replicate()}
    assert stats[3].primaryKeys == 0
    assert sum(s.insertedPrimaryKeys for s in stats.values()) == \
        pipe.pk_source().count()
    # a delta cycle over two empty snapshots is empty too
    state["mod"] = 7
    assert sorted(pipe.discover()) == [0, 1, 2, 3]
    stats = {s.tile: s for s in pipe.replicate()}
    assert stats[3].primaryKeys == 0 and stats[0].primaryKeys > 0


def test_replicate_mixes_historical_and_delta_tiles(spark, tables, tmp_path):
    """One cycle where some tiles load historically and others diff: the
    single sink call sees both, with per-tile counts matching the stats
    and the set arithmetic of each tile."""
    from cql_replicator_spark.tiling import tile_expr

    sunk = {}
    pipe, state = _make_pipeline(spark, tables, tmp_path)
    pipe.sink = lambda changes, batches: sunk.update(
        batches=batches,
        counts={(r["tile"], r["op"]): r["count"] for r in changes
                .tagged_union().groupBy("tile", "op").count().collect()})

    assert sorted(pipe.discover()) == [0, 1, 2, 3]
    # consume tiles 0 and 1 only; 2 and 3 keep their unconsumed snapshot
    assert [pipe.replicate_tile(t).tile for t in (0, 1)] == [0, 1]
    state["mod"] = 7
    assert sorted(pipe.discover()) == [0, 1]
    plans = {t: pipe.ledger.replication_plan("tpch", "orders", t)["mode"]
             for t in range(4)}
    assert plans == {0: "delta", 1: "delta", 2: "historical", 3: "historical"}
    stats = {s.tile: s for s in pipe.replicate()}
    assert sorted(stats) == sorted(sunk["batches"]) == [0, 1, 2, 3]

    keys = tables["orders"].select(F.col("o_orderkey").alias("pk"))
    tile_of = {r.pk: r.tile for r in keys.select(
        "pk", tile_expr(keys, ["pk"], 4).alias("tile")).collect()}
    t0 = {k for k in tile_of if k % 10 != 0}
    t1 = {k for k in tile_of if k % 7 != 0}
    for t in (0, 1):
        want = {"insert": len({k for k in t1 - t0 if tile_of[k] == t}),
                "delete": len({k for k in t0 - t1 if tile_of[k] == t}),
                "update": 0}
        got = stats[t]
        assert (got.insertedPrimaryKeys, got.deletedPrimaryKeys,
                got.updatedPrimaryKeys) == tuple(want.values())
        for op, n in want.items():
            assert sunk["counts"].get((t, op), 0) == n
    for t in (2, 3):  # historical: the whole mod-10 snapshot as inserts
        n = len({k for k in t0 if tile_of[k] == t})
        assert stats[t].insertedPrimaryKeys == n == sunk["counts"][(t, "insert")]
        assert stats[t].deletedPrimaryKeys == stats[t].updatedPrimaryKeys == 0


@pytest.mark.parametrize("crash_in, nth, after", [
    pytest.param("ledger.mark_replications_complete", 1, False,
                 id="ledger.mark"),
    pytest.param("ledger.mark_replications_complete", 1, True,
                 id="ledger.mark.after"),
    pytest.param("stats.put", 3, False, id="stats.put")])
def test_replication_stats_exactly_once_across_crash(spark, tables, tmp_path,
                                                     crash_in, nth, after):
    """A crash after some or all of the tiles' stats puts (at the third
    put, at the ledger mark, or right after the mark returns) followed
    by a re-run of replicate() counts every tile's changes exactly
    once."""
    pipe, state = _make_pipeline(spark, tables, tmp_path)
    pipe.discover()
    pipe.replicate()
    state["mod"] = 7
    pipe.discover()

    owner_name, method = crash_in.split(".")
    owner = getattr(pipe, owner_name)
    real = getattr(owner, method)
    calls = []

    def crash_on_nth_call(*args, **kwargs):
        calls.append(args)
        if len(calls) != nth:
            return real(*args, **kwargs)
        if after:
            real(*args, **kwargs)
        raise RuntimeError("crash after the stats put")

    setattr(owner, method, crash_on_nth_call)
    try:
        with pytest.raises(RuntimeError, match="crash after the stats put"):
            pipe.replicate()
    finally:
        setattr(owner, method, real)
    pipe.replicate()
    assert pipe.replicate() == []

    keys = {r.o_orderkey for r in tables["orders"].select("o_orderkey").collect()}
    t0 = {k for k in keys if k % 10 != 0}
    t1 = {k for k in keys if k % 7 != 0}
    totals = dict.fromkeys(("primaryKeys", "insertedPrimaryKeys",
                            "deletedPrimaryKeys", "updatedPrimaryKeys"), 0)
    for t in range(4):
        st = pipe.stats.get("tpch", "orders", t)
        for k in totals:
            totals[k] += st[k]
    ins, dels = len(t0) + len(t1 - t0), len(t0 - t1)
    assert totals == {"primaryKeys": ins + dels, "insertedPrimaryKeys": ins,
                      "deletedPrimaryKeys": dels, "updatedPrimaryKeys": 0}


def test_stats_put_ignores_a_repeated_snapshot(tmp_path):
    from cql_replicator_spark.runner import ReplicationStats

    stats = StatsStore(str(tmp_path))
    stats.put("ks", "t", ReplicationStats(0, 3, 1, 1, 1, 0.0), 5)
    stats.put("ks", "t", ReplicationStats(0, 3, 1, 1, 1, 0.0), 5)
    stats.put("ks", "t", ReplicationStats(0, 2, 0, 2, 0, 0.0), 6)
    got = stats.get("ks", "t", 0)
    assert (got["primaryKeys"], got["insertedPrimaryKeys"],
            got["appliedSnapshotId"]) == (5, 3, 6)


def test_run_loop_with_stop_sentinel(spark, tables, tmp_path):
    pipe, _ = _make_pipeline(spark, tables, tmp_path)
    stop = StopSentinel(str(tmp_path / "stopRequested"))
    assert pipe.run_loop(stop, max_cycles=2) == 2
    stop.request()
    assert pipe.run_loop(stop, max_cycles=5) == 0  # sentinel consumed before cycle 1
    assert not os.path.exists(stop.path)  # sentinel deleted


def test_counter_deltas_null_safe(spark):
    """Null counters coalesce to 0: insert of a never-incremented
    counter yields delta 0 (not null -> 'c = c + None'); an update
    whose prev is null (first increment between snapshots) yields the
    full current value."""
    from cql_replicator_spark.counters import counter_deltas

    curr = spark.createDataFrame([(1, None), (2, 5), (3, 7)],
                                 "pk LONG, c LONG")
    prev = spark.createDataFrame([(2, None), (3, 3), (4, 9)],
                                 "pk LONG, c LONG")
    out = {r.pk: (r.op, r.c_delta)
           for r in counter_deltas(curr, prev, ["pk"], ["c"]).collect()}
    assert out == {1: ("insert", 0), 2: ("update", 5),
                   3: ("update", 4), 4: ("delete", None)}


def test_counter_deltas_empty_cols_raises(spark):
    from cql_replicator_spark.counters import counter_deltas

    df = spark.createDataFrame([(1, 2)], "pk LONG, c LONG")
    with pytest.raises(ValueError, match="counter_cols"):
        counter_deltas(df, df, ["pk"], [])


def test_counter_additive_update_e2e(spark, tmp_path):
    """Counter replication across two delta cycles against a fake CQL
    target: historical load seeds counters with full values, the delta
    cycle applies exact increments (c = c + (curr - prev)) and deletes;
    final target counters equal the source (K:930-935 statement shape,
    delta-correct arithmetic)."""
    import re

    from cql_replicator_spark.config import JsonMapping
    from cql_replicator_spark.counters import replicate_counter_tile
    from cql_replicator_spark.ledger import Ledger
    from cql_replicator_spark.runner import CdcPipeline, StatsStore
    from cql_replicator_spark.snapshot import SnapshotStore
    from cql_replicator_spark.sources.cassandra import CassandraSource

    def make_source(cycle):
        rows = [(pk, pk % 7, pk * 2) for pk in range(40)]
        if cycle == 2:
            rows = [(pk, h + (5 if pk % 4 == 0 else 0), c)
                    for pk, h, c in rows if pk % 10 != 0]
            rows += [(pk, pk % 7, pk * 2) for pk in range(40, 45)]
        return spark.createDataFrame(rows, "pk LONG, hits LONG, clicks LONG")

    state = {"df": make_source(1)}
    src = CassandraSource("ks", "cnt", ["pk"], mapping=JsonMapping(),
                          counter_cols=["hits", "clicks"])
    store = SnapshotStore(str(tmp_path / "snaps"), "ks", "cnt")
    ledger = Ledger(str(tmp_path / "ledger.json"))
    pipe = CdcPipeline(
        spark=spark, keyspace="ks", table="cnt", pk_cols=["pk"],
        source=lambda: state["df"],
        pk_source=lambda: src.project(state["df"]),
        store=store, ledger=ledger,
        stats=StatsStore(str(tmp_path / "stats")),
        total_tiles=2, ts_col="counter_hash")

    target: dict[int, dict[str, int]] = {}
    upd_re = re.compile(r"UPDATE ks\.cnt SET (.+) WHERE pk = (\d+)")
    del_re = re.compile(r"DELETE FROM ks\.cnt WHERE pk = (\d+)")

    def run_cycle():
        stmts_dir = tmp_path / f"stmts_{len(list(tmp_path.glob('stmts_*')))}"
        stmts_dir.mkdir()

        def executor_factory():
            def execute(statements):
                import uuid as _u
                (stmts_dir / f"{_u.uuid4().hex}.log").write_text(
                    "\n".join(statements) + "\n")
            return execute

        assert sorted(pipe.discover()) == [0, 1]
        stats = [replicate_counter_tile(
            spark, store, ledger, "ks", "cnt", t, ["pk"], {"pk": "bigint"},
            ["hits", "clicks"], "ks.cnt", executor_factory) for t in (0, 1)]
        # apply this cycle's statements to the fake target
        for p in sorted(stmts_dir.glob("*.log")):
            for stmt in p.read_text().splitlines():
                if (m := upd_re.match(stmt)):
                    row = target.setdefault(int(m.group(2)),
                                            {"hits": 0, "clicks": 0})
                    for part in m.group(1).split(", "):
                        cm = re.match(r"(\w+) = \1 \+ (-?\d+)", part)
                        row[cm.group(1)] += int(cm.group(2))
                elif (m := del_re.match(stmt)):
                    target.pop(int(m.group(1)), None)
        return stats

    s1 = run_cycle()
    assert sum(s["inserts"] for s in s1) == 40 and all(
        s["updates"] == s["deletes"] == 0 for s in s1)

    state["df"] = make_source(2)
    s2 = run_cycle()
    assert sum(s["deletes"] for s in s2) == 4          # pk 0,10,20,30 (%10==0)
    assert sum(s["inserts"] for s in s2) == 5          # pk 40..44
    assert sum(s["updates"] for s in s2) == 8          # pk%4==0 minus deleted

    expected = {r.pk: {"hits": r.hits, "clicks": r.clicks}
                for r in state["df"].collect()}
    assert target == expected


# -- reconcile ----------------------------------------------------------------

def test_reconcile_detects_divergence(spark, tables, tmp_path):
    orders = tables["orders"]
    src = orders.select(F.col("o_orderkey").alias("pk"))
    trg = src.filter(F.col("pk") % 11 != 0).unionByName(
        src.filter(F.col("pk") % 13 == 0).select((F.col("pk") + 10_000_000).alias("pk")))
    job = ReconcileJob(spark, str(tmp_path), ["pk"], total_tiles=4, sample_size=5)
    res = job.run(src, trg)
    keys = {r.pk for r in src.collect()}
    missing = {k for k in keys if k % 11 == 0}
    extra = {k + 10_000_000 for k in keys if k % 13 == 0}
    assert res.source_minus_target == len(missing)
    assert res.target_minus_source == len(extra)
    assert res.intersection_count == len(keys) - len(missing)
    assert not res.in_sync and res.status == "SUCCEEDED"
    assert len(res.samples_missing) == 5
    # report written
    with open(tmp_path / "report.json") as f:
        report = json.load(f)
    assert report["status"] == "SUCCEEDED"


def test_reconcile_in_sync_after_replication(spark, tables, tmp_path):
    """Replicate-then-reconcile -> empty diff (the self-check from SURVEY §5)."""
    orders = tables["orders"]
    src = orders.select(F.col("o_orderkey").alias("pk"))
    job = ReconcileJob(spark, str(tmp_path), ["pk"], total_tiles=2)
    res = job.run(src, src)
    assert res.in_sync and res.source_count == res.target_count


def test_reconcile_with_pk_transform(spark, tables, tmp_path):
    """Source PK hashed on the way in; target holds hashed keys (R:63-73)."""
    orders = tables["orders"]
    src = orders.select(F.col("o_orderkey").cast("string").alias("pk"))
    trg = src.select(F.md5("pk").alias("pk_h"))
    job = ReconcileJob(spark, str(tmp_path), ["pk"], total_tiles=2,
                       transforms=[Transformation(column="pk", rule="md5", alias="pk_h")])
    res = job.run(src, trg)
    assert res.in_sync


def test_reconcile_guardrails(spark, tmp_path):
    with pytest.raises(ReconcileError) as e:
        ReconcileJob(None, str(tmp_path), ["pk"], total_tiles=2000)
    assert e.value.exit_code == EXIT_BAD_ARGS


def test_reconcile_partial_report_on_failure(spark, tables, tmp_path):
    orders = tables["orders"]
    src = orders.select(F.col("o_orderkey").alias("pk"))
    trg = orders.select(F.col("o_orderkey").alias("other_name"))
    job = ReconcileJob(spark, str(tmp_path), ["pk"], total_tiles=2)
    with pytest.raises(ReconcileError):
        job.run(src, trg)
    with open(tmp_path / "report.json") as f:
        report = json.load(f)
    assert report["status"] == "FAILED" and report["phase"] == "target_scan"


# -- streaming ------------------------------------------------------------------

def test_stage_microbatches_parallel_files_and_boundaries(spark, tmp_path):
    """The staging helper that replaced the coalesce(1) funnels: each
    batch must land as EXACTLY k parquet files (parallel write; small
    batches padded with empty schema-only files), per-batch mtimes
    strictly increasing, and a maxFilesPerTrigger=k replay must
    reproduce the batch boundaries file-for-file — including a 1-row
    batch whose k-1 pad files carry no rows."""
    import collections
    import glob
    import os

    from cql_replicator_spark.streaming.windows import (
        stage_microbatches, stream_events_from_dir,
    )

    df = spark.range(63).select(F.col("id"), F.lit("x").alias("s"))
    batches = [df.filter("id < 60"),
               df.filter("id >= 60 and id < 62"),   # pads 2 -> 4 files
               df.filter("id >= 62")]               # pads 1 -> 4 files
    stage = str(tmp_path / "st")
    k = stage_microbatches(batches, stage, files_per_batch=4)
    assert k == 4
    files = sorted(glob.glob(os.path.join(stage, "*.parquet")))
    assert len(files) == 12
    stamps = collections.Counter(
        round(os.path.getmtime(f), 3) for f in files)
    assert sorted(stamps.values()) == [4, 4, 4], stamps

    got = []
    stream = stream_events_from_dir(spark, stage, df.schema,
                                    max_files_per_trigger=k)
    q = (stream.writeStream
         .foreachBatch(lambda bdf, bid: got.append(
             (bid, sorted(r.id for r in bdf.collect()))))
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    assert [ids for _, ids in sorted(got)] == [
        list(range(60)), [60, 61], [62]]


def test_stage_microbatches_contract_guards(spark, tmp_path):
    """r14 advice hardening: a pre-populated stage dir raises (its
    files would be absorbed into batch 0 and mtime-restamped, silently
    corrupting trigger boundaries) and a non-local scheme raises (the
    mtime ordering contract is POSIX-only)."""
    from cql_replicator_spark.streaming.windows import stage_microbatches

    df = spark.range(10).select(F.col("id"))
    pre = str(tmp_path / "pre")
    df.write.parquet(pre)
    with pytest.raises(ValueError, match="already holds"):
        stage_microbatches([df], pre, files_per_batch=2)

    with pytest.raises(ValueError, match="LOCAL path"):
        stage_microbatches([df], "s3a://bucket/stage", files_per_batch=2)

    with pytest.raises(ValueError, match="at least one batch"):
        stage_microbatches([], str(tmp_path / "empty"))


def test_stage_microbatches_derived_sizing(spark, tmp_path):
    """files_per_batch=None derives k from the largest batch's Catalyst
    size estimate with the compact_parquet formula: tiny batches floor
    at 8 (k=1 would re-create the single-task staging funnel), a small
    byte target scales k up with the estimate, and the session shuffle
    parallelism caps it."""
    from cql_replicator_spark.session import shuffle_parallelism
    from cql_replicator_spark.streaming.windows import (
        _derive_files_per_batch, stage_microbatches,
    )

    src = str(tmp_path / "src")
    spark.range(20000).selectExpr(
        "id", "repeat('x', 64) AS pad").write.parquet(src)
    df = spark.read.parquet(src)  # parquet scan -> real size estimate
    est = int(df._jdf.queryExecution().optimizedPlan()
              .stats().sizeInBytes())
    assert est > 0

    # tiny batch vs the 32 MB default target -> the parallel floor
    assert _derive_files_per_batch([df]) == 8

    # target sized to a fraction of the estimate -> bytes-derived k,
    # capped at session parallelism
    cap = max(8, shuffle_parallelism(df))
    want = min(max(8, -(-est // (est // 10))), cap)
    assert _derive_files_per_batch([df], target_bytes=est // 10) == want

    # and the derived default drives a real staging round end-to-end
    stage = str(tmp_path / "derived")
    k = stage_microbatches([df.filter("id < 5")], stage)
    assert k == 8
    import glob as _g
    import os as _o
    assert len(_g.glob(_o.path.join(stage, "*.parquet"))) == 8


def test_windowed_counts_batch_equals_streaming(spark, tables, tmp_path):
    events = tables["events"]
    batch = windowed_event_counts(events).orderBy("wstart", "event_type")
    batch_rows = [(r.wstart, r.event_type, r.n_events, r.total_value)
                  for r in batch.collect()]

    # stream the same data from a parquet dir, one file per micro-batch
    stream_dir = str(tmp_path / "stream_in")
    events.repartition(4).write.parquet(stream_dir)
    stream = stream_events_from_dir(spark, stream_dir, events.schema)
    assert stream.isStreaming
    agg = windowed_event_counts(stream)
    run_stream_to_memory(agg, "win_counts", output_mode="complete")
    stream_rows = [(r.wstart, r.event_type, r.n_events, r.total_value)
                   for r in spark.table("win_counts")
                   .orderBy("wstart", "event_type").collect()]
    assert stream_rows == batch_rows


def test_interval_join_stream_equals_batch_across_batches(spark, tmp_path):
    """Stream-stream interval join: a match whose two sides arrive in
    DIFFERENT micro-batches must still pair (the left row waits in the
    join buffer), and the streamed append output equals the batch form
    of the same predicate."""
    from pyspark.sql import functions as F

    from cql_replicator_spark.streaming.windows import (
        interval_join, run_stream_to_memory, stream_events_from_dir,
    )

    rows = [
        # (event_id, user_id, event_type, ts) — u1 converts in 10 min
        # but the purchase lands in micro-batch 2; u2 converts inside
        # batch 1; u3's purchase is outside the 30-min window
        (1, 1, "view",     "2024-01-01 10:00:00"),
        (2, 2, "view",     "2024-01-01 10:05:00"),
        (3, 2, "purchase", "2024-01-01 10:20:00"),
        (4, 3, "view",     "2024-01-01 10:10:00"),
        (5, 1, "purchase", "2024-01-01 10:25:00"),
        (6, 3, "purchase", "2024-01-01 11:30:00"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id LONG, user_id LONG, event_type STRING, ts STRING"
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    def split(df):
        return (df.filter(F.col("event_type") == "view"),
                df.filter(F.col("event_type") == "purchase"))

    batch = {(r.l_event_id, r.r_event_id)
             for r in interval_join(*split(ev)).collect()}
    assert batch == {(1, 5), (2, 3)}

    stage = str(tmp_path / "stream_in")
    for lo, hi in ((1, 4), (5, 6)):  # batch 1: ids 1-4, batch 2: ids 5-6
        ev.filter(F.col("event_id").between(lo, hi)) \
          .coalesce(1).write.mode("append").parquet(stage)
    stream = stream_events_from_dir(spark, stage, ev.schema)
    joined = interval_join(*split(stream))
    run_stream_to_memory(joined, "conv_pairs", output_mode="append")
    streamed = {(r.l_event_id, r.r_event_id)
                for r in spark.table("conv_pairs").collect()}
    assert streamed == batch


def test_microbatch_cdc_over_event_slices(spark, tables, tmp_path):
    """Replay event-time slices through the CDC pipeline: row counts per
    state must be non-decreasing inserts, ledger must rotate cleanly."""
    events = tables["events"]
    cuts = time_slices(events, 3)
    states = [state_at(events, c) for c in cuts]
    # each state is a valid snapshot input: keys unique
    for st in states:
        assert st.groupBy("user_id", "event_type").count().filter("count > 1").count() == 0

    from cql_replicator_spark.diff import compute_changes
    cs = compute_changes(states[1], states[0], ["user_id", "event_type"])
    assert cs.deletes.count() == 0          # append-only source: no deletes
    assert cs.inserts.count() >= 0
    n_updates = cs.updates.count()
    # updates = keys whose latest-event ts moved between slices
    a = {(r.user_id, r.event_type): r.ts for r in states[0].collect()}
    b = {(r.user_id, r.event_type): r.ts for r in states[1].collect()}
    expected_updates = sum(1 for k in a if k in b and a[k] != b[k])
    assert n_updates == expected_updates


def test_session_func_late_event_never_shrinks_session():
    """An out-of-order event admitted by the watermark must not move
    session_end backwards, and the rearm timeout must stay strictly above
    the current watermark (Spark throws on timeout <= watermark)."""
    import pandas as pd

    from cql_replicator_spark.streaming.stateful import _session_func

    class FakeState:
        hasTimedOut = False

        def __init__(self, tup, watermark_ms):
            self._tup = tup
            self._wm = watermark_ms
            self.timeout = None

        @property
        def exists(self):
            return self._tup is not None

        @property
        def get(self):
            return self._tup

        def update(self, tup):
            self._tup = tup

        def setTimeoutTimestamp(self, ts):
            assert ts > self._wm, f"timeout {ts} <= watermark {self._wm}"
            self.timeout = ts

        def getCurrentWatermarkMs(self):
            return self._wm

        def remove(self):
            self._tup = None

    fn = _session_func(gap_ms=1000)
    # session (1000, 5000, 3); watermark already at 6000 == end+gap
    state = FakeState((1000, 5000, 3), watermark_ms=6000)
    out = list(fn((42,), [pd.DataFrame({"ts_ms": [4000]})], state))
    assert out == []                      # late event joins, nothing closes
    assert state.get == (1000, 5000, 4)   # end NOT shrunk, count bumped
    assert state.timeout == 6001          # clamped strictly above watermark

    # an event before session start extends start backwards
    state = FakeState((1000, 5000, 3), watermark_ms=0)
    list(fn((42,), [pd.DataFrame({"ts_ms": [600]})], state))
    assert state.get == (600, 5000, 4)
    assert state.timeout == 6000


def test_stateful_sessionization_equals_batch(spark, tmp_path):
    """applyInPandasWithState streaming sessions == batch window sessions."""
    from pyspark.sql import functions as F

    from cql_replicator_spark.queries import REGISTRY, queries as _q
    from cql_replicator_spark.streaming.stateful import sessionize_events_stream

    _q()
    sf = "/root/testdata/sf0.001"
    streamed = sessionize_events_stream(
        spark, sf, input_dir=str(tmp_path / "stage"))
    batch = REGISTRY["events_sessionize"].build(spark, sf).select(
        "user_id",
        F.unix_millis(F.col("session_start").cast("timestamp")).alias("session_start"),
        F.unix_millis(F.col("session_end").cast("timestamp")).alias("session_end"),
        "n_events")
    srows = sorted(map(tuple, streamed.collect()))
    brows = sorted(map(tuple, batch.collect()))
    assert srows == brows and len(srows) > 0
