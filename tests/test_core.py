"""Unit tests: tiling, diff, snapshot store, ledger, config, transforms, stats."""

import pytest
from pyspark.sql import functions as F

from cql_replicator_spark import config as cfg
from cql_replicator_spark import stats, tiling, transform
from cql_replicator_spark.diff import compute_changes
from cql_replicator_spark.ledger import SUCCESS, Ledger
from cql_replicator_spark.snapshot import SnapshotStore


# -- tiling ---------------------------------------------------------------

def test_tile_assignment_range_and_stability(tables):
    orders = tables["orders"]
    df = tiling.assign_tiles(orders, ["o_orderkey"], 8)
    tiles = [r.tile for r in df.select("tile").distinct().collect()]
    assert all(0 <= t < 8 for t in tiles)
    # deterministic: same assignment twice
    a = df.select("o_orderkey", "tile").collect()
    b = tiling.assign_tiles(orders, ["o_orderkey"], 8).select("o_orderkey", "tile").collect()
    assert sorted(a) == sorted(b)


def test_tile_distribution_roughly_uniform(tables):
    hist = tiling.tile_histogram(tables["orders"], ["o_orderkey"], 4).collect()
    counts = [r["count"] for r in hist]
    assert len(counts) == 4
    total = sum(counts)
    for c in counts:
        assert abs(c - total / 4) < total * 0.2  # xxhash64 should spread well


def test_xxh64_reference_matches_spec_vectors_and_engine(spark):
    """The pinned hash literals in the tile_histogram_xxhash64 oracle
    rest on tiling.xxh64_ref being real XXH64, not an engine snapshot:
    (1) the reference reproduces the published XXH64 sanity vectors
    for the empty input at both canonical seeds; (2) the engine's
    F.xxhash64 equals the reference's 8-LE-bytes/seed-42 form across
    edge-case and fixed-seed random longs — two implementations
    written independently (JVM builtin vs from-spec Python) agreeing
    on 60+ inputs, which no shared transcription error survives; (3)
    the oracle's ten probe literals are exactly what both compute."""
    import random

    # (1) published sanity vectors (xxHash README / xsum_sanity_check)
    PRIME32 = 2654435761
    assert tiling.xxh64_ref(b"", 0) == 0xEF46DB3751D8E999
    assert tiling.xxh64_ref(b"", PRIME32) == 0xAC75FDA2929B17EF

    # (2) engine cross-check: F.xxhash64(long) == XXH64(8 LE bytes, 42),
    # and the >=32-byte branch via xxhash64 of a binary column
    vals = [0, 1, -1, 7, 42, (1 << 63) - 1, -(1 << 63), 1 << 62,
            -(1 << 62), 123456789, -123456789, 999999937]
    rng = random.Random(0xC0FFEE)
    vals += [rng.randint(-(1 << 63), (1 << 63) - 1) for _ in range(50)]
    got = (spark.range(1).select(*[
        F.xxhash64(F.lit(v).cast("long")).alias(f"h{i}")
        for i, v in enumerate(vals)]).collect()[0])
    for i, v in enumerate(vals):
        assert got[i] == tiling.xxhash64_long_ref(v), v
    blobs = [bytes(rng.randrange(256) for _ in range(n))
             for n in (0, 1, 3, 4, 7, 8, 14, 31, 32, 33, 64, 100)]
    got_b = (spark.range(1).select(*[
        F.xxhash64(F.lit(b)).alias(f"b{i}")
        for i, b in enumerate(blobs)]).collect()[0])
    for i, b in enumerate(blobs):
        u = tiling.xxh64_ref(b, 42)
        want = u - (1 << 64) if u >= (1 << 63) else u
        assert got_b[i] == want, (i, len(b))

    # multi-arg chaining — the COMPOSITE-PK tiling path of tile_expr:
    # each argument's hash seeds the next; strings hash UTF-8 bytes
    combos = [[42, 7], ["hello", 7], ["ks", "tbl", 3],
              [-(1 << 62), "x", 0], ["", 1], ["(1,b)", 99]]
    got_m = (spark.range(1).select(*[
        F.xxhash64(*[
            F.lit(v).cast("long") if isinstance(v, int) else F.lit(v)
            for v in combo]).alias(f"m{i}")
        for i, combo in enumerate(combos)]).collect()[0])
    for i, combo in enumerate(combos):
        assert got_m[i] == tiling.xxhash64_cols_ref(combo), combo
    # and tile_expr end-to-end on a composite key equals the reference
    rows = [(1, "a"), (2, "b"), (7, "(x,y)")]
    df = spark.createDataFrame(rows, "k long, s string")
    got_t = {(r["k"], r["s"]): r["tile"] for r in df.select(
        "k", "s", tiling.tile_expr(df, ["k", "s"], 8).alias("tile"))
        .collect()}
    for k, s in rows:
        assert got_t[(k, s)] == tiling.xxhash64_cols_ref([k, s]) % 8

    # (3) the registered oracle now IMPLEMENTS XXH64 in DuckDB SQL
    # (r16: _xxh64_tile_oracle, HUGEINT mod-2^64 pipeline) — execute it
    # and require the SQL hash to reproduce the from-spec reference for
    # every probe AND derive the histogram invariants from the input
    import duckdb

    from cql_replicator_spark.queries import _XXH64_PROBES, REGISTRY
    con = duckdb.connect()
    keys = [3, 77, -9000001]
    con.execute("CREATE TABLE orders(o_orderkey BIGINT)")
    for k in keys:
        con.execute("INSERT INTO orders VALUES (?)", [k])
    res = {r[0]: (r[1], r[2]) for r in con.execute(
        REGISTRY["tile_histogram_xxhash64"].oracle).fetchall()}
    for p in _XXH64_PROBES:
        h = tiling.xxhash64_long_ref(p)
        assert res[f"probe:{p}"] == (h, h % 8), p
    tiles = {tiling.xxhash64_long_ref(k) % 8 for k in keys}
    assert res["invariant:total_rows"] == (len(keys), None)
    assert res["invariant:n_tiles_used"] == (len(tiles), None)
    assert res["invariant:min_tile"] == (min(tiles), None)
    assert res["invariant:max_tile"] == (max(tiles), None)


def test_resize_preserves_distinct_count(tables):
    orders = tables["orders"]
    t4 = tiling.assign_tiles(orders.select("o_orderkey"), ["o_orderkey"], 4)
    parts = [t4.filter(F.col("tile") == i) for i in range(4)]
    resized = tiling.resize_tiles(parts, ["o_orderkey"], 8)
    assert resized.count() == orders.select("o_orderkey").distinct().count()
    assert resized.select("tile").distinct().count() == 8


# -- diff -----------------------------------------------------------------

def test_compute_changes_golden(spark):
    prev = spark.createDataFrame(
        [(1, 100), (2, 200), (3, 300), (4, None), (5, 500)],
        "pk int, ts long",
    )
    curr = spark.createDataFrame(
        # pk2 deleted; pk6 inserted; pk3 ts changed; pk4 null->400; pk5 500->None
        [(1, 100), (3, 301), (4, 400), (5, None), (6, 600)],
        "pk int, ts long",
    )
    cs = compute_changes(curr, prev, ["pk"])
    assert {r.pk for r in cs.inserts.collect()} == {6}
    assert {r.pk for r in cs.deletes.collect()} == {2}
    # null-safe compare: both null->value and value->null are updates (K:1369-1381)
    assert {r.pk for r in cs.updates.collect()} == {3, 4, 5}


def test_compute_changes_no_ts(spark):
    prev = spark.createDataFrame([(1,), (2,)], "pk int")
    curr = spark.createDataFrame([(2,), (3,)], "pk int")
    cs = compute_changes(curr, prev, ["pk"], has_ts=False)
    assert {r.pk for r in cs.inserts.collect()} == {3}
    assert {r.pk for r in cs.deletes.collect()} == {1}
    assert cs.updates.count() == 0


def test_tagged_union(spark):
    prev = spark.createDataFrame([(1, 10), (2, 20)], "pk int, ts long")
    curr = spark.createDataFrame([(2, 21), (3, 30)], "pk int, ts long")
    tagged = compute_changes(curr, prev, ["pk"]).tagged_union()
    rows = {(r.pk, r.op) for r in tagged.collect()}
    assert rows == {(3, "insert"), (1, "delete"), (2, "update")}


# -- snapshot store ---------------------------------------------------------

# Every commit takes the one staged write in write_snapshots; these
# store tests run it plain (id "parquet") and with per-file stats.
_COMMIT_PATHS = [pytest.param(None, id="parquet"),
                 pytest.param(["pk"], id="stats")]


@pytest.mark.parametrize("stats_cols", _COMMIT_PATHS)
def test_snapshot_store_roundtrip(spark, tmp_path, stats_cols):
    store = SnapshotStore(str(tmp_path), "ks", "tbl")
    df1 = spark.createDataFrame([(1, 10), (2, 20)], "pk int, ts long")
    df2 = spark.createDataFrame([(2, 21), (3, 30)], "pk int, ts long")
    s1 = store.write_snapshot(df1, tile=0, stats_cols=stats_cols)
    s2 = store.write_snapshot(df2, tile=0, stats_cols=stats_cols)
    assert (s1, s2) == (1, 2)
    assert store.current_snapshot_id(0) == 2
    # time travel
    back = store.read_snapshot(spark, 0, s1)
    assert {(r.pk, r.ts) for r in back.collect()} == {(1, 10), (2, 20)}
    # expire keeps newest 1
    assert store.expire_snapshots(0, retain_last=1) == 1
    assert not store.snapshot_exists(0, s1)
    assert store.snapshot_exists(0, s2)
    with pytest.raises(ValueError):
        store.read_snapshot(spark, 0, s1)
    assert {(r.pk, r.ts) for r in store.read_current(spark, 0).collect()} == \
        {(2, 21), (3, 30)}


@pytest.mark.parametrize("stats_cols", _COMMIT_PATHS)
def test_write_snapshots_commits_each_due_tile(spark, tmp_path, stats_cols):
    """write_snapshots commits one snapshot per listed tile from a frame
    with a tile column, in one partitioned write. A listed tile without
    rows commits an empty snapshot with count 0; rows of unlisted tiles
    are skipped."""
    store = SnapshotStore(str(tmp_path), "ks", "tbl")
    df = spark.createDataFrame([(i, i * 10, i % 4) for i in range(20)],
                               "pk int, ts long, tile int")
    snaps = store.write_snapshots(df.filter("tile != 2"), [0, 1, 2],
                                  stats_cols=stats_cols)
    assert sorted(snaps) == [0, 1, 2]
    assert [snaps[t].count for t in (0, 1, 2)] == [5, 5, 0]
    assert store.current_snapshot_id(3) is None
    for t in (0, 1, 2):
        back = store.read_snapshot(spark, t, snaps[t].id)
        assert back.columns == ["pk", "ts"]
        assert {(r.pk, r.ts) for r in back.collect()} == \
            {(i, i * 10) for i in range(20) if i % 4 == t and t != 2}
    again = store.write_snapshots(df, [0])
    assert again[0].id == snaps[0].id + 1 and again[0].count == 5


def test_parquet_snapshot_read_starts_no_job(spark, tmp_path):
    """The manifest records each snapshot's schema, so building a read
    (time travel) runs no schema-inference job — of one tile, or of
    several tiles as one relation (an empty tile and a stats_cols
    snapshot among them)."""
    store = SnapshotStore(str(tmp_path), "ks", "tbl")
    sid = store.write_snapshot(
        spark.createDataFrame([(1, 10)], "pk int, ts long"), tile=0)
    more = store.write_snapshots(
        spark.createDataFrame([(2, 20, 1)], "pk int, ts long, tile int"),
        [1, 2])
    stats = store.write_snapshot(
        spark.createDataFrame([(3, 30), (4, 40)], "pk int, ts long"),
        tile=3, files_per_snapshot=2, stats_cols=["pk"])
    sc = spark.sparkContext
    sc.setJobGroup("snapshot-read", "counted")
    try:
        df = store.read_snapshot(spark, 0, sid)
        multi = store.read_snapshots(
            spark, {0: sid, 1: more[1].id, 2: more[2].id, 3: stats})
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup("snapshot-read") == []
    assert df.schema.simpleString() == "struct<pk:int,ts:bigint>"
    assert multi.schema.simpleString() == "struct<pk:int,ts:bigint,tile:int>"
    assert sorted(tuple(r) for r in multi.collect()) == [
        (1, 10, 0), (2, 20, 1), (3, 30, 3), (4, 40, 3)]


@pytest.mark.parametrize("stats_cols", _COMMIT_PATHS)
def test_read_snapshots_equals_per_tile_union(spark, tmp_path, stats_cols):
    """read_snapshots returns the rows of the per-tile reads, each with
    its tile, as one relation; a requested empty snapshot adds none."""
    store = SnapshotStore(str(tmp_path), "ks", "tbl")
    df = spark.createDataFrame([(i, i * 10, i % 4) for i in range(20)],
                               "pk int, ts long, tile int")
    snaps = store.write_snapshots(df.filter("tile != 2"), [0, 1, 2, 3],
                                  stats_cols=stats_cols)
    assert snaps[2].count == 0
    ids = {t: snaps[t].id for t in (0, 2, 3)}
    got = store.read_snapshots(spark, ids)
    want = [store.read_snapshot(spark, t, sid).withColumn("tile", F.lit(t))
            for t, sid in ids.items()]
    assert got.schema.simpleString() == "struct<pk:int,ts:bigint,tile:int>"
    assert sorted(tuple(r) for r in got.collect()) == sorted(
        tuple(r) for w in want for r in w.collect())
    assert got.count() == 10


@pytest.mark.parametrize("stats_cols", _COMMIT_PATHS)
def test_read_snapshots_of_only_empty_snapshots(spark, tmp_path, stats_cols):
    """A request where every snapshot is empty reads zero rows and keeps
    the snapshot schema plus the tile column."""
    store = SnapshotStore(str(tmp_path), "ks", "tbl")
    df = spark.createDataFrame([], "pk int, ts long, tile int")
    snaps = store.write_snapshots(df, [0, 1], stats_cols=stats_cols)
    got = store.read_snapshots(spark, {t: s.id for t, s in snaps.items()})
    assert got.schema.simpleString() == "struct<pk:int,ts:bigint,tile:int>"
    assert got.count() == 0


def test_manifest_stores_each_schema_once(spark, tmp_path):
    """The table manifest keeps each distinct schema once, in its
    ``schemas`` map, and each entry's dir relative to the table dir: at
    64 tiles with 2 entries each it holds one schema and no absolute
    path. A snapshot of another schema adds one map entry and reads
    beside the others through the per-tile union; its schema leaves the
    map with the last entry that names it."""
    import json
    import os

    store = SnapshotStore(str(tmp_path), "ks", "tbl")
    df = spark.range(256).select(
        F.col("id").alias("pk"), (F.col("id") * 10).alias("ts"),
        (F.col("id") % 64).cast("int").alias("tile"))
    store.write_snapshots(df, list(range(64)))
    second = store.write_snapshots(df, list(range(64)))
    with open(os.path.join(str(tmp_path), "ks", "tbl", "manifest.json")) as f:
        manifest = json.load(f)
    assert list(manifest["schemas"].values()) == [
        json.loads(df.drop("tile").schema.json())]
    entries = [e for es in manifest["tiles"].values() for e in es]
    assert len(manifest["tiles"]) == 64 and len(entries) == 128
    assert not any(os.path.isabs(e["path"]) for e in entries)
    assert all(s.path == os.path.join(str(tmp_path), "ks", "tbl", "tile=5",
                                      f"snap-{s.id:08d}")
               for s in store.snapshots(5))

    other = store.write_snapshot(
        spark.createDataFrame([(7, "x")], "pk long, note string"), tile=64)
    assert len(store._load_manifest()["schemas"]) == 2
    mixed = store.read_snapshots(spark, {0: second[0].id, 64: other})
    assert sorted((r.tile, r.pk, r.ts, r.note) for r in mixed.collect()) == [
        (0, k, 10 * k, None) for k in (0, 64, 128, 192)] + [(64, 7, None, "x")]
    store.write_snapshot(df.filter("tile = 0").drop("tile"), tile=64)
    assert store.expire_snapshots(64, retain_last=1) == 1
    assert len(store._load_manifest()["schemas"]) == 1


def test_expire_snapshots_rejects_retain_last_below_one(spark, tmp_path):
    """retain_last < 1 is an error that leaves the tile's snapshots as
    they were: 0 would slice entries[-0:] (every entry) and expire
    nothing, and a negative value would expire the oldest entries."""
    store = SnapshotStore(str(tmp_path), "ks", "tbl")
    df = spark.createDataFrame([(1, 10)], "pk int, ts long")
    sids = [store.write_snapshot(df, tile=0) for _ in range(3)]
    for bad in (0, -1):
        with pytest.raises(ValueError, match="retain_last"):
            store.expire_snapshots(0, retain_last=bad)
    assert [s.id for s in store.snapshots(0)] == sids
    assert store.expire_snapshots(0, retain_last=1) == 2
    assert [s.id for s in store.snapshots(0)] == sids[-1:]


def test_write_snapshots_stats_per_tile(spark, tmp_path):
    """A multi-tile stats_cols write range-partitions every tile's rows:
    each tile's files hold disjoint [min, max] ranges whose counts sum
    to the tile's count, and a between= read of one tile opens fewer
    files than the tile has."""
    store = SnapshotStore(str(tmp_path), "ks", "tbl")
    df = spark.range(0, 400).select(
        F.col("id").cast("int").alias("pk"),
        (F.col("id") % 2).cast("int").alias("tile"))
    snaps = store.write_snapshots(df, [0, 1], files_per_snapshot=4,
                                  stats_cols=["pk"])
    manifests = {t: store._read_manifest(t)[-1] for t in (0, 1)}
    for t, entry in manifests.items():
        files = sorted(entry["files"], key=lambda f: f["min"]["pk"])
        assert 1 < len(files) <= 4
        assert sum(f["count"] for f in files) == snaps[t].count == 200
        for a, b in zip(files, files[1:]):
            assert a["max"]["pk"] < b["min"]["pk"]
        assert all(f["min"]["pk"] % 2 == t for f in files)
    pruned = store.read_snapshot(spark, 0, snaps[0].id,
                                 between={"pk": (0, 20)})
    assert sorted(r.pk for r in pruned.collect()) == list(range(0, 21, 2))
    assert 0 < len(pruned.inputFiles()) < len(manifests[0]["files"])


def test_snapshot_writes_race_safely_on_one_tile(spark, tmp_path):
    """The manifest read-modify-write runs under a per-tile mutex: two
    discoverers racing one tile (legal under the ledger's any-number-
    of-discovery-processes contract) used to read the same manifest,
    pick the SAME next id, overwrite each other's snap-{id} dir
    mid-write, and drop one manifest entry at the last-write-wins
    swap. Eight concurrent writers must yield eight entries with
    unique sequential ids, each reading back its own exact rows — and
    an expire racing the writers must never drop a fresh entry (every
    surviving id stays readable)."""
    from concurrent.futures import ThreadPoolExecutor

    store = SnapshotStore(str(tmp_path), "ks", "race")
    frames = {i: spark.createDataFrame(
        [(i * 100 + j, i) for j in range(3)], "pk int, ts long")
        for i in range(8)}

    def write(i):
        return i, store.write_snapshot(frames[i], tile=0)

    with ThreadPoolExecutor(max_workers=8) as ex:
        sids = dict(ex.map(write, range(8)))
    assert sorted(sids.values()) == list(range(1, 9)), sids
    entries = store.snapshots(0)
    assert [e.id for e in entries] == list(range(1, 9))
    for i, sid in sids.items():
        got = {r.pk for r in store.read_snapshot(spark, 0, sid).collect()}
        assert got == {i * 100 + j for j in range(3)}, (i, sid)

    # write-vs-expire race: expire concurrently with fresh writers;
    # whatever interleaving happens, every id the manifest lists must
    # read back (no entry dropped by a lost manifest swap)
    def write_more(i):
        return store.write_snapshot(frames[i % 8], tile=0)

    def expire():
        return store.expire_snapshots(0, retain_last=3)

    with ThreadPoolExecutor(max_workers=6) as ex:
        futs = [ex.submit(write_more, i) for i in range(4)] \
            + [ex.submit(expire), ex.submit(expire)]
        for f in futs:
            f.result()
    final = store.snapshots(0)
    assert len({e.id for e in final}) == len(final)
    for e in final:
        store.read_snapshot(spark, 0, e.id).count()  # all readable


def test_multi_tile_snapshot_writes_race_safely(spark, tmp_path):
    """Writers that each commit several tiles, overlapping on some, and
    multi-tile expiries race on one table manifest: every tile ends up
    with unique sequential ids, no committed entry is lost, and each
    retained snapshot reads back the rows of the writer that made it.
    A slow manifest read widens each read-modify-write window, so only
    the table mutex keeps them apart."""
    import sys
    import time
    from concurrent.futures import ThreadPoolExecutor

    store = SnapshotStore(str(tmp_path), "ks", "race")
    load = store._load_manifest

    def slow_load():
        manifest = load()
        time.sleep(0.3)
        return manifest

    store._load_manifest = slow_load
    plans = {i: [i % 3, (i + 1) % 3] for i in range(6)}

    def write(i):
        df = spark.createDataFrame(
            [(i * 100 + j, i, t) for t in plans[i] for j in range(2)],
            "pk int, ts long, tile int")
        return i, store.write_snapshots(df, plans[i])

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=8) as ex:
            futs = [ex.submit(write, i) for i in range(6)] + [
                ex.submit(store.expire_snapshots, [0, 1, 2], 3)
                for _ in range(2)]
            done = [f.result(timeout=300) for f in futs]
    finally:
        sys.setswitchinterval(old)
        store._load_manifest = load
    written = dict(done[:6])
    for t in range(3):
        ids = sorted(snaps[t].id for i, snaps in written.items()
                     if t in plans[i])
        assert ids == list(range(1, 5)), (t, ids)
        live = [s.id for s in store.snapshots(t)]
        assert live == ids[-len(live):] and len(live) >= 3, (t, live)
        for i, snaps in written.items():
            if t in plans[i] and snaps[t].id in live:
                got = {r.pk for r in
                       store.read_snapshot(spark, t, snaps[t].id).collect()}
                assert got == {i * 100, i * 100 + 1}, (t, i)


# -- ledger ------------------------------------------------------------------

def test_ledger_state_machine(tmp_path):
    led = Ledger(str(tmp_path / "ledger.json"))
    ks, tbl, tile = "ks", "t", 0
    assert led.can_discover(ks, tbl, tile)
    assert led.replication_plan(ks, tbl, tile) is None

    led.record_discovery(ks, tbl, tile, snapshot_id=1)
    # unconsumed snapshot -> discovery must skip (K:2263-2271)
    assert not led.can_discover(ks, tbl, tile)
    with pytest.raises(RuntimeError):
        led.record_discovery(ks, tbl, tile, snapshot_id=2)

    plan = led.replication_plan(ks, tbl, tile)
    assert plan == {"mode": "historical", "curr": 1}
    led.mark_replication_complete(ks, tbl, tile)
    assert led.replication_plan(ks, tbl, tile) is None
    assert led.can_discover(ks, tbl, tile)

    led.record_discovery(ks, tbl, tile, snapshot_id=2)
    # rotation preserved prev's load_status (K:1402-1416)
    prev = led.get(ks, tbl, tile, "prev")
    assert prev.location == "1" and prev.load_status == SUCCESS
    assert led.replication_plan(ks, tbl, tile) == {"mode": "delta", "curr": 2, "prev": 1}


def test_ledger_persistence(tmp_path):
    p = str(tmp_path / "ledger.json")
    led = Ledger(p)
    led.record_discovery("ks", "t", 3, snapshot_id=7)
    led2 = Ledger(p)
    assert led2.get("ks", "t", 3, "curr").location == "7"


def _count_replaces_of(monkeypatch, path: str) -> list[str]:
    import os

    real = os.replace
    seen = []

    def replace(src, dst, *args, **kwargs):
        if os.fspath(dst) == path:
            seen.append(path)
        return real(src, dst, *args, **kwargs)

    monkeypatch.setattr(os, "replace", replace)
    return seen


def test_record_discoveries_returns_lost_tiles_records_the_rest(
        tmp_path, monkeypatch):
    """A rival ledger on the same file rotated tile 1 after our gate
    check: the batched record returns exactly tile 1, rotates tiles 0
    and 2 in one file replace, and leaves the rival's curr row as it
    was."""
    p = str(tmp_path / "ledger.json")
    led, rival = Ledger(p), Ledger(p)
    assert led.record_discoveries("ks", "t", {0: 1, 1: 1, 2: 1}) == set()
    led.mark_replications_complete("ks", "t", [0, 1, 2])
    rival.record_discovery("ks", "t", 1, snapshot_id=777)
    rivals = led.get("ks", "t", 1, "curr")

    replaces = _count_replaces_of(monkeypatch, p)
    assert led.record_discoveries("ks", "t", {0: 2, 1: 2, 2: 2}) == {1}
    assert len(replaces) == 1
    assert led.get("ks", "t", 1, "curr") == rivals
    assert rivals.location == "777" and rivals.load_status == ""
    for t in (0, 2):
        assert led.replication_plan("ks", "t", t) == {
            "mode": "delta", "curr": 2, "prev": 1}


def test_mark_replications_complete_marks_all_or_none(tmp_path, monkeypatch):
    """A batch naming a tile without a curr row raises and marks none of
    the batch's tiles; a full batch marks every tile in one replace."""
    p = str(tmp_path / "ledger.json")
    led = Ledger(p)
    led.record_discoveries("ks", "t", {0: 1, 1: 1})
    with open(p) as f:
        before = f.read()
    replaces = _count_replaces_of(monkeypatch, p)
    with pytest.raises(RuntimeError, match="tile 99: no curr ledger row"):
        led.mark_replications_complete("ks", "t", [0, 1, 99])
    with open(p) as f:
        assert f.read() == before
    assert replaces == []
    for t in (0, 1):
        assert led.replication_plan("ks", "t", t) == {
            "mode": "historical", "curr": 1}
    led.mark_replications_complete("ks", "t", [0, 1])
    assert len(replaces) == 1
    assert [led.replication_plan("ks", "t", t) for t in (0, 1)] == [None, None]


# -- config -------------------------------------------------------------------

def test_config_resolve_valid():
    m = cfg.resolve({
        "replication": {
            "allColumns": False,
            "columns": ["key", "col0"],
            "transformations": [
                {"column": "col7", "rule": "sha256", "alias": "col7_h", "keepSource": True}
            ],
        },
        "compression": {"enabled": True, "compressNonPrimaryColumns": ["payload"]},
    })
    assert m.replication.columns == ["key", "col0"]
    assert m.write.maxStatementsPerBatch == 29  # reference default K:74


@pytest.mark.parametrize("bad", [
    {"replication": {"transformations": [{"column": "c", "rule": "crc32"}]}},
    {"replication": {"transformations": [{"column": "c", "rule": "md5", "keepSource": True}]}},
    {"replication": {"transformations": [
        {"column": "a", "rule": "md5", "alias": "x"},
        {"column": "b", "rule": "md5", "alias": "x"}]}},
    {"replication": {"allColumns": False, "columns": []}},
])
def test_config_resolve_invalid(bad):
    with pytest.raises(cfg.ConfigError):
        cfg.resolve(bad)


def test_effective_pk():
    ts = [cfg.Transformation(column="key", rule="xxhash64", alias="key_h")]
    assert cfg.effective_pk(["key", "col0"], ts) == ["key_h", "col0"]


def test_normalize_timestamp_millis_floors_like_spark(spark):
    """K:1086-1107 row path: every form floors to the millisecond, so a
    pre-epoch datetime agrees with its string and with Spark."""
    import datetime as dt

    from cql_replicator_spark.types import normalize_timestamp_millis as ms

    assert ms(dt.datetime(1969, 12, 31, 23, 59, 59, 999500)) == -1
    assert ms(dt.datetime(2020, 1, 1, 5, 30, 0, 250999,
                          tzinfo=dt.timezone(dt.timedelta(hours=5, minutes=30)))) \
        == 1577836800250
    assert ms(1577836800123) == 1577836800123
    strings = {
        "1969-12-31 23:59:59.9995": -1,
        "2020-01-01 00:00:00.5": 1577836800500,  # '.5' pads to 500 ms
        "2020-01-01 00:00:00.123456789": 1577836800123,  # ns truncated
        "2020-01-01T00:00:00.5Z": 1577836800500,
        "2020-01-01 05:30:00.25+05:30": 1577836800250,
        "1960-06-01 12:00:00.001-08:00": -302414399999,
    }
    assert {s: ms(s) for s in strings} == strings
    df = spark.createDataFrame([(s,) for s in strings], "s string")
    got = df.select("s", F.unix_millis(F.to_timestamp("s"))).collect()
    assert dict(got) == strings


def test_reads_per_sec_round_trip_and_option():
    from cql_replicator_spark.sources.cassandra import read_options

    m = cfg.resolve({"read": {"readsPerSec": 500, "splitSizeInMB": 128}})
    assert m.read.readsPerSec == 500
    opts = read_options(m.read)
    assert opts["spark.cassandra.input.readsPerSec"] == "500"
    # unthrottled by default: the knob is absent, not "0"
    assert "spark.cassandra.input.readsPerSec" not in read_options(cfg.ReadConfig())


def test_default_partitions_formula():
    # K:562-565: max(defaultParallelism, cores * instances * tiles)
    assert cfg.default_partitions(200, 4, 10, 8) == 320
    assert cfg.default_partitions(500, 4, 10, 8) == 500


def test_calculate_workers_matches_reference_arithmetic():
    # C:1402-1426: f = drps*tiles; small traffic -> G.025X with k=-1
    assert cfg.calculate_workers(8000, 4) == ("G.025X", 3)   # ceil(2)+1
    # large traffic -> G.1X with k=1
    assert cfg.calculate_workers(40000, 8) == ("G.1X", 4)    # ceil(5)-1
    # below-2 results bumped by one (reference quirk preserved)
    assert cfg.calculate_workers(10001, 100) == ("G.1X", 1)  # 1-1=0 -> 1
    with pytest.raises(cfg.ConfigError):
        cfg.calculate_workers(0, 4)


def test_capacity_planning_matches_reference_arithmetic():
    # discovery sizing: max(2*tiles+1, 2), override wins (C:1127-1133)
    assert cfg.discovery_workers(4) == 9
    assert cfg.discovery_workers(1) == 3
    assert cfg.discovery_workers(4, override=5) == 5
    # --inc-traffic ramp: 5s inter-start default, 240s with the flag,
    # --custom-inc-traffic overrides either (C:20-21, C:1286-1291)
    assert cfg.traffic_ramp_schedule(3) == [0, 5, 10]
    assert cfg.traffic_ramp_schedule(3, inc_traffic=True) == [0, 240, 480]
    assert cfg.traffic_ramp_schedule(3, inc_traffic=True,
                                     cooling_period_s=60) == [0, 60, 120]
    # TCO: dpu = discovery + workers*tiles; bc-style half-up cents (H:61-79)
    assert cfg.estimate_tco_per_hour(0.44, 4, 3) == (21, 9.24)
    assert cfg.estimate_tco_per_hour(0.4583, 2, 2) == (9, 4.12)  # 4.1247 -> 4.12
    with pytest.raises(cfg.ConfigError):
        cfg.traffic_ramp_schedule(0)
    with pytest.raises(cfg.ConfigError):
        cfg.estimate_tco_per_hour(-1, 2, 2)


# -- transforms ----------------------------------------------------------------

def test_filter_expression_valid_and_invalid(tables):
    orders = tables["orders"]
    n = transform.apply_filter_expression(orders, "o_orderstatus = 'F'").count()
    assert 0 < n < orders.count()
    with pytest.raises(ValueError):
        transform.apply_filter_expression(orders, "no_such_col > 1")


def test_hash_transforms(spark):
    df = spark.createDataFrame([("alice",), ("bob",)], "name string")
    out = transform.apply_transformations(
        df, [cfg.Transformation(column="name", rule="md5", alias="name_h", keepSource=True)]
    )
    rows = {r.name: r.name_h for r in out.collect()}
    import hashlib
    assert rows["alice"] == hashlib.md5(b"alice").hexdigest()


def test_point_in_time(spark):
    df = spark.createDataFrame([(1, 100), (2, 200), (3, None)], "pk int, ts long")
    pit = cfg.PointInTime(enabled=True, predicateOp="greaterThan", timestamp=150)
    out = transform.apply_point_in_time(df, "ts", pit)
    assert {r.pk for r in out.collect()} == {2}  # null guarded out


def test_udt_to_json(spark):
    df = spark.createDataFrame([((1, "a"),)], "u struct<x:int,y:string>")
    out = transform.udt_to_json(df, ["u"]).collect()[0]
    assert out.u == '{"x":1,"y":"a"}'


# -- stats ---------------------------------------------------------------------

def test_column_stats_and_totals(tables):
    orders = tables["orders"]
    st = stats.add_total_columns(stats.column_stats(orders))
    row = st.collect()[0]
    assert row["o_orderkey_min"] >= 0.0 and row["o_orderkey_max"] > 0.0
    assert row["o_orderdate_min"] == 8.0  # timestamp fixed size
    assert row["row_avg_total"] > 0
    # string column measured by length
    assert row["o_orderstatus_max"] >= 1.0


def test_estimate_partitions():
    assert stats.estimate_partitions_for_write(100.0, 0) == 1
    assert stats.estimate_partitions_for_write(1024.0, 1024 * 1024, target_mb=32) == 32


def test_legacy_snapshot_migration(spark, tmp_path):
    """head/tail parquet dirs migrate into store+ledger RE-TILED under this
    engine's tile hash; pipeline resumes with a delta against head, never
    re-replicating the legacy delta and never emitting re-tiling churn."""
    from pyspark.sql import functions as F

    from cql_replicator_spark.diff import compute_changes
    from cql_replicator_spark.ledger import Ledger
    from cql_replicator_spark.snapshot import SnapshotStore, migrate_legacy_snapshots
    from cql_replicator_spark.tiling import assign_tiles

    tail = spark.createDataFrame([(i, 100) for i in range(50)], ["pk", "ts"])
    head = spark.createDataFrame(
        [(i, 100 if i % 5 else 101) for i in range(10, 60)], ["pk", "ts"])
    legacy = tmp_path / "legacy"
    # legacy tiling came from the REFERENCE's hash: simulate with a
    # different assignment (mod) so migrated keys must move tiles
    for t in (0, 1):
        tail.filter(F.col("pk") % 2 == t).coalesce(1).write.parquet(
            str(legacy / f"tile={t}" / "tail"))
        head.filter(F.col("pk") % 2 == t).coalesce(1).write.parquet(
            str(legacy / f"tile={t}" / "head"))

    store = SnapshotStore(str(tmp_path / "snaps"), "ks", "t")
    ledger = Ledger(str(tmp_path / "ledger.json"))
    out = migrate_legacy_snapshots(
        spark, store, ledger, "ks", "t", str(legacy), tiles=[0, 1],
        pk_cols=["pk"])

    assert out == {0: (1, 2), 1: (1, 2)}
    assert not (legacy / "tile=0").exists() and not (legacy / "tile=1").exists()
    for t in (0, 1):
        # head is current and already consumed -> nothing to replicate now
        assert ledger.replication_plan("ks", "t", t) is None
    assert (store.read_current(spark, 0).count()
            + store.read_current(spark, 1).count()) == head.count()

    # the fix's invariant: a post-migration discovery of the SAME source
    # must produce an EMPTY delta on every tile (no re-tiling churn)
    retiled = assign_tiles(head, ["pk"], 2)
    for t in (0, 1):
        part = retiled.filter(F.col("tile") == t).drop("tile")
        sid = store.write_snapshot(part, t)
        ledger.record_discovery("ks", "t", t, sid)
        plan = ledger.replication_plan("ks", "t", t)
        assert plan == {"mode": "delta", "curr": sid, "prev": 2}
        cs = compute_changes(store.read_snapshot(spark, t, sid),
                             store.read_snapshot(spark, t, 2), ["pk"])
        assert cs.inserts.count() == 0 and cs.deletes.count() == 0
        assert cs.updates.count() == 0


def test_salted_join_equals_plain_join(spark):
    """salted_join == plain join for inner and left, incl. a hot key."""
    from pyspark.sql import functions as F

    from cql_replicator_spark.skew import salted_join

    # 90% of big-side rows share one hot key
    big = spark.range(2000).select(
        F.when(F.col("id") % 10 != 0, F.lit(7)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("payload"))
    small = spark.createDataFrame(
        [(7, "hot"), (20, "cold"), (999999, "unmatched")], ["k", "label"])

    for how in ("inner", "left"):
        got = sorted(map(tuple, salted_join(big, small, ["k"], how=how).collect()))
        want = sorted(map(tuple, big.join(small, ["k"], how).collect()))
        assert got == want, how


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    prev_keys=st.sets(st.integers(0, 120), max_size=60),
    curr_keys=st.sets(st.integers(0, 120), max_size=60),
    changed=st.sets(st.integers(0, 120), max_size=30),
)
def test_diff_property_random_mutations(spark, prev_keys, curr_keys, changed):
    """SURVEY §5 property test: for ANY pair of key sets and any changed
    subset, the snapshot diff equals the set-arithmetic ground truth."""
    from cql_replicator_spark.diff import compute_changes_tagged

    prev = spark.createDataFrame(
        [(k, 100) for k in prev_keys] or [(None, None)], "pk INT, ts INT"
    ).filter("pk IS NOT NULL")
    curr = spark.createDataFrame(
        [(k, 101 if k in changed else 100) for k in curr_keys] or [(None, None)],
        "pk INT, ts INT").filter("pk IS NOT NULL")

    got = {(r.op, r.pk) for r in
           compute_changes_tagged(curr, prev, ["pk"]).collect()}
    want = ({("insert", k) for k in curr_keys - prev_keys}
            | {("delete", k) for k in prev_keys - curr_keys}
            | {("update", k) for k in (curr_keys & prev_keys) & changed})
    assert got == want


# -- temporal ------------------------------------------------------------------

def test_asof_join_semantics(spark):
    """Backward inclusive as-of: latest right row at or before each left
    timestamp per key; no prior row -> null payload; same-ts update is
    visible to the event (inclusive >=)."""
    from cql_replicator_spark.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 5, "e1"), (1, 9, "e2"), (1, 4, "e0"), (2, 3, "e3"), (3, 7, "e4")],
        "k INT, ts INT, name STRING")
    right = spark.createDataFrame(
        [(1, 4, 10), (1, 7, 20), (2, 9, 30)], "k INT, ts INT, state INT")
    out = {r.name: (r.state, r.asof_ts)
           for r in asof_join(left, right, on="k").collect()}
    assert out == {
        "e0": (10, 4),     # same-ts update visible (inclusive)
        "e1": (10, 4),
        "e2": (20, 7),     # latest of two priors
        "e3": (None, None),  # right row exists but only later
        "e4": (None, None),  # key never updated
    }


def test_asof_join_payload_collision_raises(spark):
    from cql_replicator_spark.temporal import asof_join

    left = spark.createDataFrame([(1, 5, 1)], "k INT, ts INT, state INT")
    right = spark.createDataFrame([(1, 4, 2)], "k INT, ts INT, state INT")
    with pytest.raises(ValueError, match="collide"):
        asof_join(left, right, on="k")


def test_asof_join_null_payload_is_matched_rows_null(spark):
    """A NULL field in the MATCHED right row must come through as NULL
    — DuckDB ASOF JOIN / kdb aj / pandas merge_asof all carry the
    matched row whole. The original per-column last(ignorenulls)
    formulation instead pulled each NULL field from an OLDER right
    row, tearing the matched row (and silently diverging from the
    registered lanes' own DuckDB oracle wherever payloads can be
    null). Both forms, multi-column payload so tearing would show."""
    from cql_replicator_spark.temporal import asof_join, asof_join_chunked

    left = spark.createDataFrame(
        [(1, 10, "e1"), (1, 20, "e2")], "k INT, ts INT, name STRING")
    right = spark.createDataFrame(
        [(1, 5, 100, "old"), (1, 15, None, "new")],
        "k INT, ts INT, a INT, b STRING")
    want = {
        "e1": (100, "old", 5),    # matched row 5 whole
        "e2": (None, "new", 15),  # matched row 15 whole: a stays NULL
    }
    for fn in (asof_join,
               lambda l, r, on: asof_join_chunked(l, r, on, chunk_width=7)):
        out = {r.name: (r.a, r.b, r.asof_ts)
               for r in fn(left, right, "k").collect()}
        assert out == want


def test_range_join_exact_pairs(spark):
    """Every (point, interval) containment pair exactly once — including
    an interval straddling a bucket boundary (covers 2 buckets) and a
    point matching two overlapping intervals; half-open [lo, hi)."""
    from cql_replicator_spark.temporal import range_join

    points = spark.createDataFrame(
        [(1, 5), (2, 10), (3, 19), (4, 20), (5, 37)], "pid INT, p INT")
    ivals = spark.createDataFrame(
        [(100, 0, 10), (101, 8, 25), (102, 18, 20)], "iid INT, lo INT, hi INT")
    out = sorted((r.pid, r.iid) for r in range_join(
        points, ivals, "p", "lo", "hi", bucket_width=10).collect())
    assert out == [
        (1, 100),            # plain containment
        (2, 101),            # hi exclusive: 10 not in [0,10)
        (3, 101), (3, 102),  # overlapping intervals both match
        (4, 101),            # 20 not in [18,20) but in [8,25)
    ]                        # 37 matches nothing


def test_range_join_keyed_and_guards(spark):
    from cql_replicator_spark.temporal import range_join
    from pyspark.errors import SparkRuntimeException

    points = spark.createDataFrame(
        [("a", 1, 5), ("b", 2, 5)], "k STRING, pid INT, p INT")
    ivals = spark.createDataFrame(
        [("a", 100, 0, 10)], "k STRING, iid INT, lo INT, hi INT")
    out = [(r.k, r.pid, r.iid) for r in range_join(
        points, ivals, "p", "lo", "hi", bucket_width=10, on=["k"]).collect()]
    assert out == [("a", 1, 100)]  # key "b" never pairs despite containment

    with pytest.raises(ValueError, match="ambiguous"):
        range_join(points.withColumnRenamed("pid", "iid"), ivals,
                   "p", "lo", "hi", bucket_width=10, on=["k"])
    # degenerate interval must fail loudly, not explode the build side
    wide = spark.createDataFrame([(1, 0, 10_000)], "iid INT, lo INT, hi INT")
    with pytest.raises(SparkRuntimeException, match="widen bucket_width"):
        range_join(points.select("pid", "p"), wide, "p", "lo", "hi",
                   bucket_width=1, max_span_buckets=100).collect()


def test_range_join_plan_is_equi_join_not_bnlj(spark):
    """The point of the bucketed form: the physical plan must contain NO
    BroadcastNestedLoopJoin / CartesianProduct — the pairing rides a
    normal equi-join that AQE can shuffle or broadcast."""
    from cql_replicator_spark.temporal import range_join

    points = spark.range(100).select(F.col("id").alias("p"))
    ivals = spark.range(10).select(
        F.col("id").alias("iid"), (F.col("id") * 10).alias("lo"),
        (F.col("id") * 10 + 15).alias("hi"))
    plan = range_join(points, ivals, "p", "lo", "hi", bucket_width=10) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


# -- bucketing -----------------------------------------------------------------

def test_bucketed_join_has_no_exchange(spark, tables, tmp_path):
    """Bucketing both sides by the join key at write time must yield a
    SortMergeJoin with NO Exchange (and, with sortBy, no per-side Sort
    of the streamed keys) — the pay-the-shuffle-once contract. Results
    must equal the plain join."""
    from cql_replicator_spark.bucketing import (
        assert_no_exchange, write_bucketed_table,
    )

    orders = tables["orders"].select("o_orderkey", "o_totalprice")
    li = tables["lineitem"].select("l_orderkey", "l_quantity")
    write_bucketed_table(orders, "b_orders", ["o_orderkey"], 4,
                         sort_cols=["o_orderkey"])
    write_bucketed_table(li, "b_lineitem", ["l_orderkey"], 4,
                         sort_cols=["l_orderkey"])
    # at test SF everything is broadcast-sized, which would bypass the
    # co-located SMJ this test demonstrates; at 100 TB fact-fact joins
    # are far beyond any broadcast threshold
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = (spark.table("b_orders")
             .join(spark.table("b_lineitem"),
                   F.col("o_orderkey") == F.col("l_orderkey"))
             .groupBy("o_orderkey")
             .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("q")))
        # the join itself is exchange-free; the final small agg reuses
        # the bucket partitioning too (group key == bucket key)
        assert_no_exchange(j)
        got = {(r.o_orderkey, r.n, r.q) for r in j.collect()}
        plain = (orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
                 .groupBy("o_orderkey")
                 .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("q")))
        want = {(r.o_orderkey, r.n, r.q) for r in plain.collect()}
        assert got == want
        with pytest.raises(AssertionError, match="Exchange"):
            assert_no_exchange(plain)  # the unbucketed plan DOES shuffle
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_bucketed_overwrite_nondefault_db_spares_default_table(spark, tables):
    """Regression (r15 ADVICE medium): the eager overwrite cleanup
    rmtree'd <warehouse>/<name> — the DEFAULT database's layout — while
    DROP TABLE resolved against the CURRENT database. With a
    non-default current database, overwriting `t` silently deleted
    default.`t`'s data files. The lazy path must leave them intact."""
    import os

    from cql_replicator_spark.bucketing import (
        _strip_file_scheme, write_bucketed_table,
    )

    df = tables["orders"].select("o_orderkey", "o_totalprice").limit(10)
    spark.sql("DROP DATABASE IF EXISTS bdb CASCADE")
    spark.sql("CREATE DATABASE bdb")
    try:
        write_bucketed_table(df, "tclash", ["o_orderkey"], 2)  # default db
        victim_rows = spark.table("default.tclash").count()
        wh = _strip_file_scheme(
            spark.catalog.getDatabase("default").locationUri)
        assert os.path.isdir(os.path.join(wh, "tclash"))
        spark.catalog.setCurrentDatabase("bdb")
        write_bucketed_table(df, "tclash", ["o_orderkey"], 2)  # bdb.tclash
        # the default table's files AND rows survive the bdb overwrite
        assert os.path.isdir(os.path.join(wh, "tclash"))
        assert spark.table("default.tclash").count() == victim_rows
        assert spark.table("bdb.tclash").count() == 10
    finally:
        spark.catalog.setCurrentDatabase("default")
        spark.sql("DROP TABLE IF EXISTS default.tclash")
        spark.sql("DROP DATABASE IF EXISTS bdb CASCADE")


def test_bucketed_overwrite_cleans_true_orphan(spark, tables):
    """The orphan case the hardening exists for: a managed-table dir
    left by a killed run (files on disk, catalog entry gone) must be
    cleaned lazily — after saveAsTable raises LOCATION_ALREADY_EXISTS —
    and the retry must succeed."""
    import os

    from cql_replicator_spark.bucketing import (
        _strip_file_scheme, write_bucketed_table,
    )

    wh = _strip_file_scheme(spark.catalog.getDatabase("default").locationUri)
    orphan = os.path.join(wh, "orphan_t")
    os.makedirs(orphan, exist_ok=True)
    with open(os.path.join(orphan, "part-junk.parquet"), "w") as f:
        f.write("x")
    df = tables["orders"].select("o_orderkey", "o_totalprice").limit(5)
    try:
        write_bucketed_table(df, "orphan_t", ["o_orderkey"], 2)
        assert spark.table("orphan_t").count() == 5
        assert not os.path.exists(os.path.join(orphan, "part-junk.parquet"))
    finally:
        spark.sql("DROP TABLE IF EXISTS orphan_t")


def test_bucketed_overwrite_refuses_owned_external_location(spark, tables,
                                                            tmp_path):
    """An EXTERNAL table parked at the managed-layout path is OWNED
    data, not an orphan: the overwrite must re-raise rather than
    rmtree its files (which would corrupt the catalog entry)."""
    import os

    from cql_replicator_spark.bucketing import (
        _strip_file_scheme, write_bucketed_table,
    )

    df = tables["orders"].select("o_orderkey", "o_totalprice").limit(5)
    wh = _strip_file_scheme(spark.catalog.getDatabase("default").locationUri)
    loc = os.path.join(wh, "claimed_t")
    df.write.parquet(loc)
    spark.sql(f"CREATE TABLE ext_owner (o_orderkey LONG, o_totalprice "
              f"DOUBLE) USING parquet LOCATION '{loc}'")
    try:
        with pytest.raises(Exception, match="LOCATION_ALREADY_EXISTS"):
            write_bucketed_table(df, "claimed_t", ["o_orderkey"], 2)
        assert spark.table("ext_owner").count() == 5  # files intact
    finally:
        spark.sql("DROP TABLE IF EXISTS ext_owner")
        import shutil
        shutil.rmtree(loc, ignore_errors=True)


def test_apply_changes_roundtrip_and_delete_only(spark):
    from pyspark.sql import functions as F

    from cql_replicator_spark.diff import apply_changes, compute_changes

    t0 = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (4, 10)], ["pk", "ts"])
    t1 = spark.createDataFrame(
        [(2, 10), (3, 11), (5, 10)], ["pk", "ts"])  # del 1,4; upd 3; ins 5
    cs = compute_changes(curr=t1, prev=t0, pk_cols=["pk"])
    applied = apply_changes(t0, cs, ["pk"])
    assert ({(r.pk, r.ts) for r in applied.collect()}
            == {(r.pk, r.ts) for r in t1.collect()})
    # delete-only delta
    t2 = t1.filter(F.col("pk") != 5)
    cs2 = compute_changes(curr=t2, prev=t1, pk_cols=["pk"])
    assert ({(r.pk, r.ts) for r in apply_changes(t1, cs2, ["pk"]).collect()}
            == {(r.pk, r.ts) for r in t2.collect()})


# -- incremental view maintenance ---------------------------------------------

def test_ivm_refresh_matches_recompute(spark):
    """Delta-based refresh must equal a direct recompute under every
    change species: insert, delete, in-group value update, group-MOVE
    update, null values, and a group whose last row disappears."""
    from cql_replicator_spark.ivm import change_deltas, refresh_aggregate

    prev = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30), (4, "c", 40),
         (5, "b", None), (6, "d", 60)],
        "pk INT, grp STRING, v INT")
    curr = spark.createDataFrame(
        [(1, "a", 10),            # unchanged
         (2, "a", 25),            # in-group update
         (3, "c", 30),            # group move b -> c
         (5, "b", 50),            # null -> value update
         (7, "e", 70),            # insert (new group)
         ],                        # 4 deleted (c loses a row), 6 deleted (d empties)
        "pk INT, grp STRING, v INT")

    state0 = prev.groupBy("grp").agg(
        F.sum("v").alias("sum_v"), F.count("*").alias("n"))
    deltas = change_deltas(curr, prev, ["pk"], ["grp"], "v")
    got = {r.grp: (r.sum_v, r.n) for r in
           refresh_aggregate(state0, deltas, ["grp"]).collect()}
    want = {r.grp: (r.sum_v, r.n) for r in
            curr.groupBy("grp").agg(
                F.sum("v").alias("sum_v"), F.count("*").alias("n")).collect()}
    assert got == want
    assert "d" not in got, "emptied group must disappear like a recompute"


def test_refresh_all_null_group_reads_null_exact(spark):
    """The r13-pinned all-NULL-group bound is CLOSED: with the
    non-null counter in the state (nn = count of non-null values;
    change_deltas emits the matching signed d_nn), sum over a group
    whose every value is NULL reads NULL after a delta refresh —
    exactly what a recompute (SQL sum) says. The NULL sum round-trips
    across chained refreshes (merge coalesces it back to 0, which IS
    the group's non-null contribution total)."""
    from cql_replicator_spark.ivm import change_deltas, refresh_aggregate

    prev = spark.createDataFrame(
        [(1, "a", None), (2, "b", 5)], "pk INT, grp STRING, v INT")
    curr = spark.createDataFrame(
        [(1, "a", None), (3, "a", None), (2, "b", 7)],
        "pk INT, grp STRING, v INT")
    state0 = prev.groupBy("grp").agg(
        F.sum("v").alias("sum_v"), F.count("*").alias("n"),
        F.count("v").alias("nn"))
    deltas = change_deltas(curr, prev, ["pk"], ["grp"], "v")
    v1 = refresh_aggregate(state0, deltas, ["grp"])
    got = {r.grp: (r.sum_v, r.n) for r in v1.collect()}
    assert got["a"] == (None, 2)  # SQL-exact: all-NULL group -> NULL
    assert got["b"] == (7, 1)

    # chain a second refresh through the NULL state: a non-null value
    # arrives in "a", a's sum must come back from NULL exactly
    nxt = spark.createDataFrame(
        [(1, "a", None), (3, "a", 4), (2, "b", 7)],
        "pk INT, grp STRING, v INT")
    v2 = refresh_aggregate(
        v1, change_deltas(nxt, curr, ["pk"], ["grp"], "v"), ["grp"])
    got2 = {r.grp: (r.sum_v, r.n) for r in v2.collect()}
    assert got2["a"] == (4, 2)
    # ...and back to all-NULL again
    v3 = refresh_aggregate(
        v2, change_deltas(curr, nxt, ["pk"], ["grp"], "v"), ["grp"])
    assert {r.grp: (r.sum_v, r.n) for r in v3.collect()}["a"] == (None, 2)


def test_refresh_legacy_state_reads_zero_not_null(spark):
    """Degraded mode, still documented: a legacy (sum, count) state
    WITHOUT the non-null counter cannot represent "zero non-null
    values seen", so an all-NULL group reads 0 — and a state that
    carries nn but is fed counterless deltas must raise rather than
    silently corrupt the counter."""
    import pytest
    from cql_replicator_spark.ivm import change_deltas, refresh_aggregate

    prev = spark.createDataFrame(
        [(1, "a", None), (2, "b", 5)], "pk INT, grp STRING, v INT")
    curr = spark.createDataFrame(
        [(1, "a", None), (3, "a", None), (2, "b", 7)],
        "pk INT, grp STRING, v INT")
    state0 = prev.groupBy("grp").agg(
        F.sum("v").alias("sum_v"), F.count("*").alias("n"))
    deltas = change_deltas(curr, prev, ["pk"], ["grp"], "v")
    got = {r.grp: (r.sum_v, r.n) for r in
           refresh_aggregate(state0, deltas, ["grp"]).collect()}
    assert got["a"] == (0, 2)  # the two-column state's best answer
    assert got["b"] == (7, 1)

    with_nn = prev.groupBy("grp").agg(
        F.sum("v").alias("sum_v"), F.count("*").alias("n"),
        F.count("v").alias("nn"))
    with pytest.raises(ValueError, match="d_nn"):
        refresh_aggregate(with_nn, deltas.drop("d_nn"), ["grp"])


def test_ivm_deltas_are_change_sized(spark):
    """The delta frame must collapse to touched groups only — unchanged
    keys contribute nothing (the whole point of the incremental path)."""
    from cql_replicator_spark.ivm import change_deltas

    prev = spark.createDataFrame(
        [(i, i % 50, i * 10) for i in range(1000)], "pk INT, grp INT, v INT")
    # touch exactly 3 keys in 2 distinct groups
    curr = prev.withColumn(
        "v", F.when(F.col("pk").isin(0, 50, 1), F.col("v") + 5)
              .otherwise(F.col("v")))
    rows = {r.grp: (r.d_sum, r.d_count) for r in
            change_deltas(curr, prev, ["pk"], ["grp"], "v").collect()}
    assert rows == {0: (10, 0), 1: (5, 0)}


def test_changes_envelope_images(spark):
    """Before/after images per op: inserts null-before, deletes
    null-after, updates both — including null-valued ts on either side
    (null-safe update rule)."""
    from cql_replicator_spark.diff import compute_changes_envelope

    prev = spark.createDataFrame(
        [(1, 100), (2, 200), (3, 300), (4, None)], "pk int, ts long")
    curr = spark.createDataFrame(
        [(1, 100), (3, 301), (4, 400), (5, None)], "pk int, ts long")
    rows = {r.pk: (r.op, r.ts_before, r.ts_after) for r in
            compute_changes_envelope(curr, prev, ["pk"]).collect()}
    assert rows == {
        2: ("delete", 200, None),
        3: ("update", 300, 301),
        4: ("update", None, 400),
        5: ("insert", None, None),   # inserted with null ts: after stays null
    }


def test_snapshot_stats_pruned_read(spark, tmp_path):
    """stats_cols writes range-disjoint files + per-file min/max into
    the manifest; a between= read must (a) return exactly the filtered
    rows, (b) OPEN fewer files than the snapshot has, (c) yield a
    schema-correct empty frame on a disjoint range, and (d) stay
    correct without stats (filter-only fallback)."""
    from cql_replicator_spark.snapshot import SnapshotStore

    store = SnapshotStore(str(tmp_path), "ks", "t")
    df = spark.range(0, 1000).select(
        F.col("id").alias("pk"), (F.col("id") * 2).alias("ts"))
    sid = store.write_snapshot(df, tile=0, files_per_snapshot=8,
                               stats_cols=["pk"])
    files = store._read_manifest(0)[0]["files"]
    assert len(files) == 8
    assert sum(f["count"] for f in files) == 1000

    pruned = store.read_snapshot(spark, 0, sid, between={"pk": (100, 150)})
    assert sorted((r.pk, r.ts) for r in pruned.collect()) \
        == [(i, 2 * i) for i in range(100, 151)]
    assert 0 < len(pruned.inputFiles()) < 8, "manifest pruning must skip files"

    empty = store.read_snapshot(spark, 0, sid, between={"pk": (5000, 6000)})
    assert empty.count() == 0
    assert empty.columns == ["pk", "ts"]

    sid2 = store.write_snapshot(df, tile=1)  # no stats -> filter-only path
    r2 = store.read_snapshot(spark, 1, sid2, between={"pk": (100, 150)})
    assert r2.count() == 51


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    points=st.lists(st.integers(-50, 150), max_size=25),
    ivals=st.lists(st.tuples(st.integers(-50, 150), st.integers(0, 40)),
                   max_size=12),
    width=st.integers(1, 60),
)
def test_range_join_property_vs_brute_force(spark, points, ivals, width):
    """For ANY point set, interval set (incl. empty/zero-length), and
    bucket width, the bucketed join equals the brute-force containment
    product — each qualifying pair exactly once."""
    from cql_replicator_spark.temporal import range_join

    pdf = spark.createDataFrame(
        [(i, p) for i, p in enumerate(points)] or [(None, None)],
        "pid INT, p INT").filter("pid IS NOT NULL")
    idf = spark.createDataFrame(
        [(j, lo, lo + ln) for j, (lo, ln) in enumerate(ivals)] or
        [(None, None, None)], "iid INT, lo INT, hi INT"
    ).filter("iid IS NOT NULL")
    got = sorted((r.pid, r.iid) for r in range_join(
        pdf, idf, "p", "lo", "hi", bucket_width=width).collect())
    want = sorted(
        (i, j)
        for i, p in enumerate(points)
        for j, (lo, ln) in enumerate(ivals)
        if lo <= p < lo + ln)
    assert got == want


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    lefts=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 200)),
                   max_size=20),
    right_ts=st.sets(st.integers(0, 200), max_size=15),
    width=st.integers(1, 80),
)
def test_asof_chunked_equals_plain(spark, lefts, right_ts, width):
    """asof_join_chunked must produce EXACTLY asof_join's output for
    any timeline and any chunk width (fills are associative; seeded
    chunk fills compose to the global fill) — including left rows whose
    chunk saw no right row (seed from earlier chunks), keys with no
    right rows at all, and NULL payload values (matched-ROW semantics:
    a matched row's NULL field stays NULL in both forms; the chunked
    seed is the chunk's latest whole row, so a later row's NULL
    shadows an older non-null exactly as the plain struct fill
    does)."""
    from cql_replicator_spark.temporal import asof_join, asof_join_chunked

    left = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(lefts)] or [(None,) * 3],
        "k INT, ts INT, lid INT").filter("lid IS NOT NULL")
    right = spark.createDataFrame(
        [(t % 2, t, (t * 10) if t % 3 else None) for t in right_ts]
        or [(None,) * 3],
        "k INT, ts INT, state INT").filter("ts IS NOT NULL")

    plain = {(r.k, r.lid): (r.state, r.asof_ts)
             for r in asof_join(left, right, on="k").collect()}
    chunked = {(r.k, r.lid): (r.state, r.asof_ts)
               for r in asof_join_chunked(
                   left, right, on="k", chunk_width=width).collect()}
    assert chunked == plain


def test_asof_chunked_guards(spark):
    from cql_replicator_spark.temporal import asof_join_chunked

    left = spark.createDataFrame([(1, 5, 1)], "k INT, ts INT, lid INT")
    right = spark.createDataFrame([(1, 4, 2)], "k INT, ts INT, lid INT")
    with pytest.raises(ValueError, match="collide"):
        asof_join_chunked(left, right, on="k")
    with pytest.raises(ValueError, match="chunk_width"):
        asof_join_chunked(left, right.withColumnRenamed("lid", "state"),
                          on="k", chunk_width=0)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    prev_rows=st.dictionaries(st.integers(0, 60), st.integers(0, 5),
                              max_size=30),
    curr_rows=st.dictionaries(st.integers(0, 60), st.integers(0, 5),
                              max_size=30),
)
def test_ivm_property_random_changes(spark, prev_rows, curr_rows):
    """For ANY pair of keyed snapshots (values double as group ids, so
    updates frequently MOVE groups; value 5 maps to NULL so all-NULL
    groups occur), delta-refresh with the non-null counter == direct
    recompute, INCLUDING SQL NULL-sum semantics."""
    from cql_replicator_spark.ivm import change_deltas, refresh_aggregate

    prev = spark.createDataFrame(
        [(k, v % 3, None if v == 5 else v * 10)
         for k, v in prev_rows.items()] or [(None,) * 3],
        "pk INT, grp INT, v INT").filter("pk IS NOT NULL")
    curr = spark.createDataFrame(
        [(k, v % 3, None if v == 5 else v * 10)
         for k, v in curr_rows.items()] or [(None,) * 3],
        "pk INT, grp INT, v INT").filter("pk IS NOT NULL")

    state0 = prev.groupBy("grp").agg(
        F.sum("v").alias("sum_v"), F.count("*").alias("n"),
        F.count("v").alias("nn"))
    got = {(r.grp, r.sum_v, r.n) for r in refresh_aggregate(
        state0, change_deltas(curr, prev, ["pk"], ["grp"], "v"),
        ["grp"]).collect()}
    want = {(r.grp, r.sum_v, r.n) for r in curr.groupBy("grp").agg(
        F.sum("v").alias("sum_v"), F.count("*").alias("n")).collect()}
    assert got == want


def test_snapshot_commit_takes_over_an_orphaned_dir(spark, tmp_path):
    """A write that died between its rename and its manifest append
    leaves snap-{max id + 1} on disk, listed nowhere. The next commit
    of the tile takes that id and removes the dir first, so it reads
    back only its own rows and the manifest lists exactly both ids."""
    import os

    from cql_replicator_spark.snapshot import SnapshotStore

    store = SnapshotStore(str(tmp_path), "ks", "t")
    df = spark.createDataFrame([(1, 10), (2, 20)], "pk int, ts long")
    s1 = store.write_snapshot(df, tile=0, stats_cols=["pk"])

    orphan = os.path.join(str(tmp_path), "ks", "t", "tile=0",
                          f"snap-{s1 + 1:08d}")
    os.makedirs(orphan)
    open(os.path.join(orphan, "part-junk.parquet"), "w").write("x")

    s2 = store.write_snapshot(
        spark.createDataFrame([(3, 30)], "pk int, ts long"), tile=0)
    assert s2 == s1 + 1
    assert "part-junk.parquet" not in os.listdir(orphan)
    assert {(r.pk, r.ts) for r in store.read_snapshot(spark, 0, s2).collect()} \
        == {(3, 30)}
    assert store.read_snapshot(spark, 0, s1).count() == 2
    assert [s.id for s in store.snapshots(0)] == [s1, s2]


def test_multi_tile_snapshot_commit_takes_over_orphaned_dirs(
        spark, tmp_path, monkeypatch):
    """A multi-tile write that fails at its one manifest replace leaves
    the manifest as it was and a renamed snap-{max id + 1} in every
    tile. The next write of those tiles takes each orphan over and
    reads back only its own rows."""
    import os

    from cql_replicator_spark.snapshot import SnapshotStore

    store = SnapshotStore(str(tmp_path), "ks", "t")
    tiles = [0, 1, 2]

    def frame(ts):
        return spark.createDataFrame([(i, ts, i % 3) for i in range(9)],
                                     "pk int, ts long, tile int")

    first = store.write_snapshots(frame(10), tiles)
    manifest = os.path.join(str(tmp_path), "ks", "t", "manifest.json")
    with open(manifest) as f:
        before = f.read()

    real = os.replace

    def failing_replace(src, dst, *args, **kwargs):
        if os.path.basename(dst) == "manifest.json":
            raise OSError("manifest replace failed")
        return real(src, dst, *args, **kwargs)

    monkeypatch.setattr(os, "replace", failing_replace)
    with pytest.raises(OSError, match="manifest replace failed"):
        store.write_snapshots(frame(20), tiles)
    monkeypatch.setattr(os, "replace", real)
    with open(manifest) as f:
        assert f.read() == before
    for t in tiles:
        orphan = os.path.join(str(tmp_path), "ks", "t", f"tile={t}",
                              f"snap-{first[t].id + 1:08d}")
        assert os.listdir(orphan), orphan
        assert [s.id for s in store.snapshots(t)] == [first[t].id]

    again = store.write_snapshots(frame(30), tiles)
    for t in tiles:
        assert again[t].id == first[t].id + 1
        assert {(r.pk, r.ts) for r in
                store.read_snapshot(spark, t, again[t].id).collect()} == \
            {(i, 30) for i in range(9) if i % 3 == t}
        assert [s.id for s in store.snapshots(t)] == [first[t].id,
                                                      again[t].id]


def _killed_writers_staging(parent: str) -> str:
    """A staging dir as a writer killed mid-write leaves it: made by a
    process that exits without cleaning up."""
    import os
    import subprocess
    import sys

    return subprocess.run(
        [sys.executable, "-c",
         "import os, sys\n"
         "from cql_replicator_spark.staging import new_staging_dir\n"
         "d = new_staging_dir(sys.argv[1])\n"
         "os.makedirs(os.path.join(d, 'tile=0'))\n"
         "open(os.path.join(d, 'tile=0', 'part-0.parquet'), 'w').close()\n"
         "print(d); os._exit(9)\n", parent],
        capture_output=True, text=True, check=False,
        env={**os.environ, "PYTHONPATH": os.getcwd()}).stdout.strip()


def test_snapshot_gc_removes_dead_writers_staging(spark, tmp_path):
    """A killed snapshot write leaves its staging dir beside the tile
    dirs and the table manifest; the next write — with or without
    stats_cols, as both stage — removes it, while a live writer's
    staging dir and another host's are kept."""
    import os

    from cql_replicator_spark.snapshot import SnapshotStore
    from cql_replicator_spark.staging import new_staging_dir

    store = SnapshotStore(str(tmp_path), "ks", "t")
    table_dir = os.path.join(str(tmp_path), "ks", "t")
    os.makedirs(table_dir)
    live = new_staging_dir(table_dir)
    os.makedirs(live)
    foreign = os.path.join(table_dir, "_staging-otherhost-1-0a1b")
    os.makedirs(foreign)

    df = spark.createDataFrame([(1, 10), (2, 20)], "pk int, ts long")
    for stats_cols in (["pk"], None):
        dead = _killed_writers_staging(table_dir)
        assert os.path.isdir(dead)
        sid = store.write_snapshot(df, tile=0, stats_cols=stats_cols)
        assert not os.path.exists(dead)
        assert sorted(os.listdir(table_dir)) == sorted(
            [os.path.basename(live), os.path.basename(foreign), "tile=0",
             "manifest.json", "manifest.json.lock"])
        assert store.read_snapshot(spark, 0, sid).count() == 2


def test_scd2_history_intervals_and_null_safety(spark):
    import datetime as dt

    from pyspark.sql import functions as F

    from cql_replicator_spark.temporal import scd2_history

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    rows = [
        # key 1: a -> a (collapse) -> b -> NULL -> NULL (collapse) -> a
        (1, t(1), 1, "a"), (1, t(2), 2, "a"), (1, t(3), 3, "b"),
        (1, t(4), 4, None), (1, t(5), 5, None), (1, t(6), 6, "a"),
        # key 2: single row
        (2, t(1), 7, "z"),
    ]
    df = spark.createDataFrame(rows, "k INT, ts TIMESTAMP, eid INT, v STRING")
    hist = scd2_history(df, key="k", tracked=["v"], ts="ts",
                        tiebreak=["eid"]).orderBy("k", "version")
    got = [(r["k"], r["v"], r["valid_from"].second,
            r["valid_to"].second if r["valid_to"] else None,
            r["version"], r["is_current"]) for r in hist.collect()]
    assert got == [
        (1, "a", 1, 3, 1, False),
        (1, "b", 3, 4, 2, False),
        (1, None, 4, 6, 3, False),   # value -> NULL is a change
        (1, "a", 6, None, 4, True),  # NULL -> NULL is not
        (2, "z", 1, None, 1, True),
    ]
    with pytest.raises(ValueError, match="tracked"):
        scd2_history(df, key="k", tracked=[], ts="ts")


def test_merkle_tree_localizes_single_change(spark):
    from pyspark.sql import functions as F

    from cql_replicator_spark.reconcile import merkle_diff, merkle_tree

    base = spark.range(1000).select(F.col("id").alias("pk"),
                                    (F.col("id") * 7).alias("ts"))
    changed = base.withColumn(
        "ts", F.when(F.col("pk") == 123, F.col("ts") + 1).otherwise(F.col("ts")))

    tree_a = merkle_tree(base, "pk", ["ts"], n_leaves=16, fanout=4)
    # densified: 16 + 4 + 1 nodes regardless of data
    assert tree_a.count() == 21
    # identical tables -> zero out-of-sync nodes
    assert merkle_diff(tree_a, merkle_tree(base, "pk", ["ts"],
                                           n_leaves=16, fanout=4)).count() == 0
    # one changed row -> exactly one dirty leaf plus its ancestors
    diff = merkle_diff(tree_a, merkle_tree(changed, "pk", ["ts"],
                                           n_leaves=16, fanout=4))
    rows = sorted((r["level"], r["node_id"]) for r in diff.collect())
    assert len(rows) == 3  # leaf, parent, root
    (l0, n0), (l1, n1), (l2, n2) = rows
    assert (l0, l1, l2) == (0, 1, 2)
    assert n1 == n0 // 4 and n2 == 0  # ancestor chain composes by div
    # counts agree (update, not insert/delete) so digests flagged it
    assert all(r["n_src"] == r["n_tgt"] for r in diff.collect())

    with pytest.raises(ValueError, match="power of fanout"):
        merkle_tree(base, "pk", ["ts"], n_leaves=12, fanout=4)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    feed=st.lists(
        st.tuples(st.integers(0, 3),          # key
                  st.integers(0, 50),         # ts offset (seconds)
                  st.sampled_from(["a", "b", "c", None])),
        min_size=1, max_size=40),
)
def test_scd2_history_property_contiguous_intervals(spark, feed):
    import datetime as dt

    from pyspark.sql import functions as F

    from cql_replicator_spark.temporal import scd2_history

    rows = [(k, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s), i, v)
            for i, (k, s, v) in enumerate(feed)]
    df = spark.createDataFrame(rows, "k INT, ts TIMESTAMP, eid INT, v STRING")
    hist = scd2_history(df, key="k", tracked=["v"], ts="ts",
                        tiebreak=["eid"]).collect()

    by_key: dict[int, list] = {}
    for r in sorted(hist, key=lambda r: (r["k"], r["version"])):
        by_key.setdefault(r["k"], []).append(r)
    # reference: per key, order feed by (ts, eid), count value changes
    ordered: dict[int, list] = {}
    for k, ts, eid, v in sorted(rows, key=lambda t: (t[0], t[1], t[2])):
        ordered.setdefault(k, []).append((ts, v))
    for k, seq in ordered.items():
        expected_versions = 1 + sum(
            1 for i in range(1, len(seq)) if seq[i][1] != seq[i - 1][1])
        got = by_key[k]
        assert len(got) == expected_versions
        # versions number 1..n; intervals chain exactly; only last is open
        assert [r["version"] for r in got] == list(range(1, len(got) + 1))
        for a, b in zip(got, got[1:]):
            assert a["valid_to"] == b["valid_from"]
            assert not a["is_current"]
        assert got[-1]["is_current"] and got[-1]["valid_to"] is None
        assert got[0]["valid_from"] == seq[0][0]


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(mutated=st.sets(st.integers(0, 499), min_size=0, max_size=6))
def test_merkle_diff_property_flags_exactly_mutated_leaves(spark, mutated):
    from pyspark.sql import functions as F

    from cql_replicator_spark.analytics.dedup import md5h32
    from cql_replicator_spark.reconcile import merkle_diff, merkle_tree

    base = spark.range(500).select(F.col("id").alias("pk"),
                                   (F.col("id") * 3).alias("ts"))
    bump = F.col("pk").isin([int(m) for m in mutated]) if mutated else F.lit(False)
    changed = base.withColumn(
        "ts", F.when(bump, F.col("ts") + 1).otherwise(F.col("ts")))
    diff = merkle_diff(
        merkle_tree(base, "pk", ["ts"], n_leaves=16, fanout=4),
        merkle_tree(changed, "pk", ["ts"], n_leaves=16, fanout=4))
    got_leaves = {r["node_id"] for r in diff.collect() if r["level"] == 0}
    expect_leaves = {
        r["t"] for r in spark.range(500)
        .filter(F.col("id").isin([int(m) for m in mutated])
                if mutated else F.lit(False))
        .select((md5h32(F.col("id").cast("string")) % 16).alias("t")).collect()
    }
    assert got_leaves == expect_leaves


def test_merkle_digest_null_and_separator_safety(spark):
    from pyspark.sql import functions as F

    from cql_replicator_spark.reconcile import merkle_diff, merkle_tree

    def tree(rows):
        df = spark.createDataFrame(rows, "pk LONG, a STRING, b STRING")
        return merkle_tree(df, "pk", ["a", "b"], n_leaves=4, fanout=2)

    # (NULL,'x') vs ('x',NULL): concat_ws would have collapsed both to
    # the same digest; the length-prefixed null-marked encoding must not
    assert merkle_diff(tree([(1, None, "x")]),
                       tree([(1, "x", None)])).count() > 0
    # ('x:y',NULL) vs ('x','y'): separator injection must not collide
    assert merkle_diff(tree([(1, "x:y", None)]),
                       tree([(1, "x", "y")])).count() > 0
    # and genuinely identical rows (with nulls) still agree
    assert merkle_diff(tree([(1, None, "x")]),
                       tree([(1, None, "x")])).count() == 0


def test_snapshot_stats_on_date_column(spark, tmp_path):
    import datetime as dt

    from pyspark.sql import functions as F

    from cql_replicator_spark.snapshot import SnapshotStore

    store = SnapshotStore(str(tmp_path / "snaps"), "ks", "t")
    df = spark.createDataFrame(
        [(i, dt.date(2024, 1, 1 + i % 20)) for i in range(200)],
        "pk LONG, d DATE")
    # date min/max stats must survive the JSON manifest (an earlier
    # version crashed json.dump AFTER the parquet commit)
    sid = store.write_snapshot(df, tile=0, files_per_snapshot=4,
                               stats_cols=["d"])
    got = store.read_snapshot(
        spark, 0, sid,
        between={"d": (dt.date(2024, 1, 3), dt.date(2024, 1, 5))})
    assert got.count() == df.filter(
        F.col("d").between("2024-01-03", "2024-01-05")).count()


def test_ivm_envelope_group_moves_use_before_groups(spark):
    from cql_replicator_spark.ivm import change_deltas, deltas_from_envelope

    prev = spark.createDataFrame([(1, "A", 10.0), (2, "A", 5.0)],
                                 "pk LONG, g STRING, v DOUBLE")
    curr = spark.createDataFrame([(1, "B", 10.0), (2, "A", 7.0)],
                                 "pk LONG, g STRING, v DOUBLE")
    want = {(r["g"]): (r["d_sum"], r["d_count"]) for r in
            change_deltas(curr, prev, ["pk"], ["g"], "v").collect()}
    env = spark.createDataFrame(
        [("update", 1, "A", "B", 10.0, 10.0),
         ("update", 2, "A", "A", 5.0, 7.0)],
        "op STRING, pk LONG, g_before STRING, g_after STRING, "
        "v_before DOUBLE, v_after DOUBLE")
    got = {(r["g_after"]): (r["d_sum"], r["d_count"]) for r in
           deltas_from_envelope(env, ["g_after"], "v_before", "v_after",
                                before_group_cols=["g_before"]).collect()}
    # group move credits -old to A and +new to B, like the snapshot diff
    assert got == {"A": (want["A"]), "B": (want["B"])}
    with pytest.raises(ValueError, match="positionally"):
        deltas_from_envelope(env, ["g_after"], "v_before", "v_after",
                             before_group_cols=[])
