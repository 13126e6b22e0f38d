"""Sink layer: batching/retry/DLQ, CQL statements, parquet bulk path,
codec."""

import json
import os
import uuid

import pytest
from pyspark.sql import functions as F

from cql_replicator_spark import codec
from cql_replicator_spark.config import Transformation, WriteConfig
from cql_replicator_spark.sinks.batching import FlushingBatch
from cql_replicator_spark.sinks.cql_sink import (
    CqlWriterConfig, counter_update_statement, delete_statement,
    insert_json_statement, salted_shuffle, write_inserts,
)
from cql_replicator_spark.sinks.dlq import DeadLetterQueue
from cql_replicator_spark.sinks.parquet_sink import (
    hydrate_changes, write_tile_batches,
)


# -- batching ---------------------------------------------------------------

def test_batch_flush_on_count():
    executed = []
    b = FlushingBatch(lambda batch: executed.append(list(batch)),
                      WriteConfig(maxStatementsPerBatch=3))
    for i in range(7):
        b.add(f"stmt-{i}")
    b.close()
    assert [len(x) for x in executed] == [3, 3, 1]


def test_batch_flush_on_bytes():
    executed = []
    b = FlushingBatch(lambda batch: executed.append(list(batch)),
                      WriteConfig(maxStatementsPerBatch=100, maxBatchBytes=25))
    for i in range(5):
        b.add("x" * 10)
    b.close()
    assert [len(x) for x in executed] == [2, 2, 1]


def test_batch_retry_then_success():
    calls = {"n": 0}

    def flaky(batch):
        calls["n"] += 1
        if calls["n"] < 3:
            raise IOError("transient")

    b = FlushingBatch(flaky, WriteConfig(maxRetries=5, backoffMS=0), sleep=lambda s: None)
    b.add("a")
    b.close()
    assert calls["n"] == 3
    assert b.stats.items_ok == 1 and b.stats.retries == 2


def test_batch_per_item_fallback_and_dlq():
    dead = []

    def poison(batch):
        if any("bad" in s for s in batch):
            raise ValueError("poison statement")

    b = FlushingBatch(poison, WriteConfig(maxRetries=2, backoffMS=0),
                      on_dead_letter=lambda item, e: dead.append(item),
                      sleep=lambda s: None)
    for s in ["ok-1", "bad-2", "ok-3"]:
        b.add(s)
    b.close()
    assert dead == ["bad-2"]
    assert b.stats.items_ok == 2 and b.stats.items_failed == 1


# -- DLQ ----------------------------------------------------------------------

def test_dlq_persist_replay_idempotent(tmp_path):
    dlq = DeadLetterQueue(str(tmp_path), "ks", "t")
    dlq.persist(0, "insert", [{"stmt": "INSERT ...", "k": 1}, {"stmt": "INSERT ...", "k": 2}])
    seen = []
    n = dlq.replay(0, "insert", lambda p: seen.append(p["k"]))
    assert n == 2 and sorted(seen) == [1, 2]
    # replay after delete -> nothing left (idempotence belongs to executor)
    assert dlq.replay(0, "insert", lambda p: seen.append(p["k"])) == 0


# -- CQL statements --------------------------------------------------------------

def test_insert_json_statement_full():
    stmt = insert_json_statement("ks.t", {"key": "a'b", "v": 1},
                                 timestamp=123, ttl=60, if_not_exists=True)
    assert stmt.startswith("INSERT INTO ks.t JSON '")
    assert "''" in stmt            # quote escaped
    assert "IF NOT EXISTS" in stmt
    assert "USING TIMESTAMP 123 AND TTL 60" in stmt


def test_counter_update_statement():
    stmt = counter_update_statement("ks.t", {"c": 5}, {"key": ("k1", "text")})
    assert stmt == "UPDATE ks.t SET c = c + 5 WHERE key = 'k1'"


def test_counter_update_statement_drops_null_deltas():
    """A null increment must never render as 'c = c + None' (invalid
    CQL, silently lost); all-null deltas mean no statement at all."""
    stmt = counter_update_statement(
        "ks.t", {"c": None, "d": 2}, {"key": ("k1", "text")})
    assert stmt == "UPDATE ks.t SET d = d + 2 WHERE key = 'k1'"
    assert counter_update_statement(
        "ks.t", {"c": None}, {"key": ("k1", "text")}) is None


def test_delete_statement_plain_and_transformed():
    import hashlib
    plain = delete_statement("ks.t", {"key": ("k1", "text"), "n": (3, "int")})
    assert plain == "DELETE FROM ks.t WHERE key = 'k1' AND n = 3"
    h = delete_statement(
        "ks.t", {"key": ("k1", "text")},
        transforms=[Transformation(column="key", rule="md5", alias="key_h")])
    assert hashlib.md5(b"k1").hexdigest() in h and "key_h =" in h


def test_write_inserts_through_fake_target(spark, tmp_path):
    """End-to-end foreachPartition write into a file-backed fake CQL target."""
    out_dir = str(tmp_path / "target")
    os.makedirs(out_dir)
    df = spark.createDataFrame([(i, f"name-{i}", 1000 + i) for i in range(50)],
                               "pk int, name string, ts long")

    def executor_factory():
        import os as _os
        import uuid as _uuid

        def execute(batch):
            path = os.path.join(out_dir, f"batch-{_os.getpid()}-{_uuid.uuid4().hex[:8]}")
            with open(path, "w") as f:
                for stmt in batch:
                    f.write(stmt + "\n")
        return execute

    cfg = CqlWriterConfig(target="ks.t", write=WriteConfig(maxStatementsPerBatch=10))
    write_inserts(df, cfg, executor_factory, ts_col="ts")
    stmts = []
    for fn in os.listdir(out_dir):
        with open(os.path.join(out_dir, fn)) as f:
            stmts += [line.strip() for line in f if line.strip()]
    assert len(stmts) == 50
    assert all(s.startswith("INSERT INTO ks.t JSON '") for s in stmts)
    assert all("USING TIMESTAMP 10" in s for s in stmts)
    # ts column went to USING TIMESTAMP, not the JSON payload
    doc = json.loads(stmts[0].split("JSON '", 1)[1].rsplit("' USING", 1)[0].replace("''", "'"))
    assert set(doc) == {"pk", "name"}


def test_salted_shuffle_preserves_rows(spark):
    df = spark.range(100).withColumn("k", F.lit("hot"))
    out = salted_shuffle(df, 8)
    assert out.count() == 100 and set(out.columns) == {"id", "k"}


# -- parquet bulk path ------------------------------------------------------------

def test_hydrate_changes_broadcast_plan(tables, spark):
    orders = tables["orders"]
    pks = orders.select("o_orderkey").filter(F.col("o_orderkey") % 9 == 0)
    hydrated = hydrate_changes(orders, pks, ["o_orderkey"])
    plan = hydrated._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan, f"expected broadcast join, got:\n{plan[:500]}"
    assert hydrated.count() == pks.count()


def test_bulk_replicate_to_parquet(tables, spark, tmp_path):
    orders = tables["orders"]
    pks = orders.select("o_orderkey").filter(F.col("o_orderkey") % 9 == 0)
    keys = pks.select(F.lit(0).alias("tile"), F.lit("insert").alias("op"),
                      "o_orderkey")
    hydrated = hydrate_changes(orders, keys, ["o_orderkey"],
                               carry=("tile", "op"))
    n = pks.count()
    write_tile_batches(hydrated, str(tmp_path), "tpch", "orders", {0: 1},
                       {0: {"insert": n}}, unique_by=["o_orderkey"])
    back = spark.read.parquet(
        str(tmp_path / "tpch" / "orders" / "0" / "insert" / "snap-00000001"))
    assert back.count() == n
    assert set(back.columns) == set(orders.columns)


def test_write_tile_batches_one_file_per_tile_op_and_retry_overwrites(
        tables, spark, tmp_path):
    """A cycle's hydrated rows land as one file per (tile, op) under
    {tile}/{op}/snap-{id}, deduplicated by key; writing the same batch
    again (a retried cycle) replaces it instead of nesting in it."""
    import glob
    import os

    orders = tables["orders"]
    keys = (orders.select("o_orderkey")
            .filter(F.col("o_orderkey") % 9 == 0)
            .withColumn("tile", (F.col("o_orderkey") % 2).cast("int"))
            .withColumn("op", F.when(F.col("o_orderkey") % 5 == 0, "insert")
                        .otherwise("update")))
    hydrated = hydrate_changes(orders, keys.unionByName(keys), ["o_orderkey"],
                               carry=("tile", "op"))
    counts: dict[int, dict[str, int]] = {}
    for r in keys.groupBy("tile", "op").count().collect():
        counts.setdefault(r["tile"], {})[r["op"]] = r["count"]
    for _ in range(2):
        write_tile_batches(hydrated, str(tmp_path), "tpch", "orders",
                           {0: 7, 1: 9}, counts, unique_by=["o_orderkey"])
    base = tmp_path / "tpch" / "orders"
    dirs = sorted(os.path.relpath(d, base)
                  for d in glob.glob(str(base / "*" / "*" / "*")))
    assert dirs == ["0/insert/snap-00000007", "0/update/snap-00000007",
                    "1/insert/snap-00000009", "1/update/snap-00000009"]
    for d in dirs:
        assert len(glob.glob(str(base / d / "part-*"))) == 1
        assert not glob.glob(str(base / d / "*" / "*"))  # nothing nested
    back = spark.read.parquet(str(base / "*" / "*" / "*"))
    assert back.count() == keys.count()
    assert set(back.columns) == set(orders.columns)


def test_write_tile_batches_splits_large_batches_by_count(
        tables, spark, tmp_path, monkeypatch):
    """A (tile, op) whose count exceeds ROWS_PER_FILE is written by
    ceil(n / ROWS_PER_FILE) tasks, not one, and still keeps one row per
    key; a (tile, op) below the target stays one file."""
    import glob

    from cql_replicator_spark.sinks import parquet_sink

    saved = {k: spark.conf.get(k) for k in (
        "spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")}
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try:
        orders = tables["orders"]
        keys = (orders.select("o_orderkey")
                .withColumn("tile", (F.col("o_orderkey") % 2).cast("int"))
                .withColumn("op", F.lit("insert")))
        n = {r["tile"]: r["count"]
             for r in keys.groupBy("tile").count().collect()}
        counts = {0: {"insert": n[0]}, 1: {"insert": 10}}  # 1: below target
        monkeypatch.setattr(parquet_sink, "ROWS_PER_FILE", -(-n[0] // 4))
        hydrated = hydrate_changes(orders, keys.unionByName(keys),
                                   ["o_orderkey"], carry=("tile", "op"))
        write_tile_batches(hydrated, str(tmp_path), "tpch", "orders",
                           {0: 1, 1: 1}, counts, unique_by=["o_orderkey"])
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    base = tmp_path / "tpch" / "orders"
    assert 2 <= len(glob.glob(str(base / "0" / "insert" / "snap-*" / "part-*"))) <= 4
    assert len(glob.glob(str(base / "1" / "insert" / "snap-*" / "part-*"))) == 1
    back = spark.read.parquet(str(base / "*" / "insert" / "snap-00000001"))
    assert back.count() == keys.count()
    assert back.select("o_orderkey").distinct().count() == keys.count()


def test_write_tile_batches_sweeps_a_killed_writers_staging(
        tables, spark, tmp_path):
    """A writer killed mid-write leaves its staging dir; the next write
    to that table removes it, and keeps a live writer's."""
    import os
    import subprocess
    import sys

    base = tmp_path / "tpch" / "orders"
    base.mkdir(parents=True)
    dead = subprocess.run(
        [sys.executable, "-c",
         "import os, sys\n"
         "from cql_replicator_spark.staging import new_staging_dir\n"
         "d = new_staging_dir(sys.argv[1]); os.makedirs(d)\n"
         "open(os.path.join(d, 'part-0.parquet'), 'w').close()\n"
         "print(d); os._exit(9)\n", str(base)],
        capture_output=True, text=True,
        env={**os.environ, "PYTHONPATH": os.getcwd()}).stdout.strip()
    assert os.path.isdir(dead)
    from cql_replicator_spark.staging import new_staging_dir
    live = new_staging_dir(str(base))
    os.makedirs(live)

    keys = (tables["orders"].select("o_orderkey").limit(5)
            .select(F.lit(0).alias("tile"), F.lit("delete").alias("op"),
                    "o_orderkey"))
    write_tile_batches(keys, str(tmp_path), "tpch", "orders", {0: 1},
                       {0: {"delete": 5}})
    assert not os.path.exists(dead)
    assert os.path.isdir(live)
    assert sorted(os.listdir(base)) == ["0", os.path.basename(live)]


# -- codec ------------------------------------------------------------------------

def test_codec_roundtrip():
    data = b"payload " * 1000
    blob = codec.compress(data)
    assert len(blob) < len(data)
    assert codec.decompress(blob) == data


# Hand-assembled LZ4 block (K:641-652 LZ4CompressorWithLength wire
# format, docs/keyspaces/README.MD:237-240): for the 28-byte input
# below — one sequence of 10 literals "0123456789" + a length-10 match
# at offset 10 (the repeat), then a final literal-only sequence
# "ABCDEFGH" (last-5-literals / match-starts-12-before-end rules
# respected). Pins the wire layout as a byte-exact fixture even where
# the lz4 package is absent.
_LZ4_DATA = b"0123456789" * 2 + b"ABCDEFGH"
_LZ4_BLOCK = b"\xa6" + b"0123456789" + b"\x0a\x00" + b"\x80" + b"ABCDEFGH"
_LZ4_WIRE = (28).to_bytes(4, "little") + _LZ4_BLOCK  # tag=False layout


def _lz4_block_decompress_ref(src: bytes) -> bytes:
    """Reference LZ4 block decoder (pure Python, spec-direct): token =
    (literal_len << 4) | (match_len - 4), 255-continuation length
    bytes, little-endian 2-byte match offset, byte-at-a-time match copy
    (overlap-correct). Validates the fixture without the lz4 package."""
    out = bytearray()
    i = 0
    while i < len(src):
        token = src[i]
        i += 1
        lit = token >> 4
        if lit == 15:
            while True:
                b = src[i]
                i += 1
                lit += b
                if b != 255:
                    break
        out += src[i:i + lit]
        i += lit
        if i >= len(src):
            break  # final literal-only sequence
        offset = src[i] | (src[i + 1] << 8)
        i += 2
        mlen = (token & 0xF) + 4
        if (token & 0xF) == 15:
            while True:
                b = src[i]
                i += 1
                mlen += b
                if b != 255:
                    break
        for _ in range(mlen):
            out.append(out[-offset])
    return bytes(out)


def test_lz4_wire_format_fixture():
    """The committed fixture IS the layout contract: the reference
    decoder must reproduce the input from the handcrafted block, and
    the length-prefix convention must match codec.compress's framing."""
    assert _lz4_block_decompress_ref(_LZ4_BLOCK) == _LZ4_DATA
    assert _LZ4_WIRE[:4] == (len(_LZ4_DATA)).to_bytes(4, "little")
    # the zlib leg (always present) must use the same 4-byte LE
    # decompressed-length prefix the lz4 leg does
    z = codec.compress(_LZ4_DATA, codec="zlib", tag=False)
    assert z[:4] == _LZ4_WIRE[:4]


def test_lz4_wire_format_against_package():
    """Where the lz4 package exists, the fixture must interoperate both
    directions with codec.py's lz4 leg (byte-layout, not just API)."""
    lz4block = pytest.importorskip("lz4.block")
    # the handcrafted block is a valid lz4 block
    assert lz4block.decompress(_LZ4_BLOCK, uncompressed_size=28) == _LZ4_DATA
    # codec.decompress accepts the handcrafted wire bytes (tagged form)
    assert codec.decompress(b"\x01" + _LZ4_WIRE) == _LZ4_DATA
    # codec.compress output roundtrips through the reference decoder,
    # proving it emits plain block format with the length prefix
    wire = codec.compress(_LZ4_DATA, codec="lz4", tag=False)
    assert int.from_bytes(wire[:4], "little") == len(_LZ4_DATA)
    assert _lz4_block_decompress_ref(wire[4:]) == _LZ4_DATA


# -- opensearch -------------------------------------------------------------

def test_opensearch_bulk_actions_and_ids():
    from cql_replicator_spark.sinks.opensearch_sink import (
        bulk_delete_action, bulk_index_action, doc_id,
    )
    row = {"pk1": 1, "pk2": "a", "val": "x"}
    assert doc_id(row, ["pk1", "pk2"]) == "1:a"
    idx = bulk_index_action("idx", row, ["pk1", "pk2"]).splitlines()
    assert json.loads(idx[0]) == {"index": {"_index": "idx", "_id": "1:a"}}
    assert json.loads(idx[1]) == row
    dele = bulk_delete_action("idx", row, ["pk1", "pk2"])
    assert json.loads(dele) == {"delete": {"_index": "idx", "_id": "1:a"}}


def test_opensearch_writer_retries_errored_items():
    from cql_replicator_spark.sinks.opensearch_sink import OpenSearchBulkWriter

    calls = []

    def transport(payload):
        calls.append(payload)
        # first call: flag every action errored; then succeed
        n = sum(1 for ln in payload.splitlines()
                if '"index"' in ln or '"delete"' in ln)
        if len(calls) == 1:
            return {"errors": True,
                    "items": [{"index": {"status": 500}}] * n}
        return {"errors": False}

    cfg = WriteConfig(maxStatementsPerBatch=10, backoffMS=0)
    w = OpenSearchBulkWriter(transport, "idx", ["pk"], cfg)
    for i in range(3):
        w.index_row({"pk": i, "v": f"v{i}"})
    w.delete_row({"pk": 99})
    w.close()
    assert len(calls) >= 2  # failed bulk retried
    assert w.batch.stats.items_ok == 4
    assert w.batch.stats.items_failed == 0


def test_opensearch_change_set_write(spark):
    from cql_replicator_spark.diff import ChangeSet
    from cql_replicator_spark.sinks.opensearch_sink import (
        write_changes_to_opensearch,
    )
    import tempfile

    ins = spark.createDataFrame([(1, "a"), (2, "b")], ["pk", "v"])
    upd = spark.createDataFrame([(3, "c")], ["pk", "v"])
    dele = spark.createDataFrame([(4, "d")], ["pk", "v"])
    out_dir = tempfile.mkdtemp()

    def transport_factory():
        def transport(payload):
            # executor-side capture via files (foreachPartition runs in
            # worker processes; a list closure would not come back)
            with open(os.path.join(out_dir, f"{os.getpid()}_{id(payload)}.ndjson"),
                      "w") as f:
                f.write(payload)
            return {"errors": False}
        return transport

    write_changes_to_opensearch(
        ChangeSet(inserts=ins, deletes=dele, updates=upd),
        ["pk"], "docs", transport_factory)

    actions = []
    for fn in os.listdir(out_dir):
        with open(os.path.join(out_dir, fn)) as f:
            actions += [json.loads(ln) for ln in f.read().splitlines() if ln]
    index_ids = {a["index"]["_id"] for a in actions if "index" in a}
    delete_ids = {a["delete"]["_id"] for a in actions if "delete" in a}
    assert index_ids == {"1", "2", "3"}
    assert delete_ids == {"4"}


def test_write_inserts_accumulator_counts(spark, tmp_path):
    """Executor-side write counts flow back via Spark accumulators
    (the accumulator half of K:1161-1215's incremental stats)."""
    import glob

    from cql_replicator_spark.sinks.cql_sink import CqlWriterConfig, write_inserts

    df = spark.range(137).select(F.col("id").alias("pk"))
    out_dir = str(tmp_path)

    def executor_factory():
        def execute(statements):
            path = os.path.join(out_dir, f"{os.getpid()}_{uuid.uuid4().hex}.log")
            with open(path, "w") as f:
                f.write("\n".join(statements))
        return execute

    acc_ok = spark.sparkContext.accumulator(0)
    acc_failed = spark.sparkContext.accumulator(0)
    cfg = CqlWriterConfig(target="ks.t", write=WriteConfig())
    write_inserts(df, cfg, executor_factory, acc_ok=acc_ok, acc_failed=acc_failed)
    assert acc_ok.value == 137
    assert acc_failed.value == 0
    written = sum(len(open(p).read().splitlines())
                  for p in glob.glob(os.path.join(out_dir, "*.log")))
    assert written == 137


def test_cql_datasource_batch_write(spark, tmp_path):
    """df.write.format('cql'): the V2 sink emits the same statement text
    as the foreachPartition path, with commit-aggregated counts."""
    import glob
    import json as _json

    from cql_replicator_spark.sinks.datasource import CqlDataSource

    spark.dataSource.register(CqlDataSource)
    df = spark.range(57).selectExpr(
        "id AS pk", "concat('v-', id) AS payload", "id * 10 AS wts")
    out = str(tmp_path / "stmts")
    stats_path = str(tmp_path / "stats.json")
    (df.repartition(3).write.format("cql")
     .option("target", "ks.t").option("path", out)
     .option("ts_col", "wts").option("if_not_exists", "true")
     .option("stats_path", stats_path)
     .mode("append").save())

    stmts = []
    for p in glob.glob(os.path.join(out, "*.log")):
        stmts += [s for s in open(p).read().splitlines() if s]
    assert len(stmts) == 57
    assert all(s.startswith("INSERT INTO ks.t JSON '") for s in stmts)
    assert all("IF NOT EXISTS USING TIMESTAMP " in s for s in stmts)
    one = next(s for s in stmts if '"pk":5,' in s or '"pk": 5' in s)
    assert "USING TIMESTAMP 50" in one
    assert _json.load(open(stats_path)) == {"items_ok": 57, "items_failed": 0}
    # overwrite mode must be rejected (CQL is append-only)
    with pytest.raises(Exception):
        df.write.format("cql").option("target", "ks.t").option(
            "path", out).mode("overwrite").save()


def test_cql_datasource_read_replays_statement_log(spark, tmp_path):
    """spark.read.format('cql'): the reader replays INSERT ... JSON
    statement logs back into rows — one InputPartition per task log
    file, '' unescaping, null preservation, ts_col/ttl_col restored
    from USING clauses, delete statements skipped, and schema
    inference from the first logged row when none is given."""
    from cql_replicator_spark.sinks.datasource import CqlDataSource

    spark.dataSource.register(CqlDataSource)
    df = spark.createDataFrame(
        [(1, "o'hara", 2.5, True, 111), (2, "plain", -1.0, False, 222),
         (3, None, 0.0, True, 333)],
        "id bigint, name string, score double, flag boolean, wt bigint")
    out = str(tmp_path / "log")
    (df.repartition(2).write.format("cql")
     .option("target", "ks.t").option("path", out)
     .option("ts_col", "wt").mode("append").save())
    # a delete statement in the same dir must be skipped on read
    (df.limit(1).selectExpr("id").write.format("cql")
     .option("target", "ks.t").option("path", out)
     .option("op", "delete").mode("append").save())

    ddl = "id bigint, name string, score double, flag boolean, wt bigint"
    back = (spark.read.format("cql").schema(ddl)
            .option("path", out).option("ts_col", "wt").load())
    rows = sorted((r.id, r.name, r.score, r.flag, r.wt)
                  for r in back.collect())
    assert rows == [(1, "o'hara", 2.5, True, 111),
                    (2, "plain", -1.0, False, 222),
                    (3, None, 0.0, True, 333)]
    assert back.rdd.getNumPartitions() >= 2, "one partition per log file"

    inferred = (spark.read.format("cql")
                .option("path", out).option("ts_col", "wt").load())
    assert inferred.count() == 3
    assert dict((f.name, f.dataType.simpleString())
                for f in inferred.schema.fields)["id"] == "bigint"

    with pytest.raises(Exception):
        (spark.read.format("cql")
         .option("path", str(tmp_path / "empty")).load().count())


def test_cql_datasource_stream_read_incremental(spark, tmp_path):
    """spark.readStream.format('cql'): the statement log is a STREAMING
    source with file-granular offsets — each micro-batch consumes
    exactly the log files that appeared since the checkpointed offset,
    restarts resume from the checkpoint (exactly-once), and an idle
    batch (no new files) emits nothing."""
    from cql_replicator_spark.sinks.datasource import CqlDataSource

    spark.dataSource.register(CqlDataSource)
    log, ckpt, out = (str(tmp_path / d) for d in ("log", "ckpt", "out"))
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")],
                               "id bigint, name string")
    (df.repartition(2).write.format("cql").option("target", "ks.t")
     .option("path", log).mode("append").save())
    stream = (spark.readStream.format("cql")
              .schema("id bigint, name string").option("path", log).load())
    assert stream.isStreaming

    def run_once():
        q = (stream.writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    run_once()
    assert sorted(r.id for r in spark.read.parquet(out).collect()) == [1, 2, 3]
    df2 = spark.createDataFrame([(4, "d"), (5, "e")],
                                "id bigint, name string")
    (df2.coalesce(1).write.format("cql").option("target", "ks.t")
     .option("path", log).mode("append").save())
    run_once()   # restart from checkpoint: only the new file is read
    assert sorted(r.id for r in spark.read.parquet(out).collect()) == \
        [1, 2, 3, 4, 5]
    run_once()   # idle batch: no new files, no new rows
    assert spark.read.parquet(out).count() == 5


def test_cql_sink_publishes_log_files_atomically(tmp_path):
    """The stream reader's offsets are file NAMES, so a *.log that
    becomes visible before its content is complete would be planned
    partial and never re-read. The executor must therefore publish
    atomically: no moment where a *.log exists with partial content.
    Pin it by (a) verifying in-flight writes go to a dotted .tmp name
    the readers' globs exclude, and (b) intercepting the rename to
    observe the invariant at publish time."""
    from cql_replicator_spark.sinks.datasource import (
        CqlStatementLogStreamReader, statement_executor)

    out = str(tmp_path / "log")
    execute = statement_executor({"path": out})

    observed = []
    real_replace = os.replace

    def spying_replace(src, dst):
        # at the instant of publish: source is complete, the dir has
        # no visible *.log yet, and the in-flight name is excluded
        # from the readers' *.log glob
        observed.append((os.path.basename(src), os.path.basename(dst),
                         open(src).read(),
                         [n for n in os.listdir(out)
                          if n.endswith(".log")]))
        real_replace(src, dst)

    os.replace = spying_replace
    try:
        execute(["INSERT INTO ks.t JSON '{\"id\":1}'"])
    finally:
        os.replace = real_replace
    (src_name, dst_name, content, visible_at_publish), = observed
    assert src_name.startswith(".") and src_name.endswith(".tmp")
    assert dst_name.endswith(".log") and not dst_name.startswith(".")
    assert content == "INSERT INTO ks.t JSON '{\"id\":1}'\n"
    assert visible_at_publish == []

    # and a straggler .tmp (crashed task) is invisible to the stream
    # reader's offset glob and to the batch reader's partition glob
    open(os.path.join(out, ".task-dead.log.tmp"), "w").write("PARTIAL")

    class _Schema:
        fields = []

    reader = CqlStatementLogStreamReader({"path": out}, _Schema())
    files = reader.latestOffset()["files"]
    assert len(files) == 1 and files[0].endswith(".log")


def test_cql_stream_source_crash_between_batches_exactly_once(tmp_path):
    """Crash-and-resume property for the streaming source, driven at
    the DataSourceStreamReader API level exactly as the engine does:
    plan a batch (latestOffset/partitions/read), 'crash' by discarding
    the reader, append new log files, build a fresh reader and resume
    from the checkpointed offset dict. Every file's rows must be
    delivered exactly once across the resumed timeline, and replaying
    an unacknowledged batch from the same offsets must return the
    identical rows (idempotent redelivery — the ledger-gate contract
    K:1391-1476 the checkpointed offsets stand in for)."""
    from cql_replicator_spark.sinks.datasource import (
        CqlStatementLogStreamReader, statement_executor)

    out = str(tmp_path / "log")
    execute = statement_executor({"path": out})

    class _Schema:
        fields = []

    def new_reader():
        r = CqlStatementLogStreamReader({"path": out}, _Schema())
        r.fields = [("id", "bigint")]
        return r

    def run_batch(reader, start):
        end = reader.latestOffset()
        rows = []
        for part in reader.partitions(start, end):
            if part.path is not None:
                rows += list(reader.read(part))
        return end, rows

    execute(['INSERT INTO ks.t JSON \'{"id":1}\''])
    execute(['INSERT INTO ks.t JSON \'{"id":2}\''])
    r1 = new_reader()
    off1, batch1 = run_batch(r1, r1.initialOffset())
    assert sorted(v for (v,) in batch1) == [1, 2]

    # crash after the checkpoint recorded off1; new files arrive while
    # down; a FRESH reader resumes from the persisted offset
    del r1
    execute(['INSERT INTO ks.t JSON \'{"id":3}\''])
    execute(['INSERT INTO ks.t JSON \'{"id":4}\''])
    r2 = new_reader()
    off2, batch2 = run_batch(r2, json.loads(json.dumps(off1)))
    assert sorted(v for (v,) in batch2) == [3, 4], "no loss, no dup"

    # crash BEFORE batch2's commit: the engine replays the same
    # (start, end) range on restart — redelivery must be identical
    r3 = new_reader()
    replay_rows = []
    for part in r3.partitions(json.loads(json.dumps(off1)),
                              json.loads(json.dumps(off2))):
        if part.path is not None:
            replay_rows += list(r3.read(part))
    assert sorted(replay_rows) == sorted(batch2)

    # idle resume: nothing new, nothing delivered
    off3, batch3 = run_batch(r3, off2)
    assert batch3 == [] and off3 == off2


def test_cql_datasource_delete_types(spark, tmp_path):
    """Delete path renders each PK with its declared CQL type from the
    pk_types option; without it, runtime inference must at least get
    bool (an int subclass) and int right."""
    import glob

    from cql_replicator_spark.sinks.datasource import CqlDataSource

    spark.dataSource.register(CqlDataSource)
    df = spark.createDataFrame(
        [(7, "k-7", True)], "pk LONG, name STRING, flag BOOLEAN")
    out = str(tmp_path / "stmts")
    (df.coalesce(1).write.format("cql")
     .option("target", "ks.t").option("path", out).option("op", "delete")
     .option("pk_types", '{"pk": "bigint", "name": "text", "flag": "boolean"}')
     .mode("append").save())
    stmts = []
    for p in glob.glob(os.path.join(out, "*.log")):
        stmts += [s for s in open(p).read().splitlines() if s]
    assert stmts == ["DELETE FROM ks.t WHERE pk = 7 AND name = 'k-7' "
                     "AND flag = true"]

    out2 = str(tmp_path / "stmts2")
    (df.coalesce(1).write.format("cql")
     .option("target", "ks.t").option("path", out2).option("op", "delete")
     .mode("append").save())
    stmts2 = []
    for p in glob.glob(os.path.join(out2, "*.log")):
        stmts2 += [s for s in open(p).read().splitlines() if s]
    # inferred: bool -> boolean (not 'flag = 1'), int -> bigint, str -> text
    assert stmts2 == ["DELETE FROM ks.t WHERE pk = 7 AND name = 'k-7' "
                      "AND flag = true"]


def test_cql_datasource_stream_write(spark, tmp_path):
    """The same sink as a writeStream target: per-epoch commit files +
    statements for every input row."""
    import glob

    from cql_replicator_spark.sinks.datasource import CqlDataSource

    spark.dataSource.register(CqlDataSource)
    src_dir = str(tmp_path / "in")
    df = spark.range(20).selectExpr("id AS pk", "concat('p', id) AS payload")
    df.coalesce(1).write.parquet(src_dir)
    out = str(tmp_path / "stmts")
    commits = str(tmp_path / "commits")
    q = (spark.readStream.schema(df.schema).parquet(src_dir)
         .writeStream.format("cql")
         .option("target", "ks.t").option("path", out)
         .option("commits_path", commits)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    stmts = []
    for p in glob.glob(os.path.join(out, "*.log")):
        stmts += [s for s in open(p).read().splitlines() if s]
    assert len(stmts) == 20
    epochs = glob.glob(os.path.join(commits, "epoch-*.json"))
    assert epochs and sum(
        json.load(open(p))["items_ok"] for p in epochs) == 20


def test_incremental_flusher_exactly_once_under_races():
    """The already-counted guard: concurrent flush() triggers (poller
    tick / task-end callback / final flush) each write a disjoint delta;
    the sum of deltas equals the final counter exactly (K:1172-1192)."""
    import random
    import threading

    from cql_replicator_spark.sinks.statsflush import IncrementalStatsFlusher

    counter = {"v": 0}
    writes = []
    flusher = IncrementalStatsFlusher(
        lambda: counter["v"],
        lambda delta, total: writes.append((delta, total)))

    def bump_and_flush():
        for _ in range(200):
            counter["v"] += random.randint(1, 3)
            flusher.flush()

    threads = [threading.Thread(target=bump_and_flush) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    final = flusher.stop()
    assert final == counter["v"]
    assert sum(d for d, _ in writes) == counter["v"]   # no loss, no double count
    assert all(d > 0 for d, _ in writes)
    totals = [t for _, t in writes]
    assert totals == sorted(totals)                    # watermark is monotone


def test_incremental_flush_over_multi_stage_write(spark, tmp_path):
    """Accumulator + flusher across TWO successive distributed writes
    (two Spark jobs) under one flusher: incremental deltas appear while
    work runs, and the authoritative final flush matches the exact
    total — the full K:1161-1215 behavior."""
    import time as _t

    from cql_replicator_spark.runner import ReplicationStats, StatsStore
    from cql_replicator_spark.sinks.cql_sink import CqlWriterConfig, write_inserts
    from cql_replicator_spark.sinks.statsflush import IncrementalStatsFlusher

    store = StatsStore(str(tmp_path / "stats"))
    acc = spark.sparkContext.accumulator(0)

    def write_delta(delta, total):
        # delta-only stats object; StatsStore.put read-add-write aggregates
        store.put("ks", "t", ReplicationStats(0, delta, 0, delta, 0, _t.time()))

    def executor_factory():
        def execute(statements):
            _t.sleep(0.05)     # slow sink: poller observes mid-job growth
        return execute

    cfg = CqlWriterConfig(target="ks.t", write=WriteConfig(maxStatementsPerBatch=5))
    flusher = IncrementalStatsFlusher(lambda: acc.value, write_delta)
    flusher.start_polling(interval_s=0.05)
    try:
        for n in (60, 40):     # two jobs, one flusher
            df = spark.range(n).select(F.col("id").alias("pk")).repartition(4)
            write_inserts(df, cfg, executor_factory, acc_ok=acc)
    finally:
        final = flusher.stop()
    assert final == 100
    st = store.get("ks", "t", 0)
    assert st["insertedPrimaryKeys"] == 100   # aggregated deltas == exact total
    assert st["primaryKeys"] == 100


# -- small-file compaction ----------------------------------------------------

def test_compact_parquet_bin_packs_by_bytes(spark, tables, tmp_path):
    """64 splinter files -> ceil(total_bytes/target) files with content
    intact; the output count must come from real on-disk bytes (no
    row-size model), and the no-shuffle default must equal the
    shuffle=True variant in content."""
    from cql_replicator_spark.sinks.parquet_sink import (
        compact_parquet, parquet_dir_stats,
    )

    docs = tables["documents"].select("doc_id", "text")
    frag = str(tmp_path / "frag")
    docs.repartition(64).write.parquet(frag)
    n_in, total = parquet_dir_stats(spark, frag)
    assert n_in == 64

    out = str(tmp_path / "out")
    target = max(1, total // 3)          # expect ~3-4 files
    n_out = compact_parquet(spark, frag, out, target_bytes=target)
    assert n_out == -(-total // target)  # ceil from actual bytes
    n_files, _ = parquet_dir_stats(spark, out)
    assert n_files == n_out < n_in

    back = spark.read.parquet(out)
    assert sorted(tuple(r) for r in back.collect()) \
        == sorted(tuple(r) for r in docs.collect())

    shuf = str(tmp_path / "shuf")
    compact_parquet(spark, frag, shuf, target_bytes=target, shuffle=True)
    assert sorted(tuple(r) for r in spark.read.parquet(shuf).collect()) \
        == sorted(tuple(r) for r in docs.collect())


def test_compact_parquet_guards(spark, tmp_path):
    import pytest as _pytest

    from cql_replicator_spark.sinks.parquet_sink import compact_parquet

    empty = tmp_path / "empty"
    empty.mkdir()
    with _pytest.raises(ValueError, match="no parquet data files"):
        compact_parquet(spark, str(empty), str(tmp_path / "x"))
    with _pytest.raises(ValueError, match="target_bytes"):
        compact_parquet(spark, str(empty), str(tmp_path / "x"), target_bytes=0)


def test_retry_does_not_sleep_after_final_attempt():
    """A batch that exhausts its retries must raise immediately after
    the last attempt — the old loop slept one more backoff (up to
    maxBackoffMS, 64s in production config) before raising, stalling
    the per-item fallback of every ultimately-failed batch."""
    sleeps = []

    def always_fails(items):
        raise RuntimeError("down")

    b = FlushingBatch(always_fails,
                      WriteConfig(maxRetries=4, backoffMS=10),
                      on_dead_letter=lambda item, e: None,
                      sleep=sleeps.append)
    b.add("x")
    b.flush()  # batch fails 4x, then per-item fallback fails 4x -> DLQ
    # 4 attempts = 3 sleeps per retry loop; two loops (batch + item)
    assert len(sleeps) == 6, sleeps
    assert b.stats.retries == 8  # retries stat still counts attempts


def test_stats_flusher_failed_write_is_retried_not_lost():
    """Write-THEN-advance: a write_delta that raises must leave the
    watermark unmoved so the next trigger re-reports the delta —
    advance-then-write silently lost it forever. With an atomic writer
    the retry cannot double-count (success == raise-free)."""
    from cql_replicator_spark.sinks.statsflush import IncrementalStatsFlusher

    counter = {"v": 10}
    written = []
    fail_next = {"on": True}

    def write_delta(delta, total):
        if fail_next["on"]:
            fail_next["on"] = False
            raise OSError("disk hiccup")
        written.append((delta, total))

    f = IncrementalStatsFlusher(lambda: counter["v"], write_delta)
    with pytest.raises(OSError):
        f.flush()
    assert f.last_reported == 0, "watermark advanced past a lost write"
    assert f.flush() == 10  # retry reports the SAME delta
    assert written == [(10, 10)]
    counter["v"] = 17
    assert f.flush() == 7 and written[-1] == (7, 17)


def test_opensearch_doc_id_is_injective():
    """Distinct pk tuples -> distinct _ids (a raw join collides
    ('a:b','c') with ('a','b:c'): one document, cross-row deletes);
    plain ids keep the reference shape, index/delete agree."""
    from cql_replicator_spark.sinks.opensearch_sink import doc_id

    assert doc_id({"a": "a:b", "b": "c"}, ["a", "b"]) != \
        doc_id({"a": "a", "b": "b:c"}, ["a", "b"])
    assert doc_id({"a": "k1", "b": 7}, ["a", "b"]) == "k1:7"


# -- RDD-action sink gate (r14 verdict item 1) ------------------------------
# foreachPartition sinks run as RDD jobs with NO SQL execution, so the
# PLANS.md action audit (tools/explain_audit.py) is blind to a frame
# funneled to one partition before a sink write — exactly the shape the
# r13 (staging writes) and r14 (snapshot writes) audits found one
# layer below the gates' sight line. guard_sink_input closes the layer:
# every RDD-action sink statically audits its input frame's plan.

def _noop_executor_factory():
    def execute(statements):
        pass
    return execute


def test_funneled_frame_to_write_inserts_raises(spark):
    """A deliberately coalesce(1)-funneled data-proportional frame fed
    to write_inserts must fail the gate BEFORE the RDD job runs."""
    from cql_replicator_spark.planaudit import SerialSinkInputError

    df = spark.range(500).select(F.col("id").alias("pk")).coalesce(1)
    cfg = CqlWriterConfig(target="ks.t", write=WriteConfig())
    with pytest.raises(SerialSinkInputError, match="write_inserts"):
        write_inserts(df, cfg, _noop_executor_factory)


def test_repartition1_frame_to_counter_sink_raises(spark):
    """repartition(1) is the Exchange flavor of the same funnel — the
    counter sink's gate must catch it too."""
    from cql_replicator_spark.counters import write_counter_deltas
    from cql_replicator_spark.planaudit import SerialSinkInputError

    deltas = (spark.range(200)
              .select(F.col("id").alias("pk"),
                      F.lit(1).cast("long").alias("c_delta"))
              .repartition(1))
    with pytest.raises(SerialSinkInputError, match="write_counter_deltas"):
        write_counter_deltas(deltas, "ks.t", ["pk"], {"pk": "bigint"},
                             ["c"], _noop_executor_factory)


def test_funneled_frame_to_opensearch_raises(spark):
    from cql_replicator_spark.diff import ChangeSet
    from cql_replicator_spark.planaudit import SerialSinkInputError
    from cql_replicator_spark.sinks.opensearch_sink import (
        write_changes_to_opensearch,
    )

    empty = spark.createDataFrame([], "pk int, v string")
    bad = (spark.range(300)
           .select(F.col("id").alias("pk"),
                   F.col("id").cast("string").alias("v"))
           .coalesce(1))
    with pytest.raises(SerialSinkInputError,
                       match=r"write_changes_to_opensearch\[index\]"):
        write_changes_to_opensearch(
            ChangeSet(inserts=bad, deletes=empty, updates=empty),
            ["pk"], "docs", lambda: (lambda payload: {"errors": False}))


def test_naturally_narrow_frame_passes_sink_gate(spark, tmp_path):
    """The gate is STATIC on plan nodes, not partition counts: a small
    frame that is single-partition by nature (one-file scan, local
    rows) carries no funnel node and must pass — partition count alone
    cannot tell a small input from a funneled one."""
    out_dir = str(tmp_path / "t")
    os.makedirs(out_dir)
    src = str(tmp_path / "one_file")
    (spark.range(10).select(F.col("id").alias("pk"))
     .coalesce(1).write.parquet(src))
    one_file = spark.read.parquet(src)  # 1 partition, no funnel node
    assert one_file.rdd.getNumPartitions() == 1

    def executor_factory():
        def execute(statements):
            path = os.path.join(out_dir, f"{os.getpid()}_{uuid.uuid4().hex}")
            with open(path, "w") as f:
                f.write("\n".join(statements))
        return execute

    cfg = CqlWriterConfig(target="ks.t", write=WriteConfig())
    write_inserts(one_file, cfg, executor_factory)  # must not raise
    n = sum(len(open(os.path.join(out_dir, fn)).read().splitlines())
            for fn in os.listdir(out_dir))
    assert n == 10


def test_size_estimate_complement_catches_giant_single_partition(
        spark, tmp_path):
    """r15 verdict item 5: a frame NATURALLY planned as one partition
    (single-file scan — no funnel node for the static gate to see)
    still serializes the sink write. The residual gate fires on
    1 planned partition + optimizer size estimate >= threshold; a
    repartitioned frame of the same size, and the same frame under the
    default 256 MiB threshold, both pass."""
    from cql_replicator_spark.planaudit import (
        SerialSinkInputError, guard_sink_input,
    )

    src = str(tmp_path / "one_big_file")
    (spark.range(5000).select(F.col("id").alias("pk"))
     .coalesce(1).write.parquet(src))
    one_file = spark.read.parquet(src)
    assert one_file.rdd.getNumPartitions() == 1

    with pytest.raises(SerialSinkInputError, match="ONE partition"):
        guard_sink_input(one_file, "test_site", max_serial_bytes=1024)
    # same bytes, fanned out: the write parallelizes — passes
    guard_sink_input(one_file.repartition(4), "test_site",
                     max_serial_bytes=1024)
    # small frame under the real default threshold: passes (the
    # naturally-narrow small-frame contract is unchanged)
    guard_sink_input(one_file, "test_site")


def test_salting_does_not_launder_an_upstream_funnel(spark):
    """Salting AFTER a coalesce(1) re-fans the write but the scan stage
    still runs as one task — the Coalesce node stays in the plan and
    the gate must keep flagging it (the fix is removing the funnel,
    not appending a shuffle). A wide frame salted normally passes."""
    from cql_replicator_spark.planaudit import (
        formatted_plan, serial_funnel_marks,
    )

    funneled = spark.range(500).select(F.col("id").alias("pk")).coalesce(1)
    still_bad = salted_shuffle(funneled, 8)
    assert any("SINGLE-TASK-COALESCE" in m
               for m in serial_funnel_marks(formatted_plan(still_bad)))

    wide = spark.range(500).select(F.col("id").alias("pk"))
    assert serial_funnel_marks(formatted_plan(salted_shuffle(wide, 8))) == []
