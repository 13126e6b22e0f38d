"""Sink layer: batching/retry, CQL statements, parquet bulk path,
codec."""

import json
import os

import pytest
from pyspark.sql import functions as F

from cql_replicator_spark import codec
from cql_replicator_spark.config import WriteConfig
from cql_replicator_spark.sinks.batching import FlushingBatch
from cql_replicator_spark.sinks.cql_sink import (
    delete_statement, insert_json_statement,
)
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


def test_batch_per_item_fallback_raises_without_dlq():
    """A failed batch falls back to one item at a time; with no
    dead-letter queue the first item that fails on its own raises, after
    the items before it have run."""
    executed = []

    def poison(batch):
        if any("bad" in s for s in batch):
            raise ValueError("poison statement")
        executed.extend(batch)

    b = FlushingBatch(poison, WriteConfig(maxRetries=2, backoffMS=0),
                      sleep=lambda s: None)
    for s in ["ok-1", "bad-2", "ok-3"]:
        b.add(s)
    with pytest.raises(ValueError, match="poison statement"):
        b.close()
    assert executed == ["ok-1"]
    assert b.stats.items_ok == 1 and b.stats.items_failed == 1


# -- CQL statements --------------------------------------------------------------

def test_insert_json_statement_full():
    stmt = insert_json_statement("ks.t", {"key": "a'b", "v": 1},
                                 timestamp=123, ttl=60, if_not_exists=True)
    assert stmt.startswith("INSERT INTO ks.t JSON '")
    assert "''" in stmt            # quote escaped
    assert "IF NOT EXISTS" in stmt
    assert "USING TIMESTAMP 123 AND TTL 60" in stmt


def test_delete_statement_plain_and_transformed():
    plain = delete_statement("ks.t", {"key": ("k1", "text"), "n": (3, "int")})
    assert plain == "DELETE FROM ks.t WHERE key = 'k1' AND n = 3"


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


# -- cql data source ------------------------------------------------------

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
    assert _json.load(open(stats_path)) == {"items_ok": 57}
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
                      sleep=sleeps.append)
    b.add("x")
    with pytest.raises(RuntimeError, match="down"):
        b.flush()  # batch fails 4x, then per-item fallback fails 4x
    # 4 attempts = 3 sleeps per retry loop; two loops (batch + item)
    assert len(sleeps) == 6, sleeps
    assert b.stats.retries == 8  # retries stat still counts attempts
