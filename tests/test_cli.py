"""End-to-end CLI tests: the cqlreplicator command surface driving the
full pipeline offline (parquet source -> tiled snapshots -> ledger ->
diff -> bulk parquet target)."""

from __future__ import annotations

import json
import os

import pytest

from cql_replicator_spark.cli import main

SF = "/root/testdata/sf0.001"


def _run(capsys, argv) -> tuple[int, object]:
    code = main(argv)
    out = capsys.readouterr().out.strip().splitlines()
    return code, json.loads(out[-1]) if out else None


def test_cli_full_cycle_and_stats(spark, tmp_path, capsys):
    work, target = str(tmp_path / "work"), str(tmp_path / "target")
    src = f"{SF}/orders.parquet"
    base = ["--workdir", work, "--tiles", "2", "--shuffle-partitions", "4"]
    args = base + ["--source", src, "--pk", "o_orderkey", "--target", target]

    code, out = _run(capsys, ["run", *args, "--cycles", "1"])
    assert code == 0 and out["cycles"] == 1

    # historical load wrote every source row exactly once as inserts
    n_src = spark.read.parquet(src).count()
    written = spark.read.parquet(os.path.join(target, "default", "orders", "*", "insert", "*"))
    assert written.count() == n_src

    code, out = _run(capsys, ["stats", *base])
    assert code == 0
    assert out == [{"table": "orders", "discovered": n_src,
                    "replicated": n_src, "in_sync": True}]

    # second cycle: source unchanged -> no new changes replicated
    code, _ = _run(capsys, ["run", *args, "--cycles", "1"])
    assert code == 0
    code, out = _run(capsys, ["stats", *base])
    assert out[0]["replicated"] == n_src

    # reconcile source against the replicated inserts -> in sync, exit 0
    code, out = _run(capsys, [
        "reconcile-keys", *base, "--source", src,
        "--target", os.path.join(target, "default", "orders", "*", "insert", "*"),
        "--pk", "o_orderkey"])
    assert code == 0 and out["in_sync"] is True
    report = json.load(open(os.path.join(work, "report.json")))
    assert report["status"] == "SUCCEEDED"


def test_cli_stats_skips_tile_gaps_and_nets_deletes(spark, tmp_path, capsys):
    """A tile that never rotated has no manifest entry and no stats
    file — later tiles must still be counted; ``discovered`` is each
    tile's newest snapshot count, and in_sync compares it against NET
    replicated rows (inserted - deleted), not the cumulative counter."""
    import time as _t

    from pyspark.sql import functions as F

    from cql_replicator_spark.runner import ReplicationStats, StatsStore
    from cql_replicator_spark.snapshot import SnapshotStore

    work = str(tmp_path / "work")
    snaps = SnapshotStore(os.path.join(work, "snapshots"), "default", "t")
    keys = spark.range(140).select(F.col("id").alias("pk"))
    # tile 0 never rotated (no entry); tile 1 rotated twice (100 keys,
    # then 90), tile 2 once (40 keys)
    snaps.write_snapshots(keys.filter("pk < 100").withColumn("tile", F.lit(1)),
                          [1])
    snaps.write_snapshots(
        keys.withColumn("tile", F.when(F.col("pk") < 90, 1)
                        .when(F.col("pk") >= 100, 2)), [1, 2])
    store = StatsStore(os.path.join(work, "stats"))
    now = _t.time()
    store.put("default", "t", ReplicationStats(1, 100, 0, 100, 0, now))
    store.put("default", "t", ReplicationStats(1, 10, 0, 0, 10, now))  # 10 deletes
    store.put("default", "t", ReplicationStats(2, 40, 0, 40, 0, now))
    code, out = _run(capsys, ["stats", "--workdir", work, "--tiles", "4"])
    assert code == 0
    assert out == [{"table": "t", "discovered": 130, "replicated": 150,
                    "in_sync": True}]  # net = (100-10) + 40 == 130 discovered


def test_cli_stop_sentinel_halts_loop(spark, tmp_path, capsys):
    work = str(tmp_path / "work")
    base = ["--workdir", work, "--tiles", "2", "--shuffle-partitions", "4"]
    code, out = _run(capsys, ["request-stop", *base])
    assert code == 0 and out["stop_requested"]
    # loop sees the sentinel immediately: zero cycles run
    code, out = _run(capsys, [
        "run", *base, "--source", f"{SF}/orders.parquet",
        "--pk", "o_orderkey", "--cycles", "3"])
    assert code == 0 and out["cycles"] == 0


def test_cli_reconcile_divergent_exits_3(spark, tmp_path, capsys):
    work = str(tmp_path / "work")
    a = str(tmp_path / "a.parquet")
    b = str(tmp_path / "b.parquet")
    df = spark.range(100).withColumnRenamed("id", "pk")
    df.write.parquet(a)
    df.filter("pk % 10 != 0").write.parquet(b)
    code, out = _run(capsys, [
        "reconcile-keys", "--workdir", work, "--tiles", "2",
        "--shuffle-partitions", "4", "--source", a, "--target", b, "--pk", "pk"])
    assert code == 3 and out["in_sync"] is False


def test_cli_replay_dlq(tmp_path, capsys):
    from cql_replicator_spark.sinks.dlq import DeadLetterQueue
    work = str(tmp_path / "work")
    dlq = DeadLetterQueue(os.path.join(work, "dlq"), "default", "orders")
    dlq.persist(0, "insert", [{"stmt": "INSERT ...", "key": "1"}])
    dlq.persist(1, "delete", [{"stmt": "DELETE ...", "key": "2"}])
    code, out = _run(capsys, [
        "replay-dlq", "--workdir", work, "--tiles", "2", "--table", "orders"])
    assert code == 0 and out["replayed"] == 2
    lines = open(out["out"]).read().strip().splitlines()
    assert len(lines) == 2


def test_cli_mapping_drives_pipeline(spark, tmp_path, capsys):
    """A JSON_MAPPING config file controls filter/projection/transforms of
    the replicated rows — the reference's declarative query surface."""
    work, target = str(tmp_path / "work"), str(tmp_path / "target")
    mapping = tmp_path / "mapping.json"
    mapping.write_text(json.dumps({
        "replication": {
            "allColumns": False,
            "columns": ["o_orderstatus"],
            "filterExpression": "o_orderstatus = 'F'",
            "transformations": [
                {"column": "o_orderstatus", "rule": "md5",
                 "alias": "status_md5", "keepSource": True},
            ],
        },
    }))
    code, out = _run(capsys, [
        "run", "--workdir", work, "--tiles", "2", "--shuffle-partitions", "4",
        "--source", f"{SF}/orders.parquet", "--pk", "o_orderkey",
        "--target", target, "--mapping", str(mapping), "--cycles", "1"])
    assert code == 0 and out["cycles"] == 1

    src = spark.read.parquet(f"{SF}/orders.parquet")
    n_f = src.filter("o_orderstatus = 'F'").count()
    written = spark.read.parquet(
        os.path.join(target, "default", "orders", "*", "insert", "*"))
    assert written.count() == n_f
    assert sorted(written.columns) == ["o_orderkey", "o_orderstatus", "status_md5"]
    from pyspark.sql import functions as F
    bad = written.filter(F.md5(F.col("o_orderstatus").cast("string"))
                         != F.col("status_md5")).count()
    assert bad == 0


def test_cli_rejects_invalid_mapping(tmp_path, capsys):
    from cql_replicator_spark.config import ConfigError
    work = str(tmp_path / "work")
    mapping = tmp_path / "bad.json"
    mapping.write_text(json.dumps({
        "replication": {"transformations": [
            {"column": "c", "rule": "not-a-rule"}]},
    }))
    with pytest.raises(ConfigError):
        main(["discover", "--workdir", work, "--tiles", "2",
              "--shuffle-partitions", "4", "--source", f"{SF}/orders.parquet",
              "--pk", "o_orderkey", "--mapping", str(mapping)])


def test_cli_plan_capacity(capsys):
    code, out = _run(capsys, [
        "plan-capacity", "--tiles", "4", "--wcu", "8000",
        "--inc-traffic", "--dpu-price", "0.44"])
    assert code == 0
    assert out == {
        "worker_type": "G.025X",
        "workers_per_tile": 3,
        "ramp_start_offsets_s": [0, 240, 480, 720],
        "total_dpu": 21,
        "hourly_cost": 9.24,
    }


def test_cli_delta_cycle_with_ts(spark, tmp_path, capsys):
    """Full CDC delta through the CLI: mutate the source between cycles;
    the second cycle replicates exactly the insert/update/delete sets."""
    from pyspark.sql import functions as F

    work = str(tmp_path / "work")
    target = str(tmp_path / "target")
    src_dir = str(tmp_path / "src.parquet")
    base = spark.range(100).select(
        F.col("id").alias("pk"), (F.col("id") * 10).alias("ts"),
        F.concat(F.lit("v-"), F.col("id")).alias("payload"))
    base.write.parquet(src_dir)
    args = ["--workdir", work, "--tiles", "2", "--shuffle-partitions", "4",
            "--source", src_dir, "--pk", "pk", "--ts-col", "ts",
            "--table", "t", "--target", target]

    code, _ = _run(capsys, ["run", *args, "--cycles", "1"])
    assert code == 0

    # mutate: delete pk%10==0, update ts for pk%7==0, insert 100..109
    v2 = (base.filter("pk % 10 != 0")
          .withColumn("ts", F.when(F.col("pk") % 7 == 0,
                                   F.col("ts") + 1).otherwise(F.col("ts")))
          .unionByName(spark.range(100, 110).select(
              F.col("id").alias("pk"), (F.col("id") * 10).alias("ts"),
              F.concat(F.lit("v-"), F.col("id")).alias("payload"))))
    v2.write.mode("overwrite").parquet(src_dir)

    code, _ = _run(capsys, ["run", *args, "--cycles", "1"])
    assert code == 0

    inserts = spark.read.parquet(os.path.join(target, "default", "t", "*", "insert", "*"))
    updates = spark.read.parquet(os.path.join(target, "default", "t", "*", "update", "*"))
    deletes = spark.read.parquet(os.path.join(target, "default", "t", "*", "delete", "*"))
    # cycle 1 wrote the historical load (100 inserts); cycle 2 adds 10 new
    assert inserts.count() == 110
    got_updates = {r.pk for r in updates.select("pk").collect()}
    assert got_updates == {k for k in range(100) if k % 7 == 0 and k % 10 != 0}
    got_deletes = {r.pk for r in deletes.select("pk").collect()}
    assert got_deletes == {k for k in range(100) if k % 10 == 0}


def test_cli_compact(spark, tmp_path, capsys):
    """compact bin-packs splinter files and reports in/out counts; the
    compacted data must equal the source exactly."""
    frag = str(tmp_path / "frag")
    out = str(tmp_path / "out")
    docs = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", "o_totalprice")
    docs.repartition(16).write.parquet(frag)

    code, rep = _run(capsys, ["compact", "--source", frag, "--dest", out,
                              "--target-mb", "1"])
    assert code == 0
    assert rep["files_in"] == 16
    assert rep["files_out"] < 16
    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    assert sorted(r.o_orderkey for r in back.collect()) \
        == sorted(r.o_orderkey for r in docs.collect())


def test_cli_query_list_and_run(spark, tmp_path, capsys):
    """query --list enumerates the registry; query --name runs one and
    writes parquet whose values match running the query in-process."""
    from cql_replicator_spark.cli import main
    from cql_replicator_spark.queries import REGISTRY

    assert main(["query", "--list"]) == 0
    listed = capsys.readouterr().out.strip().splitlines()
    assert len(listed) == len(REGISTRY)

    out = str(tmp_path / "q.parquet")
    code, rep = _run(capsys, [
        "query", "--name", "orders_seasonal_dow_index",
        "--sf-dir", SF, "--out", out, "--single-file"])
    assert code == 0 and rep["rows"] == 7
    back = {r["dow"]: r["n_orders"]
            for r in spark.read.parquet(out).collect()}
    want = {r["dow"]: r["n_orders"] for r in
            REGISTRY["orders_seasonal_dow_index"].build(spark, SF).collect()}
    assert back == want


def test_cli_query_unknown_name(capsys):
    from cql_replicator_spark.cli import main
    assert main(["query", "--name", "no_such_query"]) == 2


def test_bench_tail_line_fits_driver_window():
    """The driver captures a 2000-char stdout tail and parses its last
    line as JSON; bench.py's final line must fit even for the
    worst-case registry (every registered query name with a max-width
    timing), or BENCH_rN regresses to 'parsed: null' (r8/r9 did)."""
    import json
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    import bench
    from cql_replicator_spark.queries import REGISTRY, queries

    queries()
    worst = {name: 9999.999 for name in REGISTRY}
    result = {"metric": "headline_queries_total_runtime",
              "value": 99999.999, "unit": "sec", "sf": 0.1,
              "queries": worst,
              "calibration": {"population_drift_factor": 9.9999,
                              "population_normalized_total": 99999.999,
                              "drift_factor": 8.8888,
                              "drift_normalized_total": 88888.888}}
    line = bench.tail_line(result)
    assert len(line) + 1 <= 2000, len(line)  # +1 for the newline
    parsed = json.loads(line)
    assert parsed["n_queries"] == len(REGISTRY)
    assert parsed["value"] == 99999.999
    # both normalizers ride in the tail line: the r12 population-median
    # headline and the r11 frozen-probe diagnostic (whose five
    # calibration queries must stay registered, or the probe dies)
    assert parsed["population_drift_factor"] == 9.9999
    assert parsed["population_normalized_total"] == 99999.999
    assert parsed["probe_drift_factor"] == 8.8888
    assert parsed["probe_normalized_total"] == 88888.888
    for name in bench.CALIBRATION_REF:
        assert name in REGISTRY, name
    assert len(parsed["queries"]) > 10  # still carries real signal
    # most expensive first: the kept set is a prefix of the sorted order
    kept = list(parsed["queries"])
    assert kept == sorted(kept, key=lambda n: -worst[n])[: len(kept)]
