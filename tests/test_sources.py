"""Cassandra source adapter: option-map / projection builders and the
frame-shaping path, unit-tested without a cluster (SURVEY §2.1 row 1)."""

import pytest
from pyspark.sql import functions as F

from cql_replicator_spark.config import (
    JsonMapping, PointInTime, ReadConfig, Replication,
)
from cql_replicator_spark.sources.cassandra import (
    CASSANDRA_FORMAT, CassandraSource, pk_projection, read_options,
    writetime_expr,
)


def test_read_options_defaults_and_overrides():
    opts = read_options(ReadConfig())
    assert opts == {
        "inferSchema": "true",
        "spark.cassandra.input.split.sizeInMB": "64",
        "spark.cassandra.concurrent.reads": "32",
        "spark.cassandra.input.consistency.level": "LOCAL_ONE",
        "spark.cassandra.input.fetch.sizeInRows": "500",
        "spark.cassandra.query.retry.count": "180",
        "spark.cassandra.read.timeoutMS": "120000",
    }
    tuned = read_options(ReadConfig(splitSizeInMB=256, consistencyLevel="QUORUM"))
    assert tuned["spark.cassandra.input.split.sizeInMB"] == "256"
    assert tuned["spark.cassandra.input.consistency.level"] == "QUORUM"
    # every value is a string (the connector's option channel)
    assert all(isinstance(v, str) for v in tuned.values())


def test_writetime_expr_single_and_greatest():
    assert writetime_expr(["v"]) == "writetime(v) as ts"
    assert (writetime_expr(["a", "b", "c"])
            == "greatest(writetime(a), writetime(b), writetime(c)) as ts")
    with pytest.raises(ValueError):
        writetime_expr([])


def test_pk_projection_variants():
    assert pk_projection(["k"]) == ["k"]
    assert pk_projection(["k"], writetime_cols=["v"]) == ["k", "writetime(v) as ts"]
    # added non-PK filter columns, deduped against the PK
    assert pk_projection(["k"], writetime_cols=["v"],
                         extra_filter_cols=["region", "k"]) == [
        "k", "region", "writetime(v) as ts"]
    # counter tables have no writetime: counters win, no ts expr
    assert pk_projection(["k"], writetime_cols=["v"],
                         counter_cols=["hits"]) == ["k", "hits"]


def test_source_scan_table_prefers_materialized_view():
    src = CassandraSource("ks", "t", ["k"])
    assert src.scan_table == "t"
    src = CassandraSource(
        "ks", "t", ["k"],
        mapping=JsonMapping(replication=Replication(useMaterializedView="t_by_region")))
    assert src.scan_table == "t_by_region"


def test_source_reader_builds_without_connector(spark):
    # format resolution happens at load(); builder wiring must not need the jar
    src = CassandraSource("ks", "t", ["k"], mapping=JsonMapping())
    reader = src.reader(spark)
    assert reader is not None and src.reader_options()[
        "spark.cassandra.input.fetch.sizeInRows"] == "500"
    assert CASSANDRA_FORMAT == "org.apache.spark.sql.cassandra"


def test_project_ts_less_table_gets_zero_ts(spark, tables):
    src = CassandraSource("ks", "orders", ["o_orderkey"])
    out = src.project(tables["orders"])
    assert out.columns == ["o_orderkey", "ts"]
    assert out.filter(F.col("ts") != 0).count() == 0


def test_project_counter_table_hashes_counters(spark, tables):
    src = CassandraSource("ks", "orders", ["o_orderkey"],
                          counter_cols=["o_totalprice"])
    out = src.project(tables["orders"])
    assert out.columns == ["o_orderkey", "o_totalprice", "ts", "counter_hash"]
    expected = tables["orders"].select(
        "o_orderkey", F.xxhash64("o_totalprice").alias("h"))
    joined = out.join(expected, "o_orderkey")
    assert joined.filter(F.col("counter_hash") != F.col("h")).count() == 0


def test_project_point_in_time_predicate(spark, tables):
    # fixture seam: a materialized ts column stands in for writetime()
    with_ts = tables["orders"].withColumn(
        "ts", F.col("o_orderkey").cast("long") * 10)
    pit = int(with_ts.approxQuantile("ts", [0.5], 0.01)[0])
    mapping = JsonMapping(replication=Replication(
        writetimeColumns=["o_totalprice"],
        pointInTime=PointInTime(enabled=True, predicateOp="greaterThan",
                                timestamp=pit)))
    src = CassandraSource("ks", "orders", ["o_orderkey"], mapping=mapping)
    out = src.project(with_ts)
    assert out.columns == ["o_orderkey", "ts"]
    assert out.count() == with_ts.filter(F.col("ts") > pit).count()
    assert out.filter(F.col("ts") <= pit).count() == 0

    mapping.replication.pointInTime.predicateOp = "not-an-op"
    with pytest.raises(ValueError):
        src.project(with_ts)


def test_project_filter_expression_over_extra_cols(spark, tables):
    mapping = JsonMapping(replication=Replication(
        filterExpression="o_orderstatus = 'F'"))
    src = CassandraSource("ks", "orders", ["o_orderkey"], mapping=mapping,
                          extra_filter_cols=["o_orderstatus"])
    out = src.project(tables["orders"])
    assert out.columns == ["o_orderkey", "o_orderstatus", "ts"]
    assert out.count() == tables["orders"].filter("o_orderstatus = 'F'").count()


def test_varint_read_schema_maps_types():
    from pyspark.sql import types as T

    from cql_replicator_spark.sources.varint import varint_read_schema

    schema = varint_read_schema(
        ["k", "big", "writetime(v) as ts", "price"],
        {"k": "int", "big": "varint", "price": "decimal"})
    assert schema["k"].dataType == T.IntegerType()
    assert schema["big"].dataType == T.StringType()       # overflow-safe
    assert schema["ts"].dataType == T.LongType()          # aliased writetime
    assert schema["price"].dataType == T.DecimalType(38, 0)


def test_overflow_safe_varints_rescues_wide_values(spark):
    from cql_replicator_spark.sources.varint import overflow_safe_varints

    wide = "9" * 45          # 45 digits: > DECIMAL(38,0)
    ok = "123456789"
    df = spark.createDataFrame([(1, wide), (2, ok)], ["pk", "v"])
    out = overflow_safe_varints(df, ["v"]).collect()
    by_pk = {r.pk: r for r in out}
    assert by_pk[1].v == wide and not by_pk[1].v_fits and by_pk[1].v_dec is None
    assert by_pk[2].v_fits and str(by_pk[2].v_dec) == ok
    # the lossless string survives a CQL literal render round-trip
    from cql_replicator_spark.types import render_cql_value
    assert render_cql_value(wide, "varint") == wide


def test_source_feeds_cdc_pipeline(spark, tables, tmp_path):
    """The adapter's (pk..., ts) frame drops straight into discovery —
    the source-agnostic contract that makes the engine's core portable."""
    from cql_replicator_spark.ledger import Ledger
    from cql_replicator_spark.runner import CdcPipeline, StatsStore
    from cql_replicator_spark.snapshot import SnapshotStore

    with_ts = tables["orders"].withColumn(
        "ts", F.col("o_orderkey").cast("long"))
    mapping = JsonMapping(replication=Replication(writetimeColumns=["o_totalprice"]))
    src = CassandraSource("ks", "orders", ["o_orderkey"], mapping=mapping)
    pipe = CdcPipeline(
        spark=spark, keyspace="ks", table="orders", pk_cols=["o_orderkey"],
        source=lambda: with_ts, pk_source=lambda: src.project(with_ts),
        store=SnapshotStore(str(tmp_path / "snaps"), "ks", "orders"),
        ledger=Ledger(str(tmp_path / "ledger.json")),
        stats=StatsStore(str(tmp_path / "stats")),
        total_tiles=2)
    assert sorted(pipe.discover()) == [0, 1]
    stats = pipe.replicate()
    assert sum(s.insertedPrimaryKeys for s in stats) == with_ts.count()
