"""Tests of the benchmark's own generator and cycle check.

    python3 -m pytest cdcbench/test_cdcbench.py -q

The generator and cycle-selection tests need no Spark. The check test
runs two real cycles of the CLI-built pipeline on a small table, then
plants one fault at a time in a copy of the resulting state and expects
the check to fail.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from check import StatePaths, Totals, check_cycle  # noqa: E402
from gen import Churn, SourceGenerator, split_churn  # noqa: E402
from tracing import SPAN_PROP, spark_digest  # noqa: E402


def test_generator_versions_have_unique_keys_and_planned_churn(tmp_path):
    n, changes = 20_000, 2_000
    gen = SourceGenerator(n, seed=7)
    assert SourceGenerator(n, seed=7).table().equals(gen.table())
    n_ins, n_upd, n_del = split_churn(changes)
    assert (n_ins, n_upd, n_del) == (400, 1200, 400)
    for _ in range(4):
        before = gen.codes()
        old = {c: v.copy() for c, v in gen.cols.items()}
        churn = gen.advance(changes)
        after = gen.codes()
        assert len(np.unique(after)) == len(after) == n
        assert (len(churn.inserts), len(churn.updates),
                len(churn.deletes)) == (n_ins, n_upd, n_del)
        assert not np.isin(churn.inserts, before).any()
        assert np.isin(churn.inserts, after).all()
        assert np.isin(churn.updates, before).all()
        assert np.isin(churn.updates, after).all()
        assert np.isin(churn.deletes, before).all()
        assert not np.isin(churn.deletes, after).any()
        assert not np.intersect1d(churn.updates, churn.deletes).size
        # an update moves ts forward and changes the payload
        i_old = np.searchsorted(np.sort(before), churn.updates)
        i_new = np.searchsorted(np.sort(after), churn.updates)
        ts_old = old["ts"][np.argsort(before)][i_old]
        ts_new = gen.cols["ts"][np.argsort(after)][i_new]
        assert (ts_new > ts_old).all()
        c_old = old["l_comment"][np.argsort(before)][i_old]
        c_new = gen.cols["l_comment"][np.argsort(after)][i_new]
        assert (c_new != c_old).all()
        ln = gen.cols["l_linenumber"]
        assert ln.min() >= 1 and ln.max() <= 7
    path = str(tmp_path / "src.parquet")
    gen.publish(path)
    t = pq.read_table(path)
    assert t.num_rows == n and not os.path.exists(f"{path}.tmp-{os.getpid()}")


def test_quiet_takes_the_least_stolen_share_of_cycles_in_order():
    from run import quiet
    assert quiet([0.3, 0.0, 0.2, 0.01, 0.4, 0.02]) == [1, 3]
    assert quiet([0.05, 0.04, 0.0, 0.1]) == [1, 2]
    assert quiet([0.5]) == [0]
    assert quiet([]) == []


def test_spark_digest_counts_source_scan_rows_and_untagged_jobs():
    src = "/data/lineitem.parquet"

    def scan(location, acc):
        return {"nodeName": "Scan parquet ", "metadata": {
            "Location": f"InMemoryFileIndex(1 paths)[file:{location}]"},
            "metrics": [{"name": "number of output rows",
                         "accumulatorId": acc},
                        {"name": "scan time", "accumulatorId": acc + 1}],
            "children": []}

    def task(stage, *updates):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Accumulables": [
                    {"ID": i, "Update": str(v)} for i, v in updates]},
                "Task Metrics": {"Executor CPU Time": 2e9}}

    tagged = {SPAN_PROP: "sink|3"}
    events = [
        {"Event": "org.apache.spark.sql.execution.ui."
                  "SparkListenerSQLExecutionStart",
         "sparkPlanInfo": {"nodeName": "Project", "metadata": {},
                           "metrics": [], "children": [
                               scan(src, 10), scan("/w/snapshots/0", 20)]}},
        {"Event": "SparkListenerJobStart", "Submission Time": 5_000,
         "Properties": tagged},
        {"Event": "SparkListenerStageSubmitted", "Properties": tagged,
         "Stage Info": {"Stage ID": 1}},
        task(1, (10, 400), (11, 9), (20, 70)),
        task(1, (10, 200)),
        # untagged: inside the window counts, outside it does not
        {"Event": "SparkListenerJobStart", "Submission Time": 5_500},
        {"Event": "SparkListenerJobStart", "Submission Time": 9_000},
    ]
    per, unattributed = spark_digest(events, {3: (4.0, 6.0)}, src)
    sink = per[3]["sink"]
    assert (sink["jobs"], sink["stages"], sink["tasks"]) == (1, 1, 2)
    assert sink["source_rows"] == 600
    assert sink["task_cpu_s"] == 4.0
    assert unattributed == 1


@pytest.fixture(scope="module")
def spark():
    from cql_replicator_spark.session import get_spark
    s = get_spark("cdcbench-test", master="local[2]", extra_conf={
        "spark.ui.enabled": "false", "spark.sql.shuffle.partitions": "4"})
    yield s
    s.stop()


TILES = 2


def _pipeline(spark, src, state):
    from cql_replicator_spark import cli
    args = argparse.Namespace(
        source=src, table=None, pk="l_orderkey,l_linenumber", ts_col="ts",
        workdir=os.path.join(state, "work"),
        target=os.path.join(state, "target"), tiles=TILES, mapping=None,
        mapping_b64=None)
    return cli._pipeline(spark, args)


def _paths(state):
    return StatePaths(target=os.path.join(state, "target"),
                      ledger=os.path.join(state, "work", "ledger.json"),
                      stats=os.path.join(state, "work", "stats"),
                      keyspace="default", table="lineitem")


def _op_file(state, op):
    """One data file of this cycle's ``op`` output (tile 0)."""
    with open(os.path.join(state, "work", "ledger.json")) as f:
        sid = next(int(r["location"]) for r in json.load(f)
                   if r["tile"] == 0 and r["ver"] == "curr")
    d = os.path.join(state, "target", "default", "lineitem", "0", op,
                     f"snap-{sid:08d}")
    return next(os.path.join(d, f) for f in sorted(os.listdir(d))
                if f.startswith("part-")
                and pq.read_metadata(os.path.join(d, f)).num_rows)


def _drop_first_row(state):
    f = _op_file(state, "update")
    pq.write_table(pq.read_table(f).slice(1), f)


def _stale_payload(state):
    f = _op_file(state, "insert")
    t = pq.read_table(f)
    i = t.schema.get_field_index("l_comment")
    col = t.column(i).to_pylist()
    col[0] = "stale"
    pq.write_table(t.set_column(i, t.schema.field(i), pa.array(col)), f)


def _double_count_stat(state):
    p = os.path.join(state, "work", "stats", "default", "lineitem",
                     "replication-tile-0.json")
    with open(p) as f:
        s = json.load(f)
    s["deletedPrimaryKeys"] += 1
    with open(p, "w") as f:
        json.dump(s, f)


def _unmark_ledger(state):
    p = os.path.join(state, "work", "ledger.json")
    with open(p) as f:
        rows = json.load(f)
    for r in rows:
        if r["tile"] == 1 and r["ver"] == "curr":
            r["load_status"] = ""
    with open(p, "w") as f:
        json.dump(rows, f)


@pytest.mark.parametrize("plant,expect", [
    (_drop_first_row, "update:"),
    (_stale_payload, "l_comment"),
    (_double_count_stat, "stats:"),
    (_unmark_ledger, "ledger:"),
])
def test_check_fails_on_planted_fault(tmp_path, plant, expect, cycle_state):
    state, churn, version, totals = cycle_state
    copy = str(tmp_path / "copy")
    shutil.copytree(state, copy)
    assert check_cycle(_paths(copy), TILES, churn, version, totals).ok
    plant(copy)
    res = check_cycle(_paths(copy), TILES, churn, version, totals)
    assert not res.ok
    assert any(expect in e for e in res.errors), res.errors


@pytest.fixture(scope="module")
def cycle_state(spark, tmp_path_factory):
    """A historical load plus one checked delta cycle on 3,000 rows."""
    root = str(tmp_path_factory.mktemp("cycle"))
    src, state = os.path.join(root, "lineitem.parquet"), os.path.join(root, "s")
    gen = SourceGenerator(3_000, seed=5)
    gen.publish(src)
    pipe = _pipeline(spark, src, state)
    every = gen.codes()
    totals = Totals()
    load = Churn(inserts=every, updates=every[:0], deletes=every[:0])
    for churn in (load, None):
        if churn is None:
            churn = gen.advance(300)
            gen.publish(src)
        pipe.discover()
        pipe.replicate()
        totals.add(churn)
        res = check_cycle(_paths(state), TILES, churn, gen.cols, totals)
        assert res.ok, res.errors
        assert res.rows_written == churn.total
    return state, churn, {c: v.copy() for c, v in gen.cols.items()}, totals
