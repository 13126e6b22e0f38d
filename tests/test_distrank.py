"""Distributed global rank / running-sum utility (distrank.py): the
two-pass range-partitioned formulation must be row-for-row identical to
the single-partition window it replaces — ranks, running sums, ties,
descending orders, floats, empty frames, n_ranges far above the row
count. These pins are what lets the registered lanes swap their
partition-less windows for the distributed form with oracles unchanged."""

import pyspark.sql.functions as F
from pyspark.sql.window import Window

from cql_replicator_spark.distrank import global_rank_cumsum


def _reference(df, order, sum_cols, rank_col):
    exprs = [F.col(c).desc() if d else F.col(c).asc() for c, d in order]
    w = Window.orderBy(*exprs)
    out = df.withColumn(rank_col, F.row_number().over(w).cast("long"))
    for out_col, src in (sum_cols or {}).items():
        out = out.withColumn(out_col, F.sum(src).over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    return out


def _assert_same(df, order, sum_cols=None, rank_col="rank", n_ranges=7):
    got = sorted(
        global_rank_cumsum(df, order, sum_cols=sum_cols, rank_col=rank_col,
                           n_ranges=n_ranges).collect(),
        key=lambda r: r[rank_col])
    want = sorted(_reference(df, order, sum_cols, rank_col).collect(),
                  key=lambda r: r[rank_col])
    assert [tuple(sorted(r.asDict().items())) for r in got] == \
        [tuple(sorted(r.asDict().items())) for r in want]


def test_rank_and_cumsum_match_window_reference(spark):
    df = spark.range(500).select(
        (F.col("id") * 37 % 101).alias("k"),
        F.col("id").alias("uid"),
        (F.col("id") % 13 + 1).alias("v"))
    _assert_same(df, [("k", False), ("uid", False)], {"cum_v": "v"})


def test_descending_order_with_heavy_ties(spark):
    # 500 rows over 5 distinct keys: equal keys co-locate in one range
    # partition and the unique tiebreak keeps numbering deterministic
    df = spark.range(500).select(
        (F.col("id") % 5).alias("k"), F.col("id").alias("uid"),
        F.lit(2).cast("long").alias("v"))
    _assert_same(df, [("k", True), ("uid", False)], {"cum_v": "v"})


def test_double_order_key_long_sums(spark):
    df = spark.range(300).select(
        (F.col("id").cast("double") * -0.25).alias("s"),
        F.col("id").alias("uid"),
        (F.col("id") % 7).cast("long").alias("n"))
    _assert_same(df, [("s", False), ("uid", False)], {"cum_n": "n"})


def test_more_ranges_than_rows_and_rank_only(spark):
    df = spark.range(5).select(F.col("id").alias("k"))
    _assert_same(df, [("k", True)], None, rank_col="r", n_ranges=64)


def test_empty_frame(spark):
    df = spark.range(0).select(F.col("id").alias("k"),
                               F.col("id").alias("v"))
    out = global_rank_cumsum(df, [("k", False)], {"cum": "v"})
    assert out.count() == 0
    assert {"k", "v", "rank", "cum"} <= set(out.columns)


def _assert_same_nullsafe(df, order, sum_cols, n_ranges=7):
    """Like _assert_same but tolerant of None in the compared values
    (tuple< between int and None raises in plain sorted())."""
    def canon(rows):
        return sorted(
            (tuple((k, (v is None, v))
                   for k, v in sorted(r.asDict().items()))
             for r in rows), key=repr)
    got = global_rank_cumsum(df, order, sum_cols=sum_cols,
                             n_ranges=n_ranges).collect()
    want = _reference(df, order, sum_cols, "rank").collect()
    assert canon(got) == canon(want)


def test_null_order_keys_match_window_reference(spark):
    """NULL order keys must land where the window puts them (asc =
    nulls first, desc = nulls last — repartitionByRange and
    Window.orderBy share SortOrder semantics), in both directions."""
    df = spark.range(200).select(
        F.when(F.col("id") % 7 == 0, None)
        .otherwise(F.col("id") % 13).alias("k"),
        F.col("id").alias("uid"),
        (F.col("id") % 3 + 1).alias("v"))
    _assert_same_nullsafe(df, [("k", False), ("uid", False)],
                          {"cum": "v"})
    _assert_same_nullsafe(df, [("k", True), ("uid", False)],
                          {"cum": "v"})


def test_null_sum_values_match_window_reference(spark):
    """A running sum over a column WITH nulls is NULL until the first
    non-null value globally, then carries the prior sum through null
    rows. The distributed form must reproduce this exactly — the
    failure mode is a range partition whose LEADING rows are all-null:
    its local running sum is NULL and a naive local+offset addition
    propagates the NULL instead of carrying the offset. Found by this
    test; fixed with a NULL-until-seen offset plus a coalesce of the
    local/offset parts."""
    df = spark.range(200).select(
        (F.col("id") % 13).alias("k"), F.col("id").alias("uid"),
        F.when(F.col("id") % 5 == 0, None)
        .otherwise(F.col("id") % 3 + 1).alias("v"))
    _assert_same_nullsafe(df, [("k", False), ("uid", False)],
                          {"cum": "v"})
    # nulls in BOTH the order key and the summed column
    both = df.withColumn(
        "k", F.when(F.col("uid") % 11 == 0, None).otherwise(F.col("k")))
    _assert_same_nullsafe(both, [("k", False), ("uid", False)],
                          {"cum": "v"})


def test_all_null_sum_column_stays_null(spark):
    """Degenerate direction: summing an all-NULL column gives NULL for
    every row (the window reference does), never 0."""
    df = spark.range(60).select(
        (F.col("id") % 13).alias("k"), F.col("id").alias("uid"),
        F.lit(None).cast("long").alias("v"))
    out = global_rank_cumsum(df, [("k", False), ("uid", False)],
                             {"cum": "v"})
    assert out.filter(F.col("cum").isNotNull()).count() == 0
    assert out.count() == 60


def test_int_source_offsets_survive_int32_overflow(spark):
    """The broadcast prefix offsets must carry the AGGREGATE's widened
    type (int -> long), not the source column's: an IntegerType source
    whose cumulative total passes 2^31 is exactly the large-corpus
    regime the module targets (token_budget_selection sums an int
    n_tokens). With source-typed offsets createDataFrame raised on the
    driver once any partition boundary crossed int32."""
    df = spark.range(120).select(
        F.col("id").alias("uid"),
        F.lit(100_000_000).cast("int").alias("v"))  # total 1.2e10 >> 2^31
    out = global_rank_cumsum(df, [("uid", False)], {"cum": "v"},
                             n_ranges=7)
    top = out.orderBy(F.desc("rank")).first()
    assert top["cum"] == 120 * 100_000_000
    _assert_same(df, [("uid", False)], {"cum": "v"})


def test_decimal_sums_stay_exact(spark):
    """Decimal running sums (the exact-scale path the module contract
    prescribes for money) must match the window reference digit for
    digit, with offsets typed as the widened decimal aggregate."""
    df = spark.range(90).select(
        F.col("id").alias("uid"),
        (F.col("id") * 37 % 101).cast("decimal(18,2)").alias("v"))
    _assert_same(df, [("uid", False)], {"cum": "v"})


def test_default_n_ranges_tracks_shuffle_partitions(spark):
    """With n_ranges omitted the range count must come from the
    session's spark.sql.shuffle.partitions (min 2), not a module
    literal — a literal caps rank-stage parallelism at 100x scale."""
    from cql_replicator_spark.distrank import _default_n_ranges
    df = spark.range(10)
    want = max(2, int(spark.conf.get("spark.sql.shuffle.partitions")))
    assert _default_n_ranges(df) == want
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        assert _default_n_ranges(df) == 5
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _load_explain_audit():
    import importlib.util
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    spec = importlib.util.spec_from_file_location(
        "explain_audit", root / "tools" / "explain_audit.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_plan_has_no_partitionless_window(spark):
    """The whole point: the distrank output's physical plan must contain
    only windows WITH a partition spec (the _pid-local pass). Detection
    uses the same signature tools/explain_audit.py gates every
    registered plan with (a partition-less Window's Arguments line has
    <3 top-level bracket groups)."""
    mod = _load_explain_audit()
    df = spark.range(100).select((F.col("id") % 9).alias("k"),
                                 F.col("id").alias("uid"),
                                 F.lit(1).cast("long").alias("v"))
    out = global_rank_cumsum(df, [("k", False), ("uid", False)],
                             {"cum": "v"})
    emode = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString("formatted")
    plan = out._jdf.queryExecution().explainString(emode)
    assert "Window" in plan, "expected the _pid-partitioned window pass"
    assert mod.global_window_args(plan) == []


def test_detector_flags_partitionless_window(spark):
    """Detector sanity in both directions: a genuinely global window IS
    flagged (guards the gate itself against a rendering change that
    would silently blind it)."""
    mod = _load_explain_audit()
    df = spark.range(10).select(F.col("id").alias("k"))
    bad = df.withColumn("r", F.row_number().over(Window.orderBy("k")))
    emode = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString("formatted")
    plan = bad._jdf.queryExecution().explainString(emode)
    flagged = mod.global_window_args(plan)
    assert len(flagged) == 1 and "row_number" in flagged[0]


def test_explain_audit_normalizes_per_run_tokens():
    """Two regenerations of one tree differ only in expression ids,
    plan ids and pid-suffixed table names; each becomes one placeholder,
    so PLANS.md rewrites byte for byte, while the plan's own names and
    numbers (operator ids, partition counts) stay as they are."""
    mod = _load_explain_audit()
    run1 = ("+- BroadcastHashJoin [o_orderkey#15295L], [l_orderkey#88L], "
            "Inner, BuildRight, false, plan_id=9557")
    run2 = ("+- BroadcastHashJoin [o_orderkey#7L], [l_orderkey#123456L], "
            "Inner, BuildRight, false, plan_id=24346")
    assert mod.normalize_line(run1) == mod.normalize_line(run2) == (
        "+- BroadcastHashJoin [o_orderkey#NL], [l_orderkey#NL], "
        "Inner, BuildRight, false, plan_id=N")
    assert mod.normalize_line("Scan spark_catalog.default.sg_bkt_orders_p2052") \
        == mod.normalize_line("Scan spark_catalog.default.sg_bkt_orders_p30423") \
        == "Scan spark_catalog.default.sg_bkt_orders_pN"
    for stable in ("(12) Exchange [codegen id : 3] hashpartitioning(status_p, 8)",
                   "PushedFilters: [IsNotNull(p_brand), EqualTo(p_brand,Brand#23)]"):
        assert mod.normalize_line(stable) == stable


def _formatted(df):
    emode = df.sparkSession._jvm.org.apache.spark.sql.execution \
        .ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(emode)


def test_exchange_detector_flags_single_partition_shapes(spark):
    """The sibling serial-funnel shape: Exchange SinglePartition (and
    explicit 1-partition partitionings) must be flagged — the kept
    "(N) Exchange" tree line in PLANS.md cannot show it, which is how
    a repartition(1) or un-rewritten global limit would hide from the
    window gate. Both directions, same pattern as the window tests."""
    mod = _load_explain_audit()
    df = spark.range(50).select((F.col("id") % 5).alias("k"))

    # global ordered window -> Exchange SinglePartition upstream
    bad = df.withColumn("r", F.row_number().over(Window.orderBy("k")))
    assert len(mod.single_partition_exchange_args(_formatted(bad))) == 1

    # repartition(1) -> Exchange RoundRobinPartitioning(1)
    one = df.repartition(1).groupBy("k").count()
    assert len(mod.single_partition_exchange_args(_formatted(one))) >= 1

    # explicit 1-partition hash exchange
    hashed = df.repartition(1, "k").groupBy("k").count()
    assert len(mod.single_partition_exchange_args(_formatted(hashed))) >= 1


def test_exchange_detector_flags_nested_expression_partitioning(spark):
    """Regression (r15 ADVICE low): the old fixed-depth regex handled
    ONE level of nested parentheses, so a 1-partition exchange keyed on
    a doubly-nested expression — hashpartitioning(coalesce(cast(k as
    int), 0), 1) — escaped the gate. The bracket-depth scan must flag
    it, and must not flag the same expression at a parallel count."""
    from cql_replicator_spark.planaudit import _partitioning_num_one

    mod = _load_explain_audit()
    df = spark.range(50).select((F.col("id") % 5).alias("k"))
    keyed = F.coalesce(F.col("k").cast("int"), F.lit(0))
    # repartition(1, key) normalizes to SinglePartition; the REAL
    # hashpartitioning(<nested expr>, 1) shape comes from any keyed
    # shuffle planned at shuffle.partitions=1 — a Window partitionBy
    # here (its exchange can't be subsumed downstream)
    bad = df.withColumn(
        "r", F.row_number().over(Window.partitionBy(keyed).orderBy("k")))
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        plan = _formatted(bad)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert "coalesce(cast(" in plan  # the doubly-nested shape is real
    assert ", 1)" in plan            # ... keyed at ONE partition
    assert len(mod.single_partition_exchange_args(plan)) >= 1
    # same nested expression at a parallel count: not flagged (fresh
    # frame — a DataFrame memoizes its planned queryExecution)
    ok = df.withColumn(
        "r", F.row_number().over(Window.partitionBy(keyed).orderBy("k")))
    assert mod.single_partition_exchange_args(_formatted(ok)) == []

    # unit-level, both directions at arbitrary depth
    assert _partitioning_num_one(
        "hashpartitioning(coalesce(cast(x#1 as int), 0), 1)")
    assert _partitioning_num_one(
        "rangepartitioning(nvl(substr(cast(x#1 as string), 1, 2), y#2)"
        " ASC NULLS FIRST, 1)")
    assert _partitioning_num_one("RoundRobinPartitioning(1)")
    assert not _partitioning_num_one(
        "hashpartitioning(coalesce(cast(x#1 as int), 1), 32)")
    assert not _partitioning_num_one("RoundRobinPartitioning(16)")
    assert not _partitioning_num_one("hashpartitioning(x#1, 10)")


def test_exchange_detector_passes_parallel_shapes(spark):
    """Negative direction: ordinary parallel exchanges (hash shuffle for
    a groupBy, multi-partition range exchange for a sort) must NOT be
    flagged, or the gate would drown in false positives."""
    mod = _load_explain_audit()
    df = spark.range(1000).select((F.col("id") % 37).alias("k"),
                                  F.col("id").alias("uid"))
    agg = df.groupBy("k").count()
    assert mod.single_partition_exchange_args(_formatted(agg)) == []
    rng = df.repartitionByRange(8, "k", "uid").withColumn(
        "r", F.row_number().over(Window.partitionBy("k").orderBy("uid")))
    assert mod.single_partition_exchange_args(_formatted(rng)) == []


def test_coalesce_detector_flags_single_task_shapes(spark):
    """coalesce(1) — the NARROWING serial funnel (no Exchange node, so
    the exchange detector is blind to it) — must be flagged in both
    directions; coalesce(k>1) and the bounded keyless-aggregate child
    must not be."""
    mod = _load_explain_audit()
    df = spark.range(200).select((F.col("id") % 5).alias("k"))

    one = df.coalesce(1)
    assert len(mod.single_task_coalesce_args(_formatted(one))) == 1
    several = df.coalesce(4)
    assert mod.single_task_coalesce_args(_formatted(several)) == []
    bounded = df.agg(F.sum("k").alias("s")).coalesce(1)
    assert mod.single_task_coalesce_args(_formatted(bounded)) == []


def test_action_capture_sees_intra_lane_writes(spark, tmp_path):
    """The r13 gate blind spot, closed: an execution triggered INSIDE a
    lane body (a .write action) must be captured from the SQL status
    store and run through the same detectors — a coalesce(1).write of
    a data-proportional frame yields an ACTION-prefixed mark even
    though the returned plan never shows it, and a repartition(k)
    write yields none. Expression ids are normalized so repeated
    executions dedupe to one stable line."""
    mod = _load_explain_audit()
    df = spark.range(500).select((F.col("id") % 9).alias("k"))

    wm = mod.exec_watermark(spark)
    df.coalesce(1).write.parquet(str(tmp_path / "bad"))
    df.repartition(4).write.parquet(str(tmp_path / "good"))
    marks = mod.action_marks(mod.action_plans(spark, wm))
    assert any(m.startswith("ACTION SINGLE-TASK-COALESCE:")
               for m in marks), marks
    assert all("#N" in m or "#" not in m for m in marks), marks
    assert not any("GLOBAL-WINDOW" in m for m in marks)

    wm = mod.exec_watermark(spark)
    df.repartition(4).write.parquet(str(tmp_path / "good2"))
    assert mod.action_marks(mod.action_plans(spark, wm)) == []


def test_exchange_detector_exempts_bounded_funnels(spark):
    """Two single-partition exchanges that are bounded by CONSTRUCTION
    must not be flagged: the global-aggregate funnel (partial agg with
    no keys -> one row per upstream partition) and the GlobalLimit
    pattern (LocalLimit cuts each partition to the literal first).
    Without these exemptions the gate would flag the textbook
    distributed plan for df.agg(...) in ~40 lanes."""
    mod = _load_explain_audit()
    df = spark.range(1000).select((F.col("id") % 37).alias("k"),
                                  F.col("id").alias("uid"))
    tot = df.agg(F.sum("uid").alias("s"), F.count("*").alias("n"))
    plan = _formatted(tot)
    assert "SinglePartition" in plan  # the funnel exists...
    assert mod.single_partition_exchange_args(plan) == []  # ...exempt

    lim = df.limit(7).groupBy("k").count()
    plan = _formatted(lim)
    if "SinglePartition" in plan:  # GlobalLimit pattern planned
        assert mod.single_partition_exchange_args(plan) == []
