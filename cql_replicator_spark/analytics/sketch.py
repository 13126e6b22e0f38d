"""Distributed sketch operators (HyperLogLog-style registers).

The register table IS the sketch: (register_id, max_rho) with
register = h mod m and rho = leading-zero rank of the remaining hash
bits. Registers are exact integers built by one groupBy (map-side
partial max, ~m rows shuffled per partition regardless of input size),
mergeable across shards/engines by pairwise max — which is what makes
the operator 100 TB-shaped: a union of per-shard register tables
followed by the same groupBy-max IS the merged sketch. The float
estimate (a harmonic mean of 2^-rho over the m rows) is left to the
consumer, out of the distributed plan, so every distributed row stays
engine-exact (that sum in SQL would be float-summation-order
dependent).

Hash portability: the md5-derived 32-bit hash (analytics.dedup.md5h32)
splits into register bits (low log2(m)) and rho bits (the rest), both
expressible identically in any SQL engine; rho uses the bin()-string
length, which Spark and DuckDB render identically for positive ints.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import md5h32


def hll_registers(
    df: DataFrame,
    value: str | Column,
    m: int = 256,
) -> DataFrame:
    """HLL register table over a column's distinct values:
    (register_id, max_rho), exactly m rows (empty registers included
    with max_rho = 0 so the frame is always merge- and estimate-ready).

    register = h % m; rho = rank of the first 1-bit of w = h // m
    within its (32 - log2(m))-bit field, i.e. width - bitlen(w) + 1,
    computed as length(bin(w)) — identical string semantics in Spark
    and DuckDB (w = 0 => rho = width + 1, the all-zeros convention).
    One groupBy; the register frame is m rows however large the input.
    """
    built = (hll_rho_frame(df, value, m)
             .groupBy("register_id")
             .agg(F.max("rho").alias("max_rho")))
    return hll_fill_registers(built, df.sparkSession, m)


def hll_rho_frame(df: DataFrame, value: str | Column, m: int = 256,
                  keys: list[str] | None = None) -> DataFrame:
    """(keys..., register_id, rho) per input row — the projection shared
    by the batch register build, the grouped build, and the streaming
    max-aggregation (a streaming groupBy-max over this frame IS
    continuous sketch maintenance: complete-mode state holds <= m
    rows). ``keys`` pass through untouched; register/rho assignment is
    key-independent, which is what lets grouped sketches collapse into
    the global one."""
    if m & (m - 1) or m <= 0:
        raise ValueError(f"m must be a power of two, got {m}")
    width = 32 - int(math.log2(m))
    col = F.col(value) if isinstance(value, str) else value
    h = md5h32(col.cast("string"))
    w = (h / m).cast("long")  # h // m: h >= 0 so float-div floor is exact
    rho = F.when(w == 0, F.lit(width + 1)).otherwise(
        F.lit(width) + 1 - F.length(F.bin(w)))
    return df.select(*(keys or []), (h % m).alias("register_id"),
                     rho.alias("rho"))


def hll_fill_registers(built: DataFrame, spark, m: int = 256) -> DataFrame:
    """Densify a sparse (register_id, max_rho) frame to exactly m rows
    (empty registers at 0) so it is always merge- and estimate-ready."""
    all_regs = spark.range(m).select(F.col("id").cast("long").alias("register_id"))
    return (
        all_regs.join(built, "register_id", "left")
        .select("register_id",
                F.coalesce(F.col("max_rho"), F.lit(0).cast("int"))
                 .alias("max_rho"))
    )


def hll_registers_grouped(
    df: DataFrame,
    group: str | list[str],
    value: str | Column,
    m: int = 256,
) -> DataFrame:
    """Per-group HLL register tables: (group..., register_id, max_rho),
    exactly m rows per distinct group value (empty registers at 0).

    The grouped form is what a 100 TB profiling pass actually runs —
    approximate distinct-per-segment (users per event type, tokens per
    language, keys per tile) in ONE groupBy whose map-side partial max
    bounds shuffle traffic at |groups| x m rows per partition,
    regardless of input size. Per-group sketches merge exactly like
    the global one: union + groupBy(group, register_id).max — and a
    group's registers merge INTO the global sketch by dropping the
    group columns, since rho/register assignment is group-independent.
    """
    keys = [group] if isinstance(group, str) else list(group)
    if not keys:
        raise ValueError("hll_registers_grouped needs at least one group column")
    built = (
        hll_rho_frame(df, value, m, keys=keys)
        .groupBy(*keys, "register_id")
        .agg(F.max("rho").alias("max_rho"))
    )
    all_regs = df.sparkSession.range(m).select(
        F.col("id").cast("long").alias("register_id"))
    groups = df.select(*keys).distinct()
    return (
        groups.crossJoin(all_regs)
        .join(built, [*keys, "register_id"], "left")
        .select(*keys, "register_id",
                F.coalesce(F.col("max_rho"), F.lit(0).cast("int"))
                 .alias("max_rho"))
    )


def _md5h32_hi(c: Column) -> Column:
    """Second independent 32-bit hash: md5 hex chars 9-16 as a bigint
    (the first 8 feed md5h32) — one md5 evaluation yields both."""
    return F.conv(F.substring(F.md5(c), 9, 8), 16, 10).cast("long")


def bloom_bits(
    df: DataFrame,
    value: str | Column,
    m: int = 8192,
    k: int = 5,
) -> DataFrame:
    """Bloom-filter build as a distributed bit-set: the distinct
    (bit_position) rows set by k double-hashed probes per value
    (Kirsch-Mitzenmacher: pos_j = (h1 + j*h2) mod m — two 32-bit
    hashes from ONE md5 give k independent-enough positions).

    The bit-position table IS the filter: ≤ m rows however large the
    input, merged across shards by union+distinct (associative,
    idempotent) — the same mergeable-sketch contract as hll_registers.
    Build is one explode (k rows/value) + one distinct shuffle whose
    map-side partial dedup collapses to ≤ m rows per partition."""
    col = F.col(value) if isinstance(value, str) else value
    s = col.cast("string")
    h1, h2 = md5h32(s), _md5h32_hi(s)
    positions = F.array(*[(h1 + F.lit(j) * h2) % m for j in range(k)])
    return (df.select(F.explode(positions).alias("bit_position"))
            .distinct())


def bloom_might_contain(
    bits: DataFrame,
    probes: DataFrame,
    value: str | Column,
    m: int = 8192,
    k: int = 5,
) -> DataFrame:
    """Probe a bloom bit-set: adds ``might_contain`` (true iff all k
    positions are set — no false negatives by construction; false
    positives at the usual bloom rate).

    The probe explodes each value's k positions, left-joins the
    (broadcast-sized, ≤ m rows) bit table, and recounts hits per
    original row — membership = k hits. One broadcast join, one
    groupBy back to the probe key; never moves the bit table."""
    col = F.col(value) if isinstance(value, str) else value
    s = col.cast("string")
    h1, h2 = md5h32(s), _md5h32_hi(s)
    positions = F.array(*[(h1 + F.lit(j) * h2) % m for j in range(k)])
    probe_cols = probes.columns
    exploded = probes.select(*probe_cols, F.explode(positions).alias("bit_position"))
    hits = (
        exploded.join(F.broadcast(bits.withColumn("_set", F.lit(1))),
                      "bit_position", "left")
        .groupBy(*probe_cols)
        .agg(F.sum(F.coalesce(F.col("_set"), F.lit(0))).alias("_hits"))
    )
    return hits.select(*probe_cols,
                       (F.col("_hits") == k).alias("might_contain"))


def cms_counts(
    df: DataFrame,
    value: str | Column,
    w: int = 1024,
    d: int = 4,
) -> DataFrame:
    """Count-Min sketch build as a distributed counter table: (depth,
    pos, cnt) for the d x w grid, where row j increments cell
    (j, (h1 + j*h2) mod w) per input row (Kirsch-Mitzenmacher double
    hashing — one md5 yields every row's position).

    The counter table IS the sketch: <= d*w rows however large the
    input, built by one explode (d rows/value) + one groupBy whose
    map-side partial sum collapses each partition to <= d*w rows
    before the exchange. Merge across shards/engines = union + groupBy
    sum (associative, commutative) — the same mergeable contract as
    hll_registers/bloom_bits, so a 100 TB build is shard-parallel with
    a constant-size shuffle."""
    col = F.col(value) if isinstance(value, str) else value
    s = col.cast("string")
    h1, h2 = md5h32(s), _md5h32_hi(s)
    cells = F.array(*[
        F.struct(F.lit(j).alias("depth"),
                 ((h1 + F.lit(j) * h2) % w).alias("pos"))
        for j in range(d)])
    return (
        df.select(F.explode(cells).alias("c"))
        .groupBy(F.col("c.depth").alias("depth"), F.col("c.pos").alias("pos"))
        .agg(F.count("*").alias("cnt"))
    )


def cms_estimate(
    counts: DataFrame,
    probes: DataFrame,
    value: str | Column,
    w: int = 1024,
    d: int = 4,
) -> DataFrame:
    """Point-frequency estimates: min over the d probed cells per
    value — the CMS guarantee est >= true with overshoot bounded by
    the grid load. The probe explodes to d (depth, pos) keys, joins
    the broadcast counter table (<= d*w rows), and takes one min
    groupBy; absent cells count 0 (value never seen)."""
    col = F.col(value) if isinstance(value, str) else value
    s = col.cast("string")
    h1, h2 = md5h32(s), _md5h32_hi(s)
    cells = F.array(*[
        F.struct(F.lit(j).alias("depth"),
                 ((h1 + F.lit(j) * h2) % w).alias("pos"))
        for j in range(d)])
    return (
        probes.select(col.alias("probe_value"), F.explode(cells).alias("c"))
        .join(F.broadcast(counts),
              (F.col("c.depth") == F.col("depth"))
              & (F.col("c.pos") == F.col("pos")), "left")
        .groupBy("probe_value")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0).cast("long")))
              .alias("est_count"))
    )


# -- histogram quantile sketch ------------------------------------------------------

def quantile_histogram(
    df: DataFrame,
    value: str | Column,
    lo: float,
    hi: float,
    bins: int = 128,
) -> DataFrame:
    """Equi-width histogram sketch of a numeric column: (bin, cnt),
    bin = clamp(floor((v - lo) * bins / (hi - lo)), 0, bins-1).

    The histogram IS the mergeable sketch (merge = union + sum per
    bin, same contract as the count-min sketch): one map-side-combined
    groupBy whose shuffle moves <= bins rows per input partition at any data
    size — the fixed-memory alternative to an exact sort-based
    quantile when 100 TB won't fit a global sort. Bin arithmetic is
    one IEEE multiply/divide + floor, identical across engines.
    Values outside [lo, hi) clamp into the edge bins (the sketch
    stays total), NULLs are dropped."""
    return quantile_histogram_grouped(df, [], value, lo, hi, bins)


def _bin_expr(v: Column, lo: float, hi: float, bins: int) -> Column:
    """clamp(floor((v - lo) * bins / (hi - lo)), 0, bins-1) — the ONE
    definition of the bin arithmetic; global and grouped sketches must
    share it or their merge contract (grouped cells re-summed == the
    global histogram) silently breaks."""
    raw = F.floor((v.cast("double") - F.lit(float(lo)))
                  * F.lit(int(bins)) / F.lit(float(hi) - float(lo)))
    return F.greatest(F.lit(0).cast("long"),
                      F.least(F.lit(int(bins) - 1).cast("long"),
                              raw.cast("long")))


def quantile_histogram_grouped(
    df: DataFrame,
    group: str | list[str],
    value: str | Column,
    lo: float,
    hi: float,
    bins: int = 128,
) -> DataFrame:
    """Per-group equi-width histogram sketches: (group..., bin, cnt),
    same bin arithmetic and merge contract as ``quantile_histogram``.
    The grouped profiling pass (price distribution per status, token
    lengths per language) in ONE map-side-combined groupBy shuffling
    <= |groups| x bins rows per partition; sparse — only occupied
    (group, bin) cells exist, merge = union + per-(group, bin) sum.
    A group's cells collapse into the global sketch by dropping the
    group columns and re-summing (bin assignment is group-free: both
    forms share ``_bin_expr``). ``group=[]`` IS the global sketch
    (quantile_histogram delegates here)."""
    keys = [group] if isinstance(group, str) else list(group)
    v = F.col(value) if isinstance(value, str) else value
    return (df.filter(v.isNotNull())
            .select(*keys, _bin_expr(v, lo, hi, bins).alias("bin"))
            .groupBy(*keys, "bin").agg(F.count("*").alias("cnt")))


def quantile_estimate(
    hist: DataFrame,
    qs: list[float],
    lo: float,
    hi: float,
    bins: int = 128,
) -> DataFrame:
    """Quantile estimates off the histogram sketch: for each q, the
    upper edge of the first bin whose cumulative count reaches
    ceil(q * N) — error bounded by one bin width by construction.

    The cumulative walk runs over the <= ``bins``-row histogram (an
    ordered window over a frame whose size is a constant of the
    sketch, not of the data — the single-partition window is
    deliberate and safe). Rank thresholds are exact integers; the
    only float op is the final edge interpolation, rounded."""
    from pyspark.sql.window import Window

    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select("bin", "cnt", F.sum("cnt").over(w).alias("cum"))
    total = cum.agg(F.max("cum").alias("_n"))
    width = (float(hi) - float(lo)) / int(bins)
    picks = [
        F.min(F.when(F.col("cum") >= F.ceil(F.col("_n") * F.lit(float(q))),
                     F.col("bin"))).alias(f"_b{i}")
        for i, q in enumerate(qs)
    ]
    edges = cum.crossJoin(F.broadcast(total)).agg(*picks)
    rows = [
        F.struct(F.lit(float(q)).alias("q"),
                 F.round(F.lit(float(lo))
                         + (F.col(f"_b{i}") + 1) * F.lit(width), 6)
                  .alias("estimate"))
        for i, q in enumerate(qs)
    ]
    return edges.select(F.explode(F.array(*rows)).alias("r")).select("r.q", "r.estimate")


# -- bloom bitmap as a literal predicate (join runtime-filter) -----------------------

def bloom_bitmap_words(bit_rows, m: int = 8192) -> list[int]:
    """Pack collected bloom bit positions (rows from ``bloom_bits``)
    into m/64 bitmap words — the driver-side artifact a join
    runtime-filter broadcasts. The input is <= m rows by construction
    (the bit-set, never the build side), so collecting it is a
    bounded small side like IVF centroids."""
    words = [0] * ((int(m) + 63) // 64)
    for r in bit_rows:
        pos = int(r["bit_position"] if hasattr(r, "__getitem__") else r)
        words[pos >> 6] |= 1 << (pos & 63)
    # two's-complement into signed 64-bit so each word is a legal
    # BIGINT literal in any engine (bit 63 set would overflow)
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


def _rf_hashes(value: str | Column, m: int) -> tuple[Column, Column]:
    """The runtime-filter hash pair: two seeded xxhash64 mods. Native
    JVM hashing — a runtime filter needs no cross-engine portability
    (the exact join downstream makes the RESULT hash-independent), so
    it skips the md5/conv/string machinery the portable sketches pay
    for oracle parity."""
    col = F.col(value) if isinstance(value, str) else value
    return (F.pmod(F.xxhash64(col, F.lit(1)), m),
            F.pmod(F.xxhash64(col, F.lit(2)), m))


def bloom_rf_build(df: DataFrame, value: str | Column,
                   m: int = 32768, k: int = 5) -> list[int]:
    """Build a bloom runtime filter from the (small) build side:
    returns the packed m/64 bitmap words. The distinct bit-position
    frame is <= m rows by construction, so the collect is a bounded
    small side like IVF centroids — the build side itself never
    leaves the cluster."""
    h1, h2 = _rf_hashes(value, m)
    positions = F.array(*[F.pmod(h1 + F.lit(j) * h2, m) for j in range(k)])
    rows = (df.select(F.explode(positions).alias("bit_position"))
            .distinct().collect())
    return bloom_bitmap_words(rows, m)


def bloom_rf_predicate(value: str | Column, words: list[int],
                       m: int = 32768, k: int = 5) -> Column:
    """Membership predicate against a packed bloom bitmap, fully
    unrolled for whole-stage codegen: the literal word array constant-
    folds to a single ArrayData at plan time, xxhash64 is cheap enough
    to recompute per probe, and the k bit tests sum inside ONE
    expression (an AND chain would be split by FilterExec into
    separate conjuncts). Measured 20x faster than the md5-based
    HOF/join formulations it replaced (0.4s vs 7.8s over 2.4M rows).

    This is the Bloom-join runtime filter: apply to the fact side
    BEFORE the join so the shuffle moves only probable matches; false
    positives only, so the exact join keeps results exact."""
    # ONE array literal node (r16, corrected r17): F.array over m/64
    # individual F.lit nodes built a 512-Literal expression tree that
    # the k probes below reference k times — thousands of nodes for
    # the analyzer/optimizer to fold on EVERY query build. r16 swapped
    # in F.lit(list) claiming a single ArrayData, but in the pinned
    # PySpark 4.1 lit(list) still expands to array(lit(x), ...) — the
    # same per-element tree (only the per-element casts were saved).
    # An int64 ndarray is what actually ships ONE Literal (measured
    # ~1.8x cheaper to analyze at 512 elements); words are two's-
    # complement signed, each a legal long. Runtime semantics
    # identical.
    import numpy as _np
    arr = F.lit(_np.asarray(words, dtype=_np.int64)).cast("array<long>")
    h1, h2 = _rf_hashes(value, m)
    hits = None
    for j in range(k):
        pos = F.pmod(h1 + F.lit(j) * h2, m)
        word = F.element_at(arr, (pos / 64).cast("int") + 1)
        # call_function: the SQL shiftright takes an expression shift
        # amount (the Python F.shiftright wrapper only accepts a
        # literal int)
        hit = F.call_function(
            "shiftright", word, (pos % 64).cast("int")
        ).bitwiseAND(F.lit(1))
        hits = hit if hits is None else (hits + hit)
    return hits == k


# -- Misra-Gries heavy hitters (frequent items with exact recount) -------------------

def mg_partition_candidates(df: DataFrame, value: str | Column,
                            capacity: int = 256) -> DataFrame:
    """Per-partition Misra-Gries summaries: <= ``capacity`` candidate
    rows per partition, streamed over the partition's Arrow batches in
    bounded memory (the whole point — a groupBy over a 100 TB
    high-cardinality column shuffles |distinct| rows; this never holds
    or moves more than ``capacity`` counters per partition).

    Guarantee (Misra & Gries 1982): any item whose LOCAL frequency
    exceeds n_p/(capacity+1) survives the partition's summary. Summing
    over partitions: any item with GLOBAL frequency > n/(capacity+1)
    survives in at least one partition — so the union of per-partition
    candidates is a superset of every global heavy hitter, and an
    exact recount pass over the candidate set (frequent_items) makes
    the final answer provably exact, not approximate.
    """
    col = (F.col(value) if isinstance(value, str) else value).alias("item")
    cap = int(capacity)

    def summarize(batches):
        import pandas as pd
        counters: dict = {}
        for pdf in batches:
            for item in pdf["item"]:
                if item in counters:
                    counters[item] += 1
                elif len(counters) < cap:
                    counters[item] = 1
                else:
                    # decrement-all step, dropping zeroed counters
                    dead = []
                    for k in counters:
                        counters[k] -= 1
                        if counters[k] == 0:
                            dead.append(k)
                    for k in dead:
                        del counters[k]
        if counters:
            yield pd.DataFrame({"item": list(counters.keys()),
                                "lower_bound": list(counters.values())})

    src = df.select(col)
    schema = f"item {src.schema['item'].dataType.simpleString()}, lower_bound long"
    return src.mapInPandas(summarize, schema=schema)


def frequent_items(df: DataFrame, value: str | Column,
                   capacity: int = 256) -> DataFrame:
    """Exact frequent-items via MG candidates + recount: every item with
    frequency > n/(capacity+1), with its EXACT count — equal by
    construction to the plain ``GROUP BY HAVING count*(capacity+1) > n``
    answer, but computed without ever shuffling the full distinct-key
    space: the only groupBy runs on rows surviving the candidate
    semi-join, whose key space is <= capacity * num_partitions.

    Two scans of the input (candidates, recount); at 100 TB both are
    map-heavy and the shuffle is candidate-bounded. The candidate set
    travels as a broadcast semi-join side (bounded rows, never the
    corpus)."""
    col = (F.col(value) if isinstance(value, str) else value).alias("item")
    src = df.select(col)
    candidates = (mg_partition_candidates(src, "item", capacity)
                  .select("item").distinct())
    n_total = src.count()
    exact = (src.join(F.broadcast(candidates), "item", "semi")
             .groupBy("item").agg(F.count("*").alias("freq")))
    threshold = F.lit(int(n_total))
    return (exact.filter(F.col("freq") * (capacity + 1) > threshold)
            .select("item", "freq"))


def cms_inner_product(a: DataFrame, b: DataFrame) -> DataFrame:
    """Join-cardinality estimate from two Count-Min sketches (Cormode &
    Muthukrishnan 2005 §4.2): est(|A ⋈_k B|) = min over depth rows of
    Σ_pos cntA·cntB — an upper bound on Σ_k fA(k)·fB(k), exact when no
    hash collisions land mass in shared cells.

    This is the planner's join-size estimator as sketch algebra: both
    sides' sketches are d×w counter tables (bounded, mergeable,
    shippable), so estimating a 100 TB join costs a ≤ d·w-row join —
    no data moves. Inputs must share (w, d) and the hashed key domain;
    build both with :func:`cms_counts` on the respective join columns.

    Returns one row: (est_join_size BIGINT). Deterministic given the
    two corpora, so an oracle reproduces it from the same md5 grid.
    """
    pa = a.select("depth", "pos", F.col("cnt").alias("cnt_a"))
    pb = b.select("depth", "pos", F.col("cnt").alias("cnt_b"))
    per_depth = (pa.join(pb, ["depth", "pos"])
                 .groupBy("depth")
                 .agg(F.sum(F.col("cnt_a") * F.col("cnt_b")).alias("ip")))
    depths = a.select("depth").distinct()
    return (depths.join(per_depth, "depth", "left")
            .agg(F.min(F.coalesce(F.col("ip"), F.lit(0)))
                 .cast("long").alias("est_join_size")))
