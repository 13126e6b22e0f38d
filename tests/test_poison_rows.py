"""Poison-row robustness: one bad row must never crash a corpus job.

Spark 4 defaults to ANSI mode, where x/0 raises ArithmeticException and
kills the whole stage. At 100 TB scale the poison inputs these pin are
routine — a zeroed embedding from a failed encoder, an empty document,
a doc whose every term is corpus-universal (idf 0, zero TF-IDF norm).
The contract fixed in r9 and pinned here:

* cosine of a zero-norm vector is SQL NULL (try_divide), matching
  DuckDB's 1.0/0.0 = NULL — so oracle parity holds;
* NULL ranks LAST under the desc orderings every top-k uses, so poison
  neighbors sort after all real scores (NaN would rank FIRST: Spark
  orders NaN above every double — also why the numpy lanes emit
  nullable Float64, never NaN);
* a `cosine >= threshold` verify filter drops NULL (NaN would pass);
* ivf_build stays total: zero-norm rows assign to the lowest centroid
  id deterministically via the coalesce(-2.0) argmax floor;
* text_metrics on an empty document yields NULL punct_ratio, not a
  crash.
"""

import pytest
from pyspark.sql import functions as F

from cql_replicator_spark.analytics import dedup, similarity, text


@pytest.fixture(scope="module")
def emb(spark):
    # vec 1 and 4 are zero-norm poison; 2/3/5 are real
    return spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0]), (3, [0.9, 0.1, 0.0]),
         (4, [0.0, 0.0, 0.0]), (5, [-1.0, 0.0, 0.0])],
        "vec_id bigint, embedding array<double>")


def _topk_map(rows):
    out = {}
    for r in sorted(rows, key=lambda r: (r.query_id, r.rank)):
        out.setdefault(r.query_id, []).append(r.neighbor_id)
    return out


def test_cosine_zero_norm_is_null_not_crash(spark, emb):
    a = emb.alias("a")
    b = emb.alias("b")
    rows = (a.crossJoin(b)
            .select(F.col("a.vec_id").alias("ia"),
                    F.col("b.vec_id").alias("ib"),
                    similarity.cosine(F.col("a.embedding"),
                                      F.col("b.embedding")).alias("c"))
            .collect())
    zeroes = {1, 4}
    for r in rows:
        if r.ia in zeroes or r.ib in zeroes:
            assert r.c is None, f"({r.ia},{r.ib}) expected NULL, got {r.c}"
        else:
            assert r.c is not None


def test_cosine_topk_ranks_poison_last(spark, emb):
    got = _topk_map(similarity.cosine_topk(emb, emb, k=4).collect())
    # real queries: real neighbors first (by cosine), zero vectors last
    # (NULL cos -> desc nulls last, tie by neighbor_id)
    assert got[2] == [3, 5, 1, 4]
    assert got[5] == [3, 2, 1, 4]
    # zero-norm query: all cos NULL -> deterministic neighbor_id order
    assert got[1] == [2, 3, 4, 5]


def test_cosine_topk_np_matches_column_path_on_poison(spark, emb):
    col_path = _topk_map(similarity.cosine_topk(emb, emb, k=4).collect())
    np_path = _topk_map(similarity.cosine_topk_np(emb, emb, k=4).collect())
    assert np_path == col_path


def test_quantized_cosine_null_fails_threshold_filter(spark, emb):
    pairs = (emb.alias("a").crossJoin(emb.alias("b"))
             .filter(F.col("a.vec_id") < F.col("b.vec_id"))
             .select(F.col("a.vec_id").alias("ia"),
                     F.col("b.vec_id").alias("ib"),
                     similarity.quantized_cosine_np()(
                         F.col("a.embedding"), F.col("b.embedding"))
                     .alias("c")))
    passed = {(r.ia, r.ib) for r in
              pairs.filter(F.col("c") >= 0.5).collect()}
    # only the genuinely-similar real pair passes; nothing involving a
    # zero vector leaks through the gate (a NaN there WOULD pass)
    assert passed == {(2, 3)}


def test_quantized_cosine_np_emits_null_not_nan(spark, emb):
    qc = similarity.quantized_cosine_np()
    rows = (emb.alias("a").crossJoin(emb.alias("b"))
            .select(F.col("a.vec_id").alias("ia"),
                    F.col("b.vec_id").alias("ib"),
                    qc(F.col("a.embedding"), F.col("b.embedding"))
                    .alias("c"))
            .collect())
    import math
    for r in rows:
        if r.ia in (1, 4) or r.ib in (1, 4):
            assert r.c is None
        else:
            assert r.c is not None and not math.isnan(r.c)


def test_ivf_build_total_on_zero_norm(spark, emb):
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 0.0, 0.0])],
        "centroid_id bigint, embedding array<double>")
    got = {r.vec_id: r.centroid_id
           for r in similarity.ivf_build(emb, cents).collect()}
    # every vector assigned; poison rows (and every row vs the poison
    # centroid) floor to -2.0 and tie-break to the LOWEST centroid id
    assert set(got) == {1, 2, 3, 4, 5}
    assert got[1] == 0 and got[4] == 0
    assert got[2] == 0 and got[3] == 0  # genuinely nearest to centroid 0


def test_ivf_search_runs_with_poison_rows(spark, emb):
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
        "centroid_id bigint, embedding array<double>")
    indexed = similarity.ivf_build(emb, cents)
    out = similarity.ivf_search(emb, indexed, cents, k=2, nprobe=2)
    assert out.count() > 0  # no ANSI crash end-to-end


def test_text_metrics_empty_doc(spark):
    docs = spark.createDataFrame(
        [(1, ""), (2, "hello world"), (3, None)],
        "doc_id bigint, text string")
    got = {r.doc_id: r for r in text.text_metrics(docs).collect()}
    assert got[1].n_chars == 0
    assert got[1].punct_ratio is None  # 0/0 -> NULL, not a crash
    assert got[2].n_tokens == 2 and got[2].punct_ratio == 0.0


def test_sparse_cosine_zero_norm_doc_dropped(spark):
    # every term of every doc is corpus-universal: idf = ln(3/3) = 0,
    # all TF-IDF weights 0, all norms 0 — pairs exist but every cosine
    # is 0/0. Must not crash; NULL cosine fails the >= threshold gate.
    docs = spark.createDataFrame(
        [(1, "same words here"), (2, "same words here"),
         (3, "same words here")],
        "id bigint, text string")
    out = text.sparse_cosine_pairs(docs, id_col="id", text_col="text",
                                   min_sim=0.1)
    assert out.count() == 0


@pytest.fixture(scope="module")
def ragged(spark):
    # NULL, empty, wrong-dim, zero — the failed-encoder output mix the
    # r9 poison sweep found crashing every numpy embedding lane
    return spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.9, 0.1, 0.0, 0.0]),
         (3, None), (4, []), (5, [1.0, 2.0]), (6, [0.0, 0.0, 0.0, 0.0]),
         (7, [0.5, 0.5, 0.0, 0.0])],
        "vec_id bigint, embedding array<double>")


def test_ragged_embeddings_excluded_from_lsh(spark, ragged):
    out = similarity.embedding_lsh_candidates(ragged, dim=4)
    ids = {i for r in out.collect() for i in (r.id_a, r.id_b)}
    assert out.count() >= 0            # no np.stack crash
    assert not ids & {3, 4, 5}         # malformed rows never bucket


def test_embedding_lsh_bucket_cap_drops_degenerate_bucket(spark):
    """A degenerate bucket (identical vectors — a default embedding an
    encoder emits on failure) emits |b|^2 pairs in ONE task without the
    cap. With max_bucket_size, the mega-bucket is dropped while normal
    buckets still pair — the same 100 TB guard the minhash variant has."""
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(40)]      # one mega-bucket
    rows += [(100, [0.0, 1.0, 0.5, 0.0]), (101, [0.0, 1.0, 0.5, 0.0])]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    uncapped = similarity.embedding_lsh_candidates(df, dim=4)
    capped = similarity.embedding_lsh_candidates(df, dim=4,
                                                 max_bucket_size=10)
    assert uncapped.count() >= 40 * 39 / 2
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert (100, 101) in got           # normal bucket still pairs
    assert all(a >= 100 for a, _ in got), got  # mega-bucket dropped


def test_ragged_embeddings_excluded_from_kmeans(spark, ragged):
    out = similarity.kmeans_quantized(ragged, k=2, rounds=1)
    got = {r.vec_id for r in out.collect()}
    assert got == {1, 2, 6, 7}         # well-formed rows only, no crash


def test_ragged_embeddings_excluded_from_pq(spark, ragged):
    books = similarity.pq_train(ragged, m=2, k=2, rounds=1)
    coded = similarity.pq_encode(ragged, books)
    got = {r.vec_id for r in coded.collect()}
    assert got == {1, 2, 6, 7}


def test_ragged_embeddings_topk_np_runs(spark, ragged):
    out = similarity.cosine_topk_np(ragged, ragged, k=3)
    rows = out.collect()
    ids = {r.neighbor_id for r in rows} | {r.query_id for r in rows}
    assert not ids & {3, 4, 5}         # malformed rows excluded both sides


def test_ragged_pair_lane_emits_null(spark, ragged):
    qc = similarity.quantized_cosine_np()
    rows = (ragged.alias("a").crossJoin(ragged.alias("b"))
            .select(F.col("a.vec_id").alias("ia"),
                    F.col("b.vec_id").alias("ib"),
                    qc(F.col("a.embedding"), F.col("b.embedding"))
                    .alias("c"))
            .collect())
    # validity is PAIRWISE here (the lane sees two arbitrary columns):
    # NULL/empty/zero-norm on either side, or mismatched lengths -> NULL;
    # vec 5 against itself is two equal-length non-zero vectors and
    # legitimately scores ~1.0
    for r in rows:
        if r.ia in (3, 4, 6) or r.ib in (3, 4, 6):
            assert r.c is None, (r.ia, r.ib, r.c)
        elif (r.ia == 5) != (r.ib == 5):   # 5 against a 4-dim vector
            assert r.c is None, (r.ia, r.ib, r.c)
        else:
            assert r.c is not None, (r.ia, r.ib)


def test_ansi_decimal_poison_price_is_null_not_crash(spark):
    # one corrupt 1e30 price must not kill a TPC-H money aggregate
    from cql_replicator_spark.queries import _DEC
    df = spark.createDataFrame(
        [(1, 100.0), (2, -1e30), (3, None)], "k bigint, price double")
    rows = (df.select("k", F.col("price").try_cast(_DEC).alias("p"))
            .collect())
    got = {r.k: r.p for r in rows}
    assert got[1] is not None and got[2] is None and got[3] is None


def test_null_text_media_lanes_synthesize(spark):
    from cql_replicator_spark.analytics import multimodal as M
    docs = spark.createDataFrame(
        [(1, "hello"), (2, None), (3, "")], "doc_id bigint, text string")
    for fn in (M.synthesize_gif_table, M.synthesize_png_pixel_table,
               M.synthesize_flac_table):
        out = fn(docs)
        assert out.count() == 3        # NULL text -> tlen 0, still encodes


def test_nan_inf_embeddings_never_outrank_real_neighbors(spark):
    """A NaN/Inf component yields a NaN cosine, and Spark orders NaN
    ABOVE every double on desc — so before the nanvl guard, ONE such
    vector ranked FIRST for EVERY query, displacing all real neighbors
    corpus-wide. Pinned: non-finite vectors get NULL cosine and rank
    last; real neighbors keep their ranks."""
    nan, inf = float("nan"), float("inf")
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.9, 0.1, 0.0]), (3, [nan, 0.0, 0.0]),
         (4, [inf, 1.0, 0.0]), (5, [0.8, 0.2, 0.0]),
         (6, [1e300, 1e300, 0.0])],   # finite but dot overflows to inf
        "vec_id bigint, embedding array<double>")
    got = _topk_map(similarity.cosine_topk(emb, emb, k=2).collect())
    # every real query's top-2 are real vectors, never 3/4/6
    for q in (1, 2, 5):
        assert not set(got[q]) & {3, 4, 6}, (q, got[q])
    assert got[1] == [2, 5]

    # the >= threshold verify gate must also drop them
    pairs = (emb.alias("a").crossJoin(emb.alias("b"))
             .filter(F.col("a.vec_id") < F.col("b.vec_id"))
             .select(F.col("a.vec_id").alias("ia"),
                     F.col("b.vec_id").alias("ib"),
                     similarity.cosine(F.col("a.embedding"),
                                       F.col("b.embedding")).alias("c")))
    passed = {(r.ia, r.ib) for r in pairs.filter(F.col("c") >= 0.9).collect()}
    assert not any(3 in p or 4 in p or 6 in p for p in passed)


def _quantized_cosine(va, vb):
    """Cosine over floor(x*1e6) integer-quantized vectors as one
    column expression: the bit-identical reference the numpy lane
    (similarity.quantized_cosine_np) is checked against.

    dot and norms are exact BIGINTs; sqrt/division are single correctly-
    rounded IEEE ops — so the resulting double is bit-identical in any
    engine, making cosine thresholds oracle-safe (a float dot product's
    summation order is not). NULL for vectors outside the quantization
    domain (see similarity._Q_DOMAIN), zero-norm, or NaN — never a
    crash or a NaN."""
    def q(v):
        return F.transform(
            v, lambda x: F.floor(x.cast("double") * 1e6).cast("long"))

    def in_domain(v):
        return F.forall(v, lambda x: ~F.isnan(x.cast("double"))
                        & (F.abs(x.cast("double"))
                           <= F.lit(similarity._Q_DOMAIN)))

    qa, qb = q(va), q(vb)
    zero = F.lit(0).cast("long")
    def total(arr):
        return F.aggregate(arr, zero, lambda a, x: a + x)

    dot = total(F.zip_with(qa, qb, lambda x, y: x * y))
    na = total(F.transform(qa, lambda x: x * x))
    nb = total(F.transform(qb, lambda x: x * x))
    # try_divide + nanvl: NULL (not an ANSI crash, not a NaN) for
    # zero-norm or non-finite inputs, same contract as cosine() — and
    # NULL never passes a `>= threshold` verify filter or outranks a
    # real score, unlike NaN (Spark orders NaN above every double).
    # CASE WHEN keeps the aggregate lazily unevaluated off-domain, so
    # saturated int64 products are never formed.
    return F.when(
        in_domain(va) & in_domain(vb),
        F.nanvl(
            F.try_divide(
                dot.cast("double"),
                F.sqrt(na.cast("double")) * F.sqrt(nb.cast("double"))),
            F.lit(None).cast("double")))


def test_quantized_cosine_magnitude_bombs_null_both_lanes(spark):
    """Runtime floor(double->long) SATURATES at ±2^63-1 (it does not
    raise), so a 1e30-component vector quantized to saturated int64s
    made the dot's multiply raise ARITHMETIC_OVERFLOW under ANSI — one
    poison row killed the verify stage. Pinned: vectors outside the
    quantization domain (|x| <= 20, finite) are NULL in BOTH lanes,
    bit-identical to each other, and in-domain values are unchanged."""
    nan, inf = float("nan"), float("inf")
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.9, 0.1, 0.0, 0.0]),
         (3, [-1e30] * 4), (4, [1e300] * 4), (5, [inf] * 4),
         (6, [nan, 0.0, 0.0, 0.0]), (7, [19.0, 1.0, 0.0, 0.0])],
        "vec_id bigint, embedding array<double>")
    pairs = (emb.alias("a").crossJoin(emb.alias("b"))
             .filter(F.col("a.vec_id") <= F.col("b.vec_id")))
    qcnp = similarity.quantized_cosine_np()
    col = {(r.ia, r.ib): r.c for r in pairs.select(
        F.col("a.vec_id").alias("ia"), F.col("b.vec_id").alias("ib"),
        _quantized_cosine(F.col("a.embedding"),
                          F.col("b.embedding")).alias("c")).collect()}
    npr = {(r.ia, r.ib): r.c for r in pairs.select(
        F.col("a.vec_id").alias("ia"), F.col("b.vec_id").alias("ib"),
        qcnp(F.col("a.embedding"), F.col("b.embedding")).alias("c")).collect()}
    poison = {3, 4, 5, 6}
    for k, v in col.items():
        expect_null = bool(set(k) & poison)
        assert (v is None) == expect_null, (k, v)
        n = npr[k]
        assert (n is None) == (v is None), (k, v, n)
        if v is not None:
            assert abs(v - n) < 1e-12, (k, v, n)
    assert col[(1, 2)] is not None and col[(1, 7)] is not None


def test_codec_decompression_bombs_rejected_without_allocation():
    """The 4-byte length prefix is attacker-controlled up to 4 GiB and
    both codec paths allocated it before any check — the decompression-
    bomb class the r7 GIF LZW hunt caught (41 GB RSS). Pinned: a forged
    prefix beyond the cap raises before allocating; a zlib bomb (tiny
    payload, huge expansion, small declared length) is rejected at the
    capped streaming inflate, never fully inflated."""
    import resource
    import struct
    import zlib

    from cql_replicator_spark.codec import compress, decompress

    for data in (b"", b"x", b"hello" * 1000):
        assert decompress(compress(data, codec="zlib")) == data

    forged = bytearray(compress(b"x" * 100, codec="zlib"))
    struct.pack_into("<I", forged, 1, 2**31)
    bomb = b"\x02" + struct.pack("<I", 100) + zlib.compress(
        b"\x00" * (64 * 1024 * 1024))
    # baseline AFTER constructing the bomb: measure decompress, not the
    # test's own 64 MB plaintext buffer
    before = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    with pytest.raises(ValueError, match="exceeds max_output"):
        decompress(bytes(forged))
    with pytest.raises(ValueError, match="length prefix mismatch"):
        decompress(bomb)
    grown = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss - before
    assert grown < 50_000, f"bomb handling grew RSS by {grown} KB"

    with pytest.raises(ValueError):
        decompress(compress(b"y" * 10000, codec="zlib")[:-10])  # truncated

    # Forged length-0 prefix: max_length=0 means UNLIMITED to zlib, so
    # the length cap used to be a no-op on exactly this value and the
    # whole bomb inflated before the mismatch check (measured ~24 MB
    # peak for a 10 MB bomb). Pinned: length 0 inflates at most 1 byte.
    zero_bomb = bytearray(bomb)
    struct.pack_into("<I", zero_bomb, 1, 0)
    before = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    with pytest.raises(ValueError, match="length prefix mismatch"):
        decompress(bytes(zero_bomb))
    grown = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss - before
    assert grown < 10_000, f"length-0 bomb grew RSS by {grown} KB"
    # the legitimate empty payload (compress(b'') emits length 0) still
    # round-trips — covered by the b"" case above, re-pinned explicitly
    assert decompress(compress(b"", codec="zlib")) == b""


def test_codec_lz4_empty_payload_roundtrip():
    """r10 advisor: the length-0 bomb fix (inflate against a 1-byte
    buffer, require 0 produced) broke the LEGITIMATE empty lz4 payload —
    python-lz4's block binding raises on any size mismatch, so the
    canonical empty block (0 bytes produced vs 1 expected) raised too.
    The regression was latent because only zlib runs in CI. Pinned:
    the canonical empty LZ4 block (single 0x00 end token per the block
    format) decodes to b'' WITHOUT the binding; a forged length-0
    prefix over a real lz4 payload still raises; and, when lz4 is
    installed, compress(b'', codec='lz4') round-trips."""
    import struct

    from cql_replicator_spark import codec as codec_mod
    from cql_replicator_spark.codec import compress, decompress

    # binding-free decode of the canonical empty block
    empty_blob = b"\x01" + struct.pack("<I", 0) + b"\x00"
    assert decompress(empty_blob) == b""
    # forged length-0 prefix over a non-empty block still rejected
    with pytest.raises(ValueError, match="length prefix mismatch"):
        decompress(b"\x01" + struct.pack("<I", 0) + b"\x10hello-not-empty")

    if codec_mod._lz4block is not None:  # pragma: no cover - env-dep
        assert compress(b"", codec="lz4") == empty_blob
        assert decompress(compress(b"", codec="lz4")) == b""
        for data in (b"x", b"hello" * 1000):
            assert decompress(compress(data, codec="lz4")) == data


def test_edge_docs_run_clean_through_dedup(spark):
    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "a"), (4, None), (5, "x y z x y z")],
        "doc_id bigint, text string")
    assert dedup.minhash_lsh_dedup_pairs(docs).count() >= 0
    assert dedup.simhash_hamming_pairs(docs).count() >= 0
    assert dedup.ngram_jaccard_pairs(docs, n=3).count() >= 0


def _tools_import(name):
    import importlib.util
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    spec = importlib.util.spec_from_file_location(
        name, root / "tools" / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_agg_pushdown_guard_sees_nested_files(spark, tmp_path):
    """Regression (r15 ADVICE low): the footer guard globbed only
    top-level *.parquet, so a partitioned/nested orders dataset yielded
    files == [] — and all([]) is True, re-enabling pushdown with ZERO
    files checked, the exact stats-less-file execution crash the guard
    was added for. The recursive glob must find the nested stats-less
    file, disable pushdown, and the lane must return the plain result."""
    import os

    import pyarrow.parquet as pq

    from cql_replicator_spark.queries import REGISTRY, queries

    queries()
    src = pq.read_table("/root/testdata/sf0.001/orders.parquet")
    root = tmp_path / "sf" / "orders.parquet"
    os.makedirs(root / "extra=1")
    os.makedirs(root / "extra=2")
    pq.write_table(src, root / "extra=1" / "part-0.parquet")
    # the poison shape: a zero-row (stats-less) nested part file
    pq.write_table(src.schema.empty_table(),
                   root / "extra=2" / "part-0.parquet")

    df = REGISTRY["parquet_agg_pushdown"].build(spark, str(tmp_path / "sf"))
    row = df.collect()[0]  # with the bug: 'No min/max found' at exec
    assert row.n_rows == src.num_rows
    keys = src.column("o_orderkey").to_pylist()
    assert (row.min_key, row.max_key) == (min(keys), max(keys))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedAggregation" not in plan  # guard chose the fallback


def test_forced_count_defeats_projection_pruning(spark):
    """The r15 sweep blind spot, pinned: .count() lets Catalyst prune a
    crashing projection (the lane 'passes' without its expressions ever
    running), while sweeplib.forced_count evaluates the full row and
    surfaces the crash. Built from the exact shape that hid four
    executor crashers for six rounds: an ANSI-overflowing cast in the
    output projection."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    sweeplib = _tools_import("sweeplib")
    df = spark.createDataFrame([(1.0,), (-1e32,)], "v double")
    bad = df.select((F.col("v") * 1000).cast("long").alias("q"))
    assert bad.count() == 2  # pruned: the cast never runs
    with _pytest.raises(Exception, match="CAST_OVERFLOW|ARITHMETIC"):
        sweeplib.forced_count(bad)
    ok = df.select((F.col("v") * 1000).try_cast("long").alias("q"))
    assert sweeplib.forced_count(ok) == 2


def test_forced_count_fallback_is_gated_not_silent(spark):
    """r15 verdict item 3, pinned: a count() fallback in the sweeps is
    WEAKER evidence (count green-lit four executor crashers for six
    rounds), so it must be collected and gated, not printed-and-
    forgotten. No runnable Spark 4.1 output type actually defeats the
    to_json probe (TIME fails analysis before count() would even run),
    so the fallback is defensive — pinned here via a stub frame whose
    agg raises AnalysisException while count succeeds, exactly the
    probe-unsupported shape:

    * forced_count records the lane name into the fallbacks list and
      returns the count() answer;
    * check_fallbacks reports it (whitelist is EMPTY by design — any
      entry needs a per-lane argument that count() suffices);
    * both sweep tools wire the gate into their exit status.
    """
    from pyspark.errors import AnalysisException

    sweeplib = _tools_import("sweeplib")

    class _ProbeUnsupportedFrame:
        columns = ["c"]

        def agg(self, *a, **k):
            raise AnalysisException(
                "[DATATYPE_MISMATCH.CANNOT_CONVERT_TO_JSON] stub")

        def count(self):
            return 7

    fallbacks = []
    n = sweeplib.forced_count(_ProbeUnsupportedFrame(),
                              name="stub_lane", fallbacks=fallbacks)
    assert n == 7 and fallbacks == ["stub_lane"]
    assert sweeplib.check_fallbacks(fallbacks) == ["stub_lane"]
    assert sweeplib.FORCED_COUNT_FALLBACK_WHITELIST == frozenset()
    # …and a NON-analysis execution error must re-raise, never fall back
    class _ExecCrashFrame(_ProbeUnsupportedFrame):
        def agg(self, *a, **k):
            raise RuntimeError("executor crash")

    with pytest.raises(RuntimeError):
        sweeplib.forced_count(_ExecCrashFrame(), name="x", fallbacks=[])

    # both sweeps collect fallbacks and fail on non-whitelisted ones
    import pathlib
    tools = pathlib.Path(__file__).resolve().parent.parent / "tools"
    for tool in ("poison_sweep.py", "empty_sweep.py"):
        src = (tools / tool).read_text()
        assert "check_fallbacks" in src, tool
        assert "fallbacks=fallbacks" in src, tool
        assert "or offending else 0" in src, tool


def test_poison_expectations_table_is_minimal(spark):
    """ORACLES.md end state, pinned: every oracle-checked lane passes
    the full value comparison on the poison fixture EXCEPT the single
    documented divergence. The expectations table is shrink-only —
    growing it is a conscious, reviewed act (this assertion), and
    tools/poison_oracle_sweep.py fails on undecided AND stale rows."""
    from cql_replicator_spark.queries import REGISTRY, queries

    queries()
    pe = _tools_import("poison_expectations")
    assert set(pe.EXPECTATIONS) == {"multimodal_resize"}
    for name, (cls, reason) in pe.EXPECTATIONS.items():
        assert name in REGISTRY, name
        assert cls == "divergence" and len(reason) > 40, name


def test_resize_divergence_is_exactly_the_documented_shape(spark, tmp_path):
    """The one documented poison divergence, verified at its edges:
    multimodal_resize vs its oracle on the poison fixture differ ONLY
    on content_md5, ONLY for documents whose byte-cycled 30-byte
    truncation splits a multibyte character. The NULL-payload and
    empty-payload edges (n_bytes/md5 guards, md5-of-30-NUL-bytes
    constant) must match — if any other row or column diverges, the
    expectations entry no longer describes reality."""
    import duckdb

    from cql_replicator_spark.queries import REGISTRY, queries

    queries()
    ps = _tools_import("poison_sweep")
    d = str(tmp_path / "poison")
    ps.build_poison_dir("/root/testdata/sf0.001", d)

    df = REGISTRY["multimodal_resize"].build(spark, d)
    srows = {r["id"]: r.asDict() for r in df.collect()}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{d}/documents.parquet')")
    res = con.execute(REGISTRY["multimodal_resize"].oracle)
    cols = [c[0] for c in res.description]
    orows = {r[cols.index("id")]: dict(zip(cols, r)) for r in res.fetchall()}

    assert set(srows) == set(orows)
    diverged = []
    for i in sorted(srows):
        diff = {c for c in cols if srows[i][c] != orows[i][c]}
        if diff:
            assert diff == {"content_md5"}, (i, diff)
            diverged.append(i)
    # every diverged doc is multibyte (chars != utf-8 bytes); the
    # poison fixture plants exactly one
    texts = dict(con.execute(
        "SELECT doc_id, text FROM documents").fetchall())
    assert diverged, "divergence vanished — remove the expectations entry"
    for i in diverged:
        assert len(texts[i]) != len(texts[i].encode("utf-8")), i


def test_hardened_oracles_match_on_poison_representatives(spark, tmp_path):
    """One lane per r16 oracle-mirroring idiom (ORACLES.md), compared
    value-for-value against DuckDB ON THE POISON FIXTURE — the pin
    that keeps each idiom from silently regressing without waiting for
    the full sweep: TRY_CAST decimals (q1), NULLS FIRST windows
    (orders_moving_avg), batch-validated vector guards (cosine top-k),
    saturating floor->long (embedding_quantize), streaming watermark
    boundary (dedup_events_stream), NULL-text synthesizer guards
    (multimodal_wav_pcm_decode)."""
    import sys
    from pathlib import Path

    import duckdb

    from cql_replicator_spark.queries import REGISTRY, queries

    queries()
    ps = _tools_import("poison_sweep")
    d = str(tmp_path / "poison")
    ps.build_poison_dir("/root/testdata/sf0.001", d)

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    import correctness_check as cc

    con = duckdb.connect()
    for t in cc.TABLES:
        p = Path(d) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * "
                        f"FROM read_parquet('{p}')")
    lanes = ["q1_pricing_summary", "orders_moving_avg",
             "similarity_cosine_topk", "embedding_quantize",
             "dedup_events_stream", "multimodal_wav_pcm_decode"]
    for lane in lanes:
        df = REGISTRY[lane].build(spark, d)
        srows = [tuple(r) for r in df.collect()]
        res = con.execute(REGISTRY[lane].oracle)
        dcols = [c[0] for c in res.description]
        problems = cc.compare(lane, srows, df.columns,
                              res.fetchall(), dcols)
        assert not problems, (lane, problems[:3])


def test_unicode_storm_source_roundtrips_match_oracle(spark, tmp_path):
    """The r16 unicode-storm class, pinned at its sharpest edge: the
    three structured-source round-trips must value-match the oracle on
    a corpus with embedded newlines/CR, quote storms, emoji ZWJ,
    astral-plane chars, RTL and dense CJK. Regression guard for the
    sweep's real find — Spark's CSV reader shreds newline-bearing
    quoted fields without multiLine=true (the writer quotes them
    correctly, so the bug only shows on read-back)."""
    import sys
    from pathlib import Path

    import duckdb

    from cql_replicator_spark.queries import REGISTRY, queries

    queries()
    ps = _tools_import("poison_sweep")
    d = str(tmp_path / "uni")
    ps.build_unicode_dir("/root/testdata/sf0.001", d)

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    import correctness_check as cc

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{d}/documents.parquet')")
    for lane in ("source_csv_roundtrip", "source_json_roundtrip",
                 "source_xml_roundtrip"):
        df = REGISTRY[lane].build(spark, d)
        srows = [tuple(r) for r in df.collect()]
        res = con.execute(REGISTRY[lane].oracle)
        problems = cc.compare(lane, srows, df.columns, res.fetchall(),
                              [c[0] for c in res.description])
        assert not problems, (lane, problems[:3])


def test_poison_hardened_lanes_fully_evaluate(spark, tmp_path):
    """Pin the four r15 ANSI crashers (found by forcing evaluation on
    the poison fixture): random-projection quantize clamps before its
    long cast, and the three un-try'd casts (two decimal windows/aggs,
    one double->long interval end) now NULL out a poison value instead
    of killing the job. Evaluation is FORCED — a .count() regression
    test would pass even with the bugs present."""
    from cql_replicator_spark.queries import REGISTRY, queries

    sweeplib = _tools_import("sweeplib")
    ps = _tools_import("poison_sweep")
    queries()
    d = str(tmp_path / "poison")
    ps.build_poison_dir("/root/testdata/sf0.001", d)
    for lane in ("embedding_random_projection", "events_concurrency_sweep",
                 "events_windowed_agg", "orders_moving_avg",
                 "orders_revenue_share"):
        n = sweeplib.forced_count(REGISTRY[lane].build(spark, d))
        assert n >= 0, lane
