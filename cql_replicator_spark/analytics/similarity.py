"""Similarity search over embedding columns (array<float>).

Two tiers, as a 100 TB pipeline needs:
  * brute-force cosine top-k — the exactness baseline. Queries (small)
    are broadcast against the corpus; per corpus partition the work is
    a dense dot-product sweep. O(|Q|·n) but fully distributed and
    shuffle-free until the final per-query top-k (a tiny aggregate).
  * IVF (inverted-file) ANN — the scale path: corpus is bucketed by
    nearest centroid at build time (one pass), queries probe only the
    nprobe nearest buckets. Centroid assignment keys the partition
    layout, so a probe touches 1/nlist of the data.

Dot products run JVM-side via zip_with/aggregate higher-order
functions in double precision — left-to-right folds match DuckDB's
list_dot_product bit-for-bit, which is what makes the oracle checks
possible. Ranked outputs carry (rank, neighbor) rather than raw
cosine floats; ordering ties are broken by neighbor id.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double, left-to-right (JVM higher-order fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """NULL when either vector has zero norm (try_divide) or any
    non-finite component (nanvl): cosine is undefined there, and the
    poison alternatives are worse than NULL in both directions — a
    plain `/` under Spark 4's default ANSI mode fails the whole job on
    one zero-norm row, and a NaN result (what a NaN/Inf component
    yields: inf/inf and 0*inf are NaN) ranks FIRST under every desc
    top-k ordering, displacing all real neighbors for every query
    (Spark orders NaN above all doubles). NULL ranks LAST, fails
    >=-threshold gates, matches DuckDB's 1.0/0.0, and matches the
    numpy lanes' isfinite guard."""
    return F.nanvl(F.try_divide(dot(a, b), norm(a) * norm(b)),
                   F.lit(None).cast("double"))


def _as_double(df: DataFrame, col: str) -> DataFrame:
    return df.withColumn(col, F.col(col).cast("array<double>"))


def well_formed(df: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """Drop malformed vectors (NULL or wrong length) ahead of a
    fixed-dimension numpy lane. At corpus scale a failed encoder emits
    NULL/ragged embedding rows routinely, and np.stack over a ragged
    Arrow batch crashes the whole task — one poison row kills the job.
    A declarative filter instead: Catalyst pushes the IsNotNull to the
    scan, the size() check is a cheap array-header read, and malformed
    rows are excluded deterministically (the column-expression lanes
    get the same outcome via NULL-propagating dot/try_divide)."""
    return df.filter(F.col(vec_col).isNotNull()
                     & (F.size(F.col(vec_col)) == int(dim)))


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query: (query_id, rank, neighbor_id).

    Query set is broadcast (it's small by construction); the rank
    window partitions by query so the shuffle carries only
    |Q|·n candidate scores pre-AQE-coalesce, then top-k truncates.
    """
    q = _as_double(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")), "qv")
    c = _as_double(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")), "cv")
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", cosine(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id")
    )


def ivf_build(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """Assign each corpus vector to its nearest centroid (the IVF
    "index build") — map-only.

    The centroid set is collapsed to ONE broadcast row carrying a
    sorted array of (id, vector, norm) structs, and nearest-centroid is
    a per-row argmax (array_max over struct(cos, -id), so ties break to
    the lowest centroid id, matching ORDER BY cos DESC, id). No
    Exchange ever touches the corpus: the earlier row_number-window
    formulation shuffled corpus × nlist scored rows by vec_id, which at
    100 TB is the build bottleneck; this plan is a single scan."""
    c = _as_double(corpus.select(F.col(id_col), F.col(vec_col).alias("cv")), "cv")
    cent = _as_double(
        centroids.select(F.col(centroid_id_col), F.col(vec_col).alias("centv")), "centv")
    cent_row = cent.agg(F.array_sort(F.collect_list(F.struct(
        F.col(centroid_id_col).cast("long").alias("cid"),
        F.col("centv").alias("centv"),
        norm(F.col("centv")).alias("cnorm")))).alias("cents"))
    # row norm hoisted to a projected column: computed once per vector,
    # not once per (vector, centroid) inside the argmax lambda
    # try_divide + nanvl + coalesce(-2.0) keeps the argmax total under
    # ANSI mode: a zero-norm OR non-finite vector/centroid scores below
    # any real cosine (∈[-1,1]) instead of crashing the scan or — worse,
    # since Spark orders NaN above all doubles — hijacking the argmax
    # so every vector assigns to one poisoned centroid. Poison rows
    # assign deterministically to the lowest centroid id via the
    # negcid tiebreak.
    best = F.array_max(F.transform(
        F.col("cents"),
        lambda ct: F.struct(
            F.coalesce(
                F.nanvl(
                    F.try_divide(dot(F.col("cv"), ct["centv"]),
                                 F.col("cn") * ct["cnorm"]),
                    F.lit(None).cast("double")),
                F.lit(-2.0)).alias("cos"),
            (-ct["cid"]).alias("negcid"))))
    return (
        c.withColumn("cn", norm(F.col("cv")))
        .join(F.broadcast(cent_row))
        .select(F.col(id_col), F.col("cv").alias(vec_col),
                (-best["negcid"]).alias(centroid_id_col))
    )


def ivf_search(
    queries: DataFrame,
    indexed_corpus: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    broadcast_queries: bool = True,
) -> DataFrame:
    """Probe the nprobe nearest clusters per query, exact-rank within.
    Returns (query_id, rank, neighbor_id). Recall < 1 by design; the
    bench pairs it with cosine_topk to measure the recall/latency trade.

    broadcast_queries: True (default) is the ANN-serving shape — the
    probe frame is small by contract and broadcasting it keeps the
    corpus scan exchange-free. For BULK query workloads (a corpus-sized
    query frame, e.g. batch re-ranking) a broadcast would ship the
    whole probe set to every task and can OOM the driver building the
    broadcast table: pass False to shuffle-join on centroid_id instead
    (both sides exchange-partition by the bucket key; per-bucket work
    is unchanged). The near-dup path (embedding_ivf_near_dup_pairs)
    already uses the non-broadcast within-bucket form."""
    q = _as_double(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")), "qv")
    cent = _as_double(
        centroids.select(F.col(centroid_id_col), F.col(vec_col).alias("centv")), "centv")
    # pick nprobe clusters per query
    qc = q.join(F.broadcast(cent)).withColumn("cos", cosine(F.col("qv"), F.col("centv")))
    wq = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc(centroid_id_col))
    probes = (
        qc.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "qv", centroid_id_col)
    )
    # search only those buckets
    corp = indexed_corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
        F.col(centroid_id_col))
    probe_side = F.broadcast(probes) if broadcast_queries else probes
    scored = (
        corp.join(probe_side, centroid_id_col)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", cosine(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id")
    )


def embedding_ivf_near_dup_pairs(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """Each vector's nearest neighbor WITHIN its IVF bucket — the
    scale-safe registered form of embedding near-dup.

    Topology: map-only ivf_build (no corpus Exchange) -> ONE shuffle on
    centroid_id for the bucket self-join -> groupBy(id_a) max-struct
    argmax (map-side partial agg; no candidate-set window shuffle).
    Candidate volume is Σ|bucket|², never O(n²) — with nlist ~ √n the
    standard IVF candidate budget. A vector alone in its bucket yields
    no pair (approximate-by-design; recall vs the exact all-pairs
    baseline is pytest-measured)."""
    indexed = ivf_build(corpus, centroids, id_col, vec_col, centroid_id_col)
    a = indexed.select(F.col(id_col).alias("id_a"),
                       F.col(vec_col).alias("va"), F.col(centroid_id_col))
    b = indexed.select(F.col(id_col).alias("id_b"),
                       F.col(vec_col).alias("vb"), F.col(centroid_id_col))
    scored = (
        a.join(b, centroid_id_col)
        .filter(F.col("id_a") != F.col("id_b"))
        .withColumn("cos", cosine(F.col("va"), F.col("vb")))
    )
    best = scored.groupBy("id_a").agg(
        F.max(F.struct(F.col("cos"), (-F.col("id_b")).alias("negid"))).alias("m"))
    return best.select("id_a", (-F.col("m.negid")).alias("id_b"))


# -- random-hyperplane LSH (the bucketed scale path for cosine near-dup) ------

# Rademacher sign matrix s[p][d] in {+1,-1} from a fixed LCG so Spark and
# the DuckDB oracle generate identical hyperplanes — no RNG state, no
# engine-private hash.
#
# 32 planes / 2 bands = 16-bit band keys. Real embedding corpora are
# CLUSTERED (the synthetic one deliberately is), and band width is what
# controls same-cluster false candidates: measured at sf0.1 (4k vectors,
# label-clustered), 8-bit bands produced 476k candidates for 2k true
# dups, 16-bit bands 160k — 3x fewer verify pairs for the same planted
# recall (exact copies share every bit, so copies always collide).
RP_PLANES = 32


def rp_sign(p: int, d: int, dim: int) -> int:
    x = (1103515245 * (p * dim + d + 1) + 12345) & 0x7FFFFFFF
    return 1 if (x >> 16) & 1 == 0 else -1


def embedding_lsh_candidates(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    planes: int = RP_PLANES,
    bands: int = 2,
    persist_signatures: bool = False,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs by random-hyperplane LSH banding.

    planes sign-bits per vector, split into `bands` bucket keys; vectors
    sharing any band bucket are candidates (id_a < id_b, distinct). This
    is the 100 TB formulation of embedding dedup: the only data shuffle
    is the band-bucket grouping (signatures are MAP-ONLY) — exactly the
    MinHash+LSH topology, applied to the vector space. Rerank candidates
    with exact cosine (quantized_cosine_np) as the verify step.

    Signatures run as one Arrow-batched numpy matmul per partition:
    Q = floor(X*1e6) int64 against the ±1 rp_sign matrix — exact
    integer arithmetic, so the sign bits are bit-identical to the
    per-component sum (the oracle's formulation) in any order. This
    replaced a posexplode + 32-aggregate groupBy: same bits, but that
    shape shuffled n·dim rows to reassemble per-vector sums, while the
    matmul keeps the whole signature stage inside one map stage
    (measured 1.6x warm on the end-to-end candidate query at sf0.1 —
    1.69s -> 1.07s — and at cluster scale it removes the largest
    exchange outright).
    """
    per_band = planes // bands
    sign_mat = np.array(
        [[rp_sign(p, d, dim) for d in range(dim)] for p in range(planes)],
        dtype=np.int64)
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def _band_keys(vecs: pd.Series) -> pd.Series:
        X = np.stack(vecs.to_numpy()).astype(np.float64)
        # defined quantization on poison components: NaN -> 0 and
        # magnitude bombs saturate at the +-_Q_DOMAIN*1e6 cap (raw
        # astype(int64) of an out-of-range/NaN double is UNDEFINED C
        # behavior — platform-dependent wrap — which no oracle can
        # mirror). Clean corpora sit orders of magnitude inside the
        # cap, so clean buckets are unchanged; the capped sum also
        # keeps every |dot| <= 64 * 2e7, far from int64 overflow.
        Qf = np.floor(X * 1e6)
        Qf = np.where(np.isnan(Qf), 0.0, Qf)
        cap = _Q_DOMAIN * 1e6
        bits = (np.clip(Qf, -cap, cap).astype(np.int64) @ sign_mat.T) > 0
        chars = np.where(bits, "1", "0")
        out = []
        for row in chars:
            s = "".join(row.tolist())
            out.append([s[b * per_band:(b + 1) * per_band]
                        for b in range(bands)])
        return pd.Series(out)

    sig = well_formed(corpus, vec_col, dim).select(
        F.col(id_col), _band_keys(F.col(vec_col)).alias("band_keys"))
    if persist_signatures:
        # the 100 TB switch (same rationale as minhash_lsh_dedup_pairs):
        # persisting the per-vector band keys lets a composed pipeline
        # (candidates + verify + stats) reuse them without re-scanning
        # and re-hashing the corpus
        from pyspark import StorageLevel
        sig = sig.persist(StorageLevel.MEMORY_AND_DISK)
    banded = sig.select(
        F.col(id_col),
        F.posexplode("band_keys").alias("band", "bucket"))
    # bucket-grouped pair emission: one signature scan (the self-join
    # form computed the signature subtree once per side) — same move as
    # dedup.lsh_candidate_pairs, same identical-pair-set guarantee.
    # max_bucket_size mirrors the minhash variant's cap: per-bucket work
    # is O(|bucket|²) and the collect_list row is bucket-sized, so at
    # corpus scale ONE degenerate bucket (a billion byte-identical
    # vectors, e.g. a default/zero embedding some encoder emits on
    # failure) otherwise concentrates quadratic work and an unbounded
    # aggregation row in a single task. Exact copies a capped bucket
    # skips are what exact/embedding_quantize dedup already catches.
    grouped = (banded.groupBy("band", "bucket")
               .agg(F.collect_list(id_col).alias("ids"))
               .filter(F.size("ids") > 1))
    if max_bucket_size is not None:
        grouped = grouped.filter(F.size("ids") <= max_bucket_size)
    return (
        grouped
        .select(F.explode(F.expr(
            "filter(flatten(transform(ids, x -> transform(ids, "
            "y -> struct(x AS id_a, y AS id_b)))), p -> p.id_a < p.id_b)"
        )).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


# Quantized-cosine input domain: every component must be finite with
# |x| <= 20 (quantized |floor(x*1e6)| <= 2e7), so the int64 dot bound is
# dim * 4e14 — exact through ~23k dimensions. Outside the domain the
# int64 exactness claim is void anyway (runtime floor(double->long)
# SATURATES at +/-2^63-1, and products of saturated values raise
# ARITHMETIC_OVERFLOW under ANSI — one 1e30-component poison row killed
# the verify stage), so out-of-domain vectors get NULL, the malformed-
# input contract every cosine lane shares. Real embedding corpora sit
# orders of magnitude inside (test corpus max |x| = 0.58).
_Q_DOMAIN = 20.0


def quantized_cosine_np() -> Column:
    """Cosine over floor(x*1e6) integer-quantized vectors, as an
    Arrow-batched numpy UDF: floor(x*1e6) in float64, exact int64
    dot/norms, one IEEE sqrt/divide — so the resulting double is
    bit-identical in any engine, making cosine thresholds oracle-safe
    (a float dot product's summation order is not). NULL for vectors
    outside the quantization domain (see _Q_DOMAIN), zero-norm, or NaN
    — never a crash or a NaN. Measured 4.8x faster than the same rule
    as a HOF column expression (1.37s vs 6.54s over 476k 64-dim pairs
    at sf0.1): Catalyst runs aggregate/zip_with lambdas interpreted
    per element, while this runs one vectorized matmul-shaped batch
    per Arrow chunk; the column form survives in the tests as the
    bit-identical reference."""
    from pyspark.sql.functions import pandas_udf

    def _pair(a, b):
        # ragged fallback: NULL/mismatched-length/off-domain poison
        # pair -> NULL
        if a is None or b is None:
            return np.nan
        Af = np.asarray(a, dtype=np.float64)
        Bf = np.asarray(b, dtype=np.float64)
        if Af.shape != Bf.shape or Af.size == 0:
            return np.nan
        if not (np.all(np.isfinite(Af)) and np.all(np.abs(Af) <= _Q_DOMAIN)
                and np.all(np.isfinite(Bf)) and np.all(np.abs(Bf) <= _Q_DOMAIN)):
            return np.nan
        A = np.floor(Af * 1e6).astype(np.int64)
        B = np.floor(Bf * 1e6).astype(np.int64)
        with np.errstate(divide="ignore", invalid="ignore"):
            return float(A @ B) / (np.sqrt(float(A @ A)) * np.sqrt(float(B @ B))) \
                if (A @ A) and (B @ B) else np.nan

    @pandas_udf("double")
    def _cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        try:
            # fast path: whole-batch matmul shape (clean batches pay
            # two cheap range checks for the poison guard)
            Af = np.stack(va.to_numpy()).astype(np.float64)
            Bf = np.stack(vb.to_numpy()).astype(np.float64)
            if Af.shape != Bf.shape:
                raise ValueError("ragged pair batch")
            # domain mask BEFORE the int64 conversion: floor of an
            # off-domain double saturates/garbages in int64 and the
            # products overflow — zero those rows, NULL them after
            ok = ((np.isfinite(Af).all(axis=1))
                  & (np.abs(Af) <= _Q_DOMAIN).all(axis=1)
                  & (np.isfinite(Bf).all(axis=1))
                  & (np.abs(Bf) <= _Q_DOMAIN).all(axis=1))
            Af = np.where(ok[:, None], Af, 0.0)
            Bf = np.where(ok[:, None], Bf, 0.0)
            A = np.floor(Af * 1e6).astype(np.int64)
            B = np.floor(Bf * 1e6).astype(np.int64)
            dot = (A * B).sum(axis=1).astype(np.float64)
            na = np.sqrt((A * A).sum(axis=1).astype(np.float64))
            nb = np.sqrt((B * B).sum(axis=1).astype(np.float64))
            with np.errstate(divide="ignore", invalid="ignore"):
                res = dot / (na * nb)
            res[~ok] = np.nan
        except (ValueError, TypeError):
            # batch contains NULL/ragged vectors: per-row fallback
            res = np.array([_pair(a, b)
                            for a, b in zip(va.to_numpy(), vb.to_numpy())],
                           dtype=np.float64)
        # zero-norm / malformed -> SQL NULL (nullable Float64 through
        # Arrow), the same contract as cosine()'s try_divide: a
        # NaN would instead PASS every `>= threshold` verify filter,
        # since Spark orders NaN above all doubles
        out = pd.array(res, dtype="Float64")
        out[~np.isfinite(res)] = pd.NA
        return pd.Series(out, dtype="Float64")

    return _cos


def embedding_lsh_verified_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    threshold: float = 0.9,
    persist_signatures: bool = False,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """The full near-dup scale pattern: LSH candidates -> exact verify.

    Candidate generation is the banded hyperplane join (never O(n²));
    verification joins each candidate pair back to its two vectors and
    keeps cosine >= threshold. At 100 TB the verify join is |candidates|
    -sized, not |corpus|² — candidates are the only rows that ever pair.
    The cosine itself runs as the Arrow numpy batch UDF (see
    quantized_cosine_np) — the verify stage is pair-count-shaped, so
    its per-pair cost dominates the whole composition.
    """
    cands = embedding_lsh_candidates(corpus, id_col, vec_col, dim,
                                     persist_signatures=persist_signatures,
                                     max_bucket_size=max_bucket_size)
    va = corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    cos = quantized_cosine_np()
    return (
        cands.join(va, "id_a").join(vb, "id_b")
        .withColumn("cos", cos(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= F.lit(threshold))
        .select("id_a", "id_b", "cos")
    )


# -- vectorized (Arrow/numpy) brute-force top-k -------------------------------

def cosine_topk_np(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 4096,
) -> DataFrame:
    """Brute-force cosine top-k via mapInPandas + numpy matmul —
    corpus-distributed.

    The SMALL side (queries, |Q| by construction) is collected and
    broadcast; the corpus is never materialized anywhere — each corpus
    partition computes one (|Q| x batch) matmul and emits only its
    local top-k candidates (≤ |Q|·k rows per partition), which a final
    |Q|·k-sized merge ranks globally. This is the scale inversion of
    the old form (which collect()ed the corpus on the driver — a hard
    512 MB ceiling and a single-machine bottleneck); here corpus size
    is unbounded and the shuffle is proportional to partitions·|Q|·k,
    not to data. Ranking ties break by neighbor id, matching
    cosine_topk — ON A 12-DECIMAL SCORE GRID: BLAS gemm blocking makes
    the matmul's rounding depend on a candidate's POSITION in its
    batch (the r15 all-ties sweep measured two different bit patterns
    for IDENTICAL vector pairs inside one matmul), so raw scores are
    not comparable across partitionings in the last ulp and exact ties
    would scramble. Scores are rounded to 12dp before both the local
    pick and the global rank — far below any meaningful cosine
    distinction (the grid cost is id-tie-breaking pairs closer than
    1e-12), far above the ~1e-16 blocking noise; the oracle ranks on
    the same grid (the quality_perplexity_buckets precedent).

    The "queries are small" contract is ENFORCED, not assumed: the
    collect is capped at ``max_queries`` rows and a larger frame
    raises before anything is pulled to the driver (a mis-called
    corpus-sized query frame would otherwise OOM it). Raise
    ``max_queries`` deliberately when you really have more probes —
    driver memory spent is ~|Q|·d·8 bytes — or swap the sides.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    q_rows = (queries.select(id_col, vec_col)
              .limit(max_queries + 1).collect())
    if len(q_rows) > max_queries:
        raise ValueError(
            f"cosine_topk_np: query frame exceeds max_queries="
            f"{max_queries} — the query side is collected and "
            f"broadcast; pass a bounded probe frame (or raise "
            f"max_queries deliberately / swap query and corpus sides)")
    # drop NULL/ragged poison queries: dimension = the first well-formed
    # row's (the same first-row convention kmeans_quantized uses)
    d = next((len(r[1]) for r in q_rows if r[1] is not None and len(r[1])),
             None)
    if d is None:
        # empty (or all-malformed) query side: the top-k of nothing is
        # nothing — return the schema-correct empty frame (recompute
        # semantics; an empty tile must not fail the pipeline)
        return queries.sparkSession.createDataFrame(
            [], "query_id LONG, rank INT, neighbor_id LONG")
    q_rows = [r for r in q_rows if r[1] is not None and len(r[1]) == d]
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        q_norm = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
    bq = queries.sparkSession.sparkContext.broadcast((q_ids, q_norm))

    cand_schema = T.StructType([
        T.StructField("query_id", T.LongType()),
        T.StructField("neighbor_id", T.LongType()),
        T.StructField("cos", T.DoubleType()),
    ])

    def local_topk(batches):
        qids, qn = bq.value
        for pdf in batches:
            if not len(pdf):
                continue
            cids = pdf[id_col].to_numpy(dtype=np.int64)
            cmat = np.stack(pdf[vec_col].map(np.asarray)).astype(np.float64)
            with np.errstate(divide="ignore", invalid="ignore"):
                cn = cmat / np.linalg.norm(cmat, axis=1, keepdims=True)
            # 12dp grid BEFORE any ordering decision (docstring): the
            # local pick and the global window must rank on the same
            # key, or a partition could locally drop the global
            # rank-k member its own blocking noise demoted
            sims = np.round(qn @ cn.T, 12)              # (|Q|, batch)
            out_q, out_n, out_c = [], [], []
            for i, qid in enumerate(qids):
                s = sims[i]
                # np.lexsort places NaN keys last in ascending -s, so
                # zero-norm candidates are picked after all real scores
                # — the same NULLS-LAST order the global merge uses
                order = np.lexsort((cids, -s))          # (-cos, neighbor_id)
                picked = 0
                for j in order:
                    if cids[j] == qid:
                        continue                        # exclude self
                    out_q.append(qid)
                    out_n.append(cids[j])
                    # zero-norm -> SQL NULL: Spark sorts NaN ABOVE all
                    # doubles on desc, which would rank poison rows
                    # first in the global merge; NULL sorts last,
                    # matching cosine_topk's try_divide contract
                    out_c.append(float(s[j]) if np.isfinite(s[j]) else None)
                    picked += 1
                    if picked == k:
                        break
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n,
                 "cos": pd.array(out_c, dtype="Float64")})

    # corpus-side poison guard is DECLARATIVE (well_formed): the filter
    # reaches the scan, and np.stack inside local_topk stays on its
    # fast path. Exclusion matches the column lane's effective result:
    # there a ragged neighbor's cos is NULL and never outranks real
    # scores; top-k output differs only when fewer than k real
    # neighbors exist.
    cand = (well_formed(corpus.select(id_col, vec_col), vec_col, d)
            .mapInPandas(local_topk, schema=cand_schema))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id")
    )


def quantize_embeddings_int8(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 100,
) -> DataFrame:
    """Fixed-scale int8 quantization of an embedding column — the
    storage/bandwidth step of a large-scale vector pipeline (4x smaller
    than float32, and integer dot products afterwards are exact).

    q = clamp(floor(x * scale), -127, 127) per component. floor (not
    round) keeps the mapping engine-portable — round() is half-even in
    Spark and half-away in DuckDB, so a round-based quantizer would
    disagree on .5 boundaries. Emits per-vector summary columns
    (qmin/qmax/qsum/n_clipped) rather than the array so results stay
    key-comparable; the quantized array itself is the `q` intermediate
    if a caller wants it. Pure per-row projection: no shuffle, no UDF,
    the transform/aggregate lambdas run once per component."""
    x = F.col(vec_col)
    q = F.transform(
        x, lambda v: F.greatest(
            F.lit(-127).cast("long"),
            F.least(F.lit(127).cast("long"),
                    F.floor(v.cast("double") * scale))))
    raw = F.transform(x, lambda v: F.floor(v.cast("double") * scale))
    zero = F.lit(0).cast("long")
    return corpus.select(
        F.col(id_col),
        F.size(x).alias("dim"),
        F.array_min(q).alias("qmin"),
        F.array_max(q).alias("qmax"),
        F.aggregate(q, zero, lambda a, v: a + v).alias("qsum"),
        F.aggregate(
            F.zip_with(raw, q, lambda r, c: F.when(r != c, 1).otherwise(0)),
            zero, lambda a, v: a + v).alias("n_clipped"),
    )


# -- quantized k-means (SemDeDup-style embedding clustering) ------------------------

def kmeans_quantized(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    rounds: int = 2,
    scale: int = 100,
    train_sample: int | None = None,
) -> DataFrame:
    """Lloyd k-means over integer-quantized embeddings — the clustering
    stage of SemDeDup-style semantic dedup (Abbas et al. 2023 cluster
    embeddings, then drop near-identical pairs within clusters), made
    bit-identical across engines: vectors quantize to ints (floor at
    fixed scale), distances are integer sums of squares, centroid
    updates are truncating integer division, and argmin ties break to
    the lowest centroid id. Seeds are the k lowest-id vectors.

    Returns (id, cluster_id) after ``rounds`` assign+update rounds plus
    a final assignment.

    Plan shape per round: assignment is MAP-ONLY (centroids ride along
    as a constant-folded literal — k*dim ints, the ivf_build pattern);
    the update is one (cluster, dim)-keyed aggregation whose map-side
    partial sums collapse each partition to <= k*dim rows, pivoted
    distributed to one array row per cluster before collect. The only
    driver traffic is the k-row centroid table per round — bounded
    like IVF centroids, never corpus-shaped.

    ``train_sample`` bounds centroid TRAINING the way pq_train does
    (FAISS max_points_per_centroid): when set, the ``rounds`` update
    scans run over the ``train_sample`` lowest-id rows only
    (TakeOrderedAndProject — partial per-partition top-n, one
    localCheckpoint), and only the final assignment touches the full
    corpus. At 100 TB that turns rounds+1 corpus scans into rounds
    sample scans + ONE corpus scan. None (default) keeps full-corpus
    training — the historical behavior the registered kmeans oracles
    replay."""
    q_all = corpus.select(
        F.col(id_col),
        F.expr(
            f"transform({vec_col}, v -> greatest(-127L, least(127L, "
            f"CAST(floor(CAST(v AS DOUBLE) * {int(scale)}) AS BIGINT))))"
        ).alias("qv"))
    head = q_all.filter(F.col("qv").isNotNull()).select("qv").first()
    if head is None:
        # empty or all-NULL corpus: no centroids are derivable — return
        # the schema-correct EMPTY assignment (joins/aggregates over it
        # are empty, matching a recompute) instead of an exception that
        # fails the pipeline over an empty tile
        return (q_all.select(F.col(id_col),
                             F.lit(0).cast("long").alias("cluster_id"))
                .filter(F.lit(False)))
    dim = len(head["qv"])
    # malformed vectors (NULL/ragged — failed-encoder poison) are
    # excluded from clustering: they would crash the fixed-dim numpy
    # assignment lane and cannot meaningfully join any cluster
    q = well_formed(q_all, "qv", dim).persist()  # read by every round

    seeds = (q.orderBy(id_col).limit(int(k)).collect())
    centroids = [list(r["qv"]) for r in seeds]  # cid = seed rank
    k = len(centroids)  # clamp: fewer rows than requested clusters

    def assign(frame: DataFrame) -> DataFrame:
        # Arrow numpy argmin, exact int64: dist_j = -2 x·c_j + |c_j|^2
        # (the |x|^2 term is constant per row and cannot change the
        # argmin). np.argmin takes the FIRST minimum, and centroids are
        # ordered by cid, so ties break to the lowest cid — identical
        # to the oracle's ORDER BY dist, cid. Vectorized batch matmul
        # replaces the interpreted zip_with/aggregate HOF chain
        # (measured ~4x on the sf0.1 assignment stage); values in
        # [-127,127] keep every product far inside int64.
        from pyspark.sql.functions import pandas_udf

        C = np.asarray(centroids, dtype=np.int64)
        c2 = (C * C).sum(axis=1)

        @pandas_udf("long")
        def _nearest(qv: pd.Series) -> pd.Series:
            X = np.stack(qv.to_numpy()).astype(np.int64)
            D = -2 * (X @ C.T) + c2[None, :]
            return pd.Series(np.argmin(D, axis=1).astype(np.int64))

        return frame.withColumn("cluster_id", _nearest(F.col("qv")))

    if train_sample:
        train = (q.orderBy(id_col).limit(int(train_sample))
                 .localCheckpoint(eager=True))
    else:
        train = q
    for _ in range(int(rounds)):
        assigned = assign(train)
        sums = (assigned.select("cluster_id", F.posexplode("qv").alias("pos", "v"))
                .groupBy("cluster_id", "pos")
                .agg(F.sum("v").alias("s"), F.count("*").alias("n")))
        # truncating integer division (Spark div truncates toward zero),
        # then pivot the (cluster, pos) means DISTRIBUTED into one
        # dim-length array per cluster (array_sort on struct(pos, c)
        # orders lexicographically, i.e. by pos) so the driver
        # materializes k rows — not k x dim rows. At the adaptive_k cap
        # (65536 x 768) that is the difference between a ~50M-row
        # collect and a 65k-row one; the BYTES are bounded either way
        # by the k x dim centroid table the assignment closure ships.
        rows = (sums.select("cluster_id", "pos",
                            F.expr("s div n").alias("c"))
                .groupBy("cluster_id")
                .agg(F.array_sort(
                    F.collect_list(F.struct("pos", "c"))).alias("pc"))
                .select("cluster_id", F.col("pc.c").alias("cvec"))
                .collect())
        new_cents = {ci: list(vec) for ci, vec in enumerate(centroids)}
        upd = {int(r["cluster_id"]): [int(v) for v in r["cvec"]]
               for r in rows}
        new_cents.update(upd)  # empty clusters keep their previous centroid
        centroids = [new_cents[ci] for ci in range(int(k))]

    # Materialize the final assignment (narrow id->cluster rows; the
    # caller's first action would compute it anyway) so the quantized
    # corpus cache can be released HERE instead of leaking into the
    # session — long-lived registry/bench sessions previously
    # accumulated one cached corpus copy per call (r4 advice).
    out = (assign(q).select(F.col(id_col), "cluster_id")
           .localCheckpoint(eager=True))
    q.unpersist()
    return out


def adaptive_k(n: int, target_cluster_size: int = 1024,
               k_floor: int = 8, k_cap: int = 65536) -> int:
    """Cluster count for SemDeDup-style dedup, derived from the corpus:
    k = ceil(n / target_cluster_size), floored (so tiny test corpora
    keep a stable k and oracle results don't drift) and capped.

    The cap exists because kmeans_quantized ships centroids to every
    task as a k x dim literal/ndarray: at k_cap=65536 and dim=768
    that's ~400 MB of int64 — the practical ceiling for a task
    closure. Past the cap expected cluster size grows as n / k_cap,
    and the SALTED within-cluster join below (not more centroids)
    bounds the per-reducer pair work — so pair generation stays
    bounded at any corpus size."""
    if n <= 0:
        return k_floor
    import math
    return min(k_cap, max(k_floor, math.ceil(n / max(1, target_cluster_size))))


def semantic_dedup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int | None = None,
    rounds: int = 2,
    threshold: float = 0.95,
    target_cluster_size: int = 1024,
    salt_partitions: int | None = None,
    train_sample: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) end-to-end: k-means clusters bound
    the pair space, then exact quantized cosine keeps the true
    semantic near-dups — (id_a, id_b, cos), id_a < id_b, within-
    cluster only.

    Scale shape: the within-cluster self-join is cluster-keyed, so
    pair work is sum over clusters of (|cluster| choose 2). Two
    mechanisms keep that bounded at any corpus size (SemDeDup's own
    recipe — cluster counts grow with the corpus):
      * k defaults to adaptive_k(n) = ceil(n / target_cluster_size),
        floored/capped, instead of a fixed constant — a fixed k means
        k shuffle keys and pair work degenerating toward n²/k;
      * when the LARGEST cluster still exceeds target_cluster_size
        (skewed corpora, or n past adaptive_k's cap), the self-join is
        salted s ways: side A keeps one deterministic salt per row
        (xxhash64 pmod s), side B replicates each row to all s salts,
        so every unordered pair still meets exactly once while the
        hottest reducer shrinks from |c|² to |c|²/s. Replication costs
        s x |cluster| rows — linear, never quadratic.
    The cosine verify runs in the Arrow numpy batch UDF
    (quantized_cosine_np) over pair-count-shaped input.

    salt_partitions: None = decide from the observed max cluster size;
    an int forces s (1 disables salting), mainly for tests."""
    if k is None:
        # the corpus count exists only to derive k — don't pay a full
        # corpus scan when the caller pinned k explicitly
        k = adaptive_k(corpus.count(), target_cluster_size)
    # kmeans_quantized returns an eagerly checkpointed frame (narrow
    # id->cluster rows), so the two self-join sides below read the
    # materialized checkpoint — no extra persist needed, and nothing
    # is left cached in the session (r4 advice).
    clusters = kmeans_quantized(corpus, id_col, vec_col, k, rounds,
                                train_sample=train_sample)
    if salt_partitions is None:
        maxc = (clusters.groupBy("cluster_id").count()
                .agg(F.max("count")).first()[0]) or 0
        s = min(64, max(1, -(-int(maxc) // max(1, target_cluster_size))))
    else:
        s = max(1, int(salt_partitions))
    withc = (corpus.select(F.col(id_col), F.col(vec_col))
             .join(clusters, id_col))
    a = withc.select(F.col("cluster_id"),
                     F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = withc.select(F.col("cluster_id"),
                     F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    if s > 1:
        # pair (x, y) meets exactly once: under x's salt from the A
        # side (B carries y at every salt), as (x, y) or (y, x) — the
        # id_a < id_b filter keeps exactly one orientation.
        a = a.withColumn("salt", F.pmod(F.xxhash64(F.col("id_a")),
                                        F.lit(s)).cast("int"))
        b = b.withColumn(
            "salt", F.explode(F.array(*[F.lit(i) for i in range(s)])))
        joined = a.join(b, ["cluster_id", "salt"])
    else:
        joined = a.join(b, "cluster_id")
    cos = quantized_cosine_np()
    return (joined
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("cos", cos(F.col("va"), F.col("vb")))
            .filter(F.col("cos") >= F.lit(float(threshold)))
            .select("id_a", "id_b", "cos"))


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    k: int = 60,
    top_n: int | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion of N candidate rankings: each input frame
    carries (id_col, rank) with rank 1 = best; the fused score is
    sum over lists of 1/(k + rank), the standard RRF with k=60
    (Cormack et al.) that hybrid lexical+vector retrieval stacks use.

    Scale shape: inputs should already be CAPPED candidate lists (each
    ranker's distributed top-N, e.g. orderBy().limit() which plans as
    TakeOrdered — a per-partition partial top-k, never a global sort).
    Fusion is then one union + one groupBy over <= N x len(rankings)
    rows, independent of corpus size. Docs absent from a list simply
    contribute nothing for it (the outer-join semantics of RRF).

    Returns (id_col, n_lists, rrf) rounded to 6 dp; ``top_n`` applies a
    deterministic (rrf desc, id) cut.
    """
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    parts = [r.select(F.col(id_col), F.col("rank")) for r in rankings]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    # Sum 1/(k+rank) over a SORTED rank list via a left-to-right fold,
    # not F.sum over shuffle-ordered doubles: with 3+ rankings the
    # accumulation order would otherwise depend on partitioning, and a
    # last-ulp wobble at a rounding boundary could flip the (rrf, id)
    # ordering — same bit-exactness discipline as the cosine fold.
    fold = F.aggregate(
        F.sort_array(F.collect_list("rank")),
        F.lit(0.0),
        lambda acc, r: acc + F.lit(1.0) / (F.lit(float(k)) + r),
    )
    fused = (
        u.groupBy(id_col)
        .agg(F.count("*").cast("long").alias("n_lists"),
             F.round(fold, 6).alias("rrf"))
    )
    if top_n is not None:
        fused = fused.orderBy(F.desc("rrf"), id_col).limit(top_n)
    return fused


def _jl_sign(j: int, i: int) -> int:
    """Deterministic ±1 from the same portable md5h32 arithmetic the
    oracle hashes use, computed driver-side once per (output dim,
    input dim) cell — the projection matrix is a constant, not data."""
    import hashlib
    h = int(hashlib.md5(f"{j}:{i}".encode()).hexdigest()[:8], 16)
    return 1 if h % 2 == 0 else -1


def random_projection_signs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    in_dim: int = 64,
    out_dim: int = 8,
    scale: int = 100,
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction with a ±1 sign
    matrix (Achlioptas 2003's database-friendly projection): p_j =
    Σ_i s_ji · q_i over the int-quantized vector q_i = floor(x_i·scale).

    All-integer by construction — the sign matrix is ±1 and the inputs
    are quantized BIGINTs, so the projection is bit-exact across
    engines/partitionings (the same determinism discipline as
    kmeans_quantized), and distances in the projected space concentrate
    around sqrt(in_dim/out_dim)-scaled originals per JL. Pure map-stage
    projection: the sign matrix constant-folds into the plan, nothing
    shuffles. Output columns p0..p{out_dim-1}.
    """
    # clamp in DOUBLE space before the long cast: a poison component
    # (±1e32 from a failed encoder) would otherwise CAST_OVERFLOW under
    # ANSI — or survive the cast near ±2^63 and overflow the sign
    # multiply/fold below (found by the r15 forced-evaluation poison
    # sweep; .count() pruning had hidden it). ±2^31 saturation keeps
    # the 64-term signed sum within 2^37 — far inside long — and is
    # far beyond any real quantized embedding component.
    _B = float(1 << 31)
    q = F.transform(
        F.col(vec_col),
        lambda x: F.least(F.greatest(F.floor(x.cast("double") * scale),
                                     F.lit(-_B)), F.lit(_B)).cast("long"))
    projected = corpus.select(F.col(id_col), q.alias("_q"))
    cols = [F.col(id_col)]
    for j in range(int(out_dim)):
        # one Literal node per row of the sign matrix (r16/r17): the
        # F.array-of-F.lit form built in_dim Literal nodes per output
        # dim — out_dim*in_dim analyzer nodes per query build. In the
        # pinned PySpark 4.1, F.lit(list) still expands to
        # array(lit(x), ...) — the SAME per-element tree (r16's
        # comment overclaimed); a numpy ndarray is what routes through
        # one true ArrayData Literal (measured ~1.8x cheaper to
        # analyze at 512 elements). Runtime semantics identical.
        signs = F.lit(np.asarray([_jl_sign(j, i)
                                  for i in range(int(in_dim))],
                                 dtype=np.int64)).cast("array<long>")
        pj = F.aggregate(
            F.zip_with(F.col("_q"), signs, lambda x, s: x * s),
            F.lit(0).cast("long"), lambda acc, v: acc + v)
        cols.append(pj.alias(f"p{j}"))
    return projected.select(*cols)


# -- product quantization (PQ) ------------------------------------------------
#
# The memory-scale tier below IVF: vectors compress to m uint8 codes
# (one per subspace) against per-subspace codebooks, and search runs
# as asymmetric distance computation (ADC) — the query precomputes an
# m x k distance table, each candidate scores as m table lookups
# instead of a dim-length dot product (Jegou et al. 2011, "Product
# Quantization for Nearest Neighbor Search"). At 100 TB this is the
# difference between shuffling 768 floats and m bytes per vector.
# Training reuses the integer-exact kmeans (same quantize-floor
# discipline), so codes are bit-reproducible across engines and runs.

def pq_train(
    corpus: DataFrame,
    m: int = 4,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rounds: int = 2,
    scale: int = 100,
    train_sample: int | None = None,
) -> list[list[list[int]]]:
    """Train per-subspace codebooks: the embedding splits into m
    contiguous subvectors; each subspace runs the integer-exact Lloyd
    kmeans. Returns codebooks[sub][centroid] = int vector (quantized
    at ``scale``), small enough to ship in a closure (m*k*subdim
    ints — the same budget class as IVF centroids). Requires dim % m
    == 0.

    Codebook training is BOUNDED: the m sub-space kmeans loops run
    over a deterministic ``train_sample``-row sample (lowest ids via
    TakeOrderedAndProject — partial per-partition top-n, no full
    sort), not the corpus. Training on everything is the classic
    100 TB mistake — m*rounds full-corpus scans to learn an m*k*subdim
    table that a bounded sample learns just as well; FAISS caps at a
    small multiple of k per centroid for the same reason. Default
    256*k rows (the FAISS max_points_per_centroid default);
    train_sample=0 opts out and trains on the full corpus. The sample
    is localCheckpointed once, so the per-subspace loops scan the
    materialized sample, never the corpus."""
    if train_sample is None:
        train_sample = 256 * int(k)
    if train_sample:
        train = (corpus.select(F.col(id_col), F.col(vec_col))
                 .orderBy(id_col).limit(int(train_sample))
                 .localCheckpoint(eager=True))
    else:
        train = corpus
    head = train.select(vec_col).first()
    if head is None:
        raise ValueError("pq_train: corpus is empty")
    dim = len(head[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    books = []
    for s in range(m):
        piece = train.select(
            F.col(id_col),
            F.slice(F.col(vec_col), s * sub + 1, sub).alias("sv"))
        # reuse the corpus-side kmeans: assignments are discarded, the
        # centroid table is what we keep — recovered by re-running the
        # seeding+update loop through kmeans_quantized's machinery
        # dim is proven divisible above, so every subspace slice of a
        # well-formed vector has exactly `sub` components — pass it
        # down instead of letting each subspace loop re-probe it with
        # its own first() job (r17: m probe jobs saved per training
        # call; the probe only ever measured a row this slice already
        # validated)
        books.append(_kmeans_centroids(piece, "sv", k, rounds, scale,
                                       dim=sub))
    return books


def _kmeans_centroids(frame: DataFrame, vec_col: str, k: int,
                      rounds: int, scale: int,
                      dim: int | None = None) -> list[list[int]]:
    """The centroid table of kmeans_quantized (which returns only
    assignments): same seeding, same integer update, same k-row
    pivoted collection. ``dim`` (when the caller already knows the
    vector width, e.g. pq_train's validated subspace slices) skips the
    head-probe job; None keeps the probing behavior."""
    first_col = frame.columns[0]
    q_all = frame.select(
        F.col(first_col).alias("_id"),
        F.expr(
            f"transform({vec_col}, v -> greatest(-127L, least(127L, "
            f"CAST(floor(CAST(v AS DOUBLE) * {int(scale)}) AS BIGINT))))"
        ).alias("qv"))
    if dim is None:
        head = q_all.filter(F.col("qv").isNotNull()).select("qv").first()
        if head is None:
            raise ValueError("empty subspace frame")
        dim = len(head["qv"])
    # exclude NULL/ragged poison rows: same contract as kmeans_quantized
    q = well_formed(q_all, "qv", int(dim)).persist()
    try:
        seeds = q.orderBy("_id").limit(int(k)).collect()
        if not seeds:
            raise ValueError("empty subspace frame")
        centroids = [list(r["qv"]) for r in seeds]
        kk = len(centroids)
        for _ in range(int(rounds)):
            C = np.asarray(centroids, dtype=np.int64)
            c2 = (C * C).sum(axis=1)

            from pyspark.sql.functions import pandas_udf

            @pandas_udf("long")
            def _nearest(qv: pd.Series) -> pd.Series:
                X = np.stack(qv.to_numpy()).astype(np.int64)
                D = -2 * (X @ C.T) + c2[None, :]
                return pd.Series(np.argmin(D, axis=1).astype(np.int64))

            sums = (q.withColumn("cid", _nearest(F.col("qv")))
                    .select("cid", F.posexplode("qv").alias("pos", "v"))
                    .groupBy("cid", "pos")
                    .agg(F.sum("v").alias("s"), F.count("*").alias("n")))
            rows = (sums.select("cid", "pos", F.expr("s div n").alias("c"))
                    .groupBy("cid")
                    .agg(F.array_sort(
                        F.collect_list(F.struct("pos", "c"))).alias("pc"))
                    .select("cid", F.col("pc.c").alias("cvec"))
                    .collect())
            upd = {int(r["cid"]): [int(v) for v in r["cvec"]] for r in rows}
            centroids = [upd.get(ci, centroids[ci]) for ci in range(kk)]
        return centroids
    finally:
        q.unpersist()


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 100,
) -> DataFrame:
    """Map-only encode: each vector becomes m uint8-range codes
    (nearest centroid per subspace, ties to the lowest id — argmin
    first-match). No exchange touches the corpus; the codebooks ride
    in the closure like IVF centroids. Output: (id, code_0..code_{m-1})
    as one scalar column per subspace, driver-hashable and joinable."""
    from pyspark.sql.functions import pandas_udf

    m = len(codebooks)
    Cs = [np.asarray(b, dtype=np.int64) for b in codebooks]
    c2s = [(C * C).sum(axis=1) for C in Cs]
    sub = Cs[0].shape[1]

    @pandas_udf("array<long>")
    def _codes(qv: pd.Series) -> pd.Series:
        X = np.stack(qv.to_numpy()).astype(np.int64)
        out = np.empty((X.shape[0], m), dtype=np.int64)
        for s in range(m):
            Xs = X[:, s * sub:(s + 1) * sub]
            D = -2 * (Xs @ Cs[s].T) + c2s[s][None, :]
            out[:, s] = np.argmin(D, axis=1)
        return pd.Series(list(out))

    # exclude NULL/ragged poison rows (failed-encoder output): the
    # subspace slicing below requires exactly m*sub components
    q = well_formed(corpus, vec_col, m * sub).select(
        F.col(id_col),
        F.expr(
            f"transform({vec_col}, v -> greatest(-127L, least(127L, "
            f"CAST(floor(CAST(v AS DOUBLE) * {int(scale)}) AS BIGINT))))"
        ).alias("qv"))
    coded = q.select(F.col(id_col), _codes(F.col("qv")).alias("codes"))
    cols = [F.col(id_col)] + [
        F.col("codes")[s].cast("int").alias(f"code_{s}") for s in range(m)]
    return coded.select(*cols)


def pq_adc_topk(
    query_vec: list[float],
    encoded: DataFrame,
    codebooks: list[list[list[int]]],
    k: int = 5,
    id_col: str = "vec_id",
    scale: int = 100,
) -> DataFrame:
    """Asymmetric-distance top-k: the query builds an m x k integer
    distance table on the driver (tiny), every encoded row scores as m
    integer lookups via a codegen CASE-free expression (element_at on
    a literal array per subspace), and the top-k cut is a distributed
    ``orderBy().limit(k)`` (TakeOrderedAndProject — each partition
    keeps a k-row heap, the driver merges heaps; no stage ever holds
    more than k rows of ordered state). Only the k survivors are then
    ranked, so the rank window is bounded by the config literal k, not
    the corpus. Returns (rank, neighbor_id, adc_dist) — integer-exact,
    so rank order is engine-reproducible with ties to the lowest id."""
    scored = adc_scored(query_vec, encoded, codebooks, scale=scale)
    # TakeOrderedAndProject (distributed per-partition top-k heaps),
    # NOT a partition-less row_number window over the full corpus: a
    # global ordered window funnels every encoded row into ONE
    # partition — the serial-bottleneck plan shape the r12 audit
    # banned. The row_number below runs over <= k rows.
    top = scored.orderBy(F.asc("adc_dist"), F.asc(id_col)).limit(int(k))
    w = Window.orderBy(F.asc("adc_dist"), F.asc(id_col))
    return (top.withColumn("rank", F.row_number().over(w))
            .select("rank", F.col(id_col).alias("neighbor_id"),
                    "adc_dist"))


def adc_scored(
    query_vec: list[float],
    encoded: DataFrame,
    codebooks: list[list[list[int]]],
    scale: int = 100,
) -> DataFrame:
    """The ADC scoring stage of pq_adc_topk, exposed separately so
    ranking strategies can be compared on byte-identical scores (the
    scale-smoke A/B leg) — encoded plus an integer ``adc_dist``."""
    qv = np.asarray(
        [max(-127, min(127, int(np.floor(float(v) * scale))))
         for v in query_vec], dtype=np.int64)
    m = len(codebooks)
    sub = len(codebooks[0][0])
    tables = []
    for s in range(m):
        C = np.asarray(codebooks[s], dtype=np.int64)
        d = ((qv[s * sub:(s + 1) * sub][None, :] - C) ** 2).sum(axis=1)
        tables.append(d)
    dist = None
    for s in range(m):
        # single-Literal ADC table (r16/r17): an int64 ndarray routes
        # through ONE ArrayData Literal; F.lit(list) in the pinned
        # PySpark 4.1 still expands to per-element array(lit, ...)
        # (r16's comment overclaimed — this is the actual fix)
        arr = F.lit(tables[s]).cast("array<long>")
        term = F.element_at(arr, F.col(f"code_{s}") + 1)
        dist = term if dist is None else dist + term
    return encoded.withColumn("adc_dist", dist.cast("long"))


def ivfpq_search(
    query_vec: list[float],
    indexed_encoded: DataFrame,
    centroids: DataFrame,
    codebooks: list[list[list[int]]],
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    scale: int = 100,
) -> DataFrame:
    """IVF-PQ composition (the FAISS-standard shape): the coarse IVF
    quantizer restricts candidates to the nprobe nearest buckets, and
    within them ranking is PQ asymmetric distance — m table lookups
    per candidate instead of a dim-length dot product. Input is the
    join of ivf_build's bucket assignment with pq_encode's codes
    (id, centroid_id, code_0..code_{m-1}); at 100 TB that frame is
    m bytes + a bucket id per vector, the only thing this search ever
    scans. Returns (rank, neighbor_id, adc_dist)."""
    cent = _as_double(
        centroids.select(F.col(centroid_id_col), F.col(vec_col).alias("centv")),
        "centv")
    qlit = F.lit(np.asarray([float(v) for v in query_vec],
                            dtype=np.float64)).cast("array<double>")
    probe_ids = [
        r[centroid_id_col]
        for r in (cent
                  .withColumn("cos", cosine(qlit, F.col("centv")))
                  .orderBy(F.desc("cos"), F.asc(centroid_id_col))
                  .limit(int(nprobe))
                  .collect())]
    bucket = indexed_encoded.filter(
        F.col(centroid_id_col).isin([int(p) for p in probe_ids]))
    return pq_adc_topk(query_vec, bucket, codebooks, k=k,
                       id_col=id_col, scale=scale)
