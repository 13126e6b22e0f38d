"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the whole point of these):
  * exact dedup       — one hash-shuffle on the fingerprint. O(n).
  * MinHash + LSH     — the near-dup scale path: shingle -> k minhashes
    (one groupBy) -> band buckets -> candidate pairs only from shared
    buckets. Never materializes O(n²) pairs; a band bucket with B docs
    yields B(B-1)/2 candidates, and uniform hashing keeps B tiny.
  * n-gram Jaccard    — exact pair scoring; at scale it runs AFTER LSH
    (verify candidates), standalone it's the small-corpus baseline.
  * SimHash           — per-doc 32-bit signature in one explode+groupBy;
    near-dup = small Hamming distance (bucketable by signature prefix).

Everything is hash-portable: the signature hash is the first 8 hex
chars of md5 as a bigint (``md5h32``), expressible identically in
DuckDB for the oracle checks — no dependence on Spark-private hashes.
"""

from __future__ import annotations

import time
import warnings

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

def _graph_partitions(spark, n_edges: int, per_part: int = 250_000) -> int:
    """Shuffle width for the connected-components rounds, sized to the
    GRAPH instead of the session default: the rounds' localCheckpoints
    snapshot physical partitioning, so AQE coalescing never shrinks
    them, and a small pair graph on a wide session conf pays hundreds
    of task launches per round for kilobytes of labels (measured 2x
    whole-query cost at sf0.1). ~250k edges/partition keeps any
    round's partition comfortably in-memory, and the width grows
    linearly with the edge count with NO session-width cap — capping
    at spark.sql.shuffle.partitions (as an earlier version did) would
    pin a 10B-edge graph's checkpointed rounds at the default 200
    partitions, 200x the per-partition memory target, exactly at the
    scale this sizing exists for. The width is applied with EXPLICIT
    .repartition(n, key) on the per-round frames — never by mutating
    session-global spark.sql.shuffle.partitions, which would silently
    narrow queries planned concurrently on other threads (r4 advice)."""
    return max(2, n_edges // per_part + 2)


def md5h32(c: Column) -> Column:
    """Portable 32-bit hash: first 8 md5 hex chars as bigint."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def normalized(text_col: str) -> Column:
    return F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))


# -- exact -------------------------------------------------------------------

def exact_dedup_groups(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Duplicate groups by content fingerprint: (fingerprint, n_docs,
    keeper_id). One shuffle on the 32-hex key; survivors = min id
    (deterministic keeper policy)."""
    return (
        df.select(F.md5(normalized(text_col)).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keeper_id"))
    )


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep one row per distinct content (the min-id keeper)."""
    keep = exact_dedup_groups(df, id_col, text_col).select(
        F.col("keeper_id").alias(id_col))
    return df.join(keep, id_col, "left_semi")


# -- shingling ----------------------------------------------------------------

def gram_array(n: int) -> Column:
    """Distinct word n-gram array from a pre-split `_w` words column.

    Per-row array_distinct replaces the explode->distinct shuffle: all of
    one doc's grams live in its own row, so deduping them never needs to
    move data. At 100 TB that's the difference between a map stage and a
    full shuffle of every gram."""
    w = F.col("_w")
    return F.array_distinct(F.transform(
        F.sequence(F.lit(1), F.size(w) - F.lit(n - 1)),
        lambda i: F.concat_ws(" ", F.slice(w, i, n))))


def _with_words(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Project (id, _w=split words) once so downstream expressions don't
    re-run the normalize+split chain."""
    return df.select(F.col(id_col), F.split(normalized(text_col), " ").alias("_w"))


def shingles(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
             n: int = 3) -> DataFrame:
    """Distinct word n-grams per doc: (id, gram). Docs shorter than n
    words produce no shingles (filtered, same as the oracle)."""
    words = _with_words(df, id_col, text_col)
    return (
        words.filter(F.size("_w") >= n)
        .select(F.col(id_col), F.explode(gram_array(n)).alias("gram"))
    )


def shingle_counts(sh: DataFrame, id_col: str = "doc_id") -> DataFrame:
    return sh.groupBy(id_col).agg(F.count("*").alias("n_grams"))


# -- n-gram Jaccard ---------------------------------------------------------------

def ngram_jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3,
                        threshold_num: int = 1, threshold_den: int = 2) -> DataFrame:
    """Pairs with Jaccard(gram sets) >= threshold_num/threshold_den.

    Integer-exact: emits (id_a, id_b, common, size_a, size_b) and the
    threshold test is cross-multiplied, so no float enters the result.
    Standalone this self-joins on gram (fine when gram frequencies are
    bounded); at 100 TB run it on LSH candidates instead.
    """
    sh = shingles(df, id_col, text_col, n)
    sizes = shingle_counts(sh, id_col)
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.gram") == F.col("b.gram"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count("*").alias("common"))
    )
    sz_a = sizes.select(F.col(id_col).alias("id_a"), F.col("n_grams").alias("size_a"))
    sz_b = sizes.select(F.col(id_col).alias("id_b"), F.col("n_grams").alias("size_b"))
    joined = common.join(F.broadcast(sz_a), "id_a").join(F.broadcast(sz_b), "id_b")
    # common/(size_a+size_b-common) >= num/den  <=>  den*common >= num*(union)
    keep = (F.lit(threshold_den) * F.col("common")
            >= F.lit(threshold_num) * (F.col("size_a") + F.col("size_b") - F.col("common")))
    return joined.filter(keep).select("id_a", "id_b", "common", "size_a", "size_b")


def ngram_containment_pairs(df: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text", n: int = 3,
                            threshold_num: int = 4,
                            threshold_den: int = 5) -> DataFrame:
    """Pairs whose smaller gram set is >= num/den CONTAINED in the other:
    containment(A,B) = |A ∩ B| / min(|A|, |B|).

    Jaccard misses subset duplication — a paragraph pasted inside a much
    longer page scores near zero on Jaccard (union is dominated by the
    long side) but 1.0 on containment, which is why corpus pipelines
    (Broder 1997's original resemblance/containment split; news-article
    and quote dedup) gate on containment as well. Same integer-exact
    cross-multiplied threshold discipline as ngram_jaccard_pairs: no
    float enters the result. Same scale shape too: the gram equi-join is
    the small-corpus/verify formulation — at 100 TB feed it LSH
    candidates instead of the raw corpus.
    """
    sh = shingles(df, id_col, text_col, n)
    sizes = shingle_counts(sh, id_col)
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.gram") == F.col("b.gram"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count("*").alias("common"))
    )
    sz_a = sizes.select(F.col(id_col).alias("id_a"), F.col("n_grams").alias("size_a"))
    sz_b = sizes.select(F.col(id_col).alias("id_b"), F.col("n_grams").alias("size_b"))
    joined = common.join(F.broadcast(sz_a), "id_a").join(F.broadcast(sz_b), "id_b")
    # common/least(size_a,size_b) >= num/den  <=>  den*common >= num*least(...)
    keep = (F.lit(threshold_den) * F.col("common")
            >= F.lit(threshold_num) * F.least("size_a", "size_b"))
    return joined.filter(keep).select("id_a", "id_b", "common", "size_a", "size_b")


# -- MinHash + LSH -----------------------------------------------------------------

# Universal-hash family for minhash: mh_j(x) = (a_j*x + b_j) mod P over
# the md5h32 base hash. One md5 per gram (not k) — 16x less hashing on
# the hot path; a_j/b_j are fixed odd multipliers so both engines (and
# every run) agree.
MINHASH_P = (1 << 31) - 1  # Mersenne prime
MINHASH_A = [(2654435761 * (j + 1)) % MINHASH_P or 1 for j in range(64)]
MINHASH_B = [(40503 * (j + 7) + 17) % MINHASH_P for j in range(64)]


def minhash_signatures(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                       n: int = 3, num_hashes: int = 16) -> DataFrame:
    """k-minhash signature per doc: mh_j = min of (a_j*md5h32(gram)+b_j)
    mod P over the doc's distinct grams.

    Per-row array_distinct shingling means the explode feeds a groupBy
    whose map-side partial aggregation collapses each doc back to one row
    of k longs before the exchange — the shuffle moves ~1 row per doc, not
    one per gram. The k affine mins are flat column expressions, so the
    whole stage runs inside WholeStageCodegen (an array_min-over-transform
    formulation would avoid even the tiny shuffle but drops to interpreted
    per-element lambda eval — measured ~3x slower on the hash arithmetic)."""
    sh = shingles(df, id_col, text_col, n).withColumn("h", md5h32(F.col("gram")))
    aggs = [
        F.min((F.col("h") * MINHASH_A[j] + MINHASH_B[j]) % MINHASH_P).alias(f"mh{j}")
        for j in range(num_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def banded_signatures(signatures: DataFrame, id_col: str = "doc_id",
                      bands: int = 4, rows_per_band: int = 4) -> DataFrame:
    """(id, band, bucket) per signature row — one scan: all band buckets
    built as an array then exploded, instead of a b-way union that
    recomputes the signature plan b times. Shared by the within-corpus
    pair generator and the cross-corpus join form."""
    buckets = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws("|", *[F.col(f"mh{b * rows_per_band + r}").cast("string")
                               for r in range(rows_per_band)]).alias("bucket"))
        for b in range(bands)
    ])
    return (signatures.select(F.col(id_col), F.explode(buckets).alias("bb"))
            .select(F.col(id_col), F.col("bb.band").alias("band"),
                    F.col("bb.bucket").alias("bucket")))


def lsh_candidate_pairs(signatures: DataFrame, id_col: str = "doc_id",
                        bands: int = 4, rows_per_band: int = 4,
                        max_bucket_size: int | None = None) -> DataFrame:
    """Banding: docs sharing any band's signature are candidates.
    (id_a, id_b) distinct, id_a < id_b. Band buckets replace the O(n²)
    similarity matrix.

    Pair generation GROUPS each bucket's ids and emits in-bucket
    combinations, rather than self-joining the banded frame — the
    self-join consumed the signature subtree twice (Spark computes it
    once per side; at 100 TB that re-reads and re-shingles the whole
    corpus), while this form scans signatures ONCE: one groupBy on
    (band, bucket) whose map-side partial collect keeps the shuffle at
    ~1 row per doc per band. Re-measured (warm, alternating, 3 reps,
    sf0.1): grouped 1.78s vs self-join 1.80s — equal warm, because AQE
    covers the self-join's second signature subtree with a
    ReusedExchange; the grouped form's win is structural (no reliance
    on exchange reuse, which a multi-stage pipeline or a non-identical
    subtree breaks) plus the cold first run. Identical pair sets.

    max_bucket_size drops buckets larger than the cap before pair
    explosion — per-bucket work is O(|bucket|²), and at corpus scale a
    degenerate bucket (boilerplate-identical docs) would otherwise
    concentrate quadratic work in one task. LSH theory makes real
    buckets tiny; a cap of a few hundred loses only pairs that exact
    dedup already catches."""
    banded = banded_signatures(signatures, id_col, bands, rows_per_band)
    grouped = (banded.groupBy("band", "bucket")
               .agg(F.collect_list(id_col).alias("ids"))
               .filter(F.size("ids") > 1))
    if max_bucket_size is not None:
        grouped = grouped.filter(F.size("ids") <= max_bucket_size)
    # filter BEFORE struct construction: each x pairs only with the
    # y > x half of its bucket, so the lambda allocates |b|^2/2 structs
    # instead of building all |b|^2 and discarding half post-hoc.
    return (
        grouped.select(F.explode(F.expr(
            "flatten(transform(ids, x -> transform("
            "filter(ids, y -> x < y), y -> struct(x AS id_a, y AS id_b))))"
        )).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def minhash_lsh_dedup_pairs(df: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text", n: int = 3,
                            num_hashes: int = 16, bands: int = 4,
                            persist_signatures: bool = False,
                            max_bucket_size: int | None = None) -> DataFrame:
    """persist_signatures=True caches the ~1-narrow-row-per-doc
    signatures (MEMORY_AND_DISK). With bucket-grouped banding the pair
    generation itself scans signatures only once, so the flag matters
    only when the caller composes further consumers of the signature
    subtree (e.g. banding + a verify stage + cluster stats in one
    pipeline). Off by default. The caller owns the unpersist — the
    returned plan references the cached frame lazily, so eager cleanup
    here would defeat the cache.

    max_bucket_size forwards to lsh_candidate_pairs: per-bucket pair
    work is O(|bucket|²), so at corpus scale ONE degenerate bucket
    (boilerplate-identical docs) concentrates quadratic work in a
    single task — the 20x amplification smoke measured a 34x blowup on
    exactly this shape. Production callers should always cap."""
    sigs = minhash_signatures(df, id_col, text_col, n, num_hashes)
    if persist_signatures:
        from pyspark import StorageLevel
        sigs = sigs.persist(StorageLevel.MEMORY_AND_DISK)
    return lsh_candidate_pairs(sigs, id_col, bands, num_hashes // bands,
                               max_bucket_size=max_bucket_size)


# -- cluster formation --------------------------------------------------------------

def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
    strict: bool = True,
    algorithm: str = "min_label",
    stats: dict | None = None,
) -> DataFrame:
    """Near-dup pair graph -> components: (doc_id, cluster_id) with
    cluster_id = min doc id in the component — the step that turns
    pairwise candidates into canonical keep/drop groups (transitive:
    A~B, B~C puts A,C in one cluster even if LSH never paired them).

    Min-label propagation: each round every node takes the min of its
    own and its neighbors' labels (one groupBy shuffle per round),
    stopping at fixpoint. Rounds needed = graph diameter; near-dup
    components are small and dense (diameter ≤ a few hops), so this
    converges in 2-4 rounds at any corpus size — the per-round cost is
    edge-count-shaped, never O(n²). For adversarial long-chain graphs
    swap in large-star/small-star (path doubling, O(log n) rounds);
    the fixpoint loop and result contract stay identical. Each round
    localCheckpoints its labels (eager): persist alone truncates only
    the PHYSICAL recompute — the analyzed logical plan would still grow
    ~3x per round (labels referenced by the union, the join, and the
    changed-count) and OOM the driver compiling round ~15's plan.
    Checkpointing cuts the lineage so every round's plan is one round
    deep; the driver only ever sees a changed-row COUNT. (On a real
    cluster prefer ``sc.setCheckpointDir`` + ``.checkpoint()`` if
    executor loss during the loop must be survivable — localCheckpoint
    state dies with its executor.)

    If the fixpoint is not reached within max_iterations the labels are
    WRONG (one true cluster split into several): strict=True (default)
    raises RuntimeError; strict=False warns and returns the partial
    labels. The returned frame references the final round's persisted
    labels — the CALLER owns the unpersist (``result.unpersist()`` /
    ``spark.catalog.clearCache()`` after consuming), because eager
    cleanup here would force a full-lineage recompute on first use.

    algorithm="star" dispatches to connected_components_star (same
    contract, O(log n) rounds on adversarial-diameter graphs).

    stats, if given, is filled with {"rounds": int, "round_secs":
    [float], "round_changed": [int], "n_edges": int} — the scale smoke
    uses it to pin that rounds track graph DIAMETER, not corpus size
    (min_label branch only).
    """
    if algorithm == "star":
        return connected_components_star(
            pairs, id_a, id_b, max_iterations, strict)
    if algorithm != "min_label":
        raise ValueError(f"unknown algorithm {algorithm!r}; "
                         "expected 'min_label' or 'star'")
    # symmetrize with a per-row explode, not a self-union: the union's two
    # branches would each evaluate the full upstream pairs plan (for LSH
    # input that means shingling the corpus twice) before the persist can
    # help. The explode reads pairs ONCE and emits both directions.
    edges = (
        pairs.select(F.explode(F.array(
            F.struct(F.col(id_a).alias("src"), F.col(id_b).alias("dst")),
            F.struct(F.col(id_b).alias("src"), F.col(id_a).alias("dst")),
        )).alias("e"))
        .select("e.src", "e.dst")
        .distinct()
        .persist()
    )
    spark = pairs.sparkSession
    n_edges = edges.count()  # also materializes the cache
    n_part = _graph_partitions(spark, n_edges)
    # dst-partitioned edge view, persisted once: every round's neighbor
    # join then reads edges from cache already hash-partitioned on the
    # join key, so the join re-shuffles only the LABEL side (the
    # checkpointed labels frame scans as an ExistingRDD without
    # partitioning metadata — verified in the executed plan: edge side
    # sorts in place, no Exchange). A round therefore pays two
    # label-sized exchanges (join side + the explicit repartition
    # before the groupBy) and ZERO edge shuffles — strictly better
    # than the former session-conf narrowing, which re-shuffled edges
    # every round AND leaked a narrowed width to concurrently-planned
    # queries (r4 advice). The explicit repartition trades away the
    # groupBy's pre-shuffle combine, but that combine only compressed
    # label rows ~2x while the conf mutation cost a lock and global
    # state — label rows are the cheapest bytes in the job.
    edges_j = edges.repartition(n_part, "dst").persist()
    # init = round one fused: label(u) = min(u, min neighbor) straight
    # off the edge list (one groupBy), instead of identity labels plus a
    # full propagate round. Small dense near-dup components (pairs,
    # triangles) converge here and pay only the confirmation round.
    # lazy checkpoint: round 1 references this three times (join side,
    # old-label side, count) but a lazy localCheckpoint materializes
    # once at the first action and is reused — folding the init job
    # into round 1's count saves one whole job per call.
    labels = (edges.repartition(n_part, "src").groupBy("src")
              .agg(F.least(F.col("src"), F.min("dst")).alias("label"))
              .select(F.col("src").alias("id"), "label")
              .localCheckpoint(eager=False))
    backing = labels  # the checkpointed frame holding current labels
    if stats is not None:
        stats.update({"rounds": 0, "round_secs": [],
                      "round_changed": [], "n_edges": n_edges})
    try:
        changed = None
        for _ in range(max_iterations):
            _round_t0 = time.perf_counter()
            # change detection FUSED into the round's one groupBy: old
            # labels ride the union tagged is_old, so min(new label) and
            # the old label come out of the same aggregation — no
            # new-vs-old join stage per round. Every node appears in
            # `labels` (init covers all srcs, and edges are symmetric),
            # so old_label is never null.
            nbr = edges_j.join(
                labels.select(F.col("id").alias("dst"), "label"), "dst"
            ).select(F.col("src").alias("id"), "label",
                     F.lit(False).alias("is_old"))
            # lazy checkpoint: the changed-count below is the single
            # action that materializes this round AND truncates lineage
            # — eager=True would spend an extra job per round
            agg = (
                labels.withColumn("is_old", F.lit(True)).unionByName(nbr)
                .repartition(n_part, "id")
                .groupBy("id").agg(
                    F.min("label").alias("label"),
                    F.max(F.when(F.col("is_old"), F.col("label")))
                     .alias("old_label"))
                .localCheckpoint(eager=False)
            )
            changed = agg.filter(F.col("label") != F.col("old_label")).count()
            if stats is not None:
                stats["rounds"] += 1
                stats["round_secs"].append(
                    round(time.perf_counter() - _round_t0, 3))
                stats["round_changed"].append(changed)
            backing.unpersist()
            backing = agg
            labels = agg.select("id", "label")
            if changed == 0:
                break
        if changed != 0:
            msg = (f"connected_components did not converge within "
                   f"{max_iterations} iterations ({changed} labels still "
                   f"changing) — components would be over-split. Raise "
                   f"max_iterations, or use connected_components_star for "
                   f"long-chain graphs (O(log n) rounds).")
            if strict:
                backing.unpersist()
                raise RuntimeError(msg)
            warnings.warn(msg, RuntimeWarning, stacklevel=2)
        return labels.select(F.col("id").alias("doc_id"),
                             F.col("label").alias("cluster_id"))
    finally:
        edges_j.unpersist()
        edges.unpersist()


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 50,
    strict: bool = True,
) -> DataFrame:
    """Alternating large-star/small-star connected components
    (Kiveris et al., "Connected Components in MapReduce and Beyond"):
    converges in O(log n) rounds even on adversarial long-chain graphs,
    where min-label propagation needs diameter rounds. Same contract as
    connected_components: (doc_id, cluster_id = min id in component).

    large-star: every node attaches its LARGER neighbors to the min of
    its closed neighborhood — long chains halve each round (path
    doubling). small-star: every node attaches its smaller neighbors
    (and itself) to its minimum neighbor, canonicalizing toward a star.
    Fixpoint = the edge set is stable = every edge points a node at its
    component's min. Each round is two edge-shaped groupBy shuffles —
    no O(n²) blowup; per-round cost tracks the (shrinking) edge count.
    Rounds localCheckpoint (eager) like min-label: the round plan
    references the previous edge set ~12x, so lineage MUST be cut, not
    just cached, or plan compilation alone is exponential.

    The returned labels frame references the final round's checkpointed
    star edges — caller owns the cleanup, as with min-label."""
    canon = (
        pairs.select(
            F.greatest(F.col(id_a), F.col(id_b)).alias("src"),
            F.least(F.col(id_a), F.col(id_b)).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .persist()
    )
    nodes = (canon.select(F.col("src").alias("id"))
             .unionByName(canon.select(F.col("dst").alias("id")))
             .distinct().persist())
    spark = pairs.sparkSession
    # Edge-count-sized round shuffles, same rationale as
    # connected_components: checkpointed rounds never benefit from AQE
    # coalescing, so pick the width explicitly — via per-frame
    # repartition, never session conf (r4 advice). Each explicit
    # repartition below is ALSO the round's only exchange for its
    # half: hash-partitioning by src satisfies every downstream
    # groupBy("src"), join on src, and (src, dst) distinct in that
    # half, so Catalyst inserts no further shuffles.
    n_edges = canon.count()  # also materializes the cache
    n_part = _graph_partitions(spark, n_edges)
    cur = canon
    converged = False
    try:
        for _ in range(max_iterations):
            # large-star over the symmetrized view: for node u with
            # closed-neighborhood min m, emit (v, m) for each neighbor
            # v > u. Keeps edges canonical (src > dst) by construction.
            und = cur.unionByName(
                cur.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            ).repartition(n_part, "src")
            mins = (und.groupBy("src").agg(F.min("dst").alias("mn"))
                    .select("src", F.least("src", "mn").alias("m")))
            lrg = (und.join(mins, "src")
                   .filter(F.col("dst") > F.col("src"))
                   .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
                   .filter(F.col("src") != F.col("dst"))
                   .repartition(n_part, "src")
                   .distinct())
            # small-star on the (already src>dst) directed edges: node u
            # re-points its smaller neighbors (and itself) at its min.
            mins2 = lrg.groupBy("src").agg(F.min("dst").alias("m"))
            sml = (lrg.join(mins2, "src")
                   .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
                   .unionByName(mins2.select("src", F.col("m").alias("dst")))
                   .filter(F.col("src") != F.col("dst"))
                   .repartition(n_part, "src")
                   .distinct()
                   # lazy: the delta count below is the round's single
                   # action — it materializes this checkpoint AND
                   # computes the convergence delta in one job
                   # (eager=True spent an extra job per round; the
                   # min-label variant already rode this trick, r16)
                   .localCheckpoint(eager=False))
            # convergence check width-bounded like everything else in
            # the round: a bare exceptAll would shuffle both sides at
            # the session default (hundreds of tasks for kilobytes of
            # edges — the exact overhead the explicit n_part sizing
            # exists to avoid). Both frames are distinct (src, dst)
            # sets, so the signed-union count of unbalanced rows IS
            # the symmetric difference; repartitioning on (src, dst)
            # satisfies the groupBy clustering, one n_part shuffle.
            delta = (
                sml.withColumn("__t", F.lit(1))
                .unionByName(cur.withColumn("__t", F.lit(-1)))
                .repartition(n_part, "src", "dst")
                .groupBy("src", "dst").agg(F.sum("__t").alias("__d"))
                .filter("__d != 0").count())
            if cur is not canon:
                cur.unpersist()
            cur = sml
            if delta == 0:
                converged = True
                break
        if not converged:
            msg = (f"connected_components_star did not converge within "
                   f"{max_iterations} iterations — components would be "
                   f"over-split.")
            if strict:
                if cur is not canon:
                    cur.unpersist()
                raise RuntimeError(msg)
            warnings.warn(msg, RuntimeWarning, stacklevel=2)
        # star edges point every non-center node at its component min;
        # centers (and any node the final star omits) label themselves.
        return (nodes.join(cur.withColumnRenamed("src", "id"), "id", "left")
                .select(F.col("id").alias("doc_id"),
                        F.coalesce(F.col("dst"), F.col("id")).alias("cluster_id")))
    finally:
        canon.unpersist()


# -- SimHash ------------------------------------------------------------------------

def simhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", bits: int = 32) -> DataFrame:
    """Per-doc SimHash over distinct tokens: bit i is the sign of
    sum(±1) of token-hash bit i.

    One explode, ONE groupBy carrying all `bits` sums as codegen'd
    aggregates — no tokens×bits explode (32x row inflation) and no second
    shuffle. Map-side partial aggregation collapses each doc to a single
    row of `bits` longs before the exchange, so the shuffle moves ~1 row
    per doc regardless of corpus token count."""
    # internal column names share a prefix id_col does not start with,
    # so none of them can collide with (and shadow) the id column
    pre = "__sh_"
    while id_col.startswith(pre):
        pre += "_"
    hashed = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(F.split(normalized(text_col), " "))).alias(f"{pre}tok"),
    ).select(F.col(id_col), md5h32(F.col(f"{pre}tok")).alias(f"{pre}h"))
    # The bits x (shift/and/mul/sub/sum/alias) Column-op construction
    # cost ~1 s of driver py4j round-trips PER CALL (measured r17 —
    # pure query-build overhead, ~200 JVM calls); each aggregate and
    # the bit-recombine are now single F.expr strings with identical
    # expression semantics, built in `bits`+1 JVM calls total.
    sums = hashed.groupBy(id_col).agg(*[
        F.expr(f"sum((shiftright(`{pre}h`, {i}) & 1) * 2 - 1) AS `{pre}s{i}`")
        for i in range(bits)
    ])
    simhash = F.expr(
        "CAST(" + " + ".join(
            f"(CASE WHEN `{pre}s{i}` > 0 THEN CAST({1 << i} AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END)"
            for i in range(bits)) + " AS BIGINT)")
    return sums.select(F.col(id_col), simhash.alias("simhash"))


def simhash_hamming_pairs(df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text", bits: int = 32,
                          bands: int = 4, max_hamming: int = 3,
                          max_bucket_size: int | None = None) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance: (id_a, id_b, hamming)
    with hamming = popcount(sig_a XOR sig_b) <= max_hamming, id_a < id_b.

    Prefix bucketing makes this exact WITHOUT all-pairs: slice the
    signature into `bands` equal-width bit bands; by pigeonhole, two
    signatures within Hamming distance k < bands must agree exactly on
    at least one band. So bucketing each doc `bands` times on its band
    values and pairing only within buckets loses nothing — the
    bit_count verify inside the bucket filters the band-collision false
    positives. Same bucket-grouped single-scan topology as
    lsh_candidate_pairs: one explode (bands rows/doc), one groupBy
    shuffle, per-bucket O(|bucket|²) pair work capped by
    max_bucket_size against degenerate boilerplate buckets."""
    if bands <= max_hamming:
        raise ValueError(
            f"bands ({bands}) must exceed max_hamming ({max_hamming}) for "
            "the shared-band guarantee (pigeonhole)")
    if bits % bands:
        raise ValueError(f"bits ({bits}) must divide evenly into {bands} bands")
    width = bits // bands
    mask = (1 << width) - 1
    sigs = simhash_signatures(df, id_col, text_col, bits)
    slices = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("simhash"), b * width)
             .bitwiseAND(F.lit(mask)).alias("bucket"))
        for b in range(bands)
    ])
    banded = (sigs.select(F.col(id_col), "simhash", F.explode(slices).alias("bb"))
              .select(F.col(id_col).alias("id"), "simhash",
                      F.col("bb.band").alias("band"),
                      F.col("bb.bucket").alias("bucket")))
    grouped = (banded.groupBy("band", "bucket")
               .agg(F.collect_list(F.struct("id", "simhash")).alias("xs"))
               .filter(F.size("xs") > 1))
    if max_bucket_size is not None:
        grouped = grouped.filter(F.size("xs") <= max_bucket_size)
    # The Hamming predicate runs INSIDE the bucket lambda, before any
    # struct is built: a coarse band (2^width values) makes in-bucket
    # membership O(|bucket|^2), but survivors are rare, so filtering on
    # the primitive xor/bit_count first cuts struct allocation and
    # Generate output from |b|^2/2 rows to only the true near-dup pairs
    # (~70x fewer at sf0.1) — the downstream distinct then shuffles
    # kilobytes, not the full candidate blow-up.
    return (
        grouped.select(F.explode(F.expr(
            f"flatten(transform(xs, x -> transform("
            f"filter(xs, y -> x.id < y.id AND "
            f"bit_count(x.simhash ^ y.simhash) <= {int(max_hamming)}), "
            f"y -> struct(x.id AS id_a, y.id AS id_b, "
            f"CAST(bit_count(x.simhash ^ y.simhash) AS BIGINT) AS hamming))))"
        )).alias("p"))
        .select("p.id_a", "p.id_b", "p.hamming")
        .distinct()
    )


# -- cross-document boilerplate chunk dedup -----------------------------------------

def common_chunk_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 2,
    max_doc_freq: int = 2,
) -> DataFrame:
    """C4-style cross-document span dedup (Raffel et al. 2020 remove
    any three-sentence span occurring more than once in the corpus;
    with single-line docs the unit is a fixed token window): a chunk
    appearing in more than ``max_doc_freq`` distinct documents is
    boilerplate and is dropped from every document that carries it.

    Returns per-doc removal accounting: (id, n_chunks, n_dup_chunks,
    n_tokens_kept) — the shape a curation pipeline feeds its size
    budget from.

    Plan: chunking is a pure array expression (sequence + slice — no
    UDF); doc frequency is one (chunk, id)-distinct + chunk-keyed
    count — the same token-shaped shuffle as shingling, map-side
    combined; the join back to chunk instances is chunk-keyed (AQE
    picks broadcast when the frequent-chunk table is small, which at
    any scale it is: boilerplate is by definition the head of the
    distribution); the final per-doc rollup is one id-keyed
    aggregation. Nothing is quadratic and no text ever re-flows after
    the chunk projection."""
    c = int(chunk_tokens)
    # tokenize once into a column — split(...) referenced inside the
    # chunk lambda would re-split the text per chunk (O(n^2) per doc)
    chunk_arr = F.expr(
        f"transform(sequence(0, (size(w) + {c} - 1) div {c} - 1), "
        f"i -> array_join(slice(w, i * {c} + 1, {c}), ' '))")
    inst = (df.select(F.col(id_col),
                      F.split(F.col(text_col), " ").alias("w"))
            .select(F.col(id_col), F.explode(chunk_arr).alias("chunk")))
    doc_freq = (inst.select("chunk", id_col).distinct()
                .groupBy("chunk").agg(F.count("*").alias("doc_freq")))
    tok_n = F.size(F.split(F.col("chunk"), " "))
    return (
        inst.join(doc_freq, "chunk")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_chunks"),
             F.sum(F.when(F.col("doc_freq") > max_doc_freq, 1).otherwise(0))
              .cast("long").alias("n_dup_chunks"),
             F.sum(F.when(F.col("doc_freq") <= max_doc_freq, tok_n)
                   .otherwise(0)).cast("long").alias("n_tokens_kept"))
    )


# -- cross-split contamination ------------------------------------------------------

def contamination_pairs(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 4,
    min_common: int = 3,
) -> DataFrame:
    """Train/eval contamination detector: (train_id, eval_id,
    n_common_grams) for every cross-split pair sharing >= min_common
    distinct word n-grams — the decontamination pass an LLM training
    pipeline runs before the corpus ships (eval answers leaking into
    pretraining data corrupt every downstream benchmark).

    Shape mirrors ngram_jaccard_pairs but joins ACROSS frames, so the
    pair space is |train| x |eval| gram-bucketed, never a self-join:
    at 100 TB the eval side is benchmarks (thousands of docs, not
    billions) — its shingle table broadcasts, making the whole check a
    map-side semi-join over the train scan plus one (train_id, eval_id)
    aggregate whose input is only the matching grams. No explicit
    broadcast hint: the eval shingle table is derived (explode), so
    compile-time size estimates are unreliable — a forced hint would
    be honored even when eval outgrows the threshold and OOM the
    driver. AQE's runtime statistics convert the gram-keyed shuffle
    join to a broadcast join when eval is genuinely small, and keep
    the (still gram-bucketed) shuffle join when it is not.
    """
    sh_t = (shingles(train, id_col, text_col, n)
            .select(F.col(id_col).alias("train_id"), "gram"))
    sh_e = (shingles(eval_df, id_col, text_col, n)
            .select(F.col(id_col).alias("eval_id"), "gram"))
    return (
        sh_t.join(sh_e, "gram")
        .groupBy("train_id", "eval_id")
        .agg(F.count("*").alias("n_common_grams"))
        .filter(F.col("n_common_grams") >= min_common)
    )


def blocked_fuzzy_links(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    left_text: str,
    right_text: str,
    block_col: str = "block",
    max_dist: int = 1,
    best_only: bool = True,
    max_block_size: int | None = None,
) -> DataFrame:
    """Blocked fuzzy record linkage: candidate pairs come ONLY from
    equi-joining a caller-supplied blocking key (prefix, phonetic code,
    length bucket — both frames must already carry ``block_col``), then
    verify with edit distance <= max_dist. The classic
    blocking-then-verify shape: the O(|L| x |R|) all-pairs comparison
    never exists — work is sum over blocks of |L_b| x |R_b|, and
    ``max_block_size`` drops degenerate blocks (a stop-word-like block
    would otherwise quadratically dominate, same cap pattern as the
    LSH/simhash pair generators).

    best_only keeps each left record's single best link
    (min distance, then right id — total order, deterministic);
    otherwise all verified pairs return.
    Output: (left_id, right_id, dist).
    """
    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    if left_id == right_id:
        raise ValueError(
            f"left_id and right_id are both {left_id!r}: the output carries "
            "one column per side, so give them distinct names (alias one "
            "side before calling)")
    # Alias both sides internally so linking two same-schema frames
    # (the canonical record-linkage call: register vs register) never
    # hits AMBIGUOUS_REFERENCE — only the block key is deduplicated by
    # the join. Output columns keep the caller's names.
    l = left.select(F.col(left_id).alias("__lid"),
                    F.col(left_text).alias("__ltxt"),
                    F.col(block_col).alias(block_col))
    r = right.select(F.col(right_id).alias("__rid"),
                     F.col(right_text).alias("__rtxt"),
                     F.col(block_col).alias(block_col))
    if max_block_size is not None:
        sizes = (r.groupBy(block_col)
                 .agg(F.count("*").alias("__bn"))
                 .filter(F.col("__bn") <= max_block_size)
                 .drop("__bn"))
        r = r.join(sizes, block_col)
    dist = F.levenshtein(F.col("__ltxt"), F.col("__rtxt"))
    cand = (
        l.join(r, block_col)
        .select(F.col("__lid").alias(left_id),
                F.col("__rid").alias(right_id),
                dist.cast("int").alias("dist"))
        .filter(F.col("dist") <= max_dist)
    )
    if not best_only:
        return cand
    w = Window.partitionBy(left_id).orderBy("dist", right_id)
    return (cand.withColumn("__rn", F.row_number().over(w))
            .filter("__rn = 1").drop("__rn"))


def cluster_keepers(
    clusters: DataFrame,
    quality: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    quality_col: str = "quality",
) -> DataFrame:
    """Keeper selection — the policy step that turns dedup clusters into
    a keep/drop decision. Joins (id, cluster) with a per-doc quality
    frame and keeps each cluster's best document under the total order
    (quality desc, id asc); ties can't make two engines disagree.

    Canonical min-id labeling (connected_components) answers "which
    docs are the same"; this answers "which copy survives" — real
    pipelines keep the longest/cleanest/highest-scoring copy, not the
    smallest id (the C4/RefinedWeb recipe). One window over the
    cluster key: |members| rows shuffled once, counts ride the same
    partition.

    Returns (cluster_id, keeper_id, keeper_quality, n_members).
    """
    # LEFT join: a member without a quality row must still count toward
    # n_members and stay eligible (it sorts last — desc places NULLs
    # after every scored member in both Spark and DuckDB). An inner
    # join here would silently shrink clusters, and a cluster with no
    # scored member would vanish entirely — letting every one of its
    # near-duplicate copies survive dedup with no signal.
    m = clusters.select(F.col(id_col), F.col(cluster_col)).join(
        quality.select(F.col(id_col), F.col(quality_col)), id_col, "left")
    w = Window.partitionBy(cluster_col).orderBy(F.desc(quality_col), id_col)
    wc = Window.partitionBy(cluster_col)
    return (
        m.withColumn("__rn", F.row_number().over(w))
        .withColumn("n_members", F.count("*").over(wc).cast("long"))
        .filter("__rn = 1")
        .select(F.col(cluster_col),
                F.col(id_col).alias("keeper_id"),
                F.col(quality_col).alias("keeper_quality"),
                "n_members")
    )


def cross_corpus_lsh_pairs(
    new_sigs: DataFrame,
    corpus_sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Incremental-ingest near-dup candidates: new documents vs an
    EXISTING corpus, via a (band, bucket) equi-join between the two
    banded signature frames — the incremental form of MinHash-LSH.

    This is the shape a live pipeline actually runs: the corpus's
    signatures are computed once and persisted with the snapshot; each
    ingest batch (e.g. the CDC insert set) signs only its own
    documents and joins — cost scales with the BATCH, never the
    corpus. Contrast with re-running within-corpus LSH over
    corpus ∪ batch, which re-shingles everything. max_bucket_size
    drops degenerate corpus buckets (boilerplate) before the join,
    same cap rationale as lsh_candidate_pairs.

    Returns distinct (new_id, corpus_id).
    """
    nb = (banded_signatures(new_sigs, id_col, bands, rows_per_band)
          .withColumnRenamed(id_col, "new_id"))
    cb = (banded_signatures(corpus_sigs, id_col, bands, rows_per_band)
          .withColumnRenamed(id_col, "corpus_id"))
    if max_bucket_size is not None:
        sizes = (cb.groupBy("band", "bucket")
                 .agg(F.count("*").alias("__bn"))
                 .filter(F.col("__bn") <= max_bucket_size)
                 .drop("__bn"))
        cb = cb.join(sizes, ["band", "bucket"])
    return (nb.join(cb, ["band", "bucket"])
            .select("new_id", "corpus_id")
            .distinct())


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold_num: int = 1,
    threshold_den: int = 2,
) -> DataFrame:
    """All pairs with word-set Jaccard >= num/den via PREFIX FILTERING
    (PPJoin family — Chaudhuri et al. 2006, Xiao et al. 2008): instead
    of joining documents on EVERY shared token (the brute-force shape,
    whose candidate count is driven by stopwords), sort each document's
    token set by ascending global document frequency and join only on
    the first |A| - ceil(t*|A|) + 1 tokens.

    Lossless: if J(A,B) >= t then |A ∩ B| >= t*|A| (the union is at
    least |A|), so the intersection cannot fit inside the ceil(t*|A|)-1
    tokens a prefix omits — every qualifying pair shares a PREFIX token
    on both sides. Because the global order puts RARE tokens first,
    prefixes are made of low-frequency tokens and the candidate join
    fans out by rare-token df, not stopword df — the difference between
    |pairs sharing 'the'| and |pairs sharing 'pneumonia'| is the whole
    scale win. Exact verification (one array_intersect over the
    candidate pairs) keeps the RESULT identical to brute force — which
    is precisely what the oracle checks.

    Output: (id_a, id_b, common, size_a, size_b), integer-exact
    threshold, distinct word sets (multiplicity ignored, standard for
    set-similarity joins).
    """
    tn, td = int(threshold_num), int(threshold_den)
    toks = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(F.split(normalized(text_col), " ")))
        .alias("tok"))
    # global document frequency -> the canonical token order; vocab-sized,
    # AQE broadcasts it back onto the token stream
    gdf = toks.groupBy("tok").agg(F.count("*").alias("df"))
    ordered = (
        toks.join(gdf, "tok")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list(F.struct("df", "tok"))).alias("ord")))
    # localCheckpoint: three consumers read this row-per-doc frame (the
    # prefix stream and the two array re-attach sides) and Spark plans
    # no exchange reuse across them — without the checkpoint each one
    # re-derives the scan->df-join->collect_list subtree (8 corpus
    # scans in the audited plan; 2 with it). Same fail-fast trade as
    # distrank: executor loss re-runs the query, never a re-sampled
    # subtree.
    sized = ordered.select(
        F.col(id_col),
        F.expr("transform(ord, s -> s.tok)").alias("toks"),
        F.size("ord").alias("sz")).localCheckpoint()
    # prefix length |A| - ceil(t|A|) + 1, all-integer ceil (true div —
    # float division would lose exactness on huge set sizes)
    plen = F.col("sz") - F.expr(f"({tn} * sz + {td - 1}) div {td}") + 1
    # NARROW candidate stream (the standard PPJoin layout, and the r14
    # sf0.1 OOM fix): the prefix explode and the prefix self-join carry
    # (id, ptok) ONLY. The previous form exploded the FULL token array
    # alongside every prefix token (a 40-prefix doc stored its array 40
    # times) and shuffled BOTH arrays through the candidate dedup — a
    # hot prefix token's F^2 candidate rows were each two full arrays
    # wide, which is what blew a 1 GiB heap at sf0.1 while the narrow
    # form's worst row is 16 bytes. Token arrays re-attach AFTER the
    # (id_a, id_b) dedup, by two corpus-sized joins whose output feeds
    # the verification filter in the same stage (arrays never shuffle).
    pref = sized.select(
        F.col(id_col),
        F.explode(F.slice("toks", F.lit(1), plen)).alias("ptok"))
    a, b = pref.alias("a"), pref.alias("b")
    cand_ids = (a.join(b, (F.col("a.ptok") == F.col("b.ptok"))
                       & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
                .select(F.col(f"a.{id_col}").alias("id_a"),
                        F.col(f"b.{id_col}").alias("id_b"))
                .dropDuplicates(["id_a", "id_b"]))
    sa = sized.select(F.col(id_col).alias("id_a"),
                      F.col("toks").alias("toks_a"),
                      F.col("sz").alias("size_a"))
    sb = sized.select(F.col(id_col).alias("id_b"),
                      F.col("toks").alias("toks_b"),
                      F.col("sz").alias("size_b"))
    cand = cand_ids.join(sa, "id_a").join(sb, "id_b")
    common = F.size(F.array_intersect("toks_a", "toks_b"))
    keep = (F.lit(td) * common
            >= F.lit(tn) * (F.col("size_a") + F.col("size_b") - common))
    return (cand.withColumn("common", common.cast("long"))
            .filter(keep)
            .select("id_a", "id_b", "common",
                    F.col("size_a").cast("long").alias("size_a"),
                    F.col("size_b").cast("long").alias("size_b")))


def minhash_accuracy_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket_size: int | None = None,
    signatures: DataFrame | None = None,
    pairs: DataFrame | None = None,
    shingle_frame: DataFrame | None = None,
) -> DataFrame:
    """Estimator-quality audit for the MinHash infrastructure: for
    every LSH candidate pair, the signature-agreement Jaccard estimate
    (fraction of equal minhash components — the unbiased estimator the
    banding scheme is built on) NEXT TO the exact shingle-set Jaccard,
    with the absolute error. This is the monitoring query an
    approximate-dedup deployment runs on a sample to verify its
    signatures are behaving (E[err] ~ 1/sqrt(k) for k hashes); a bad
    hash family or a shingling bug shows up here before it silently
    over/under-deduplicates a corpus.

    Cost shape: candidates come from the same capped banding path as
    production (never all pairs); the exact-Jaccard verification joins
    shingles only for candidate pairs — per-pair work bounded by doc
    shingle counts, the same bound the verified-LSH path already pays.
    """
    # signatures are consumed three times (banding, est side a, est
    # side b) and pairs twice (est, exact). NO checkpoint here, on
    # purpose: the signature groupBy's Exchange is an identical
    # subtree for every consumer, so Spark's ReusedExchange computes
    # it once within the job — measured (interleaved A/B, 6 passes,
    # sf0.1, bench_ab_forms.json): eager localCheckpoints made this
    # 1.45x SLOWER by serializing the pipeline into sequential jobs
    # for frames the exchange reuse already deduplicated.
    # signatures/pairs accept a PRECOMPUTED (typically persisted) frame
    # so a multi-lane pipeline (pairs + clusters + keepers + this audit
    # over one corpus) shares the candidate stage instead of
    # re-shingling per lane; must be the same (n, num_hashes, bands,
    # cap) configuration or the audit measures the wrong estimator.
    sigs = (signatures if signatures is not None
            else minhash_signatures(df, id_col, text_col, n, num_hashes))
    if pairs is None:
        pairs = lsh_candidate_pairs(sigs, id_col, bands,
                                    num_hashes // bands,
                                    max_bucket_size=max_bucket_size)
    sa = sigs.select(F.col(id_col).alias("id_a"),
                     *[F.col(f"mh{j}").alias(f"a{j}") for j in range(num_hashes)])
    sb = sigs.select(F.col(id_col).alias("id_b"),
                     *[F.col(f"mh{j}").alias(f"b{j}") for j in range(num_hashes)])
    agree = sum(F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0)
                for j in range(num_hashes))
    est = (pairs.join(sa, "id_a").join(sb, "id_b")
           .select("id_a", "id_b",
                   F.round(agree / F.lit(float(num_hashes)), 6)
                    .alias("est_jaccard")))

    # shingle_frame: the exact stage consumes shingles three times
    # (sizes, side a, side b) through three DIFFERENT exchanges, so
    # exchange reuse never applies and the corpus is re-scanned per
    # consumer. A caller-persisted frame makes it one scan, but the
    # interleaved A/B (bench_ab_accshingles.json: 0.959/0.997 over
    # 6/10 passes at sf0.1) measured warm-EQUAL — the gram stream is
    # corpus-sized, so the persist traffic offsets the saved scans.
    # The parameter exists for callers whose storage tier makes the
    # trade differently (e.g. memory-resident grams); caller owns the
    # persist/unpersist lifetime.
    sh = (shingle_frame if shingle_frame is not None
          else shingles(df, id_col, text_col, n))
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("nsz"))
    xa = sh.select(F.col(id_col).alias("id_a"), "gram")
    xb = sh.select(F.col(id_col).alias("id_b"), "gram")
    inter = (pairs.join(xa, "id_a").join(xb, ["id_b", "gram"])
             .groupBy("id_a", "id_b").agg(F.count("*").alias("i")))
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("nsz").alias("na"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("nsz").alias("nb"))
    exact = (inter.join(na, "id_a").join(nb, "id_b")
             .select("id_a", "id_b",
                     F.round(F.col("i").cast("double")
                             / (F.col("na") + F.col("nb") - F.col("i")), 6)
                      .alias("exact_jaccard")))
    return (est.join(exact, ["id_a", "id_b"])
            .select("id_a", "id_b", "est_jaccard", "exact_jaccard",
                    F.round(F.abs(F.col("est_jaccard")
                                  - F.col("exact_jaccard")), 6)
                     .alias("abs_err")))
