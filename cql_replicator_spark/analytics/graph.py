"""Iterative graph analytics: deterministic integer-scaled PageRank.

Companion to the connected-components operators (dedup.py): CC answers
"which records are the same entity"; PageRank answers "which entities
matter" (seed-document selection, domain authority for web-corpus
curation, hub detection in entity graphs).

Determinism design: classic PageRank accumulates floating-point
contributions in shuffle order, so no two runs — let alone two engines
— agree bitwise. Here every rank is a BIGINT scaled by ``scale``; the
contribution a node sends each neighbor is ``rank div out_degree``
(integer floor division) and the damping mix is all-integer
(``base + damping_num * sum div damping_den``). Integer sums are
order-independent, so the result is bit-exact across engines, runs,
and partitionings — which is what makes the operator SQL-oracle-able
at all. The floor-division remainder (< out_degree * ulp) leaks a
negligible rank mass per hop, identically in every engine.

Scale shape: each iteration is one equi-join (rank onto edge source —
AQE picks broadcast when the rank frame is small) plus one integer-sum
groupBy on dst; out-degrees are computed once. Iteration count is
fixed and small (power iteration converges geometrically by the
damping factor), and ``checkpoint_every`` cuts lineage on long runs
the same way connected_components does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank_scaled(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    scale: int = 10**12,
    damping_num: int = 85,
    damping_den: int = 100,
    checkpoint_every: int = 8,
) -> DataFrame:
    """Integer-scaled PageRank over a directed edge list.

    Nodes are the union of src and dst values; every node should have
    at least one out-edge (feed an undirected graph as both
    directions), otherwise dangling nodes simply leak their rank each
    hop — documented simplified-PageRank behavior, reproduced exactly
    by the SQL oracle formulation.

    Returns (node LONG, rank_scaled LONG) where rank_scaled sums to
    ~scale over all nodes (minus integer-floor leakage).
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    if not (0 < damping_num < damping_den):
        raise ValueError("need 0 < damping_num < damping_den")

    # The loop re-reads all three per iteration; persist so the source
    # scan happens once, not once per iteration x side (at 100 TB the
    # edge scan IS the cost). Unpersisted below once the final rank is
    # checkpointed off this lineage.
    e = edges.select(F.col(src).cast("long").alias("src"),
                     F.col(dst).cast("long").alias("dst")).persist()
    nodes = (e.select(F.col("src").alias("node"))
             .unionByName(e.select(F.col("dst").alias("node")))
             .distinct().persist())
    deg = e.groupBy("src").agg(F.count("*").alias("deg")).persist()

    n = nodes.count()
    if n == 0:
        # empty edge list: the rank of no nodes is no rows — return the
        # schema-correct empty frame (recompute semantics; an empty
        # graph must not fail the pipeline)
        out = (nodes.select("node",
                            F.lit(0).cast("long").alias("rank_scaled"))
               .filter(F.lit(False)).localCheckpoint(eager=True))
        e.unpersist()
        nodes.unpersist()
        deg.unpersist()
        return out
    base = ((damping_den - damping_num) * scale // damping_den) // n
    init = scale // n

    # NOTE (r16): hoisting the constant deg join out of the loop
    # (persist e⋈deg once, join only rank per iteration) was A/B'd and
    # REJECTED — bench_ab_pagerank.json: ratio 1.064, the edge-sized
    # persist of the widened frame costs more than the per-iteration
    # deg joins it saves, because deg is |src|-sized and AQE broadcasts
    # it (a map-side join, no edge shuffle). The loop shape stands.
    rank = nodes.select("node", F.lit(init).cast("long").alias("r"))
    for i in range(iterations):
        contrib = (
            e.join(rank, e.src == rank.node)
            .join(deg, "src")
            .select(F.col("dst").alias("node"),
                    F.expr("r div deg").alias("c"))
        )
        summed = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        rank = (
            nodes.join(summed, "node", "left")
            .select(
                "node",
                (F.lit(base)
                 + F.expr(f"({damping_num} * coalesce(s, 0L)) "
                          f"div {damping_den}")).cast("long").alias("r"))
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < iterations:
            rank = rank.localCheckpoint(eager=False)
    # materialize the final rank off the cached lineage, then release
    # the inputs — callers get a self-contained frame, nothing leaks
    # into executor memory across calls (r4 ADVICE persist-leak rule)
    out = rank.select("node", F.col("r").alias("rank_scaled")) \
              .localCheckpoint(eager=True)
    e.unpersist()
    nodes.unpersist()
    deg.unpersist()
    return out


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    per_vertex: bool = False,
) -> DataFrame:
    """Triangle counting over an UNDIRECTED edge list (duplicate and
    reversed edges tolerated; self-loops dropped) — the clustering/
    cohesion primitive for entity graphs (community density, spam-farm
    detection in link graphs, graph-quality reporting).

    Scale shape is the degree-ordered wedge join (Suri & Vassilvitskii
    2011, "Counting Triangles and the Curse of the Last Reducer"):
    orient every edge from the (degree, id)-smaller endpoint to the
    larger, so each triangle is counted exactly once at its smallest
    vertex, and — the part that matters at 100 TB — the wedge-
    generating self-join fans out by the OUT-degree of the oriented
    graph, which is O(sqrt(|E|)) per vertex for any graph: a celebrity
    vertex with 10^8 neighbors produces ~zero wedges because nearly
    all its edges orient INTO it. Cost: one degree aggregation, one
    self-join on the wedge pivot, one semi-join existence check of the
    closing edge. No vertex's work exceeds its oriented degree
    squared, bounded by design.

    Returns one row (n_triangles) or per-vertex pivot counts.
    """
    e = (edges.select(F.col(src).cast("long").alias("a"),
                      F.col(dst).cast("long").alias("b"))
         .filter(F.col("a") != F.col("b"))
         .select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
         .distinct())
    deg = (e.select(F.col("u").alias("n")).unionByName(e.select(F.col("v").alias("n")))
           .groupBy("n").agg(F.count("*").alias("deg")))
    # orient by (deg, id): u -> v iff (deg_u, u) < (deg_v, v)
    du = deg.select(F.col("n").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("deg").alias("dv"))
    # each oriented edge carries its TARGET's degree: the wedge pair
    # below must be ordered by the same (deg, id) total order the
    # orientation uses — ordering by id alone would look the closing
    # edge up in the wrong direction whenever deg(y) < deg(x) with
    # y > x, silently dropping those triangles
    oriented = (e.join(du, "u").join(dv, "v")
                .select(F.when((F.col("du") < F.col("dv"))
                               | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                               F.struct(F.col("u").alias("s"), F.col("v").alias("t"),
                                        F.col("dv").alias("dt")))
                        .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("t"),
                                            F.col("du").alias("dt")))
                        .alias("o"))
                .select("o.s", "o.t", "o.dt")
                .persist())
    oriented.count()  # materialize once; read by both wedge sides + closer
    w1, w2 = oriented.alias("w1"), oriented.alias("w2")
    wedge_order = ((F.col("w1.dt") < F.col("w2.dt"))
                   | ((F.col("w1.dt") == F.col("w2.dt"))
                      & (F.col("w1.t") < F.col("w2.t"))))
    wedges = (w1.join(w2, (F.col("w1.s") == F.col("w2.s")) & wedge_order)
              .select(F.col("w1.s").alias("pivot"),
                      F.col("w1.t").alias("x"), F.col("w2.t").alias("y")))
    closer = oriented.select(F.col("s").alias("x"), F.col("t").alias("y"))
    tri = wedges.join(closer, ["x", "y"], "semi")
    if per_vertex:
        out = tri.groupBy(F.col("pivot").alias("node")).agg(
            F.count("*").alias("n_triangles"))
    else:
        out = tri.agg(F.count("*").cast("long").alias("n_triangles"))
    out = out.localCheckpoint(eager=True)
    oriented.unpersist()
    return out
