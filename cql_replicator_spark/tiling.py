"""Tile assignment — hash-sharding of the primary-key space.

The reference shards every table into N "tiles" with
``abs(xxhash64(concat(pk_cols cast to string))) % totalTiles``
(CQLReplicator.scala K:1832-1843, parquet P:1528, dynamodb D:2401,
PrimaryKeyReconciliation R:400-403), flattening tuple-typed columns to
``(a,b,...)`` strings first.

Deviation (deliberate): we hash the columns *natively* with Spark's
multi-arg ``xxhash64`` instead of concatenating to one string. This
avoids the classic concat ambiguity (("ab","c") vs ("a","bc") collide
under concat-then-hash) and skips materializing a throwaway string per
row — at 100 TB that string concat is real CPU + memory. ``pmod`` rather
than ``abs(...) %`` sidesteps the Long.MIN_VALUE abs() overflow.

Struct/tuple columns are flattened per the reference's rule so tiling is
defined for every type.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_TILES = 4  # reference default TOTAL_TILES (glue/bin/cqlreplicator:12)


def _flatten(df: DataFrame, c: str) -> Column:
    """Tuple/struct columns hash by their '(f1,f2,...)' rendering (K:1834-1841)."""
    field = df.schema[c]
    if isinstance(field.dataType, T.StructType):
        inner = [F.col(f"{c}.{f.name}").cast("string") for f in field.dataType.fields]
        return F.concat(F.lit("("), F.concat_ws(",", *inner), F.lit(")"))
    if isinstance(field.dataType, T.ArrayType):
        return F.concat(F.lit("["), F.concat_ws(",", F.col(c).cast("array<string>")), F.lit("]"))
    return F.col(c)


def tile_expr(df: DataFrame, pk_cols: list[str], num_tiles: int) -> Column:
    """Column expression assigning each row a tile in [0, num_tiles)."""
    if num_tiles < 1:
        raise ValueError(f"num_tiles must be >= 1, got {num_tiles}")
    return F.pmod(F.xxhash64(*[_flatten(df, c) for c in pk_cols]), F.lit(num_tiles))


def assign_tiles(
    df: DataFrame,
    pk_cols: list[str],
    num_tiles: int = DEFAULT_TILES,
    tile_col: str = "tile",
) -> DataFrame:
    """Add a tile column.

    The reference repartitions immediately after assignment
    (K:1845-1847). We do that only in ``resize_tiles``: when the next op
    is a per-tile write, ``.repartition(n, tile)`` co-locates a tile's
    rows; when the next op is a groupBy/join on other keys, the extra
    shuffle is waste and AQE handles layout.
    """
    return df.withColumn(tile_col, tile_expr(df, pk_cols, num_tiles))


def tile_histogram(df: DataFrame, pk_cols: list[str], num_tiles: int) -> DataFrame:
    """Rows per tile — one groupBy, not a count() per tile like K:2282-2284."""
    return (
        assign_tiles(df, pk_cols, num_tiles)
        .groupBy("tile")
        .count()
        .orderBy("tile")
    )


def resize_tiles(
    snapshots: list[DataFrame],
    pk_cols: list[str],
    new_num_tiles: int,
    tile_col: str = "tile",
) -> DataFrame:
    """Re-shard: union all tile snapshots, distinct, reassign tiles.

    Mirrors the resize flow (K:2082-2223): union -> distinct -> new
    group column -> repartition, with the count-integrity invariant of
    K:2188-2191 (redistributed count == original distinct count) —
    enforced here structurally since we derive from the distinct set.
    """
    if not snapshots:
        raise ValueError("resize_tiles needs at least one snapshot DataFrame")
    unioned = snapshots[0]
    for s in snapshots[1:]:
        unioned = unioned.unionByName(s)
    distinct = unioned.dropDuplicates(pk_cols).drop(tile_col)
    return (assign_tiles(distinct, pk_cols, new_num_tiles, tile_col=tile_col)
            .repartition(new_num_tiles, F.col(tile_col)))


def zvalue_2d(x: str | Column, y: str | Column, bits: int = 10) -> Column:
    """Morton (Z-order) interleaving of two non-negative ints — the
    space-filling-curve clustering key behind multi-dimensional data
    layout (Delta/Iceberg OPTIMIZE ZORDER): sorting or range-
    partitioning 100 TB by z keeps rows close in BOTH dimensions
    close on disk, so min/max file statistics prune scans on either
    predicate column instead of only the leading sort key.

    Pure integer bit arithmetic (2*bits shift/mask terms, whole-stage
    codegen, engine-portable); inputs must already be reduced to
    ``bits`` bits (callers mod/bucket first)."""
    from pyspark.sql import functions as F

    xc = (F.col(x) if isinstance(x, str) else x).cast("long")
    yc = (F.col(y) if isinstance(y, str) else y).cast("long")
    z = F.lit(0).cast("long")
    for i in range(int(bits)):
        z = (z
             + F.shiftleft(F.shiftright(xc, i).bitwiseAND(F.lit(1)), 2 * i)
             + F.shiftleft(F.shiftright(yc, i).bitwiseAND(F.lit(1)), 2 * i + 1))
    return z


def hilbert_2d(df, x: str | Column, y: str | Column, bits: int = 8,
               out_col: str = "hval"):
    """Append the Hilbert-curve distance of a 2-D point as ``out_col``
    — the space-filling-curve layout key with strictly better locality
    than Morton/Z-order (adjacent Hilbert indexes are ALWAYS adjacent
    cells; Z-order takes long diagonal jumps at quadrant boundaries,
    so file min/max ranges overlap less under Hilbert and
    data-skipping prunes more — the reason Delta OPTIMIZE grew a
    Hilbert option next to ZORDER).

    Canonical xy2d bit descent (Wikipedia "Hilbert curve"), unrolled
    into ``bits`` rounds of pure integer CASE/divide/multiply columns —
    whole-stage codegen, engine-portable, no UDF. Per round for cell
    size s = 2^i: quadrant q = ry + rx*(3-2*ry)  (== (3*rx) XOR ry for
    bits, spelled arithmetically so engines without bitwise xor agree),
    d += s^2 * q, then the lower quadrant reflects/swaps the frame.
    Inputs must already be reduced to ``bits`` bits (mod/bucket first),
    as with ``zvalue_2d``.

    Takes and returns a DATAFRAME (unlike ``zvalue_2d``) because the
    descent is iteration-carried: each round's x/y reference the
    previous round's twice, so composing raw Columns doubles the
    expression tree per round (2^bits nodes — OOMs the analyzer at
    bits=8). Materializing each round as named columns via
    ``withColumns`` keeps the plan LINEAR in bits; CollapseProject
    leaves the steps alone because the aliases are multiply-referenced
    non-cheap expressions.
    """
    from pyspark.sql import functions as F

    xc = (F.col(x) if isinstance(x, str) else x).cast("long")
    yc = (F.col(y) if isinstance(y, str) else y).cast("long")
    n = 1 << int(bits)
    out = df.withColumns({"__hx": xc, "__hy": yc,
                          "__hd": F.lit(0).cast("long")})
    for i in range(int(bits) - 1, -1, -1):
        s = 1 << i
        hx, hy = F.col("__hx"), F.col("__hy")
        rx = F.shiftright(hx, i).bitwiseAND(F.lit(1))
        ry = F.shiftright(hy, i).bitwiseAND(F.lit(1))
        lower = ry == F.lit(0)
        refl = rx == F.lit(1)
        # withColumns evaluates every entry against the PREVIOUS frame,
        # so the d-update and the rotate both see this round's inputs
        out = out.withColumns({
            "__hd": F.col("__hd")
            + F.lit(s * s) * (ry + rx * (F.lit(3) - F.lit(2) * ry)),
            "__hx": F.when(lower, F.when(refl, F.lit(n - 1) - hy)
                           .otherwise(hy)).otherwise(hx),
            "__hy": F.when(lower, F.when(refl, F.lit(n - 1) - hx)
                           .otherwise(hx)).otherwise(hy),
        })
    return (out.withColumn(out_col, F.col("__hd"))
            .drop("__hx", "__hy", "__hd"))


def hilbert_sql(select_cols: str, x_expr: str, y_expr: str,
                from_clause: str, bits: int = 8,
                out_col: str = "hval", idiv: str = "//") -> str:
    """Generate the SAME xy2d descent as portable SQL (a CTE chain, one
    step per bit) for an engine whose integer-divide token is ``idiv``
    (DuckDB '//', Spark SQL 'div' — spelled infix either way). Used by
    the correctness oracle so both engines run one algorithm from one
    generator rather than two hand-written copies.
    """
    b = int(bits)
    n = 1 << b
    def dv(e: str, k: int) -> str:
        return f"(({e}) {idiv} {k})" if idiv == "//" else f"(({e}) {idiv} {k})"
    steps = [f"h{b} AS (SELECT {select_cols}, CAST({x_expr} AS BIGINT) AS hx, "
             f"CAST({y_expr} AS BIGINT) AS hy, CAST(0 AS BIGINT) AS hd "
             f"{from_clause})"]
    for i in range(b - 1, -1, -1):
        s = 1 << i
        rx = f"({dv('hx', s)} % 2)"
        ry = f"({dv('hy', s)} % 2)"
        steps.append(
            f"h{i} AS (SELECT {select_cols}, "
            f"CASE WHEN {ry} = 0 THEN CASE WHEN {rx} = 1 "
            f"THEN {n - 1} - hy ELSE hy END ELSE hx END AS hx, "
            f"CASE WHEN {ry} = 0 THEN CASE WHEN {rx} = 1 "
            f"THEN {n - 1} - hx ELSE hx END ELSE hy END AS hy, "
            f"hd + {s * s} * ({ry} + {rx} * (3 - 2 * {ry})) AS hd "
            f"FROM h{i + 1})")
    body = ",\n".join(steps)
    return (f"WITH {body}\n"
            f"SELECT {select_cols}, hd AS {out_col} FROM h0")
