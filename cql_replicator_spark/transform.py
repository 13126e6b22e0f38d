"""Row/column transforms driven by the JSON_MAPPING config.

Covers SURVEY §2.3 + §2.8's DataFrame-side surface:
  * arbitrary Spark-SQL filterExpression (K:1849-1853, validated like
    R:460-477 by forcing analysis before execution)
  * column-subset replication (K:570-573, K:595-621)
  * point-in-time predicate (K:1789-1797, P:1511-1523)
  * hash/anonymization transforms with alias + keepSource semantics
    (PKTransformDispatcher R:51-74; valueTransformer K:898-924)
  * UDT -> JSON text (convertUDTtoText K:187-196)
  * multi-writetime change column via greatest() (K:381-384)
  * TTL predicate (P:561-573, P:818-831)

Everything stays a Catalyst expression — no Python UDFs — so filters
push down to the parquet scan and the whole pipeline codegens.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from .config import PointInTime, Transformation

# Rule -> Spark builtin (R:51-74). 'murmur' is Spark's hash() —
# standardizing away from Scala MurmurHash3.stringHash like R:66 does.
HASH_DISPATCH: dict[str, Callable[[Column], Column]] = {
    "md5": F.md5,
    "sha1": F.sha1,
    "sha256": lambda c: F.sha2(c, 256),
    "murmur": lambda c: F.hash(c).cast("long"),
    "xxhash64": F.xxhash64,
}


def apply_filter_expression(df: DataFrame, expr_str: str | None) -> DataFrame:
    """User filterExpression, validated before use (R:460-477 validates via
    queryExecution.analyzed; here the filter() call itself analyzes)."""
    if not expr_str:
        return df
    try:
        out = df.filter(expr_str)
        out.schema  # force analysis -> raises on bad expression now, not at action
        return out
    except AnalysisException as e:
        raise ValueError(f"invalid filterExpression {expr_str!r}: {e}") from e


def select_replicated_columns(
    df: DataFrame, all_columns: bool, columns: list[str]
) -> DataFrame:
    """allColumns:false + columns:[...] -> SELECT subset (K:570-573)."""
    return df if all_columns else df.select(*columns)


def point_in_time_predicate(ts_col: str, pit: PointInTime) -> Column:
    """ts {>,<,==} pit with isNotNull guard (K:1789-1797, P:1511-1523)."""
    c = F.col(ts_col)
    ops = {
        "greaterThan": c > F.lit(pit.timestamp),
        "lessThan": c < F.lit(pit.timestamp),
        "equal": c == F.lit(pit.timestamp),
    }
    if pit.predicateOp not in ops:
        raise ValueError(f"unknown pointInTime predicateOp {pit.predicateOp!r}")
    return c.isNotNull() & ops[pit.predicateOp]


def apply_point_in_time(df: DataFrame, ts_col: str, pit: PointInTime) -> DataFrame:
    return df.filter(point_in_time_predicate(ts_col, pit)) if pit.enabled else df


def apply_transformations(df: DataFrame, transforms: list[Transformation]) -> DataFrame:
    """Hash transforms with alias/keepSource (K:879-924, R:51-74).

    - no alias: column replaced in place
    - alias, keepSource=false: column renamed+hashed
    - alias, keepSource=true: original kept, hashed copy added
    """
    out = df
    for t in transforms:
        fn = HASH_DISPATCH[t.rule]
        hashed = fn(F.col(t.column).cast("string"))
        if t.alias is None:
            out = out.withColumn(t.column, hashed)
        elif t.keepSource:
            out = out.withColumn(t.alias, hashed)
        else:
            out = out.withColumn(t.alias, hashed).drop(t.column)
    return out


def udt_to_json(df: DataFrame, udt_cols: list[str]) -> DataFrame:
    """Struct (Cassandra UDT) columns -> JSON text (K:187-196).

    ignoreNullFields=false: a UDT field that is NULL serializes as an
    explicit ``"f":null`` — Cassandra's own toJson() emits nulls, and a
    stable JSON shape is what downstream parsers key on. (Spark's
    default silently DROPS null fields, so two rows of the same UDT
    could serialize with different schemas — found by the r16 poison
    oracle sweep.)"""
    out = df
    for c in udt_cols:
        out = out.withColumn(
            c, F.to_json(F.col(c), {"ignoreNullFields": "false"}))
    return out


def counter_hash_column(counter_cols: list[str], alias: str = "counter_hash") -> Column:
    """Counter change-detection column: abs(xxhash64(concat(counters)))
    (K:1824-1829). Cassandra counters carry no writetime, so the hash of
    the concatenated counter values stands in as the snapshot 'ts' — a
    changed counter flips the hash and the diff reports an update."""
    if not counter_cols:
        raise ValueError("counter_hash_column needs at least one counter column")
    concat = F.concat_ws("|", *[F.col(c).cast("string") for c in counter_cols])
    return F.abs(F.xxhash64(concat)).alias(alias)


def apply_ttl_filter(df: DataFrame, ttl_col: str, op: str, value: int) -> DataFrame:
    """TTL predicate: keep rows whose ttl {==,>,<} const (P:561-573, bulk
    DataFrame form P:818-831)."""
    c = F.col(ttl_col)
    ops = {"equal": c == value, "greaterThan": c > value, "lessThan": c < value}
    if op not in ops:
        raise ValueError(f"unknown ttl predicate op {op!r}")
    return df.filter(ops[op])


def fingerprint_schema(schema) -> str:
    """SHA-256 over 'name:type|name:type...' (R:1734-1744)."""
    import hashlib

    canon = "|".join(f"{f.name}:{f.dataType.simpleString()}" for f in schema.fields)
    return hashlib.sha256(canon.encode()).hexdigest()


def build_source_pipeline(
    df: DataFrame,
    mapping,
    pk_cols: list[str],
    ts_col: str | None = None,
) -> DataFrame:
    """Compose a JSON_MAPPING into the source DataFrame flow — the
    reference's whole 'query language' (SURVEY §0): filterExpression ->
    point-in-time predicate -> column-subset projection (PKs always kept)
    -> hash transforms -> UDT->JSON. Everything stays a single Catalyst
    plan, so pushdown/pruning apply across the composed stages."""
    from pyspark.sql import types as T

    rep = mapping.replication
    out = apply_filter_expression(df, rep.filterExpression)
    if ts_col is not None and ts_col in out.columns:
        out = apply_point_in_time(out, ts_col, rep.pointInTime)
    if not rep.allColumns:
        keep = list(dict.fromkeys(
            [*pk_cols, *([ts_col] if ts_col and ts_col in out.columns else []),
             *rep.columns]))
        out = out.select(*keep)
    out = apply_transformations(out, rep.transformations)
    if mapping.udtConversion:
        udt_cols = [f.name for f in out.schema.fields
                    if isinstance(f.dataType, T.StructType)]
        out = udt_to_json(out, udt_cols)
    return out
