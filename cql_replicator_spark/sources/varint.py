"""Overflow-safe varint reader path — the RDD custom-reader semantics.

CQL ``varint`` is an arbitrary-precision integer; the connector's
DataFrame reader maps it to a fixed-width type, so values wider than
38 digits overflow (null out or throw). The reference's answer is a
custom RDD reader (sourceScanWithCustomVarintReader K:1857-2043) that
types every varint column as STRING in the Spark schema (K:1909-1912)
and renders values via ``BigInteger.toString`` (K:1984-1995), so no
width limit exists anywhere in the pipeline; the CQL literal writer
then emits the digits verbatim (rowToStatement varint dispatch
K:1110-1120 == ``types.render_cql_value``).

Spark-first translation: no RDD needed — the engine consumes any
DataFrame, so the adapter contract is just "varint columns arrive as
strings" (the reader's schema, K:1896-1933, is the source connector's).
This module provides the half that IS engine work: the overflow-safe
frame shaping (string column + DECIMAL(38,0) ``try_cast`` companion
that nulls exactly where the non-custom path would have lost data). All
column expressions — tiling, diffing, rendering — work on the string
form, so >38-digit keys replicate losslessly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def overflow_safe_varints(df: DataFrame, varint_cols: list[str]) -> DataFrame:
    """Annotate string-typed varint columns with the fixed-width view.

    For each varint column c (string digits): ``{c}_dec`` is
    ``try_cast(c AS DECIMAL(38,0))`` — the value the NON-custom reader
    would have produced, null exactly where it overflows — and
    ``{c}_fits`` flags the rows the custom path rescued. Downstream
    keeps keying on the lossless string; the companion columns exist
    for validation/reporting (the K:1909 comment's "handle overflow"
    made checkable)."""
    out = df
    for c in varint_cols:
        dec = F.expr(f"try_cast({c} AS DECIMAL(38,0))")
        out = (
            out.withColumn(f"{c}_dec", dec)
            .withColumn(f"{c}_fits", dec.isNotNull())
        )
    return out
