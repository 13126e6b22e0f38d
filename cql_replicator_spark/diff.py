"""Snapshot differencing — the heart of the CDC engine.

Computes (inserts, deletes, updates) between two primary-key snapshots,
exactly the semantics of ``computeIcebergChanges``
(CQLReplicator.scala K:1355-1384; identical in P:997-1026, D:1277-1306):

  inserts = curr LEFTANTI prev ON pks
  deletes = prev LEFTANTI curr ON pks
  updates = curr INNER prev ON pks WHERE NOT (curr.ts <=> prev.ts)

The update predicate is *null-safe*: the reference carries an explicit
comment (K:1369-1381) on why ``=!=`` is wrong — a null ts on either side
must still count as a change when the other side is non-null. We use
``~eqNullSafe`` which is the same three-valued-logic-safe comparison.

The change column is ``ts``, the reference's writetime alias (K:394).
When the table has no writetime column the reference sets ts=lit(0)
(K:1810-1813), so updates are structurally empty; the CLI's key
projection does the same without ``--ts-col``.

Scale note: ``_tag_changes`` is the one full-outer PK join that the
tagged diff, the CDC envelope and IVM deltas (ivm.py) share, so each
scans a snapshot once and shuffles it once; at 100 TB per-tile
snapshots this is the one unavoidable shuffle, and tiling keeps each
join to 1/N of the key space.
``compute_changes`` keeps the reference's three-join form as the
reference the tests compare against.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce
from operator import or_

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


TS = "ts"  # the change column: the reference's writetime alias (K:394)


@dataclass
class ChangeSet:
    """A diff as three sets of changed rows, one per op (the result of
    ``compute_changes``)."""
    inserts: DataFrame
    deletes: DataFrame
    updates: DataFrame


def _tag_changes(
    curr: DataFrame,
    prev: DataFrame,
    pk_cols: list[str],
    cols: list[str],
) -> DataFrame:
    """The change-set kernel every diff in the package projects: ONE
    full-outer join on ``pk_cols`` and one null-safe change rule.

    Each side keeps its PK, each of ``cols`` as ``__c_{x}`` (curr) or
    ``__p_{x}`` (prev), and a side marker ``__in_c`` / ``__in_p``
    (true when the key is on that side, null when not). ``op`` is
    insert when the key is not in prev, delete when it is not in curr,
    and update when any of ``cols`` differs by ``~eqNullSafe`` — the
    reference's rule (K:1369-1381): a null on one side against a value
    on the other is a change. Unchanged keys are dropped; with
    ``cols=[]`` only inserts and deletes come out."""
    c = curr.select(*pk_cols, *[F.col(x).alias(f"__c_{x}") for x in cols],
                    F.lit(True).alias("__in_c"))
    p = prev.select(*pk_cols, *[F.col(x).alias(f"__p_{x}") for x in cols],
                    F.lit(True).alias("__in_p"))
    op = (F.when(F.col("__in_p").isNull(), "insert")
          .when(F.col("__in_c").isNull(), "delete"))
    if cols:
        op = op.when(reduce(or_, [
            ~F.col(f"__c_{x}").eqNullSafe(F.col(f"__p_{x}")) for x in cols
        ]), "update")
    return (c.join(p, pk_cols, "full_outer")
            .withColumn("op", op).filter(F.col("op").isNotNull()))


def compute_changes_tagged(
    curr: DataFrame,
    prev: DataFrame,
    pk_cols: list[str],
) -> DataFrame:
    """Single-pass diff: ``(op, pk..., ts)`` rows from one full-outer
    join (``_tag_changes``).

    Semantically identical to compute_changes()'s three sets tagged by
    op and unioned, but scans each snapshot once instead of three
    times — at 100 TB the anti-join formulation's 6 scans and 3
    shuffles collapse to 2 scans and 1 shuffle per side. Deletes carry prev's ts, inserts/updates curr's.
    """
    ts = (F.when(F.col("op") == "delete", F.col(f"__p_{TS}"))
          .otherwise(F.col(f"__c_{TS}")).alias(TS))
    return _tag_changes(curr, prev, pk_cols, [TS]).select(
        "op", *pk_cols, ts)


def compute_changes_envelope(
    curr: DataFrame,
    prev: DataFrame,
    pk_cols: list[str],
) -> DataFrame:
    """CDC-feed envelope: op plus BEFORE and AFTER images of the change
    column — the Debezium/Delta-CDF shape downstream consumers need to
    apply, invert, or audit changes (inserts have a null before-image,
    deletes a null after-image, updates both). The join and update rule
    are ``_tag_changes``'s; the images are free since the join already
    sees both sides."""
    return _tag_changes(curr, prev, pk_cols, [TS]).select(
        "op", *pk_cols,
        F.col(f"__p_{TS}").alias(f"{TS}_before"),
        F.col(f"__c_{TS}").alias(f"{TS}_after"))


def compute_changes(
    curr: DataFrame,
    prev: DataFrame,
    pk_cols: list[str],
) -> ChangeSet:
    """Diff two snapshots of (pk_cols..., ts)."""
    inserts = curr.join(prev, pk_cols, "left_anti")
    deletes = prev.join(curr, pk_cols, "left_anti")
    c = curr.alias("curr")
    p = prev.alias("prev")
    joined = c.join(p, pk_cols, "inner")
    changed = ~F.col(f"curr.{TS}").eqNullSafe(F.col(f"prev.{TS}"))
    updates = joined.filter(changed).select(
        *pk_cols, F.col(f"curr.{TS}").alias(TS)
    )
    return ChangeSet(inserts=inserts, deletes=deletes, updates=updates)


def apply_changes(base: DataFrame, changes: ChangeSet,
                  pk_cols: list[str]) -> DataFrame:
    """MERGE semantics — apply a change set to the previous snapshot:
    delete removed keys, upsert inserted/updated rows. By construction
    ``apply_changes(t0, compute_changes(t1, t0)) == t1`` exactly (the
    oracle-checked invariant).

    One pk-keyed left-anti join (drops deletes and the old versions of
    updates) plus a union of the upsert rows — the same single-shuffle
    shape as the diff itself; at 100 TB the anti-join's right side is
    change-sized, so AQE broadcasts it when the delta is small."""
    upserts = changes.inserts.unionByName(changes.updates)
    removed = (changes.deletes.select(*pk_cols)
               .unionByName(upserts.select(*pk_cols)))
    return base.join(removed, pk_cols, "left_anti").unionByName(upserts)
