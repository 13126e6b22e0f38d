"""Counter-table replication — additive CQL counter semantics, e2e.

Cassandra counters can't be INSERTed or set; the only write is
``UPDATE trg SET c = c + delta WHERE pk...`` (the reference's counter
branch, processRow K:930-935, statement built from getCounters
K:854-859). Change *detection* for counter tables rides the snapshot
diff exactly like writetime tables, with ``xxhash64(counters)`` as the
change column (sourceScanStandard counter case K:1822-1830 ==
``sources.cassandra.CassandraSource.project``).

Delta correctness: the snapshots persist the counter VALUES alongside
the hash, so replication can emit the exact increment — full value for
a key new to the target (its counter starts at 0), ``curr - prev`` for
a changed key, DELETE for a removed key. (The reference applies the
full current value on every change, which double-counts on updates —
K:932-934 reads the hydrated row's absolute value; we keep its
statement shape but fix the arithmetic, which is the point of keeping
both generations of values in the snapshot store.)

Scale: counter_deltas projects the full-outer PK join it shares with
the core diff (``diff._tag_changes``: one shuffle per side on the PK);
statement emission is foreachPartition + FlushingBatch like every
row-path sink.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .config import WriteConfig
from .diff import _tag_changes
from .planaudit import guard_sink_input
from .sinks.batching import FlushingBatch
from .sinks.cql_sink import counter_update_statement, delete_statement


def counter_deltas(
    curr: DataFrame,
    prev: DataFrame,
    pk_cols: list[str],
    counter_cols: list[str],
) -> DataFrame:
    """Op-tagged per-key counter increments between two snapshots.

    Output: (op, pk..., {c}_delta per counter). insert -> full current
    value; update -> curr - prev (any counter differing, null-safe);
    delete -> nulls (the row is removed, not decremented). Unchanged
    keys are filtered out. The join and the change rule are
    ``diff._tag_changes``'s.

    Null counters coalesce to 0 on the arithmetic side: a null counter
    in Cassandra means "never incremented" (reads as 0), so an insert
    with a null counter contributes delta 0 and an update where only
    prev is null (first increment between snapshots) contributes the
    full current value — never a null delta that would render as
    ``SET c = c + None``."""
    if not counter_cols:
        raise ValueError("counter_deltas: counter_cols must be non-empty")
    deltas = [
        (F.when(F.col("op") == "insert",
                F.coalesce(F.col(f"__c_{x}"), F.lit(0)))
         .when(F.col("op") == "update",
               F.coalesce(F.col(f"__c_{x}"), F.lit(0))
               - F.coalesce(F.col(f"__p_{x}"), F.lit(0)))
         ).alias(f"{x}_delta")
        for x in counter_cols
    ]
    return _tag_changes(curr, prev, pk_cols, counter_cols).select(
        "op", *pk_cols, *deltas)


def counter_statement(
    row: dict,
    target: str,
    pk_cols: list[str],
    pk_types: dict[str, str],
    counter_cols: list[str],
) -> str | None:
    """One tagged-delta row -> its CQL statement (K:930-935 shape),
    or None when every delta is null (nothing to apply)."""
    where = {c: (row[c], pk_types.get(c, "bigint")) for c in pk_cols}
    if row["op"] == "delete":
        return delete_statement(target, where)
    counters = {x: row[f"{x}_delta"] for x in counter_cols}
    return counter_update_statement(target, counters, where)


def write_counter_deltas(
    deltas: DataFrame,
    target: str,
    pk_cols: list[str],
    pk_types: dict[str, str],
    counter_cols: list[str],
    executor_factory: Callable[[], Callable[[list[str]], None]],
    write_cfg: WriteConfig | None = None,
) -> None:
    """Distribute statement emission (foreachPartition, lazy client,
    batched+retried — the row-path sink contract).

    AT-LEAST-ONCE HAZARD: counter increments are not idempotent. A
    Spark task retry or speculative duplicate re-applies its
    partition's increments and double-counts — unlike the row path,
    where INSERT ... IF NOT EXISTS replay is a no-op. (The reference
    shares this hazard; the delta formulation at least makes each
    duplicate strictly additive rather than value-clobbering.) Run
    counter jobs with ``spark.speculation=false`` (we refuse to start
    otherwise), and treat a failed counter job as requiring
    reconciliation (reconcile.py) rather than blind re-run."""
    cfg = write_cfg or WriteConfig()
    spark = deltas.sparkSession
    if spark.conf.get("spark.speculation", "false") == "true":
        raise RuntimeError(
            "counter replication is not idempotent: a speculative "
            "duplicate task double-counts. Set spark.speculation=false "
            "for counter jobs.")

    def process_partition(rows):
        execute = executor_factory()
        with FlushingBatch(execute, cfg) as batch:
            for r in rows:
                stmt = counter_statement(
                    r.asDict(), target, pk_cols, pk_types, counter_cols)
                if stmt is not None:
                    batch.add(stmt)

    # RDD-action sink: no SQL execution for the audit to see — gate a
    # funneled input statically (planaudit module docstring).
    guard_sink_input(deltas, "write_counter_deltas")
    deltas.foreachPartition(process_partition)

