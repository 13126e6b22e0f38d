"""Structured Streaming wrappers — the Spark-idiomatic upgrade of the
reference's poll-loop incremental engine.

The reference does no real streaming (SURVEY §2.10): its Glue job type
is 'gluestreaming' only to stay resident, and "incremental" means
re-running snapshot diffs with a cooldown. On Spark, the same event
tables stream natively: readStream -> watermark -> windowed aggregation
-> writeStream, with foreachBatch available to drive the CDC diff per
micro-batch when snapshot semantics are needed.

These helpers build streaming plans; batch DataFrames pass through the
same functions (the window/watermark expressions are identical), which
is how the oracle checks cover the streaming logic in batch form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def stream_events_from_dir(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """File-source stream over a parquet directory (each file = one
    micro-batch with maxFilesPerTrigger=1 — deterministic replay; pair
    with stage_microbatches and pass its return value for k-file
    batches written in parallel)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


# Staged-file size target for the derived files_per_batch (the
# compact_parquet formula): one file per ~32 MB (DEFAULT_TARGET_FILE_MB) of estimated batch
# bytes. Shared constant lives with the size-controlled writer family.
_STAGE_FILES_FLOOR = 8


def _derive_files_per_batch(batches: "list[DataFrame]",
                            target_bytes: int | None = None) -> int:
    """Bytes-derived per-batch file count, the compact_parquet formula
    applied to Catalyst's optimizedPlan size estimate over the LARGEST
    batch (all batches must share one k — trigger boundaries):
    ceil(bytes/target), floored at a small parallel constant (a k of 1
    would re-create the single-task staging funnel the plan gates ban,
    so tiny batches still stage with cheap parallelism — coalesce never
    widens a narrow input, the floor costs nothing) and capped at the
    session's shuffle parallelism so a mis-estimate cannot explode the
    file count."""
    from ..session import shuffle_parallelism
    from ..sinks.parquet_sink import DEFAULT_TARGET_FILE_MB

    if target_bytes is None:
        target_bytes = DEFAULT_TARGET_FILE_MB * 1024 * 1024
    if target_bytes <= 0:
        raise ValueError("target_bytes must be positive")
    est = 0
    for b in batches:
        est = max(est, int(
            b._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    k = max(1, -(-est // target_bytes))
    cap = max(_STAGE_FILES_FLOOR, shuffle_parallelism(batches[0]))
    return min(max(_STAGE_FILES_FLOOR, k), cap)


def stage_microbatches(
    batches: "list[DataFrame]",
    stage: str,
    files_per_batch: int | None = None,
) -> int:
    """LOCAL-FILESYSTEM CONTRACT: ``stage`` must be a local (POSIX)
    path — ordering is pinned with ``os.utime`` mtimes, which object
    stores don't honor; a non-local scheme raises. ``stage`` must also
    hold no pre-existing ``*.parquet`` files: the staging loop counts
    every not-yet-seen file as the current batch's, so pre-existing
    files would be absorbed (and mtime-restamped) into batch 0,
    silently corrupting trigger boundaries — fail loud instead.

    Stage each DataFrame in ``batches`` as EXACTLY k parquet data
    files under ``stage`` (k = ``files_per_batch``, or derived from
    the largest batch's Catalyst size estimate at one file per ~32 MB
    — the compact_parquet formula — floored at 8 for cheap parallelism
    and capped at session shuffle parallelism), with strictly
    increasing per-batch mtimes, so a file-source stream over
    ``stage`` with ``maxFilesPerTrigger=k`` replays them as
    deterministic micro-batches in list order. Returns k (pass it to
    stream_events_from_dir).

    This replaces the r13-flagged ``coalesce(1).write`` staging form:
    coalesce(1) funneled every staged batch through ONE task — a
    data-proportional serial write, the exact concentrating shape the
    window/exchange plan gates ban, hiding in a write action the
    returned-plan audit could not see. Here each batch is written by
    up to k parallel tasks via ``coalesce(k)`` — a NARROW merge, no
    shuffle: the first smoke used ``repartition(k)`` and its full
    shuffle (plus round-robin's determinism sort) made the staged form
    SLOWER than the serial one at 20x (scale_smoke.json caught it);
    coalesce writes the same k-way parallel files for free. Effective
    parallelism is min(k, upstream partitions). Batches producing
    fewer than k files (narrow sources, tiny/empty batches like the
    sessionize lane's 1-row watermark sentinels) are padded to
    exactly k with empty schema-only parquet files (0 rows — invisible
    to the stream) so trigger boundaries stay exact; per-batch mtime
    stamping (base+i seconds) makes the file source's oldest-first
    ordering deterministic even on coarse-mtime filesystems.

    INCOMPATIBLE with ``spark.sql.files.maxRecordsPerFile``: under it
    one task may emit several files, so a batch can legitimately
    exceed k files — this helper treats >k as boundary corruption and
    raises rather than guessing which files belong to which trigger.
    Unset that conf around staging (none of our sessions set it)."""
    import glob as _glob
    import os
    import time
    import uuid

    import pyarrow as pa  # noqa: F401  (schema round-trip below)
    import pyarrow.parquet as pq

    if "://" in stage and not stage.startswith("file:"):
        raise ValueError(
            f"stage_microbatches requires a LOCAL path (mtime ordering "
            f"has no contract on object stores), got {stage!r}")
    pre = sorted(_glob.glob(os.path.join(stage, "*.parquet")))
    if pre:
        raise ValueError(
            f"stage dir {stage!r} already holds {len(pre)} parquet "
            f"file(s) — they would be absorbed into batch 0 and "
            f"restamped; stage into an empty directory")
    if not batches:
        raise ValueError("stage_microbatches needs at least one batch")
    if files_per_batch is None:
        k = _derive_files_per_batch(batches)
    else:
        k = int(files_per_batch)
    if k < 1:
        raise ValueError(f"files_per_batch must be >= 1, got {k}")
    base = time.time()
    seen: set[str] = set()
    schema_src: str | None = None
    for i, b in enumerate(batches):
        b.coalesce(k).write.mode("append").parquet(stage)
        new = sorted(
            set(_glob.glob(os.path.join(stage, "*.parquet"))) - seen)
        if new:
            schema_src = new[0]
        if len(new) > k:
            raise RuntimeError(
                f"batch {i} wrote {len(new)} files for coalesce({k}) "
                f"— trigger boundaries would merge batches (is "
                f"spark.sql.files.maxRecordsPerFile set? see docstring)")
        if len(new) < k:
            if schema_src is None:
                raise ValueError(
                    f"batch {i} is empty and no earlier batch supplies "
                    f"a schema to pad with")
            pad_schema = pq.read_schema(schema_src)
            for _ in range(k - len(new)):
                pad = os.path.join(
                    stage, f"part-pad-{i}-{uuid.uuid4().hex}.parquet")
                pq.write_table(pad_schema.empty_table(), pad)
                new.append(pad)
        ts = base + i
        for p in new:
            os.utime(p, (ts, ts))
        seen.update(new)
    return k


def enrich_with_dim(
    events: DataFrame,
    dim: DataFrame,
    on_left: str = "user_id",
    on_right: str = "c_custkey",
    dim_cols: tuple[str, ...] = ("c_mktsegment",),
) -> DataFrame:
    """Stream-static enrichment join: hydrate each event with dimension
    attributes. Stateless (no watermark, no state store) — Structured
    Streaming broadcasts the static side into every micro-batch, so
    append-mode output is exact and the operator works identically on a
    batch frame (which is how the oracle checks it). Left join keeps
    events whose key has no dimension row (nulls), the standard
    enrichment contract. Scale note: the dim must be broadcast-sized
    (dimension tables are); for a mutable dim, point this at a path the
    stream re-reads per batch or use foreachBatch re-resolution."""
    d = dim.select(F.col(on_right), *[F.col(c) for c in dim_cols])
    return (
        events.join(F.broadcast(d), F.col(on_left) == F.col(on_right), "left")
        .drop(on_right)
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    within: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream (or batch) inner join: each left event pairs with
    right events of the same key that follow it within ``(0, within]``
    — the conversion-funnel shape (view -> purchase inside the window).

    All columns come back prefixed ``l_`` / ``r_``. On streams, BOTH
    sides get event-time watermarks and the join carries the time-range
    predicate, which is what lets Structured Streaming bound its state:
    a buffered left row is droppable once the right watermark passes
    ``l_ts + within`` (state size tracks the window, not the stream).
    The watermark delay must exceed ``within`` or boundary matches
    arriving in a later micro-batch are dropped as late. On batch
    frames the same function is the oracle form — identical predicate,
    no state."""
    l = left.select(
        *[F.col(c).alias(f"l_{c}") for c in left.columns]
    ).withColumn(f"l_{ts_col}", F.col(f"l_{ts_col}").cast("timestamp"))
    r = right.select(
        *[F.col(c).alias(f"r_{c}") for c in right.columns]
    ).withColumn(f"r_{ts_col}", F.col(f"r_{ts_col}").cast("timestamp"))
    if l.isStreaming:
        l = l.withWatermark(f"l_{ts_col}", watermark)
    if r.isStreaming:
        r = r.withWatermark(f"r_{ts_col}", watermark)
    cond = (
        (F.col(f"l_{key}") == F.col(f"r_{key}"))
        & (F.col(f"r_{ts_col}") > F.col(f"l_{ts_col}"))
        & (F.col(f"r_{ts_col}") <= F.col(f"l_{ts_col}") + F.expr(f"INTERVAL {within}"))
    )
    return l.join(r, cond)


def run_stream_to_memory(
    stream_df: DataFrame,
    query_name: str,
    output_mode: str = "complete",
) -> None:
    """Drive a streaming plan to completion over the currently-available
    input (availableNow trigger) into an in-memory table."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def foreach_batch_cdc(
    stream_df: DataFrame,
    process: "callable",
    checkpoint_dir: str,
) -> "StreamingQuery":
    """foreachBatch bridge: run the batch CDC pipeline (diff -> sink)
    once per micro-batch — exactly-once via the checkpoint + the
    ledger's idempotent gates."""
    return (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
