"""Parquet target sink — the bulk (Spark-native) replication path.

This is the path SURVEY §7.1 says to prefer: instead of per-row
``SELECT json`` hydration (K:825-852), broadcast-join the changed PK
set back to the source DataFrame and write Parquet directly
(bulkReplicateToParquet P:792-857):

  source ⋈ broadcast(changed keys + tile, op) ->
  parquet {root}/{ks}/{tbl}/{tile}/{op}/snap-{id}, one job per cycle

Write sizing carries the reference's maxRecordsPerFile 10,500,000 +
snappy (writeWithSizeControl K:2224-2231). The write's width comes from
the cycle's per-(tile, op) row counts (``ROWS_PER_FILE`` rows a file,
up to the session's shuffle parallelism), where the reference coalesces to 32 MB files by a sampled row-size
model (estimateAndCoalesce P:698-732; ``stats.estimate_partitions_for_write``).

Scale note: the changed-PK set is small relative to the table (that's
the point of CDC), so the broadcast is the right strategy; past
``BROADCAST_MAX_KEYS`` changed keys (a historical load) the CLI sink
drops the hint and lets AQE choose.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import default_write_files
from ..staging import new_staging_dir, remove_dead_staging

MAX_RECORDS_PER_FILE = 10_500_000  # K:2228
DEFAULT_TARGET_FILE_MB = 32  # P:425-426
# rows below which a (tile, op) batch is not split over more write
# tasks (and files)
ROWS_PER_FILE = 100_000
# above this many changed keys the hydration join drops its broadcast
# hint and lets the planner choose
BROADCAST_MAX_KEYS = 1_000_000


def hydrate_changes(
    source: DataFrame,
    changed_pks: DataFrame,
    pk_cols: list[str],
    broadcast_pks: bool = True,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Changed-PK set -> full source rows (P:809-816). PK columns are
    aligned by name and cast to the source's types before the join
    (the reference casts explicitly; names are enough here). ``carry``
    names columns of ``changed_pks`` (e.g. tile, op) that ride the
    broadcast keys onto the hydrated rows."""
    keys = changed_pks.select(*carry, *pk_cols)
    for c in pk_cols:
        keys = keys.withColumn(c, F.col(c).cast(source.schema[c].dataType))
    if broadcast_pks:
        keys = F.broadcast(keys)
    return source.join(keys, pk_cols, "inner")


def write_tile_batches(
    df: DataFrame,
    root: str,
    keyspace: str,
    table: str,
    batches: dict[int, int],
    unique_by: list[str] | None = None,
    counts: dict[int, dict[str, int]] | None = None,
) -> None:
    """Write a cycle's rows, which carry ``tile`` and ``op`` columns, in
    ONE job at ``{root}/{ks}/{tbl}/{tile}/{op}/snap-{batches[tile]:08d}``
    (neither column is stored). ``counts`` ({tile: {op: rows}}, as on
    ``ChangeSet.counts``) sets the width: a (tile, op) of n rows is
    spread by a hash of its key over ceil(n / ROWS_PER_FILE) tasks and
    files, at most the session's shuffle parallelism, so a historical
    load or a large delta is not written one task per (tile, op); a
    smaller one, or any without a count, is one file.
    ``unique_by`` keeps one row per (tile, op, *key) (P:647's
    dropDuplicates, for hydrated rows); the clustering above satisfies
    it, so it adds no shuffle. The files land in a staging directory
    and are renamed into place; an existing destination is removed
    first, so a retried cycle overwrites its batch rather than nesting
    in it."""
    base = os.path.join(root, keyspace, table)
    remove_dead_staging(base)
    stage = new_staging_dir(base)
    key = unique_by or [c for c in df.columns if c not in ("tile", "op")]
    salt = None
    width = default_write_files(df)
    for tile, ops in (counts or {}).items():
        for op, n in ops.items():
            k = min(-(-n // ROWS_PER_FILE), width)
            if k > 1:
                salt = (F.when((F.col("tile") == tile) & (F.col("op") == op),
                               F.pmod(F.xxhash64(*key), F.lit(k)))
                        .otherwise(F.lit(0) if salt is None else salt))
    # no salt column at all when nothing splits: a constant one would
    # fold into the partitioning and cost the dedup its own shuffle
    cluster = ["tile", "op"]
    if salt is not None:
        df = df.withColumn("__salt", salt)
        cluster.append("__salt")
    out = df.repartition(*cluster)
    if unique_by:
        # the salt is a function of the key, so deduplicating on it too
        # changes nothing and keeps the clustering sufficient
        out = out.dropDuplicates([*cluster, *unique_by])
    try:
        (out.drop("__salt").write
            .partitionBy("tile", "op")
            .option("maxRecordsPerFile", MAX_RECORDS_PER_FILE)
            .option("compression", "snappy")
            .parquet(stage))
        for tile, batch in batches.items():
            for op_dir in glob.glob(os.path.join(stage, f"tile={tile}", "op=*")):
                op = os.path.basename(op_dir)[len("op="):]
                dest = os.path.join(base, str(tile), op, f"snap-{batch:08d}")
                shutil.rmtree(dest, ignore_errors=True)
                os.makedirs(os.path.dirname(dest), exist_ok=True)
                os.rename(op_dir, dest)
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def parquet_dir_stats(spark, path: str) -> tuple[int, int]:
    """(n_files, total_bytes) of the data files under a parquet dir —
    driver-side Hadoop FileSystem METADATA listing only, no data read.
    Works for any fs:// scheme Spark can reach (local, s3a, hdfs)."""
    sc = spark.sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
    n = total = 0
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if st.isFile() and not name.startswith(("_", ".")):
            n += 1
            total += st.getLen()
    return n, total


def compact_parquet(
    spark,
    src_dir: str,
    dst_dir: str,
    target_bytes: int = DEFAULT_TARGET_FILE_MB * 1024 * 1024,
    shuffle: bool = False,
    src_stats: tuple[int, int] | None = None,
) -> int:
    """Bin-pack a fragmented parquet directory into ceil(total/target)
    files; returns the ACTUAL output file count (coalesce can produce
    fewer than requested when the source has fewer input partitions).
    ``src_stats=(n_files, total_bytes)`` lets a caller that already
    listed the source (cli compact) skip the second remote LIST — the
    listing is the expensive driver-side step on a 100k-splinter
    prefix. The size-controlled-writer
    family (K:2224-2231, P:698-732) sizes a FIRST write; this is the
    maintenance half — the reference's 2-minute incremental backups
    (README.MD:83-90) accrete splinter files that at 100 TB mean
    footer-per-file reads, task-per-file scheduling, and driver-side
    listing pain, so periodic compaction is part of operating the sink.

    The output count comes from actual on-disk (compressed) bytes via a
    driver metadata listing — no data scan, no row-size model error.
    Default is ``coalesce`` (map-side merge, NO shuffle: adjacent
    splinters concatenate into tasks); pass ``shuffle=True`` when the
    splinters are pathologically skewed and balanced outputs are worth
    one shuffle of the data."""
    if target_bytes <= 0:
        raise ValueError("target_bytes must be positive")
    n_files, total = (src_stats if src_stats is not None
                      else parquet_dir_stats(spark, src_dir))
    if n_files == 0:
        raise ValueError(f"no parquet data files under {src_dir}")
    n_out = max(1, -(-total // target_bytes))
    df = spark.read.parquet(src_dir)
    out = df.repartition(n_out) if shuffle else df.coalesce(n_out)
    (out.write.mode("overwrite")
        .option("compression", "snappy").parquet(dst_dir))
    written, _ = parquet_dir_stats(spark, dst_dir)
    return written
