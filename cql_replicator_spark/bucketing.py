"""Bucketed tables: pre-shuffled storage for exchange-free joins.

At 100 TB the dominant cost of the fact-to-fact joins (orders x
lineitem, snapshot x snapshot) is the shuffle: every join re-hashes and
re-exchanges both sides. Bucketing spends that shuffle ONCE at write
time — rows are hash-partitioned into a fixed number of buckets by the
join key and each bucket lands in its own file set — after which every
join or aggregation on the bucket key reads co-located data and
Catalyst plans a SortMergeJoin with NO Exchange on either side. The
same property serves repeated CDC diff cycles: both snapshot
generations bucketed by PK diff without ever shuffling.

Caveats that matter at scale (encoded in the helpers):
  * both sides must have the SAME bucket count (or a divisor — Spark
    coalesces buckets when `spark.sql.bucketing.coalesceBucketsInJoin.
    enabled` is set) and the join keys must be a prefix-equal match of
    the bucket spec;
  * bucket pruning applies to equality filters on the bucket key (scan
    reads 1/N of the files);
  * too few buckets -> giant per-task files; too many -> small-file
    explosion. Size for ~128-256 MB per bucket file at the target SF.

Spark's bucketed tables live in the session catalog (saveAsTable), not
plain paths — these helpers wrap that so callers deal in names.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def _strip_file_scheme(uri: str) -> str:
    return uri[len("file:"):] if uri.startswith("file:") else uri


def _catalog_owns_location(spark: SparkSession, path: str) -> bool:
    """True if any table in the CURRENT database resolves to `path`.

    The guard that keeps orphan cleanup from deleting a live table's
    data: an EXTERNAL table may be parked at exactly the managed-layout
    path a new table name would claim — rmtree'ing it would destroy its
    files while leaving its catalog entry dangling."""
    import os

    target = os.path.abspath(path)
    db = spark.catalog.currentDatabase()
    for t in spark.catalog.listTables(db):
        if t.isTemporary:
            continue
        try:
            rows = spark.sql(
                f"DESCRIBE TABLE EXTENDED {db}.`{t.name}`").collect()
        except Exception:  # noqa: BLE001 - a concurrently-dropped table
            continue
        for r in rows:
            if r.col_name == "Location" and os.path.abspath(
                    _strip_file_scheme(r.data_type)) == target:
                return True
    return False


def write_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_cols: list[str],
    num_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist df as a bucketed (and optionally sorted) catalog table.

    Sorting within buckets lets the downstream SortMergeJoin skip its
    sort as well — the join becomes a pure merge of pre-sorted,
    co-partitioned files (zero Exchange, zero Sort in the plan).

    Stale-location hardening, done LAZILY: a managed-table directory
    orphaned by a killed run (catalog entry gone, files on disk) makes
    saveAsTable raise LOCATION_ALREADY_EXISTS in a fresh session. The
    eager variant (rmtree <warehouse>/<name> before writing) is a data
    hazard: DROP TABLE resolves against the CURRENT database while that
    path is the DEFAULT database's layout, so with a non-default
    current database it deletes a different table's files. Instead:
    drop via the catalog (managed drops remove their own files), let
    saveAsTable fail, resolve the location from the current database's
    locationUri, verify no catalog table owns it, remove, retry once.
    """
    import os
    import shutil

    spark = df.sparkSession
    if mode == "overwrite":
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    # Repartition to the bucket spec before writing (r17, guide §6):
    # without it every WRITE TASK splits its rows into num_buckets
    # bucket files — tasks x buckets small files at scale (a wide scan
    # writing 8 buckets from 2000 tasks leaves 16k files), and a
    # narrow scan writes all buckets from ONE serial task. repartition
    # (num_buckets, bucket_cols) is the SAME hash Spark's bucket spec
    # uses (pmod(murmur3, n)), so each task holds exactly one bucket:
    # the table lands as num_buckets files, written num_buckets-wide
    # in parallel, and within-bucket sortBy cost is unchanged. Table
    # CONTENTS are identical either way — only file layout changes.
    writer = (df.repartition(num_buckets, *bucket_cols)
              .write.format("parquet").mode(mode)
              .bucketBy(num_buckets, *bucket_cols))
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    try:
        writer.saveAsTable(name)
        return
    except Exception as exc:  # noqa: BLE001 - filtered to the orphan class
        if mode != "overwrite" or "LOCATION_ALREADY_EXISTS" not in str(exc):
            raise
        db = spark.catalog.currentDatabase()
        db_loc = _strip_file_scheme(
            spark.catalog.getDatabase(db).locationUri)
        target = os.path.join(db_loc, name.split(".")[-1].lower())
        if not os.path.isdir(target) or _catalog_owns_location(spark, target):
            raise  # not the orphan shape — never delete owned/unknown data
        shutil.rmtree(target)
    writer.saveAsTable(name)


def assert_no_exchange(df: DataFrame) -> None:
    """Raise if the physical plan contains a shuffle — the bucketed-join
    contract check (used by tests and available for pipeline
    assertions)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "Exchange" in plan:
        raise AssertionError(
            "plan contains an Exchange; bucketed co-location was not used:\n"
            + plan)
