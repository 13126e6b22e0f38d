"""Primary-key reconciliation — the phased diff/audit pipeline.

Reimplements PrimaryKeyReconciliation.scala's structure (SURVEY §3.3):
phases connected by durable Parquet snapshots, each failure producing a
partial report and a distinct exit code (R:1031-1044, 1882-1920):

    source_scan -> target_scan -> diff -> report

  * scans project the PK, add the tile/group column, and persist a
    Parquet snapshot (R:1922-1997)
  * schema reconciliation: ordered (name,type) equality of the two PK
    projections, exit 4/5 on mismatch (R:281-372, R:1688-1726)
  * diff: distinct counts, anti-joins both directions, intersection,
    ordered samples, write-verify-retry on the diff output (R:639-739,
    793-850)
  * report: counts + samples + schema fingerprint + status/phase
    (ReportWriter R:878-1027)
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .tiling import assign_tiles
from .transform import fingerprint_schema

# Exit-code contract (R:1031-1044)
EXIT_OK = 0
EXIT_BAD_ARGS = 1
EXIT_MISSING_ARTIFACT = 2
EXIT_SOURCE_SCHEMA_MISMATCH = 4
EXIT_TARGET_SCHEMA_MISMATCH = 5
EXIT_PHASE_FAILURE = 6

# attempts at writing the diff snapshot until its read-back count
# matches (write-verify-retry, R:639-739)
DIFF_WRITE_RETRIES = 3


class ReconcileError(Exception):
    def __init__(self, message: str, exit_code: int, phase: str):
        super().__init__(message)
        self.exit_code = exit_code
        self.phase = phase


def schemas_match_ordered(a, b) -> bool:
    """Ordered (name, type) equality (R:281-372)."""
    fa = [(f.name, f.dataType.simpleString()) for f in a.fields]
    fb = [(f.name, f.dataType.simpleString()) for f in b.fields]
    return fa == fb


@dataclass
class ReconcileResult:
    source_count: int
    target_count: int
    intersection_count: int
    source_minus_target: int
    target_minus_source: int
    samples_missing: list[dict]
    samples_extra: list[dict]
    schema_fingerprint: str
    status: str
    phase: str
    failure: str | None = None
    duration_s: float = 0.0

    @property
    def in_sync(self) -> bool:
        return self.source_minus_target == 0 and self.target_minus_source == 0


class ReconcileJob:
    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        pk_cols: list[str],
        total_tiles: int = 4,
        sample_size: int = 100,
    ):
        if not (1 <= total_tiles <= 1024):
            raise ReconcileError(f"TOTAL_TILES {total_tiles} outside [1,1024]",
                                 EXIT_BAD_ARGS, "parse")  # guardrail R:1156-1165
        if not (0 <= sample_size <= 10000):
            raise ReconcileError(f"SAMPLE_SIZE {sample_size} outside [0,10000]",
                                 EXIT_BAD_ARGS, "parse")
        self.spark = spark
        self.workdir = workdir
        self.pk_cols = pk_cols
        self.total_tiles = total_tiles
        self.sample_size = sample_size

    # -- phases ------------------------------------------------------------
    def _scan(self, df: DataFrame, which: str) -> str:
        """Project the PKs + group column; persist a Parquet snapshot as
        the inter-phase IR (R:1922-1997)."""
        missing = [c for c in self.pk_cols if c not in df.columns]
        if missing:
            raise ReconcileError(
                f"{which} missing PK columns {missing}",
                EXIT_SOURCE_SCHEMA_MISMATCH if which == "source" else EXIT_TARGET_SCHEMA_MISMATCH,
                f"{which}_scan")
        out = assign_tiles(df.select(*self.pk_cols), self.pk_cols,
                           self.total_tiles, tile_col="group")
        path = os.path.join(self.workdir, f"{which}_snapshot")
        out.repartition(self.total_tiles, F.col("group")).write.mode("overwrite").parquet(path)
        return path

    def _diff(self, src_path: str, trg_path: str) -> dict:
        """Distinct counts + anti-joins + intersection + ordered samples,
        with write-verify-retry on the persisted diff (R:639-739)."""
        pk = self.pk_cols
        src = self.spark.read.parquet(src_path).dropDuplicates(pk)
        trg = self.spark.read.parquet(trg_path).dropDuplicates(pk)
        missing = src.join(trg, pk, "left_anti")   # source ∖ target
        extra = trg.join(src, pk, "left_anti")     # target ∖ source
        inter = src.join(trg, pk, "left_semi")

        diff_path = os.path.join(self.workdir, "diff_snapshot")
        expected = None
        for attempt in range(DIFF_WRITE_RETRIES):
            missing.write.mode("overwrite").parquet(diff_path)
            expected = expected if expected is not None else missing.count()
            if self.spark.read.parquet(diff_path).count() == expected:
                break
        else:
            raise ReconcileError("diff write verification failed", EXIT_PHASE_FAILURE, "diff")

        order = [F.asc_nulls_last(c) for c in pk]  # deterministic samples R:684-691
        return {
            "source_count": src.count(),
            "target_count": trg.count(),
            "intersection_count": inter.count(),
            "source_minus_target": expected,
            "target_minus_source": extra.count(),
            "samples_missing": [r.asDict() for r in
                                missing.orderBy(*order).limit(self.sample_size).collect()],
            "samples_extra": [r.asDict() for r in
                              extra.orderBy(*order).limit(self.sample_size).collect()],
        }

    # -- main ----------------------------------------------------------------
    def run(self, source: DataFrame, target: DataFrame) -> ReconcileResult:
        t0 = time.time()
        phase = "bootstrap"
        try:
            phase = "source_scan"
            src_path = self._scan(source, "source")
            phase = "target_scan"
            trg_path = self._scan(target, "target")

            phase = "schema_reconciliation"
            s_schema = self.spark.read.parquet(src_path).select(*self.pk_cols).schema
            t_schema = self.spark.read.parquet(trg_path).select(*self.pk_cols).schema
            if not schemas_match_ordered(s_schema, t_schema):
                raise ReconcileError(
                    f"PK schema mismatch: {s_schema.simpleString()} vs {t_schema.simpleString()}",
                    EXIT_TARGET_SCHEMA_MISMATCH, phase)

            phase = "diff"
            d = self._diff(src_path, trg_path)

            phase = "report"
            result = ReconcileResult(
                **d, schema_fingerprint=fingerprint_schema(s_schema),
                status="SUCCEEDED", phase="report", duration_s=time.time() - t0)
            self._write_report(result)
            return result
        except ReconcileError as e:
            partial = ReconcileResult(
                source_count=-1, target_count=-1, intersection_count=-1,
                source_minus_target=-1, target_minus_source=-1,
                samples_missing=[], samples_extra=[], schema_fingerprint="",
                status="FAILED", phase=e.phase, failure=str(e),
                duration_s=time.time() - t0)
            self._write_report(partial)  # partial report on failure (R:1031-1044)
            raise

    def _write_report(self, result: ReconcileResult) -> str:
        path = os.path.join(self.workdir, "report.json")
        os.makedirs(self.workdir, exist_ok=True)
        from dataclasses import asdict
        tmp = f"{path}.{os.getpid()}.tmp"  # atomic publish (house rule):
        with open(tmp, "w") as f:          # operators act on this file;
            json.dump(asdict(result), f, indent=1, default=str)
        os.replace(tmp, path)              # a torn report misleads them
        return path


# -- Merkle-range anti-entropy ---------------------------------------------------

def merkle_tree(
    df: DataFrame,
    pk_col: str,
    content_cols: list[str],
    n_leaves: int = 16,
    fanout: int = 4,
) -> DataFrame:
    """Hierarchical hash tree over hash-tiled key ranges — the
    anti-entropy structure Cassandra repair uses to find out-of-sync
    ranges without shipping rows. Leaf tile = portable 32-bit hash of
    the PK mod n_leaves (same hash family as tiling, K:1832-1843);
    leaf digest = bit_xor of per-row content hashes (order- and
    partition-independent, so two engines/replicas agree bitwise);
    parents combine children by the same xor, so every level is one
    tiny groupBy over the level below. Row counts ride along (parent =
    sum) to harden the digest against xor collisions.

    Returns (level INT, node_id LONG, digest LONG, n_rows LONG) for
    the full tree, empty leaves densified to (0, 0) so trees over any
    two tables are structurally identical and join-comparable. The
    whole tree is |leaves| + |leaves|/fanout + ... rows — compare
    trees root-down and only drill into (or re-sync) ranges whose
    digests differ: the log-depth bandwidth story, with the row-level
    diff (diff.compute_changes) reserved for the leaves that actually
    changed.
    """
    from .analytics.dedup import md5h32

    k = n_leaves
    depth = 0
    while k > 1:
        if k % fanout:
            raise ValueError(
                f"n_leaves={n_leaves} must be a power of fanout={fanout}")
        k //= fanout
        depth += 1
    spark = df.sparkSession
    # Null-safe, boundary-safe row encoding: each field length-prefixes
    # its value ('v<len>:<val>') and NULL gets a distinct marker ('n'),
    # so (NULL,'x') vs ('x',NULL) and ('x:y',NULL) vs ('x','y') hash
    # differently — a concat_ws(':') here skipped NULLs and left the
    # separator unescaped, making exactly those divergences invisible
    # to the anti-entropy check (the one failure a repair must not
    # have; same null-compare rule as diff.py, K:1369-1381).
    def _piece(c):
        s = F.col(c).cast("string")
        return F.when(s.isNull(), F.lit("n")).otherwise(
            F.concat(F.lit("v"), F.length(s).cast("string"), F.lit(":"), s))

    row_digest = md5h32(F.concat(*[_piece(c) for c in [pk_col, *content_cols]]))
    tile = md5h32(F.col(pk_col).cast("string")) % n_leaves
    sparse = (df.select(tile.alias("node_id"), row_digest.alias("digest"))
              .groupBy("node_id")
              .agg(F.expr("bit_xor(digest)").alias("digest"),
                   F.count("*").alias("n_rows")))
    leaves = (
        spark.range(n_leaves).select(F.col("id").cast("long").alias("node_id"))
        .join(sparse, "node_id", "left")
        .select("node_id",
                F.coalesce("digest", F.lit(0).cast("long")).alias("digest"),
                F.coalesce("n_rows", F.lit(0).cast("long")).alias("n_rows"))
    )
    # The whole tree in ONE aggregation (r17): bit_xor and sum are
    # associative, so a level-l node is just the xor/sum of its member
    # LEAVES grouped directly — each leaf explodes into its ancestor id
    # at every level (node = node_id div fanout^l, a literal divisor
    # per level) and one groupBy(level, node_id) folds the full tree.
    # The previous shape built levels one-by-one and unioned them,
    # which needed an EAGER localCheckpoint of the leaves so the table
    # scan wouldn't run once per level — a blocking scan+shuffle job at
    # query-BUILD time per side (guide §5). Now nothing is eager, the
    # scan runs once inside the one action, and the per-level Exchange
    # chain collapses into a single tiny shuffle of
    # (depth+1) x n_leaves rows.
    entries = F.array(*[
        F.struct(F.lit(lvl).cast("int").alias("level"),
                 F.expr(f"node_id div {fanout ** lvl}").alias("node_id"))
        for lvl in range(depth + 1)])
    return (leaves
            .select(F.explode(entries).alias("e"), "digest", "n_rows")
            .groupBy(F.col("e.level").alias("level"),
                     F.col("e.node_id").alias("node_id"))
            .agg(F.expr("bit_xor(digest)").alias("digest"),
                 F.sum("n_rows").cast("long").alias("n_rows")))


def merkle_diff(tree_src: DataFrame, tree_tgt: DataFrame) -> DataFrame:
    """Out-of-sync tree nodes between two structurally-identical Merkle
    trees: inner join on (level, node_id) — densified trees always
    align — keeping nodes whose digest or count disagree. Every
    mismatching leaf's ancestors mismatch too (xor composition), which
    is what lets a repair walk the tree root-down and stop early on
    clean subtrees."""
    s = tree_src.select("level", "node_id",
                        F.col("digest").alias("digest_src"),
                        F.col("n_rows").alias("n_src"))
    t = tree_tgt.select("level", "node_id",
                        F.col("digest").alias("digest_tgt"),
                        F.col("n_rows").alias("n_tgt"))
    return (s.join(t, ["level", "node_id"])
            .filter((F.col("digest_src") != F.col("digest_tgt"))
                    | (F.col("n_src") != F.col("n_tgt"))))
