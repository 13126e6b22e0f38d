"""Control-plane CLI — the `cqlreplicator` command surface, Spark-first.

Mirrors the reference's bash orchestrator dispatch (glue/bin/cqlreplicator
C:1431-1710: run / stats / request-stop / reconcile-keys) against this
engine's offline-testable wiring: a parquet source table replicated to
a parquet target through the tiling -> snapshot -> ledger -> diff ->
bulk-hydration pipeline. On a cluster the same commands run under
spark-submit; only the source/sink factories change.

    python -m cql_replicator_spark.cli run --source /data/orders \\
        --pk o_orderkey --ts-col updated_at --workdir /state \\
        --target /out --tiles 8 --cycles 1
    python -m cql_replicator_spark.cli stats --workdir /state
    python -m cql_replicator_spark.cli request-stop --workdir /state
    python -m cql_replicator_spark.cli reconcile-keys --source /data/a \\
        --target /data/b --pk k1,k2 --workdir /state
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark import InheritableThread
from pyspark.sql import functions as F

KEYSPACE = "default"  # single-namespace offline layout


def _load_mapping(args):
    """JSON_MAPPING from --mapping (file) or --mapping-b64 (K:561's
    base64 channel); defaults to an all-columns passthrough."""
    from .config import JsonMapping, resolve, resolve_b64
    if getattr(args, "mapping", None):
        with open(args.mapping) as f:
            return resolve(json.load(f))
    if getattr(args, "mapping_b64", None):
        return resolve_b64(args.mapping_b64)
    return JsonMapping()


def _rows(counts, *ops):
    """Rows of ``ops`` in a cycle's ``{tile: {op: rows}}`` counts."""
    return sum(n.get(op, 0) for n in counts.values() for op in ops)


def _pipeline(spark, args):
    from .ledger import Ledger
    from .runner import CdcPipeline, StatsStore
    from .sinks.parquet_sink import (
        BROADCAST_MAX_KEYS, hydrate_changes, write_tile_batches)
    from .snapshot import SnapshotStore
    from .transform import build_source_pipeline

    table = args.table or os.path.basename(args.source.rstrip("/")).replace(".parquet", "")
    pk_cols = args.pk.split(",")
    mapping = _load_mapping(args)

    def source():
        return build_source_pipeline(
            spark.read.parquet(args.source), mapping, pk_cols, args.ts_col)

    def pk_source():
        df = source()
        ts = F.col(args.ts_col).cast("long") if args.ts_col else F.lit(0).cast("long")
        return df.select(*pk_cols, ts.alias("ts"))

    def sink(tagged, counts, batches):
        """Write a cycle's changes from the runner's tagged diff, one
        source scan per cycle. The delete write (keys only) runs on an
        ``InheritableThread``, so its jobs carry the caller's job group
        and tags, while this thread hydrates inserts and updates
        together (the broadcast keys carry tile and op) and writes
        them; both writes finish before the sink returns or raises. A
        write the runner's counts give no rows is skipped. The batch id
        is the tile's curr snapshot id, unique per rotation, so
        back-to-back cycles never overwrite each other's delta."""
        if not args.target:
            return
        failed = []

        def write_deletes():
            try:
                write_tile_batches(
                    tagged.filter(F.col("op") == "delete")
                    .select("tile", "op", *pk_cols),
                    args.target, KEYSPACE, table, batches, counts)
            except BaseException as e:  # re-raised on the caller's thread
                failed.append(e)

        deleter = None
        if _rows(counts, "delete"):
            deleter = InheritableThread(target=write_deletes, session=spark)
            deleter.start()
        try:
            n_upserts = _rows(counts, "insert", "update")
            if n_upserts:
                hydrated = hydrate_changes(
                    source(), tagged.filter(F.col("op") != "delete"), pk_cols,
                    carry=("tile", "op"),
                    broadcast_pks=n_upserts <= BROADCAST_MAX_KEYS)
                write_tile_batches(hydrated, args.target, KEYSPACE, table,
                                   batches, counts, unique_by=pk_cols)
        finally:
            if deleter is not None:
                deleter.join()
        if failed:
            raise failed[0]

    return CdcPipeline(
        spark=spark, keyspace=KEYSPACE, table=table, pk_cols=pk_cols,
        source=source, pk_source=pk_source,
        store=SnapshotStore(os.path.join(args.workdir, "snapshots"), KEYSPACE, table),
        ledger=Ledger(os.path.join(args.workdir, "ledger.json")),
        stats=StatsStore(os.path.join(args.workdir, "stats")),
        total_tiles=args.tiles,
        sink=sink,
    )


def _sentinel(args):
    from .runner import StopSentinel
    return StopSentinel(os.path.join(args.workdir, "stopRequested"))


def _get_spark(args):
    from .session import get_spark
    return get_spark("cqlreplicator-cli", extra_conf={
        "spark.ui.enabled": "false",
        "spark.sql.shuffle.partitions": str(args.shuffle_partitions),
    })


def cmd_run(args) -> int:
    pipe = _pipeline(_get_spark(args), args)
    cycles = pipe.run_loop(_sentinel(args), cooldown_s=args.cooldown,
                           max_cycles=args.cycles)
    print(json.dumps({"cycles": cycles}))
    return 0


def cmd_discover(args) -> int:
    tiles = _pipeline(_get_spark(args), args).discover()
    print(json.dumps({"rotated_tiles": tiles}))
    return 0


def cmd_replicate(args) -> int:
    stats = _pipeline(_get_spark(args), args).replicate()
    print(json.dumps([vars(s) for s in stats]))
    return 0


def cmd_stats(args) -> int:
    """Discovered-vs-replicated totals (`--cmd stats` C:1811-1846).

    Tables and tiles are enumerated from the snapshot manifests and the
    stats directory themselves (a tile that never rotated has no
    manifest entry and no stats file and contributes zero — it must not
    truncate the scan of later tiles). ``discovered`` is the discovery
    gauge, each tile's newest snapshot count, summed over tiles
    (current source key count); ``replicated`` the cumulative
    inserted+updated+deleted counter. The
    in-sync check compares like with like: current source keys vs net
    rows landed in the target (cumulative inserted - deleted; updates
    don't change row count)."""
    import re

    from .runner import StatsStore
    from .snapshot import SnapshotStore

    stats_root = os.path.join(args.workdir, "stats")
    snaps_root = os.path.join(args.workdir, "snapshots")
    store = StatsStore(stats_root)
    tables = set()
    for root in (stats_root, snaps_root):
        if os.path.isdir(os.path.join(root, KEYSPACE)):
            tables.update(os.listdir(os.path.join(root, KEYSPACE)))
    out = []
    for table in sorted(tables):
        live = SnapshotStore(snaps_root, KEYSPACE, table).all_snapshots()
        discovered = sum(snaps[-1].count for snaps in live.values())
        stats_dir = os.path.join(stats_root, KEYSPACE, table)
        replicated = net_replicated = 0
        for f in (os.listdir(stats_dir) if os.path.isdir(stats_dir) else ()):
            if not (m := re.match(r"replication-tile-(\d+)\.json$", f)):
                continue
            r = store.get(KEYSPACE, table, int(m.group(1)))
            ins = r.get("insertedPrimaryKeys", 0)
            upd = r.get("updatedPrimaryKeys", 0)
            dels = r.get("deletedPrimaryKeys", 0)
            replicated += ins + upd + dels
            net_replicated += ins - dels
        out.append({"table": table, "discovered": discovered,
                    "replicated": replicated,
                    "in_sync": discovered == net_replicated})
    print(json.dumps(out))
    return 0


def cmd_request_stop(args) -> int:
    _sentinel(args).request()
    print(json.dumps({"stop_requested": True}))
    return 0


def cmd_reconcile(args) -> int:
    """Primary-key reconciliation job (R); exits with the phase's code."""
    from .reconcile import ReconcileError, ReconcileJob
    spark = _get_spark(args)
    job = ReconcileJob(spark, args.workdir, args.pk.split(","),
                       total_tiles=args.tiles, sample_size=args.sample_size)
    try:
        result = job.run(spark.read.parquet(args.source),
                         spark.read.parquet(args.target))
    except ReconcileError as e:
        print(json.dumps({"status": "FAILED", "phase": e.phase,
                          "error": str(e)}))
        return e.exit_code
    print(json.dumps({
        "status": result.status,
        "source_count": result.source_count,
        "target_count": result.target_count,
        "in_sync": result.in_sync,
        "report": os.path.join(args.workdir, "report.json"),
    }))
    return 0 if result.in_sync else 3


def cmd_plan_capacity(args) -> int:
    """Capacity plan + TCO print (C:1402-1426 sizing, C:1286-1291 ramp,
    H:61-79 TCO): worker type/count from the WCU budget, per-tile ramp
    start offsets, total DPU, and hourly cost at the given DPU price."""
    from .config import (
        calculate_workers, estimate_tco_per_hour, traffic_ramp_schedule,
    )

    worker_type, workers = calculate_workers(args.wcu, args.tiles)
    ramp = traffic_ramp_schedule(args.tiles, args.inc_traffic,
                                 args.custom_inc_traffic)
    total_dpu, cost = estimate_tco_per_hour(
        args.dpu_price, args.tiles, workers, args.discovery_workers)
    print(json.dumps({
        "worker_type": worker_type,
        "workers_per_tile": workers,
        "ramp_start_offsets_s": ramp,
        "total_dpu": total_dpu,
        "hourly_cost": cost,
    }))
    return 0


def cmd_compact(args) -> int:
    """Bin-pack a fragmented parquet directory (the maintenance half of
    the size-controlled writer: 2-minute incremental backups accrete
    splinter files; see sinks/parquet_sink.compact_parquet)."""
    from .session import get_spark
    from .sinks.parquet_sink import compact_parquet, parquet_dir_stats

    spark = get_spark("compact")
    n_in, total = parquet_dir_stats(spark, args.source)
    n_out = compact_parquet(
        spark, args.source, args.dest,
        target_bytes=args.target_mb * 1024 * 1024, shuffle=args.shuffle,
        src_stats=(n_in, total))  # one LIST of the source, not two
    print(json.dumps({
        "files_in": n_in, "bytes_in": total, "files_out": n_out,
        "target_mb": args.target_mb, "dest": args.dest,
    }))
    return 0


def cmd_query(args) -> int:
    """Run any registered analytics/replication query by name against a
    testdata-shaped directory of parquet tables, writing the result to
    parquet/CSV or printing a preview — the switch-over surface for a
    user replacing ad-hoc reference jobs: every operator in the
    registry is runnable from the shell with no Python required."""
    from .queries import REGISTRY, _ensure_all_registered
    from .session import get_spark

    _ensure_all_registered()
    if args.list or args.name is None:
        for name, spec in sorted(REGISTRY.items()):
            doc = (spec.doc or "").split(". ")[0][:90]
            print(f"{name:34s} {doc}")
        return 0
    if args.name not in REGISTRY:
        print(f"unknown query {args.name!r}; use --list", file=sys.stderr)
        return 2
    spark = get_spark(
        "query",
        extra_conf={"spark.sql.shuffle.partitions":
                    str(args.shuffle_partitions)})
    df = REGISTRY[args.name].build(spark, args.sf_dir)
    if args.out:
        if args.out.endswith(".csv") or args.format == "csv":
            fmt = "csv"
        else:
            fmt = "parquet"
        w = df.coalesce(1) if args.single_file else df
        if fmt == "csv":
            w.write.mode("overwrite").option("header", "true").csv(args.out)
        else:
            w.write.mode("overwrite").parquet(args.out)
        # count from the WRITTEN files: df.count() here would re-execute
        # the whole plan (and re-run any staging side effects) a second
        # time just to report a row count
        if fmt == "csv":
            n = spark.read.option("header", "true").csv(args.out).count()
        else:
            n = spark.read.parquet(args.out).count()
        print(json.dumps({"query": args.name, "rows": n,
                          "out": args.out, "format": fmt}))
    else:
        df.show(args.limit, truncate=False)
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="cqlreplicator-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    def common(sp, source=True):
        sp.add_argument("--workdir", required=True)
        sp.add_argument("--tiles", type=int, default=4)
        sp.add_argument("--shuffle-partitions", type=int, default=32)
        if source:
            sp.add_argument("--source", required=True)
            sp.add_argument("--pk", required=True)
            sp.add_argument("--ts-col", default=None)
            sp.add_argument("--table", default=None)
            sp.add_argument("--target", default=None)
            sp.add_argument("--mapping", default=None,
                            help="path to a JSON_MAPPING config file")
            sp.add_argument("--mapping-b64", default=None,
                            help="base64-encoded JSON_MAPPING (the reference's channel)")

    sp = sub.add_parser("run", help="discovery+replication loop until stop/cycles")
    common(sp)
    sp.add_argument("--cycles", type=int, default=None)
    sp.add_argument("--cooldown", type=float, default=0.0)
    sp.set_defaults(fn=cmd_run)

    sp = sub.add_parser("discover", help="one discovery cycle")
    common(sp)
    sp.set_defaults(fn=cmd_discover)

    sp = sub.add_parser("replicate", help="one replication cycle")
    common(sp)
    sp.set_defaults(fn=cmd_replicate)

    sp = sub.add_parser("stats", help="discovered vs replicated totals")
    common(sp, source=False)
    sp.set_defaults(fn=cmd_stats)

    sp = sub.add_parser("request-stop", help="write the graceful-stop sentinel")
    common(sp, source=False)
    sp.set_defaults(fn=cmd_request_stop)

    sp = sub.add_parser("reconcile-keys", help="primary-key reconciliation job")
    common(sp, source=False)
    sp.add_argument("--source", required=True)
    sp.add_argument("--target", required=True)
    sp.add_argument("--pk", required=True)
    sp.add_argument("--sample-size", type=int, default=100)
    sp.set_defaults(fn=cmd_reconcile)

    sp = sub.add_parser("compact",
                        help="bin-pack a fragmented parquet dir by bytes")
    sp.add_argument("--source", required=True, help="fragmented parquet dir")
    sp.add_argument("--dest", required=True, help="compacted output dir")
    sp.add_argument("--target-mb", type=int, default=32,
                    help="target output file size in MB (default 32, P:425)")
    sp.add_argument("--shuffle", action="store_true",
                    help="repartition for balanced outputs (one data shuffle)")
    sp.set_defaults(fn=cmd_compact)

    sp = sub.add_parser("plan-capacity",
                        help="worker sizing, traffic ramp, and TCO estimate")
    sp.add_argument("--tiles", type=int, required=True)
    sp.add_argument("--wcu", type=int, required=True,
                    help="target provisioned write throughput (WCU/s)")
    sp.add_argument("--dpu-price", type=float, default=0.44,
                    help="DPU price per hour in USD")
    sp.add_argument("--inc-traffic", action="store_true",
                    help="ramp tile starts 240s apart instead of 5s")
    sp.add_argument("--custom-inc-traffic", type=int, default=None,
                    metavar="SECONDS", help="custom inter-tile start delay")
    sp.add_argument("--discovery-workers", type=int, default=0,
                    help="override discovery worker count (0 = formula)")
    sp.set_defaults(fn=cmd_plan_capacity)

    sp = sub.add_parser("query",
                        help="run a registered query by name (--list to enumerate)")
    sp.add_argument("--name", default=None, help="registry name (see --list)")
    sp.add_argument("--sf-dir", default="/root/testdata/sf0.01",
                    help="directory of parquet tables (testdata layout)")
    sp.add_argument("--out", default=None,
                    help="output path (parquet, or CSV via --format/.csv)")
    sp.add_argument("--format", default="parquet", choices=["parquet", "csv"])
    sp.add_argument("--single-file", action="store_true",
                    help="coalesce(1) before writing")
    sp.add_argument("--limit", type=int, default=20,
                    help="preview row count when no --out")
    sp.add_argument("--shuffle-partitions", type=int, default=32)
    sp.add_argument("--list", action="store_true",
                    help="print every registered query and exit")
    sp.set_defaults(fn=cmd_query)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
