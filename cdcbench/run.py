#!/usr/bin/env python3
"""Replication-loop benchmark: keys/s and cycle time of the CDC poll loop.

    python3 cdcbench/run.py --workload delta_low_churn --seed 1 \\
        --seconds 30 --trace 0

Run from the root of a checkout: the program under test is the
``cql_replicator_spark`` package in the current directory, and every
file the run writes lives under ``.cdcbench_work/`` there and is
removed at exit. Without the package the run exits with code 2 and
prints no result.

What runs: the ``CdcPipeline`` that ``cli._pipeline`` builds (parquet
source, tiling, snapshot store, ledger, diff, parquet sink, stats),
driven one ``discover()`` + ``replicate()`` cycle at a time. Spark runs
``local[nproc]`` in this process, with the JVM's JIT held at C1 so that
cycle time is flat from the first timed cycle (see start_spark); the
runner's pool keeps its default width.

Load model: a closed loop with one client and the seed as its only
input. Generate a version of the source (gen.py, seeded by --seed),
publish it, run one timed cycle, check it (check.py), repeat until the
timed cycles add up to --seconds and number at least MIN_TIMED_CYCLES.
A snapshot-differencing poller sees the source only at scan time, so
the number of changes per version fully sets a cycle's work.
Generation and checking are untimed.

End-to-end metrics (--trace 0). keys_per_s and cycle_s_p50 are taken
over the quietest third of the timed cycles: the ones during which the
hypervisor stole the least CPU time from this machine (see QUIET_SHARE).
    keys_per_s             keys replicated and verified / summed cycle time
    cycle_s_p50            median cycle wall time (replication-lag floor);
                           the line before the result lists every cycle
                           time with its steal share, the cycles used,
                           and both figures over all timed cycles
    setup_s                all work before the first timed cycle: session
                           start, fixture build, the historical load of
                           the whole table on a cold JVM, warm-up cycles
    target_files_per_cycle median data files the sink wrote per cycle
    peak_rss_mb            VmHWM of this process plus the JVM. The JVM
                           commits its whole 1 GB heap at start (-Xms), so
                           this shows memory outside the heap and above
                           that ceiling, not the heap the run used; the
                           traced run's spark.*.peak_exec_mem_bytes
                           covers execution memory inside it
    verified_cycle_ratio   cycles that completed and passed the check /
                           cycles attempted (1 - the failed-cycle ratio)

Per-layer metrics (--trace 1) come from a separate traced run
(tracing.py): alternate timed cycles run with the wrappers on, and the
others give the same-run untraced median for trace.overhead_s. The
event log is on for the whole traced run, so that overhead covers the
wrappers; trace.cycle_s_p50 against an untraced run's cycle_s_p50
gives the whole cost of tracing.
LAYER_EFFECTS records which end-to-end metric each layer metric should
move, and on which workload.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from check import CheckResult, StatePaths, Totals, check_cycle, dir_size  # noqa: E402
from gen import PK_COLS, Churn, SourceGenerator  # noqa: E402

N_ROWS = 60_000
TABLE = "lineitem"
# Untimed delta cycle after the historical load, so the JIT has seen
# the diff path before the first timed cycle; its time is in setup_s.
WARMUP_CYCLES = 1
MIN_TIMED_CYCLES = 4
# keys_per_s and cycle_s_p50 use this share of the timed cycles, those
# with the least CPU steal. On a shared host, neighbours' load comes in
# periods of seconds to minutes; a cycle that overlaps one reads 15-60%
# slower at 5-30% steal, while cycles at < 1% steal agree within a few
# percent. The cycles are chosen by a measure of the host, never by
# their own time. Over ten runs on a drifting host, the spread of
# cycle_s_p50 (IQR / median) was 0.07 / 0.16 / 0.18 (low churn) and
# 0.21 / 0.30 / 0.36 (high churn) at a third / half / all of the cycles.
QUIET_SHARE = 1 / 3


@dataclass(frozen=True)
class Workload:
    tiles: int
    changes: int  # keys changed per version: 20% ins, 60% upd, 20% del


# Both keep the 4:1 tile ratio of a 16-tile steady poll against a
# 4-tile bulk delta, scaled so a run fits the benchmark's time budget.
WORKLOADS = {
    # 0.1% churn: the full key scan, per-tile snapshot commits, ledger
    # round trips and per-tile jobs dominate; per-row work is noise
    "delta_low_churn": Workload(tiles=4, changes=N_ROWS // 1000),
    # 10% churn on one tile: diff output, broadcast hydration and target
    # writes carry real data; per-tile overhead is a small share
    "delta_high_churn": Workload(tiles=1, changes=N_ROWS // 10),
}

# layer metric -> the end-to-end metric (and workload) it should move
LAYER_EFFECTS = {
    **{m: "cycle_s_p50 on delta_low_churn; setup_s (historical load)"
       for m in ("tiling.scan_tile_s", "source.rows_scanned",
                 "snapshot.write_s", "snapshot.writes", "snapshot.expire_s",
                 "snapshot.store_bytes", "snapshot.store_files")},
    **{m: "cycle_s_p50 on delta_low_churn; almost none on delta_high_churn"
       for m in ("ledger.s", "ledger.calls", "ledger.race_lost",
                 "stats.put_s", "stats.puts", "runner.pool_wait_s",
                 "runner.tile_replicate_s_p50", "runner.tile_replicate_s_max",
                 "spark.jobs_per_cycle")},
    **{m: "cycle_s_p50 on both delta workloads; setup_s unchanged "
          "(the historical load skips the diff)"
       for m in ("diff.s", "diff.changed_keys")},
    **{m: "keys_per_s on delta_high_churn and setup_s; "
          "target_files_per_cycle on both"
       for m in ("sink.s", "sink.calls", "sink.rows_written",
                 "sink.files_written", "sink.bytes_written",
                 "source.scans_per_cycle")},
}


def _fail(msg: str) -> None:
    print(f"cdcbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def cpu_jiffies() -> tuple[int, int]:
    """(all, steal) jiffies of every CPU since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7]


def steal_share(j0: tuple[int, int], j1: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between
    two cpu_jiffies() readings."""
    return (j1[1] - j0[1]) / max(j1[0] - j0[0], 1)


def quiet(steals: list[float]) -> list[int]:
    """Indices of the QUIET_SHARE of cycles (rounded up) with the least
    steal, in cycle order."""
    n = max(1, math.ceil(len(steals) * QUIET_SHARE))
    return sorted(sorted(range(len(steals)), key=steals.__getitem__)[:n])


def peak_rss_mb() -> float:
    """VmHWM of this process and every descendant (the JVM and any
    Python workers it started)."""
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += _vm_hwm_kb(pid)
        todo += _children(pid)
    return total / 1024.0


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.name = workload
        self.wl = WORKLOADS[workload]
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = os.path.join(os.getcwd(), ".cdcbench_work",
                                 f"{workload}-{os.getpid()}")
        self.src = os.path.join(self.work, f"{TABLE}.parquet")
        self.tracer = None

    # -- session ----------------------------------------------------------
    def start_spark(self):
        os.makedirs(os.path.join(self.work, "tmp"))
        # the JVM and its children inherit these; SPARK_LOCAL_DIRS would
        # override spark.local.dir if the caller's environment set it
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        from cql_replicator_spark.session import get_spark
        conf = {
            # the CLI's session conf (cli._get_spark)
            "spark.ui.enabled": "false",
            "spark.sql.shuffle.partitions": "32",
            "spark.ui.showConsoleProgress": "false",
            # keep every file the run writes inside the checkout
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # a heap committed at start (-Xms = the default 1g -Xmx), so
            # peak RSS does not depend on when G1 happens to grow it; the
            # price is that peak_rss_mb reads the heap ceiling plus what
            # lies outside the heap, and a smaller heap footprint does
            # not move it. No hsperfdata file, which HotSpot writes to
            # /tmp regardless.
            # -XX:TieredStopAtLevel=1 keeps the JIT at C1. With the
            # default tiered JIT, cycle time keeps falling for ~10 delta
            # cycles (~40 s) as C2 takes over, so a run that fits the
            # time budget would time cycles on that slope, and where on
            # it a run lands varied cycle_s_p50 by 15-30% between runs.
            # C1 code is compiled within the first cycles and then stays
            # flat; it runs ~25% slower than a C2 plateau. C1 alone
            # defaults to a 48 MB code cache, which the run fills (the
            # JVM then stops compiling), so the cache keeps the tiered
            # default of 240 MB
            "spark.driver.extraJavaOptions":
                "-Xms1g -XX:-UsePerfData -XX:TieredStopAtLevel=1 "
                "-XX:ReservedCodeCacheSize=240m "
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
        }
        if self.trace:
            log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(log_dir)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": "file://" + log_dir,
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
        self.spark = get_spark(
            "cdcbench", master=f"local[{len(os.sched_getaffinity(0))}]",
            extra_conf=conf)

    # -- state --------------------------------------------------------------
    def new_state(self):
        """Fresh workdir + target and the CLI-built pipeline over them.
        The previous state, if any, is removed."""
        from cql_replicator_spark import cli
        state = os.path.join(self.work, "state")
        shutil.rmtree(state, ignore_errors=True)
        args = argparse.Namespace(
            source=self.src, table=None, pk=",".join(PK_COLS), ts_col="ts",
            workdir=os.path.join(state, "work"),
            target=os.path.join(state, "target"), tiles=self.wl.tiles,
            mapping=None, mapping_b64=None)
        pipe = cli._pipeline(self.spark, args)
        paths = StatePaths(
            target=args.target, ledger=os.path.join(args.workdir, "ledger.json"),
            stats=os.path.join(args.workdir, "stats"),
            keyspace=cli.KEYSPACE, table=pipe.table)
        if self.tracer is not None:
            self.tracer.instrument(pipe)
        return pipe, paths

    def cycle(self, pipe, paths, churn: Churn, totals: Totals,
              cyc: int | None):
        """One timed discover+replicate; returns (seconds, check)."""
        if self.tracer is not None:
            self.tracer.cycle = cyc
        w0, t0, j0 = time.time(), time.perf_counter(), cpu_jiffies()
        try:
            pipe.discover()
            pipe.replicate()
            dt = time.perf_counter() - t0
            err = None
        except Exception as e:  # a failed cycle is a result, not a crash
            dt, err = time.perf_counter() - t0, f"{type(e).__name__}: {e}"
        finally:
            if self.tracer is not None:
                self.tracer.cycle = None
        self.window = (w0, time.time())
        self.steal = steal_share(j0, cpu_jiffies())
        totals.add(churn)
        if err is not None:
            return dt, CheckResult(errors=[f"cycle raised {err}"])
        return dt, check_cycle(paths, self.wl.tiles, churn, self.gen.cols,
                               totals)

    def historical(self):
        """Fixture build + fresh state + historical load of every key."""
        self.gen = SourceGenerator(N_ROWS, self.seed)
        self.gen.publish(self.src)
        pipe, paths = self.new_state()
        every = self.gen.codes()
        churn = Churn(inserts=every, updates=every[:0], deletes=every[:0])
        totals = Totals()
        _, res = self.cycle(pipe, paths, churn, totals, None)
        return pipe, paths, totals, res

    def delta(self, pipe, paths, totals: Totals, cyc: int | None):
        churn = self.gen.advance(self.wl.changes)
        self.gen.publish(self.src)
        dt, res = self.cycle(pipe, paths, churn, totals, cyc)
        return churn, dt, res

    # -- run ------------------------------------------------------------------
    def run(self) -> dict:
        jiffies0 = cpu_jiffies()
        self.start_spark()
        session_s = time.perf_counter() - T_START
        if self.trace:
            from tracing import Tracer
            self.tracer = Tracer(self.spark.sparkContext)
            self.tracer.patch_source_pipeline()

        pipe, paths, totals, res = self.historical()
        failures = list(res.errors)
        for _ in range(WARMUP_CYCLES):
            failures += self.delta(pipe, paths, totals, None)[2].errors
        setup_s = time.perf_counter() - T_START
        if failures:
            print(f"cdcbench: set-up failed: {failures[:3]}", file=sys.stderr)

        cycles, steals, keys, files = [], [], [], []
        untraced, windows, extra = [], {}, {}
        while (sum(cycles) < self.seconds or len(cycles) < MIN_TIMED_CYCLES) \
                and not failures:
            cyc = len(cycles)
            # the traced run alternates: odd cycles traced, even untraced
            traced = self.trace and cyc % 2 == 1
            churn, dt, res = self.delta(pipe, paths, totals,
                                        cyc if traced else None)
            cycles.append(dt)
            steals.append(self.steal)
            keys.append(churn.total if res.ok else 0)
            if res.ok:
                files.append(res.files_written)
            else:
                failures += res.errors
                print(f"cdcbench: cycle {cyc} failed: {res.errors[:3]}",
                      file=sys.stderr)
            if traced:
                windows[cyc] = self.window
                snap_files, snap_bytes = dir_size(os.path.join(
                    os.path.dirname(paths.ledger), "snapshots"))
                extra[cyc] = {
                    "sink.rows_written": res.rows_written,
                    "sink.files_written": res.files_written,
                    "sink.bytes_written": res.bytes_written,
                    "snapshot.store_files": snap_files,
                    "snapshot.store_bytes": snap_bytes,
                }
            elif self.trace:
                untraced.append(dt)

        rss = peak_rss_mb()
        attempted = max(len(cycles), 1)
        ok = len(files)
        if self.trace:
            if not windows:
                raise RuntimeError(f"no traced cycle completed: {failures[:3]}")
            metrics = self.digest(windows, extra,
                                  [cycles[c] for c in windows], untraced)
            print(json.dumps({"workload": self.name,
                              "traced_cycles": sorted(windows),
                              "layer_effects": LAYER_EFFECTS}))
        else:
            used = quiet(steals)
            metrics = {
                "keys_per_s": (_rate([keys[i] for i in used],
                                     [cycles[i] for i in used]), "1/s"),
                "cycle_s_p50": (_median([cycles[i] for i in used]), "s"),
                "setup_s": (setup_s, "s"),
                "target_files_per_cycle": (
                    statistics.median(files) if files else 0, "count"),
                "peak_rss_mb": (rss, "MB"),
                "verified_cycle_ratio": (ok / attempted, "ratio"),
            }
            print(json.dumps({
                "workload": self.name, "timed_cycles": len(cycles),
                "cycle_s": [round(c, 4) for c in cycles],
                "cycle_steal": [round(x, 4) for x in steals],
                "quiet_cycles": used,
                "all_cycles": {"keys_per_s": _rate(keys, cycles),
                               "cycle_s_p50": _median(cycles)},
                "session_s": round(session_s, 4),
                "steal_share": round(steal_share(jiffies0, cpu_jiffies()),
                                     4),
                "wall_s": round(time.perf_counter() - T_START, 4)}))
        return {"correct": not failures, "attempted": attempted,
                "failed": attempted - ok,
                "metrics": {k: {"value": v, "unit": u}
                            for k, (v, u) in metrics.items()}}

    def digest(self, windows, extra, traced, untraced) -> dict:
        from tracing import LAYERS, SPAN_METRICS, SPARK_COUNTERS, \
            read_event_log, span_metrics, spark_digest
        spans = [s for s in self.tracer.spans if s.cycle in windows]
        per_span = span_metrics(spans)
        self.spark.stop()
        per_spark, unattributed = spark_digest(
            read_event_log(os.path.join(self.work, "eventlog")), windows,
            self.src)
        rows = []
        for cyc in sorted(windows):
            row = dict(per_span.get(cyc, {}))
            row.update(extra[cyc])
            layers = per_spark.get(cyc, {})
            row["source.rows_scanned"] = sum(
                l.get("source_rows", 0) for l in layers.values())
            row["spark.jobs_per_cycle"] = sum(
                l.get("jobs", 0) for l in layers.values())
            for layer in LAYERS:
                for c in SPARK_COUNTERS:
                    row[f"spark.{layer}.{c}"] = layers.get(layer, {}).get(c, 0)
            rows.append(row)
        out = {k: (statistics.median(r.get(k, 0) for r in rows), _unit(k))
               for k in sorted({*SPAN_METRICS, *rows[0]})}
        traced_p50 = statistics.median(traced)
        untraced_p50 = statistics.median(untraced)
        out["spark.unattributed_jobs"] = (unattributed, "count")
        out["trace.cycle_s_p50"] = (traced_p50, "s")
        out["trace.untraced_cycle_s_p50"] = (untraced_p50, "s")
        out["trace.overhead_s"] = (traced_p50 - untraced_p50, "s")
        return out


def _rate(keys: list[int], cycles: list[float]) -> float:
    return sum(keys) / sum(cycles) if cycles else 0.0


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _unit(name: str) -> str:
    if "bytes" in name:
        return "bytes"
    if name.endswith("_s") or "_s_" in name or name.endswith(".s"):
        return "s"
    return "count"


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(os.getcwd(), "cql_replicator_spark",
                                       "cli.py")):
        _fail("no cql_replicator_spark package in the current directory; "
              "run from the root of a checkout")
    sys.path.insert(0, os.getcwd())
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        result = bench.run()
    finally:
        stop_jvm()
        shutil.rmtree(bench.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(bench.work))
        except OSError:
            pass  # another run's work dir is still there
    print(json.dumps(result))
    return 0


def stop_jvm() -> None:
    """Stop Spark and wait for the JVM that PySpark launched to exit."""
    from pyspark import SparkContext
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
