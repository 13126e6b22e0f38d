"""Traced run: spans around the pipeline's injection points, and a
digest of the Spark event log folded into one row per layer.

The wrappers sit outside the program. ``store``, ``ledger``, ``stats``,
``sink``, ``source`` and ``pk_source`` are constructor fields of
``CdcPipeline``, and ``discover``, ``replicate`` and ``replicate_tile``
are looked up on the instance, so every one of them is swapped for a
wrapper on the built pipeline. Each wrapper records a span (name,
start, end, parent, tile, cycle) and, while it runs, sets a Spark local
property on the calling thread, so every job that thread starts is
tagged with the innermost layer. The tag is set on the thread that
makes the call, which is how tiles run on the runner's pool keep it.

Layers and the spans that carry their tag:

    runner    replicate (the pool fan-out; starts no job itself)
    tiling    discover, self time: source scan, tiling, persist+count
    source    source / pk_source, and build_source_pipeline inside them
    snapshot  SnapshotStore methods
    ledger    Ledger methods
    diff      replicate_tile, self time: diff and its op counts
    sink      the CLI sink: hydration + parquet writes
    stats     StatsStore methods
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

SPAN_PROP = "cdcbench.span"
LAYERS = ("runner", "source", "tiling", "snapshot", "ledger", "diff",
          "sink", "stats")
SPAN_METRICS = (
    "tiling.scan_tile_s", "diff.s", "diff.changed_keys", "runner.pool_wait_s",
    "runner.tile_replicate_s_p50", "runner.tile_replicate_s_max",
    "snapshot.write_s", "snapshot.writes", "snapshot.expire_s", "ledger.s",
    "ledger.calls", "ledger.race_lost", "stats.put_s", "stats.puts", "sink.s",
    "sink.calls", "source.s", "source.scans_per_cycle")
SPARK_COUNTERS = ("jobs", "stages", "tasks", "task_cpu_s", "task_gc_s",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                  "peak_exec_mem_bytes")


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    tile: int | None
    cycle: int
    error: str | None = None
    count: int | None = None


def _tile_of(args) -> int | None:
    for a in args:
        if isinstance(a, int) and not isinstance(a, bool):
            return a
        if isinstance(getattr(a, "tile", None), int):
            return a.tile
    return None


class Tracer:
    """Collects spans in memory. Tracing is on only while ``cycle`` is
    set; with it unset every wrapper is a plain call."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.cycle: int | None = None
        self._lock = threading.Lock()
        self._local = threading.local()
        self._phase: Span | None = None  # parent for pool threads

    def call(self, name: str, layer: str, fn, args, kwargs):
        if self.cycle is None:
            return fn(*args, **kwargs)
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else self._phase
        with self._lock:
            sp = Span(len(self.spans), name, layer, 0.0, 0.0,
                      parent.id if parent else None, _tile_of(args),
                      self.cycle)
            self.spans.append(sp)
        prev = self.sc.getLocalProperty(SPAN_PROP)
        self.sc.setLocalProperty(SPAN_PROP, f"{layer}|{self.cycle}")
        stack.append(sp)
        if not parent:
            self._phase = sp
        sp.start = time.time()
        try:
            out = fn(*args, **kwargs)
            n = getattr(out, "primaryKeys", None)
            sp.count = n if isinstance(n, int) else None
            return out
        except Exception as e:
            sp.error = type(e).__name__
            raise
        finally:
            sp.end = time.time()
            stack.pop()
            if self._phase is sp:
                self._phase = None
            self.sc.setLocalProperty(SPAN_PROP, prev)

    def wrap_fn(self, fn, name: str, layer: str):
        def traced(*args, **kwargs):
            return self.call(name, layer, fn, args, kwargs)
        return traced

    def wrap_obj(self, obj, layer: str):
        return _Proxy(self, obj, layer)

    def patch_source_pipeline(self) -> None:
        """Wrap transform.build_source_pipeline. cli._pipeline imports it
        when it builds a pipeline, and the CLI's source closure (which
        the sink calls directly, not through the pipeline's field) calls
        it once per source scan; call this before building pipelines."""
        from cql_replicator_spark import transform
        transform.build_source_pipeline = self.wrap_fn(
            transform.build_source_pipeline, "build_source_pipeline", "source")

    def instrument(self, pipe) -> None:
        """Swap every injection point of a built CdcPipeline."""
        pipe.store = self.wrap_obj(pipe.store, "snapshot")
        pipe.ledger = self.wrap_obj(pipe.ledger, "ledger")
        pipe.stats = self.wrap_obj(pipe.stats, "stats")
        pipe.sink = self.wrap_fn(pipe.sink, "sink", "sink")
        pipe.source = self.wrap_fn(pipe.source, "source", "source")
        pipe.pk_source = self.wrap_fn(pipe.pk_source, "pk_source", "source")
        pipe.discover = self.wrap_fn(pipe.discover, "discover", "tiling")
        pipe.replicate = self.wrap_fn(pipe.replicate, "replicate", "runner")
        pipe.replicate_tile = self.wrap_fn(pipe.replicate_tile,
                                           "replicate_tile", "diff")


class _Proxy:
    """Forwards attribute access; public methods run inside a span."""

    def __init__(self, tracer: Tracer, target, layer: str):
        self._tracer, self._target, self._layer = tracer, target, layer

    def __getattr__(self, name):
        attr = getattr(self._target, name)
        if name.startswith("_") or not callable(attr):
            return attr

        def traced(*args, **kwargs):
            return self._tracer.call(f"{self._layer}.{name}", self._layer,
                                     attr, args, kwargs)
        return traced


# -- span digest -------------------------------------------------------------
def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    return {s.id: (s.end - s.start) - _union(kids[s.id]) for s in spans}


def span_metrics(spans: list[Span]) -> dict[int, dict[str, float]]:
    """Per-cycle layer numbers from the spans of traced cycles."""
    selfs = self_times(spans)
    by_cycle: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        by_cycle[s.cycle].append(s)
    out = {}
    for cyc, ss in by_cycle.items():
        m: dict[str, float] = defaultdict(float)
        rep_start = min((s.start for s in ss if s.name == "replicate"),
                        default=None)
        tile_durs = []
        for s in ss:
            dur = s.end - s.start
            if s.name == "discover":
                m["tiling.scan_tile_s"] += selfs[s.id]
            elif s.name == "replicate_tile":
                m["diff.s"] += selfs[s.id]
                m["diff.changed_keys"] += s.count or 0
                tile_durs.append(dur)
                if rep_start is not None:
                    m["runner.pool_wait_s"] += s.start - rep_start
            elif s.name == "snapshot.write_snapshot":
                m["snapshot.write_s"] += dur
                m["snapshot.writes"] += 1
            elif s.name == "snapshot.expire_snapshots":
                m["snapshot.expire_s"] += dur
            elif s.layer == "ledger":
                m["ledger.s"] += dur
                m["ledger.calls"] += 1
                m["ledger.race_lost"] += s.error == "DiscoveryRaceLost"
            elif s.name == "stats.put":
                m["stats.put_s"] += dur
                m["stats.puts"] += 1
            elif s.name == "sink":
                m["sink.s"] += selfs[s.id]
                m["sink.calls"] += 1
            elif s.layer == "source":
                m["source.s"] += selfs[s.id]
                m["source.scans_per_cycle"] += s.name == "build_source_pipeline"
        m["runner.tile_replicate_s_p50"] = (
            statistics.median(tile_durs) if tile_durs else 0.0)
        m["runner.tile_replicate_s_max"] = max(tile_durs, default=0.0)
        out[cyc] = dict(m)
    return out


# -- event-log digest --------------------------------------------------------
def read_event_log(log_dir: str) -> list[dict]:
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {files}")
    with open(files[0]) as f:
        return [json.loads(line) for line in f if line.strip()]


def _tag(props: dict | None) -> tuple[str, int] | None:
    v = (props or {}).get(SPAN_PROP)
    if not v:
        return None
    layer, cycle = v.split("|")
    return layer, int(cycle)


def _scan_row_accumulators(plan: dict, source: str, out: set[int]) -> None:
    """Add the "number of output rows" accumulator of every parquet
    scan of ``source`` in a SQL plan tree to ``out``."""
    if (plan.get("nodeName", "").startswith("Scan parquet")
            and source in plan.get("metadata", {}).get("Location", "")):
        out.update(m["accumulatorId"] for m in plan.get("metrics", ())
                   if m["name"] == "number of output rows")
    for child in plan.get("children", ()):
        _scan_row_accumulators(child, source, out)


def spark_digest(events: list[dict], windows: dict[int, tuple[float, float]],
                 source: str):
    """Fold the event log into per-(cycle, layer) counters.

    ``windows`` maps each traced cycle to its wall-clock (start, end) in
    epoch seconds. Returns (per_cycle, unattributed) where per_cycle is
    {cycle: {layer: {counter: value}}} and unattributed counts jobs
    submitted inside a traced cycle's window with no layer tag.

    ``source_rows`` counts the rows that parquet scans of the ``source``
    path output, from the scan node's SQL metric, so row-group pruning
    or a pushed filter lowers it. DataFrames are lazy, so a scan runs
    in whichever layer's job first needs it, and is counted there."""
    per: dict[int, dict[str, dict[str, float]]] = defaultdict(
        lambda: defaultdict(lambda: defaultdict(float)))
    stage_tag: dict[int, tuple[str, int]] = {}
    scan_rows: set[int] = set()
    unattributed = 0

    def in_window(ms: float) -> bool:
        t = ms / 1000.0
        return any(s <= t <= e for s, e in windows.values())

    for ev in events:
        kind = ev.get("Event", "")
        if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            _scan_row_accumulators(ev.get("sparkPlanInfo", {}), source,
                                   scan_rows)
        elif kind == "SparkListenerJobStart":
            tag = _tag(ev.get("Properties"))
            if tag and tag[1] in windows:
                per[tag[1]][tag[0]]["jobs"] += 1
            elif not tag and in_window(ev.get("Submission Time", 0)):
                unattributed += 1
        elif kind == "SparkListenerStageSubmitted":
            tag = _tag(ev.get("Properties"))
            if tag and tag[1] in windows:
                stage_tag[ev["Stage Info"]["Stage ID"]] = tag
                per[tag[1]][tag[0]]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            tag = stage_tag.get(ev.get("Stage ID"))
            tm = ev.get("Task Metrics")
            if tag is None or not tm:
                continue
            row = per[tag[1]][tag[0]]
            row["tasks"] += 1
            row["source_rows"] += sum(
                int(a.get("Update", 0))
                for a in ev.get("Task Info", {}).get("Accumulables", ())
                if a.get("ID") in scan_rows)
            row["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            row["task_gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            rd = tm.get("Shuffle Read Metrics", {})
            row["shuffle_read_bytes"] += (rd.get("Remote Bytes Read", 0)
                                          + rd.get("Local Bytes Read", 0))
            row["shuffle_write_bytes"] += tm.get(
                "Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            row["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                   + tm.get("Disk Bytes Spilled", 0))
            row["peak_exec_mem_bytes"] = max(
                row["peak_exec_mem_bytes"], tm.get("Peak Execution Memory", 0))
    return per, unattributed
