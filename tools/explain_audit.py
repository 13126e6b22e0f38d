#!/usr/bin/env python3
"""Dump physical-plan evidence for every registered query to PLANS.md.

For each `queries()` entry: the formatted plan's scan/exchange/join
skeleton plus PushedFilters and ReadSchema lines — the artifacts that
prove predicate pushdown, column pruning, and broadcast strategy
survived Catalyst — plus serial-funnel markers for the returned plan
AND (prefixed ACTION) for every execution the lane triggered while
building, captured from the SQL status store: writes, collects,
checkpoint jobs, and streaming micro-batches are audited with the same
three detectors (partition-less Window, single-partition Exchange,
Coalesce(1)), closing the r13 blind spot where data-proportional
coalesce(1) staging writes hid inside lane bodies. The detectors
themselves live in cql_replicator_spark.planaudit (imported below, and
re-exported here so existing by-path loaders keep working).
Regenerate after plan-affecting changes:

    python3 tools/explain_audit.py
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from cql_replicator_spark.planaudit import (  # noqa: E402,F401
    ACTION_PREFIX,
    COALESCE_ONE_MARK,
    GLOBAL_WINDOW_MARK,
    SINGLE_PARTITION_MARK,
    action_marks,
    action_plans,
    exec_watermark,
    global_window_args,
    single_partition_exchange_args,
    single_task_coalesce_args,
)

SF_DIR = "/root/testdata/sf0.01"
KEEP = re.compile(
    r"PushedFilters|ReadSchema|Broadcast(Exchange|HashJoin|NestedLoop)"
    r"|Scan parquet|^\s*\(\d+\) |Exchange|SortMergeJoin|ShuffledHashJoin"
    r"|HashAggregate|WindowExec|\bWindow\b|Generate|MapInPandas")

# Tokens that change from run to run of one tree: expression ids
# (``nation_rev#15295``), plan ids (``plan_id=9557``) and the pid suffix
# of tables a lane names per process (``sg_bkt_orders_p2052``). Each is
# written as a fixed placeholder, so regenerating PLANS.md from an
# unchanged tree rewrites it byte for byte and a diff shows plan changes.
_RUN_TOKENS = ((re.compile(r"#\d+"), "#N"),
               (re.compile(r"\bplan_id=\d+"), "plan_id=N"),
               (re.compile(r"_p\d+\b"), "_pN"))


def normalize_line(line: str) -> str:
    """One PLANS.md line with its per-run tokens replaced (_RUN_TOKENS).
    A PushedFilters line is kept as it is: data-source filters name
    columns without ids, so a ``#`` there is data (``Brand#23``)."""
    if line.lstrip().startswith("PushedFilters:"):
        return line
    for pattern, placeholder in _RUN_TOKENS:
        line = pattern.sub(placeholder, line)
    return line


# Hand-curated audit notes for plans whose cost shape is NOT visible in
# the static skeleton (driver-side loops, cross-query shared frames).
# Emitted verbatim under the query's section.

# Lifetime/ownership contract of the shared-LSH memo, stamped on all
# five consuming lanes so the memo cannot silently decay into shared
# mutable state (r11 verdict item 4; pinned mechanically by
# tests/test_analytics.py::test_lsh_memo_lanes_are_read_only_under_concurrency).
_LSH_MEMO_CONTRACT = (
    "MEMO CONTRACT: the memoized frames are session-lifetime, "
    "LOCKED-FIFO-bounded, and READ-ONLY — a lane must never mutate, "
    "unpersist, or re-persist a frame it got from the memo (derive "
    "new frames instead); all memo mutations go through "
    "_memo_get_or_put under _LSH_SHARED_LOCK.")

NOTES = {
    "bpe_top_pairs": (
        "NOTE: this row is ONE pair-count round."),
    "bpe_top_pairs_batched": (
        "NOTE: one batched round selects up to k symbol-disjoint merges "
        "(here k=8) — one k-row collect per ROUND instead of one per "
        "merge."),
    "dedup_minhash_lsh": (
        "NOTE: plan reads the session-shared persisted candidate stage "
        "(_shared_capped_lsh): shingle->minhash->banded pairs built ONCE "
        "per (session, corpus, params) and reused by dedup_clusters{,_star}, "
        "dedup_cluster_keepers, dedup_minhash_accuracy — five corpus "
        "re-shingles collapse to one (bench_ab_sharedlsh.json: warm-"
        "neutral 1.02 at sf0.1 where shingling is cheap; cold 1.53x; "
        "structural at 100 TB where exchange reuse never spans jobs). "
        + _LSH_MEMO_CONTRACT),
    "dedup_clusters": (
        "NOTE: pair input comes from the session-shared persisted LSH "
        "candidate stage (_shared_capped_lsh; see dedup_minhash_lsh). "
        + _LSH_MEMO_CONTRACT),
    "dedup_clusters_star": (
        "NOTE: pair input comes from the session-shared persisted LSH "
        "candidate stage (_shared_capped_lsh; see dedup_minhash_lsh). "
        + _LSH_MEMO_CONTRACT),
    "dedup_cluster_keepers": (
        "NOTE: pair input comes from the session-shared persisted LSH "
        "candidate stage (_shared_capped_lsh; see dedup_minhash_lsh). "
        + _LSH_MEMO_CONTRACT),
    "dedup_minhash_accuracy": (
        "NOTE: signature+pair inputs come from the session-shared "
        "persisted LSH candidate stage (_shared_capped_lsh; see "
        "dedup_minhash_lsh). " + _LSH_MEMO_CONTRACT),
}


def main() -> None:
    from cql_replicator_spark.queries import REGISTRY, queries
    from cql_replicator_spark.session import get_spark

    queries()
    spark = get_spark(extra_conf={
        "spark.ui.enabled": "false",
        "spark.sql.shuffle.partitions": "8",
        # headroom for the per-lane action capture: eviction only drops
        # the oldest executions, but keep the window generous anyway
        "spark.sql.ui.retainedExecutions": "2000",
    })
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")

    out = [
        "# PLANS — physical-plan audit of every registered query",
        "",
        "Generated by `tools/explain_audit.py` at sf0.01. Lines kept: scans with",
        "their PushedFilters/ReadSchema (pushdown + pruning evidence), joins,",
        "exchanges, aggregates (shuffle structure). Full plans via",
        '`df.explain("formatted")`.',
        "",
    ]
    for name in sorted(REGISTRY):
        try:
            wm = exec_watermark(spark)
            df = REGISTRY[name].build(spark, SF_DIR)
            plan = df._jdf.queryExecution().explainString(mode)
            acts = action_plans(spark, wm)
        except Exception as exc:  # pragma: no cover
            out += [f"## {name}", "", f"ERROR: {exc}", ""]
            continue
        # normalized before the cut, so an id's digit count cannot move it
        kept = [normalize_line(ln.rstrip())[:160]
                for ln in plan.splitlines() if KEEP.search(ln)]
        kept += [f"{GLOBAL_WINDOW_MARK} {args}"
                 for args in global_window_args(plan)]
        kept += [f"{SINGLE_PARTITION_MARK} {args}"
                 for args in single_partition_exchange_args(plan)]
        kept += [f"{COALESCE_ONE_MARK} {args}"
                 for args in single_task_coalesce_args(plan)]
        kept += action_marks(acts)
        out += [f"## {name}", ""]
        if name in NOTES:
            out += [NOTES[name], ""]
        out += ["```", *map(normalize_line, kept), "```", ""]
    Path(__file__).resolve().parent.parent.joinpath("PLANS.md").write_text(
        "\n".join(out))
    print(f"wrote PLANS.md ({len(REGISTRY)} queries)")
    spark.stop()


if __name__ == "__main__":
    main()
