"""Serial-funnel plan detectors.

Three detectors recognize the data-proportional single-task shapes in a
formatted physical plan (the shapes the r12-r14 verdicts kept finding
hiding one layer below each round's gates):

- partition-less ``Window`` (every row through one task's state),
- ``Exchange`` whose output partitioning is SinglePartition / an
  explicit 1-partition hash/range/round-robin partitioning,
- ``Coalesce`` to 1 partition (a NARROW merge — no Exchange node, so
  the exchange detector is blind to it, and it never appears in a
  returned plan's kept lines when used inside a write action).

``tools/explain_audit.py`` runs them over every registered lane's
returned plan AND every SQL execution the lane triggers while building
(PLANS.md markers, gated by tests/test_oracle.py). No package write
runs as an RDD action: each one, the ``cql`` data source's included,
is a SQL execution, so that audit sees it.
"""

from __future__ import annotations

import re

# Marker emitted for every partition-less Window node in a plan.
# tests/test_oracle.py fails any PLANS.md section carrying this marker
# unless the query is whitelisted as bounded — the gate the r12 verdict
# prescribed after eight data-proportional single-partition windows
# survived twelve rounds of by-hand plan review.
GLOBAL_WINDOW_MARK = "GLOBAL-WINDOW (partition-less):"

# Sibling marker for the OTHER serial-funnel plan node: an Exchange
# whose output partitioning is SinglePartition (or any partitioning
# with numPartitions=1). Same failure mode as a partition-less Window
# — every upstream row flows through one task — but reached via
# different APIs (global limit not rewritten to TakeOrdered, Window
# frames, repartition(1), 1-partition range exchange). The tree line
# the audit keeps is just "(N) Exchange"; the partitioning lives on
# the Arguments detail line, so without this mark the shape is
# invisible in PLANS.md. Gated by
# tests/test_oracle.py::test_no_single_partition_exchanges.
SINGLE_PARTITION_MARK = "SINGLE-PARTITION-EXCHANGE:"

# Third sibling marker: a Coalesce node collapsing to ONE partition.
# coalesce(1) is not an Exchange (no shuffle — it narrows existing
# partitions into a single task), so the exchange detector cannot see
# it, and it never appears in a RETURNED plan's kept lines when the
# lane only uses it inside a .write action — which is exactly where
# the r13 audit found six data-proportional staging funnels hiding.
# Stamped for returned plans AND (prefixed ACTION) for every execution
# a lane triggers while building; gated by
# tests/test_oracle.py::test_no_single_task_coalesces.
COALESCE_ONE_MARK = "SINGLE-TASK-COALESCE:"

# Prefix for markers found in ACTION plans (executions a lane triggered
# while building — writes, collects, checkpoint jobs, streaming
# micro-batches) rather than in the returned DataFrame's static plan.
# The gates match on the base marker substring, so an ACTION-prefixed
# mark trips the same whitelist contract.
ACTION_PREFIX = "ACTION "


def _top_level_group_bodies(s: str) -> list[str]:
    """Contents of top-level [...] groups in a formatted-explain
    Arguments line (brackets nest inside literal arrays / cast types,
    so track depth)."""
    bodies: list[str] = []
    depth = 0
    start = 0
    for i, ch in enumerate(s):
        if ch == "[":
            if depth == 0:
                start = i + 1
            depth += 1
        elif ch == "]":
            depth = max(0, depth - 1)
            if depth == 0:
                bodies.append(s[start:i])
    return bodies


_SORT_MARKER = re.compile(r"\b(ASC|DESC) NULLS (FIRST|LAST)\b")


def _final_plan_scope(plan: str) -> set[int] | None:
    """Node numbers reachable in the FINAL plan tree, or None when the
    plan has no Final/Initial split (static explains, non-AQE plans —
    audit everything). An EXECUTED AQE plan's description renders both
    trees over one shared detail-block list; the Initial tree's
    operator copies must not be audited: they were never run, their
    final-plan twins are audited in place, and the depth-first
    child-is-(k-1) rule the bounded-child exemption relies on does not
    hold across the Final/Initial boundary (an Initial Exchange's k-1
    block is the Final tree's LAST node — found as a false
    SINGLE-PARTITION flag on keyless-aggregate funnels under AQE).
    Tree lines carry the node number TRAILING the name ("HashAggregate
    (6)"); detail headers lead with it ("(6) HashAggregate") and are
    skipped. Subquery sections restart scope collection."""
    scope: set[int] = set()
    in_initial = False
    saw_split = False
    for ln in plan.splitlines():
        s = ln.strip()
        if "== Initial Plan ==" in s:
            in_initial = True
            saw_split = True
            continue
        if "== Final Plan ==" in s or s.startswith("Subquery"):
            in_initial = False
            continue
        if s.startswith("("):
            continue  # detail-block header
        m = re.search(r"\((\d+)\)", s)
        if m and not in_initial:
            scope.add(int(m.group(1)))
    return scope if saw_split else None


def _in_scope(scope: set[int] | None, num: int) -> bool:
    return scope is None or num in scope


def global_window_args(plan: str) -> list[str]:
    """Arguments lines of partition-less Window nodes in a formatted
    plan. A Window detail block renders up to three top-level bracket
    groups — ``[windowExprs], [partitionSpec], [orderSpec]`` — but
    EMPTY specs are omitted from the rendering, so the group count
    alone is ambiguous at two: ``[exprs], [partitionSpec]`` is a
    partitioned-but-unordered window (parallel — fine), while
    ``[exprs], [orderSpec]`` is a globally ordered one (single
    partition — flagged). The two are told apart by the sort markers
    only an orderSpec carries (``ASC/DESC NULLS FIRST/LAST``). One
    group = global unordered aggregate frame (also single partition —
    flagged); three groups = partition spec present (fine).
    WindowGroupLimit nodes are not gated (they are the pushed-down
    rank FILTER, bounded by construction)."""
    out = []
    scope = _final_plan_scope(plan)
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        m = re.match(r"\((\d+)\) Window(InPandas)?\b", ln.strip())
        if not m or not _in_scope(scope, int(m.group(1))):
            continue
        for nxt in lines[i + 1:i + 6]:
            nxt = nxt.strip()
            if nxt.startswith("Arguments: "):
                groups = _top_level_group_bodies(nxt)
                partition_less = len(groups) == 1 or (
                    len(groups) == 2
                    and _SORT_MARKER.search(groups[1]) is not None)
                if partition_less:
                    out.append(nxt[:200])
                break
    return out


def _partitioning_num_one(text: str) -> bool:
    """True if any ``*artitioning(...)`` call in `text` carries a
    trailing numPartitions argument of 1 — hashpartitioning(k#1, 1),
    rangepartitioning(k#1 ASC NULLS FIRST, 1), RoundRobinPartitioning(1)
    (repartition(1): numPartitions is the ONLY arg). Bracket-depth
    scan, not a fixed-depth regex: the partitioning expression nests
    arbitrarily (e.g. hashpartitioning(coalesce(cast(x#1 as int), 0),
    1)), and a single-partition exchange keyed on a doubly-nested
    expression must not escape the gate."""
    for m in re.finditer(r"[Pp]artitioning\(", text):
        depth, i = 1, m.end()
        last_arg_start = m.end()
        while i < len(text) and depth:
            ch = text[i]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 1:
                last_arg_start = i + 1
            i += 1
        if depth == 0 and text[last_arg_start:i - 1].strip() == "1":
            return True
    return False


def _detail_blocks(plan: str) -> dict[int, tuple[str, str]]:
    """Formatted-explain detail blocks: node number -> (node name, block
    text). Node numbering is depth-first with children numbered before
    parents, so a UNARY node's child is always node (k-1)."""
    blocks: dict[int, tuple[str, str]] = {}
    cur_num, cur_name, cur_lines = None, None, []
    for ln in plan.splitlines():
        m = re.match(r"\((\d+)\) (\S+)", ln.strip())
        if m:
            if cur_num is not None:
                blocks[cur_num] = (cur_name, "\n".join(cur_lines))
            cur_num, cur_name, cur_lines = int(m.group(1)), m.group(2), []
        elif cur_num is not None:
            cur_lines.append(ln.strip())
    if cur_num is not None:
        blocks[cur_num] = (cur_name, "\n".join(cur_lines))
    return blocks


def single_partition_exchange_args(plan: str) -> list[str]:
    """Arguments lines of Exchange nodes whose output partitioning is
    SinglePartition or an explicit 1-partition hash/range partitioning
    — the serial-funnel shape a kept "(N) Exchange" tree line cannot
    reveal. AQE's final plan may coalesce small shuffles at runtime,
    but an Exchange that is single-partition in the STATIC plan is
    single-partition at any scale, so the static audit is the right
    place to flag it.

    Two child shapes are exempt because the exchanged frame is bounded
    by CONSTRUCTION, not by the data (the formatted tree numbers a
    unary node's child k-1, so the Exchange's input node is findable):

    - a partial aggregate with NO grouping keys (``Keys: []``): the
      global-aggregate funnel carries one pre-aggregated row per
      upstream partition — #partitions rows, a config constant. This
      is the textbook distributed plan for ``df.agg(...)``, not a
      serial sort of the data.
    - ``LocalLimit``: each upstream partition was already cut to the
      limit literal, so the exchange carries <= limit x #partitions
      rows regardless of data size (the GlobalLimit pattern).
    """
    out = []
    scope = _final_plan_scope(plan)
    blocks = _detail_blocks(plan)
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        m = re.match(r"\((\d+)\) Exchange\b", ln.strip())
        if not m or not _in_scope(scope, int(m.group(1))):
            continue
        for nxt in lines[i + 1:i + 6]:
            nxt = nxt.strip()
            if not nxt.startswith("Arguments: "):
                continue
            if ("SinglePartition" in nxt
                    or _partitioning_num_one(nxt)):
                child_name, bounded = _bounded_child(
                    blocks, int(m.group(1)))
                if not bounded:
                    out.append(f"[child {child_name}] {nxt}"[:220])
            break
    return out


def _bounded_child(blocks: dict, node_num: int) -> tuple[str, bool]:
    """(child name, bounded-by-construction?) for a UNARY node: a
    keyless partial aggregate (one row per upstream partition) or a
    LocalLimit (<= limit x #partitions rows) feeds a constant-size
    frame whatever the data volume."""
    child_name, child_block = blocks.get(node_num - 1, ("?", ""))
    bounded = (
        ("Aggregate" in child_name
         and re.search(r"^Keys: \[\]$", child_block, re.M))
        or child_name == "LocalLimit")
    return child_name, bool(bounded)


def single_task_coalesce_args(plan: str) -> list[str]:
    """Argument lines of ``Coalesce`` nodes whose target partition
    count is 1 — the narrowing (no-shuffle) serial funnel:
    ``coalesce(1)`` runs the ENTIRE upstream stage, scan included, as
    one task. Same bounded-by-construction child exemptions as the
    exchange detector. Coalesce to >1 partitions is not flagged (it
    is the standard output-file-count control)."""
    out = []
    scope = _final_plan_scope(plan)
    blocks = _detail_blocks(plan)
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        m = re.match(r"\((\d+)\) Coalesce\b", ln.strip())
        if not m or not _in_scope(scope, int(m.group(1))):
            continue
        for nxt in lines[i + 1:i + 6]:
            nxt = nxt.strip()
            if not nxt.startswith("Arguments: "):
                continue
            if re.fullmatch(r"Arguments: 1\b.*", nxt):
                child_name, bounded = _bounded_child(
                    blocks, int(m.group(1)))
                if not bounded:
                    out.append(f"[child {child_name}] {nxt}"[:220])
            break
    return out


# ---------------------------------------------------------------------------
# Action capture: SQL executions a lane triggers while building.
# ---------------------------------------------------------------------------

def _drain_listener_bus(spark) -> None:
    """Block until queued listener events are processed, so the SQL
    status store reflects every execution the just-built lane ran."""
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    except Exception:  # pragma: no cover - test-only API moved
        import time
        time.sleep(2)


def exec_watermark(spark) -> int:
    """Highest SQL execution id currently in the status store (-1 when
    empty). Executions with a larger id afterwards are the lane's."""
    _drain_listener_bus(spark)
    store = spark._jsparkSession.sharedState().statusStore()
    lst = store.executionsList()
    return max((lst.apply(i).executionId() for i in range(lst.size())),
               default=-1)


def action_plans(spark, watermark: int) -> list[str]:
    """Physical-plan descriptions of every SQL execution with id >
    ``watermark`` — the executions a lane triggered while BUILDING
    (writes, collects, localCheckpoint jobs, streaming micro-batches).
    This is the audit surface the returned-plan explain cannot see:
    the r13 verdict found six data-proportional coalesce(1) staging
    writes hiding exactly here. The store's retention cap only evicts
    OLDEST entries, so reading incrementally per lane never loses the
    lane's own executions."""
    _drain_listener_bus(spark)
    store = spark._jsparkSession.sharedState().statusStore()
    lst = store.executionsList()
    out = []
    for i in range(lst.size()):
        e = lst.apply(i)
        if e.executionId() > watermark:
            out.append(e.physicalPlanDescription())
    return out


_EXPR_ID = re.compile(r"#\d+")


def action_marks(plans: list[str]) -> list[str]:
    """Deduplicated, ACTION-prefixed marker lines for a lane's
    executions. Expression ids (#123) are normalized so the same
    logical plan executed across N micro-batches yields ONE stable
    line instead of N id-churned ones."""
    marks = set()
    for ap in plans:
        for a in global_window_args(ap):
            marks.add(f"{ACTION_PREFIX}{GLOBAL_WINDOW_MARK} {a}")
        for a in single_partition_exchange_args(ap):
            marks.add(f"{ACTION_PREFIX}{SINGLE_PARTITION_MARK} {a}")
        for a in single_task_coalesce_args(ap):
            marks.add(f"{ACTION_PREFIX}{COALESCE_ONE_MARK} {a}")
    return sorted(_EXPR_ID.sub("#N", m) for m in marks)
