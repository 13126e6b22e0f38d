"""Per-cycle correctness check for the replication-loop benchmark.

Runs outside the timed window and reads only files: the sink's target
tree, the ledger file and the stats objects. Three parts:

1. Each op's output of this cycle under
   ``{target}/{ks}/{table}/{tile}/{op}/snap-{id}`` equals the
   generator's set arithmetic, and every hydrated row carries the
   payload of the version just published.
2. The replication totals in the stats objects equal the cumulative
   truth.
3. Every tile's ledger ``curr`` row is offloaded and loaded (SUCCESS).

Every path is an argument, so the same check runs on a copy of the
state (the fault-planting test points it at a damaged copy).
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

from gen import PK_COLS, Churn, key_code

OPS = ("insert", "update", "delete")
SUCCESS = "SUCCESS"


@dataclass
class Totals:
    """Cumulative replication truth, in ReplicationStats' terms."""
    inserted: int = 0
    updated: int = 0
    deleted: int = 0

    def add(self, churn: Churn) -> None:
        self.inserted += len(churn.inserts)
        self.updated += len(churn.updates)
        self.deleted += len(churn.deletes)


@dataclass
class CheckResult:
    errors: list[str] = field(default_factory=list)
    rows_written: int = 0
    files_written: int = 0
    bytes_written: int = 0

    @property
    def ok(self) -> bool:
        return not self.errors


@dataclass
class StatePaths:
    target: str
    ledger: str
    stats: str
    keyspace: str
    table: str


def _data_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "part-*")))


def _curr_rows(ledger_path: str) -> dict[int, dict]:
    with open(ledger_path) as f:
        return {r["tile"]: r for r in json.load(f) if r["ver"] == "curr"}


def check_cycle(paths: StatePaths, tiles: int, churn: Churn,
                version: dict[str, np.ndarray], totals: Totals) -> CheckResult:
    """Check one completed cycle. ``churn`` is what the generator
    planned for it (for a historical load: every key as an insert),
    ``version`` the published columns, ``totals`` the cumulative truth
    including this cycle."""
    res = CheckResult()
    curr = _curr_rows(paths.ledger)

    # 3. ledger: every tile's curr snapshot was consumed
    for tile in range(tiles):
        row = curr.get(tile)
        if row is None:
            res.errors.append(f"ledger: tile {tile} has no curr row")
        elif row["offload_status"] != SUCCESS or row["load_status"] != SUCCESS:
            res.errors.append(
                f"ledger: tile {tile} curr offload={row['offload_status']!r} "
                f"load={row['load_status']!r}")
    if res.errors:
        return res

    # 1. this cycle's outputs vs set arithmetic
    got: dict[str, list] = {op: [] for op in OPS}
    for tile in range(tiles):
        batch = f"snap-{int(curr[tile]['location']):08d}"
        for op in OPS:
            out = os.path.join(paths.target, paths.keyspace, paths.table,
                               str(tile), op, batch)
            files = _data_files(out)
            if not files:
                continue
            res.files_written += len(files)
            res.bytes_written += sum(os.path.getsize(f) for f in files)
            got[op].append(pq.read_table(files))
    version_codes = key_code(version["l_orderkey"], version["l_linenumber"])
    order = np.argsort(version_codes)
    sorted_codes = version_codes[order]
    expected = {"insert": churn.inserts, "update": churn.updates,
                "delete": churn.deletes}
    for op in OPS:
        cols = _concat(got[op])
        n = len(cols["l_orderkey"]) if cols else 0
        res.rows_written += n
        codes = (key_code(cols["l_orderkey"], cols["l_linenumber"])
                 if n else np.empty(0, dtype=np.int64))
        want = np.sort(expected[op])
        if not np.array_equal(np.sort(codes), want):
            missing = np.setdiff1d(want, codes).size
            extra = np.setdiff1d(codes, want).size
            res.errors.append(
                f"{op}: {n} rows written, {len(want)} expected "
                f"({missing} missing, {extra} unexpected keys)")
            continue
        if op == "delete" or not n:
            continue
        idx = order[np.searchsorted(sorted_codes, codes)]
        for c, v in version.items():
            if c in PK_COLS:
                continue
            if c not in cols:
                res.errors.append(f"{op}: column {c} missing from output")
            elif not np.array_equal(cols[c], v[idx].astype(cols[c].dtype)):
                stale = int(np.sum(cols[c] != v[idx].astype(cols[c].dtype)))
                res.errors.append(
                    f"{op}: {stale} rows carry a stale or wrong {c}")

    # 2. stats: replication totals are exactly the cumulative truth
    got_tot = Totals()
    for tile in range(tiles):
        p = os.path.join(paths.stats, paths.keyspace, paths.table,
                         f"replication-tile-{tile}.json")
        if not os.path.exists(p):
            continue
        with open(p) as f:
            s = json.load(f)
        got_tot.inserted += s["insertedPrimaryKeys"]
        got_tot.updated += s["updatedPrimaryKeys"]
        got_tot.deleted += s["deletedPrimaryKeys"]
    if got_tot != totals:
        res.errors.append(f"stats: totals {got_tot} != truth {totals}")
    return res


def _concat(tables: list) -> dict[str, np.ndarray]:
    if not tables:
        return {}
    out: dict[str, np.ndarray] = {}
    for c in tables[0].column_names:
        out[c] = np.concatenate(
            [t.column(c).to_numpy(zero_copy_only=False) for t in tables])
    return out


def dir_size(root: str) -> tuple[int, int]:
    """(files, bytes) under root."""
    n = size = 0
    for d, _, files in os.walk(root):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(d, f))
    return n, size
