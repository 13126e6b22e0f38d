"""Seeded source generator for the replication-loop benchmark.

Builds a lineitem-shaped table keyed on ``(l_orderkey, l_linenumber)``
and evolves it one version at a time. Each version applies churn drawn
uniformly over the live keys: 60% updates (``ts`` moves and the payload
changes, so a stale hydration is visible), 20% deletes and 20% inserts
of keys never seen before, so the table size stays constant.

Keys are unique by construction: ``l_linenumber`` is numbered 1..k
within each order, and inserted keys belong to fresh order keys. (The
TPC-H-style testdata pair is not unique, and a full-outer-join diff
multiplies duplicates.)

The generator is pure numpy + pyarrow, so it starts no Spark job and
its time stays out of the timed cycles. ``publish`` writes a version as
one parquet file and renames it over the source path, so a reader sees
either the old version or the new one, never a mix.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PK_COLS = ["l_orderkey", "l_linenumber"]
MAX_LINES = 7
# Several row groups per file, so the scan splits across cores.
ROW_GROUP_ROWS = 25_000
_FLAGS = np.array(["A", "N", "R"])
_MODES = np.array(["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"])


def key_code(orderkey: np.ndarray, linenumber: np.ndarray) -> np.ndarray:
    """One int64 per primary key: orderkey * 8 + linenumber (1..7)."""
    return orderkey.astype(np.int64) * (MAX_LINES + 1) + linenumber.astype(np.int64)


@dataclass
class Churn:
    """The planned change set of one version, as key codes."""
    inserts: np.ndarray
    updates: np.ndarray
    deletes: np.ndarray

    @property
    def total(self) -> int:
        return len(self.inserts) + len(self.updates) + len(self.deletes)


def split_churn(n_changes: int) -> tuple[int, int, int]:
    """(inserts, updates, deletes) for a churn of n_changes keys:
    20% / 60% / 20%, with inserts == deletes so the size holds."""
    n_del = n_changes // 5
    return n_del, n_changes - 2 * n_del, n_del


class SourceGenerator:
    """One evolving table. ``version`` 0 is the initial load."""

    def __init__(self, n_rows: int, seed: int):
        self.rng = np.random.default_rng(seed)
        self.version = 0
        self.next_order = 1
        orderkey, linenumber = self._new_keys(n_rows)
        self.cols: dict[str, np.ndarray] = {
            "l_orderkey": orderkey,
            "l_linenumber": linenumber,
        }
        self.cols.update(self._payload(n_rows))
        self.cols["ts"] = self.rng.integers(1, 1 << 30, n_rows, dtype=np.int64)

    def __len__(self) -> int:
        return len(self.cols["l_orderkey"])

    def codes(self) -> np.ndarray:
        return key_code(self.cols["l_orderkey"], self.cols["l_linenumber"])

    def _new_keys(self, n: int) -> tuple[np.ndarray, np.ndarray]:
        """n fresh keys: new orders of 1..7 lines, numbered within each
        order; the last order is cut short to land exactly on n."""
        sizes = self.rng.integers(1, MAX_LINES + 1, n, dtype=np.int64)
        n_orders = int(np.searchsorted(np.cumsum(sizes), n)) + 1
        sizes = sizes[:n_orders]
        sizes[-1] -= int(sizes.sum()) - n
        orders = np.arange(self.next_order, self.next_order + n_orders,
                           dtype=np.int64)
        self.next_order += n_orders
        orderkey = np.repeat(orders, sizes)
        starts = np.repeat(np.cumsum(sizes) - sizes, sizes)
        linenumber = (np.arange(n, dtype=np.int64) - starts + 1).astype(np.int32)
        return orderkey, linenumber

    def _payload(self, n: int) -> dict[str, np.ndarray]:
        r = self.rng
        qty = r.integers(1, 51, n).astype(np.float64)
        return {
            "l_partkey": r.integers(1, 20_000, n, dtype=np.int64),
            "l_suppkey": r.integers(1, 1_000, n, dtype=np.int64),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * r.uniform(900, 2100, n), 2),
            "l_discount": np.round(r.uniform(0, 0.1, n), 2),
            "l_returnflag": _FLAGS[r.integers(0, len(_FLAGS), n)],
            "l_shipmode": _MODES[r.integers(0, len(_MODES), n)],
            "l_comment": np.char.add(
                f"v{self.version} ",
                r.integers(0, 1 << 40, n).astype(str)).astype(object),
        }

    def advance(self, n_changes: int) -> Churn:
        """Apply one version's churn in place and return its key sets."""
        self.version += 1
        n_ins, n_upd, n_del = split_churn(n_changes)
        n = len(self)
        picked = self.rng.choice(n, n_upd + n_del, replace=False)
        upd, dele = picked[:n_upd], picked[n_upd:]
        codes = self.codes()
        churn_upd, churn_del = codes[upd], codes[dele]

        # updates: new payload, ts strictly later
        fresh = self._payload(n_upd)
        for c, v in fresh.items():
            if c not in ("l_partkey", "l_suppkey"):
                self.cols[c][upd] = v
        self.cols["ts"][upd] += self.rng.integers(1, 1 << 20, n_upd)

        # deletes out, inserts in (appended, so row order is not key order)
        keep = np.ones(n, dtype=bool)
        keep[dele] = False
        orderkey, linenumber = self._new_keys(n_ins)
        new = {"l_orderkey": orderkey, "l_linenumber": linenumber,
               **self._payload(n_ins),
               "ts": self.rng.integers(1, 1 << 30, n_ins, dtype=np.int64)}
        self.cols = {c: np.concatenate([v[keep], new[c]])
                     for c, v in self.cols.items()}
        return Churn(inserts=key_code(orderkey, linenumber),
                     updates=churn_upd, deletes=churn_del)

    def table(self) -> pa.Table:
        return pa.table({c: pa.array(v) for c, v in self.cols.items()})

    def publish(self, path: str) -> None:
        """Write the current version and rename it over ``path``."""
        tmp = f"{path}.tmp-{os.getpid()}"
        pq.write_table(self.table(), tmp, row_group_size=ROW_GROUP_ROWS)
        os.replace(tmp, path)
