"""Ledger — the per-tile replication state machine.

The reference coordinates discovery and replication through a ledger
table (Keyspaces ``migration.ledger`` DDL at glue/bin/cqlreplicator
C:1027-1038; DynamoDB flavor D:843-1061) with one row per
(ks, tbl, tile, ver ∈ {curr, prev}):

    offload_status  -- discovery wrote the snapshot ("SUCCESS" | "")
    location        -- snapshot id
    load_status     -- replication consumed it ("SUCCESS" | "")
    dt_offload / dt_load timestamps

Invariants reimplemented exactly (these are the exactly-once gate):
  * Discovery rotation (updateLedger K:1391-1417): writing a new curr
    moves old curr -> prev PRESERVING its load_status.
  * Discovery skip rule (K:2263-2271): if curr exists with
    load_status != SUCCESS, discovery must NOT overwrite it (the
    unconsumed snapshot would be lost).
  * Replication consume rule (K:1584-1676): a tile is consumable iff
    curr.offload_status == SUCCESS and curr.load_status != SUCCESS.
    With no successfully-loaded prev -> historical (full) load; with a
    loaded prev -> delta load between prev.location and curr.location.
  * markReplicationComplete (K:1464-1476) sets curr.load_status=SUCCESS.

Backend: a single JSON file with atomic tmp+rename writes, guarded by a
REAL cross-process lock (fcntl.flock on a sidecar .lock file; O_EXCL
spin fallback where flock is unavailable). The reference's normal
topology runs discovery and replication as SEPARATE concurrent jobs
against one ledger (a Keyspaces/DynamoDB table with per-row updates),
so the file backend must survive the same concurrency: every mutation
re-reads the file under the exclusive lock before checking its gate and
flushing, and every read reloads first — otherwise two processes'
whole-file writes are last-write-wins and a rotation or a
load_status=SUCCESS silently vanishes, which is exactly the lost-update
the exactly-once gates exist to prevent. Contract: any number of
discovery/replication processes, ONE replication consumer per tile
(the reference's per-tile single-consumer loop, K:1584-1676). Ledger
rows number tiles×2 (≤2048 by the reference's guardrails) so reloading
the whole file per operation is trivially cheap; swap the backend for
a DynamoDB or JDBC table in production without touching callers. The
file is rewritten whole at every mutation, so the two mutations take a
batch of tiles (``record_discoveries``, ``mark_replications_complete``):
the runner commits each phase for every due tile in one flush, and the
per-tile methods are those batches of one.

Consume-effect contract (the journal-before-mark residual, pinned):
a consumer's external effect (the data write — replication_plan ->
load -> mark_replication_complete) and the ledger mark cannot be one
atomic step without a transactional sink, and no lock-free scheme
makes them one. The ledger therefore guarantees exactly-once MARKS and
at-least-once EFFECTS, with the redo bounded at exactly the single
in-flight snapshot whose effect landed but whose mark did not — a
recovering consumer re-plans that one snapshot and re-runs its effect;
it can never re-run an already-marked one (replication_plan returns
None) and never skip one (the unmarked curr stays consumable). The
redo carries the identical (ks, tbl, tile, curr-location) key, so an
idempotent sink keyed by it — every sink in this repo that replays
(parquet overwrite-by-snapshot, CQL upsert) — dedups the pair to
effectively-once. Pinned deterministically by
tests/test_ledger_race.py::test_journal_before_mark_residual_bounded
and at random kill instants by the SIGKILL chaos suite's invariant 3.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from dataclasses import asdict, dataclass, field

try:
    import fcntl
except ImportError:  # non-POSIX: O_EXCL spin fallback below
    fcntl = None

# An O_EXCL fallback lock older than this is a crashed holder and is
# broken; flock needs no such gate (the kernel releases it on death).
_LOCK_STALE_SECS = 60.0

SUCCESS = "SUCCESS"
EMPTY = ""


@contextlib.contextmanager
def file_mutex(lock_path: str):
    """Cross-process exclusive lock for read-modify-write mutations —
    flock where available (self-releasing on process death); O_EXCL
    create with a staleness break elsewhere. Module-level so other
    file-backed stores (SnapshotStore's manifest) reuse the exact
    battle-tested implementation the ledger's chaos suites pin, rather
    than growing subtly-divergent copies."""
    os.makedirs(os.path.dirname(lock_path) or ".", exist_ok=True)
    # CQL_LEDGER_FORCE_FALLBACK_LOCK exists so the non-POSIX branch
    # is exercisable (unit + cross-process race tests) on POSIX CI.
    if fcntl is not None and not os.environ.get(
            "CQL_LEDGER_FORCE_FALLBACK_LOCK"):
        fd = os.open(lock_path, os.O_CREAT | os.O_RDWR)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)
        return
    while True:  # pragma: no cover — non-POSIX fallback
        try:
            fd = os.open(lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.close(fd)
            break
        except FileExistsError:
            try:
                stale = (time.time() - os.stat(lock_path).st_mtime
                         > _LOCK_STALE_SECS)
            except OSError:
                continue
            if stale:
                # Break the crashed holder's lock by RENAME, not
                # unlink: two waiters can both decide "stale", but
                # only one rename of the same source succeeds, so
                # the loser can never remove the lock a winner (or
                # a fresh acquirer) just created — the unlink-based
                # break had exactly that TOCTOU (A stats stale, B
                # unlinks+recreates, A's unlink removes B's fresh
                # lock, two holders inside the critical section).
                breaker = f"{lock_path}.break.{os.getpid()}.{time.monotonic_ns()}"
                try:
                    os.rename(lock_path, breaker)
                except OSError:
                    time.sleep(0.01)
                    continue
                try:
                    os.unlink(breaker)
                except OSError:
                    pass
                continue
            time.sleep(0.01)
    try:
        yield
    finally:
        try:
            os.unlink(lock_path)
        except FileNotFoundError:
            pass


def commit_json(path: str, obj) -> None:
    """Publish ``obj`` as the JSON file ``path``, whole: dump it to a
    tmp file unique to this process and thread, then ``os.replace`` it
    over ``path``, so a reader sees the old file or the new one, never
    a torn one. The one commit of the loop's state files (the ledger,
    the snapshot manifest, the replication stats). If the dump or the
    replace fails, the tmp file is removed and ``path`` is as it was."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = f"{path}.{os.getpid()}.{threading.get_ident()}.tmp"
    try:
        with open(tmp, "w") as f:
            json.dump(obj, f, indent=1)
        os.replace(tmp, path)
    except BaseException:
        with contextlib.suppress(FileNotFoundError):
            os.remove(tmp)
        raise


class DiscoveryRaceLost(RuntimeError):
    """record_discovery's under-lock gate failed: a rival discoverer
    rotated the tile between the caller's can_discover() check and its
    record. A benign, contract-legal outcome callers may skip — typed
    so they don't have to catch bare RuntimeError (which would also
    swallow unrelated ledger failures)."""


@dataclass
class LedgerRow:
    ks: str
    tbl: str
    tile: int
    ver: str  # "curr" | "prev"
    offload_status: str = EMPTY
    dt_offload: float = 0.0
    location: str = EMPTY  # snapshot id (stringified)
    load_status: str = EMPTY
    dt_load: float = 0.0


class Ledger:
    def __init__(self, path: str):
        self.path = path
        self._lock = threading.Lock()

    def _read_rows(self) -> dict[tuple, dict]:
        """One complete on-disk snapshot — the file is only ever
        published whole via os.replace, so a read at any moment sees a
        complete state (possibly one write stale, which the gates
        tolerate)."""
        rows: dict[tuple, dict] = {}
        try:
            with open(self.path) as f:
                for r in json.load(f):
                    rows[(r["ks"], r["tbl"], r["tile"], r["ver"])] = r
        except FileNotFoundError:
            pass
        return rows

    @contextlib.contextmanager
    def _file_lock(self):
        with file_mutex(self.path + ".lock"):
            yield

    @staticmethod
    def _get_from(rows: dict[tuple, dict], ks: str, tbl: str, tile: int,
                  ver: str) -> LedgerRow | None:
        r = rows.get((ks, tbl, tile, ver))
        return LedgerRow(**r) if r else None

    def get(self, ks: str, tbl: str, tile: int, ver: str) -> LedgerRow | None:
        return self._get_from(self._read_rows(), ks, tbl, tile, ver)

    # -- discovery side ---------------------------------------------------
    def can_discover(self, ks: str, tbl: str, tile: int) -> bool:
        """K:2263-2271 — skip if an unconsumed curr snapshot exists."""
        return self._can_discover_from(self._read_rows(), ks, tbl, tile)

    def _can_discover_from(self, rows: dict[tuple, dict], ks: str,
                           tbl: str, tile: int) -> bool:
        curr = self._get_from(rows, ks, tbl, tile, "curr")
        if curr is None or curr.offload_status != SUCCESS:
            return True
        return curr.load_status == SUCCESS

    def record_discovery(self, ks: str, tbl: str, tile: int, snapshot_id: int) -> None:
        """``record_discoveries`` for one tile; raises ``DiscoveryRaceLost``
        where the batch would return the tile as lost."""
        if self.record_discoveries(ks, tbl, {tile: snapshot_id}):
            raise DiscoveryRaceLost(
                f"tile {tile}: unconsumed snapshot present; discovery must not rotate"
            )

    def record_discoveries(self, ks: str, tbl: str,
                           snapshot_ids: dict[int, int]) -> set[int]:
        """For each ``{tile: snapshot_id}``, rotate curr->prev (preserving
        load_status) and write the new curr, all in one flush.

        updateLedger semantics (K:1391-1417). Each tile passes the gate
        of can_discover() again under the lock; a tile that fails it (a
        rival discoverer rotated it since the caller's check) is left
        as it is and returned, and the rest are recorded.
        """
        with self._lock, self._file_lock():
            # read under the exclusive lock: the gate must see other
            # PROCESSES' state (a replicator's load_status, another
            # discoverer's rotation), and the flush must carry it
            rows = self._read_rows()
            lost = {t for t in snapshot_ids
                    if not self._can_discover_from(rows, ks, tbl, t)}
            now = time.time()
            for tile, snapshot_id in snapshot_ids.items():
                if tile in lost:
                    continue
                curr = self._get_from(rows, ks, tbl, tile, "curr")
                if curr is not None and curr.offload_status == SUCCESS:
                    prev = LedgerRow(**{**asdict(curr), "ver": "prev"})
                    rows[(ks, tbl, tile, "prev")] = asdict(prev)
                rows[(ks, tbl, tile, "curr")] = asdict(
                    LedgerRow(
                        ks=ks, tbl=tbl, tile=tile, ver="curr",
                        offload_status=SUCCESS, dt_offload=now,
                        location=str(snapshot_id), load_status=EMPTY,
                        dt_load=0.0,
                    )
                )
            if len(lost) < len(snapshot_ids):
                commit_json(self.path, list(rows.values()))
            return lost

    # -- replication side --------------------------------------------------
    def replication_plan(self, ks: str, tbl: str, tile: int) -> dict | None:
        """What replication should do for this tile right now.

        Returns None (nothing to do), {"mode": "historical", "curr": id},
        or {"mode": "delta", "curr": id, "prev": id} — the three-way
        dispatch of dataReplicationProcess (K:1564-1681).
        """
        rows = self._read_rows()
        curr = self._get_from(rows, ks, tbl, tile, "curr")
        if curr is None or curr.offload_status != SUCCESS or curr.load_status == SUCCESS:
            return None
        prev = self._get_from(rows, ks, tbl, tile, "prev")
        if prev is None or prev.load_status != SUCCESS:
            return {"mode": "historical", "curr": int(curr.location)}
        return {"mode": "delta", "curr": int(curr.location), "prev": int(prev.location)}

    def mark_replication_complete(self, ks: str, tbl: str, tile: int) -> None:
        """``mark_replications_complete`` for one tile."""
        self.mark_replications_complete(ks, tbl, [tile])

    def mark_replications_complete(self, ks: str, tbl: str,
                                   tiles: list[int]) -> None:
        """markReplicationComplete (K:1464-1476) for every tile of
        ``tiles``, in one flush. Every tile must have a curr row; if one
        has none, nothing is marked."""
        with self._lock, self._file_lock():
            rows = self._read_rows()  # merge other processes' rows
            keys = [(ks, tbl, t, "curr") for t in tiles]
            for key in keys:
                if key not in rows:
                    raise RuntimeError(
                        f"tile {key[2]}: no curr ledger row to complete")
            now = time.time()
            for key in keys:
                rows[key]["load_status"] = SUCCESS
                rows[key]["dt_load"] = now
            if keys:
                commit_json(self.path, list(rows.values()))

    def rows(self) -> list[LedgerRow]:
        return [LedgerRow(**r) for r in self._read_rows().values()]
