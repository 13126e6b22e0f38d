"""Multi-PROCESS exactly-once test for the Ledger state machine.

The reference coordinates discovery and replication as separate
concurrent jobs against one ledger table (K:1391-1476, K:2263-2271);
the file-backed Ledger must survive the same topology. Before the r9
fix it could not: mutations were guarded only by a threading.Lock and
flushed the whole file from a per-process in-memory snapshot, so a
discovery rotation and a replicator's load_status=SUCCESS raced
last-write-wins — a lost SUCCESS re-replicates a consumed snapshot
(duplicate delivery), a lost rotation drops a discovered snapshot.

This suite runs a real discovery process and a real replication process
(plus a two-tile variant with interleaved work) against one ledger file
and asserts the exactly-once ledger contract:

1. every discovered snapshot is consumed exactly once, in order;
2. the first consumption of a tile is mode=historical, all later ones
   mode=delta (prev successfully loaded — the K:1584-1676 dispatch);
3. the final ledger state is consistent (curr consumed, prev=SUCCESS).
"""

import json
import os
import subprocess
import sys
import time

from cql_replicator_spark.ledger import SUCCESS, Ledger

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKER = os.path.join(REPO, "tests", "ledger_race_worker.py")


def _run(tmp_path, tiles, snapshots, env_extra=None):
    ledger_path = str(tmp_path / "ledger.json")
    start = time.time() + 1.0
    procs, outs = [], []
    env = dict(os.environ, **(env_extra or {}))
    for role in ("discover", "replicate"):
        out = str(tmp_path / f"{role}.json")
        procs.append(subprocess.Popen(
            [sys.executable, WORKER, "--ledger", ledger_path,
             "--role", role, "--tiles", str(tiles),
             "--snapshots", str(snapshots), "--out", out,
             "--start", str(start)],
            cwd=REPO, env=env,
            stdout=subprocess.PIPE, stderr=subprocess.PIPE))
        outs.append(out)
    results = {}
    for p, out in zip(procs, outs):
        _, err = p.communicate(timeout=120)
        assert p.returncode == 0, err.decode()
        with open(out) as f:
            r = json.load(f)
            results[r["role"]] = r
    return ledger_path, results


def _assert_exactly_once(ledger_path, results, tiles, snapshots):
    produced = [tuple(p) for p in results["discover"]["produced"]]
    consumed = results["replicate"]["consumed"]
    # 1. exactly-once, in order, per tile
    for t in range(tiles):
        want = [(t, sid) for sid in range(1, snapshots + 1)]
        got = [(tt, sid) for tt, sid, _ in consumed if tt == t]
        assert [p for p in produced if p[0] == t] == want
        assert got == want, f"tile {t}: consumed {got}, want {want}"
    # 2. historical first, delta after (prev load_status carried over)
    for t in range(tiles):
        modes = [m for tt, _, m in consumed if tt == t]
        assert modes[0] == "historical", modes
        assert all(m == "delta" for m in modes[1:]), modes
    # 3. final ledger state consistent
    led = Ledger(ledger_path)
    for t in range(tiles):
        curr = led.get("ks", "tb", t, "curr")
        assert curr.location == str(snapshots)
        assert curr.load_status == SUCCESS
        prev = led.get("ks", "tb", t, "prev")
        assert prev is not None and prev.load_status == SUCCESS


def test_discovery_and_replication_processes_exactly_once(tmp_path):
    tiles, snapshots = 1, 8
    ledger_path, results = _run(tmp_path, tiles, snapshots)
    _assert_exactly_once(ledger_path, results, tiles, snapshots)


def test_two_tiles_interleaved_exactly_once(tmp_path):
    tiles, snapshots = 2, 6
    ledger_path, results = _run(tmp_path, tiles, snapshots)
    _assert_exactly_once(ledger_path, results, tiles, snapshots)
    # sanity: the roles actually contended (discovery hit the gate at
    # least once while waiting on the consumer)
    assert results["discover"]["gate_blocks"] > 0


def test_fallback_lock_exactly_once_across_processes(tmp_path):
    """The same two-process exactly-once topology, forced onto the
    non-POSIX O_EXCL fallback lock (no flock): the fallback must give
    the same mutual exclusion, or platforms without fcntl silently get
    lost-update ledger corruption."""
    tiles, snapshots = 2, 6
    ledger_path, results = _run(
        tmp_path, tiles, snapshots,
        env_extra={"CQL_LEDGER_FORCE_FALLBACK_LOCK": "1"})
    _assert_exactly_once(ledger_path, results, tiles, snapshots)


def test_fallback_lock_stale_break_single_winner(tmp_path, monkeypatch):
    """Rename-based stale-lock break: a crashed holder's lock is broken
    by exactly one waiter (os.rename of one source succeeds once), and
    contenders never overlap in the critical section. The prior
    unlink-based break had a TOCTOU: two waiters both decide 'stale',
    waiter B unlinks+recreates (holding a fresh lock), waiter A's
    already-decided unlink then removes B's FRESH lock — two processes
    inside the section, the exact lost-update the lock prevents."""
    import glob
    import threading

    from cql_replicator_spark import ledger as L

    monkeypatch.setenv("CQL_LEDGER_FORCE_FALLBACK_LOCK", "1")
    led = L.Ledger(str(tmp_path / "ledger.json"))
    lock_path = led.path + ".lock"
    # plant a crashed holder's lock, aged past the staleness threshold
    open(lock_path, "w").close()
    old = time.time() - 10 * 60
    os.utime(lock_path, (old, old))

    inside, max_inside = 0, 0
    gate = threading.Lock()

    def worker():
        nonlocal inside, max_inside
        with led._file_lock():
            with gate:
                inside += 1
                max_inside = max(max_inside, inside)
            time.sleep(0.02)
            with gate:
                inside -= 1

    threads = [threading.Thread(target=worker) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=30)
        assert not t.is_alive(), "fallback lock deadlocked"
    assert max_inside == 1, f"{max_inside} holders inside the section"
    # break artifacts cleaned up; no lock left behind
    assert glob.glob(lock_path + ".break.*") == []
    assert not os.path.exists(lock_path)


def test_sigkill_chaos_ledger_invariants_hold(tmp_path):
    """Randomized kill-at-a-random-moment chaos: a discover->consume->
    mark worker whose lock/flush OS steps are time-stretched is
    SIGKILLed at a uniform random delay, 20 times, on the fallback
    (non-flock) lock path — the one that leaves a lock file behind on
    death. Whatever instant the kill lands on:

    1. the ledger file is never torn (absent or fully parseable, and
       every row satisfies the state-machine invariants: offload
       SUCCESS, prev only ever a consumed snapshot, locations
       sequential);
    2. a leftover lock is always breakable once stale — recovery
       never wedges;
    3. recovery completes the remaining snapshots with no
       double-consume: the union of consumption journals covers every
       snapshot exactly once, except at most the single in-flight
       snapshot whose journal landed but whose mark didn't (the
       journal-before-mark window recovery legitimately redoes).
    """
    import random
    import signal

    from cql_replicator_spark import ledger as L

    worker = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "ledger_chaos_worker.py")
    rng = random.Random(0x1ED6E2)
    env = dict(os.environ, CQL_LEDGER_FORCE_FALLBACK_LOCK="1")
    snapshots = 4

    def check_rows(path):
        # never torn: parseable whole, rows in machine-valid states
        if not os.path.exists(path):
            return {}
        with open(path) as f:
            rows = {(r["ks"], r["tbl"], r["tile"], r["ver"]): r
                    for r in json.load(f)}
        curr = rows.get(("ks", "tb", 0, "curr"))
        prev = rows.get(("ks", "tb", 0, "prev"))
        if curr is not None:
            assert curr["offload_status"] == SUCCESS
        if prev is not None:
            assert prev["load_status"] == SUCCESS, \
                "rotation must preserve only consumed snapshots as prev"
            assert curr is not None
            assert int(curr["location"]) == int(prev["location"]) + 1
        return rows

    # calibrate the kill window: one un-killed run measures wall time
    cal_led = str(tmp_path / "cal.json")
    t0 = time.time()
    subprocess.run(
        [sys.executable, worker, "--ledger", cal_led,
         "--events", str(tmp_path / "cal.events"),
         "--snapshots", str(snapshots), "--spin", "0.02"],
        cwd=REPO, env=env, stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL, timeout=120, check=True)
    wall = time.time() - t0

    outcomes = {"finished": 0, "killed_midway": 0}
    for i in range(20):
        led_path = str(tmp_path / f"chaos_{i}.json")
        events = str(tmp_path / f"chaos_{i}.events")
        p = subprocess.Popen(
            [sys.executable, worker, "--ledger", led_path,
             "--events", events, "--snapshots", str(snapshots),
             "--spin", "0.02"],
            cwd=REPO, env=env, stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL)
        time.sleep(rng.uniform(0.0, wall))
        p.send_signal(signal.SIGKILL)
        p.wait(timeout=30)

        check_rows(led_path)  # invariant 1 at the kill instant

        # invariant 2: a leftover lock is stale-breakable — backdate it
        # (recovery in real time would just wait out _LOCK_STALE_SECS)
        lock = led_path + ".lock"
        if os.path.exists(lock):
            old = time.time() - L._LOCK_STALE_SECS - 5
            os.utime(lock, (old, old))

        # recovery: a fresh process-equivalent completes the cycle
        led = Ledger(led_path)
        recovered = []
        os.environ["CQL_LEDGER_FORCE_FALLBACK_LOCK"] = "1"
        try:
            for sid in range(1, snapshots + 1):
                curr = led.get("ks", "tb", 0, "curr")
                if ((curr is None or int(curr.location) < sid)
                        and led.can_discover("ks", "tb", 0)):
                    led.record_discovery("ks", "tb", 0, snapshot_id=sid)
                plan = led.replication_plan("ks", "tb", 0)
                if plan is not None:
                    recovered.append(plan)
                    with open(events, "a") as f:
                        f.write(json.dumps(
                            {"sid": plan["curr"], "mode": plan["mode"]})
                            + "\n")
                    led.mark_replication_complete("ks", "tb", 0)
        finally:
            os.environ.pop("CQL_LEDGER_FORCE_FALLBACK_LOCK", None)

        rows = check_rows(led_path)
        curr = rows[("ks", "tb", 0, "curr")]
        assert int(curr["location"]) == snapshots and \
            curr["load_status"] == SUCCESS, (i, curr)

        # invariant 3: no double-consume beyond the journal-before-mark
        # window — each snapshot consumed once, at most ONE consumed
        # twice (the in-flight one the kill interrupted between its
        # journal line and its mark)
        with open(events) as f:
            consumed = [json.loads(line)["sid"] for line in f if line.strip()]
        from collections import Counter
        counts = Counter(consumed)
        assert set(counts) == set(range(1, snapshots + 1)), (i, counts)
        dups = [s for s, c in counts.items() if c > 1]
        assert len(dups) <= 1 and all(counts[s] == 2 for s in dups), \
            (i, counts)
        if recovered or dups:
            outcomes["killed_midway"] += 1
        else:
            outcomes["finished"] += 1
    # the kill window spans the whole cycle, so some kills must land
    # mid-cycle (recovery had work to do); if every run finished before
    # its kill, the stretch/delay tuning rotted
    assert outcomes["killed_midway"] >= 1, outcomes


def test_threaded_marks_survive_concurrent_plan_reads(tmp_path):
    """The lost-mark race under thread fan-out: writer threads mark
    tiles complete while reader threads hammer replication_plan and
    can_discover on OTHER tiles. Every mark must survive to the file —
    when readers refreshed a row dict the writers shared, this dropped
    marks within a few iterations under load."""
    import threading

    for trial in range(30):
        led = Ledger(str(tmp_path / f"l{trial}.json"))
        tiles = range(4)
        for t in tiles:
            led.record_discovery("ks", "tb", t, snapshot_id=1)
        stop = threading.Event()

        def reader():
            while not stop.is_set():
                for t in tiles:
                    led.replication_plan("ks", "tb", t)
                    led.can_discover("ks", "tb", t)

        readers = [threading.Thread(target=reader) for _ in range(3)]
        for r in readers:
            r.start()
        try:
            markers = [threading.Thread(
                target=led.mark_replication_complete, args=("ks", "tb", t))
                for t in tiles]
            for m in markers:
                m.start()
            for m in markers:
                m.join(timeout=30)
        finally:
            stop.set()
            for r in readers:
                r.join(timeout=10)
        final = {r.tile: r.load_status for r in led.rows() if r.ver == "curr"}
        assert final == {t: SUCCESS for t in tiles}, (trial, final)


def test_journal_before_mark_residual_bounded(tmp_path):
    """The at-least-once invariant named by the ledger docstring,
    pinned DETERMINISTICALLY at both sides of the crash boundary (the
    SIGKILL chaos suite asserts the same bound at random instants):

    * crash BETWEEN effect and mark — recovery re-plans exactly that
      one snapshot; its journal shows exactly two lines and they are
      IDENTICAL records (same (tile, snapshot, mode) idempotency key),
      so a keyed idempotent sink dedups the pair to effectively-once;
    * crash AFTER the mark — recovery re-plans nothing (the mark is
      the exactly-once gate), and the snapshot is consumed once.

    Every other snapshot in both runs is consumed exactly once."""
    snapshots = 4

    for crash_sid, crash_after_mark in ((2, False), (3, True)):
        led_path = str(tmp_path / f"l_{crash_sid}_{crash_after_mark}.json")
        journal: list[tuple] = []

        def consume(led, sid, *, crash_before_mark=False,
                    crash_after=False):
            if led.can_discover("ks", "tb", 0):
                led.record_discovery("ks", "tb", 0, snapshot_id=sid)
            plan = led.replication_plan("ks", "tb", 0)
            if plan is None:
                return False
            # the EFFECT, with its natural idempotency key
            journal.append(("ks", "tb", 0, plan["curr"], plan["mode"]))
            if crash_before_mark:
                return True  # process dies before the mark lands
            led.mark_replication_complete("ks", "tb", 0)
            if crash_after:
                return True  # process dies after the mark landed
            return False

        led = Ledger(led_path)
        for sid in range(1, snapshots + 1):
            crashed = consume(
                led, sid,
                crash_before_mark=(sid == crash_sid
                                   and not crash_after_mark),
                crash_after=(sid == crash_sid and crash_after_mark))
            if crashed:
                break

        # recovery: a fresh process-equivalent finishes the cycle
        led2 = Ledger(led_path)
        for sid in range(1, snapshots + 1):
            curr = led2.get("ks", "tb", 0, "curr")
            if curr is not None and int(curr.location) >= sid and \
                    curr.load_status == SUCCESS:
                continue  # already fully consumed
            consume(led2, sid)

        from collections import Counter
        counts = Counter(journal)
        expected_twice = {} if crash_after_mark else \
            {("ks", "tb", 0, crash_sid, "delta" if crash_sid > 1
              else "historical")}
        for key, n in counts.items():
            want = 2 if key in expected_twice else 1
            assert n == want, (crash_sid, crash_after_mark, key, counts)
        # every snapshot consumed; the redo is the identical record
        assert {k[3] for k in counts} == set(range(1, snapshots + 1))
        assert sum(counts.values()) == snapshots + len(expected_twice)
