"""SIGKILL-chaos worker for the Ledger state machine
(tests/test_ledger_race.py). Runs a full discover->consume->mark cycle
per snapshot against one ledger file with every lock/flush OS step
time-stretched, so a parent-issued SIGKILL at a uniform random delay
lands between (not just after) the steps: lock O_EXCL create -> reload
-> mutate -> tmp write -> os.replace publish -> lock unlink. Each
consumption is journaled to an append-only fsync'd events file BEFORE
mark_replication_complete, so the parent can detect double-consumes
that the ledger's exactly-once gate should have prevented.
"""

import argparse
import json
import os
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--ledger", required=True)
    ap.add_argument("--events", required=True,
                    help="append-only consumption journal (jsonl)")
    ap.add_argument("--snapshots", type=int, required=True)
    ap.add_argument("--spin", type=float, default=0.0,
                    help="busy-pad each OS-level step by this many "
                         "seconds so an external SIGKILL lands at an "
                         "effectively random syscall boundary")
    a = ap.parse_args()

    sys.path.insert(0, os.getcwd())

    if a.spin > 0:
        def slow(fn):
            def wrapped(*args, **kw):
                time.sleep(a.spin)
                return fn(*args, **kw)
            return wrapped

        # fallback lock: os.open(O_EXCL) acquire / os.unlink release;
        # flush publish: os.replace. Stretching all three spreads the
        # kill over every phase of the mutation critical section.
        os.replace = slow(os.replace)
        os.unlink = slow(os.unlink)
        _real_open = os.open

        def slow_open(path, flags, *args, **kw):
            if str(path).endswith(".lock"):
                time.sleep(a.spin)
            return _real_open(path, flags, *args, **kw)

        os.open = slow_open

    from cql_replicator_spark.ledger import Ledger

    led = Ledger(a.ledger)
    ev = open(a.events, "a")

    def journal(rec):
        ev.write(json.dumps(rec) + "\n")
        ev.flush()
        os.fsync(ev.fileno())

    for sid in range(1, a.snapshots + 1):
        if led.can_discover("ks", "tb", 0):
            led.record_discovery("ks", "tb", 0, snapshot_id=sid)
        plan = led.replication_plan("ks", "tb", 0)
        if plan is not None:
            # journal BEFORE the mark: a kill between the two leaves a
            # journaled-but-unmarked consumption, which recovery may
            # legitimately redo (the ledger's exactly-once is on MARKS)
            journal({"sid": plan["curr"], "mode": plan["mode"]})
            led.mark_replication_complete("ks", "tb", 0)

    print(json.dumps({"ok": True}))


if __name__ == "__main__":
    main()
