"""Delta-protocol-shaped transaction log over plain parquet — pure
Python, no delta-spark/JVM extensions required.

The reference time-travels per-tile snapshot tables through a lakehouse
table format (Iceberg tables + snapshot ids, CQLReplicator.scala
K:1220-1272, K:1340-1349; expiry K:1278-1289). The sandbox has no
delta-spark or iceberg runtime and installs are not possible, so this
module implements the essential subset of the PUBLIC Delta Lake
transaction-log protocol (https://github.com/delta-io/delta/blob/
master/PROTOCOL.md) directly:

* a table is a directory of immutable parquet data files plus a
  ``_delta_log/`` subdirectory of versioned commit files
  ``{version:020d}.json``, each holding newline-delimited JSON actions;
* version 0 carries ``protocol`` and ``metaData`` actions (reader/
  writer versions, table id, schemaString, partitionColumns);
* every commit appends ``add`` actions for new data files and
  ``remove`` actions for files it logically deletes — an overwrite is
  remove(all live) + add(new);
* a reader at ``versionAsOf=V`` replays commits 0..V, maintaining the
  live-file set (last action per path wins), then reads exactly those
  parquet files;
* ``vacuum`` deletes data files unreachable from the retained trailing
  versions; time travel past the vacuum horizon fails, as in Delta.

Commits are put-if-absent: the log file is hard-linked into place
(os.link fails with EEXIST when the version already exists), so two
racing writers cannot both win a version — the loser gets
ConcurrentCommitError, the protocol's optimistic-concurrency outcome.
On filesystems without hard links the claim is an O_EXCL create
published by atomic rename; an empty claim is treated as in-flight
until it is ``_CLAIM_STALE_SECS`` old, after which it is assumed
crashed and reclaimed (a committer suspended longer than that between
claim and publish is outside the guarantee — see commit_overwrite).
What is deliberately NOT implemented: automatic retry/rebase of the
losing writer (callers re-read and re-commit, like the reference's
per-tile single-writer loop), checkpoints (logs here are tiny; replay
is O(versions)), deletion vectors and column mapping. A table written by this module is
structurally a valid minimal Delta table. It is a library, not the
snapshot store: replay is O(versions) and the log is never truncated,
which is why SnapshotStore keeps parquet dirs plus a trimmed manifest
(snapshot.py module docstring).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

_LOG_DIR = "_delta_log"

# An INCOMPLETE version file (zero-length, or a token-stamped claim,
# or a torn write — anything _commit_complete rejects) is an in-flight
# O_EXCL claim / crashed write until it is this many seconds old; only
# older ones are treated as crashed and reclaimed. A live committer's
# claim->publish window is microseconds, so the margin is ~7 orders of
# magnitude; a claimant suspended PAST the threshold re-checks claim
# ownership just before its publishing rename and aborts if reclaimed
# (see _publish_commit), so the old full-horizon clobber residual is
# now the microsecond check->rename window.
_CLAIM_STALE_SECS = 60.0

# Preserved-copy sweep horizon. The reclaim/vacuum restore-failure
# paths deliberately leave ``.reclaim.*`` / ``.vacuum.*`` copies on
# disk rather than destroy possibly-committed bytes; versions() and
# the data-file scan both ignore those names, so without a sweep they
# accumulate forever on repeated contention. vacuum() ages them out
# once they are MANY staleness horizons old — by then every race they
# were preserving against has resolved (a live committer's whole
# claim->publish window is microseconds; _CLAIM_STALE_SECS is already
# ~7 orders of magnitude above that) — after re-checking the slot/log
# state they were preserving: a copy whose content is still the only
# surviving bytes of referenced data is RESTORED, never deleted.
_PRESERVED_SWEEP_SECS = 20 * _CLAIM_STALE_SECS


class ConcurrentCommitError(RuntimeError):
    """Another writer committed this version first (optimistic
    concurrency conflict). Re-read the table state and re-commit."""


class CorruptCommitError(RuntimeError):
    """A NON-latest commit file is torn or missing: replay cannot
    reconstruct a consistent state by skipping a middle version, so
    fail loudly instead of silently half-applying the log."""


def _commit_complete(path: str) -> bool:
    """Torn-commit detection. Our writer stamps the head commitInfo
    with txnActionCount (total action lines), so ANY truncation of a
    file we wrote is detectable: a prefix either cuts the head line
    (unparseable / empty claim), cuts mid-line (no trailing newline),
    or drops whole lines (count mismatch). Files without the stamp
    (real delta-spark logs, hand-built fixtures) publish via their own
    atomic rename, so for them complete = non-empty, newline-terminated,
    last line valid JSON — the strongest check that doesn't reject a
    foreign writer's legitimate commit."""
    try:
        with open(path, "rb") as f:
            data = f.read()
    except OSError:
        return False
    if not data:
        return False  # in-flight (or crashed) O_EXCL claim
    if not data.endswith(b"\n"):
        return False  # torn mid-line
    lines = [ln for ln in data.splitlines() if ln.strip()]
    if not lines:
        return True  # an action-less (empty) commit — legal, distinct
        # from the zero-byte claim handled above
    try:
        first = json.loads(lines[0])
        json.loads(lines[-1])
    except ValueError:
        return False
    if isinstance(first, dict) and isinstance(first.get("commitInfo"), dict):
        want = first["commitInfo"].get("txnActionCount")
        if want is not None:
            return len(lines) == want
    return True


# Test seam: called between the fallback claim write and the ownership
# re-check, so the suspended-claimant race is simulable in-process.
# Always None in production.
_claim_check_hook = None

# Test seam: called between the stale-reclaim classification (stat +
# completeness check) and the reclaim rename, so the double-reclaim
# TOCTOU (a rival reclaims-claims-publishes in that window) is
# simulable in-process. Always None in production.
_reclaim_race_hook = None

# Test seam: called between vacuum's orphan rename and its log
# re-check, so the orphan-published-mid-vacuum race is simulable
# in-process. Always None in production.
_vacuum_recheck_hook = None


def _log_path(table_path: str, version: int) -> str:
    return os.path.join(table_path, _LOG_DIR, f"{version:020d}.json")


def _publish_commit(table_path: str, version: int, actions: list[dict],
                    adds: list[dict]) -> None:
    """The put-if-absent commit point, factored out of commit_overwrite
    so the multi-process race test (tests/test_dlog_race.py) can hammer
    the file protocol directly without a SparkSession per process.
    Publishes ``actions`` as version ``version`` or raises
    ConcurrentCommitError, cleaning up the already-moved part files in
    ``adds`` on loss (they are unreachable from any commit)."""
    os.makedirs(os.path.join(table_path, _LOG_DIR), exist_ok=True)
    log_file = _log_path(table_path, version)
    # Stamp the head commitInfo with the total action-line count so a
    # torn file (any prefix of ours) is detectable — see
    # _commit_complete. Merged into an existing head commitInfo (one
    # commitInfo per commit, the customary Delta shape) or prepended.
    actions = list(actions)
    if actions and isinstance(actions[0], dict) and "commitInfo" in actions[0]:
        actions[0] = {"commitInfo": {**actions[0]["commitInfo"],
                                     "txnActionCount": len(actions)}}
    else:
        actions.insert(0, {"commitInfo": {"txnActionCount": len(actions) + 1}})
    # reclaim a crashed claim: an INCOMPLETE version file (zero-length
    # or token-stamped claim, or a torn write) is an O_EXCL create
    # whose content rename never landed (process died mid-fallback).
    # Reclaim only STALE ones (mtime older than _CLAIM_STALE_SECS): a
    # fresh claim is a LIVE committer between its O_EXCL create and
    # its os.replace — unlinking it would let both writers' renames
    # land and both "win" the version, silently dropping one commit's
    # adds. With the age gate, a racing writer sees a fresh claim,
    # leaves it alone, and loses cleanly at its own O_EXCL create. A
    # claimant suspended PAST the threshold (so legitimately
    # reclaimed) detects the loss at the token re-check below and
    # aborts instead of clobbering the reclaimer's commit — the old
    # 60 s residual is now the microsecond re-check->rename window.
    try:
        st = os.stat(log_file)
        # reclaim covers torn non-empty files too (fs-level corruption,
        # a foreign writer dying mid-write): an INCOMPLETE stale file
        # is no one's commit; a complete one loses at put-if-absent.
        #
        # Reclaim by RENAME to a unique name, not unlink: two writers
        # can both classify the same crashed claim stale, and with a
        # bare unlink the slower one's already-decided unlink deletes
        # whatever the faster one claimed-and-published in between —
        # a silently lost commit (the exact TOCTOU ledger._file_lock
        # closed the same way). Only one rename of an inode succeeds;
        # the winner then verifies by inode identity that it renamed
        # the very file it classified (not a rival's fresh claim or
        # published commit that slipped into the slot), restores a
        # live file put-if-absent if it stole one, and only ever
        # unlinks its private renamed copy.
        if (time.time() - st.st_mtime > _CLAIM_STALE_SECS
                and (st.st_size == 0 or not _commit_complete(log_file))):
            if _reclaim_race_hook is not None:  # test seam: rival
                _reclaim_race_hook()            # reclaims+publishes here
            reclaim = log_file + f".reclaim.{os.getpid()}.{uuid.uuid4().hex}"
            os.rename(log_file, reclaim)
            st2 = os.stat(reclaim)
            if (st2.st_ino, st2.st_size) == (st.st_ino, st.st_size):
                os.unlink(reclaim)  # the stale file we classified
            else:
                # we stole a LIVE file — put it back (put-if-absent so
                # we never clobber a claim that refilled the slot) and
                # lose cleanly at our own claim attempt below. If the
                # slot refilled before the restore, leave the renamed
                # copy on disk (invisible to versions(); preserves a
                # possibly-published commit for recovery) rather than
                # destroy it. If the stolen file was a rival's FRESH
                # token claim, the restored token may sit ownerless
                # (the rival's ownership re-check can land inside our
                # rename window and abort it) for one staleness
                # horizon before the next reclaim — an accepted
                # availability cost of never destroying a claim.
                try:
                    os.link(reclaim, log_file)
                except FileExistsError:
                    pass  # slot refilled: keep the copy, touch nothing
                except OSError:
                    # no-hardlink filesystem (the same mounts the
                    # O_EXCL publish fallback exists for): put-if-
                    # absent via an O_EXCL slot claim, then replace it
                    # with the stolen content — a bare rename-back
                    # could clobber a claim that refilled the slot.
                    try:
                        fd = os.open(log_file,
                                     os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                    except OSError:
                        pass  # slot refilled (or unprobeable): keep copy
                    else:
                        os.close(fd)
                        os.replace(reclaim, log_file)
                else:
                    os.unlink(reclaim)
    except OSError:
        pass
    tmp = log_file + f".{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    try:
        # Vacuumed-parts re-check at the LAST instant before the commit
        # point: if a vacuum reclaimed any of this commit's moved parts
        # while the writer was stalled (they age past the stale-orphan
        # gate after _CLAIM_STALE_SECS), publishing would commit
        # references to deleted files. Placed here — not earlier in
        # commit_overwrite — so the unguarded residual is only the
        # microseconds between this scan and the link. It cannot be
        # zero without a cross-process lock: a vacuum whose rename and
        # log re-read both land inside that residual still wins the
        # file; vacuum's own rename+re-check narrows its side the same
        # way, so loss needs BOTH micro-windows to coincide.
        gone = [a["add"]["path"] for a in adds
                if not os.path.exists(
                    os.path.join(table_path, a["add"]["path"]))]
        if gone:
            for a in adds:  # drop survivors too: this commit is dead
                try:
                    os.unlink(os.path.join(table_path, a["add"]["path"]))
                except OSError:
                    pass
            raise ConcurrentCommitError(
                f"part files vacuumed while commit {version} was in "
                f"flight in {table_path}: {gone}; re-read and re-commit")
        # put-if-absent commit point: link fails if the version
        # exists, so a racing writer cannot silently clobber it
        try:
            os.link(tmp, log_file)
        except FileExistsError:
            raise
        except OSError:
            # filesystem without hard links (some NFS/FUSE/object
            # mounts): O_EXCL create is the same put-if-absent
            # CLAIM, but writing the commit content through that fd
            # would let a concurrent reader observe a partial commit.
            # Claim with O_EXCL, then publish the full content with an
            # atomic rename over the claim — readers see either an
            # in-progress claim (tolerated by _replay / versions) or
            # the complete file, never a prefix.
            #
            # The claim is stamped with this writer's unique token
            # (raw hex, no trailing newline, so _commit_complete
            # classifies it incomplete = invisible, same as the
            # zero-length form a pre-write crash leaves). A claimant
            # SUSPENDED past _CLAIM_STALE_SECS whose claim a rival
            # legitimately reclaimed then re-reads the file just
            # before its rename: foreign content means the version
            # was lost — abort instead of clobbering the rival's
            # published commit. This shrinks the r9-documented
            # suspended-claimant clobber window from the full 60 s
            # staleness horizon to the microseconds between the
            # re-read and the rename.
            token = uuid.uuid4().hex.encode()
            fd = os.open(log_file, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            try:
                os.write(fd, token)
            finally:
                os.close(fd)
            if _claim_check_hook is not None:  # test seam: simulated
                _claim_check_hook()            # suspension window
            try:
                with open(log_file, "rb") as cf:
                    still_ours = cf.read() == token
            except OSError:
                still_ours = False
            if not still_ours:
                raise FileExistsError(log_file)
            os.replace(tmp, log_file)
    except FileExistsError:
        # lost the race: the moved part files are unreachable from
        # any commit — remove them now instead of leaking until a
        # vacuum that can never see them
        for a in adds:
            try:
                os.unlink(os.path.join(table_path, a["add"]["path"]))
            except OSError:
                pass
        raise ConcurrentCommitError(
            f"version {version} already committed in {table_path}; "
            f"re-read and re-commit") from None
    finally:
        try:
            os.unlink(tmp)
        except FileNotFoundError:
            pass  # the O_EXCL fallback already renamed tmp away


class DeltaLogTable:
    """One transaction-log table rooted at ``path``. Single writer."""

    def __init__(self, path: str):
        self.path = path

    # -- log bookkeeping --------------------------------------------------
    def versions(self) -> list[int]:
        d = os.path.join(self.path, _LOG_DIR)
        if not os.path.isdir(d):
            return []
        out = []
        for name in os.listdir(d):
            if name.endswith(".json"):
                try:
                    v = int(name[:-5])
                except ValueError:
                    continue
                # a zero-length file is an in-progress (or crashed)
                # O_EXCL claim whose content rename hasn't landed, and
                # a torn file (truncated tail, missing action lines vs
                # the head stamp) is a crashed/corrupt write — readers
                # treat both as not-yet-committed rather than corrupt;
                # the committer reclaims them once stale
                if not _commit_complete(os.path.join(d, name)):
                    continue
                out.append(v)
        return sorted(out)

    def latest_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def _read_commit(self, version: int) -> list[dict]:
        p = _log_path(self.path, version)
        with open(p) as f:
            return [json.loads(line) for line in f if line.strip()]

    def _replay(self, version_as_of: int) -> tuple[dict[str, dict], str | None]:
        """Live add-actions by relative path, plus the schemaString,
        after replaying commits 0..version_as_of (last action per path
        wins — the protocol's file-level reconciliation rule)."""
        versions = self.versions()
        if version_as_of not in versions:
            raise ValueError(
                f"version {version_as_of} not in log for {self.path}; "
                f"have {versions}")
        # A gap in the replayed range means a MIDDLE version is torn or
        # missing: skipping it would half-apply the log (later removes/
        # adds reference state the hole created). A torn LATEST version
        # is simply not-yet-committed (excluded by versions()); a torn
        # middle one is unrecoverable — fail loudly.
        replayed = [v for v in versions if v <= version_as_of]
        # A missing PREFIX is a gap too: a torn/corrupt version 0 is
        # silently excluded by versions(), leaving replayed=[1..N] with
        # no internal gap — but v0 carries protocol/metaData (and, for
        # foreign append-shaped logs, its adds), so replaying without
        # it is the same half-applied state as a torn middle commit.
        if not replayed or replayed[0] != 0:
            raise CorruptCommitError(
                f"commit log gap in {self.path}: replay starts at "
                f"{replayed[0] if replayed else 'nothing'} instead of 0; "
                f"version 0 is torn or missing and replay cannot skip it")
        for a, b in zip(replayed, replayed[1:]):
            if b != a + 1:
                raise CorruptCommitError(
                    f"commit log gap in {self.path}: version {a} is "
                    f"followed by {b}; a middle commit is torn or "
                    f"missing and replay cannot skip it")
        live: dict[str, dict] = {}
        schema_string: str | None = None
        for v in versions:
            if v > version_as_of:
                break
            for action in self._read_commit(v):
                if "metaData" in action:
                    schema_string = action["metaData"].get("schemaString")
                elif "add" in action:
                    live[action["add"]["path"]] = action["add"]
                elif "remove" in action:
                    live.pop(action["remove"]["path"], None)
        return live, schema_string

    # -- write ------------------------------------------------------------
    def commit_overwrite(self, df: DataFrame, max_files: int | None = None) -> int:
        """Commit ``df`` as the next version, logically replacing all
        live files (the mode="overwrite" shape the snapshot store
        needs). Data files are written by Spark into a staging dir and
        moved into the table root under unique names — immutable, never
        rewritten; the commit point is the atomic rename of the log
        file. Returns the new version. ``max_files`` defaults to the
        session's shuffle parallelism (the old literal 1 serialized a
        data-proportional write through one task — coalesce never
        widens, so small frames still commit as few files)."""
        prev = self.latest_version()
        version = 0 if prev is None else prev + 1
        now_ms = int(time.time() * 1000)
        if max_files is None:
            from .session import default_write_files
            max_files = default_write_files(df)

        staging = os.path.join(self.path, f".staging-{uuid.uuid4().hex}")
        df.coalesce(max_files).write.mode("overwrite").parquet(staging)
        os.makedirs(os.path.join(self.path, _LOG_DIR), exist_ok=True)
        adds = []
        i = 0
        for name in sorted(os.listdir(staging)):
            if not name.endswith(".parquet"):
                continue
            rel = f"part-{i:05d}-{uuid.uuid4().hex[:12]}.snappy.parquet"
            src = os.path.join(staging, name)
            dst = os.path.join(self.path, rel)
            os.replace(src, dst)
            # Restart the orphan-age clock AT THE MOVE: rename preserves
            # mtime, and for a long multi-file Spark write the first
            # staging file can already be minutes old when it lands in
            # the table root — old enough for a concurrent vacuum's
            # stale-orphan gate (_CLAIM_STALE_SECS) to classify it a
            # crashed leftover and delete it BEFORE this commit's log
            # publish, corrupting the version about to win. With the
            # refresh, vacuum's age gate measures time-since-move, which
            # is what "possibly in-flight" actually means.
            os.utime(dst, None)
            adds.append({"add": {
                "path": rel,
                "partitionValues": {},
                "size": os.path.getsize(dst),
                "modificationTime": now_ms,
                "dataChange": True,
            }})
            i += 1
        shutil.rmtree(staging, ignore_errors=True)

        actions: list[dict] = [{"commitInfo": {
            "timestamp": now_ms,
            "operation": "WRITE",
            "operationParameters": {"mode": "Overwrite"},
        }}]
        if version == 0:
            actions.append({"protocol": {
                "minReaderVersion": 1, "minWriterVersion": 2}})
            actions.append({"metaData": {
                "id": str(uuid.uuid4()),
                "format": {"provider": "parquet", "options": {}},
                "schemaString": df.schema.json(),
                "partitionColumns": [],
                "configuration": {},
                "createdTime": now_ms,
            }})
        else:
            live, _ = self._replay(prev)
            for rel in sorted(live):
                actions.append({"remove": {
                    "path": rel,
                    "deletionTimestamp": now_ms,
                    "dataChange": True,
                }})
        actions.extend(adds)

        # _publish_commit re-checks the adds still exist at the last
        # instant before the commit point and aborts with
        # ConcurrentCommitError if a vacuum reclaimed any (the mtime
        # refresh above makes that need a >stale-age stall between the
        # moves and here — a suspended process is exactly the case it
        # defends).
        _publish_commit(self.path, version, actions, adds)
        return version

    # -- read -------------------------------------------------------------
    def read(self, spark: SparkSession,
             version_as_of: int | None = None) -> DataFrame:
        """Read the table at a version (default: latest) by log replay.
        An empty live set still returns a schema-correct empty frame
        (from the metaData schemaString). A vacuumed-away file raises
        — time travel past the vacuum horizon fails, as in Delta."""
        if version_as_of is None:
            version_as_of = self.latest_version()
            if version_as_of is None:
                raise ValueError(f"no commits in {self.path}")
        live, schema_string = self._replay(version_as_of)
        paths = [os.path.join(self.path, rel) for rel in sorted(live)]
        missing = [p for p in paths if not os.path.exists(p)]
        if missing:
            raise FileNotFoundError(
                f"version {version_as_of} references vacuumed data "
                f"files: {missing}")
        if not paths:
            from pyspark.sql.types import StructType

            if schema_string is None:
                raise ValueError(f"no metaData action in {self.path}")
            schema = StructType.fromJson(json.loads(schema_string))
            return spark.createDataFrame([], schema)
        return spark.read.parquet(*paths)

    def history(self) -> list[dict]:
        """One row per commit: version, timestamp, n_added, n_removed."""
        out = []
        for v in self.versions():
            ts, added, removed = None, 0, 0
            for action in self._read_commit(v):
                if "commitInfo" in action:
                    ts = action["commitInfo"].get("timestamp")
                elif "add" in action:
                    added += 1
                elif "remove" in action:
                    removed += 1
            out.append({"version": v, "timestamp": ts,
                        "n_added": added, "n_removed": removed})
        return out

    # -- housekeeping ------------------------------------------------------
    def vacuum(self, retain_versions: int = 2) -> list[str]:
        """Delete data files unreachable from the newest
        ``retain_versions`` versions (Delta's VACUUM with the retention
        expressed in versions rather than hours — the snapshot store's
        expiry contract). The log itself is kept whole: commit files
        are tiny and keeping them preserves history()/audit; reads of
        vacuumed versions fail at the missing-file check. Returns the
        deleted paths.

        ORPHAN files — parquet referenced by NO commit in the log — are
        deleted only once older than ``_CLAIM_STALE_SECS``: a racing
        committer moves its part files into the table root BEFORE its
        log publish, so a fresh orphan is (possibly) an in-flight
        commit, and deleting it would corrupt the version that is about
        to win. Files referenced by superseded versions are published
        history and deletable at any age. This is the same
        in-flight-vs-crashed mtime gate the commit path applies to
        empty claims, and the file-age analogue of real Delta's
        retention-hours check, which exists for exactly this race.
        Crashed losers' leftovers age past the threshold and are
        reclaimed by the next vacuum."""
        versions = self.versions()
        if not versions:
            return []
        retained = versions[-max(1, retain_versions):]
        keep: set[str] = set()
        for v in retained:
            live, _ = self._replay(v)
            keep.update(live)
        ever_added: set[str] = set()
        for v in versions:
            for action in self._read_commit(v):
                if "add" in action:
                    ever_added.add(action["add"]["path"])
        removed = []
        now = time.time()
        for name in sorted(os.listdir(self.path)):
            if not name.endswith(".parquet"):
                continue
            if name in keep:
                continue
            full = os.path.join(self.path, name)
            try:
                if name in ever_added:
                    os.remove(full)  # published history: deletable
                    removed.append(name)
                    continue
                if now - os.stat(full).st_mtime <= _CLAIM_STALE_SECS:
                    continue  # fresh orphan: possibly an in-flight commit
                # Stale ORPHAN: reclaim by rename + log re-check, not a
                # bare unlink. Between our stat and the delete, the
                # in-flight committer that moved this part may have
                # PUBLISHED its version (its pre-publish existence check
                # passed while the file still existed) — an unlink here
                # would then destroy committed data. Rename wins at most
                # once; re-reading the log afterwards sees any commit
                # that published before our rename, and a publish after
                # it usually aborts at the committer's last-instant
                # existence re-check (the file is renamed away). The
                # residual is BOTH micro-windows coinciding — committer
                # scan -> link overlapping our rename -> re-read ->
                # remove — which no lock-free scheme closes; each side
                # narrows its own window to microseconds. Part names
                # are uuid-unique so the restore rename can never
                # collide.
                reclaim = full + f".vacuum.{os.getpid()}.{uuid.uuid4().hex}"
                os.rename(full, reclaim)
                if _vacuum_recheck_hook is not None:  # test seam
                    _vacuum_recheck_hook(name)
                referenced = any(
                    "add" in a and a["add"]["path"] == name
                    for v in self.versions()
                    for a in self._read_commit(v))
                if referenced:
                    os.rename(reclaim, full)  # live after all — restore
                    continue
                os.remove(reclaim)
            except OSError:
                continue  # already gone (racing vacuum/loser cleanup)
            removed.append(name)
        self._sweep_preserved_copies(now)
        return removed

    def _sweep_preserved_copies(self, now: float) -> None:
        """Age out ``.reclaim.*`` / ``.vacuum.*`` preserved copies (see
        _PRESERVED_SWEEP_SECS). Both kinds exist because a restore
        failed or a slot refilled mid-race; the rule here is the same
        as everywhere else in this module — re-check the state the
        copy was preserving, restore put-if-absent when the copy is
        the only surviving bytes of referenced state, delete only
        copies that are provably redundant or never-committed:

        * data copy ``<f>.parquet.vacuum.<pid>.<hex>``: if
          ``<f>.parquet`` exists live the copy is redundant; if the
          log references ``<f>.parquet`` but the file is gone, the
          copy is committed data and is restored (put-if-absent);
          a copy of a file no commit ever referenced is an orphan's
          orphan.
        * log copy ``<v>.json.reclaim.<pid>.<hex>``: if the slot
          holds a COMPLETE commit, a winner published (the preserved
          content either is that winner or lost the race) — delete;
          if the slot is empty, restore put-if-absent; an INCOMPLETE
          slot is a live claim — leave the copy for the next sweep.

        Restores use the same link / O_EXCL-create fallback as the
        commit path, so a concurrent writer can never be clobbered.
        Failures skip the copy (next vacuum retries). Zero-length
        bases are never treated as live data: a crashed or
        replace-failed restorer's O_EXCL placeholder (linkless
        filesystems only) is detected by size in the data pass and
        atomically replaced with the preserved copy's bytes (any LIVE
        racing restorer holds an identical copy, so either replace
        order lands the same content); the log pass was always safe —
        an empty slot placeholder fails _commit_complete and the copy
        is kept. The link path (primary) has no placeholder at all:
        restore is one atomic syscall."""

        def _restore(copy: str, dest: str) -> bool:
            try:
                os.link(copy, dest)
            except FileExistsError:
                return True  # slot/file refilled: copy now redundant
            except OSError:
                try:  # no-hardlink filesystem: O_EXCL claim + replace
                    fd = os.open(dest, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                except OSError:
                    return False  # refilled or unprobeable: retry later
                os.close(fd)
                try:
                    os.replace(copy, dest)
                except OSError:
                    # don't leave the empty O_EXCL placeholder behind:
                    # a later data-pass sweep would read "base exists"
                    # and delete the only surviving copy of the bytes.
                    # But NEVER delete a dest that holds bytes — a
                    # concurrent sweeper may have restored real data
                    # over our placeholder (consuming ITS copy) between
                    # our failed replace and this cleanup; an
                    # unconditional unlink would destroy the freshly
                    # restored base while our own copy was already
                    # reclaimed — both copies gone, referenced data
                    # unrecoverable. Re-stat and remove only a
                    # still-empty placeholder: this narrows the
                    # exposure back to the documented
                    # two-micro-windows-coinciding class with no
                    # live-data deletion path.
                    try:
                        if os.stat(dest).st_size == 0:
                            os.unlink(dest)
                    except OSError:
                        pass
                    return False  # copy survives: retry next sweep
                return False  # replace consumed the copy
            return True  # linked: the copy itself is now redundant

        # LOG copies first, then data copies: a preserved log copy can
        # hold the only reference to a data file whose only bytes are a
        # preserved data copy — sweeping data first would classify that
        # data copy as never-committed and delete it, then the log
        # restore would republish a commit referencing destroyed bytes.
        # Restoring commits first means the data pass reads the fully
        # re-established reference set.
        log_dir = os.path.join(self.path, _LOG_DIR)
        try:
            log_names = sorted(os.listdir(log_dir))
        except OSError:
            log_names = []
        for name in log_names:
            if ".reclaim." not in name:
                continue
            full = os.path.join(log_dir, name)
            try:
                if now - os.stat(full).st_mtime <= _PRESERVED_SWEEP_SECS:
                    continue
                slot = os.path.join(log_dir, name.split(".reclaim.")[0])
                if os.path.exists(slot):
                    if not _commit_complete(slot):
                        continue  # live claim in the slot: not resolved
                elif not _restore(full, slot):
                    continue
                os.unlink(full)
            except OSError:
                continue
        ever_added: set[str] | None = None
        for name in sorted(os.listdir(self.path)):
            if ".vacuum." not in name:
                continue
            full = os.path.join(self.path, name)
            try:
                if now - os.stat(full).st_mtime <= _PRESERVED_SWEEP_SECS:
                    continue
                base = name.split(".vacuum.")[0]
                base_full = os.path.join(self.path, base)
                try:
                    base_size = os.stat(base_full).st_size
                except OSError:
                    base_size = None
                # A ZERO-length base is never committed data (every
                # data file carries parquet bytes) — it is a crashed
                # restorer's O_EXCL placeholder. Treating it as "base
                # exists" would classify this copy as redundant and
                # delete the only surviving bytes.
                if base_size is None or base_size == 0:
                    if ever_added is None:  # lazily, once per sweep
                        ever_added = {
                            a["add"]["path"]
                            for v in self.versions()
                            for a in self._read_commit(v) if "add" in a}
                    if base in ever_added:
                        if base_size == 0:
                            # replace the placeholder atomically; a
                            # LIVE racing restorer holds an identical
                            # copy, so either order lands same bytes
                            os.replace(full, base_full)
                            continue
                        if not _restore(full, base_full):
                            continue
                os.unlink(full)
            except OSError:
                continue
