"""Delta-protocol shape and replay semantics of dlog.py — the
pure-Python transaction log behind the snapshot_time_travel lane.

These tests pin the PUBLIC Delta log layout (versioned _delta_log JSON
commits, protocol/metaData in version 0, add/remove reconciliation)
so the module stays a structurally valid minimal Delta table, not just
a private format that happens to round-trip."""

import json
import os
import time

import pytest

from cql_replicator_spark import dlog
from cql_replicator_spark.dlog import DeltaLogTable


@pytest.fixture()
def tbl(tmp_path):
    return DeltaLogTable(str(tmp_path / "t"))


def _df(spark, rows):
    return spark.createDataFrame(rows, "pk int, ts long")


def test_commit_layout_is_protocol_shaped(spark, tbl):
    v0 = tbl.commit_overwrite(_df(spark, [(1, 10), (2, 20)]))
    assert v0 == 0
    log = os.path.join(tbl.path, "_delta_log",
                       "00000000000000000000.json")
    assert os.path.exists(log)
    with open(log) as f:
        actions = [json.loads(line) for line in f]
    kinds = [next(iter(a)) for a in actions]
    # protocol + metaData must be in the first commit, per the spec
    assert "protocol" in kinds and "metaData" in kinds
    proto = next(a["protocol"] for a in actions if "protocol" in a)
    assert proto["minReaderVersion"] == 1
    meta = next(a["metaData"] for a in actions if "metaData" in a)
    assert meta["format"]["provider"] == "parquet"
    assert json.loads(meta["schemaString"])["type"] == "struct"
    adds = [a["add"] for a in actions if "add" in a]
    assert adds, "first commit must add data files"
    for add in adds:
        assert not add["path"].startswith("/"), "paths must be relative"
        assert add["path"].endswith(".parquet")
        assert add["size"] > 0 and add["dataChange"] is True
        assert os.path.exists(os.path.join(tbl.path, add["path"]))


def test_overwrite_emits_removes_and_replay_reconciles(spark, tbl):
    tbl.commit_overwrite(_df(spark, [(1, 10), (2, 20)]))
    v1 = tbl.commit_overwrite(_df(spark, [(2, 21), (3, 30)]))
    assert v1 == 1
    with open(os.path.join(tbl.path, "_delta_log",
                           "00000000000000000001.json")) as f:
        actions = [json.loads(line) for line in f]
    removes = [a["remove"]["path"] for a in actions if "remove" in a]
    adds = [a["add"]["path"] for a in actions if "add" in a]
    assert removes and adds and not set(removes) & set(adds)
    # replay: v0 and v1 must each see exactly their own rows
    assert {(r.pk, r.ts) for r in tbl.read(spark, 0).collect()} == \
        {(1, 10), (2, 20)}
    assert {(r.pk, r.ts) for r in tbl.read(spark, 1).collect()} == \
        {(2, 21), (3, 30)}
    # latest is the default
    assert {(r.pk, r.ts) for r in tbl.read(spark).collect()} == \
        {(2, 21), (3, 30)}


def test_unknown_version_raises(spark, tbl):
    tbl.commit_overwrite(_df(spark, [(1, 10)]))
    with pytest.raises(ValueError, match="version 7 not in log"):
        tbl.read(spark, 7)


def test_empty_table_read_raises(spark, tbl):
    with pytest.raises(ValueError, match="no commits"):
        tbl.read(spark)
    assert tbl.latest_version() is None
    assert tbl.versions() == [] and tbl.history() == []


def test_non_log_files_in_log_dir_are_ignored(spark, tbl):
    """Foreign files in _delta_log (editor droppings, checksums other
    writers emit) must not break version discovery or replay."""
    tbl.commit_overwrite(_df(spark, [(1, 10)]))
    log_dir = os.path.join(tbl.path, "_delta_log")
    for name in ["_commit.crc", "notes.txt", "0000abc.json"]:
        with open(os.path.join(log_dir, name), "w") as f:
            f.write("junk")
    assert tbl.versions() == [0]
    assert {r.pk for r in tbl.read(spark, 0).collect()} == {1}


def test_empty_overwrite_reads_schema_correct_empty(spark, tbl):
    tbl.commit_overwrite(_df(spark, [(1, 10)]))
    tbl.commit_overwrite(_df(spark, []).filter("pk > 0"))
    out = tbl.read(spark, 1)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["pk", "ts"]
    # and time travel back past the empty version still works
    assert tbl.read(spark, 0).count() == 1


def test_vacuum_reclaims_only_unreachable_files(spark, tbl):
    tbl.commit_overwrite(_df(spark, [(1, 10)]))
    tbl.commit_overwrite(_df(spark, [(2, 20)]))
    tbl.commit_overwrite(_df(spark, [(3, 30)]))
    removed = tbl.vacuum(retain_versions=2)
    assert removed, "v0's file should be unreachable"
    # retained versions still read
    assert {r.pk for r in tbl.read(spark, 1).collect()} == {2}
    assert {r.pk for r in tbl.read(spark, 2).collect()} == {3}
    # the vacuumed version fails loudly, not with silent wrong data
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        tbl.read(spark, 0)
    # history survives vacuum (log files are retained)
    assert [h["version"] for h in tbl.history()] == [0, 1, 2]


def test_history_counts_adds_and_removes(spark, tbl):
    tbl.commit_overwrite(_df(spark, [(1, 10), (2, 20)]))
    tbl.commit_overwrite(_df(spark, [(3, 30)]))
    h = tbl.history()
    assert h[0]["n_added"] >= 1 and h[0]["n_removed"] == 0
    assert h[1]["n_added"] >= 1 and h[1]["n_removed"] == h[0]["n_added"]
    assert all(r["timestamp"] is not None for r in h)


def _write_synthetic_log(path, commits):
    """Write hand-built commits (lists of (kind, relpath) actions) so
    replay semantics are testable without Spark: version v's file is
    _delta_log/{v:020}.json, one JSON action per line."""
    os.makedirs(os.path.join(path, "_delta_log"), exist_ok=True)
    for v, actions in enumerate(commits):
        lines = []
        if v == 0:
            lines.append(json.dumps({"protocol": {
                "minReaderVersion": 1, "minWriterVersion": 2}}))
            lines.append(json.dumps({"metaData": {
                "id": "t", "format": {"provider": "parquet", "options": {}},
                "schemaString": '{"type":"struct","fields":[]}',
                "partitionColumns": [], "configuration": {},
                "createdTime": 0}}))
        for kind, rel in actions:
            if kind == "add":
                lines.append(json.dumps({"add": {
                    "path": rel, "partitionValues": {}, "size": 1,
                    "modificationTime": 0, "dataChange": True}}))
            else:
                lines.append(json.dumps({"remove": {
                    "path": rel, "deletionTimestamp": 0,
                    "dataChange": True}}))
        with open(os.path.join(path, "_delta_log", f"{v:020d}.json"),
                  "w") as f:
            f.write("\n".join(lines) + "\n")


def test_replay_matches_reference_reconciliation(tmp_path):
    """Property test of the protocol's last-action-per-path-wins rule:
    against random add/remove commit sequences, _replay(v) must equal
    a dict-based reference reconciliation at every version."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    paths = [f"f{i}.parquet" for i in range(6)]
    action = st.tuples(st.sampled_from(["add", "remove"]),
                       st.sampled_from(paths))
    commits_strategy = st.lists(st.lists(action, max_size=6),
                                min_size=1, max_size=6)

    @settings(max_examples=40, deadline=None)
    @given(commits=commits_strategy)
    def check(commits):
        import shutil as _sh
        import tempfile
        d = tempfile.mkdtemp(dir=str(tmp_path))
        try:
            _write_synthetic_log(d, commits)
            t = DeltaLogTable(d)
            expect: dict[str, bool] = {}
            for v, actions in enumerate(commits):
                for kind, rel in actions:
                    if kind == "add":
                        expect[rel] = True
                    else:
                        expect.pop(rel, None)
                live, schema = t._replay(v)
                assert set(live) == set(expect), (v, commits)
                assert schema is not None
        finally:
            _sh.rmtree(d, ignore_errors=True)

    check()


def test_concurrent_commit_loses_cleanly(spark, tbl, monkeypatch):
    """Put-if-absent commits: a writer whose view of latest_version is
    stale (another writer won the race for the next version) must get
    ConcurrentCommitError, and the winner's committed log file must
    survive byte-for-byte — never a silent clobber."""
    from cql_replicator_spark.dlog import ConcurrentCommitError

    tbl.commit_overwrite(_df(spark, [(1, 10)]))
    winner = _log_file = os.path.join(tbl.path, "_delta_log",
                                      "00000000000000000001.json")
    with open(winner, "w") as f:
        f.write(json.dumps({"commitInfo": {"timestamp": 0}}) + "\n")
    before = open(winner).read()
    # freeze the loser's stale belief that version 0 is still latest
    monkeypatch.setattr(DeltaLogTable, "latest_version", lambda self: 0)
    with pytest.raises(ConcurrentCommitError, match="version 1"):
        tbl.commit_overwrite(_df(spark, [(2, 20)]))
    assert open(winner).read() == before, "committed log was clobbered"
    log_dir = os.path.join(tbl.path, "_delta_log")
    assert not [n for n in os.listdir(log_dir) if n.endswith(".tmp")]
    # the loser's already-moved part files must not linger in the table
    # root: only version 0's single live file may remain
    live0, _ = tbl._replay(0)
    parts = [n for n in os.listdir(tbl.path)
             if n.endswith(".parquet")]
    assert sorted(parts) == sorted(live0), (parts, live0)


def test_commit_on_linkless_filesystem_falls_back(spark, tbl, monkeypatch):
    """Filesystems without hard-link support (NFS/FUSE/object mounts)
    raise OSError from os.link; the commit must fall back to O_EXCL
    create with identical put-if-absent semantics: first writer wins,
    second gets ConcurrentCommitError, log content is intact."""
    from cql_replicator_spark.dlog import ConcurrentCommitError

    def no_link(src, dst):
        raise PermissionError("Operation not permitted")

    monkeypatch.setattr(os, "link", no_link)
    tbl.commit_overwrite(_df(spark, [(1, 10)]))
    tbl.commit_overwrite(_df(spark, [(2, 20)]))
    assert tbl.latest_version() == 1
    assert sorted(r.pk for r in tbl.read(spark).collect()) == [2]
    assert sorted(r.pk for r in tbl.read(spark, 0).collect()) == [1]
    # and the race still loses cleanly through the fallback
    monkeypatch.setattr(DeltaLogTable, "latest_version", lambda self: 0)
    with pytest.raises(ConcurrentCommitError, match="version 1"):
        tbl.commit_overwrite(_df(spark, [(3, 30)]))


def test_crashed_empty_claim_recovered_not_wedged(spark, tbl, monkeypatch):
    """A zero-length version file is an O_EXCL claim whose content
    rename never landed (crash mid-fallback). Readers must treat it as
    not-yet-committed — latest_version/read ignore it — and, once the
    claim is STALE (older than _CLAIM_STALE_SECS), the next commit must
    reclaim the version instead of raising ConcurrentCommitError
    forever (the wedge the non-atomic fallback used to allow)."""
    tbl.commit_overwrite(_df(spark, [(1, 10)]))
    # simulate the crash: claim exists, content never published,
    # mtime backdated past the staleness threshold
    crashed = os.path.join(tbl.path, "_delta_log",
                           "00000000000000000001.json")
    open(crashed, "w").close()
    old = time.time() - dlog._CLAIM_STALE_SECS - 5
    os.utime(crashed, (old, old))
    assert tbl.latest_version() == 0
    assert sorted(r.pk for r in tbl.read(spark).collect()) == [1]
    # retry reclaims version 1 — through the linkless fallback too
    monkeypatch.setattr(
        os, "link",
        lambda s, d: (_ for _ in ()).throw(PermissionError("no links")))
    assert tbl.commit_overwrite(_df(spark, [(2, 20)])) == 1
    assert os.path.getsize(crashed) > 0
    assert sorted(r.pk for r in tbl.read(spark).collect()) == [2]


def test_fresh_empty_claim_is_live_not_reclaimed(spark, tbl, monkeypatch):
    """A FRESH zero-length claim is a LIVE committer between its O_EXCL
    create and its publishing rename. A racing writer must NOT unlink
    it (that would let both writers' renames land and both return the
    same version, silently dropping one commit's adds — the r8 advisor
    race): it must lose cleanly with ConcurrentCommitError and leak no
    part files, on the link path and the linkless fallback alike."""
    tbl.commit_overwrite(_df(spark, [(1, 10)]))
    claim = os.path.join(tbl.path, "_delta_log",
                         "00000000000000000001.json")
    open(claim, "w").close()  # fresh mtime: in-flight
    before = {n for n in os.listdir(tbl.path) if n.endswith(".parquet")}
    with pytest.raises(dlog.ConcurrentCommitError):
        tbl.commit_overwrite(_df(spark, [(2, 20)]))
    monkeypatch.setattr(
        os, "link",
        lambda s, d: (_ for _ in ()).throw(PermissionError("no links")))
    with pytest.raises(dlog.ConcurrentCommitError):
        tbl.commit_overwrite(_df(spark, [(2, 20)]))
    assert os.path.getsize(claim) == 0  # claim untouched either way
    after = {n for n in os.listdir(tbl.path) if n.endswith(".parquet")}
    assert after == before  # losers cleaned up their moved part files


def test_vacuum_spares_fresh_orphans_reclaims_stale(spark, tbl):
    """An in-flight committer's part files sit in the table root as
    ORPHANS (referenced by no commit) until its log publish lands; a
    concurrent vacuum must not delete them — that would corrupt the
    version about to win. Crashed leftovers age past _CLAIM_STALE_SECS
    and ARE reclaimed; superseded (published) files are deletable at
    any age, so normal expiry is unaffected."""
    tbl.commit_overwrite(_df(spark, [(1, 10)]))
    v0_files = {n for n in os.listdir(tbl.path) if n.endswith(".parquet")}
    tbl.commit_overwrite(_df(spark, [(2, 20)]))

    fresh = os.path.join(tbl.path, "part-inflight-fresh.snappy.parquet")
    stale = os.path.join(tbl.path, "part-crashed-stale.snappy.parquet")
    for p in (fresh, stale):
        with open(p, "w") as f:
            f.write("x")
    old = time.time() - dlog._CLAIM_STALE_SECS - 5
    os.utime(stale, (old, old))

    removed = set(tbl.vacuum(retain_versions=1))
    # superseded v0 file expired despite being fresh; stale orphan
    # reclaimed; fresh orphan (possible in-flight commit) spared
    assert v0_files <= removed
    assert "part-crashed-stale.snappy.parquet" in removed
    assert "part-inflight-fresh.snappy.parquet" not in removed
    assert os.path.exists(fresh) and not os.path.exists(stale)
    # the surviving orphan is invisible to reads (not in any commit)
    assert sorted(r.pk for r in tbl.read(spark).collect()) == [2]


def test_commit_refreshes_part_mtime_at_move(spark, tbl, monkeypatch):
    """A long multi-file Spark write leaves early staging files with
    old mtimes; rename preserves them, so a moved part could land in
    the table root already past vacuum's stale-orphan age gate and be
    deleted BEFORE the log publish (a corrupt published version). The
    commit path must restart the orphan-age clock at the move."""
    real_replace = os.replace

    def replace_with_stale_mtime(src, dst):
        real_replace(src, dst)
        if dst.endswith(".parquet"):  # simulate a >stale-age-old write
            old = time.time() - dlog._CLAIM_STALE_SECS - 120
            os.utime(dst, (old, old))

    monkeypatch.setattr(os, "replace", replace_with_stale_mtime)
    tbl.commit_overwrite(_df(spark, [(1, 10)]))
    parts = [n for n in os.listdir(tbl.path) if n.endswith(".parquet")]
    assert parts
    for n in parts:
        age = time.time() - os.stat(os.path.join(tbl.path, n)).st_mtime
        assert age < dlog._CLAIM_STALE_SECS, (n, age)


def test_commit_aborts_if_parts_vacuumed_in_flight(spark, tbl, monkeypatch):
    """If a vacuum reclaims a just-moved part while the committer is
    still replaying the log, publishing would commit references to
    deleted files. The pre-publish existence re-check must abort with
    ConcurrentCommitError, leave the log at the previous version, and
    clean up the surviving moved parts."""
    tbl.commit_overwrite(_df(spark, [(1, 10)]))
    v0_parts = {n for n in os.listdir(tbl.path) if n.endswith(".parquet")}

    real_replay = DeltaLogTable._replay

    def replay_then_vacuum_steals_a_part(self, v):
        live, schema = real_replay(self, v)
        fresh = [n for n in os.listdir(self.path)
                 if n.endswith(".parquet") and n not in v0_parts]
        assert fresh, "expected the new commit's moved parts on disk"
        os.unlink(os.path.join(self.path, fresh[0]))
        return live, schema

    monkeypatch.setattr(DeltaLogTable, "_replay",
                        replay_then_vacuum_steals_a_part)
    with pytest.raises(dlog.ConcurrentCommitError, match="vacuumed"):
        tbl.commit_overwrite(_df(spark, [(2, 20)]))
    monkeypatch.setattr(DeltaLogTable, "_replay", real_replay)

    assert tbl.latest_version() == 0  # nothing published
    assert sorted(r.pk for r in tbl.read(spark).collect()) == [1]
    # survivors of the dead commit were cleaned up, v0's data untouched
    left = {n for n in os.listdir(tbl.path) if n.endswith(".parquet")}
    assert left == v0_parts


def test_vacuum_restores_orphan_published_mid_reclaim(tmp_path):
    """Vacuum's stale-orphan reclaim vs an in-flight committer that
    PUBLISHES between vacuum's stat and its delete: a bare unlink
    destroys committed data. Reclaim now renames (one winner), re-reads
    the log, and restores the file if a commit claimed it."""
    from cql_replicator_spark import dlog as D

    d = str(tmp_path / "t")
    D._publish_commit(d, 0, _pc_actions(0), adds=[])
    tbl = DeltaLogTable(d)
    orphan = "part-inflight-but-old.snappy.parquet"
    full = os.path.join(d, orphan)
    with open(full, "w") as f:
        f.write("x")
    old = time.time() - D._CLAIM_STALE_SECS - 5
    os.utime(full, (old, old))

    def publish_referencing_orphan(name):
        D._vacuum_recheck_hook = None  # no recursion
        D._publish_commit(d, 1, [
            {"commitInfo": {"timestamp": 1, "operation": "WRITE"}},
            {"add": {"path": name, "partitionValues": {}, "size": 1,
                     "modificationTime": 1, "dataChange": True}},
        ], adds=[])

    D._vacuum_recheck_hook = publish_referencing_orphan
    try:
        removed = tbl.vacuum(retain_versions=5)
    finally:
        D._vacuum_recheck_hook = None

    assert orphan not in removed
    assert os.path.exists(full), "published data file was destroyed"
    live, _ = tbl._replay(1)
    assert orphan in live
    # and no .vacuum.* reclaim copies left behind
    assert not [n for n in os.listdir(d) if ".vacuum." in n]


def test_duckdb_independent_log_replay(spark, tbl):
    """Closest-available cross-reader check (DuckDB's delta extension
    needs a network download; delta-rs is absent): replay the
    _delta_log in DuckDB itself — read_json over the commit files, SQL
    reconciliation of add/remove per the published protocol (latest
    action per path wins), then read the surviving parquet set — and
    assert row-level agreement with Spark's versionAsOf read at every
    version. DuckDB shares no code with dlog.py, so agreement means
    the log's MEANING, not just its shape, matches the protocol."""
    import duckdb

    tbl.commit_overwrite(_df(spark, [(1, 10), (2, 20)]))
    tbl.commit_overwrite(_df(spark, [(2, 21), (3, 30)]))
    tbl.commit_overwrite(_df(spark, [(4, 40)]))

    con = duckdb.connect()
    log_glob = os.path.join(tbl.path, "_delta_log", "*.json")
    for v in range(3):
        live = con.execute(f"""
            WITH actions AS (
                SELECT json, filename,
                       CAST(regexp_extract(filename, '(\\d+)\\.json$', 1)
                            AS BIGINT) AS version,
                       row_number() OVER () AS seq
                FROM read_json('{log_glob}', format='newline_delimited',
                               records='false', filename=true)
            ), file_ops AS (
                SELECT version, seq,
                       json_extract_string(json, '$.add.path') AS add_path,
                       json_extract_string(json, '$.remove.path') AS rm_path
                FROM actions WHERE version <= {v}
            ), per_path AS (
                SELECT coalesce(add_path, rm_path) AS path,
                       arg_max(CAST(add_path IS NOT NULL AS INT),
                               version * 1000000 + seq) = 1 AS is_live
                FROM file_ops
                WHERE add_path IS NOT NULL OR rm_path IS NOT NULL
                GROUP BY 1
            )
            SELECT path FROM per_path WHERE is_live ORDER BY path
        """).fetchall()
        paths = [os.path.join(tbl.path, p) for (p,) in live]
        assert paths, f"version {v}: DuckDB replay found no live files"
        duck_rows = sorted(con.execute(
            "SELECT pk, ts FROM read_parquet(?)", [paths]).fetchall())
        spark_rows = sorted((r.pk, r.ts)
                            for r in tbl.read(spark, v).collect())
        assert duck_rows == spark_rows, (v, duck_rows, spark_rows)


def test_no_staging_or_tmp_left_behind(spark, tbl):
    tbl.commit_overwrite(_df(spark, [(1, 10)]))
    tbl.commit_overwrite(_df(spark, [(2, 20)]))
    names = os.listdir(tbl.path)
    assert not [n for n in names if n.startswith(".staging-")]
    log_names = os.listdir(os.path.join(tbl.path, "_delta_log"))
    assert not [n for n in log_names if n.endswith(".tmp")]


# -- torn-commit durability (r10) -------------------------------------------

def _pc_actions(v):
    return [
        {"commitInfo": {"timestamp": 1, "operation": "WRITE"}},
        {"add": {"path": f"part-v{v}-a.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 1, "dataChange": True}},
        {"add": {"path": f"part-v{v}-b.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 1, "dataChange": True}},
    ]


def test_torn_commit_every_truncation_is_invisible(tmp_path):
    """A commit file truncated at ANY byte boundary — including exactly
    at a line boundary, which parses line-by-line — must read as
    not-yet-committed, never as a parse error and never as a
    half-applied version. The head commitInfo's txnActionCount stamp is
    what catches line-boundary prefixes."""
    from cql_replicator_spark import dlog

    d = str(tmp_path / "t")
    dlog._publish_commit(d, 0, _pc_actions(0), adds=[])
    dlog._publish_commit(d, 1, _pc_actions(1), adds=[])
    tbl = DeltaLogTable(d)
    assert tbl.versions() == [0, 1]
    v0_live, _ = tbl._replay(0)
    v1_file = os.path.join(d, "_delta_log", f"{1:020d}.json")
    with open(v1_file, "rb") as f:
        full = f.read()

    for cut in range(len(full)):
        with open(v1_file, "wb") as f:
            f.write(full[:cut])
        vs = tbl.versions()
        if cut == 0:
            # zero bytes = in-flight claim
            assert vs == [0], cut
        else:
            assert vs == [0], (cut, "torn prefix must stay invisible")
        live, _ = tbl._replay(0)
        assert live == v0_live, cut
        assert tbl.latest_version() == 0, cut

    with open(v1_file, "wb") as f:
        f.write(full)
    assert tbl.versions() == [0, 1]
    live, _ = tbl._replay(1)
    # _pc_actions has no removes, so v1's state is the add union
    assert set(live) == {"part-v0-a.parquet", "part-v0-b.parquet",
                         "part-v1-a.parquet", "part-v1-b.parquet"}


def test_middle_version_gap_raises_corrupt_not_half_applied(tmp_path):
    """A torn MIDDLE version cannot be skipped: replay past it would
    half-apply the log (the hole's removes/adds are lost), so it must
    raise CorruptCommitError loudly. Versions before the hole stay
    readable."""
    import pytest as _pytest

    from cql_replicator_spark import dlog
    from cql_replicator_spark.dlog import CorruptCommitError

    d = str(tmp_path / "t")
    for v in range(3):
        dlog._publish_commit(d, v, _pc_actions(v), adds=[])
    tbl = DeltaLogTable(d)
    v1_file = os.path.join(d, "_delta_log", f"{1:020d}.json")
    with open(v1_file, "rb") as f:
        full = f.read()
    with open(v1_file, "wb") as f:
        f.write(full[: len(full) // 2])

    assert tbl.versions() == [0, 2]
    with _pytest.raises(CorruptCommitError, match="gap"):
        tbl._replay(2)
    live, _ = tbl._replay(0)  # before the hole: still consistent
    assert set(live) == {"part-v0-a.parquet", "part-v0-b.parquet"}


def test_torn_version_zero_is_a_gap_too(tmp_path):
    """r10 advisor: the gap check compared only consecutive PRESENT
    versions, so a torn/corrupt version 0 slipped through — versions()
    silently excludes it, replayed=[1..N] has no internal gap, and
    replay proceeded without v0's protocol/metaData (schemaString lost;
    for foreign append-shaped logs, v0's adds silently dropped). A
    missing PREFIX must raise CorruptCommitError like a missing middle."""
    from cql_replicator_spark import dlog
    from cql_replicator_spark.dlog import CorruptCommitError

    d = str(tmp_path / "t")
    for v in range(3):
        dlog._publish_commit(d, v, _pc_actions(v), adds=[])
    tbl = DeltaLogTable(d)
    v0_file = os.path.join(d, "_delta_log", f"{0:020d}.json")
    with open(v0_file, "rb") as f:
        full = f.read()
    with open(v0_file, "wb") as f:
        f.write(full[: len(full) // 2])

    assert tbl.versions() == [1, 2]  # torn v0 excluded, no internal gap
    for v in (1, 2):
        with pytest.raises(CorruptCommitError, match="gap"):
            tbl._replay(v)
    # restore v0: replay consistent again
    with open(v0_file, "wb") as f:
        f.write(full)
    live, _ = tbl._replay(2)
    assert set(live) == {f"part-v{v}-{s}.parquet"
                         for v in range(3) for s in "ab"}


def test_double_reclaim_cannot_delete_published_commit(tmp_path):
    """r10 advisor: stale-claim reclaim was stat-then-unlink — two
    writers both classify the same stale claim, rival A reclaims,
    claims, and PUBLISHES a complete commit, then B's already-decided
    unlink deletes A's published commit and B republishes the version:
    both report success, A's commit silently lost. Reclaim now renames
    to a unique name (only one renamer wins) and verifies by inode
    identity that it renamed the file it classified; a stolen live file
    is restored put-if-absent and B loses cleanly."""
    from cql_replicator_spark import dlog
    from cql_replicator_spark.dlog import ConcurrentCommitError

    d = str(tmp_path / "t")
    dlog._publish_commit(d, 0, _pc_actions(0), adds=[])
    v1_file = os.path.join(d, "_delta_log", f"{1:020d}.json")
    # the crashed stale claim both writers classify
    open(v1_file, "w").close()
    old = time.time() - dlog._CLAIM_STALE_SECS - 5
    os.utime(v1_file, (old, old))

    rival_actions = _pc_actions(1)

    def rival_wins_in_the_window():
        # writer A: reclaims the stale claim and publishes v1 between
        # B's classification and B's reclaim rename
        dlog._reclaim_race_hook = None  # A must not recurse
        dlog._publish_commit(d, 1, rival_actions, adds=[])

    dlog._reclaim_race_hook = rival_wins_in_the_window
    try:
        with pytest.raises(ConcurrentCommitError):
            dlog._publish_commit(d, 1, _pc_actions(99), adds=[])
    finally:
        dlog._reclaim_race_hook = None

    # A's published commit survives B's reclaim attempt intact
    tbl = DeltaLogTable(d)
    assert tbl.versions() == [0, 1]
    live, _ = tbl._replay(1)
    assert "part-v1-a.parquet" in live and "part-v99-a.parquet" not in live
    # and no stolen copy left behind (restore succeeded on this path)
    log_names = os.listdir(os.path.join(d, "_delta_log"))
    assert not [n for n in log_names if ".reclaim." in n]


def test_fresh_torn_file_blocks_commit_until_stale(tmp_path):
    """A torn commit file at the target version behaves like a claim:
    fresh -> the version is contended, a racing writer loses cleanly;
    stale -> reclaimed and the version is re-committable."""
    import pytest as _pytest

    from cql_replicator_spark import dlog
    from cql_replicator_spark.dlog import ConcurrentCommitError

    d = str(tmp_path / "t")
    dlog._publish_commit(d, 0, _pc_actions(0), adds=[])
    v1_file = os.path.join(d, "_delta_log", f"{1:020d}.json")
    with open(v1_file, "w") as f:
        f.write('{"commitInfo": {"txnActionCount": 99}}\n{"add"')  # torn

    with _pytest.raises(ConcurrentCommitError):
        dlog._publish_commit(d, 1, _pc_actions(1), adds=[])

    old = time.time() - 10 * 60
    os.utime(v1_file, (old, old))
    dlog._publish_commit(d, 1, _pc_actions(1), adds=[])
    tbl = DeltaLogTable(d)
    assert tbl.versions() == [0, 1]
    live, _ = tbl._replay(1)
    assert {"part-v1-a.parquet", "part-v1-b.parquet"} <= set(live)


def test_crash_injected_committer_never_tears(tmp_path):
    """Kill a real committer PROCESS at each publish step, on both the
    hard-link and the linkless (O_EXCL claim + replace) paths. After
    every crash: readers see exactly the previous version or the
    complete new one, and the version is recoverable (re-committable
    once any leftover claim is stale)."""
    import subprocess
    import sys as _sys

    from cql_replicator_spark import dlog

    worker = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "dlog_torn_worker.py")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    cases = [
        ("tmp_partial", False, False),   # dies mid-tmp-write
        ("before_link", False, False),   # dies before the link lands
        ("after_link", False, True),     # dies after: commit is visible
        ("before_link", True, False),    # fallback: dies holding a claim
        ("after_link", True, True),      # fallback: replace landed
    ]
    for crash_at, fallback, committed in cases:
        d = str(tmp_path / f"t_{crash_at}_{fallback}")
        dlog._publish_commit(d, 0, _pc_actions(0), adds=[])
        cmd = [_sys.executable, worker, "--table", d, "--version", "1",
               "--crash-at", crash_at]
        if fallback:
            cmd.append("--fallback")
        p = subprocess.run(cmd, cwd=repo, capture_output=True, timeout=60)
        assert p.returncode == 1, (crash_at, fallback, p.stderr.decode())

        tbl = DeltaLogTable(d)
        if committed:
            assert tbl.versions() == [0, 1], (crash_at, fallback)
            live, _ = tbl._replay(1)
            assert {"part-v1-a.parquet", "part-v1-b.parquet"} <= set(live)
            continue
        # crash before the commit point: v1 invisible, v0 intact
        assert tbl.versions() == [0], (crash_at, fallback)
        live, _ = tbl._replay(0)
        assert set(live) == {"part-v0-a.parquet", "part-v0-b.parquet"}
        # recovery: once any leftover claim/torn file is stale, the
        # version is re-committable by the next writer
        v1_file = os.path.join(d, "_delta_log", f"{1:020d}.json")
        if os.path.exists(v1_file):
            old = time.time() - 10 * 60
            os.utime(v1_file, (old, old))
        dlog._publish_commit(d, 1, _pc_actions(1), adds=[])
        assert tbl.versions() == [0, 1], (crash_at, fallback)


def test_sigkill_chaos_committer_invariants_hold(tmp_path):
    """Randomized kill-at-a-random-moment chaos: a committer process
    whose publish steps are time-stretched is SIGKILLed at a uniform
    random delay, 16 times. Whatever instant the kill lands on, the
    invariant must hold: the log lists exactly [0] or [0, 1], every
    listed version replays without a parse error, and the table is
    always recoverable (v1 re-committable after staleness). This is
    the nondeterministic companion to the deterministic injection
    points above — any kill timing that violates the invariant fails."""
    import random
    import signal
    import subprocess
    import sys as _sys

    from cql_replicator_spark import dlog

    worker = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "dlog_torn_worker.py")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rng = random.Random(0xD106)

    # calibrate the kill window to THIS host: one un-killed worker run
    # measures wall time W (python startup dominates); kills then land
    # uniformly in (0, W), so the window always straddles the publish
    # path regardless of host speed
    cal = str(tmp_path / "chaos_cal")
    dlog._publish_commit(cal, 0, _pc_actions(0), adds=[])
    t0 = time.perf_counter()
    subprocess.run(
        [_sys.executable, worker, "--table", cal, "--version", "1",
         "--crash-at", "none", "--spin", "0.05"],
        cwd=repo, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        timeout=60, check=True)
    wall = time.perf_counter() - t0

    outcomes = {"committed": 0, "absent": 0}
    for i in range(16):
        d = str(tmp_path / f"chaos_{i}")
        dlog._publish_commit(d, 0, _pc_actions(0), adds=[])
        p = subprocess.Popen(
            [_sys.executable, worker, "--table", d, "--version", "1",
             "--crash-at", "none", "--spin", "0.05"],
            cwd=repo, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        time.sleep(rng.uniform(0.0, wall))
        p.send_signal(signal.SIGKILL)
        p.wait(timeout=30)

        tbl = DeltaLogTable(d)
        vs = tbl.versions()
        assert vs in ([0], [0, 1]), (i, vs)
        for v in vs:
            live, _ = tbl._replay(v)  # never a parse error
            assert f"part-v{v}-a.parquet" in live, (i, v)
        if vs == [0, 1]:
            outcomes["committed"] += 1
            continue
        outcomes["absent"] += 1
        v1_file = os.path.join(d, "_delta_log", f"{1:020d}.json")
        if os.path.exists(v1_file):
            old = time.time() - 10 * 60
            os.utime(v1_file, (old, old))
        dlog._publish_commit(d, 1, _pc_actions(1), adds=[])
        assert tbl.versions() == [0, 1], i
    # the kill window spans the whole publish path, so both outcomes
    # should occur across 16 trials; if not, the stretch/delay tuning
    # rotted and the test is no longer exercising the boundary
    assert outcomes["committed"] >= 1 and outcomes["absent"] >= 1, outcomes


def test_suspended_claimant_aborts_instead_of_clobbering(tmp_path, monkeypatch):
    """The r9-documented residual, now closed to a microsecond window:
    writer A claims version 1 on the linkless fallback, is suspended
    past the staleness horizon, and a rival B legitimately reclaims the
    stale claim and PUBLISHES version 1. When A resumes, its pre-rename
    ownership re-check must see foreign content and abort with
    ConcurrentCommitError (cleaning up A's part files) — never rename
    over B's published commit."""
    from cql_replicator_spark import dlog
    from cql_replicator_spark.dlog import ConcurrentCommitError

    d = str(tmp_path / "t")
    dlog._publish_commit(d, 0, _pc_actions(0), adds=[])
    v1_file = os.path.join(d, "_delta_log", f"{1:020d}.json")

    def no_link(src, dst):
        raise PermissionError("no hard links")

    monkeypatch.setattr(os, "link", no_link)

    def simulate_suspension_and_rival():
        # A is "suspended" here with its token claim on disk: age the
        # claim past the staleness horizon, then run B's full commit
        # (B reclaims the stale claim and publishes version 1)
        old = time.time() - dlog._CLAIM_STALE_SECS - 5
        os.utime(v1_file, (old, old))
        dlog._claim_check_hook = None  # B must not recurse into the hook
        b_actions = [
            {"commitInfo": {"timestamp": 2, "operation": "WRITE"}},
            {"add": {"path": "part-B.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 2, "dataChange": True}},
        ]
        dlog._publish_commit(d, 1, b_actions, adds=[])

    monkeypatch.setattr(dlog, "_claim_check_hook",
                        simulate_suspension_and_rival)
    # A's part file is already moved into the table root (the real
    # commit path moves parts before publishing) — the abort must
    # clean it up
    a_part = os.path.join(d, "part-A.parquet")
    with open(a_part, "w") as f:
        f.write("x")
    a_actions = [
        {"commitInfo": {"timestamp": 1, "operation": "WRITE"}},
        {"add": {"path": "part-A.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 1, "dataChange": True}},
    ]
    with pytest.raises(ConcurrentCommitError, match="version 1"):
        dlog._publish_commit(d, 1, a_actions,
                             adds=[{"add": {"path": "part-A.parquet"}}])

    # B's commit survives byte-for-byte semantics: version 1 is B's
    tbl = DeltaLogTable(d)
    assert tbl.versions() == [0, 1]
    live, _ = tbl._replay(1)
    assert "part-B.parquet" in live and "part-A.parquet" not in live
    assert not os.path.exists(a_part), "loser's part file leaked"


def test_commit_complete_is_total_on_arbitrary_bytes(tmp_path):
    """_commit_complete classifies, never raises: random bytes,
    truncated JSON, binary garbage, huge single lines — every input
    maps to a bool (readers must never crash on a corrupt log file,
    the media-parser totality rule applied to the commit log)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from cql_replicator_spark.dlog import _commit_complete

    p = str(tmp_path / "blob.json")

    @settings(max_examples=150, deadline=None, derandomize=True)
    @given(data=st.binary(max_size=512))
    def check(data):
        with open(p, "wb") as f:
            f.write(data)
        assert _commit_complete(p) in (True, False)

    check()
    # and the stamped-complete / torn classifications stay pinned
    with open(p, "w") as f:
        f.write('{"commitInfo": {"txnActionCount": 2}}\n{"add": {}}\n')
    assert _commit_complete(p) is True
    with open(p, "w") as f:
        f.write('{"commitInfo": {"txnActionCount": 3}}\n{"add": {}}\n')
    assert _commit_complete(p) is False  # a whole line is missing
    assert _commit_complete(str(tmp_path / "nope.json")) is False


def test_vacuum_sweeps_aged_preserved_copies(tmp_path):
    """The reclaim/vacuum restore-failure paths leave .reclaim./.vacuum.
    copies on disk rather than destroy possibly-committed bytes, but
    nothing aged them out — versions() and the data scan ignore those
    names, so repeated contention accumulated them forever. vacuum()
    now sweeps copies older than _PRESERVED_SWEEP_SECS after
    re-checking the state each copy was preserving: redundant and
    never-committed copies are deleted, a copy that is the ONLY
    surviving bytes of referenced state is restored (put-if-absent),
    fresh copies and copies shadowed by a live in-flight claim are
    left for the next sweep."""
    from cql_replicator_spark import dlog as D

    d = str(tmp_path / "t")
    D._publish_commit(d, 0, _pc_actions(0), adds=[])
    D._publish_commit(d, 1, _pc_actions(1), adds=[])
    tbl = DeltaLogTable(d)
    log_dir = os.path.join(d, "_delta_log")
    aged = time.time() - D._PRESERVED_SWEEP_SECS - 5

    def plant(path, content, old=True):
        with open(path, "w") as f:
            f.write(content)
        if old:
            os.utime(path, (aged, aged))

    # the live data files the retained commits reference (fresh mtime
    # so the main vacuum loop is exercised realistically)
    for v in (0, 1):
        for s in ("a", "b"):
            plant(os.path.join(d, f"part-v{v}-{s}.parquet"), "DATA",
                  old=False)

    # (a) data copy whose base exists live -> redundant, swept
    plant(os.path.join(d, "part-v1-a.parquet.vacuum.1.aa"), "old")
    # (b) data copy that is the only surviving bytes of a referenced
    #     file -> restored, not deleted
    os.unlink(os.path.join(d, "part-v0-b.parquet"))
    plant(os.path.join(d, "part-v0-b.parquet.vacuum.2.bb"), "ONLYCOPY")
    # (c) copy of a file no commit ever referenced -> swept
    plant(os.path.join(d, "part-ghost.parquet.vacuum.3.cc"), "ghost")
    # (d) fresh copy -> untouched until it ages
    plant(os.path.join(d, "part-v1-b.parquet.vacuum.4.dd"), "fresh",
          old=False)
    # (e) log copy whose slot holds a COMPLETE commit -> a winner
    #     published; the preserved loser is swept
    plant(os.path.join(log_dir,
                       "00000000000000000000.json.reclaim.5.ee"), "lost")
    # (f) log copy whose slot is EMPTY -> restored put-if-absent
    commit2 = (
        '{"commitInfo": {"timestamp": 1, "operation": "WRITE",'
        ' "txnActionCount": 2}}\n'
        '{"add": {"path": "part-v1-a.parquet", "partitionValues": {},'
        ' "size": 1, "modificationTime": 1, "dataChange": true}}\n')
    plant(os.path.join(log_dir,
                       "00000000000000000002.json.reclaim.6.ff"), commit2)
    # (g) log copy shadowed by a live (incomplete) claim in the slot ->
    #     not resolved yet, left alone
    plant(os.path.join(log_dir, "00000000000000000003.json"), "",
          old=False)
    plant(os.path.join(log_dir,
                       "00000000000000000003.json.reclaim.7.gg"), "wait")

    removed = tbl.vacuum(retain_versions=5)
    # return contract unchanged: only data-file names, no copy names
    assert all(n.endswith(".parquet") for n in removed)

    left_root = sorted(n for n in os.listdir(d) if ".vacuum." in n)
    left_log = sorted(n for n in os.listdir(log_dir) if ".reclaim." in n)
    assert left_root == ["part-v1-b.parquet.vacuum.4.dd"], left_root
    assert left_log == ["00000000000000000003.json.reclaim.7.gg"], left_log
    # (b) restored: the referenced bytes survive under the real name
    with open(os.path.join(d, "part-v0-b.parquet")) as f:
        assert f.read() == "ONLYCOPY"
    # (f) restored: version 2 is a complete commit again
    assert tbl.versions() == [0, 1, 2]
    # (a)/(c)/(e) gone, bases untouched
    assert os.path.exists(os.path.join(d, "part-v1-a.parquet"))
    assert not os.path.exists(os.path.join(d, "part-ghost.parquet"))

    # idempotent: a second vacuum changes nothing further
    tbl.vacuum(retain_versions=5)
    assert sorted(n for n in os.listdir(d) if ".vacuum." in n) == left_root
    assert sorted(
        n for n in os.listdir(log_dir) if ".reclaim." in n) == left_log


def test_preserved_copy_sweep_concurrent_vacuums(tmp_path):
    """The sweep's restore is put-if-absent (link / O_EXCL fallback),
    so any number of CONCURRENT vacuums must resolve a field of aged
    preserved copies to exactly the same end state a single vacuum
    would: the only-surviving-bytes copy restored exactly once with
    content intact, every redundant/never-committed copy deleted, the
    slot-missing log copy republished exactly once, and no crash —
    even when several copies of the SAME base race their restores."""
    import threading

    from cql_replicator_spark import dlog as D

    for trial in range(5):
        d = str(tmp_path / f"t{trial}")
        D._publish_commit(d, 0, _pc_actions(0), adds=[])
        D._publish_commit(d, 1, _pc_actions(1), adds=[])
        tbl = DeltaLogTable(d)
        log_dir = os.path.join(d, "_delta_log")
        aged = time.time() - D._PRESERVED_SWEEP_SECS - 5

        def plant(path, content):
            with open(path, "w") as f:
                f.write(content)
            os.utime(path, (aged, aged))

        # live data for v1; v0's part-v0-b exists ONLY as three racing
        # preserved copies (same bytes — parts are immutable)
        for s in ("a", "b"):
            plant(os.path.join(d, f"part-v1-{s}.parquet"), "DATA")
        plant(os.path.join(d, "part-v0-a.parquet"), "DATA")
        for i in range(3):
            plant(os.path.join(d, f"part-v0-b.parquet.vacuum.{i}.r{i}"),
                  "ONLYCOPY")
        # redundant + ghost copies
        plant(os.path.join(d, "part-v1-a.parquet.vacuum.9.zz"), "old")
        plant(os.path.join(d, "part-ghost.parquet.vacuum.8.yy"), "ghost")
        # log copies: one lost-race (slot complete), two racing
        # restores of an empty slot (version 2)
        plant(os.path.join(
            log_dir, "00000000000000000001.json.reclaim.1.aa"), "lost")
        commit2 = (
            '{"commitInfo": {"timestamp": 1, "operation": "WRITE",'
            ' "txnActionCount": 2}}\n'
            '{"add": {"path": "part-v1-a.parquet", "partitionValues":'
            ' {}, "size": 1, "modificationTime": 1, "dataChange":'
            ' true}}\n')
        for i in range(2):
            plant(os.path.join(
                log_dir,
                f"00000000000000000002.json.reclaim.{i}.s{i}"), commit2)

        errors: list[BaseException] = []

        def run():
            try:
                tbl.vacuum(retain_versions=5)
            except BaseException as e:  # noqa: BLE001
                errors.append(e)

        threads = [threading.Thread(target=run) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
            assert not t.is_alive()
        assert not errors, errors[:3]

        with open(os.path.join(d, "part-v0-b.parquet")) as f:
            assert f.read() == "ONLYCOPY", trial
        assert not [n for n in os.listdir(d) if ".vacuum." in n], trial
        assert not [n for n in os.listdir(log_dir)
                    if ".reclaim." in n], trial
        assert tbl.versions() == [0, 1, 2], trial
        assert not os.path.exists(os.path.join(d, "part-ghost.parquet"))


def test_sweep_restores_log_copy_before_classifying_data_copies(tmp_path):
    """Cross-kind dependency in the preserved-copy sweep: a preserved
    LOG copy can hold the ONLY reference to a data file whose only
    bytes are a preserved DATA copy (both left by restore failures in
    different epochs). The sweep must restore commits first — a
    data-first sweep would read the reference set without the missing
    commit, classify the data copy as never-committed, delete it, and
    then republish a commit referencing destroyed bytes."""
    from cql_replicator_spark import dlog as D

    d = str(tmp_path / "t")
    D._publish_commit(d, 0, _pc_actions(0), adds=[])
    tbl = DeltaLogTable(d)
    log_dir = os.path.join(d, "_delta_log")
    aged = time.time() - D._PRESERVED_SWEEP_SECS - 5

    def plant(path, content):
        with open(path, "w") as f:
            f.write(content)
        os.utime(path, (aged, aged))

    for s in ("a", "b"):  # v0's own files, live
        plant(os.path.join(d, f"part-v0-{s}.parquet"), "DATA")

    # commit 1 exists ONLY as a preserved log copy, and the file it
    # references exists ONLY as a preserved data copy
    commit1 = (
        '{"commitInfo": {"timestamp": 1, "operation": "WRITE",'
        ' "txnActionCount": 2}}\n'
        '{"add": {"path": "part-only-in-copy.parquet",'
        ' "partitionValues": {}, "size": 1, "modificationTime": 1,'
        ' "dataChange": true}}\n')
    plant(os.path.join(log_dir,
                       "00000000000000000001.json.reclaim.1.aa"), commit1)
    plant(os.path.join(d, "part-only-in-copy.parquet.vacuum.2.bb"),
          "PRECIOUS")

    tbl.vacuum(retain_versions=5)

    assert tbl.versions() == [0, 1]
    with open(os.path.join(d, "part-only-in-copy.parquet")) as f:
        assert f.read() == "PRECIOUS"
    live, _ = tbl._replay(1)
    assert "part-only-in-copy.parquet" in live
    assert not [n for n in os.listdir(d) if ".vacuum." in n]
    assert not [n for n in os.listdir(log_dir) if ".reclaim." in n]


def test_sweep_treats_zero_length_base_as_missing(tmp_path):
    """A crashed (or replace-failed) linkless-fs restorer leaves an
    EMPTY O_EXCL placeholder at the base path. The data pass used to
    read "base exists" off the placeholder and delete the only
    surviving copy of referenced bytes; it now detects the zero-length
    base by size and atomically replaces it with the preserved copy's
    content. A zero-length base of a NEVER-referenced file still just
    loses its copy (orphan's orphan)."""
    from cql_replicator_spark import dlog as D

    d = str(tmp_path / "t")
    D._publish_commit(d, 0, _pc_actions(0), adds=[])
    tbl = DeltaLogTable(d)
    aged = time.time() - D._PRESERVED_SWEEP_SECS - 5

    def plant(path, content, old=True):
        with open(path, "w") as f:
            f.write(content)
        if old:
            os.utime(path, (aged, aged))

    plant(os.path.join(d, "part-v0-a.parquet"), "DATA", old=False)
    # referenced base exists but is ZERO bytes (crashed placeholder);
    # the aged copy holds the only real bytes
    plant(os.path.join(d, "part-v0-b.parquet"), "", old=False)
    plant(os.path.join(d, "part-v0-b.parquet.vacuum.1.aa"), "ONLYCOPY")
    # never-referenced zero-length base + aged copy -> copy swept
    plant(os.path.join(d, "part-ghost.parquet"), "", old=False)
    plant(os.path.join(d, "part-ghost.parquet.vacuum.2.bb"), "ghost")

    tbl.vacuum(retain_versions=5)

    with open(os.path.join(d, "part-v0-b.parquet")) as f:
        assert f.read() == "ONLYCOPY"
    left = [n for n in os.listdir(d) if ".vacuum." in n]
    assert left == [], left


def test_restore_replace_failure_leaves_no_placeholder(tmp_path,
                                                       monkeypatch):
    """Linkless-fs restore is O_EXCL-create + os.replace. If the
    replace FAILS the placeholder must not survive as an empty base —
    a later sweep would classify the copy as redundant against it.
    The copy must survive the failed attempt and restore cleanly on
    the next sweep."""
    from cql_replicator_spark import dlog as D

    d = str(tmp_path / "t")
    D._publish_commit(d, 0, _pc_actions(0), adds=[])
    tbl = DeltaLogTable(d)
    aged = time.time() - D._PRESERVED_SWEEP_SECS - 5

    def plant(path, content, old=True):
        with open(path, "w") as f:
            f.write(content)
        if old:
            os.utime(path, (aged, aged))

    plant(os.path.join(d, "part-v0-a.parquet"), "DATA", old=False)
    # base missing; only bytes live in the aged copy
    copy = os.path.join(d, "part-v0-b.parquet.vacuum.1.aa")
    plant(copy, "ONLYCOPY")

    base = os.path.join(d, "part-v0-b.parquet")
    real_replace = os.replace
    failed = []

    def no_link(*a, **k):  # force the linkless fallback
        raise OSError("no hardlinks here")

    def flaky_replace(src, dst):
        if dst == base and not failed:
            failed.append(1)
            raise OSError("simulated replace failure")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "link", no_link)
    monkeypatch.setattr(os, "replace", flaky_replace)

    tbl.vacuum(retain_versions=5)
    # failed attempt: copy intact, no empty placeholder left behind
    assert os.path.exists(copy)
    assert not os.path.exists(base)

    tbl.vacuum(retain_versions=5)
    # second sweep restores for real
    with open(base) as f:
        assert f.read() == "ONLYCOPY"
    assert not os.path.exists(copy)


def test_restore_cleanup_never_deletes_refilled_base(tmp_path,
                                                     monkeypatch):
    """The failed-replace cleanup used to unlink dest unconditionally.
    If a RACING restorer published real bytes over our empty O_EXCL
    placeholder (consuming ITS copy) between our failed replace and
    the cleanup, that unlink destroyed the freshly restored base —
    with the racer's copy already consumed, referenced data was
    unrecoverable. The cleanup now re-stats dest and unlinks only a
    still-zero-length placeholder: a base holding bytes is never
    deleted, whatever the interleaving."""
    from cql_replicator_spark import dlog as D

    d = str(tmp_path / "t")
    D._publish_commit(d, 0, _pc_actions(0), adds=[])
    tbl = DeltaLogTable(d)
    aged = time.time() - D._PRESERVED_SWEEP_SECS - 5

    def plant(path, content, old=True):
        with open(path, "w") as f:
            f.write(content)
        if old:
            os.utime(path, (aged, aged))

    plant(os.path.join(d, "part-v0-a.parquet"), "DATA", old=False)
    copy = os.path.join(d, "part-v0-b.parquet.vacuum.1.aa")
    plant(copy, "ONLYCOPY")

    base = os.path.join(d, "part-v0-b.parquet")
    real_replace = os.replace
    failed = []

    def no_link(*a, **k):  # force the linkless fallback
        raise OSError("no hardlinks here")

    def racing_replace(src, dst):
        if dst == base and not failed:
            failed.append(1)
            # the racing restorer wins between our failed replace and
            # the cleanup: dest now holds REAL bytes (its copy consumed)
            with open(base, "w") as f:
                f.write("RACED")
            raise OSError("simulated replace failure")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "link", no_link)
    monkeypatch.setattr(os, "replace", racing_replace)

    tbl.vacuum(retain_versions=5)
    # the racer's restored bytes must survive our cleanup
    with open(base) as f:
        assert f.read() == "RACED"
    assert os.path.exists(copy)  # our copy untouched, retried next sweep

    tbl.vacuum(retain_versions=5)
    # next sweep sees the live base and classifies our copy redundant
    with open(base) as f:
        assert f.read() == "RACED"
    assert not os.path.exists(copy)
