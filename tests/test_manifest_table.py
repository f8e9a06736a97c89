"""The manifest table layer's whole value is what happens when a commit
DOESN'T finish — so these tests kill the commit at every stage boundary
and prove a reader always resolves a complete snapshot. Plus the
operational surface: time travel, vacuum GC, compaction commits, and
crash recovery by re-applying the same change batch."""

from __future__ import annotations

import os

import pytest

from silvia_spark.operators import manifest_table as mt
from tests.fab_manifest import write_manifest


def _base(spark):
    return spark.createDataFrame(
        [(1, "p1", 10.0), (2, "p1", 20.0), (3, "p1", 30.0),
         (4, "p2", 40.0), (5, "p2", 50.0), (6, "p3", 60.0)],
        "k BIGINT, part STRING, v DOUBLE")


def _chg(spark):
    # touches p1 (update), p2 (insert), p3 (full-partition delete)
    return spark.createDataFrame(
        [(1, "p1", 11.0, "U"), (9, "p2", 90.0, "I"),
         (6, "p3", None, "D")],
        "k BIGINT, part STRING, v DOUBLE, op STRING")


def _rows(df):
    return sorted((r.k, r.part, r.v) for r in df.collect())


MERGED = [(1, "p1", 11.0), (2, "p1", 20.0), (3, "p1", 30.0),
          (4, "p2", 40.0), (5, "p2", 50.0), (9, "p2", 90.0)]


def test_merge_commits_atomically_and_time_travels(spark, tmp_path):
    root = str(tmp_path / "t")
    assert mt.create_table(_base(spark), root, "part") == 1
    assert mt.commit_merge(spark, root, _chg(spark), ["k", "part"],
                           "part") == 2
    assert _rows(mt.read_snapshot(spark, root)) == MERGED
    # p3 is GONE from the snapshot (whole-partition atomic delete) but
    # its files are still on disk for time travel
    assert _rows(mt.read_snapshot(spark, root, version=1)) == _rows(
        _base(spark))
    assert os.listdir(os.path.join(root, "part=p3"))


def test_crash_before_pointer_flip_keeps_old_snapshot(spark, tmp_path,
                                                      monkeypatch):
    """Kill the commit BETWEEN manifest-write and pointer-flip: the
    reader must still resolve v1 complete (no partition half-merged),
    and re-applying the same batch must recover to a clean v2."""
    root = str(tmp_path / "t")
    mt.create_table(_base(spark), root, "part")

    real_flip = mt._flip_current

    def crash_flip(*a, **k):
        raise OSError("induced crash before pointer flip")

    monkeypatch.setattr(mt, "_flip_current", crash_flip)
    with pytest.raises(OSError):
        mt.commit_merge(spark, root, _chg(spark), ["k", "part"], "part")
    # the staged manifest exists, but no reader can see it
    assert mt.current_version(root) == 1
    assert _rows(mt.read_snapshot(spark, root)) == _rows(_base(spark))

    # recovery = re-apply the (idempotent, key-addressed) change batch
    monkeypatch.setattr(mt, "_flip_current", real_flip)
    assert mt.commit_merge(spark, root, _chg(spark), ["k", "part"],
                           "part") == 2
    assert _rows(mt.read_snapshot(spark, root)) == MERGED


@pytest.mark.full  # CI-mode only (suite-time budget)
def test_crash_mid_adopt_keeps_old_snapshot(spark, tmp_path, monkeypatch):
    """Kill the commit WHILE adopting staged files (some replacement
    files already sit inside live partition dirs): they are orphans —
    invisible to the reader, removed by vacuum."""
    root = str(tmp_path / "t")
    mt.create_table(_base(spark), root, "part")

    real_rename, n = os.rename, []

    def failing_rename(src, dst):
        n.append(src)
        if len(n) == 2:
            raise OSError("induced crash mid-adopt")
        real_rename(src, dst)

    monkeypatch.setattr(mt.os, "rename", failing_rename)
    with pytest.raises(OSError):
        mt.commit_merge(spark, root, _chg(spark), ["k", "part"], "part")
    monkeypatch.setattr(mt.os, "rename", real_rename)

    assert mt.current_version(root) == 1
    assert _rows(mt.read_snapshot(spark, root)) == _rows(_base(spark))
    # a FRESH orphaned adoptee is indistinguishable from a live commit's
    # mid-adoption file — vacuum must spare it inside the grace window
    assert mt.vacuum(root, keep_versions=1) == []
    # past the grace window it is a crashed commit's leftover: swept
    import time as _time

    old = _time.time() - mt._CLAIM_GRACE_SEC - 10
    for part_entry in os.listdir(root):
        pd = os.path.join(root, part_entry)
        if "=" in part_entry and os.path.isdir(pd):
            for fname in os.listdir(pd):
                os.utime(os.path.join(pd, fname), (old, old))
    deleted = mt.vacuum(root, keep_versions=1)
    assert deleted and all("part-" in d for d in deleted)
    assert _rows(mt.read_snapshot(spark, root)) == _rows(_base(spark))


def test_vacuum_retires_old_snapshots(spark, tmp_path):
    root = str(tmp_path / "t")
    mt.create_table(_base(spark), root, "part")
    mt.commit_merge(spark, root, _chg(spark), ["k", "part"], "part")

    deleted = mt.vacuum(root, keep_versions=1)
    assert deleted  # v1-only files (replaced p1 files, dropped p3) gone
    assert _rows(mt.read_snapshot(spark, root)) == MERGED
    with pytest.raises(FileNotFoundError):
        mt.read_snapshot(spark, root, version=1)
    # p3's dir disappeared entirely with its last file
    assert not os.path.exists(os.path.join(root, "part=p3"))


@pytest.mark.full  # CI-mode only (suite-time budget)
def test_compaction_commit_preserves_content_and_history(spark, tmp_path):
    root = str(tmp_path / "t")
    # many small files per partition: one per input slice
    mt.create_table(_base(spark).repartition(6), root, "part")
    v1_files = len(mt.load_manifest(root, 1)["files"])
    assert v1_files > 3  # genuinely fragmented

    assert mt.commit_compaction(spark, root, "part", target_files=1) == 2
    m2 = mt.load_manifest(root, 2)
    per_part: dict[str, int] = {}
    for e in m2["files"]:
        per_part[e["partition"]] = per_part.get(e["partition"], 0) + 1
    assert set(per_part.values()) == {1}
    assert _rows(mt.read_snapshot(spark, root)) == _rows(_base(spark))
    # pre-compaction layout still time-travels
    assert _rows(mt.read_snapshot(spark, root, version=1)) == _rows(
        _base(spark))
    # a second compaction is a no-op commit (already compact)
    assert mt.commit_compaction(spark, root, "part", target_files=1) == 2


def test_create_refuses_existing_table(spark, tmp_path):
    root = str(tmp_path / "t")
    mt.create_table(_base(spark), root, "part")
    with pytest.raises(FileExistsError):
        mt.create_table(_base(spark), root, "part")


@pytest.mark.full  # CI-mode only (suite-time budget)
def test_merge_with_int_partition_column(spark, tmp_path):
    """README's own example partitions by an INT day column. Manifest
    entries hold dir-name STRINGS; the touched-partition membership test
    must canonicalize the typed change values or every merge silently
    duplicates the touched partitions (old files kept AND new written)."""
    root = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, 1, 10.0), (2, 1, 20.0), (3, 2, 30.0), (4, 3, 40.0)],
        "k BIGINT, day INT, v DOUBLE")
    chg = spark.createDataFrame(
        [(1, 1, 11.0, "U"), (9, 2, 90.0, "I"), (4, 3, None, "D")],
        "k BIGINT, day INT, v DOUBLE, op STRING")
    mt.create_table(base, root, "day")
    assert mt.commit_merge(spark, root, chg, ["k", "day"], "day") == 2
    got = sorted((r.k, r.day, r.v)
                 for r in mt.read_snapshot(spark, root).collect())
    assert got == [(1, 1, 11.0), (2, 1, 20.0), (3, 2, 30.0), (9, 2, 90.0)]
    # and v1 still time-travels intact
    assert len(mt.read_snapshot(spark, root, version=1).collect()) == 4


def test_vacuum_rejects_zero_keep(spark, tmp_path):
    root = str(tmp_path / "t")
    mt.create_table(_base(spark), root, "part")
    with pytest.raises(ValueError):
        mt.vacuum(root, keep_versions=0)
    # table untouched
    assert _rows(mt.read_snapshot(spark, root)) == _rows(_base(spark))


@pytest.mark.full  # CI-mode only (suite-time budget)
def test_vacuum_survives_manifest_gap(spark, tmp_path):
    """A tighter earlier vacuum deletes old manifests; a later vacuum
    whose retention window covers the deleted version must skip it, not
    crash with FileNotFoundError."""
    root = str(tmp_path / "t")
    mt.create_table(_base(spark), root, "part")
    mt.commit_merge(spark, root, _chg(spark), ["k", "part"], "part")
    mt.vacuum(root, keep_versions=1)  # deletes the v1 manifest
    mt.vacuum(root, keep_versions=2)  # window covers the missing v1
    assert _rows(mt.read_snapshot(spark, root)) == MERGED


@pytest.mark.full  # CI-mode only (suite-time budget)
def test_append_txn_replay_is_exactly_once(spark, tmp_path):
    """commit_append's (app, batch_id) record is the streaming sink's
    exactly-once mechanism: re-delivering an already-committed batch
    (crash after pointer flip, before the checkpoint write) is a no-op,
    and the record survives an intervening MERGE commit."""
    root = str(tmp_path / "t")
    b0 = spark.createDataFrame([(1, "p1", 10.0)],
                               "k BIGINT, part STRING, v DOUBLE")
    b1 = spark.createDataFrame([(2, "p1", 20.0)],
                               "k BIGINT, part STRING, v DOUBLE")
    assert mt.commit_append(spark, root, b0, "part", txn=("q", 0)) == 1
    assert mt.commit_append(spark, root, b1, "part", txn=("q", 1)) == 2
    # replay of batch 1: no new version, no duplicate rows
    assert mt.commit_append(spark, root, b1, "part", txn=("q", 1)) == 2
    assert sorted(r.k for r in mt.read_snapshot(spark, root).collect()) \
        == [1, 2]
    # a MERGE between appends must carry the txn record forward
    chg = spark.createDataFrame([(1, "p1", 11.0, "U")],
                                "k BIGINT, part STRING, v DOUBLE, op STRING")
    assert mt.commit_merge(spark, root, chg, ["k", "part"], "part") == 3
    assert mt.commit_append(spark, root, b1, "part", txn=("q", 1)) == 3
    got = sorted((r.k, r.v) for r in mt.read_snapshot(spark, root).collect())
    assert got == [(1, 11.0), (2, 20.0)]


def test_concurrent_appends_all_commit(spark, tmp_path):
    """Optimistic concurrency: N threads appending distinct batches race
    version claims; every batch must land exactly once (lost claims
    rebase onto the winner's manifest and retry) and the final snapshot
    must carry them all."""
    from concurrent.futures import ThreadPoolExecutor

    root = str(tmp_path / "t")
    mt.create_table(_base(spark), root, "part")
    n = 6
    batches = [
        spark.createDataFrame([(100 + i, "p1", float(i))],
                              "k BIGINT, part STRING, v DOUBLE")
        for i in range(n)]

    def append(i):
        return mt.commit_append(spark, root, batches[i], "part",
                                txn=(f"w{i}", 0))

    with ThreadPoolExecutor(max_workers=n) as ex:
        versions = list(ex.map(append, range(n)))
    assert sorted(versions) == list(range(2, n + 2))
    got = sorted(r.k for r in mt.read_snapshot(spark, root).collect())
    assert got == sorted([1, 2, 3, 4, 5, 6] + [100 + i for i in range(n)])
    # every writer's txn record survived the races
    txn = mt.load_manifest(root)["txn"]
    assert txn == {f"w{i}": 0 for i in range(n)}


def test_read_changes_is_file_granular(spark, tmp_path):
    """read_changes(since) = files new since that snapshot: an appended
    batch delivers exactly its rows; same-version diff is empty with the
    snapshot's schema."""
    root = str(tmp_path / "t")
    mt.create_table(_base(spark), root, "part")
    b = spark.createDataFrame([(7, "p9", 70.0)],
                              "k BIGINT, part STRING, v DOUBLE")
    mt.commit_append(spark, root, b, "part")
    delta = mt.read_changes(spark, root, since=1)
    assert [(r.k, r.part, r.v) for r in delta.collect()] == [(7, "p9", 70.0)]
    empty = mt.read_changes(spark, root, since=2, to=2)
    assert empty.count() == 0
    assert set(empty.columns) == {"k", "part", "v"}


def test_stats_pruned_read_loses_nothing(spark, tmp_path):
    """The min/max index is conservative: a pruned read + residual
    filter equals the unpruned filter, statless files are kept, and the
    everything-pruned case yields an empty frame with the right schema."""
    root = str(tmp_path / "t")
    df = spark.range(100).selectExpr(
        "id AS k", "CAST(id % 2 AS STRING) AS part",
        "CAST(id AS DOUBLE) AS v")
    mt.create_table(df.repartitionByRange(5, "k"), root, "part",
                    stats_cols=["k"])
    m = mt.load_manifest(root)
    assert all("stats" in e and "rows" in e for e in m["files"])
    kept = mt.prune_entries(m["files"], {"k": (10, 29)})
    assert 0 < len(kept) < len(m["files"])
    got = sorted(r.k for r in
                 mt.read_snapshot(spark, root, prune={"k": (10, 29)})
                 .where("k BETWEEN 10 AND 29").collect())
    assert got == list(range(10, 30))
    # statless entries are conservatively kept
    bare = [{"path": "p", "partition": "x"}]
    assert mt.prune_entries(bare, {"k": (0, 1)}) == bare
    # fully-out-of-range: empty result, schema intact
    empty = mt.read_snapshot(spark, root, prune={"k": (1000, 2000)})
    assert empty.count() == 0
    assert set(empty.columns) == {"k", "part", "v"}
    # later commits keep collecting the established stat columns
    b = spark.createDataFrame([(500, "0", 5.0)],
                              "k BIGINT, part STRING, v DOUBLE")
    mt.commit_append(spark, root, b, "part")
    new = [e for e in mt.load_manifest(root)["files"]
           if e not in m["files"]]
    assert new and all(e["stats"]["k"] == [500, 500] for e in new)


def test_compaction_honors_target_files(spark, tmp_path):
    """target_files > 1 must actually split each rewritten partition:
    repartition(part_col) alone funnels a partition value into ONE task
    → one file, defeating the parameter's size-balancing purpose."""
    root = str(tmp_path / "t")
    big = spark.range(200).selectExpr(
        "id AS k", "CAST('p1' AS STRING) AS part", "CAST(id AS DOUBLE) AS v")
    mt.create_table(big.repartition(8), root, "part")
    assert len(mt.load_manifest(root, 1)["files"]) > 2

    assert mt.commit_compaction(spark, root, "part", target_files=2) == 2
    n_files = len(mt.load_manifest(root, 2)["files"])
    assert 1 < n_files <= 2, n_files
    got = sorted(r.k for r in mt.read_snapshot(spark, root).collect())
    assert got == list(range(200))


# --- claim-usurpation protocol (see _claim_survived) --------------------


def _fab_table(tmp_path):
    """Hand-built one-file table — the claim/vacuum protocol tests need
    no Spark data, only manifests and marker files."""
    root = str(tmp_path / "fab")
    os.makedirs(os.path.join(root, "part=p1"))
    with open(os.path.join(root, "part=p1", "f1.parquet"), "w") as f:
        f.write("x")
    write_manifest(
        root, 1, [{"path": "part=p1/f1.parquet", "partition": "p1",
                   "rows": 1}], parent=None)
    mt._flip_current(root, 1)
    return root


def test_vacuum_spares_inflight_claims(tmp_path):
    """An ahead-of-pointer manifest younger than the grace window is a
    LIVE optimistic claim: vacuum must keep it AND its adopted files
    (deleting either bricks the committer mid-flip). Past the window it
    is a crashed leftover and is reclaimed."""
    import time

    root = _fab_table(tmp_path)
    f2 = os.path.join(root, "part=p1", "f2.parquet")
    with open(f2, "w") as f:
        f.write("y")
    claim = [{"path": "part=p1/f1.parquet", "partition": "p1", "rows": 1},
             {"path": "part=p1/f2.parquet", "partition": "p1", "rows": 1}]
    write_manifest(root, 2, claim, parent=1, occ=True)

    assert mt.vacuum(root) == []
    assert os.path.exists(mt._manifest_path(root, 2))
    assert os.path.exists(f2)

    old = time.time() - mt._CLAIM_GRACE_SEC - 10
    os.utime(mt._manifest_path(root, 2), (old, old))
    assert mt.vacuum(root) == ["part=p1/f2.parquet"]
    assert not os.path.exists(mt._manifest_path(root, 2))
    assert not os.path.exists(f2)


def test_flip_aborts_on_vacuumed_claim(tmp_path):
    """If the claimed manifest is gone by flip time (vacuumed as a stale
    leftover), the flip must abort loudly — a pointer to a missing
    manifest would brick every subsequent read."""
    root = _fab_table(tmp_path)
    write_manifest(root, 2, [], parent=1, occ=True)
    os.remove(mt._manifest_path(root, 2))
    with pytest.raises(mt.CommitAborted):
        mt._flip_current(root, 2)
    assert mt.current_version(root) == 1


@pytest.mark.full  # CI-mode only (suite-time budget)
def test_usurped_append_claim_rebases_not_lost(spark, tmp_path,
                                               monkeypatch):
    """THE lost-batch race: an appender claims v2; before its flip a
    merge replaces the claim (crash-recovery presumption), commits its
    own v2, and flips. The appender must DETECT the usurpation after the
    flip and rebase onto v3 — both the merge and the append must be in
    the final snapshot."""
    root = str(tmp_path / "t")
    mt.create_table(_base(spark), root, "part")
    batch = spark.createDataFrame([(42, "p9", 420.0)],
                                  "k BIGINT, part STRING, v DOUBLE")
    real_flip = mt._flip_current
    fired = {}

    def usurping_flip(r, version, entries=None, **kw):
        if not fired:
            fired["v"] = version
            mt.commit_merge(spark, root, _chg(spark), ["k", "part"],
                            "part")
        return real_flip(r, version, entries, **kw)

    monkeypatch.setattr(mt, "_flip_current", usurping_flip)
    assert mt.commit_append(spark, root, batch, "part") == 3
    assert fired["v"] == 2  # the appender's first claim was indeed v2
    assert _rows(mt.read_snapshot(spark, root)) == sorted(
        MERGED + [(42, "p9", 420.0)])


def test_append_rereads_head_retired_before_load(spark, tmp_path,
                                                 monkeypatch):
    """commit_append's first head read races a vacuum: between its
    pointer read and its manifest load, another append moves the
    pointer on and vacuum retires the head it read. The append must
    re-read at the new pointer and land on top, not raise."""
    root = str(tmp_path / "t")
    mt.create_table(_base(spark), root, "part")
    other = spark.createDataFrame([(41, "p8", 410.0)],
                                  "k BIGINT, part STRING, v DOUBLE")
    batch = spark.createDataFrame([(42, "p9", 420.0)],
                                  "k BIGINT, part STRING, v DOUBLE")
    real_load = mt._load_doc
    fired = {}

    def retiring_load(r, version=None):
        if not fired and version == 1:
            fired["v"] = version
            monkeypatch.setattr(mt, "_load_doc", real_load)
            mt.commit_append(spark, root, other, "part")
            raise FileNotFoundError(f"v{version} retired by vacuum")
        return real_load(r, version)

    monkeypatch.setattr(mt, "_load_doc", retiring_load)
    assert mt.commit_append(spark, root, batch, "part") == 3
    assert fired["v"] == 1
    assert _rows(mt.read_snapshot(spark, root)) == sorted(
        _rows(_base(spark)) + [(41, "p8", 410.0), (42, "p9", 420.0)])


@pytest.mark.full  # CI-mode only (suite-time budget)
def test_usurped_merge_raises_not_silent(spark, tmp_path, monkeypatch):
    """Two single-writer commits racing is operator error, but it must
    surface as an explicit error on the loser — never a silently
    dropped merge."""
    root = str(tmp_path / "t")
    mt.create_table(_base(spark), root, "part")
    other = spark.createDataFrame([(99, "p1", 990.0, "I")],
                                  "k BIGINT, part STRING, v DOUBLE, "
                                  "op STRING")
    real_flip = mt._flip_current
    fired = {}

    def usurping_flip(r, version, entries=None, **kw):
        if not fired:
            fired["v"] = version
            mt.commit_merge(spark, root, other, ["k", "part"], "part")
        return real_flip(r, version, entries, **kw)

    monkeypatch.setattr(mt, "_flip_current", usurping_flip)
    # since the r12 file-level conflict detection, a usurped merge
    # whose rewrite set OVERLAPS the interposed commit's raises the
    # specific "merge conflict" error (the auto-rebase path handles
    # the disjoint case); the pre-r12 generic "lost v2" message
    # remains for usurpers outside the read set — either way the
    # loser errors LOUDLY, which is what this test pins (caught by
    # the r13 CI-mode run; r12 recorded no CI log, the exact gap the
    # r12 verdict's item 7 flagged)
    with pytest.raises(RuntimeError,
                       match="lost v2 to a concurrent|merge conflict"):
        mt.commit_merge(spark, root, _chg(spark), ["k", "part"], "part")
    # the usurper's snapshot is the committed one, fully consistent
    assert _rows(mt.read_snapshot(spark, root)) == sorted(
        _rows(_base(spark)) + [(99, "p1", 990.0)])


def test_usurped_create_raises_not_silent(spark, tmp_path, monkeypatch):
    """A creator's v1 claim replaced before its flip by a competing
    create_table (the crash-recovery presumption) must not report
    success: the loser raises FileExistsError and the usurper's rows
    are the table."""
    root = str(tmp_path / "t")
    other = spark.createDataFrame([(2, "p2", 2.0)],
                                  "k BIGINT, part STRING, v DOUBLE")
    real_flip = mt._flip_current
    fired = {}

    def usurping_flip(r, version, entries=None, **kw):
        if not fired:
            fired["v"] = version
            assert mt.create_table(other, root, "part") == 1
        return real_flip(r, version, entries, **kw)

    monkeypatch.setattr(mt, "_flip_current", usurping_flip)
    with pytest.raises(FileExistsError, match="lost v1"):
        mt.create_table(_base(spark), root, "part")
    assert fired["v"] == 1  # the loser's claim was indeed v1
    assert mt.current_version(root) == 1
    assert _rows(mt.read_snapshot(spark, root)) == [(2, "p2", 2.0)]


@pytest.mark.full  # CI-mode only (suite-time budget)
def test_crashed_create_is_reclaimed(spark, tmp_path):
    """A creator that crashed between manifest-write and pointer-flip
    leaves a v1 claim with no committed pointer — vacuum cannot run (no
    snapshot) so commit_append itself must wait out the flip window,
    presume the crash, and reclaim v1."""
    root = str(tmp_path / "t")
    os.makedirs(os.path.join(root, mt._MANIFESTS))
    write_manifest(root, 1, [{"path": "part=px/ghost.parquet",
                              "partition": "px", "rows": 1}],
                   parent=None, occ=True)
    batch = spark.createDataFrame([(1, "p1", 10.0)],
                                  "k BIGINT, part STRING, v DOUBLE")
    assert mt.commit_append(spark, root, batch, "part") == 1
    assert _rows(mt.read_snapshot(spark, root)) == [(1, "p1", 10.0)]


def test_reclaim_refuses_committed_version(tmp_path):
    """The crash-recovery reclaim must never delete a manifest whose
    version is already committed — the pointer would dangle and every
    read would break."""
    root = _fab_table(tmp_path)
    assert mt._reclaim_claim(root, 1) is False
    assert os.path.exists(mt._manifest_path(root, 1))
    write_manifest(root, 2, [], parent=1, occ=True)
    assert mt._reclaim_claim(root, 2) is True
    assert not os.path.exists(mt._manifest_path(root, 2))


@pytest.mark.full  # CI-mode only (suite-time budget)
def test_empty_reads_keep_partition_type(spark, tmp_path):
    """Empty results (fully-pruned read, no-change feed) must carry the
    SAME schema as non-empty reads: partition-type inference runs over
    one file per distinct value, so a numeric-looking value next to a
    string one still infers string, exactly like the full-list read."""
    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "1", 10.0), (2, "alpha", 20.0)],
        "k BIGINT, part STRING, v DOUBLE")
    mt.create_table(df, root, "part", stats_cols=["k"])
    full_schema = mt.read_snapshot(spark, root).schema
    empty = mt.read_snapshot(spark, root, prune={"k": (100, 200)})
    assert empty.count() == 0
    assert empty.schema == full_schema
    nochange = mt.read_changes(spark, root, since=1, to=1)
    assert nochange.schema == full_schema


@pytest.mark.full  # CI-mode only (suite-time budget)
def test_concurrent_append_merge_vacuum_stress(spark, tmp_path):
    """Live-thread stress of the whole claim protocol: appenders, a
    merger (retrying on explicit conflict errors), and a vacuum loop all
    race one table. Invariant: every ACKNOWLEDGED commit's rows are in
    the final snapshot — conflicts may surface as explicit retries,
    never as silent loss — and the final snapshot is readable."""
    import time
    from concurrent.futures import ThreadPoolExecutor

    root = str(tmp_path / "t")
    mt.create_table(_base(spark), root, "part")
    acks: dict[int, int] = {}

    def appender(i):
        b = spark.createDataFrame([(1000 + i, "p1", float(i))],
                                  "k BIGINT, part STRING, v DOUBLE")
        acks[i] = mt.commit_append(spark, root, b, "part",
                                   txn=(f"s{i}", 0))

    merged: list[int] = []

    def merger():
        chg = spark.createDataFrame([(2000, "p2", 7.0, "I")],
                                    "k BIGINT, part STRING, v DOUBLE, "
                                    "op STRING")
        for _ in range(8):
            try:
                merged.append(mt.commit_merge(spark, root, chg,
                                              ["k", "part"], "part"))
                return
            except (RuntimeError, FileExistsError):
                time.sleep(0.01)  # explicit conflict: rebase by re-run

    def vacuumer():
        for _ in range(6):
            mt.vacuum(root, keep_versions=2)
            time.sleep(0.02)

    with ThreadPoolExecutor(max_workers=7) as ex:
        futs = ([ex.submit(appender, i) for i in range(4)]
                + [ex.submit(merger), ex.submit(vacuumer)])
        for f in futs:
            f.result()

    rows = {r.k for r in mt.read_snapshot(spark, root).collect()}
    for i in acks:  # every acknowledged append is visible
        assert 1000 + i in rows, f"append {i} (v{acks[i]}) lost"
    if merged:  # the merge is visible iff it reported success
        assert 2000 in rows
    assert {1, 2, 3, 4, 5} <= rows  # untouched base keys intact


def test_merge_requires_part_col_in_keys(spark, tmp_path):
    """r08 ADVICE: keys omitting part_col would anti-join rows away in
    partitions the commit never rewrites — must be refused up front."""
    root = str(tmp_path / "t")
    mt.create_table(_base(spark), root, "part")
    with pytest.raises(ValueError, match="part_col"):
        mt.commit_merge(spark, root, _chg(spark), ["k"], "part")
    # nothing committed by the refused call
    assert mt.current_version(root) == 1


def test_vacuum_spares_commit_staged_mid_sweep(tmp_path, monkeypatch):
    """The r08 ADVICE race, tightened by the r09 locked-claim protocol:
    manifest claims now take the flip lock, so a claim can never land
    mid-vacuum at all (it blocks until the sweep finishes). ADOPTION is
    still lock-free — a committer's data file CAN land between triage
    and the file sweep, and the orphan mtime grace must spare it; the
    committer's subsequent claim + flip must then succeed."""
    root = _fab_table(tmp_path)
    real_listdir = os.listdir
    injected = []

    def listdir_hook(p):
        if p == os.path.join(root, "part=p1") and not injected:
            injected.append(True)
            # concurrent ADOPTION lands between triage and file sweep
            # (adoption takes no lock; the claim write now would block
            # on the flip lock vacuum holds — by design)
            with open(os.path.join(root, "part=p1", "f2.parquet"),
                      "w") as f:
                f.write("y")
        return real_listdir(p)

    monkeypatch.setattr(mt.os, "listdir", listdir_hook)
    assert mt.vacuum(root) == []
    monkeypatch.setattr(mt.os, "listdir", real_listdir)
    assert os.path.exists(os.path.join(root, "part=p1", "f2.parquet"))
    # the committer's claim + flip proceed once vacuum releases the lock
    write_manifest(
        root, 2,
        [{"path": "part=p1/f1.parquet", "partition": "p1", "rows": 1},
         {"path": "part=p1/f2.parquet", "partition": "p1", "rows": 1}],
        parent=1, occ=True)
    assert mt._flip_current(root, 2)
    assert mt.current_version(root) == 2


# --- segmented manifests + schema evolution (r09) ------------------------


def test_append_manifest_doc_is_o_batch_not_o_table(spark, tmp_path):
    """The r08 verdict's #1 item: a 1-file append must not rewrite the
    full entry list. v2 manifests hold segment DESCRIPTORS; an append
    adds one and carries the parent's by reference, so the doc on disk
    stays O(segments) and the parent's segment files are untouched."""
    root = str(tmp_path / "t")
    mt.create_table(_base(spark), root, "part")
    d1 = mt._load_doc(root)
    assert "files" not in d1 and len(d1["segments"]) == 1
    b = spark.createDataFrame([(10, "p1", 100.0)],
                              "k BIGINT, part STRING, v DOUBLE")
    assert mt.commit_append(spark, root, b, "part") == 2
    d2 = mt._load_doc(root)
    segs2 = {s["path"] for s in d2["segments"]}
    assert len(d2["segments"]) == 2
    # parent segment carried by REFERENCE (same descriptor path)
    assert d1["segments"][0]["path"] in segs2
    # and the resolved view still matches a full read
    assert len(mt.load_manifest(root)["files"]) == (
        d1["segments"][0]["count"] + 1)
    assert _rows(mt.read_snapshot(spark, root)) == sorted(
        _rows(_base(spark)) + [(10, "p1", 100.0)])


def test_merge_carries_untouched_segments_by_reference(spark, tmp_path):
    """A merge touching one partition must not read or rewrite segments
    fully outside it."""
    root = str(tmp_path / "t")
    mt.create_table(_base(spark), root, "part")
    # second segment entirely in p9
    b = spark.createDataFrame([(50, "p9", 500.0)],
                              "k BIGINT, part STRING, v DOUBLE")
    mt.commit_append(spark, root, b, "part")
    seg_p9 = [s for s in mt._load_doc(root)["segments"]
              if s["partitions"] == ["p9"]]
    assert len(seg_p9) == 1
    chg = spark.createDataFrame([(1, "p1", 11.0, "U")],
                                "k BIGINT, part STRING, v DOUBLE, "
                                "op STRING")
    mt.commit_merge(spark, root, chg, ["k", "part"], "part")
    d3 = mt._load_doc(root)
    assert seg_p9[0]["path"] in {s["path"] for s in d3["segments"]}
    got = _rows(mt.read_snapshot(spark, root))
    assert (1, "p1", 11.0) in got and (50, "p9", 500.0) in got


def test_segment_coalescing_bounds_manifest_size(spark, tmp_path,
                                                 monkeypatch):
    """Appends fold the smallest segments once the count passes
    _MAX_SEGMENTS — the manifest doc can never grow past O(bound)."""
    monkeypatch.setattr(mt, "_MAX_SEGMENTS", 4)
    root = str(tmp_path / "t")
    mt.create_table(_base(spark), root, "part")
    for i in range(8):
        b = spark.createDataFrame([(100 + i, "p1", float(i))],
                                  "k BIGINT, part STRING, v DOUBLE")
        mt.commit_append(spark, root, b, "part")
    d = mt._load_doc(root)
    assert len(d["segments"]) <= 4
    rows = _rows(mt.read_snapshot(spark, root))
    assert len(rows) == 6 + 8  # nothing lost across folds
    # vacuum after folding: orphaned pre-fold segment files get GC'd by
    # age, kept ones stay; content intact
    mt.vacuum(root, keep_versions=1)
    assert _rows(mt.read_snapshot(spark, root)) == rows


def test_schema_evolution_append_and_time_travel(spark, tmp_path):
    """r08 verdict item 2: an append carrying a NEW column commits; the
    evolved snapshot NULL-fills old files; the old snapshot still reads
    with its own schema; read_changes crosses the boundary with the new
    schema."""
    root = str(tmp_path / "t")
    mt.create_table(_base(spark), root, "part")
    b = spark.createDataFrame([(10, "p1", 100.0, "en")],
                              "k BIGINT, part STRING, v DOUBLE, "
                              "lang STRING")
    assert mt.commit_append(spark, root, b, "part") == 2

    v2 = mt.read_snapshot(spark, root)
    assert "lang" in v2.columns
    by_k = {r.k: r.lang for r in v2.collect()}
    assert by_k[10] == "en" and by_k[1] is None  # old files NULL-fill
    v1 = mt.read_snapshot(spark, root, version=1)
    assert "lang" not in v1.columns  # time travel keeps the old schema
    chg = mt.read_changes(spark, root, since=1)
    assert [(r.k, r.lang) for r in chg.collect()] == [(10, "en")]

    # a batch MISSING a data column also commits (NULL-filled)
    b2 = spark.createDataFrame([(11, "p1")], "k BIGINT, part STRING")
    assert mt.commit_append(spark, root, b2, "part") == 3
    r11 = [r for r in mt.read_snapshot(spark, root).collect()
           if r.k == 11][0]
    assert r11.v is None and r11.lang is None


def test_schema_evolution_policy_and_type_conflicts(spark, tmp_path):
    root = str(tmp_path / "t")
    mt.create_table(_base(spark), root, "part")
    extra = spark.createDataFrame([(10, "p1", 1.0, 5)],
                                  "k BIGINT, part STRING, v DOUBLE, "
                                  "n INT")
    with pytest.raises(mt.SchemaEvolutionError, match="evolve=False"):
        mt.commit_append(spark, root, extra, "part", evolve=False)
    retyped = spark.createDataFrame([(10, "p1", "oops")],
                                    "k BIGINT, part STRING, v STRING")
    with pytest.raises(mt.SchemaEvolutionError, match="type changes"):
        mt.commit_append(spark, root, retyped, "part")
    assert mt.current_version(root) == 1  # nothing committed


def test_legacy_manifest_fails_before_any_claim(spark, tmp_path):
    """Every reader and writer takes the one manifest format's keys as
    given: a doc in an older shape (inline ``files``, no segments,
    schema, part_col or ts) fails loudly at its first use — never read
    as an empty table — and a failing writer stages, claims and deletes
    nothing."""
    import json

    root = str(tmp_path / "t")
    mt.create_table(_base(spark), root, "part")
    files = mt.load_manifest(root, 1)["files"]
    with open(mt._manifest_path(root, 1), "w") as f:
        json.dump({"version": 1, "parent": None, "files": files}, f)

    def tree():
        return sorted(os.path.relpath(os.path.join(d, n), root)
                      for d, _, ns in os.walk(root) for n in ns)

    with open(os.path.join(root, mt._CURRENT)) as f:
        current = f.read()
    before = tree()
    b = spark.createDataFrame([(10, "p2", 100.0)],
                              "k BIGINT, part STRING, v DOUBLE")
    with pytest.raises(KeyError):
        mt.read_snapshot(spark, root)
    with pytest.raises(KeyError):
        mt.commit_append(spark, root, b, "part")
    with pytest.raises(KeyError):
        mt.vacuum(root)
    with open(os.path.join(root, mt._CURRENT)) as f:
        assert f.read() == current
    assert tree() == before


def test_vacuum_under_slow_reader(spark, tmp_path):
    """The retention contract (documented in vacuum's docstring +
    SCALE.md): a reader holding a resolved old-snapshot DataFrame is NOT
    protected from vacuum — Spark plans hold plain file lists, so
    re-executing after the snapshot is retired fails with missing
    inputs. keep_versions is the knob: sized over the reader's lifetime
    the same plan keeps working."""
    from py4j.protocol import Py4JJavaError

    root = str(tmp_path / "t")
    mt.create_table(_base(spark), root, "part")
    slow_reader = mt.read_snapshot(spark, root, version=1)
    assert len(slow_reader.collect()) == 6

    mt.commit_merge(spark, root, _chg(spark), ["k", "part"], "part")
    # retention sized over the reader's lifetime: the old plan still runs
    mt.vacuum(root, keep_versions=2)
    assert len(slow_reader.collect()) == 6
    # retention shorter than the reader: re-execution loudly fails
    mt.vacuum(root, keep_versions=1)
    with pytest.raises(Py4JJavaError):
        slow_reader.collect()


def test_sql_view_over_manifest_table(spark, tmp_path):
    """SQL read surface (r08 verdict item 7): snapshots registered as
    temp views are queryable via spark.sql, with time travel side by
    side, and hold snapshot isolation — a commit AFTER registration does
    not shift an already-registered view."""
    root = str(tmp_path / "t")
    mt.create_table(_base(spark), root, "part")
    mt.commit_merge(spark, root, _chg(spark), ["k", "part"], "part")

    mt.register_snapshot_view(spark, root, "tbl_cur")
    mt.register_snapshot_view(spark, root, "tbl_v1", version=1)
    got = spark.sql("""
        SELECT part, cur.n AS n_cur, v1.n AS n_v1
        FROM (SELECT part, count(*) AS n FROM tbl_cur GROUP BY part) cur
        FULL JOIN (SELECT part, count(*) AS n FROM tbl_v1
                   GROUP BY part) v1 USING (part)
        ORDER BY part
    """).collect()
    assert [(r.part, r.n_cur, r.n_v1) for r in got] == [
        ("p1", 3, 3), ("p2", 3, 2), ("p3", None, 1)]

    # snapshot isolation: a later commit doesn't shift the view
    late = spark.createDataFrame([(77, "p2", 770.0)],
                                 "k BIGINT, part STRING, v DOUBLE")
    mt.commit_append(spark, root, late, "part")
    assert spark.sql("SELECT count(*) AS n FROM tbl_cur"
                     ).collect()[0].n == 6
    # re-registering advances to the new snapshot
    mt.register_snapshot_view(spark, root, "tbl_cur")
    assert spark.sql("SELECT count(*) AS n FROM tbl_cur"
                     ).collect()[0].n == 7


def test_segment_rollup_voided_by_statless_entry(tmp_path):
    """r09 review finding: a segment's stats rollup must cover EVERY
    entry, else segment-level pruning drops files that per-entry pruning
    conservatively keeps."""
    root = str(tmp_path / "t")
    os.makedirs(os.path.join(root, mt._MANIFESTS))
    entries = [
        {"path": "part=p1/a.parquet", "partition": "p1", "rows": 1,
         "stats": {"x": [0, 10]}},
        {"path": "part=p1/b.parquet", "partition": "p1", "rows": 1},
    ]
    desc = mt._write_segment(root, entries)
    assert "stats" not in desc  # x is NOT fully covered — no rollup
    # a statless segment must never be skipped by the pruned read
    assert mt._seg_overlaps(desc, {"x": (50, 60)})
    # fully-covered columns still roll up
    desc2 = mt._write_segment(root, [
        {"path": "part=p1/c.parquet", "partition": "p1", "rows": 1,
         "stats": {"x": [0, 10]}},
        {"path": "part=p1/d.parquet", "partition": "p1", "rows": 1,
         "stats": {"x": [20, 30]}},
    ])
    assert desc2["stats"] == {"x": [0, 30]}
    assert not mt._seg_overlaps(desc2, {"x": (50, 60)})


def test_stale_committer_cannot_claim_passed_version(spark, tmp_path):
    """r09 review finding: a committer whose parent snapshot was passed
    AND whose target version was vacuum-retired must fail loudly — not
    re-create the retired manifest and report a commit that never
    became visible."""
    root = str(tmp_path / "t")
    mt.create_table(_base(spark), root, "part")
    stale_doc = mt._load_doc(root)  # parent = v1

    b = spark.createDataFrame([(10, "p1", 100.0)],
                              "k BIGINT, part STRING, v DOUBLE")
    mt.commit_append(spark, root, b, "part")   # v2
    mt.commit_append(spark, root, b.withColumn(
        "k", b.k + 1), "part")                 # v3
    mt.vacuum(root, keep_versions=1)           # retires v1, v2

    # the stale committer writes against its old parent: version 2
    with pytest.raises(FileExistsError, match="already committed"):
        mt._write_doc(root, 2, mt._make_doc(
            2, 1, [], commit_id="stale"), occ=True)
    assert not os.path.exists(mt._manifest_path(root, 2))


def test_adoption_refreshes_mtime_for_vacuum_grace(tmp_path):
    """r09 advice: os.rename preserves the staged file's WRITE-time
    mtime, so a commit whose staging ran longer than the grace window
    would adopt files already vacuum-eligible. move_in must refresh
    mtime so grace measures time-since-adoption."""
    import time

    from silvia_spark.operators.manifest_fs import LocalFS

    src = str(tmp_path / "staged.parquet")
    dst = str(tmp_path / "adopted.parquet")
    with open(src, "w") as f:
        f.write("x")
    old = time.time() - mt._CLAIM_GRACE_SEC - 120
    os.utime(src, (old, old))
    LocalFS().move_in(src, dst)
    assert time.time() - os.path.getmtime(dst) < 10


def test_write_doc_aborts_when_staged_files_vanished(tmp_path):
    """The belt behind the mtime fix: the claim write re-verifies its
    staged files exist UNDER the flip lock (the same lock vacuum holds
    for its whole sweep) — publishing a snapshot that references
    deleted files must be structurally impossible, not just unlikely."""
    root = _fab_table(tmp_path)
    entries = [{"path": "part=p1/f1.parquet", "partition": "p1",
                "rows": 1},
               {"path": "part=p1/ghost.parquet", "partition": "p1",
                "rows": 1}]
    with pytest.raises(mt.CommitAborted, match="vanished before"):
        mt._write_doc(root, 2, mt._make_doc(2, 1, [], commit_id="c"),
                      verify_paths=[e["path"] for e in entries])
    assert not os.path.exists(mt._manifest_path(root, 2))
    # with every file present the same claim lands
    mt._write_doc(root, 2, mt._make_doc(2, 1, [], commit_id="c"),
                  verify_paths=["part=p1/f1.parquet"])
    assert os.path.exists(mt._manifest_path(root, 2))


@pytest.mark.full  # CI-mode only (suite-time budget)
def test_creation_race_loser_backfills_stats(spark, tmp_path,
                                             monkeypatch):
    """r09 advice: the loser of the v1 creation race staged before
    stats_cols were knowable; its append-loop commit must backfill
    per-file min/max from the adopted footers so the table's pruning
    index is not silently degraded."""
    root = str(tmp_path / "t")
    mt.create_table(_base(spark), root, "part", stats_cols=["k"])

    # simulate the loser: current_version reports None ONCE (the append
    # takes the creation path and stages statless), then reality
    real_cv = mt.current_version
    calls = {"n": 0}

    def flaky_cv(r):
        calls["n"] += 1
        if calls["n"] == 1:
            return None
        return real_cv(r)

    monkeypatch.setattr(mt, "current_version", flaky_cv)
    b = spark.createDataFrame([(42, "p1", 420.0)],
                              "k BIGINT, part STRING, v DOUBLE")
    v = mt.commit_append(spark, root, b, "part")
    monkeypatch.setattr(mt, "current_version", real_cv)
    assert v == 2
    new = [e for e in mt.load_manifest(root)["files"] if e["rows"] == 1
           and e["partition"] == "p1"
           and e["path"] not in {x["path"] for x in
                                 mt.load_manifest(root, 1)["files"]}]
    assert new, "appended entry missing"
    assert all("stats" in e and "k" in e["stats"] for e in new), (
        "creation-race loser committed statless entries — the pruning "
        "index silently degraded")
    assert new[0]["stats"]["k"] == [42, 42]


@pytest.mark.full  # CI-mode only (suite-time budget)
def test_merge_rewrites_only_key_overlapping_files(spark, tmp_path):
    """Stats-pruned file-granular MERGE (r09 verdict item 2): in a
    touched partition, files whose per-file key [min, max] is disjoint
    from the change batch's key range must survive the merge
    byte-identical (carried by reference), and only overlapping files
    rewrite. A 1-row update to a hot partition must not rewrite the
    partition."""
    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(k, "p1", float(k)) for k in range(100)]
        + [(k, "p2", float(k)) for k in range(100)],
        "k BIGINT, part STRING, v DOUBLE")
    # 4 range-clustered files per partition, disjoint k bands
    mt.create_table(df.repartitionByRange(4, "k"), root, "part",
                    stats_cols=["k"])
    v1 = {e["path"]: os.path.getmtime(os.path.join(root, e["path"]))
          for e in mt.load_manifest(root)["files"]}
    assert len([p for p in v1 if p.startswith("part=p1/")]) == 4

    chg = spark.createDataFrame([(5, "p1", 555.0, "U")],
                                "k BIGINT, part STRING, v DOUBLE, "
                                "op STRING")
    assert mt.commit_merge(spark, root, chg, ["k", "part"], "part") == 2

    v2_paths = {e["path"] for e in mt.load_manifest(root)["files"]}
    survived = set(v1) & v2_paths
    # p2 untouched (4 files) + p1's 3 non-overlapping files carried
    assert len(survived) == 7, (
        f"expected 7 carried files, got {len(survived)}: the merge "
        "rewrote files whose key range cannot contain the change key")
    assert all(os.path.getmtime(os.path.join(root, p)) == v1[p]
               for p in survived), "carried files were rewritten on disk"
    rows = sorted((r.k, r.part, r.v)
                  for r in mt.read_snapshot(spark, root).collect())
    expect = sorted([(k, "p1", 555.0 if k == 5 else float(k))
                     for k in range(100)]
                    + [(k, "p2", float(k)) for k in range(100)])
    assert rows == expect

    # a DELETE whose key overlaps nothing prunes the whole rewrite:
    # every file carries, the snapshot is unchanged
    miss = spark.createDataFrame([(10**9, "p1", None, "D")],
                                 "k BIGINT, part STRING, v DOUBLE, "
                                 "op STRING")
    mt.commit_merge(spark, root, miss, ["k", "part"], "part")
    v3_paths = {e["path"] for e in mt.load_manifest(root)["files"]}
    assert v3_paths == v2_paths
    assert mt.read_snapshot(spark, root).count() == 200


@pytest.mark.full  # CI-mode only (suite-time budget)
def test_schema_widening_append_and_upcast_read(spark, tmp_path):
    """Type-widening evolution (r09 verdict item 6): an append whose
    shared column is WIDER in the same numeric family (int→bigint,
    float→double) widens the recorded schema; files written narrow
    upcast on read. Narrower batches after the widening commit under
    the wide schema unchanged; evolve=False refuses the widening;
    cross-family promotion still raises."""
    root = str(tmp_path / "t")
    narrow = spark.createDataFrame([(1, "p1", 1.5), (2, "p1", 2.5)],
                                   "k INT, part STRING, v FLOAT")
    mt.create_table(narrow, root, "part")

    wide = spark.createDataFrame([(3, "p1", 3.5)],
                                 "k BIGINT, part STRING, v DOUBLE")
    with pytest.raises(mt.SchemaEvolutionError, match="evolve=False"):
        mt.commit_append(spark, root, wide, "part", evolve=False)
    assert mt.commit_append(spark, root, wide, "part") == 2

    snap = mt.read_snapshot(spark, root)
    types = {f.name: f.dataType.simpleString() for f in snap.schema.fields}
    assert types["k"] == "bigint" and types["v"] == "double"
    rows = sorted((r.k, round(r.v, 1)) for r in snap.collect())
    assert rows == [(1, 1.5), (2, 2.5), (3, 3.5)]
    # time travel keeps v1's ORIGINAL narrow schema
    t1 = {f.name: f.dataType.simpleString()
          for f in mt.read_snapshot(spark, root, version=1).schema.fields}
    assert t1["k"] == "int" and t1["v"] == "float"

    # a narrower batch AFTER the widening is accepted, schema unchanged
    again = spark.createDataFrame([(4, "p1", 4.5)],
                                  "k INT, part STRING, v FLOAT")
    assert mt.commit_append(spark, root, again, "part") == 3
    snap3 = mt.read_snapshot(spark, root)
    assert {f.name: f.dataType.simpleString()
            for f in snap3.schema.fields} == {
        "k": "bigint", "v": "double", "part": "string"}
    assert snap3.count() == 4

    # cross-family promotion never merges
    bad = spark.createDataFrame([(5, "p1", 9)],
                                "k BIGINT, part STRING, v BIGINT")
    with pytest.raises(mt.SchemaEvolutionError, match="type changes"):
        mt.commit_append(spark, root, bad, "part")

    # the streaming source delivers pre-widening files upcast, and a
    # reader built on the widened schema accepts replayed old batches
    from silvia_spark.sources.manifest_stream import (ManifestStreamReader,
                                                      _table_schema)
    reader = ManifestStreamReader(_table_schema(root), {"path": root})
    parts = reader.partitions({"version": 0}, {"version": 1})
    import pyarrow as pa
    tbl = pa.Table.from_batches(
        [b for p in parts for b in reader.read(p)])
    assert str(tbl.schema.field("k").type) == "int64"
    assert sorted(tbl.column("k").to_pylist()) == [1, 2]


def test_vacuum_epoch_gates_claim_verification(tmp_path):
    """The O(1) fast path for _write_doc's staged-file verification:
    vacuum bumps a monotone epoch under the flip lock; a commit whose
    captured epoch is unchanged at claim time provably raced no sweep
    and skips the per-file probes, while a stale epoch forces the full
    check."""
    root = _fab_table(tmp_path)
    e0 = mt._vacuum_epoch(root)
    mt.vacuum(root)
    # TWO bumps per sweep (start and end): a lock-free epoch capture
    # landing between them still sees a change from either side
    assert mt._vacuum_epoch(root) == e0 + 2
    # matching epoch → per-file verification provably unnecessary,
    # skipped (the ghost path is NOT probed)
    mt._write_doc(root, 2, mt._make_doc(2, 1, [], commit_id="c"),
                  verify_paths=["part=p1/ghost.parquet"],
                  staged_epoch=e0 + 2)
    assert os.path.exists(mt._manifest_path(root, 2))
    mt._reclaim_claim(root, 2)
    # stale epoch (a vacuum ran since capture) → full check runs
    with pytest.raises(mt.CommitAborted, match="vanished before"):
        mt._write_doc(root, 2, mt._make_doc(2, 1, [], commit_id="c"),
                      verify_paths=["part=p1/ghost.parquet"],
                      staged_epoch=e0)


def test_prune_entries_decimal_bounds_are_numeric():
    """r10 advice (HIGH): str()-encoded decimal stats order
    lexicographically ('9.50' > '10.20'), so a file OVERLAPPING the
    merge's change-key range was treated as disjoint — commit_merge
    carried it by reference and its updates silently never applied.
    Decimal stats and query bounds are float-encoded (outward-widened)
    now, and mixed legacy encodings abstain from pruning entirely."""
    import decimal

    D = decimal.Decimal
    e = {"path": "p", "partition": "p1",
         "stats": {"k": [mt._stat_val(D("9.50"), -1),
                         mt._stat_val(D("9.75"), +1)]}}
    # the lexicographic trap: '9.50' > '10.20' pruned this overlap
    assert mt.prune_entries([e], {"k": (D("1.00"), D("10.20"))}) == [e]
    # genuinely disjoint decimal ranges still prune
    assert mt.prune_entries([e], {"k": (D("10.20"), D("20.00"))}) == []
    assert mt.prune_entries([e], {"k": (None, D("9.49"))}) == []
    # legacy str-encoded decimal stats vs a numeric bound: ABSTAIN
    # (keep), never order str against float
    legacy = {"path": "q", "partition": "p1",
              "stats": {"k": ["9.50", "9.75"]}}
    assert mt.prune_entries([legacy],
                            {"k": (D("10.20"), None)}) == [legacy]


def test_segment_rollup_drops_mixed_encoding_columns(tmp_path):
    """A segment coalescing legacy str-encoded decimal stats with the
    numeric encoding cannot order them — the rollup drops that column
    (segment pruning abstains) instead of raising or mis-ordering."""
    root = _fab_table(tmp_path)
    desc = mt._write_segment(root, [
        {"path": "part=p1/a.parquet", "partition": "p1", "rows": 1,
         "stats": {"k": ["9.50", "9.75"], "j": [1, 2]}},
        {"path": "part=p1/b.parquet", "partition": "p1", "rows": 1,
         "stats": {"k": [10.2, 20.0], "j": [3, 4]}},
    ])
    assert "k" not in desc.get("stats", {})
    assert desc["stats"]["j"] == [1, 4]


@pytest.mark.full  # CI-mode only (suite-time budget)
def test_decimal_merge_key_applies_updates(spark, tmp_path):
    """End-to-end form of the r10 HIGH advice: a decimal merge key in
    stats_cols, a file whose key min (9.50) lexicographically exceeds
    the change range's upper bound (10.20) — its update MUST land.
    This pyarrow build cannot decode decimal footer stats at all
    (_file_stats records the column statless), so the pruner keeps
    every decimal-key file conservatively — correct either way; the
    prune_entries unit test pins the numeric encoding for stats that do
    exist (e.g. written by another engine)."""
    import decimal

    D = decimal.Decimal
    base = spark.createDataFrame(
        [(D("9.50"), "p1", 1.0), (D("20.00"), "p1", 2.0)],
        "k DECIMAL(10,2), part STRING, v DOUBLE").repartitionByRange(
        2, "k")
    root = str(tmp_path / "t")
    mt.create_table(base, root, "part", stats_cols=["k"])
    v1 = mt._resolve(root, mt._load_doc(root, 1))
    assert len(v1) == 2  # one file per key — the setup the bug needs
    # decimal footer stats are undecodable in this pyarrow: recorded
    # statless, so pruning abstains (never the lexicographic trap)
    assert all("k" not in e.get("stats", {}) for e in v1)

    chg = spark.createDataFrame(
        [(D("1.00"), "p1", 100.0, "I"), (D("10.20"), "p1", 101.0, "I"),
         (D("9.50"), "p1", 9.99, "U")],
        "k DECIMAL(10,2), part STRING, v DOUBLE, op STRING")
    mt.commit_merge(spark, root, chg, ["k", "part"], "part")

    got = {(r.k, r.v) for r in mt.read_snapshot(spark, root).collect()}
    assert (D("9.50"), 9.99) in got, (
        "the 9.50 file was wrongly carried by reference — its update "
        "never applied (lexicographic decimal stats)")
    assert got == {(D("1.00"), 100.0), (D("9.50"), 9.99),
                   (D("10.20"), 101.0), (D("20.00"), 2.0)}


def test_flip_leaselost_defers_to_claim_survived(tmp_path, monkeypatch):
    """r10 advice (MEDIUM): LeaseLost from the fenced pointer write must
    not short-circuit the caller's _claim_survived fallback when the
    pointer has already advanced to our version — a takeover that
    adopted and flipped our claim means the commit IS durable, and a
    hard failure would make the application retry duplicate the batch.
    Only a pointer still BEHIND re-raises (indeterminate)."""
    root = _fab_table(tmp_path)
    claim = [{"path": "part=p1/f1.parquet", "partition": "p1",
              "rows": 1}]
    write_manifest(root, 2, claim, parent=1, occ=True)

    def takeover_then_leaselost(r, path, data, claim_path=None):
        mt.FS.put_atomic(path, data)  # the takeover flipped our claim
        raise mt.LeaseLost("stalled holder fenced out")

    monkeypatch.setattr(mt.FS, "put_fenced", takeover_then_leaselost)
    # pointer advanced to our version: False, and the caller's fallback
    # proves the commit
    assert mt._flip_current(root, 2, entries=claim) is False
    assert mt._claim_survived(root, 2, entries=claim)

    # pointer still behind the claimed version: genuinely indeterminate
    # (nothing became visible; _claim_survived's match would lie) —
    # re-raise
    write_manifest(root, 3, claim, parent=2, occ=True)

    def leaselost_only(r, path, data, claim_path=None):
        raise mt.LeaseLost("fenced, nothing flipped")

    monkeypatch.setattr(mt.FS, "put_fenced", leaselost_only)
    with pytest.raises(mt.LeaseLost):
        mt._flip_current(root, 3, entries=claim)
    assert mt.current_version(root) == 2


def test_one_row_delete_rewrites_zero_files(spark, tmp_path):
    """L21's headline property (r10 verdict item 1): a 1-row delete to
    a multi-partition, multi-file table rewrites ZERO data files — the
    tombstone lands in a delete-vector sidecar, the manifest re-points
    the one touched entry, and reads apply it as a broadcast anti-join.
    Copy-on-write (L18) rewrites every file whose key range covers the
    hit; merge-on-read writes a few bytes."""
    root = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(i, "p1" if i < 60 else "p2", float(i)) for i in range(100)],
        "k BIGINT, part STRING, v DOUBLE").repartitionByRange(4, "k")
    mt.create_table(base, root, "part", stats_cols=["k"])
    v1 = mt.load_manifest(root)["files"]
    assert len(v1) >= 4  # multi-file — the setup the property needs

    keys = spark.createDataFrame([(42, "p1")], "k BIGINT, part STRING")
    assert mt.commit_delete(spark, root, keys, ["k", "part"],
                            "part") == 2
    v2 = mt.load_manifest(root)["files"]
    assert {e["path"] for e in v2} == {e["path"] for e in v1}, (
        "a 1-row delete rewrote data files — the DV path degraded to "
        "copy-on-write")
    dvd = [e for e in v2 if e.get("dv")]
    assert len(dvd) == 1 and dvd[0]["dv_rows"] == 1
    got = sorted(r.k for r in mt.read_snapshot(spark, root).collect())
    assert got == sorted(set(range(100)) - {42})
    # time travel: v1 still reads the full table (merge-on-read never
    # touches committed bytes)
    assert mt.read_snapshot(spark, root, version=1).count() == 100
    # the anti-join is BROADCAST: no shuffle added to the scan
    plan = mt.read_snapshot(spark, root)._jdf.queryExecution()\
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_dv_sidecar_write_runs_one_job(spark, tmp_path, monkeypatch):
    """A sparse delete writes its delete-vector sidecar as one file in
    one Spark job: its rows come from the delete's persisted match
    set, so the single output task needs no shuffle."""
    from tests.test_minhash_kernel import _jobs_in_group

    root = str(tmp_path / "t")
    mt.create_table(spark.createDataFrame(
        [(i, "p1" if i < 60 else "p2", float(i)) for i in range(100)],
        "k BIGINT, part STRING, v DOUBLE").repartitionByRange(4, "k"),
        root, "part", stats_cols=["k"])
    real, sc = mt._write_dv, spark.sparkContext

    def grouped(*a, **kw):
        sc.setJobGroup("dv-sidecar", "dv-sidecar")
        try:
            return real(*a, **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    monkeypatch.setattr(mt, "_write_dv", grouped)
    keys = spark.createDataFrame([(41, "p1"), (42, "p1"), (77, "p2")],
                                 "k BIGINT, part STRING")
    mt.commit_delete(spark, root, keys, ["k", "part"], "part")
    assert _jobs_in_group(spark, "dv-sidecar") == 1
    assert len({e["dv"] for e in mt.load_manifest(root)["files"]
                if e.get("dv")}) == 1
    assert sorted(r.k for r in mt.read_snapshot(spark, root).collect()) \
        == sorted(set(range(100)) - {41, 42, 77})


def test_delete_requires_part_col_in_keys(spark, tmp_path):
    root = str(tmp_path / "t")
    mt.create_table(_base(spark), root, "part")
    keys = spark.createDataFrame([(1,)], "k BIGINT")
    with pytest.raises(ValueError, match="must include part_col"):
        mt.commit_delete(spark, root, keys, ["k"], "part")


@pytest.mark.full  # CI-mode only (suite-time budget)
def test_delete_dv_union_crossover_compaction_vacuum(spark, tmp_path):
    """The DV lifecycle: (a) a second sparse delete on an already-DV'd
    file UNIONS into one sidecar (reads never chain vectors); (b) a
    delete pushing a file's cumulative tombstones past dv_max_frac
    crosses over to the copy-on-write rewrite; (c) compaction
    reconciles tombstones into clean files; (d) vacuum keeps sidecars
    referenced by retained manifests and retires them once compaction
    + retention drop the last reference."""
    import time

    root = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(i, "p1", float(i)) for i in range(50)],
        "k BIGINT, part STRING, v DOUBLE").repartitionByRange(2, "k")
    mt.create_table(base, root, "part", stats_cols=["k"])

    k1 = spark.createDataFrame([(3, "p1")], "k BIGINT, part STRING")
    mt.commit_delete(spark, root, k1, ["k", "part"], "part")
    k2 = spark.createDataFrame([(7, "p1")], "k BIGINT, part STRING")
    mt.commit_delete(spark, root, k2, ["k", "part"], "part")
    v3 = mt.load_manifest(root)["files"]
    dvd = [e for e in v3 if e.get("dv")]
    assert len(dvd) == 1 and dvd[0]["dv_rows"] == 2  # unioned, one ref
    assert sorted(r.k for r in
                  mt.read_snapshot(spark, root).collect()) == sorted(
        set(range(50)) - {3, 7})

    # (b) crossover: delete a third of the file's keys → rewrite
    k3 = spark.createDataFrame([(i, "p1") for i in range(0, 25, 2)],
                               "k BIGINT, part STRING")
    mt.commit_delete(spark, root, k3, ["k", "part"], "part")
    v4 = mt.load_manifest(root)["files"]
    gone = sorted(set(range(50)) - {3, 7} - set(range(0, 25, 2)))
    assert sorted(r.k for r in
                  mt.read_snapshot(spark, root).collect()) == gone
    assert not any(e.get("dv") for e in v4
                   if e.get("dv_rows", 0) > 0.3 * e["rows"]), (
        "a file's cumulative tombstones exceed the crossover — it "
        "should have rewritten")

    # (c) compaction reconciles whatever vectors remain
    mt.commit_compaction(spark, root, "part")
    vC = mt.load_manifest(root)["files"]
    assert not any(e.get("dv") for e in vC)
    assert sorted(r.k for r in
                  mt.read_snapshot(spark, root).collect()) == gone

    # (d) vacuum with keep_versions=1: no retained manifest references
    # any sidecar; age them past grace → retired
    dv_dir = os.path.join(root, mt._DELETES)
    old = time.time() - mt._CLAIM_GRACE_SEC - 10
    for f in os.listdir(dv_dir):
        os.utime(os.path.join(dv_dir, f), (old, old))
    deleted = mt.vacuum(root, keep_versions=1)
    assert any(p.startswith(mt._DELETES) for p in deleted)
    assert not os.path.isdir(dv_dir) or not os.listdir(dv_dir)
    assert sorted(r.k for r in
                  mt.read_snapshot(spark, root).collect()) == gone


@pytest.mark.full  # CI-mode only (suite-time budget)
def test_vacuum_spares_referenced_and_young_dvs(spark, tmp_path):
    """A sidecar referenced by ANY retained manifest must survive
    vacuum even when aged; an unreferenced YOUNG sidecar (an in-flight
    commit_delete between its DV write and its claim) is grace-spared."""
    import time

    root = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(i, "p1", float(i)) for i in range(20)],
        "k BIGINT, part STRING, v DOUBLE")
    mt.create_table(base, root, "part", stats_cols=["k"])
    keys = spark.createDataFrame([(5, "p1")], "k BIGINT, part STRING")
    mt.commit_delete(spark, root, keys, ["k", "part"], "part")
    dv_dir = os.path.join(root, mt._DELETES)
    dv_files = os.listdir(dv_dir)
    assert len(dv_files) == 1
    # age the referenced sidecar: still spared (referenced by v2)
    old = time.time() - mt._CLAIM_GRACE_SEC - 10
    os.utime(os.path.join(dv_dir, dv_files[0]), (old, old))
    mt.vacuum(root, keep_versions=2)
    assert os.listdir(dv_dir) == dv_files
    # an unreferenced young sidecar: grace-spared
    orphan = os.path.join(dv_dir, "dv-orphan.parquet")
    with open(orphan, "w") as f:
        f.write("x")
    mt.vacuum(root, keep_versions=2)
    assert os.path.exists(orphan)
    os.utime(orphan, (old, old))
    deleted = mt.vacuum(root, keep_versions=2)
    assert f"{mt._DELETES}/dv-orphan.parquet" in deleted
    assert not os.path.exists(orphan)
    assert sorted(r.k for r in
                  mt.read_snapshot(spark, root).collect()) == sorted(
        set(range(20)) - {5})


def test_rename_drop_are_metadata_only(spark, tmp_path):
    """L22 lifecycle: rename and drop commit WITHOUT touching any data
    file; old files serve the renamed column through the stable id; v1
    time-travels under its original names; the partition column refuses
    both operations; renaming onto an existing column refuses."""
    root = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "p1", 10.0, "a"), (2, "p2", 20.0, "b")],
        "k BIGINT, part STRING, v DOUBLE, tag STRING")
    mt.create_table(base, root, "part")
    v1_paths = {e["path"] for e in mt.load_manifest(root)["files"]}

    assert mt.rename_column(root, "v", "amount") == 2
    assert mt.drop_column(root, "tag") == 3
    assert {e["path"]
            for e in mt.load_manifest(root)["files"]} == v1_paths

    snap = mt.read_snapshot(spark, root)
    assert snap.columns == ["k", "amount", "part"]
    assert {(r.k, r.amount) for r in snap.collect()} == {(1, 10.0),
                                                         (2, 20.0)}
    assert mt.read_snapshot(spark, root, version=1).columns == [
        "k", "v", "tag", "part"]

    with pytest.raises(ValueError, match="partition column"):
        mt.rename_column(root, "part", "pp")
    with pytest.raises(ValueError, match="partition column"):
        mt.drop_column(root, "part")
    with pytest.raises(ValueError, match="already exists"):
        mt.rename_column(root, "k", "amount")
    with pytest.raises(ValueError, match="no column"):
        mt.rename_column(root, "ghost", "x")


@pytest.mark.full  # CI-mode only (suite-time budget)
def test_readd_after_drop_never_resurrects(spark, tmp_path):
    """The id-retirement property: a column re-added after a drop gets
    a FRESH id and physical name, so the dropped generation's values
    read as NULL — never the stale bytes still sitting in old files."""
    root = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "p1", "OLD1"), (2, "p1", "OLD2")],
        "k BIGINT, part STRING, tag STRING")
    mt.create_table(base, root, "part")
    mt.drop_column(root, "tag")
    b2 = spark.createDataFrame([(3, "p1", "NEW")],
                               "k BIGINT, part STRING, tag STRING")
    mt.commit_append(spark, root, b2, "part")
    got = {(r.k, r.tag) for r in mt.read_snapshot(spark, root).collect()}
    assert got == {(1, None), (2, None), (3, "NEW")}, (
        f"dropped-generation values resurrected: {got}")
    # physical disambiguation recorded in the mapping
    cm = mt._load_doc(root)["col_map"]
    assert "tag" in cm["retired"]
    assert mt._phys_name(cm, "tag") != "tag"
    # merge + delete + compaction still work through the mapping
    chg = spark.createDataFrame([(1, "p1", "X", "U")],
                                "k BIGINT, part STRING, tag STRING, "
                                "op STRING")
    mt.commit_merge(spark, root, chg, ["k", "part"], "part")
    keys = spark.createDataFrame([(2, "p1")], "k BIGINT, part STRING")
    mt.commit_delete(spark, root, keys, ["k", "part"], "part")
    mt.commit_compaction(spark, root, "part")
    got = {(r.k, r.tag) for r in mt.read_snapshot(spark, root).collect()}
    assert got == {(1, "X"), (3, "NEW")}


@pytest.mark.full  # CI-mode only (suite-time budget)
def test_stream_survives_rename_via_restart(spark, tmp_path):
    """L22 × L16: the streaming guard works in PHYSICAL space — a
    reader constructed AFTER a rename delivers pre-rename batches
    (same physical names) under the new logical column instead of
    wedging; a version whose column the reader's table later DROPPED
    delivers by omission."""
    import pyarrow as pa

    from silvia_spark.sources.manifest_stream import (ManifestStreamReader,
                                                      _table_schema)

    root = str(tmp_path / "t")
    base = spark.createDataFrame([(1, "p1", 1.0)],
                                 "k BIGINT, part STRING, v DOUBLE")
    mt.create_table(base, root, "part")
    mt.rename_column(root, "v", "amount")            # v2
    mt.commit_append(spark, root, spark.createDataFrame(
        [(2, "p1", 2.0)], "k BIGINT, part STRING, amount DOUBLE"),
        "part")                                      # v3
    reader = ManifestStreamReader(_table_schema(root), {"path": root})
    # replayed pre-rename batch (v0→v1) must deliver, not wedge
    rows = []
    for p in reader.partitions({"version": 0}, {"version": 1}):
        t = pa.Table.from_batches(list(reader.read(p)))
        rows.extend(zip(t.column("k").to_pylist(),
                        t.column("amount").to_pylist()))
    assert rows == [(1, 1.0)]
    # guard accepts every historical version
    for v in (1, 2, 3):
        reader._guard_schema(v, mt._load_doc(root, v))
    # a genuinely NEW column the reader predates still raises
    mt.commit_append(spark, root, spark.createDataFrame(
        [(3, "p1", 3.0, 7)],
        "k BIGINT, part STRING, amount DOUBLE, extra BIGINT"), "part")
    with pytest.raises(RuntimeError, match="not representable"):
        reader._guard_schema(4, mt._load_doc(root, 4))


def test_delete_zero_hits_is_a_noop(spark, tmp_path):
    """r11 review finding: delete keys that pass the stats prune but
    match NO row must not commit a content-identical snapshot under a
    burned version number."""
    root = str(tmp_path / "t")
    mt.create_table(spark.createDataFrame(
        [(2, "p1", 1.0), (8, "p1", 2.0)],
        "k BIGINT, part STRING, v DOUBLE"), root, "part",
        stats_cols=["k"])
    # k=5 is inside the [2, 8] stats range (prune keeps the file) but
    # matches nothing
    keys = spark.createDataFrame([(5, "p1")], "k BIGINT, part STRING")
    assert mt.commit_delete(spark, root, keys, ["k", "part"],
                            "part") == 1
    assert mt.current_version(root) == 1
    # and a fully-pruned key range no-ops without even scanning
    keys2 = spark.createDataFrame([(100, "p1")], "k BIGINT, part STRING")
    assert mt.commit_delete(spark, root, keys2, ["k", "part"],
                            "part") == 1


from pyspark.sql import Row  # noqa: E402  (concurrency tests below)


# The row-level writers under race: each takes row k=1 in partition
# "a" — merge/update set v = 101.0, the deletes remove the row. All
# share one commit tail, so all must rebase when disjoint and raise
# when not.
def _set_k1_merge(spark, root):
    return mt.commit_merge(spark, root, spark.createDataFrame(
        [Row(k=1, part="a", v=101.0, op="U")]), ["k", "part"], "part")


def _set_k1_merge_sql(spark, root):
    from silvia_spark.sources.sql_dml import merge_into_sql

    spark.createDataFrame([Row(k=1, part="a", v=101.0)]) \
        .createOrReplaceTempView("race_merge_src")
    return merge_into_sql(spark, f"""
        MERGE INTO `{root}` AS t USING race_merge_src AS s
        ON t.k = s.k AND t.part = s.part
        WHEN MATCHED THEN UPDATE SET v = s.v""")


def _upsert_sql_unpinned(spark, root, rows):
    """SQL MERGE whose ON omits the partition column, with an INSERT
    clause: touched files come from a key semi-join of the table."""
    from silvia_spark.sources.sql_dml import merge_into_sql

    spark.createDataFrame(rows).select("k", "v", "part") \
        .createOrReplaceTempView("race_upsert_src")
    return merge_into_sql(spark, f"""
        MERGE INTO `{root}` AS t USING race_upsert_src AS s
        ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = s.v
        WHEN NOT MATCHED THEN INSERT *""")


def _set_k1_upsert_sql(spark, root):
    return _upsert_sql_unpinned(spark, root,
                                [Row(k=1, part="a", v=101.0)])


def _set_k1_update(spark, root):
    return mt.commit_update(spark, root, {"v": "101.0"}, where="k = 1")


def _drop_k1_by_keys(spark, root):
    return mt.commit_delete(spark, root, spark.createDataFrame(
        [Row(k=1, part="a")]), ["k", "part"], "part")


def _drop_k1_by_predicate(spark, root):
    return mt.commit_delete(spark, root, where="k = 1")


ROW_WRITERS = {
    "merge": ("merge", _set_k1_merge, {(1, 101.0)}),
    "merge_sql": ("merge", _set_k1_merge_sql, {(1, 101.0)}),
    "upsert_sql_unpinned": ("merge", _set_k1_upsert_sql, {(1, 101.0)}),
    "update": ("update", _set_k1_update, {(1, 101.0)}),
    "delete_keys": ("delete", _drop_k1_by_keys, set()),
    "delete_where": ("delete", _drop_k1_by_predicate, set()),
}


def _race_on(monkeypatch, op, competitor):
    """Run ``competitor()`` once, right before the first claim of an
    ``op`` commit — it wins the version the writer planned against."""
    orig = mt._write_doc
    fired = {"n": 0}

    def racy(root_, version, doc, **kw):
        if doc.get("op") == op and fired["n"] == 0:
            fired["n"] = 1
            competitor()
        return orig(root_, version, doc, **kw)

    monkeypatch.setattr(mt, "_write_doc", racy)


@pytest.mark.parametrize("writer", list(ROW_WRITERS))
def test_disjoint_partition_merges_auto_rebase(spark, tmp_path,
                                               monkeypatch, writer):
    """r12 (verdict item 6): two row-level commits on DISJOINT
    partitions no longer serialize through manual retries — the loser
    re-plans against the new head, finds its rewrite set untouched, and
    rebases automatically. Holds for every row-level writer."""
    op, write, want = ROW_WRITERS[writer]
    root = os.path.join(str(tmp_path), "tbl")
    mt.create_table(spark.createDataFrame(
        [Row(k=i, part=("a" if i % 2 else "b"), v=float(i))
         for i in range(1, 11)]).select("k", "v", "part"), root,
        "part", stats_cols=["k"])
    v0 = mt.current_version(root)
    chg_b = spark.createDataFrame(
        [Row(k=2, part="b", v=202.0, op="U")])
    # a competing merge on the OTHER partition lands first
    _race_on(monkeypatch, op, lambda: mt.commit_merge(
        spark, root, chg_b, ["k", "part"], "part"))
    v = write(spark, root)
    assert v == v0 + 2, "loser must rebase to the next version"
    got = {(r["k"], r["v"]) for r in mt.read_snapshot(spark, root)
           .where("k <= 2").collect()}
    assert got == want | {(2, 202.0)}, "both commits must land"
    assert mt.read_snapshot(spark, root).count() == (10 if want else 9)


def test_disjoint_file_band_merges_auto_rebase(spark, tmp_path,
                                               monkeypatch):
    """Same partition, disjoint KEY BANDS in separate files: the
    stats-pruned rewrite sets are disjoint, so both merges land."""
    root = os.path.join(str(tmp_path), "tbl")
    mt.create_table(spark.createDataFrame(
        [Row(k=i, part="a", v=float(i)) for i in range(1, 11)])
        .coalesce(1).select("k", "v", "part"), root, "part",
        stats_cols=["k"])
    mt.commit_append(spark, root, spark.createDataFrame(
        [Row(k=i, v=float(i), part="a")
         for i in range(101, 111)]).coalesce(1), "part")
    v0 = mt.current_version(root)
    chg_hi = spark.createDataFrame(
        [Row(k=105, part="a", v=1050.0, op="U")])
    orig = mt._write_doc
    fired = {"n": 0}

    def racy(root_, version, doc, **kw):
        if doc.get("op") == "merge" and fired["n"] == 0:
            fired["n"] = 1
            mt.commit_merge(spark, root, chg_hi, ["k", "part"], "part")
        return orig(root_, version, doc, **kw)

    monkeypatch.setattr(mt, "_write_doc", racy)
    v = mt.commit_merge(spark, root, spark.createDataFrame(
        [Row(k=5, part="a", v=50.0, op="U")]), ["k", "part"], "part")
    assert v == v0 + 2
    got = {(r["k"], r["v"]) for r in mt.read_snapshot(spark, root)
           .where("k IN (5, 105)").collect()}
    assert got == {(5, 50.0), (105, 1050.0)}
    assert mt.read_snapshot(spark, root).count() == 20


@pytest.mark.parametrize("writer", list(ROW_WRITERS))
def test_overlapping_merges_still_raise(spark, tmp_path, monkeypatch,
                                        writer):
    """Rewrite sets that intersect are a REAL conflict: the loser's
    staged output is stale, so it must refuse, not rebase. The data
    is coalesced to ONE file per partition so both commits' keys land
    in the same file — with per-key files they would be legitimately
    disjoint and rebase (the previous test)."""
    op, write, _want = ROW_WRITERS[writer]
    root = os.path.join(str(tmp_path), "tbl")
    mt.create_table(spark.createDataFrame(
        [Row(k=i, part=("a" if i % 2 else "b"), v=float(i))
         for i in range(1, 11)]).coalesce(1).select("k", "v", "part"),
        root, "part", stats_cols=["k"])
    chg_other = spark.createDataFrame(
        [Row(k=3, part="a", v=303.0, op="U")])  # same partition "a"
    _race_on(monkeypatch, op, lambda: mt.commit_merge(
        spark, root, chg_other, ["k", "part"], "part"))
    with pytest.raises(RuntimeError,
                       match=f"{op} conflict: .*rewrite set"):
        write(spark, root)
    # the competing merge's result is intact, the loser left no trace
    assert {(r["k"], r["v"]) for r in mt.read_snapshot(spark, root)
            .where("k IN (1, 3)").collect()} == {(1, 1.0), (3, 303.0)}


@pytest.mark.parametrize("winner_k,conflict", [(12, True), (14, False)])
def test_unpinned_merge_insert_reads_its_key_range(spark, tmp_path,
                                                    monkeypatch, winner_k,
                                                    conflict):
    """An unpinned SQL MERGE decides NOT MATCHED by reading the key
    range its inserts land in, though it rewrites no file there. A
    concurrent commit that adds a file in that range (the same k=12
    insert) must make it refuse — rebasing would land k=12 twice — and
    one outside the range (k=14) lets it rebase."""
    root = os.path.join(str(tmp_path), "tbl")
    mt.create_table(spark.createDataFrame(
        [Row(k=i, part=("a" if i % 2 else "b"), v=float(i))
         for i in range(1, 11)]).coalesce(1).select("k", "v", "part"),
        root, "part", stats_cols=["k"])
    _race_on(monkeypatch, "merge", lambda: _upsert_sql_unpinned(
        spark, root, [Row(k=winner_k, part="b", v=1.0)]))
    write = lambda: _upsert_sql_unpinned(  # noqa: E731
        spark, root, [Row(k=12, part="b", v=2.0)])
    if conflict:
        with pytest.raises(RuntimeError,
                           match="merge conflict: .*rewrite set"):
            write()
    else:
        write()
    got = sorted((r["k"], r["v"]) for r in mt.read_snapshot(spark, root)
                 .where("k > 10").collect())
    assert got == ([(12, 1.0)] if conflict else [(12, 2.0), (14, 1.0)])


@pytest.mark.parametrize("winner_part", ["a", "c"])
def test_unpinned_merge_inserts_conflict_across_partitions(
        spark, tmp_path, monkeypatch, winner_part):
    """An unpinned SQL MERGE decides NOT MATCHED by looking in every
    partition. A concurrent insert of the same new key into ANOTHER
    partition — an existing one or one it creates — must make it
    refuse: rebasing would land k=12 twice."""
    root = os.path.join(str(tmp_path), "tbl")
    mt.create_table(spark.createDataFrame(
        [Row(k=i, part=("a" if i % 2 else "b"), v=float(i))
         for i in range(1, 11)]).coalesce(1).select("k", "v", "part"),
        root, "part", stats_cols=["k"])
    _race_on(monkeypatch, "merge", lambda: _upsert_sql_unpinned(
        spark, root, [Row(k=12, part=winner_part, v=1.0)]))
    with pytest.raises(RuntimeError, match="merge conflict"):
        _upsert_sql_unpinned(spark, root, [Row(k=12, part="b", v=2.0)])
    got = [(r["k"], r["v"], r["part"]) for r in
           mt.read_snapshot(spark, root).where("k = 12").collect()]
    assert got == [(12, 1.0, winner_part)]


def test_commit_merge_refuses_a_key_it_would_duplicate(spark, tmp_path):
    """Two written change rows for a key the table holds once would
    leave both in the table: commit_merge refuses, as SQL MERGE does,
    and commits nothing. A key the table already holds twice may take
    two rows (a 1:1 rewrite), and repeated keys the table does not
    hold insert as they are."""
    root = os.path.join(str(tmp_path), "tbl")
    mt.create_table(spark.createDataFrame(
        [Row(k=1, part="a", v=1.0), Row(k=2, part="a", v=2.0),
         Row(k=2, part="a", v=3.0)]).select("k", "v", "part"),
        root, "part", stats_cols=["k"])
    v0 = mt.current_version(root)
    chg = spark.createDataFrame(
        [Row(k=1, part="a", v=10.0, op="U"),
         Row(k=1, part="a", v=20.0, op="U")])
    with pytest.raises(ValueError, match="more than one source row"):
        mt.commit_merge(spark, root, chg, ["k", "part"], "part")
    assert mt.current_version(root) == v0
    mt.commit_merge(spark, root, spark.createDataFrame(
        [Row(k=2, part="a", v=20.0, op="U"),
         Row(k=2, part="a", v=30.0, op="U"),
         Row(k=9, part="a", v=9.0, op="I"),
         Row(k=9, part="a", v=9.5, op="I")]), ["k", "part"], "part")
    assert sorted((r["k"], r["v"]) for r in
                  mt.read_snapshot(spark, root).collect()) == [
        (1, 1.0), (2, 20.0), (2, 30.0), (9, 9.0), (9, 9.5)]


@pytest.mark.parametrize("writer", list(ROW_WRITERS))
def test_concurrent_schema_change_refuses_rebase(spark, tmp_path,
                                                 monkeypatch, writer):
    op, write, _want = ROW_WRITERS[writer]
    root = os.path.join(str(tmp_path), "tbl")
    mt.create_table(spark.createDataFrame(
        [Row(k=i, part=("a" if i % 2 else "b"), v=float(i))
         for i in range(1, 11)]).select("k", "v", "part"), root,
        "part", stats_cols=["k"])
    _race_on(monkeypatch, op,
             lambda: mt.rename_column(root, "v", "value"))
    with pytest.raises(RuntimeError,
                       match=f"{op} conflict: .*schema/spec/constraints"):
        write(spark, root)
