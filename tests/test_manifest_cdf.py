"""Row-level change feed (L25): per-version batch replay, the CDC
streaming source (exactly-once across checkpointed restarts), old-value
images, compaction/metadata silence, pre-enablement refusal, vacuum
GC of change records, and the rename-boundary mapping."""

from __future__ import annotations

import os
import tempfile
import time
import uuid

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from silvia_spark.operators.manifest_table import (
    _CHANGES, FS, commit_append, commit_compaction, commit_delete,
    commit_merge, create_table, current_version, enable_cdf,
    load_manifest, read_change_feed, read_changes, read_snapshot,
    rename_column, vacuum)
from silvia_spark.sources.manifest_stream import (read_stream_changes,
                                                  read_stream_table)


def _mk(spark, tmp_path, cdf=True):
    root = os.path.join(str(tmp_path), "tbl")
    df = spark.createDataFrame(
        [Row(k=i, part=("a" if i % 2 else "b"), v=float(i))
         for i in range(1, 11)])
    create_table(df.select("k", "v", "part"), root, "part", cdf=cdf)
    return root


def _drain(spark, feed, ckpt):
    name = "m" + uuid.uuid4().hex[:10]
    q = (feed.writeStream.format("memory").queryName(name)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    return spark.table(name).collect()


def test_batch_feed_replays_versions_with_old_images(spark, tmp_path):
    root = _mk(spark, tmp_path)
    commit_append(spark, root,
                  spark.createDataFrame([Row(k=20, v=20.0, part="a")]),
                  "part")
    commit_delete(spark, root,
                  spark.createDataFrame([Row(k=3, part="a")]),
                  ["k", "part"], "part")
    commit_merge(spark, root,
                 spark.createDataFrame([Row(k=2, part="b", v=99.0,
                                            op="U")]),
                 ["k", "part"], "part")
    rows = {(r["_commit_version"], r["_change_type"], r["k"], r["v"])
            for r in read_change_feed(spark, root, 0).collect()}
    assert (1, "insert", 5, 5.0) in rows          # creation snapshot
    assert (2, "insert", 20, 20.0) in rows        # append
    assert (3, "delete", 3, 3.0) in rows          # DV delete, OLD image
    assert (4, "delete", 2, 2.0) in rows          # update pre-image
    assert (4, "insert", 2, 99.0) in rows         # update post-image
    assert len([r for r in rows if r[0] == 4]) == 2  # pair, no re-homes
    # windowing: (2, 3] holds exactly the delete
    win = read_change_feed(spark, root, 2, 3).collect()
    assert [(r["_change_type"], r["k"]) for r in win] == [("delete", 3)]


def test_compaction_and_metadata_versions_are_silent(spark, tmp_path):
    root = _mk(spark, tmp_path)
    commit_delete(spark, root,
                  spark.createDataFrame([Row(k=4, part="b")]),
                  ["k", "part"], "part")
    v_del = current_version(root)
    commit_compaction(spark, root, "part")
    assert read_change_feed(spark, root, v_del).count() == 0
    # and the post-compaction snapshot still excludes the deleted row
    assert read_snapshot(spark, root).where("k = 4").count() == 0


def test_pre_enablement_window_refused(spark, tmp_path):
    root = _mk(spark, tmp_path, cdf=False)
    commit_append(spark, root,
                  spark.createDataFrame([Row(k=30, v=1.0, part="a")]),
                  "part")
    v_en = enable_cdf(root)
    commit_delete(spark, root,
                  spark.createDataFrame([Row(k=1, part="a")]),
                  ["k", "part"], "part")
    with pytest.raises(ValueError, match="no change record"):
        read_change_feed(spark, root, 0)
    got = read_change_feed(spark, root, v_en - 1).collect()
    assert {(r["_change_type"], r["k"]) for r in got} == {("delete", 1)}


def test_stream_exactly_once_across_checkpoint_restart(spark, tmp_path):
    root = _mk(spark, tmp_path)
    commit_delete(spark, root,
                  spark.createDataFrame([Row(k=3, part="a")]),
                  ["k", "part"], "part")
    ckpt = tempfile.mkdtemp(prefix="silvia_cdfck_")
    out = tempfile.mkdtemp(prefix="silvia_cdfout_")

    def one_run():
        q = (read_stream_changes(spark, root)
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(200)
        files = [os.path.join(out, f) for f in os.listdir(out)
                 if f.endswith(".parquet")]
        return sorted(
            (r["_commit_version"], r["_change_type"], r["k"], r["v"])
            for r in spark.read.parquet(*files).collect()) if files \
            else []

    got1 = one_run()
    assert len(got1) == 11  # 10 creation inserts + 1 delete
    # second run from the SAME checkpoint: only the new commit flows
    commit_merge(spark, root,
                 spark.createDataFrame([Row(k=2, part="b", v=50.0,
                                            op="U")]),
                 ["k", "part"], "part")
    got2 = one_run()
    fresh = [g[1:] for g in got2 if g not in got1]
    assert sorted(fresh) == [("delete", 2, 2.0), ("insert", 2, 50.0)]
    assert len(got2) == len(got1) + 2  # nothing re-delivered


def test_stream_refuses_admission_combo_and_pre_enablement(spark,
                                                           tmp_path):
    root = _mk(spark, tmp_path)
    feed = (spark.readStream.format("silvia_manifest")
            .option("path", root).option("changeFeed", "true")
            .option("maxFilesPerTrigger", "1").load())
    q = (feed.writeStream.format("memory")
         .queryName("m" + uuid.uuid4().hex[:10])
         .option("checkpointLocation", tempfile.mkdtemp())
         .trigger(availableNow=True).start())
    with pytest.raises(Exception, match="does not compose"):
        q.awaitTermination(120)
        raise AssertionError("stream with changeFeed+maxFiles started")
    root2 = _mk(spark, tmp_path / "b", cdf=False)
    enable_cdf(root2)
    with pytest.raises(Exception, match="no change record"):
        _drain(spark, read_stream_changes(spark, root2),
               tempfile.mkdtemp())


def test_vacuum_gcs_retired_change_records(spark, tmp_path,
                                           monkeypatch):
    monkeypatch.setenv("SILVIA_READER_LEASE_TTL_SEC", "0.01")
    root = _mk(spark, tmp_path)
    for k in (3, 5, 7):
        commit_delete(spark, root,
                      spark.createDataFrame([Row(k=k, part="a")]),
                      ["k", "part"], "part")
    cdf_dir = os.path.join(root, _CHANGES)
    n_before = len([f for f in FS.listdir(cdf_dir)
                    if f.endswith(".parquet")])
    assert n_before >= 3
    # age everything past the claim grace, then retire all but current
    past = time.time() - 3600
    for d in (cdf_dir,):
        for f in FS.listdir(d):
            os.utime(os.path.join(d, f), (past, past))
    deleted = vacuum(root, keep_versions=1)
    assert any(p.startswith(_CHANGES) for p in deleted)
    live = set(load_manifest(root).get("cdf", {}).get("files", ()))
    remaining = {f"{_CHANGES}/{f}" for f in FS.listdir(cdf_dir)
                 if f.endswith(".parquet")}
    assert remaining == live  # kept exactly the current version's
    with pytest.raises(FileNotFoundError):
        read_change_feed(spark, root, 0)  # retired window gone, loudly


def test_feed_crosses_rename_boundary_under_new_names(spark, tmp_path):
    root = _mk(spark, tmp_path)
    commit_delete(spark, root,
                  spark.createDataFrame([Row(k=3, part="a")]),
                  ["k", "part"], "part")
    v_del = current_version(root)
    rename_column(root, "v", "val")
    feed = read_change_feed(spark, root, 0)
    assert "val" in feed.columns and "v" not in feed.columns
    got = {(r["_change_type"], r["k"], r["val"])
           for r in feed.where(
               F.col("_commit_version") == v_del).collect()}
    assert got == {("delete", 3, 3.0)}


def test_plain_stream_unaffected_by_cdf_records(spark, tmp_path):
    root = _mk(spark, tmp_path)
    commit_delete(spark, root,
                  spark.createDataFrame([Row(k=3, part="a")]),
                  ["k", "part"], "part")
    got = _drain(spark, read_stream_table(spark, root),
                 tempfile.mkdtemp())
    # file-granular stream: delivers live rows, no _change_type column
    assert all(not hasattr(r, "_change_type") for r in got)
    assert {r["k"] for r in got} == set(range(1, 11)) - {3}


def test_replicate_incremental_catchup_and_replay(spark, tmp_path):
    """CDC replication: full drain, then incremental catch-up on the
    same checkpoint, then a no-op drain — the replica tracks the source
    exactly and an empty window commits nothing."""
    from silvia_spark.operators.manifest_table import current_version
    from silvia_spark.streaming.streams import replicate_table

    src = _mk(spark, tmp_path)
    dst = os.path.join(str(tmp_path), "replica")
    ck = tempfile.mkdtemp(prefix="silvia_repck_")

    def state(root):
        return sorted((r["k"], r["v"], r["part"]) for r in
                      read_snapshot(spark, root).collect())

    replicate_table(spark, src, dst, ["k", "part"], "part", ck)
    assert state(dst) == state(src)
    commit_delete(spark, src,
                  spark.createDataFrame([Row(k=3, part="a")]),
                  ["k", "part"], "part")
    commit_merge(spark, src,
                 spark.createDataFrame([Row(k=2, part="b", v=50.0,
                                            op="U")]),
                 ["k", "part"], "part")
    replicate_table(spark, src, dst, ["k", "part"], "part", ck)
    assert state(dst) == state(src)
    v = current_version(dst)
    replicate_table(spark, src, dst, ["k", "part"], "part", ck)
    assert current_version(dst) == v  # empty window: no commit churn


def test_net_changes_collapses_in_window_churn(spark):
    """A key deleted then re-inserted inside one window nets to its
    final insert; a key whose last action is the delete nets to D."""
    from silvia_spark.streaming.streams import net_changes

    rows = [
        Row(k=1, v=1.0, _change_type="insert", _commit_version=1),
        Row(k=1, v=1.0, _change_type="delete", _commit_version=3),
        Row(k=1, v=9.0, _change_type="insert", _commit_version=5),
        Row(k=2, v=2.0, _change_type="insert", _commit_version=1),
        Row(k=2, v=2.0, _change_type="delete", _commit_version=4),
        Row(k=3, v=3.0, _change_type="insert", _commit_version=1),
        Row(k=3, v=3.0, _change_type="delete", _commit_version=2),
        Row(k=3, v=4.0, _change_type="insert", _commit_version=2),
    ]  # k=3's v2 is an UPDATE pair: within one version a key carries
    #    at most its delete+insert images, never two inserts
    net = {(r["k"], r["op"], r["v"]) for r in
           net_changes(spark.createDataFrame(rows), ["k"]).collect()}
    assert net == {(1, "U", 9.0), (2, "D", 2.0), (3, "U", 4.0)}


def _vacuumed_appends(spark, tmp_path):
    """cdf on at v1, three appends (v2..v4), vacuum keeping v3, v4."""
    root = _mk(spark, tmp_path)
    for i in range(3):
        commit_append(spark, root, spark.createDataFrame(
            [Row(k=40 + i, v=1.0, part="a")]), "part")
    vacuum(root, keep_versions=2)
    return root


def test_feed_names_vacuumed_diff_base(spark, tmp_path):
    """The window (2, 4] survives but its first append's diff base, v2,
    is gone: the feed names the base and the retention knob instead of
    failing on the bare manifest path."""
    root = _vacuumed_appends(spark, tmp_path)
    with pytest.raises(FileNotFoundError,
                       match=r"v2 as the diff base for v3, and it is gone "
                             r"\(vacuumed\?\): widen keep_versions"):
        read_change_feed(spark, root, since=2)
    assert {r["k"] for r in read_change_feed(spark, root, 3).collect()} \
        == {42}


def test_read_changes_names_vacuumed_since(spark, tmp_path):
    """The file-granular feed diffs against ``since``'s manifest: when
    vacuum retired it, the error names it and the retention knob."""
    root = _vacuumed_appends(spark, tmp_path)
    with pytest.raises(FileNotFoundError,
                       match=r"read_changes over \(2, head\] needs manifest "
                             r"v2, and it is gone \(vacuumed\?\): widen "
                             r"keep_versions"):
        read_changes(spark, root, since=2)
    assert {r["k"] for r in read_changes(spark, root, 3).collect()} \
        == {42}


def test_plain_stream_names_vacuumed_manifest(spark, tmp_path):
    """A plain (file-granular) manifest stream plans a batch as the
    diff against its start version, and a limited stream each version
    against its parent: both name a vacuumed manifest."""
    from silvia_spark.sources.manifest_stream import (ManifestStreamReader,
                                                      _table_schema)

    root = _vacuumed_appends(spark, tmp_path)
    reader = ManifestStreamReader(_table_schema(root), {"path": root})
    with pytest.raises(FileNotFoundError,
                       match=r"batch over \(2, 4\] needs manifest v2, and "
                             r"it is gone \(vacuumed\?\): widen"):
        reader.partitions({"version": 2}, {"version": 4})
    assert len(reader.partitions({"version": 3}, {"version": 4})) == 1
    limited = ManifestStreamReader(_table_schema(root),
                                   {"path": root, "maxfilespertrigger": "1"})
    with pytest.raises(FileNotFoundError,
                       match=r"needs manifest v2 as the diff base for v3"):
        limited._fl(3)


def test_every_walk_names_vacuumed_window_manifest(spark, tmp_path):
    """A manifest INSIDE the window is gone: the batch feed, the batch
    ``changesSince`` reader and the CDC stream's planning all raise the
    one diagnostic naming it."""
    from silvia_spark.sources.manifest_stream import (ManifestStreamReader,
                                                      _table_schema,
                                                      read_table)

    root = _vacuumed_appends(spark, tmp_path)
    msg = r"needs manifest v2, and it is gone \(vacuumed\?\): widen"
    with pytest.raises(FileNotFoundError, match=msg):
        read_change_feed(spark, root, since=1)
    with pytest.raises(Exception, match=msg):
        read_table(spark, root, changes_since=1).collect()
    reader = ManifestStreamReader(_table_schema(root),
                                  {"path": root, "changefeed": "true"})
    with pytest.raises(FileNotFoundError, match=msg):
        reader.partitions({"version": 1}, {"version": 4})
