"""Shallow clone (L31): zero-copy creation, independent divergence in
both directions, DV interplay, compaction localization, streaming over
a clone, clone-of-clone, and the documented source-vacuum hazard."""

from __future__ import annotations

import os
import tempfile
import time
import uuid

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from silvia_spark.operators.manifest_table import (
    clone_table, commit_append, commit_compaction, commit_delete,
    commit_merge, create_table, current_version, load_manifest,
    read_change_feed, read_snapshot, set_partition_column,
    table_history, vacuum)
from silvia_spark.sources.manifest_stream import read_stream_table


def _mk(spark, tmp_path, name="src", **kw):
    root = os.path.join(str(tmp_path), name)
    df = spark.createDataFrame(
        [Row(k=i, part=("a" if i % 2 else "b"), v=float(i))
         for i in range(1, 11)])
    create_table(df.select("k", "v", "part"), root, "part",
                 stats_cols=["k"], **kw)
    return root


def test_clone_is_zero_copy_and_divergence_is_two_way(spark, tmp_path):
    src = _mk(spark, tmp_path)
    dst = os.path.join(str(tmp_path), "dst")
    clone_table(src, dst)
    assert all("base" in e for e in load_manifest(dst)["files"])
    assert sorted(r["k"] for r in
                  read_snapshot(spark, dst).collect()) == list(
        range(1, 11))
    # source-side commit after the clone: the clone must NOT see it
    commit_append(spark, src,
                  spark.createDataFrame([Row(k=50, v=5.0, part="a")]),
                  "part")
    assert read_snapshot(spark, dst).where("k = 50").count() == 0
    # clone-side delete: the source must not see it
    commit_delete(spark, dst,
                  spark.createDataFrame([Row(k=3, part="a")]),
                  ["k", "part"], "part")
    assert read_snapshot(spark, src).where("k = 3").count() == 1
    assert read_snapshot(spark, dst).where("k = 3").count() == 0
    assert [h["op"] for h in table_history(dst)] == ["delete", "clone"]


def test_usurped_clone_raises_not_silent(spark, tmp_path, monkeypatch):
    """A clone whose v1 claim is replaced before its flip by a competing
    create_table at the destination must not report success: the clone
    raises FileExistsError and the usurper's rows are the table."""
    from silvia_spark.operators import manifest_table as mt

    src = _mk(spark, tmp_path)
    dst = os.path.join(str(tmp_path), "dst")
    other = spark.createDataFrame([Row(k=2, v=2.0, part="p2")])
    real_flip = mt._flip_current
    fired = {}

    def usurping_flip(r, version, entries=None, **kw):
        if not fired:
            fired["v"] = version
            assert create_table(other.select("k", "v", "part"), dst,
                                "part") == 1
        return real_flip(r, version, entries, **kw)

    monkeypatch.setattr(mt, "_flip_current", usurping_flip)
    with pytest.raises(FileExistsError, match="lost v1"):
        clone_table(src, dst)
    assert fired["v"] == 1  # the clone's claim was indeed v1
    assert current_version(dst) == 1
    assert sorted(tuple(r) for r in read_snapshot(spark, dst).collect()
                  ) == [(2, 2.0, "p2")]
    assert read_snapshot(spark, src).count() == 10  # source untouched


def test_clone_dv_folds_source_vector_into_owned_one(spark, tmp_path):
    # one file per partition (5 rows each) + a high dv_max_frac, so a
    # 1-row delete stays under the density crossover and records a
    # VECTOR — tiny multi-file fixtures always rewrite instead
    src = os.path.join(str(tmp_path), "src")
    df = spark.createDataFrame(
        [Row(k=i, part=("a" if i % 2 else "b"), v=float(i))
         for i in range(1, 11)]).coalesce(1)
    create_table(df.select("k", "v", "part"), src, "part",
                 stats_cols=["k"])
    commit_delete(spark, src,
                  spark.createDataFrame([Row(k=4, part="b")]),
                  ["k", "part"], "part", dv_max_frac=0.95)
    dst = os.path.join(str(tmp_path), "dst")
    clone_table(src, dst)
    assert read_snapshot(spark, dst).where("k = 4").count() == 0
    # a clone-side delete on the SAME file unions the source's
    # tombstones into an owned vector (dv_base dropped)
    commit_delete(spark, dst,
                  spark.createDataFrame([Row(k=6, part="b")]),
                  ["k", "part"], "part", dv_max_frac=0.95)
    got = sorted(r["k"] for r in read_snapshot(spark, dst).collect())
    assert got == [1, 2, 3, 5, 7, 8, 9, 10]
    dvd = [e for e in load_manifest(dst)["files"] if e.get("dv")]
    assert dvd and all("dv_base" not in e for e in dvd)
    # source still sees only ITS delete
    assert read_snapshot(spark, src).where("k = 6").count() == 1


def test_compaction_localizes_the_clone(spark, tmp_path):
    src = _mk(spark, tmp_path)
    dst = os.path.join(str(tmp_path), "dst")
    clone_table(src, dst)
    commit_compaction(spark, dst, "part")
    assert all("base" not in e for e in load_manifest(dst)["files"])
    # fully independent now: vacuuming the source away is harmless
    import shutil

    shutil.rmtree(src)
    assert sorted(r["k"] for r in
                  read_snapshot(spark, dst).collect()) == list(
        range(1, 11))


def test_streaming_source_reads_a_clone(spark, tmp_path):
    src = _mk(spark, tmp_path)
    commit_delete(spark, src,
                  spark.createDataFrame([Row(k=2, part="b")]),
                  ["k", "part"], "part")
    dst = os.path.join(str(tmp_path), "dst")
    clone_table(src, dst)
    name = "m" + uuid.uuid4().hex[:10]
    q = (read_stream_table(spark, dst)
         .writeStream.format("memory").queryName(name)
         .option("checkpointLocation", tempfile.mkdtemp())
         .trigger(availableNow=True).start())
    q.awaitTermination(200)
    assert sorted(r["k"] for r in spark.table(name).collect()) == [
        1, 3, 4, 5, 6, 7, 8, 9, 10]


def test_clone_of_clone_points_at_ultimate_owner(spark, tmp_path):
    src = _mk(spark, tmp_path)
    d1 = os.path.join(str(tmp_path), "d1")
    d2 = os.path.join(str(tmp_path), "d2")
    clone_table(src, d1)
    clone_table(d1, d2)
    bases = {e["base"] for e in load_manifest(d2)["files"]}
    assert bases == {src}, bases
    assert read_snapshot(spark, d2).count() == 10


def test_clone_carries_meta_and_refuses_mixed_specs(spark, tmp_path):
    src = _mk(spark, tmp_path, cdf=True)
    from silvia_spark.operators.manifest_table import (
        add_check_constraint)

    add_check_constraint(spark, src, "v_pos", "v > 0")
    dst = os.path.join(str(tmp_path), "dst")
    clone_table(src, dst)
    m = load_manifest(dst)
    assert m["constraints"] == {"v_pos": "v > 0"}
    assert m.get("cdf_enabled") is True
    feed = read_change_feed(spark, dst, 0)
    assert feed.where("_change_type = 'insert'").count() == 10
    # mixed-spec source refuses
    src2 = _mk(spark, tmp_path, name="src2")
    set_partition_column(src2, "k")
    with pytest.raises(ValueError, match="multiple partition specs"):
        clone_table(src2, os.path.join(str(tmp_path), "dst2"))


def _lease_files(root):
    d = os.path.join(root, ".clone_leases")
    return sorted(os.listdir(d)) if os.path.isdir(d) else []


def test_source_vacuum_spares_clone_referenced_files(spark, tmp_path):
    """r12 (verdict item 4): the shallow-clone retention hazard is
    CLOSED — a source vacuum that retires the cloned snapshot must
    spare every file a live clone still references, and the clone
    keeps reading bit-exact afterwards."""
    src = _mk(spark, tmp_path)
    dst = os.path.join(str(tmp_path), "dst")
    clone_table(src, dst)
    assert _lease_files(src), "clone registered no lease on its source"
    # churn the source so v1's files retire from ITS retention window
    commit_merge(spark, src, spark.createDataFrame(
        [Row(k=i, part=("a" if i % 2 else "b"), v=float(i) + 100,
             op="U") for i in range(1, 11)]),
        ["k", "part"], "part")
    commit_append(spark, src, spark.createDataFrame(
        [Row(k=50, v=5.0, part="a")]), "part")
    deleted = vacuum(src, keep_versions=1)
    # the clone's whole snapshot still reads — pre-lease this raised
    # missing-input-files (v1's rewritten files were known-dead)
    assert sorted((r["k"], r["v"]) for r in
                  read_snapshot(spark, dst).collect()) == \
        [(i, float(i)) for i in range(1, 11)]
    # and the source's own head moved on unaffected
    assert {r["v"] for r in read_snapshot(spark, src)
            .where("k <= 10").collect()} == {float(i) + 100
                                             for i in range(1, 11)}


def test_lease_releases_after_localization(spark, tmp_path):
    src = _mk(spark, tmp_path)
    dst = os.path.join(str(tmp_path), "dst")
    clone_table(src, dst)
    commit_compaction(spark, dst, "part")  # localize: owns all files
    commit_append(spark, src, spark.createDataFrame(
        [Row(k=50, v=5.0, part="a")]), "part")
    # while the clone RETAINS its pre-localization v1, the lease must
    # hold (clone time travel to v1 still reads source files) ...
    vacuum(src, keep_versions=1)
    assert _lease_files(src), (
        "lease released while the clone still retains a version "
        "referencing the source")
    assert sorted(r["k"] for r in read_snapshot(
        spark, dst, version=1).collect()) == list(range(1, 11))
    # ... and releases once the clone vacuums those versions away
    vacuum(dst, keep_versions=1)
    vacuum(src, keep_versions=1)
    assert _lease_files(src) == [], (
        "fully-localized clone's lease must release at the next "
        "source vacuum")
    assert sorted(r["k"] for r in
                  read_snapshot(spark, dst).collect()) == \
        list(range(1, 11))


def test_dropped_clone_stops_pinning(spark, tmp_path):
    import json as _json
    import shutil

    src = _mk(spark, tmp_path)
    dst = os.path.join(str(tmp_path), "dst")
    clone_table(src, dst)
    commit_merge(spark, src, spark.createDataFrame(
        [Row(k=i, part=("a" if i % 2 else "b"), v=float(i) + 100,
             op="U") for i in range(1, 11)]),
        ["k", "part"], "part")
    shutil.rmtree(dst)  # drop the clone without any release call
    # age the lease past the creation-window grace
    lease = os.path.join(src, ".clone_leases", _lease_files(src)[0])
    doc = _json.load(open(lease))
    doc["ts"] -= 3600
    open(lease, "w").write(_json.dumps(doc))
    deleted = vacuum(src, keep_versions=1)
    assert _lease_files(src) == [], "dropped clone's lease must go"
    assert deleted, "retired v1 files must actually delete now"


def test_clone_lease_pins_dv_sidecars(spark, tmp_path):
    src = _mk(spark, tmp_path, cdf=True)
    commit_delete(spark, src, spark.createDataFrame(
        [Row(k=4, part="b")]), ["k", "part"], "part")
    dst = os.path.join(str(tmp_path), "dst")
    clone_table(src, dst)  # references src files AND src's vector
    # source rewrites everything (compaction reconciles the vector)
    commit_compaction(spark, src, "part")
    vacuum(src, keep_versions=1)
    assert sorted(r["k"] for r in
                  read_snapshot(spark, dst).collect()) == \
        [1, 2, 3, 5, 6, 7, 8, 9, 10]


def test_clone_of_clone_leases_the_ultimate_owner(spark, tmp_path):
    src = _mk(spark, tmp_path)
    c1 = os.path.join(str(tmp_path), "c1")
    c2 = os.path.join(str(tmp_path), "c2")
    clone_table(src, c1)
    clone_table(c1, c2)
    # c2's entries point at src, so src carries BOTH leases
    assert len(_lease_files(src)) == 2
    # c1 localizes (and vacuums its foreign-referencing versions) and
    # releases; c2 still pins src
    commit_compaction(spark, c1, "part")
    vacuum(c1, keep_versions=1)
    commit_merge(spark, src, spark.createDataFrame(
        [Row(k=i, part=("a" if i % 2 else "b"), v=0.0, op="U")
         for i in range(1, 11)]), ["k", "part"], "part")
    vacuum(src, keep_versions=1)
    assert len(_lease_files(src)) == 1
    assert sorted(r["k"] for r in
                  read_snapshot(spark, c2).collect()) == list(
        range(1, 11))


def test_inflight_clone_past_grace_keeps_pinning(spark, tmp_path):
    """r13 (ADVICE 3b): a clone whose segment/manifest writes take
    longer than the 60s claim grace must NOT lose its lease — the dst
    directory existing without a pointer means creation-in-flight, and
    the lease keeps pinning the recorded source version + exact file
    list until the reader TTL (pre-fix: the lease was removed at 60s
    and the landing clone's sources were vacuumable)."""
    import json as _json

    src = _mk(spark, tmp_path)
    dst = os.path.join(str(tmp_path), "dst")
    clone_table(src, dst)
    # rewind to mid-creation: pointer not yet flipped, lease aged 5 min
    os.remove(os.path.join(dst, "_current"))
    lease = os.path.join(src, ".clone_leases", _lease_files(src)[0])
    doc = _json.load(open(lease))
    doc["ts"] -= 300.0
    open(lease, "w").write(_json.dumps(doc))
    commit_merge(spark, src, spark.createDataFrame(
        [Row(k=i, part=("a" if i % 2 else "b"), v=float(i) + 100,
             op="U") for i in range(1, 11)]), ["k", "part"], "part")
    vacuum(src, keep_versions=1)
    assert _lease_files(src), (
        "in-flight clone lease removed past grace — the r12 hazard")
    # the clone's pointer flip lands now; it must read the v1 files
    with open(os.path.join(dst, "_current"), "w") as f:
        f.write("1")
    assert sorted(r["k"] for r in
                  read_snapshot(spark, dst).collect()) == list(
        range(1, 11))


def test_indirect_owner_creation_window_pins_exact_files(spark,
                                                         tmp_path):
    """r13 (ADVICE 3a): during a clone-of-clone's creation window, its
    lease on the ULTIMATE owner must pin the referenced files even
    though that root is not the direct clone source (pre-fix: the
    indirect lease carried src_version=None and no file list, so the
    window relied entirely on the intermediate clone's own lease —
    gone here because the intermediate localized and vacuumed)."""
    src = _mk(spark, tmp_path)
    c1 = os.path.join(str(tmp_path), "c1")
    c2 = os.path.join(str(tmp_path), "c2")
    clone_table(src, c1)
    clone_table(c1, c2)
    os.remove(os.path.join(c2, "_current"))  # c2 mid-creation
    # the intermediate localizes and its lease on src releases
    commit_compaction(spark, c1, "part")
    vacuum(c1, keep_versions=1)
    # src rewrites everything and vacuums while c2 is still unreadable
    commit_merge(spark, src, spark.createDataFrame(
        [Row(k=i, part=("a" if i % 2 else "b"), v=0.0, op="U")
         for i in range(1, 11)]), ["k", "part"], "part")
    vacuum(src, keep_versions=1)
    with open(os.path.join(c2, "_current"), "w") as f:
        f.write("1")
    assert sorted(r["k"] for r in
                  read_snapshot(spark, c2).collect()) == list(
        range(1, 11))
