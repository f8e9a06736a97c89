"""Commit-time CHECK constraints (L24): enforcement before staging,
SQL NULL-pass semantics, existing-data validation, carry across every
commit path, and the rename/drop interaction."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from silvia_spark.operators.manifest_table import (
    ConstraintViolation, add_check_constraint, commit_append,
    commit_compaction, commit_delete, commit_merge, create_table,
    current_version, drop_check_constraint, drop_column, load_manifest,
    read_snapshot, rename_column)


def _mk(spark, tmp_path, rows=None):
    root = os.path.join(str(tmp_path), "tbl")
    df = spark.createDataFrame(
        rows or [Row(k=i, part=("a" if i % 2 else "b"), v=float(i))
                 for i in range(1, 21)])
    create_table(df.select("k", "v", "part"), root, "part")
    return root


def test_violating_append_refused_atomically(spark, tmp_path):
    root = _mk(spark, tmp_path)
    add_check_constraint(spark, root, "v_pos", "v > 0")
    v0 = current_version(root)
    before = sorted(read_snapshot(spark, root).collect())
    files = [e["path"] for e in load_manifest(root)["files"]]
    bad = spark.createDataFrame([Row(k=99, v=-1.0, part="a")])
    with pytest.raises(ConstraintViolation, match="v_pos"):
        commit_append(spark, root, bad, "part")
    assert current_version(root) == v0
    assert sorted(read_snapshot(spark, root).collect()) == before
    # and nothing staged became visible in the manifest
    assert [e["path"] for e in load_manifest(root)["files"]] == files


def test_null_predicate_passes_sql_semantics(spark, tmp_path):
    root = _mk(spark, tmp_path)
    add_check_constraint(spark, root, "v_pos", "v > 0")
    withnull = spark.createDataFrame(
        [Row(k=100, v=None, part="a")],
        schema=read_snapshot(spark, root).schema)
    commit_append(spark, root, withnull.select("k", "v", "part"), "part")
    got = read_snapshot(spark, root).where(F.col("k") == 100).collect()
    assert len(got) == 1 and got[0]["v"] is None


def test_add_refuses_when_existing_data_violates(spark, tmp_path):
    root = _mk(spark, tmp_path)
    v0 = current_version(root)
    with pytest.raises(ConstraintViolation, match="existing data"):
        add_check_constraint(spark, root, "impossible", "k > 5")
    assert current_version(root) == v0
    assert "constraints" not in load_manifest(root)


def test_merge_change_batch_enforced(spark, tmp_path):
    root = _mk(spark, tmp_path)
    add_check_constraint(spark, root, "v_pos", "v > 0")
    v0 = current_version(root)
    changes = spark.createDataFrame(
        [Row(k=1, part="a", v=-5.0, op="U")])
    with pytest.raises(ConstraintViolation, match="v_pos"):
        commit_merge(spark, root, changes, ["k", "part"], "part")
    assert current_version(root) == v0
    # deletes cannot violate a CHECK: they write no rows
    ok = spark.createDataFrame([Row(k=1, part="a", v=0.0, op="D")])
    commit_merge(spark, root, ok, ["k", "part"], "part")
    assert read_snapshot(spark, root).where("k = 1").count() == 0


def test_multiple_constraints_one_error_names_all_failed(spark,
                                                         tmp_path):
    root = _mk(spark, tmp_path)
    add_check_constraint(spark, root, "v_pos", "v > 0")
    add_check_constraint(spark, root, "k_small", "k < 1000")
    bad = spark.createDataFrame([Row(k=5000, v=-1.0, part="a")])
    with pytest.raises(ConstraintViolation) as ei:
        commit_append(spark, root, bad, "part")
    assert "v_pos" in str(ei.value) and "k_small" in str(ei.value)


def test_constraints_carry_across_every_commit_path(spark, tmp_path):
    root = _mk(spark, tmp_path)
    add_check_constraint(spark, root, "v_pos", "v > 0")
    commit_append(spark, root,
                  spark.createDataFrame([Row(k=50, v=5.0, part="a")]),
                  "part")
    commit_merge(spark, root,
                 spark.createDataFrame([Row(k=2, part="b", v=9.0,
                                            op="U")]),
                 ["k", "part"], "part")
    commit_delete(spark, root,
                  spark.createDataFrame([Row(k=4, part="b")]),
                  ["k", "part"], "part")
    commit_compaction(spark, root, "part")
    assert load_manifest(root)["constraints"] == {"v_pos": "v > 0"}
    # still enforced after the whole chain
    with pytest.raises(ConstraintViolation):
        commit_append(
            spark, root,
            spark.createDataFrame([Row(k=60, v=-2.0, part="a")]),
            "part")


def test_rename_and_drop_of_referenced_column_refused(spark, tmp_path):
    root = _mk(spark, tmp_path)
    add_check_constraint(spark, root, "v_pos", "v > 0")
    with pytest.raises(ValueError, match="referenced by CHECK"):
        rename_column(root, "v", "val")
    with pytest.raises(ValueError, match="referenced by CHECK"):
        drop_column(root, "v")
    # an UNreferenced column still renames fine
    rename_column(root, "k", "key")
    assert "key" in read_snapshot(spark, root).columns


def test_drop_constraint_reopens_writes(spark, tmp_path):
    root = _mk(spark, tmp_path)
    add_check_constraint(spark, root, "v_pos", "v > 0")
    drop_check_constraint(root, "v_pos")
    commit_append(spark, root,
                  spark.createDataFrame([Row(k=70, v=-3.0, part="a")]),
                  "part")
    assert (read_snapshot(spark, root).where("k = 70").collect()[0]["v"]
            == -3.0)
    with pytest.raises(ValueError, match="no constraint"):
        drop_check_constraint(root, "v_pos")


def test_duplicate_and_invalid_names_refused(spark, tmp_path):
    root = _mk(spark, tmp_path)
    add_check_constraint(spark, root, "v_pos", "v > 0")
    with pytest.raises(ValueError, match="already exists"):
        add_check_constraint(spark, root, "v_pos", "v > 1")
    with pytest.raises(ValueError, match="identifier"):
        add_check_constraint(spark, root, "not a name", "v > 0")


def test_constraint_enforced_on_evolved_column_null_fill(spark,
                                                         tmp_path):
    """A constraint referencing a column some batches don't carry:
    the missing column NULL-fills, NULL passes (SQL), so narrow
    batches still commit — matching Delta."""
    root = _mk(spark, tmp_path)
    wide = spark.createDataFrame([Row(k=80, v=1.0, part="a", extra=2)])
    commit_append(spark, root, wide, "part")
    add_check_constraint(spark, root, "extra_pos", "extra > 0")
    narrow = spark.createDataFrame([Row(k=81, v=1.0, part="a")])
    commit_append(spark, root, narrow, "part")
    assert read_snapshot(spark, root).where("k = 81").count() == 1


def test_add_constraint_revalidates_after_racing_commit(spark,
                                                        tmp_path,
                                                        monkeypatch):
    """r12 ADVICE regression (TOCTOU): a commit landing between the
    probe scan and the metadata flip was validated against the
    PRE-constraint snapshot, so the constraint could be recorded over
    never-validated (violating) rows. The probe pins its version and
    the commit discards+re-probes when the parent moved — a racing
    violating append now refuses the constraint."""
    import silvia_spark.operators.manifest_table as mt

    root = _mk(spark, tmp_path)
    orig = mt._enforce_constraints
    raced = {"n": 0}

    def racy(df, doc, what):
        if raced["n"] == 0:
            raced["n"] = 1
            commit_append(spark, root, spark.createDataFrame(
                [Row(k=999, v=-5.0, part="a")]), "part")
        return orig(df, doc, what)

    monkeypatch.setattr(mt, "_enforce_constraints", racy)
    with pytest.raises(ConstraintViolation, match="v_pos"):
        add_check_constraint(spark, root, "v_pos", "v > 0")
    assert "v_pos" not in (load_manifest(root).get(
        "constraints") or {})


def test_add_constraint_retries_past_benign_racing_commit(
        spark, tmp_path, monkeypatch):
    """The benign half: a racing commit whose rows PASS the probe on
    re-validation lands the constraint on the second attempt instead
    of failing spuriously."""
    import silvia_spark.operators.manifest_table as mt

    root = _mk(spark, tmp_path)
    orig = mt._enforce_constraints
    raced = {"n": 0}

    def racy(df, doc, what):
        if raced["n"] == 0:
            raced["n"] = 1
            commit_append(spark, root, spark.createDataFrame(
                [Row(k=999, v=5.0, part="a")]), "part")
        return orig(df, doc, what)

    monkeypatch.setattr(mt, "_enforce_constraints", racy)
    v = add_check_constraint(spark, root, "v_pos", "v > 0")
    assert load_manifest(root)["constraints"] == {"v_pos": "v > 0"}
    assert v == current_version(root)
    assert raced["n"] == 1


def test_add_constraint_retries_all_lost_race_outcomes(
        spark, tmp_path, monkeypatch):
    """r13 (ADVICE 4): the probe/commit retry loop must re-probe on
    EVERY lost-race outcome of _commit_metadata — the create-exclusive
    claim losing (FileExistsError) and a usurped flip
    (MetadataCommitRaced) — not only the explicit _Stale parent
    check."""
    import silvia_spark.operators.manifest_table as mt

    root = _mk(spark, tmp_path)
    calls = {"n": 0}
    real = mt._commit_metadata

    def flaky(r, mutate):
        calls["n"] += 1
        if calls["n"] == 1:
            raise FileExistsError("version claim lost (simulated)")
        if calls["n"] == 2:
            raise mt.MetadataCommitRaced(
                "metadata commit lost v2 to a concurrent commit "
                "after its claim (simulated)")
        return real(r, mutate)

    monkeypatch.setattr(mt, "_commit_metadata", flaky)
    v = add_check_constraint(spark, root, "k_pos", "k > 0")
    assert calls["n"] == 3 and v == current_version(root)
    assert "k_pos" in load_manifest(root)["constraints"]


def test_add_constraint_propagates_non_race_failures(
        spark, tmp_path, monkeypatch):
    """r13 ADVICE (low): only the NAMED race types re-probe. A generic
    RuntimeError from _commit_metadata is a genuine failure — it must
    surface immediately (not be retried 8 times and masked as a
    'lost the probe/commit race' message)."""
    import silvia_spark.operators.manifest_table as mt

    root = _mk(spark, tmp_path)
    calls = {"n": 0}

    def broken(r, mutate):
        calls["n"] += 1
        raise RuntimeError("disk on fire (simulated non-race bug)")

    monkeypatch.setattr(mt, "_commit_metadata", broken)
    with pytest.raises(RuntimeError, match="disk on fire"):
        add_check_constraint(spark, root, "k_pos", "k > 0")
    assert calls["n"] == 1
    # and when the race types DO exhaust the retry budget, the final
    # error chains the last underlying exception for diagnosis
    calls["n"] = 0

    def always_raced(r, mutate):
        calls["n"] += 1
        raise mt.MetadataCommitRaced("usurped (simulated)")

    monkeypatch.setattr(mt, "_commit_metadata", always_raced)
    with pytest.raises(RuntimeError,
                       match="lost the probe/commit race") as ei:
        add_check_constraint(spark, root, "k_pos2", "k > 0")
    assert calls["n"] == 8
    assert isinstance(ei.value.__cause__, mt.MetadataCommitRaced)
