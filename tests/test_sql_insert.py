"""SQL DML writes for manifest tables (L34, r13 — r12 verdict #2):
INSERT INTO through the DataSource writer half lands a REAL manifest
append — constraints, CDF, versioning, and refusals identical to the
Python commit path."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from silvia_spark.operators.manifest_table import (
    add_check_constraint, commit_append, create_table, current_version,
    read_changes, read_snapshot, rename_column)
from silvia_spark.sources.manifest_stream import (
    ManifestTableDataSource, read_table, register_sql_table)


def _mk(spark, tmp_path, name="tbl", **kw):
    root = os.path.join(str(tmp_path), name)
    df = spark.createDataFrame(
        [Row(k=i, v=float(i), part=("a" if i % 2 else "b"))
         for i in range(1, 11)])
    create_table(df.select("k", "v", "part"), root, "part", **kw)
    return root


def _sql_table(spark, root, name="sql_tbl"):
    return register_sql_table(spark, name, root)


def test_insert_into_sql_text_end_to_end(spark, tmp_path):
    root = _mk(spark, tmp_path)
    t = _sql_table(spark, root)
    spark.sql(f"INSERT INTO {t} VALUES (100, 3.5, 'a'), (101, 4.5, 'b')")
    assert current_version(root) == 2
    got = sorted((r["k"], r["v"], r["part"]) for r in
                 read_snapshot(spark, root).collect())
    assert (100, 3.5, "a") in got and (101, 4.5, "b") in got
    assert len(got) == 12
    # the catalog table reads through the same snapshot
    assert spark.sql(f"SELECT count(*) c FROM {t}"
                     ).collect()[0]["c"] == 12
    # v1 untouched (append, never rewrite)
    assert read_snapshot(spark, root, version=1).count() == 10


def test_insert_matches_python_append_result(spark, tmp_path):
    r_sql = _mk(spark, tmp_path, "t_sql")
    r_py = _mk(spark, tmp_path, "t_py")
    batch = spark.createDataFrame(
        [Row(k=50 + i, v=float(i), part=("a" if i % 3 else "b"))
         for i in range(6)]).select("k", "v", "part")
    t = _sql_table(spark, r_sql)
    batch.createOrReplaceTempView("ins_src")
    spark.sql(f"INSERT INTO {t} SELECT k, v, part FROM ins_src")
    commit_append(spark, r_py, batch, "part")
    a = sorted(map(tuple, read_snapshot(spark, r_sql).collect()))
    b = sorted(map(tuple, read_snapshot(spark, r_py).collect()))
    assert a == b
    # both carry per-file stats for the table's stats_cols policy and
    # identical version/op metadata
    assert current_version(r_sql) == current_version(r_py) == 2


def test_insert_enforces_check_constraints(spark, tmp_path):
    root = _mk(spark, tmp_path)
    add_check_constraint(spark, root, "v_pos", "v > 0")
    t = _sql_table(spark, root)
    v0 = current_version(root)
    with pytest.raises(Exception, match="v_pos"):
        spark.sql(f"INSERT INTO {t} VALUES (200, -1.0, 'a')")
    assert current_version(root) == v0
    assert read_snapshot(spark, root).where("k = 200").count() == 0
    # NULL passes (SQL CHECK semantics), like the Python path
    spark.sql(f"INSERT INTO {t} VALUES (201, NULL, 'a')")
    assert read_snapshot(spark, root).where("k = 201").count() == 1


def test_insert_records_cdf(spark, tmp_path):
    root = _mk(spark, tmp_path, cdf=True)
    t = _sql_table(spark, root)
    spark.sql(f"INSERT INTO {t} VALUES (300, 1.0, 'b')")
    ch = read_changes(spark, root, 1, 2, row_level=True)
    assert [(r["k"], r["_change_type"]) for r in ch.collect()] == \
        [(300, "insert")]


def test_insert_overwrite_truncate_semantics(spark, tmp_path):
    """r14: INSERT OVERWRITE (the truncate-style overwrite Spark's
    Python-DS bridge delivers under static mode) replaces the WHOLE
    table as one versioned commit — the replaced snapshot stays
    time-travelable; an empty overwrite truncates to a typed empty
    frame; CDF-enabled tables refuse."""
    root = _mk(spark, tmp_path)
    t = _sql_table(spark, root, name="sql_ow_tbl")
    spark.sql(f"INSERT OVERWRITE {t} "
              "VALUES (500, 5.5, 'a'), (501, 6.5, 'b')")
    assert current_version(root) == 2
    got = sorted((r["k"], r["v"], r["part"]) for r in
                 read_snapshot(spark, root).collect())
    assert got == [(500, 5.5, "a"), (501, 6.5, "b")]
    from silvia_spark.operators.manifest_table import load_manifest
    assert load_manifest(root)["op"] == "overwrite"
    assert read_snapshot(spark, root, version=1).count() == 10
    # empty overwrite = legal truncate to an empty snapshot
    spark.sql(f"INSERT OVERWRITE {t} "
              f"SELECT * FROM {t} WHERE k < 0")
    assert read_snapshot(spark, root).count() == 0
    assert read_snapshot(spark, root, version=2).count() == 2

    # CDF-enabled table refuses overwrite at plan time
    root2 = os.path.join(str(tmp_path), "cdftbl")
    df = spark.createDataFrame([Row(k=1, v=1.0, part="a")])
    create_table(df.select("k", "v", "part"), root2, "part", cdf=True)
    spark.dataSource.register(ManifestTableDataSource)
    with pytest.raises(Exception, match="CDF"):
        spark.createDataFrame([Row(k=9, v=9.0, part="a")]) \
            .select("k", "v", "part") \
            .write.format("silvia_manifest") \
            .option("path", root2).mode("overwrite").save()


def test_insert_column_mapped_roundtrip(spark, tmp_path):
    """r14 (r13 verdict #2): INSERT INTO a column-mapped table stages
    under the recorded PHYSICAL names — the r13 refusal is lifted.
    The renamed logical column serves old and new rows alike."""
    root = _mk(spark, tmp_path)
    rename_column(root, "v", "val")
    t = _sql_table(spark, root, name="sql_cm_tbl")
    spark.sql(f"INSERT INTO {t} VALUES (100, 42.5, 'a')")
    assert current_version(root) == 3
    got = read_snapshot(spark, root)
    assert got.columns == ["k", "val", "part"]
    assert got.where("k = 100").collect()[0]["val"] == 42.5
    assert got.count() == 11  # old rows still serve through the map
    # the staged file carries the PHYSICAL name ('v'), not 'val'
    import pyarrow.parquet as pq

    from silvia_spark.operators.manifest_table import load_manifest
    new = [e for e in load_manifest(root)["files"]
           if "part-" in e["path"]
           and pq.read_schema(os.path.join(root, e["path"])).names
           == ["k", "v"]]
    assert new, "no staged file carries the physical column names"


def test_insert_hidden_transform_roundtrip(spark, tmp_path):
    """r14 (r13 verdict #2): INSERT INTO a hidden-transform table
    derives the partition value in the write task (the
    _transform_value twin, pinned ≡ the Spark staging expr) — the r13
    refusal is lifted; unrepresentable source types still refuse."""
    root = os.path.join(str(tmp_path), "ttbl")
    df = spark.createDataFrame(
        [Row(k=i, v=float(i), part=f"cat{i % 3}") for i in range(1, 7)])
    create_table(df.select("k", "v", "part"), root, "part",
                 transform="bucket", transform_n=4)
    t = _sql_table(spark, root, name="sql_pt_tbl")
    spark.sql(f"INSERT INTO {t} VALUES (100, 9.0, 'cat1')")
    assert current_version(root) == 2
    got = read_snapshot(spark, root)
    assert got.where("k = 100").count() == 1 and got.count() == 7
    # the new file sits in the same derived bucket dir the Python
    # staging path would choose for 'cat1'
    import zlib

    from silvia_spark.operators.manifest_table import load_manifest
    bucket = str(zlib.crc32(b"cat1") % 4)
    new = [e for e in load_manifest(root)["files"]
           if "part-" in e["path"].rsplit("/", 1)[-1]]
    assert any(e["partition"] == bucket for e in new), (new, bucket)
    # commit_append twin agrees end-to-end
    commit_append(spark, root, spark.createDataFrame(
        [Row(k=101, v=9.5, part="cat1")]).select("k", "v", "part"),
        "part")
    two = read_snapshot(spark, root).where("k >= 100")
    assert sorted(r["k"] for r in two.collect()) == [100, 101]


def test_insert_null_partition_refuses(spark, tmp_path):
    root = _mk(spark, tmp_path)
    t = _sql_table(spark, root)
    v0 = current_version(root)
    with pytest.raises(Exception, match="NULL"):
        spark.sql(
            f"INSERT INTO {t} VALUES (1, 1.0, CAST(NULL AS STRING))")
    assert current_version(root) == v0


def test_writer_api_append_mode(spark, tmp_path):
    """df.write.format(...).mode('append') — the non-SQL face of the
    same writer — lands the identical commit."""
    root = _mk(spark, tmp_path)
    spark.dataSource.register(ManifestTableDataSource)
    spark.createDataFrame([Row(k=400, v=2.0, part="b")]) \
        .select("k", "v", "part") \
        .write.format("silvia_manifest").option("path", root) \
        .mode("append").save()
    assert current_version(root) == 2
    assert read_table(spark, root).where("k = 400").count() == 1


@pytest.mark.parametrize("race", ["append_first", "merge_usurps"])
def test_insert_commit_rebases_lost_race(spark, tmp_path, monkeypatch,
                                         race):
    """The writer's driver-side commit runs commit_append's optimistic
    loop: a lost version race rebases the INSERT onto the new head, so
    it lands at the next version and neither commit loses a row. A
    commit_append wins v2 just before the writer's claim (an appender
    never replaces a live claim, it waits for its flip), or a merge's
    crash-recovery replace usurps the writer's v2 claim between its
    claim and its flip. The writer is driven in-process: through SQL
    its commit runs in a Python worker, out of a monkeypatch's reach."""
    import pyarrow as pa

    from silvia_spark.operators import manifest_table as mt
    from silvia_spark.sources.manifest_stream import ManifestInsertWriter

    root = _mk(spark, tmp_path)
    w = ManifestInsertWriter({"path": root},
                             read_snapshot(spark, root).schema)
    msg = w.write(iter([pa.RecordBatch.from_pydict(
        {"k": pa.array([200, 201], pa.int64()), "v": [2.0, 3.0],
         "part": ["a", "b"]})]))
    fired = {}
    if race == "append_first":
        real_write = mt._write_doc

        def racy(root_, version, doc, **kw):
            if not fired:
                fired["v"] = version
                commit_append(spark, root, spark.createDataFrame(
                    [Row(k=300, v=30.0, part="z")]), "part")
            return real_write(root_, version, doc, **kw)

        monkeypatch.setattr(mt, "_write_doc", racy)
        want_extra = {(300, 30.0, "z")}
    else:
        real_flip = mt._flip_current

        def racy(r, version, entries=None, **kw):
            if not fired:
                fired["v"] = version
                mt.commit_merge(spark, root, spark.createDataFrame(
                    [Row(k=2, v=202.0, part="b", op="U")]),
                    ["k", "part"], "part")
            return real_flip(r, version, entries, **kw)

        monkeypatch.setattr(mt, "_flip_current", racy)
        want_extra = {(2, 202.0, "b")}
    w.commit([msg])
    assert fired["v"] == 2  # the writer's first claim was indeed v2
    assert current_version(root) == 3
    assert mt.load_manifest(root)["op"] == "append"
    got = {tuple(r) for r in read_snapshot(spark, root).collect()}
    base = {(i, float(i), "a" if i % 2 else "b") for i in range(1, 11)}
    if race == "merge_usurps":
        base.discard((2, 2.0, "b"))
    assert got == base | want_extra | {(200, 2.0, "a"), (201, 3.0, "b")}
