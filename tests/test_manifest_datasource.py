"""Batch DataSource read path for manifest tables (r12, verdict item
3): ``spark.read.format("silvia_manifest")`` / ``read_table`` /
``register_table_view`` must deliver read_snapshot's exact semantics
through a real Spark source — DV masking, column mapping, hidden
partitioning, partition-spec evolution, time travel, the batch change
feed — plus manifest-level file pruning from PUSHED SQL filters."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from silvia_spark.operators import manifest_table as mt
from silvia_spark.sources import manifest_stream as ms
from silvia_spark.sources.manifest_stream import (ManifestBatchReader,
                                                  read_table,
                                                  register_table_view)


def _mk(spark, tmp_path, **kw):
    root = os.path.join(str(tmp_path), "tbl")
    df = spark.createDataFrame(
        [Row(k=i, part=("a" if i % 2 else "b"), v=float(i))
         for i in range(1, 11)])
    mt.create_table(df.select("k", "v", "part"), root, "part", **kw)
    return root


def _vals(df, cols=("k", "v", "part")):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_batch_read_matches_read_snapshot(spark, tmp_path):
    root = _mk(spark, tmp_path)
    got = read_table(spark, root)
    want = mt.read_snapshot(spark, root).select(*got.columns)
    assert _vals(got) == _vals(want)
    assert got.columns == want.columns


def test_version_and_timestamp_time_travel(spark, tmp_path):
    root = _mk(spark, tmp_path)
    mt.commit_append(spark, root, spark.createDataFrame(
        [Row(k=20, v=2.0, part="a")]), "part")
    assert sorted(r["k"] for r in
                  read_table(spark, root, version=1).collect()) == \
        list(range(1, 11))
    assert 20 in {r["k"] for r in read_table(spark, root).collect()}
    ts1 = next(h["ts"] for h in mt.table_history(root)
               if h["version"] == 1)
    at_ts = read_table(spark, root, timestamp=ts1)
    assert sorted(r["k"] for r in at_ts.collect()) == list(range(1, 11))
    with pytest.raises(Exception, match="mutually exclusive"):
        read_table(spark, root, version=1, timestamp=ts1).collect()


def test_dv_delete_masked_through_format_path(spark, tmp_path):
    root = _mk(spark, tmp_path, cdf=True)
    mt.commit_delete(spark, root, spark.createDataFrame(
        [Row(k=4, part="b"), Row(k=7, part="a")]), ["k", "part"],
        "part")
    assert sorted(r["k"] for r in read_table(spark, root).collect()) \
        == [1, 2, 3, 5, 6, 8, 9, 10]
    # and the pre-delete version still reads whole
    assert len(read_table(spark, root, version=1).collect()) == 10


def test_column_mapping_rename_through_format_path(spark, tmp_path):
    root = _mk(spark, tmp_path)
    mt.rename_column(root, "v", "value")
    got = read_table(spark, root)
    assert "value" in got.columns and "v" not in got.columns
    assert _vals(got, ("k", "value", "part")) == \
        [(i, float(i), "a" if i % 2 else "b") for i in range(1, 11)]
    # time travel reads v1 under its own (pre-rename) names
    assert "v" in read_table(spark, root, version=1).columns


def test_hidden_partitioning_never_surfaces(spark, tmp_path):
    root = os.path.join(str(tmp_path), "tbl")
    rows = [Row(k=i, ts=datetime.datetime(2024, 1, 1 + i % 5),
                v=float(i)) for i in range(1, 21)]
    mt.create_table(spark.createDataFrame(rows), root, "ts",
                    transform="days")
    got = read_table(spark, root)
    assert got.columns == ["k", "ts", "v"]
    assert sorted(r["k"] for r in got.collect()) == list(range(1, 21))


def test_partition_spec_evolution_mixed_read(spark, tmp_path):
    root = _mk(spark, tmp_path)
    mt.set_partition_column(root, "k")
    mt.commit_append(spark, root, spark.createDataFrame(
        [Row(k=99, v=9.0, part="z")]), "k")
    got = read_table(spark, root)
    assert _vals(got, ("k", "part")) == sorted(
        [(i, "a" if i % 2 else "b") for i in range(1, 11)]
        + [(99, "z")])


def test_pushed_filters_prune_manifest_partitions(spark, tmp_path):
    """The scale claim: a pushed comparison on a stats-indexed column
    must shrink the PLANNED file list (manifest prune), not just
    filter rows. Asserted at both levels — reader-unit (partitions()
    count under harvested bounds) and end-to-end (SQL result)."""
    root = os.path.join(str(tmp_path), "tbl")
    df = spark.createDataFrame(
        [Row(k=i, part=f"p{i % 8}", v=float(i)) for i in range(1, 201)])
    mt.create_table(df.repartition(8).select("k", "v", "part"), root,
                    "part", stats_cols=["k"])
    schema = ms._table_schema(root)
    rd = ManifestBatchReader(schema, {"path": root})
    base = len(rd.partitions())
    from pyspark.sql.datasource import (EqualTo, GreaterThanOrEqual,
                                        LessThan)
    rd2 = ManifestBatchReader(schema, {"path": root})
    leftover = list(rd2.pushFilters(
        [GreaterThanOrEqual(("k",), 190), LessThan(("k",), 195)]))
    assert len(leftover) == 2  # every filter returned: Spark re-applies
    assert rd2._prune == {"k": (190, 195)}
    assert 0 < len(rd2.partitions()) < base
    # equality on the partition-adjacent stats column prunes hardest
    rd3 = ManifestBatchReader(schema, {"path": root})
    list(rd3.pushFilters([EqualTo(("k",), 7)]))
    assert len(rd3.partitions()) < base
    # end-to-end through SQL: same rows as the unpruned read's filter
    register_table_view(spark, "ds_prune", root)
    got = sorted(r["k"] for r in spark.sql(
        "SELECT k FROM ds_prune WHERE k >= 190 AND k < 195").collect())
    assert got == [190, 191, 192, 193, 194]


def test_everything_pruned_is_valid_empty_frame(spark, tmp_path):
    root = _mk(spark, tmp_path, stats_cols=["k"])
    register_table_view(spark, "ds_empty", root)
    assert spark.sql("SELECT * FROM ds_empty WHERE k > 999").count() == 0


def test_changes_since_matches_read_changes(spark, tmp_path):
    root = _mk(spark, tmp_path, cdf=True)
    mt.commit_append(spark, root, spark.createDataFrame(
        [Row(k=20, v=2.0, part="a")]), "part")
    mt.commit_delete(spark, root, spark.createDataFrame(
        [Row(k=4, part="b")]), ["k", "part"], "part")
    got = read_table(spark, root, changes_since=1)
    assert sorted((r["k"], r["_change_type"], r["_commit_version"])
                  for r in got.collect()) == \
        [(4, "delete", 3), (20, "insert", 2)]
    want = mt.read_change_feed(spark, root, since=1)
    assert sorted((r["k"], r["_change_type"], r["_commit_version"])
                  for r in want.collect()) == \
        sorted((r["k"], r["_change_type"], r["_commit_version"])
               for r in got.collect())
    # one window over every kind of version — create, append, DV
    # delete, SQL MERGE update, compaction, rename: the batch feed, the
    # batch changesSince reader and the drained CDC stream agree
    from silvia_spark.sources.manifest_stream import read_stream_changes
    from silvia_spark.sources.sql_dml import merge_into_sql
    from tests.test_manifest_cdf import _drain

    spark.createDataFrame([Row(k=2, part="b", v=99.0)]) \
        .createOrReplaceTempView("ds_cdf_src")
    merge_into_sql(spark, f"""
        MERGE INTO `{root}` AS t USING ds_cdf_src AS s
        ON t.k = s.k AND t.part = s.part
        WHEN MATCHED THEN UPDATE SET v = s.v""")
    mt.commit_compaction(spark, root, "part")
    mt.rename_column(root, "v", "val")

    def bag(rows):
        return sorted((r["_commit_version"], r["_change_type"], r["k"],
                       r["val"]) for r in rows)

    feed = bag(mt.read_change_feed(spark, root, since=0).collect())
    assert (4, "delete", 2, 2.0) in feed and (4, "insert", 2, 99.0) in feed
    assert len(feed) == 10 + 1 + 1 + 2
    assert bag(read_table(spark, root, changes_since=0).collect()) == feed
    assert bag(_drain(spark, read_stream_changes(spark, root),
                      str(tmp_path / "ckpt"))) == feed
    # empty window = valid empty frame, schema intact
    head = mt.current_version(root)
    empty = read_table(spark, root, changes_since=head)
    assert empty.count() == 0
    assert "_change_type" in empty.columns


def test_sql_aggregate_over_view_matches_snapshot(spark, tmp_path):
    root = _mk(spark, tmp_path)
    register_table_view(spark, "ds_agg", root)
    got = spark.sql("SELECT part, count(*) AS c, sum(k) AS sk "
                    "FROM ds_agg GROUP BY part ORDER BY part").collect()
    want = (mt.read_snapshot(spark, root).groupBy("part")
            .agg(F.count(F.lit(1)).alias("c"), F.sum("k").alias("sk"))
            .orderBy("part").collect())
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_changes_since_names_vacuumed_diff_base(spark, tmp_path):
    """r13 (ADVICE 5): when the SINCE manifest itself was vacuumed but
    since+1..head survive, the batch change feed must fail with the
    widen-keep_versions diagnostic naming the missing BASE manifest,
    not a bare FileNotFoundError from the unguarded base load."""
    import os

    from pyspark.sql import Row

    from silvia_spark.operators.manifest_table import (commit_append,
                                                       create_table,
                                                       vacuum)

    root = os.path.join(str(tmp_path), "tbl")
    df = spark.createDataFrame(
        [Row(k=i, part="a", v=float(i)) for i in range(1, 4)])
    create_table(df, root, "part", cdf=True)
    for i in range(3):
        commit_append(spark, root, spark.createDataFrame(
            [Row(k=10 + i, part="a", v=1.0)]), "part")
    vacuum(root, keep_versions=2)  # keeps v3, v4; v2 (the base) gone
    with pytest.raises(Exception, match="diff base"):
        read_table(spark, root, changes_since=2).collect()
