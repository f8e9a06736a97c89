"""SQL MERGE/UPDATE/DELETE text entry points (r14 — r13 verdict #1
and #9): statement parsing, standard-SQL clause semantics (first
applicable WHEN wins, multi-match raises, NULL predicates keep),
MERGE's two phases (touched files from the statement, one rewrite
pass) and UPDATE/DELETE's routing into commit_update / commit_delete,
and parity of constraints/CDF/time-travel with the Python commit
paths."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from silvia_spark.operators.manifest_table import (create_table,
                                                   current_version,
                                                   load_manifest,
                                                   read_changes,
                                                   read_snapshot)
from silvia_spark.sources.sql_dml import (delete_sql, merge_into_sql,
                                          parse_merge, update_sql)


def _mk(spark, tmp_path, n=20, stats=("k",), cdf=False):
    root = os.path.join(str(tmp_path), "tbl")
    df = spark.createDataFrame(
        [Row(k=i, part=("a" if i % 2 else "b"), v=float(i))
         for i in range(1, n + 1)])
    create_table(df.select("k", "v", "part"), root, "part",
                 stats_cols=list(stats), cdf=cdf)
    return root


def _rows(spark, root, version=None):
    return sorted((r.k, r.v, r.part) for r in
                  read_snapshot(spark, root, version=version).collect())


# --- parser ----------------------------------------------------------------


def test_parse_merge_structure():
    spec = parse_merge("""
        MERGE INTO tbl AS t USING (SELECT * FROM s WHERE x > 0) AS s
        ON t.k = s.k AND t.p = s.p
        WHEN MATCHED AND s.v < 0 THEN DELETE
        WHEN MATCHED THEN UPDATE SET v = s.v, note = concat('a', 'b')
        WHEN NOT MATCHED AND s.v > 1 THEN INSERT (k, v) VALUES (s.k, s.v)
        WHEN NOT MATCHED THEN INSERT *
        WHEN NOT MATCHED BY SOURCE THEN DELETE;
    """)
    assert spec.target == "tbl" and spec.target_alias == "t"
    assert spec.source.startswith("(") and spec.source_alias == "s"
    assert spec.on_sql == "t.k = s.k AND t.p = s.p"
    assert [a for _c, a, _p in spec.matched] == ["delete", "update"]
    assert spec.matched[0][0].strip() == "s.v < 0"
    assert spec.matched[1][2] == {"v": "s.v",
                                  "note": "concat('a', 'b')"}
    assert spec.not_matched[0][1] == (["k", "v"], ["s.k", "s.v"])
    assert spec.not_matched[1][1] == "*"
    assert spec.by_source == [(None, "delete", None)]


def test_parse_merge_refusals():
    with pytest.raises(ValueError, match="USING"):
        parse_merge("MERGE INTO t ON x WHEN MATCHED THEN DELETE")
    with pytest.raises(ValueError, match="INSERT only"):
        parse_merge("MERGE INTO t USING s ON t.k = s.k "
                    "WHEN NOT MATCHED THEN DELETE")
    with pytest.raises(ValueError, match="cannot INSERT"):
        parse_merge("MERGE INTO t USING s ON t.k = s.k "
                    "WHEN MATCHED THEN INSERT *")
    with pytest.raises(ValueError, match="unterminated"):
        parse_merge("MERGE INTO t USING s ON t.k = (s.k "
                    "WHEN MATCHED THEN DELETE")


# --- MERGE semantics ---------------------------------------------------------


def test_merge_update_delete_insert(spark, tmp_path):
    root = _mk(spark, tmp_path, n=10)
    spark.createDataFrame([
        Row(k=1, nv=100.0), Row(k=2, nv=-1.0), Row(k=99, nv=9.0),
    ]).createOrReplaceTempView("msrc")
    v = merge_into_sql(spark, f"""
        MERGE INTO `{root}` AS t USING msrc AS s ON t.k = s.k
        WHEN MATCHED AND s.nv < 0 THEN DELETE
        WHEN MATCHED THEN UPDATE SET v = s.nv
        WHEN NOT MATCHED THEN INSERT (k, v, part)
             VALUES (s.k, s.nv, 'a')""")
    assert v == 2 == current_version(root)
    got = _rows(spark, root)
    assert (1, 100.0, "a") in got and (99, 9.0, "a") in got
    assert not any(k == 2 for k, _v, _p in got)
    assert len(got) == 10  # 10 - 1 deleted + 1 inserted
    # time travel: v1 unchanged
    assert len(_rows(spark, root, version=1)) == 10
    assert load_manifest(root)["op"] == "merge"


def test_merge_first_applicable_clause_wins(spark, tmp_path):
    root = _mk(spark, tmp_path, n=4)
    spark.createDataFrame([Row(k=1), Row(k=2)]) \
        .createOrReplaceTempView("msrc2")
    merge_into_sql(spark, f"""
        MERGE INTO `{root}` AS t USING msrc2 AS s ON t.k = s.k
        WHEN MATCHED AND t.v > 1.5 THEN UPDATE SET v = 222.0
        WHEN MATCHED THEN UPDATE SET v = 111.0""")
    got = dict((k, v) for k, v, _p in _rows(spark, root))
    assert got[1] == 111.0 and got[2] == 222.0


def test_merge_unmatched_clause_keeps_row(spark, tmp_path):
    """A matched row whose every WHEN MATCHED condition is false must
    survive untouched — including when it shares its ON key group
    with a row that DID change (the group re-emit path)."""
    root = os.path.join(str(tmp_path), "tbl")
    # two rows per key: k=1 has v=1 (changes) and v=50 (kept)
    df = spark.createDataFrame([
        Row(k=1, v=1.0, part="a"), Row(k=1, v=50.0, part="a"),
        Row(k=2, v=2.0, part="b")])
    create_table(df.select("k", "v", "part"), root, "part")
    spark.createDataFrame([Row(k=1)]).createOrReplaceTempView("msrc3")
    merge_into_sql(spark, f"""
        MERGE INTO `{root}` AS t USING msrc3 AS s ON t.k = s.k
        WHEN MATCHED AND t.v < 10 THEN UPDATE SET v = t.v + 1000""")
    got = _rows(spark, root)
    assert got == [(1, 50.0, "a"), (1, 1001.0, "a"), (2, 2.0, "b")]


def test_merge_multi_source_match_raises(spark, tmp_path):
    root = _mk(spark, tmp_path, n=4)
    spark.createDataFrame([Row(k=1, nv=5.0), Row(k=1, nv=6.0)]) \
        .createOrReplaceTempView("mdup")
    with pytest.raises(ValueError, match="more than one source row"):
        merge_into_sql(spark, f"""
            MERGE INTO `{root}` AS t USING mdup AS s ON t.k = s.k
            WHEN MATCHED THEN UPDATE SET v = s.nv""")
    # duplicates that match NO target row are legal (Delta's rule)
    spark.createDataFrame([Row(k=777, nv=5.0), Row(k=777, nv=6.0),
                           Row(k=2, nv=20.0)]) \
        .createOrReplaceTempView("mdup2")
    merge_into_sql(spark, f"""
        MERGE INTO `{root}` AS t USING mdup2 AS s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = s.nv""")
    assert dict((k, v) for k, v, _p in _rows(spark, root))[2] == 20.0


def test_merge_set_star_and_insert_star(spark, tmp_path):
    root = _mk(spark, tmp_path, n=4)
    # source carries the full row shape (k, v, part)
    spark.createDataFrame([Row(k=2, v=200.0, part="b"),
                           Row(k=50, v=500.0, part="a")]) \
        .createOrReplaceTempView("mstar")
    merge_into_sql(spark, f"""
        MERGE INTO `{root}` AS t USING mstar AS s
        ON t.k = s.k AND t.part = s.part
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""")
    got = _rows(spark, root)
    assert (2, 200.0, "b") in got and (50, 500.0, "a") in got
    assert len(got) == 5


def test_merge_by_source_delete(spark, tmp_path):
    root = _mk(spark, tmp_path, n=6)
    spark.createDataFrame([Row(k=i) for i in (1, 2, 3)]) \
        .createOrReplaceTempView("mbs")
    merge_into_sql(spark, f"""
        MERGE INTO `{root}` AS t USING mbs AS s ON t.k = s.k
        WHEN NOT MATCHED BY SOURCE AND t.k > 4 THEN DELETE
        WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = -1.0""")
    got = dict((k, v) for k, v, _p in _rows(spark, root))
    assert sorted(got) == [1, 2, 3, 4]  # 5, 6 deleted
    assert got[4] == -1.0               # by-source update
    assert got[1] == 1.0                # matched rows untouched


def test_merge_refusals(spark, tmp_path):
    root = _mk(spark, tmp_path, n=4)
    spark.createDataFrame([Row(k=1, p2="x")]) \
        .createOrReplaceTempView("mref")
    with pytest.raises(NotImplementedError, match="conjunction"):
        merge_into_sql(spark, f"""
            MERGE INTO `{root}` AS t USING mref AS s ON t.k > s.k
            WHEN MATCHED THEN DELETE""")
    with pytest.raises(NotImplementedError, match="merge "):
        merge_into_sql(spark, f"""
            MERGE INTO `{root}` AS t USING mref AS s ON t.k = s.k
            WHEN MATCHED THEN UPDATE SET k = 99""")
    with pytest.raises(NotImplementedError, match="partition column"):
        merge_into_sql(spark, f"""
            MERGE INTO `{root}` AS t USING mref AS s ON t.k = s.k
            WHEN MATCHED THEN UPDATE SET part = s.p2""")


def test_merge_registered_name_and_catalog_resolution(spark, tmp_path):
    from silvia_spark.catalog import catalog_add
    from silvia_spark.sources.manifest_stream import register_sql_table

    root = _mk(spark, tmp_path, n=4)
    register_sql_table(spark, "silvia_dml_t", root)
    spark.createDataFrame([Row(k=1, nv=9.0)]) \
        .createOrReplaceTempView("mnm")
    merge_into_sql(spark, """
        MERGE INTO silvia_dml_t AS t USING mnm AS s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = s.nv""")
    assert dict((k, v) for k, v, _p in _rows(spark, root))[1] == 9.0

    cat = os.path.join(str(tmp_path), "cat.json")
    catalog_add("silvia_dml_cat", root, catalog=cat)
    merge_into_sql(spark, """
        MERGE INTO silvia_dml_cat AS t USING mnm AS s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = s.nv * 2""",
        catalog=cat)
    assert dict((k, v) for k, v, _p in _rows(spark, root))[1] == 18.0


def test_merge_constraints_and_cdf(spark, tmp_path):
    from silvia_spark.operators.manifest_table import (
        ConstraintViolation, add_check_constraint)

    root = _mk(spark, tmp_path, n=4, cdf=True)
    add_check_constraint(spark, root, "v_pos", "v > 0")
    spark.createDataFrame([Row(k=1, nv=-5.0)]) \
        .createOrReplaceTempView("mcv")
    v0 = current_version(root)
    with pytest.raises(ConstraintViolation, match="v_pos"):
        merge_into_sql(spark, f"""
            MERGE INTO `{root}` AS t USING mcv AS s ON t.k = s.k
            WHEN MATCHED THEN UPDATE SET v = s.nv""")
    assert current_version(root) == v0  # nothing committed
    merge_into_sql(spark, f"""
        MERGE INTO `{root}` AS t USING mcv AS s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = 5.0""")
    feed = read_changes(spark, root, v0, v0 + 1, row_level=True)
    ch = sorted((r["k"], r["_change_type"]) for r in feed.collect())
    assert ch == [(1, "delete"), (1, "insert")]


# --- UPDATE ------------------------------------------------------------------


def test_update_sql_basic_and_noop(spark, tmp_path):
    root = _mk(spark, tmp_path)
    v = update_sql(spark, f"UPDATE `{root}` SET v = v * 10 "
                          "WHERE k <= 3")
    got = dict((k, v_) for k, v_, _p in _rows(spark, root))
    assert got[1] == 10.0 and got[3] == 30.0 and got[4] == 4.0
    assert load_manifest(root)["op"] == "update"
    # no-match: no-op, same version
    assert update_sql(spark, f"UPDATE `{root}` SET v = 0 "
                             "WHERE k > 999") == v
    # NULL predicate keeps (never matches)
    assert update_sql(spark, f"UPDATE `{root}` SET v = 0 "
                             "WHERE v IS NULL") == v


def test_update_sql_stats_pruning_carries_files(spark, tmp_path):
    root = os.path.join(str(tmp_path), "tbl")
    df = spark.createDataFrame(
        [Row(k=i, part="a", v=float(i)) for i in range(1, 101)])
    create_table(df.repartitionByRange(4, "k").select("k", "v", "part"),
                 root, "part", stats_cols=["k"])
    before = {e["path"] for e in load_manifest(root)["files"]}
    update_sql(spark, f"UPDATE `{root}` SET v = 0.0 WHERE k = 1")
    after = {e["path"] for e in load_manifest(root)["files"]}
    carried = before & after
    assert len(carried) >= len(before) - 1 and after - before, (
        f"stats-pruned update carried {len(carried)}/{len(before)}")
    assert read_snapshot(spark, root).where("v = 0.0").count() == 1


def test_update_sql_constraints_and_part_refusal(spark, tmp_path):
    from silvia_spark.operators.manifest_table import (
        ConstraintViolation, add_check_constraint)

    root = _mk(spark, tmp_path)
    add_check_constraint(spark, root, "v_pos", "v > 0")
    v0 = current_version(root)
    with pytest.raises(ConstraintViolation, match="v_pos"):
        update_sql(spark, f"UPDATE `{root}` SET v = -1.0 WHERE k = 1")
    assert current_version(root) == v0
    with pytest.raises(NotImplementedError, match="partition column"):
        update_sql(spark, f"UPDATE `{root}` SET part = 'z'")


# --- DELETE -------------------------------------------------------------------


def test_delete_sql_where_and_full(spark, tmp_path):
    root = _mk(spark, tmp_path, n=10)
    delete_sql(spark, f"DELETE FROM `{root}` WHERE k % 2 = 0")
    assert [k for k, _v, _p in _rows(spark, root)] == [1, 3, 5, 7, 9]
    assert len(_rows(spark, root, version=1)) == 10  # time travel
    # no WHERE: everything goes, one commit
    delete_sql(spark, f"DELETE FROM `{root}`")
    assert _rows(spark, root) == []


def test_delete_sql_sparse_writes_dv_not_rewrite(spark, tmp_path):
    root = os.path.join(str(tmp_path), "tbl")
    df = spark.createDataFrame(
        [Row(k=i, part="a", v=float(i)) for i in range(1, 101)])
    create_table(df.select("k", "v", "part"), root, "part",
                 stats_cols=["k"])
    before = {e["path"] for e in load_manifest(root)["files"]}
    delete_sql(spark, f"DELETE FROM `{root}` WHERE k = 42")
    m = load_manifest(root)
    assert {e["path"] for e in m["files"]} == before, (
        "a 1-row sparse delete must tombstone, not rewrite")
    assert any(e.get("dv") for e in m["files"])
    assert read_snapshot(spark, root).count() == 99


def test_delete_update_null_partition_rows(spark, tmp_path):
    """Predicate DML has no equi-join on the partition value, so NULL
    partitions are first-class (unlike keyed merge)."""
    root = os.path.join(str(tmp_path), "tbl")
    df = spark.createDataFrame(
        [Row(k=1, part=None, v=1.0), Row(k=2, part="a", v=2.0)])
    create_table(df.select("k", "v", "part"), root, "part")
    update_sql(spark, f"UPDATE `{root}` SET v = 9.0 "
                      "WHERE part IS NULL")
    got = _rows(spark, root)
    assert (1, 9.0, None) in got and (2, 2.0, "a") in got
    delete_sql(spark, f"DELETE FROM `{root}` WHERE part IS NULL")
    assert _rows(spark, root) == [(2, 2.0, "a")]


def test_merge_and_update_on_hidden_transform_table(spark, tmp_path):
    """r14: DML on a hidden-transform-partitioned table — MERGE keys
    on the transform SOURCE column (commit_merge derives the dir
    value), and UPDATE refuses to assign the source (a rewrite in
    place cannot move rows between derived partition dirs)."""
    root = os.path.join(str(tmp_path), "ttbl")
    df = spark.createDataFrame(
        [Row(k=i, v=float(i), cat=f"c{i % 3}") for i in range(1, 10)])
    create_table(df.select("k", "v", "cat"), root, "cat",
                 transform="bucket", transform_n=4)
    spark.createDataFrame([Row(k=1, nv=100.0), Row(k=77, nv=7.0)]) \
        .createOrReplaceTempView("mtr")
    merge_into_sql(spark, f"""
        MERGE INTO `{root}` AS t USING mtr AS s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = s.nv
        WHEN NOT MATCHED THEN INSERT (k, v, cat)
             VALUES (s.k, s.nv, 'c9')""")
    got = dict((r["k"], r["v"]) for r in
               read_snapshot(spark, root).collect())
    assert got[1] == 100.0 and got[77] == 7.0 and len(got) == 10
    # predicate UPDATE rides the same transform machinery
    update_sql(spark, f"UPDATE `{root}` SET v = 0.0 WHERE k = 2")
    assert read_snapshot(spark, root).where("v = 0.0").count() == 1
    with pytest.raises(NotImplementedError, match="transform"):
        update_sql(spark, f"UPDATE `{root}` SET cat = 'cX'")
    # and predicate DELETE
    delete_sql(spark, f"DELETE FROM `{root}` WHERE k = 77")
    assert read_snapshot(spark, root).count() == 9


# --- maintenance / DDL verbs -----------------------------------------------


def test_create_table_sql_and_describe_history(spark, tmp_path):
    from silvia_spark.sources.sql_dml import (create_table_sql,
                                              describe_history_sql)

    spark.createDataFrame(
        [Row(k=i, part=("a" if i % 2 else "b"), v=float(i))
         for i in range(1, 9)]).createOrReplaceTempView("ctas_src")
    root = os.path.join(str(tmp_path), "ctbl")
    got = create_table_sql(spark, f"""
        CREATE TABLE silvia_t_ctas PARTITIONED BY (part)
        LOCATION '{root}'
        AS SELECT k, v, part FROM ctas_src""")
    assert got == root and current_version(root) == 1
    assert spark.sql("SELECT count(*) c FROM silvia_t_ctas") \
        .collect()[0]["c"] == 8
    # the registered name resolves for follow-on DML
    update_sql(spark, "UPDATE silvia_t_ctas SET v = 0.0 WHERE k = 1")
    hist = describe_history_sql(spark,
                                "DESCRIBE HISTORY silvia_t_ctas")
    assert [(r["version"], r["op"]) for r in hist.collect()] == \
        [(2, "update"), (1, "create")]
    # unpartitioned CTAS gets the constant partition
    root2 = os.path.join(str(tmp_path), "ctbl2")
    create_table_sql(spark, f"""
        CREATE TABLE `{root2}` LOCATION '{root2}'
        AS SELECT k, v FROM ctas_src WHERE k <= 3""")
    assert read_snapshot(spark, root2).count() == 3
    with pytest.raises(ValueError, match="LOCATION"):
        create_table_sql(spark,
                         "CREATE TABLE nowhere AS SELECT 1 AS x")


def test_optimize_and_vacuum_sql(spark, tmp_path):
    from silvia_spark.operators.manifest_table import commit_append
    from silvia_spark.sources.sql_dml import optimize_sql, vacuum_sql

    root = _mk(spark, tmp_path, n=8)
    for i in range(3):  # fragment
        commit_append(spark, root, spark.createDataFrame(
            [Row(k=100 + i, v=1.0, part="a")]).select("k", "v", "part"),
            "part")
    before = _rows(spark, root)
    files0 = len(load_manifest(root)["files"])
    v = optimize_sql(spark, f"OPTIMIZE `{root}`")
    m = load_manifest(root)
    assert m["op"] == "compaction" and v == current_version(root)
    assert len(m["files"]) < files0
    assert _rows(spark, root) == before  # content-preserving
    # vacuum through SQL: retire pre-compaction snapshots
    removed = vacuum_sql(spark, f"VACUUM `{root}` RETAIN 1 VERSIONS")
    assert removed, "vacuum removed nothing despite retired versions"
    assert _rows(spark, root) == before
    with pytest.raises(NotImplementedError, match="HOURS"):
        vacuum_sql(spark, f"VACUUM `{root}` RETAIN 168 HOURS")
    # ZORDER multi-column form parses and commits
    v2 = optimize_sql(spark, f"OPTIMIZE `{root}` ZORDER BY (k, v)")
    assert v2 == current_version(root)
    assert _rows(spark, root) == before


# --- one pre-scan per commit ---------------------------------------------


@pytest.mark.parametrize("rebase", [False, True],
                         ids=["direct", "rebased"])
@pytest.mark.parametrize("stmt", ["merge", "update", "delete"])
def test_one_prescan_job_per_dml_commit(spark, tmp_path, monkeypatch,
                                        stmt, rebase):
    """Every SQL DML commit runs exactly ONE touched-range pre-scan
    (``_touched_ranges``), and a commit that loses the version race
    re-plans from the manifest alone — it never rescans."""
    from silvia_spark.operators import manifest_table as mt

    root = _mk(spark, tmp_path, n=10)
    calls = {"n": 0}
    real_ranges = mt._touched_ranges

    def counted(*a, **kw):
        calls["n"] += 1
        return real_ranges(*a, **kw)

    monkeypatch.setattr(mt, "_touched_ranges", counted)
    if rebase:
        real_write = mt._write_doc
        fired = {"n": 0}

        def racy(root_, version, doc, **kw):
            if doc.get("op") == stmt and not fired["n"]:
                fired["n"] = 1
                # a disjoint append (new partition) wins the version
                mt.commit_append(spark, root, spark.createDataFrame(
                    [Row(k=99, v=9.0, part="z")]), "part")
            return real_write(root_, version, doc, **kw)

        monkeypatch.setattr(mt, "_write_doc", racy)
    spark.createDataFrame([Row(k=1, nv=100.0)]) \
        .createOrReplaceTempView("msrc1")
    sql = {"merge": f"MERGE INTO `{root}` AS t USING msrc1 AS s "
                    "ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = s.nv",
           "update": f"UPDATE `{root}` SET v = 100.0 WHERE k = 1",
           "delete": f"DELETE FROM `{root}` WHERE k = 1"}[stmt]
    run = {"merge": merge_into_sql, "update": update_sql,
           "delete": delete_sql}[stmt]
    assert run(spark, sql) == 2 + rebase
    assert calls["n"] == 1
    assert load_manifest(root)["op"] == stmt
    got = {r.k: r.v for r in read_snapshot(spark, root).collect()}
    assert got.get(1) == (None if stmt == "delete" else 100.0)
    assert (99 in got) == rebase


# --- MERGE: two phases, one pass over the touched files -----------------


def _etl_shaped(spark, tmp_path, n=400):
    """A lake table built by ten appends (partitioned by event_type)
    and a U/D/I change batch read from parquet, as silvia's own
    stream → lake job merges it. A parquet source has a size Spark
    can plan with; a source of unknown size (an RDD-backed frame) is
    joined by shuffle, which adds jobs."""
    from silvia_spark.operators.manifest_table import commit_append

    types = ["click", "view", "error", "purchase", "signup"]
    root = os.path.join(str(tmp_path), "lake")
    step = n // 10
    for b in range(10):
        commit_append(spark, root, spark.createDataFrame(
            [(i, i * 7 % 100, types[i % 5], float(i % 97))
             for i in range(b * step, (b + 1) * step)],
            "event_id BIGINT, user_id BIGINT, event_type STRING, "
            "value DOUBLE"), "event_type")
    changes = os.path.join(str(tmp_path), "changes.parquet")
    spark.createDataFrame(
        [(i, types[i % 5], 1000.0 + i, "U") for i in range(0, n, 10)]
        + [(i, types[i % 5], 0.0, "D") for i in range(5, n, 20)]
        + [(10_000_000 + i, types[i % 5], 1.0, "I") for i in range(10)],
        "event_id BIGINT, event_type STRING, value DOUBLE, op STRING") \
        .write.parquet(changes)
    spark.read.parquet(changes).createOrReplaceTempView("etl_changes")
    return root, f"""
        MERGE INTO `{root}` AS t USING etl_changes AS s
        ON t.event_id = s.event_id AND t.event_type = s.event_type
        WHEN MATCHED AND s.op = 'D' THEN DELETE
        WHEN MATCHED AND s.op = 'U' THEN UPDATE SET value = s.value
        WHEN NOT MATCHED AND s.op = 'I' THEN INSERT
          (event_id, user_id, event_type, value)
          VALUES (s.event_id, 0, s.event_type, s.value)"""


def _check_etl_merged(spark, root, n=400):
    got = {r.event_id: r.value for r in
           read_snapshot(spark, root).collect()}
    assert len(got) == n - n // 20 + 10
    assert all(got[i] == 1000.0 + i for i in range(0, n, 10))
    assert not any(i in got for i in range(5, n, 20))
    assert got[10_000_003] == 1.0 and got[7] == 7.0


def test_etl_shaped_merge_runs_at_most_8_jobs(spark, tmp_path):
    """The stream → lake job's MERGE (ON pins the partition column) is
    one source pre-scan, which also probes for duplicate keys, and one
    rewrite pass: at most 8 Spark jobs where the change-batch window
    plan ran 20 and a separate duplicate-key action made it 10."""
    from tests.test_minhash_kernel import _jobs_in_group

    root, sql = _etl_shaped(spark, tmp_path)
    sc = spark.sparkContext
    group = "etl-shaped-merge"
    sc.setJobGroup(group, group)
    try:
        merge_into_sql(spark, sql)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = _jobs_in_group(spark, group)
    assert jobs <= 8, f"MERGE ran {jobs} Spark jobs"
    _check_etl_merged(spark, root)


def test_etl_shaped_delete_runs_at_most_8_jobs(spark, tmp_path):
    """The lake job's predicate DELETE (sparse hits: merge-on-read
    delete vectors) is one DV-applied pre-scan for the touched ranges
    and one positional scan of the candidate files through the shared
    entry scan: at most 8 Spark jobs."""
    from tests.test_minhash_kernel import _jobs_in_group

    root, _ = _etl_shaped(spark, tmp_path)
    sc = spark.sparkContext
    group = "etl-shaped-delete"
    sc.setJobGroup(group, group)
    try:
        delete_sql(spark, f"""
            DELETE FROM `{root}`
            WHERE event_type = 'view' AND value > 91""")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = _jobs_in_group(spark, group)
    assert jobs <= 8, f"DELETE ran {jobs} Spark jobs"
    assert load_manifest(root)["op"] == "delete"
    gone = {i for i in range(400) if i % 5 == 1 and i % 97 > 91}
    got = {r.event_id for r in read_snapshot(spark, root).collect()}
    assert gone and not gone & got and len(got) == 400 - len(gone)


def test_pinned_partition_merge_reads_target_once(spark, tmp_path,
                                                  monkeypatch):
    """ON pins the partition column, no BY SOURCE clause: the touched
    set comes from the source's keys, so the target is read exactly
    once — the rewrite set — and never as a whole snapshot."""
    from silvia_spark.operators import manifest_table as mt

    root, sql = _etl_shaped(spark, tmp_path)
    calls = {"read_entries": 0, "read_snapshot": 0, "prescan_files": []}
    real_entries, real_ranges = mt._read_entries, mt._touched_ranges

    def entries(*a, **kw):
        calls["read_entries"] += 1
        return real_entries(*a, **kw)

    def snapshot(*a, **kw):
        calls["read_snapshot"] += 1
        raise AssertionError("MERGE read the whole snapshot")

    def ranges(src, *a, **kw):
        calls["prescan_files"] += src.inputFiles()
        return real_ranges(src, *a, **kw)

    monkeypatch.setattr(mt, "_read_entries", entries)
    monkeypatch.setattr(mt, "read_snapshot", snapshot)
    monkeypatch.setattr(mt, "_touched_ranges", ranges)
    merge_into_sql(spark, sql)
    assert calls["read_entries"] == 1 and calls["read_snapshot"] == 0
    assert not [f for f in calls["prescan_files"] if root in f], (
        "the pre-scan read target files")
    monkeypatch.undo()
    _check_etl_merged(spark, root)


def test_merge_leaves_join_strategy_to_spark(spark, tmp_path,
                                             monkeypatch):
    """No MERGE join carries a broadcast hint: with broadcasting
    turned off (a source too large to collect on the driver), the
    rewrite plan shuffle-joins the source instead of broadcasting it."""
    from silvia_spark.operators import manifest_table as mt

    root, sql = _etl_shaped(spark, tmp_path)
    plans = []
    real = mt._stage_and_commit

    def spy(spark_, root_, doc, op, plan, sets, out, *a, **kw):
        plans.append(out._jdf.queryExecution().executedPlan().toString())
        return real(spark_, root_, doc, op, plan, sets, out, *a, **kw)

    monkeypatch.setattr(mt, "_stage_and_commit", spy)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        merge_into_sql(spark, sql)
    finally:
        spark.conf.set(key, old)
    assert len(plans) == 1 and "Join" in plans[0]
    assert "Broadcast" not in plans[0], plans[0]
    monkeypatch.undo()
    _check_etl_merged(spark, root)


def _two_partitions(spark, tmp_path):
    """k 1..5 in partition a, k 11/13/15 in b; one file per partition,
    k stats-indexed."""
    root = os.path.join(str(tmp_path), "tbl")
    df = spark.createDataFrame(
        [Row(k=k, v=float(k), part="a") for k in range(1, 6)]
        + [Row(k=k, v=float(k), part="b") for k in (11, 13, 15)])
    create_table(df.coalesce(1).select("k", "v", "part"), root, "part",
                 stats_cols=["k"])
    return root


def _files_of(root, part):
    return {e["path"] for e in load_manifest(root)["files"]
            if e["partition"] == part}


def test_unpinned_merge_carries_insert_only_partition(spark, tmp_path):
    """ON without the partition column: the touched set is the target
    rows that match a source key. Partition b's only change is an
    INSERT whose key (12) lies inside b's file range, so its file
    carries by reference instead of being rewritten."""
    root = _two_partitions(spark, tmp_path)
    a0, b0 = _files_of(root, "a"), _files_of(root, "b")
    spark.createDataFrame([Row(k=1, nv=100.0, p="a"),
                           Row(k=12, nv=7.0, p="b")]) \
        .createOrReplaceTempView("mins")
    merge_into_sql(spark, f"""
        MERGE INTO `{root}` AS t USING mins AS s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = s.nv
        WHEN NOT MATCHED THEN INSERT (k, v, part)
             VALUES (s.k, s.nv, s.p)""")
    b1 = _files_of(root, "b")
    assert b0 < b1 and len(b1) == 2, "b's existing file was rewritten"
    assert not a0 & _files_of(root, "a"), "a's file was not rewritten"
    got = _rows(spark, root)
    assert (1, 100.0, "a") in got and (12, 7.0, "b") in got
    assert len(got) == 9


def test_by_source_merge_rewrites_every_file(spark, tmp_path,
                                             monkeypatch):
    """A BY SOURCE clause can change any row the source does not
    match, so phase 1 takes every file from the manifest and runs no
    pre-scan job."""
    from silvia_spark.operators import manifest_table as mt

    root = _two_partitions(spark, tmp_path)
    before = {e["path"] for e in load_manifest(root)["files"]}
    monkeypatch.setattr(mt, "_touched_ranges", lambda *a, **kw: (
        pytest.fail("BY SOURCE MERGE ran a pre-scan")))
    spark.createDataFrame([Row(k=1), Row(k=13)]) \
        .createOrReplaceTempView("mbs2")
    merge_into_sql(spark, f"""
        MERGE INTO `{root}` AS t USING mbs2 AS s ON t.k = s.k
        WHEN NOT MATCHED BY SOURCE AND t.k > 4 THEN DELETE""")
    after = {e["path"] for e in load_manifest(root)["files"]}
    assert not before & after
    assert [k for k, _v, _p in _rows(spark, root)] == [1, 2, 3, 4, 13]


def test_merge_refuses_null_partition_rows_without_part_in_on(
        spark, tmp_path):
    root = os.path.join(str(tmp_path), "tbl")
    create_table(spark.createDataFrame(
        [Row(k=1, part=None, v=1.0), Row(k=2, part="a", v=2.0)])
        .select("k", "v", "part"), root, "part")
    spark.createDataFrame([Row(k=1, nv=9.0), Row(k=2, nv=9.0)]) \
        .createOrReplaceTempView("mnull")
    v0 = current_version(root)
    with pytest.raises(NotImplementedError, match="NULL 'part'"):
        merge_into_sql(spark, f"""
            MERGE INTO `{root}` AS t USING mnull AS s ON t.k = s.k
            WHEN MATCHED THEN UPDATE SET v = s.nv""")
    assert current_version(root) == v0
    # a statement that leaves the NULL-partition row alone commits
    merge_into_sql(spark, f"""
        MERGE INTO `{root}` AS t USING mnull AS s ON t.k = s.k
        WHEN MATCHED AND t.k = 2 THEN UPDATE SET v = s.nv""")
    assert _rows(spark, root) == [(1, 1.0, None), (2, 9.0, "a")]
