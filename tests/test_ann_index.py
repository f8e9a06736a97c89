"""ANN index persistence prototype (r13 — r12 verdict #8): a warm
persisted index serves the bucket table with NO query-time GEMM, the
incremental path indexes only the corpus delta, and staleness always
falls back to compute — identical pair output in every mode."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from silvia_spark.functions.llm_extras import (ann_index_fresh,
                                               persist_ann_index,
                                               sim_ann_lsh,
                                               sim_ann_lsh_indexed)
from silvia_spark.io import load_table

SF = "/root/testdata/sf0.01"


def _pairs(df):
    return sorted((r["vec_a"], r["vec_b"], r["cos_sim"])
                  for r in df.collect())


def _bucket_plan(spark, sf_dir, index_root):
    from silvia_spark.functions.llm_extras import (_ANN_BUCKET_CAP,
                                                   bucket_keys,
                                                   cap_buckets)
    from silvia_spark.operators.manifest_table import (current_version,
                                                       read_snapshot)

    e = load_table(spark, sf_dir, "embeddings")
    if ann_index_fresh(e, index_root):
        bk = read_snapshot(spark, index_root)
    else:
        bk = bucket_keys(spark, e)
    return bk._jdf.queryExecution().executedPlan().toString()


def test_warm_index_skips_gemm_with_identical_output(spark, tmp_path):
    idx = os.path.join(str(tmp_path), "ann_idx")
    e = load_table(spark, SF, "embeddings")
    v = persist_ann_index(spark, e, idx)
    assert v == 1 and ann_index_fresh(e, idx)
    # the GEMM is GONE from the warm bucket plan: no numpy index kernel
    # (MapInPandas, the r14 form), no posexplode of the
    # embedding, no hyperplane hash-aggregate — a manifest scan only
    plan = _bucket_plan(spark, SF, idx)
    assert "posexplode" not in plan and "xxhash64" not in plan
    assert "mapinpandas" not in plan.lower()
    # and the pair output is identical to the compute-every-time path
    assert _pairs(sim_ann_lsh_indexed(spark, SF, idx)) == \
        _pairs(sim_ann_lsh(spark, SF))
    # re-persist on an unchanged corpus: no-op, same version
    assert persist_ann_index(spark, e, idx) == 1


def test_incremental_index_appends_delta_only(spark, tmp_path):
    idx = os.path.join(str(tmp_path), "ann_idx")
    e = load_table(spark, SF, "embeddings")
    hi = e.agg(F.max("vec_id")).collect()[0][0]
    half = e.where(F.col("vec_id") <= hi // 2)
    assert persist_ann_index(spark, half, idx) == 1
    assert not ann_index_fresh(e, idx)  # covers half, not the corpus
    # growing the corpus appends ONE delta commit (v2), not a rebuild
    assert persist_ann_index(spark, e, idx) == 2
    assert ann_index_fresh(e, idx)
    # the delta commit's row count is the delta's bucket rows
    from silvia_spark.functions.llm_extras import _ANN_TABLES
    from silvia_spark.operators.manifest_table import read_changes

    delta_rows = read_changes(spark, idx, 1, 2).count()
    n_delta = e.where(F.col("vec_id") > hi // 2).count()
    assert delta_rows == n_delta * _ANN_TABLES
    assert _pairs(sim_ann_lsh_indexed(spark, SF, idx)) == \
        _pairs(sim_ann_lsh(spark, SF))


def test_auto_computes_and_ignores_index_root(spark, tmp_path,
                                             monkeypatch):
    """sim_ann_auto has no index route: the index readback measured
    slower than computing the buckets (ANN_INDEX.json), so even with a
    fresh index named by SILVIA_ANN_INDEX_ROOT it plans the hyperplane
    GEMM and the fused kernel, with the same pairs as the index-served
    contract."""
    from silvia_spark.functions.llm_extras import (sim_ann_auto,
                                                   sim_ann_indexed)
    from silvia_spark.io import clear_caches

    idx = os.path.join(str(tmp_path), "ann_idx")
    persist_ann_index(spark, load_table(spark, SF, "embeddings"), idx)
    monkeypatch.setenv("SILVIA_ANN_INDEX_ROOT", idx)
    clear_caches()
    df = sim_ann_auto(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "_ann_gemm_gen" in plan and "_fused_gemm_gen" in plan
    assert _pairs(df) == _pairs(sim_ann_indexed(spark, SF))
    clear_caches()


def test_index_built_over_empty_corpus_then_grown(spark, tmp_path):
    """r13 ADVICE (medium): an index first built over an EMPTY corpus
    records max_vec_id=None; the incremental filter vec_id > NULL then
    selected nothing, committed an empty append, yet advanced the mark
    — ann_index_fresh said True and served an empty bucket table. A
    None high-water mark must index the WHOLE corpus as the delta."""
    idx = os.path.join(str(tmp_path), "ann_idx")
    e = load_table(spark, SF, "embeddings")
    empty = e.where(F.lit(False))
    assert persist_ann_index(spark, empty, idx) == 1
    assert ann_index_fresh(empty, idx)
    assert not ann_index_fresh(e, idx)
    # grow from empty to the full corpus: the whole corpus is indexed
    v = persist_ann_index(spark, e, idx)
    assert v == 2 and ann_index_fresh(e, idx)
    from silvia_spark.functions.llm_extras import _ANN_TABLES
    from silvia_spark.operators.manifest_table import read_snapshot
    assert (read_snapshot(spark, idx).count()
            == e.count() * _ANN_TABLES)
    assert _pairs(sim_ann_lsh_indexed(spark, SF, idx)) == \
        _pairs(sim_ann_lsh(spark, SF))


def test_stale_or_missing_index_falls_back(spark, tmp_path):
    idx = os.path.join(str(tmp_path), "ann_idx")
    # missing: compute path (the numpy GEMM kernel present), correct
    # output
    plan = _bucket_plan(spark, SF, idx)
    assert "mapinpandas" in plan.lower()
    assert _pairs(sim_ann_lsh_indexed(spark, SF, idx)) == \
        _pairs(sim_ann_lsh(spark, SF))
