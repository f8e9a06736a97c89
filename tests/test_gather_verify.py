"""r15 gather/fused verify equivalence guards.

The ANN verify family has three shapes behind one contract: fused
per-bucket GEMM (+ exact rescore) and the join + scalar-kernel fallback
past the gather bound, both planned by ``llm_extras.ann_join``, and the
id-gather kernel of the all-pairs baseline. The oracle parity
suite proves each against DuckDB; THESE tests pin that the shapes agree
with each other and that the guard actually switches — so a future
change cannot silently leave the fallback diverging (it only runs on
corpora too big for the test matrix otherwise).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from silvia_spark.io import clear_caches, load_table

SF = "/root/testdata/sf0.01"


# Every consumer of the one ANN planner (llm_extras.ann_join).
ANN_CONSUMERS = ["sim_ann_lsh", "sim_ann_lsh_multiprobe",
                 "sim_ann_lsh_multiprobe2", "sim_ann_auto",
                 "sim_ann_indexed", "dedup_docs_embedding"]


def _rows(spark, name):
    from silvia_spark import registry

    registry.load_all_modules()
    clear_caches()
    return sorted(map(tuple,
                      registry.QUERIES[name](spark, SF).collect()))


@pytest.mark.parametrize("name", ANN_CONSUMERS)
def test_fused_and_fallback_agree(spark, monkeypatch, name):
    monkeypatch.delenv("SILVIA_ANN_INDEX_ROOT", raising=False)
    fused = _rows(spark, name)
    monkeypatch.setenv("SILVIA_GATHER_MAX_BYTES", "1")
    fallback = _rows(spark, name)
    assert fused == fallback and len(fused) > 0


@pytest.mark.parametrize("bound", [None, "1"], ids=["gather", "join"])
@pytest.mark.parametrize("name", ANN_CONSUMERS)
def test_one_sizing_decision_per_build(spark, monkeypatch, name, bound):
    """ann_join decides gather vs join once: building any consumer's
    plan runs exactly one gather-sizing job on either side of the
    bound (the join fallback used to size the gather a second time)."""
    from silvia_spark import registry
    from silvia_spark.functions import llm_ops

    monkeypatch.delenv("SILVIA_ANN_INDEX_ROOT", raising=False)
    if bound is not None:
        monkeypatch.setenv("SILVIA_GATHER_MAX_BYTES", bound)
    registry.load_all_modules()
    clear_caches()
    calls = []
    real = llm_ops._gather_feasible

    def counted(e):
        calls.append(e)
        return real(e)

    monkeypatch.setattr(llm_ops, "_gather_feasible", counted)
    registry.QUERIES[name](spark, SF)
    assert len(calls) == 1, (name, bound, len(calls))
    clear_caches()


def test_gather_and_fallback_agree_all_pairs(spark, monkeypatch):
    gathered = _rows(spark, "sim_join_threshold")
    monkeypatch.setenv("SILVIA_GATHER_MAX_BYTES", "1")
    fallback = _rows(spark, "sim_join_threshold")
    assert gathered == fallback and len(gathered) > 0


def test_guard_actually_switches_shapes(spark, monkeypatch):
    """The bound must really select the shape: under the default the
    plan carries the fused + gather kernels and NO scalar cosine; at
    bound 1 the scalar-kernel fallback (ArrowEvalPython) returns."""
    from silvia_spark import registry

    registry.load_all_modules()
    clear_caches()
    df = registry.QUERIES["sim_ann_lsh"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "_fused_gemm_gen" in plan and "_gather_cos_gen" in plan
    assert "ArrowEvalPython [_cos_arrow" not in plan
    monkeypatch.setenv("SILVIA_GATHER_MAX_BYTES", "1")
    clear_caches()
    df2 = registry.QUERIES["sim_ann_lsh"](spark, SF)
    plan2 = df2._jdf.queryExecution().executedPlan().toString()
    assert "_fused_gemm_gen" not in plan2
    assert "ArrowEvalPython" in plan2 or "_cos_arrow" in plan2


def test_gather_kernel_rejects_foreign_candidate_ids(spark):
    """The gather kernel must fail LOUDLY (not score a wrong row) when
    a candidate id is absent from the collected corpus."""
    from silvia_spark.functions.llm_ops import _gather_score_hits

    e = load_table(spark, SF, "embeddings")
    bogus = spark.createDataFrame(
        [(10**12, 10**12 + 1)], "vec_a bigint, vec_b bigint")
    hits = _gather_score_hits(e, bogus, 0.4, slot="test.foreign")
    with pytest.raises(Exception, match="not present in the corpus"):
        hits.collect()
    clear_caches()


def _corpus_with_duplicate_vec_id(tmp_path):
    """sf0.01 with one extra embeddings row that reuses vec_id 5 for
    vec_id 7's vector. The other tables are symlinks."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from silvia_spark.schemas import TABLE_NAMES

    for t in TABLE_NAMES:
        if t != "embeddings":
            os.symlink(f"{SF}/{t}.parquet", tmp_path / f"{t}.parquet")
    emb = pq.read_table(f"{SF}/embeddings.parquet").replace_schema_metadata()
    extra = emb.filter(pa.compute.equal(emb["vec_id"], 7))
    extra = extra.set_column(0, "vec_id",
                             pa.array([5], emb.schema.field("vec_id").type))
    pq.write_table(pa.concat_tables([emb, extra]),
                   tmp_path / "embeddings.parquet")
    return str(tmp_path)


def test_duplicate_vec_ids_take_join_path(spark, tmp_path):
    """The gather kernel searchsorts into sorted ids, so a duplicate id
    would score one arbitrary row of its duplicates. A corpus with a
    duplicate vec_id must take the join path and match the DuckDB
    oracle; the clean corpus keeps the gather path."""
    from silvia_spark import registry
    from tests.parity import check

    registry.load_all_modules()
    dup = _corpus_with_duplicate_vec_id(tmp_path)
    for sf_dir, gathered in ((SF, True), (dup, False)):
        clear_caches()
        df = registry.QUERIES["sim_join_threshold"](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert ("_gather_cos_gen" in plan) == gathered, sf_dir
        assert check("sim_join_threshold", spark, sf_dir, verbose=False)
    clear_caches()
