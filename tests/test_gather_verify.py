"""The one exact-cosine route.

Every threshold similarity join — the six consumers of
``llm_extras.ann_join`` and the all-pairs baseline ``sim_join_threshold``
— scores in ``llm_extras.fused_cosine_hits``, fed with rows that carry
their members' vectors. These tests pin its raw ``(a, b, cos_raw)``
triples bit for bit against a driver-side numpy reference using the same
einsum formula, that the retired gather bound no longer changes the
plan, the plan-build job counts, and the corpus shapes the oracle scores
row by row: duplicate ids, repeated rows and NULL embeddings.
"""

from __future__ import annotations

import numpy as np
import pytest

from silvia_spark.io import clear_caches, load_table

SF = "/root/testdata/sf0.01"

# Every consumer of the one ANN planner, as its (tables, probes, seed,
# tau, out) point of llm_extras.ann_join.
ANN_CONSUMERS = {
    "sim_ann_lsh": dict(tables=64, probes=0, seed=101),
    "sim_ann_lsh_multiprobe": dict(tables=24, probes=1, seed=202),
    "sim_ann_lsh_multiprobe2": dict(tables=16, probes=3, seed=303),
    "sim_ann_auto": dict(tables=64, probes=0, seed=101),
    "sim_ann_indexed": dict(tables=64, probes=0, seed=101),
    "dedup_docs_embedding": dict(tables=64, probes=0, seed=101, tau=0.95,
                                 out=("va", "vb")),
}

# Spark jobs that BUILDING each consumer's plan runs (sign matrices
# already memoized). The retired gather route ran three more in each:
# the gather-sizing agg and the corpus-matrix collect.
BUILD_JOBS = {"sim_ann_lsh": 0, "sim_ann_lsh_multiprobe": 0,
              "sim_ann_lsh_multiprobe2": 0, "sim_ann_auto": 0,
              "sim_ann_indexed": 7, "dedup_docs_embedding": 0,
              "sim_join_threshold": 0}


def _triples(rows):
    return sorted((int(r[0]), int(r[1]), float(r[2]).hex()) for r in rows)


def _reference(spark, sf_dir, tau):
    """All pairs a < b with cosine >= tau, driver-side: einsum row-dots
    of the raw float64 rows over the product of sqrt(einsum) norms."""
    tbl = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding").toArrow()
    ids = np.asarray(tbl.column("vec_id").to_pylist(), dtype=np.int64)
    M = np.asarray(tbl.column("embedding").to_pylist(), dtype=np.float64)
    norms = np.sqrt(np.einsum("ij,ij->i", M, M))
    ia, ib = np.triu_indices(len(ids), 1)
    keep = ids[ia] != ids[ib]
    ia, ib = ia[keep], ib[keep]
    cos = np.einsum("ij,ij->i", M[ia], M[ib]) / (norms[ia] * norms[ib])
    hit = cos >= tau
    a, b = ids[ia][hit], ids[ib][hit]
    return _triples(zip(np.minimum(a, b), np.maximum(a, b), cos[hit]))


@pytest.mark.parametrize("name", [*ANN_CONSUMERS, "sim_join_threshold"])
def test_raw_triples_match_numpy_reference(spark, tmp_path, name):
    """Bit identity: the kernel's raw triples equal the numpy all-pairs
    reference (every ANN consumer has recall 1 on this corpus, which
    the oracle parity suite proves independently)."""
    from silvia_spark.functions.llm_extras import (all_pairs, ann_join,
                                                   persist_ann_index)
    from silvia_spark.operators.manifest_table import read_snapshot

    e = load_table(spark, SF, "embeddings")
    clear_caches()
    if name == "sim_join_threshold":
        tau, hits = 0.4, all_pairs(spark, e, tau=0.4)
    else:
        kw = dict(ANN_CONSUMERS[name])
        tau = kw.pop("tau", 0.4)
        if name == "sim_ann_indexed":
            idx = str(tmp_path / "ann_idx")
            persist_ann_index(spark, e, idx)
            kw["buckets"] = read_snapshot(spark, idx)
        hits = ann_join(spark, e, tau=tau, slot=f"test.{name}", **kw)
    got = _triples(hits.collect())
    clear_caches()
    assert got == _reference(spark, SF, tau), name
    assert got or tau == 0.95  # no sf0.01 pair reaches dedup's 0.95


def test_gather_bound_knob_is_not_read(spark, monkeypatch, tmp_path):
    """The retired gather bound switches nothing: under
    SILVIA_GATHER_MAX_BYTES=1 the plan still scores in the fused
    kernel, with no id-gather rescore and no scalar cosine UDF."""
    from silvia_spark import registry

    registry.load_all_modules()
    monkeypatch.setenv("SILVIA_GATHER_MAX_BYTES", "1")
    clear_caches()
    df = registry.QUERIES["sim_ann_lsh"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "_fused_gemm_gen" in plan
    assert "_gather_cos_gen" not in plan and "ArrowEvalPython" not in plan
    clear_caches()


@pytest.mark.parametrize("name", list(BUILD_JOBS))
def test_build_jobs_pinned(spark, name):
    """Building a consumer's plan runs no sizing job and collects no
    corpus matrix: no job at all, save sim_ann_indexed's index
    persist and freshness checks."""
    from silvia_spark import registry
    from tests.test_minhash_kernel import _jobs_in_group

    registry.load_all_modules()
    clear_caches()
    registry.QUERIES[name](spark, SF)  # memoize sign matrices, warm index
    clear_caches()
    sc = spark.sparkContext
    group = f"one-route-build-{name}"
    sc.setJobGroup(group, group)
    try:
        registry.QUERIES[name](spark, SF)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert _jobs_in_group(spark, group) == BUILD_JOBS[name]
    clear_caches()


def _corpus(tmp_path, edit):
    """sf0.01 with its embeddings table rewritten by ``edit`` (a
    pyarrow Table -> Table function); the other tables are symlinks."""
    import os

    import pyarrow.parquet as pq

    from silvia_spark.schemas import TABLE_NAMES

    for t in TABLE_NAMES:
        if t != "embeddings":
            os.symlink(f"{SF}/{t}.parquet", tmp_path / f"{t}.parquet")
    emb = pq.read_table(f"{SF}/embeddings.parquet").replace_schema_metadata()
    pq.write_table(edit(emb), tmp_path / "embeddings.parquet")
    return str(tmp_path)


def _row_of(emb, vid):
    import pyarrow as pa

    return emb.filter(pa.compute.equal(emb["vec_id"], vid))


def _with_vec_id(rows, vid):
    import pyarrow as pa

    return rows.set_column(0, "vec_id",
                           pa.array([vid] * rows.num_rows,
                                    rows.schema.field("vec_id").type))


def _rows(spark, name, sf_dir):
    from silvia_spark import registry

    registry.load_all_modules()
    clear_caches()
    return sorted(map(tuple, registry.QUERIES[name](spark, sf_dir).collect()))


def test_duplicate_vec_ids_scored_row_by_row(spark, tmp_path):
    """A vec_id repeated with a different vector (5 reused for vec_id
    7's vector) is scored row by row, as the oracle scores it: the
    all-pairs baseline matches DuckDB and the LSH join returns the same
    pairs."""
    import pyarrow as pa

    from tests.parity import check

    dup = _corpus(tmp_path, lambda emb: pa.concat_tables(
        [emb, _with_vec_id(_row_of(emb, 7), 5)]))
    assert check("sim_join_threshold", spark, dup, verbose=False)
    rows = _rows(spark, "sim_join_threshold", dup)
    assert rows == _rows(spark, "sim_ann_lsh", dup)
    assert len([r for r in rows if 5 in r[:2]]) > \
        len([r for r in _rows(spark, "sim_join_threshold", SF)
             if 5 in r[:2]])
    clear_caches()


@pytest.mark.parametrize("name", ["sim_join_threshold", "sim_ann_lsh"])
def test_repeated_identical_row_raises(spark, tmp_path, name):
    """A repeated identical (vec_id, embedding) row would lose its
    copy's pairs to the caller's distinct, so the kernel refuses it,
    naming the id."""
    import pyarrow as pa

    from silvia_spark import registry

    rep = _corpus(tmp_path, lambda emb: pa.concat_tables(
        [emb, _row_of(emb, 7)]))
    registry.load_all_modules()
    clear_caches()
    with pytest.raises(Exception, match="vec_id 7 repeats an identical"):
        registry.QUERIES[name](spark, rep).collect()
    clear_caches()


def test_null_embedding_pairs_with_nothing(spark, tmp_path):
    """A NULL embedding has no cosine in the oracle, so it pairs with
    nothing; the all-pairs baseline matches DuckDB."""
    import pyarrow as pa

    from tests.parity import check

    def null_seven(emb):
        col = emb["embedding"]
        vals = [None if i == 7 else v for i, v in
                zip(emb["vec_id"].to_pylist(), col.to_pylist())]
        return emb.set_column(emb.schema.get_field_index("embedding"),
                              "embedding", pa.array(vals, col.type))

    nul = _corpus(tmp_path, null_seven)
    assert check("sim_join_threshold", spark, nul, verbose=False)
    rows = _rows(spark, "sim_join_threshold", nul)
    assert rows and not [r for r in rows if 7 in r[:2]]
    clear_caches()
