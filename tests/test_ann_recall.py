"""ANN recall in the <1 regime — the evidence the hash-green contracts
structurally cannot provide (their oracles prove recall = 1 on their
corpus). A planted hard-pair corpus with EXACT numpy ground truth drives
``bucket_keys_probed`` at table counts where the closed-form model
predicts recall 0.5–0.95, and the model's two claims are asserted:

- probes=0: the model is EXACT (independent sign bits), so measured must
  sit within sampling noise of predicted;
- probes>0: the model is a LOWER bound (probes target the weakest-margin
  bits, which are exactly the bits most likely to disagree — Lv et al.),
  so measured must be ≥ predicted − noise, and in practice well above.

CI-mode only (`full`): ~6 bucket-GEMM pipelines. tools/ann_recall.py is
the full-size (≈10⁴ pairs) version whose artifact is ANN_RECALL.json.
"""

from __future__ import annotations

import math

import pytest

pytestmark = pytest.mark.full

from tools.ann_recall import generate_corpus, measure, predicted_recall

CONFIGS = [(4, 0), (8, 0), (4, 1), (4, 3)]


@pytest.fixture(scope="module")
def results(spark):
    mat, truth = generate_corpus(n_pairs=1200)
    rows = measure(spark, mat, truth, configs=CONFIGS)
    return {(r["tables"], r["probes"]): r for r in rows}


def test_sub1_regime_is_actually_reached(results):
    """The whole point: these configs must measurably MISS pairs."""
    assert results[(4, 0)]["measured"] < 0.7
    assert results[(8, 0)]["measured"] < 0.9


def test_probe0_model_is_exact_within_noise(results):
    for cfg in [(4, 0), (8, 0)]:
        r = results[cfg]
        tol = max(5 * r["sigma"], 0.02)  # binomial noise + dim-64
        # Rademacher-vs-Gaussian projection skew
        assert abs(r["measured"] - r["predicted"]) <= tol, r


def test_probed_model_is_a_lower_bound(results):
    for cfg in [(4, 1), (4, 3)]:
        r = results[cfg]
        assert r["measured"] >= r["predicted"] - 3 * r["sigma"], r


def test_probing_monotonically_buys_recall(results):
    assert (results[(4, 0)]["measured"]
            < results[(4, 1)]["measured"]
            < results[(4, 3)]["measured"])


def test_collision_join_equals_candidate_generator(spark):
    """The cheap truth-side collision join the measurement uses must
    define the same recall as the REAL candidate generator — the ANN
    planner (``ann_join``) at the same (tables, probes, seed), with tau
    just below the planted band so its exact verify keeps every
    colliding truth pair — proven by set equality on a small corpus."""
    from pyspark.sql import functions as F

    from silvia_spark.functions.llm_extras import (ann_join,
                                                   bucket_keys_probed)
    from silvia_spark.io import clear_caches

    mat, truth = generate_corpus(n_pairs=120)
    e = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(mat)],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    truth_df = spark.createDataFrame(
        [(i, j) for i, j, _ in truth], "vec_a BIGINT, vec_b BIGINT")
    assert min(c for _, _, c in truth) >= 0.40
    hits = ann_join(spark, e, tables=4, probes=3, seed=707, tau=0.39,
                    slot="test.recall")

    via_candidates = set(
        (r.vec_a, r.vec_b) for r in
        truth_df.join(hits, ["vec_a", "vec_b"], "left_semi").collect())

    buckets = bucket_keys_probed(spark, e, tables=4, probes=3).persist()
    ba = buckets.select(F.col("vec_id").alias("vec_a"), "table_id",
                        F.col("bucket_key").alias("k_a"),
                        F.col("probe_keys").alias("pk_a"))
    bb = buckets.select(F.col("vec_id").alias("vec_b"), "table_id",
                        F.col("bucket_key").alias("k_b"),
                        F.col("probe_keys").alias("pk_b"))
    collide = ((F.col("k_a") == F.col("k_b"))
               | F.array_contains("pk_a", F.col("k_b"))
               | F.array_contains("pk_b", F.col("k_a")))
    via_collision = set(
        (r.vec_a, r.vec_b) for r in
        truth_df.join(ba, "vec_a").join(bb, ["vec_b", "table_id"])
        .where(collide).select("vec_a", "vec_b").distinct().collect())
    buckets.unpersist()
    clear_caches()

    assert via_candidates == via_collision
    assert via_candidates  # non-vacuous


def test_predicted_recall_closed_form_spotcheck():
    """Pin the model arithmetic itself (cos 0.4, B=4): p ≈ 0.6310,
    q₀ = p⁴ ≈ 0.1585, probe terms per the Lv et al. expansion."""
    p = 1 - math.acos(0.4) / math.pi
    one = predicted_recall([0.4], 1, 0)
    assert abs(one - p ** 4) < 1e-12
    one3 = predicted_recall([0.4], 1, 3)
    expect = p ** 4 + 2 * p ** 3 * (1 - p) + (p * (1 - p)) ** 2
    assert abs(one3 - expect) < 1e-12


def test_sim_ann_auto_routes_and_matches_pinned_variant(spark, monkeypatch):
    """J43: with no index configured, the routed contract IS the base
    contract: the same output and the same number of plan-build jobs
    (the removed variant chooser spent extra build jobs sampling
    bucket occupancy)."""
    from silvia_spark.functions.llm_extras import sim_ann_auto, sim_ann_lsh
    from silvia_spark.io import clear_caches
    from tests.test_minhash_kernel import _jobs_in_group

    sf = "/root/testdata/sf0.01"
    monkeypatch.delenv("SILVIA_ANN_INDEX_ROOT", raising=False)
    sim_ann_lsh(spark, sf)  # fills the per-process sign-matrix cache
    sc = spark.sparkContext
    got = {}
    for name, fn in (("auto", sim_ann_auto), ("lsh", sim_ann_lsh)):
        clear_caches()
        group = f"ann-build-{name}"
        sc.setJobGroup(group, group)
        try:
            df = fn(spark, sf)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        got[name] = (_jobs_in_group(spark, group),
                     sorted(map(tuple, df.collect())))
    assert got["auto"][1] == got["lsh"][1] and got["lsh"][1]
    assert got["auto"][0] == got["lsh"][0], got["auto"][0]
    clear_caches()
