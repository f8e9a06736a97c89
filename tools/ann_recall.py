"""Measure LSH recall in the <1 regime against the closed-form model.

Every hash-green ANN contract proves recall = 1 on its corpus — which
says nothing about the regime the (B, T, probes) sizing formula actually
navigates. This experiment plants a corpus of ~10⁴ hard positive pairs
(cosine uniform in [0.40, 0.55], right above the 0.4 threshold, where
recall loss concentrates), computes EXACT ground truth by brute-force
GEMM (numpy, driver-side — the experiment's oracle, not a shipped path),
then sweeps ``bucket_keys_probed`` over table counts small enough that
the model predicts recall 0.4–0.95, and compares.

Model (hyperplane LSH, per pair at cosine c): per-bit agreement
p = 1 − arccos(c)/π; per-table hit with B=4 bits

    probes=0: q = p⁴                      (exact — bits are independent)
    probes=1: q = p⁴ + p³(1−p)            (nominal lower bound)
    probes=3: q = p⁴ + 2p³(1−p) + p²(1−p)²  (nominal lower bound)

pair recall = 1 − (1−q)^T, prediction = mean over the truth pairs. The
probed terms are LOWER bounds by construction: the model charges each
probed key the probability that a FIXED bit differs, but the kernel
probes the smallest-|margin| bits — exactly the bits most likely to
disagree (Lv et al.) — and probes fan out on both pair sides' probe
rows. tests/test_ann_recall.py asserts measured ≥ predicted − 3σ for
probed configs and |measured − predicted| ≤ 5σ+2pp for probe-0 (where
the model is exact up to Rademacher-vs-Gaussian projection skew at
dim=64 and the binomial sampling noise σ = √(r(1−r)/n)).

Run:  python tools/ann_recall.py          (prints one JSON line)
"""

from __future__ import annotations

import json
import math
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DIM = 64
THRESH = 0.4
BITS = 4
SEED = 20260814

# (tables, probes): table counts chosen so predicted recall spans
# ~0.45..0.95 — the regime the contracts' own corpora never reach.
CONFIGS = [(4, 0), (8, 0), (16, 0), (4, 1), (8, 1), (4, 3), (8, 3)]


def generate_corpus(n_pairs: int = 3_000, dim: int = DIM,
                    seed: int = SEED):
    """2·n_pairs unit vectors: pair (2i, 2i+1) planted at a cosine drawn
    uniform in [0.40, 0.55]. Returns (matrix, truth) where truth is the
    EXACT brute-force GEMM pair list at cosine ≥ THRESH: the planted
    pairs plus the accidental cross pairs (at dim 64 a random pair
    clears 0.4 with p ≈ 5e-4, so 6k vectors contribute ~9k accidental
    pairs — themselves sitting just above the threshold, hard positives
    too). Default sizing lands |truth| ≈ 10⁴."""
    rng = np.random.default_rng(seed)
    a = rng.standard_normal((n_pairs, dim))
    a /= np.linalg.norm(a, axis=1, keepdims=True)
    w = rng.standard_normal((n_pairs, dim))
    w -= (w * a).sum(axis=1, keepdims=True) * a  # orthogonalize
    w /= np.linalg.norm(w, axis=1, keepdims=True)
    c = rng.uniform(THRESH, 0.55, size=(n_pairs, 1))
    b = c * a + np.sqrt(1.0 - c * c) * w
    mat = np.empty((2 * n_pairs, dim))
    mat[0::2], mat[1::2] = a, b

    # exact ground truth: full GEMM in blocks (n=2e4 → 4e8 dots ~ secs)
    truth = []
    n = mat.shape[0]
    block = 2048
    for i0 in range(0, n, block):
        g = mat[i0:i0 + block] @ mat.T
        for r, row in enumerate(g):
            i = i0 + r
            for j in np.nonzero(row >= THRESH)[0]:
                if j > i:
                    truth.append((i, int(j), float(row[j])))
    return mat, truth


def predicted_recall(cosines, tables: int, probes: int) -> float:
    total = 0.0
    for c in cosines:
        p = 1.0 - math.acos(min(c, 1.0)) / math.pi
        q = p ** 4
        if probes >= 1:
            q += p ** 3 * (1 - p)
        if probes == 3:
            q += p ** 3 * (1 - p) + (p * (1 - p)) ** 2
        total += 1.0 - (1.0 - q) ** tables
    return total / len(cosines)


def measure(spark, mat, truth, configs=CONFIGS):
    """Recall per config. A truth pair is recalled iff it COLLIDES in
    some table (same bucket, or one side's probe key equals the other's
    base key) — by construction of ``llm_extras.ann_join`` (probe keys
    on one join side against base keys) that is exactly membership in
    its candidate set, so joining the 10⁴ truth pairs against the
    bucket table (O(truth·T) rows) measures the same recall as running
    the planner over the full quadratic candidate set, at ~1/1000 the
    cost. (tests/test_ann_recall.py's consistency case checks the two
    agree: truth pairs semi-joined against ``ann_join`` at a tau just
    below the planted band.)"""
    from pyspark.sql import functions as F

    from silvia_spark.functions.llm_extras import bucket_keys_probed

    e = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(mat)],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>").persist()
    truth_df = spark.createDataFrame(
        [(i, j) for i, j, _ in truth], "vec_a BIGINT, vec_b BIGINT"
    ).persist()
    n_truth = truth_df.count()
    cosines = [c for _, _, c in truth]

    out = []
    for tables, probes in configs:
        buckets = bucket_keys_probed(spark, e, tables=tables,
                                     probes=probes).persist()
        ba = buckets.select(F.col("vec_id").alias("vec_a"), "table_id",
                            F.col("bucket_key").alias("k_a"),
                            F.col("probe_keys").alias("pk_a"))
        bb = buckets.select(F.col("vec_id").alias("vec_b"), "table_id",
                            F.col("bucket_key").alias("k_b"),
                            F.col("probe_keys").alias("pk_b"))
        collide = ((F.col("k_a") == F.col("k_b"))
                   | F.array_contains("pk_a", F.col("k_b"))
                   | F.array_contains("pk_b", F.col("k_a")))
        hits = (truth_df.join(ba, "vec_a").join(bb, ["vec_b", "table_id"])
                .where(collide)
                .select("vec_a", "vec_b").distinct().count())
        buckets.unpersist()
        r = hits / n_truth
        pred = predicted_recall(cosines, tables, probes)
        out.append({"tables": tables, "probes": probes,
                    "pairs": n_truth, "hits": hits,
                    "measured": round(r, 4), "predicted": round(pred, 4),
                    "sigma": round(math.sqrt(pred * (1 - pred) / n_truth),
                                   4)})
    e.unpersist()
    truth_df.unpersist()
    return out


def main() -> None:
    from silvia_spark.session import get_session

    spark = get_session()
    mat, truth = generate_corpus()
    rows = measure(spark, mat, truth)
    print(json.dumps({"experiment": "ann_recall_sub1_regime",
                      "dim": DIM, "threshold": THRESH,
                      "n_vectors": int(mat.shape[0]),
                      "configs": rows}))


if __name__ == "__main__":
    sys.exit(main())
