"""r14 ANN index-stage kernel swap — equality guard.

The hyperplane bucket producers moved from the JVM GEMM-by-join
(`_quantized_dots`: posexplode ⋈ broadcast sign table → long-sum
hash-aggregate → per-table regroup, two exchanges of n·nproj rows) to
ONE map-only numpy GEMM per Arrow batch (`_bucket_keys_np` — guide
§4.2), measured 12.2 s → 0.55 s on the 20 k-vector sf1 corpus. The swap
is only admissible because the outputs are BIT-identical; this suite
pins that claim:

- bucket keys, weak-bit ranks and dtypes equal the retained JVM
  reference chain for all three hyperplane families on a real corpus;
- the rounding helper replicates `F.round(x·1e9)` (decimal HALF_UP over
  the shortest repr) on adversarial .5-boundary doubles, where
  floor(|v|+0.5) alone would disagree;
- NULL/empty embeddings emit no rows (posexplode semantics) and short
  vectors contribute only their present positions.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import silvia_spark.functions.llm_extras as lx
from silvia_spark.io import load_table

SF = "/root/testdata/sf0.01"


def _jvm_bucket_keys(spark, e, seed, nproj, bits=lx._ANN_BITS):
    """The r13 JVM chain, kept verbatim as the reference semantics."""
    dots = lx._quantized_dots(spark, e, seed, nproj)
    bit_pos = F.expr(f"CAST(pmod(proj_id, {bits}) AS INT)")
    bit_val = F.when(
        F.col("dot_q") >= 0,
        F.expr(f"shiftleft(1, pmod(proj_id, {bits}))")).otherwise(0)
    return (
        dots.select("vec_id",
                    F.expr(f"proj_id div {bits}").alias("table_id"),
                    bit_val.alias("bv"),
                    F.struct(F.abs("dot_q").alias("m"),
                             bit_pos.alias("p")).alias("margin"))
        .groupBy("vec_id", "table_id")
        .agg(F.sum("bv").alias("bucket_key"),
             F.slice(F.sort_array(F.collect_list("margin")), 1, 2)
             .alias("weak2"))
        .select("vec_id", "table_id", "bucket_key",
                F.col("weak2")[0]["p"].alias("w0"),
                F.col("weak2")[1]["p"].alias("w1")))


@pytest.mark.parametrize("seed,nproj", [
    (lx._ANN_SEED, lx._N_PROJ),      # base: 64 tables
    (lx._MP_SEED, lx._MP_NPROJ),     # multiprobe-1: 24 tables
    (lx._MP2_SEED, lx._MP2_NPROJ),   # multiprobe-2: 16 tables
], ids=["base", "mp1", "mp2"])
def test_numpy_kernel_matches_jvm_reference(spark, seed, nproj):
    e = load_table(spark, SF, "embeddings")
    new = lx._bucket_keys_np(spark, e, seed, nproj)
    old = _jvm_bucket_keys(spark, e, seed, nproj)
    assert new.dtypes == old.dtypes
    got = set(map(tuple, new.collect()))
    want = set(map(tuple, old.collect()))
    assert got == want
    assert len(got) == e.count() * (nproj // lx._ANN_BITS)


def test_round_half_up_matches_spark_on_boundaries(spark):
    """Adversarial doubles around k + 0.5 (pre-division by 1e9 so the
    kernel's ×1e9 reproduces them): exact halves, one-ulp neighbours
    (where float |v|+0.5 rounds across the integer but the decimal
    value sits below it), negatives, and plain values."""
    import math

    import numpy as np

    vals = [0.5, 1.5, 2.5, -0.5, -2.5, 0.49999999999999994,
            math.nextafter(2.5, 0.0), math.nextafter(2.5, 10.0),
            math.nextafter(1e8 + 0.5, 0.0), 1e8 + 0.5,
            math.nextafter(1e8 + 0.5, 1e9), -math.nextafter(7.5, 0.0),
            0.0, -0.0, 1.2345678901, -98765.4321000111]
    raw = [v / 1e9 for v in vals]
    jvm = (spark.createDataFrame([(float(v),) for v in raw], "x double")
           .select(F.round(F.col("x") * F.lit(1e9)).cast("bigint")
                   .alias("r")).collect())
    jvm_r = [row["r"] for row in jvm]
    np_r = lx._round_half_up_1e9(np.array(raw, dtype=np.float64))
    assert [int(v) for v in np_r] == jvm_r


def test_null_and_short_embeddings_match_posexplode_semantics(spark):
    rows = [(1, [0.5] * lx._ANN_DIM), (2, None), (3, []),
            (4, [0.25, -0.75])]  # short vector: 2 of 64 positions
    e = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>")
    new = lx._bucket_keys_np(spark, e, lx._ANN_SEED, lx._N_PROJ)
    old = _jvm_bucket_keys(spark, e, lx._ANN_SEED, lx._N_PROJ)
    got = set(map(tuple, new.collect()))
    assert got == set(map(tuple, old.collect()))
    # NULL and empty vectors emit nothing; the others emit one row per
    # table
    assert {r[0] for r in got} == {1, 4}
    assert len(got) == 2 * lx._ANN_TABLES


def test_null_elements_match_jvm_zero_contribution(spark):
    """r15 ADVICE: a NULL ELEMENT inside a vector contributes 0 in the
    JVM chain (the long sum skips null terms) — Arrow ships it to the
    kernel as NaN, which un-fixed poisoned every dot for that vector
    through the GEMM."""
    dim = lx._ANN_DIM
    v_null = [0.5] * dim
    v_null[7] = None
    rows = [(1, v_null), (3, [0.5] * dim)]
    e = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>")
    new = lx._bucket_keys_np(spark, e, lx._ANN_SEED, lx._N_PROJ)
    old = _jvm_bucket_keys(spark, e, lx._ANN_SEED, lx._N_PROJ)
    assert set(map(tuple, new.collect())) == \
        set(map(tuple, old.collect()))


def test_nan_elements_zeroed_not_poisoning(spark):
    """True NaN elements are indistinguishable from NULL after the
    Arrow crossing: the kernel gives them the same 0-contribution (the
    ANSI JVM reference instead throws CAST_OVERFLOW on them — an input
    class the reference rejects outright, so 0-contribution is the
    kernel's documented, non-poisoning behavior)."""
    dim = lx._ANN_DIM
    v_nan = [0.25] * dim
    v_nan[3] = float("nan")
    v_null = [0.25] * dim
    v_null[3] = None
    e = spark.createDataFrame(
        [(1, v_nan), (2, v_null)],
        "vec_id bigint, embedding array<double>")
    rows = lx._bucket_keys_np(spark, e, lx._ANN_SEED,
                              lx._N_PROJ).collect()
    assert len(rows) == 2 * lx._ANN_TABLES
    by_vec = {}
    for r in rows:
        by_vec.setdefault(r["vec_id"], set()).add(
            (r["table_id"], r["bucket_key"], r["w0"], r["w1"]))
    # NaN and NULL land identically (both 0-contribution)
    assert by_vec[1] == by_vec[2]


def test_bits_below_two_refused(spark):
    """r15 ADVICE: bits=1 would silently emit w1 == w0 (a self-probe)
    where the JVM reference's rank-2 weak bit is NULL."""
    e = load_table(spark, SF, "embeddings")
    with pytest.raises(ValueError, match="bits >= 2"):
        lx._bucket_keys_np(spark, e, lx._ANN_SEED, 8, bits=1)


def test_vec_id_type_preserved_by_kernel(spark):
    """r15 ADVICE: the replaced JVM aggregate preserved the input's
    vec_id type; the kernel schema must derive it, not hardcode
    bigint."""
    dim = lx._ANN_DIM
    e = spark.createDataFrame([(7, [0.5] * dim)],
                              "vec_id int, embedding array<double>")
    out = lx._bucket_keys_np(spark, e, lx._ANN_SEED, lx._N_PROJ)
    assert dict(out.dtypes)["vec_id"] == "int"
    assert out.count() == lx._ANN_TABLES
