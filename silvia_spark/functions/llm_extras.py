"""ANN scale paths for the similarity operators — SURVEY.md §2.J addendum.

``sim_join_threshold`` (llm_ops.py, J4) is the exact all-pairs baseline:
quadratic in the corpus, it cannot run at 100 TB. This
module holds the scale-shaped path: ONE planner, ``ann_join``, behind
every hyperplane-LSH consumer — ``sim_ann_lsh``, the two multiprobe
contracts, the index-served ``sim_ann_indexed``, ``sim_ann_auto`` and
training_ops' ``dedup_docs_embedding`` are each one (tables, probes,
seed, tau) point of it:

1. Bucket keys. Per vector, ``T`` bucket keys (one per hash table). A
   key packs ``B`` sign bits; bit *(t,b)* is the sign of a dot product
   with a Rademacher ±1 hyperplane (fixed seed). The dots run as ONE
   numpy GEMM per Arrow batch inside a map-only kernel
   (``_bucket_keys_np``, r14 — measured 22× the r13 JVM GEMM-by-join at
   sf1; that posexplode ⋈ broadcast sign-table → hash-aggregate chain is
   retained as ``_quantized_dots``, the reference the equality tests
   compare against). Dot terms are quantized to 1e-9 and summed exactly
   as integers, so the sign bits are bit-reproducible under any
   partitioning and batch split (a double sum's last-ulp order
   sensitivity could otherwise flip a near-zero sign). ``probes`` > 0
   adds the flips of each key's weakest-margin bits as probe keys
   (multi-probe LSH, Lv et al.); a persisted index can supply the base
   keys instead (``buckets=``).
2. Members carry their vectors: the capped bucket rows join the corpus
   ``(vec_id, embedding)`` and group per bucket (per (bucket, side)
   with probes), one row per bucket holding its members' vectors.
3. One exact kernel, ``fused_cosine_hits``: per bucket, a dgemm over
   the unit rows picks the candidate pairs (bucket self-join, a < b,
   for ``probes`` = 0; probe ⋈ base otherwise) and the same pass
   rescores them with the exact einsum formula, so only threshold
   survivors leave the kernel; a tiny distinct folds pairs found in
   several buckets. The same kernel serves ``sim_join_threshold``
   over a grid of id blocks (``all_pairs``). No corpus matrix is
   collected or broadcast, so one route serves every corpus size:
   one bucket row is at most ``_ANN_BUCKET_CAP`` × dim × 8 B. False
   positives of the banding cost compute but never correctness.

Recall: a pair at cosine *c* collides in one table with p = (1 - θ/π)^B,
θ = arccos(c). At the contract threshold 0.4 (θ ≈ 66.4°, per-bit p ≈ 0.631)
with B=4, T=64 the per-pair miss probability is (1-0.631⁴)⁶⁴ ≈ 1.6e-5 —
the pipeline is deterministic (fixed seed + exact decimal sums), and the
contract's oracle is the *exact* all-pairs SQL, so the driver hash-check
proves recall = 1 on this corpus. For production thresholds (≥ 0.8,
per-bit p ≈ 0.8) the same recall needs far fewer tables; tune (B, T) with
the closed form. See SCALE.md §ANN.

At 100 TB: index work is O(n·dim·T·B) multiply-adds at BLAS speed in a
map-only stage — nothing shuffles until the bucket grouping, and the
kernel ships only (vec_id, embedding) across the Arrow boundary (guide
§4.1/§4.2). Bucket skew (dense
clusters) is handled by AQE skew-join splitting PLUS the explicit
``cap_buckets`` guard: buckets over ``_ANN_BUCKET_CAP`` members are excluded
from candidate generation, bounding the worst bucket's pair count at cap²
regardless of corpus pathology.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from silvia_spark.io import load_table, managed_persist
from silvia_spark.registry import contract

_ANN_BITS = 4     # bits per bucket key (selectivity)
_ANN_TABLES = 64  # OR-ed hash tables (recall)
_ANN_DIM = 64     # embedding dimensionality of the corpus
_ANN_SEED = 101   # seed for the Rademacher hyperplane family

# Degenerate-bucket guard: a bucket of size s yields s² candidate pairs, so
# one boilerplate-heavy bucket of 10⁶ vectors is 10¹² pairs — the classic
# LSH blow-up. Buckets over the cap are EXCLUDED from candidate generation
# (disclosed recall loss on pathological near-constant regions; every vector
# still participates via its other T-1 tables). The cap is far above any
# bucket this corpus produces (max observed ≪ 10³ at sf0.1), so the guarded
# and unguarded outputs are identical here — the exact all-pairs oracle
# stays the correctness gate while the guard rides the production path.
_ANN_BUCKET_CAP = 100_000

_N_PROJ = _ANN_TABLES * _ANN_BITS


def cap_buckets(buckets: DataFrame, cap: int,
                keys: tuple[str, str] = ("table_id", "bucket_key")) -> DataFrame:
    """Drop rows of (key-)buckets larger than ``cap`` members.

    One window count partitioned by the bucket key — hash-partitioned on the
    SAME key as the candidate self-join that follows, so the exchange is
    reused, not added."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys)
    return (buckets.withColumn("__bn", F.count(F.lit(1)).over(w))
            .where(F.col("__bn") <= cap).drop("__bn"))


def _sign_table(spark: SparkSession, seed: int = _ANN_SEED,
                nproj: int = _N_PROJ) -> DataFrame:
    """(pos, proj_id, sgn ±1.0) Rademacher matrix, generated JVM-side from
    xxhash64 parity — no driver→executor literal transfer (a
    createDataFrame of the 16k tuples measured 3s per call), fully
    deterministic for a fixed seed. One definition serves the base and
    multiprobe hyperplane families (seed/nproj parameters)."""
    return spark.range(_ANN_DIM * nproj).select(
        F.expr(f"CAST(id div {nproj} AS INT)").alias("pos"),
        F.expr(f"CAST(pmod(id, {nproj}) AS INT)").alias("proj_id"),
        F.when(F.pmod(F.xxhash64(F.lit(seed), F.col("id")), 2) == 0,
               1.0).otherwise(-1.0).alias("sgn"),
    )


def _quantized_dots(spark: SparkSession, e: DataFrame, seed: int,
                    nproj: int) -> DataFrame:
    """(vec_id, proj_id, dot_q): integer-quantized hyperplane dot products.

    Dot terms are quantized to 1e-9 and summed as BIGINT: exact and
    order-independent (a codegen long sum, ~10× a decimal sum), and the
    ±3.2e-8 quantization can only flip a sign when |dot| is already that
    close to zero — the same measure-zero class as the hyperplane passing
    through a point. Shared by every hyperplane family (base + multiprobe)
    so the quantization constant and sign derivation have exactly one
    definition to fix.

    r14: this JVM GEMM-by-join is no longer on the query path — the
    bucket producers below moved to ``_bucket_keys_np`` (one numpy GEMM
    per Arrow batch, same quantization, bit-identical outputs pinned in
    tests/test_ann_numpy_kernel.py). Kept as the reference
    implementation the equality test compares against."""
    hyper = _sign_table(spark, seed, nproj)
    ev = e.select("vec_id", F.posexplode("embedding").alias("pos", "x"))
    return (
        ev.join(F.broadcast(hyper), "pos")
        .groupBy("vec_id", "proj_id")
        .agg(F.sum(F.round(F.col("x").cast("double") * F.col("sgn")
                           * F.lit(1e9)).cast("bigint")).alias("dot_q"))
    )


# Rademacher matrices are pure functions of (seed, nproj) — constants,
# not data — so the collected form is memoized per process. One tiny
# job fills a slot.
_SIGN_CACHE: dict = {}


def _sign_matrix(spark: SparkSession, seed: int, nproj: int):
    """The ``_sign_table`` family as a dim×nproj numpy ±1 matrix (the
    exact same xxhash64-parity values, collected once per (seed, nproj)
    per process — 16 k rows for the base family)."""
    import numpy as np

    key = (seed, nproj)
    mat = _SIGN_CACHE.get(key)
    if mat is None:
        rows = _sign_table(spark, seed, nproj).collect()
        mat = np.zeros((_ANN_DIM, nproj), dtype=np.float64)
        for r in rows:
            mat[r["pos"], r["proj_id"]] = r["sgn"]
        mat.setflags(write=False)
        _SIGN_CACHE[key] = mat
    return mat


def _round_half_up_1e9(X):
    """``F.round(x * 1e9)`` (scale 0) semantics, vectorized: Spark rounds
    doubles as decimal HALF_UP over the shortest decimal representation
    (java BigDecimal.valueOf). copysign(floor(|v|+0.5), v) agrees with
    that everywhere except when |v| sits within a float-add ulp of a
    .5 boundary; those (measure-zero, usually zero per corpus) elements
    are re-done through Python's Decimal(repr(v)) — the same
    shortest-repr digits java's valueOf uses — so the kernel is
    bit-identical to the JVM expression on EVERY input, not just
    almost-every."""
    import numpy as np

    V = X * 1e9
    A = np.abs(V)
    R = np.floor(A + 0.5)
    sus = np.abs(A - (np.floor(A) + 0.5)) <= np.spacing(A) * 4
    if sus.any():
        from decimal import ROUND_HALF_UP, Decimal

        one = Decimal("1")
        flat_idx = np.flatnonzero(sus)
        av = A.reshape(-1)
        rv = R.reshape(-1)
        for i in flat_idx:
            rv[i] = float(Decimal(repr(float(av[i])))
                          .quantize(one, rounding=ROUND_HALF_UP))
    return np.copysign(R, V)


def _bucket_keys_np(spark: SparkSession, e: DataFrame, seed: int,
                    nproj: int, bits: int = _ANN_BITS) -> DataFrame:
    """vec_id → (table_id, bucket_key, w0, w1): the whole hyperplane
    index stage as ONE map-only Arrow/numpy pass (guide §4.2: hand whole
    batches to vectorized native code; §2.4: the explode ⋈ sign-table →
    two-exchange aggregate chain is gone outright — nothing shuffles
    until the bucket grouping).

    Semantics are bit-identical to the ``_quantized_dots`` JVM chain,
    by construction (pinned in tests/test_ann_numpy_kernel.py):

    - same hyperplanes: the collected ``_sign_table`` (xxhash64 parity);
    - same quantization: ``_round_half_up_1e9`` replicates
      ``F.round(x·sgn·1e9)`` exactly, and the int-valued float64 GEMM is
      exact (|dot_q| < 2⁵³ by orders of magnitude), so ``dot_q`` matches
      the JVM long sum bit for bit under any partitioning;
    - same weak-bit order: stable argsort over |dot_q| ties to the lower
      bit index — the JVM's lexicographic (|dot_q|, bit_pos) struct min;
    - same null semantics: NULL/empty embeddings emit no rows (the JVM
      posexplode emits nothing for them), short vectors contribute only
      their present positions (missing terms = 0).

    Measured (sf1, 20 k × 64-dim, 64 tables): 18.8 s JVM chain → 0.9 s
    (see OPTIMIZATION_r14.md §10). w0/w1 are the two weakest bit
    positions; base callers drop them, probe callers fold them into
    probe keys with the same JVM xor expressions as before."""
    # r15 ADVICE hardening: bits < 2 would silently emit w1 == w0 where
    # the JVM reference's weak2[1] is NULL (a self-probe instead of a
    # null-propagating key); no caller uses bits < 2 — refuse loudly.
    if bits < 2:
        raise ValueError("_bucket_keys_np requires bits >= 2 (w1 is "
                         "the rank-2 weak bit; see ADVICE r14)")
    S = _sign_matrix(spark, seed, nproj)
    tables = S.shape[1] // bits
    dim = S.shape[0]

    def _ann_gemm_gen(batches):
        import numpy as np
        import pandas as pd

        tab_ids = np.arange(tables, dtype=np.int64)
        weights = (np.int64(1) << np.arange(bits, dtype=np.int64))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            embs = pdf["embedding"].to_numpy()
            keep = np.fromiter(
                (v is not None and len(v) > 0 for v in embs),
                dtype=bool, count=len(embs))
            if not keep.all():
                pdf = pdf[keep]
                embs = embs[keep]
            n = len(embs)
            if n == 0:
                continue
            X = np.zeros((n, dim), dtype=np.float64)
            for i, v in enumerate(embs):
                a = np.asarray(v, dtype=np.float64)[:dim]
                X[i, :a.shape[0]] = a
            # NULL ELEMENTS inside a vector contribute 0 in the JVM
            # chain (the long sum skips null terms) — but Arrow ships
            # them to this kernel as NaN, which un-fixed poisons every
            # dot for that vector through the GEMM (r15 ADVICE; pinned
            # in tests/test_ann_numpy_kernel.py). Zero them to match.
            # True NaN elements are indistinguishable from NULL after
            # the Arrow crossing and get the same 0-contribution here;
            # the ANSI JVM reference instead THROWS on them
            # (CAST_OVERFLOW casting NaN to bigint) — disclosed
            # divergence on an input class the reference itself
            # rejects.
            if not np.isfinite(X).all():
                X[np.isnan(X)] = 0.0
            D = (_round_half_up_1e9(X) @ S).astype(np.int64)
            B = D.reshape(n, tables, bits)
            keys = ((B >= 0).astype(np.int64) * weights).sum(
                axis=2, dtype=np.int64)
            order = np.argsort(np.abs(B), axis=2, kind="stable")
            w0 = order[:, :, 0]
            w1 = order[:, :, 1]
            yield pd.DataFrame({
                "vec_id": np.repeat(pdf["vec_id"].to_numpy(), tables),
                "table_id": np.tile(tab_ids, n),
                "bucket_key": keys.reshape(-1),
                "w0": w0.reshape(-1).astype(np.int32),
                "w1": w1.reshape(-1).astype(np.int32),
            })

    # vec_id keeps the INPUT's type (r15 ADVICE: the replaced JVM
    # aggregate preserved it; hardcoded bigint broke non-bigint corpora
    # at the Arrow boundary).
    vid_t = dict(e.dtypes)["vec_id"]
    return e.select("vec_id", "embedding").mapInPandas(
        _ann_gemm_gen,
        f"vec_id {vid_t}, table_id bigint, bucket_key bigint, "
        "w0 int, w1 int")


def bucket_keys(spark: SparkSession, e: DataFrame) -> DataFrame:
    """vec_id → (table_id, bucket_key) rows, one per hash table (see
    ``_bucket_keys_np`` for the determinism argument — outputs are
    bit-identical to the r13 JVM aggregate form)."""
    return _bucket_keys_np(spark, e, _ANN_SEED, _N_PROJ).select(
        "vec_id", "table_id", "bucket_key")


# The oracle is the EXACT all-pairs query (same as J4): green hash ⇒ the LSH
# candidate stage achieved recall 1 on this corpus at this threshold.
_ANN_ORACLE = """
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(
list_sum(list_transform(list_zip(a.embedding, b.embedding),
         x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
/ (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
 * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))
       , 6) AS cos_sim
FROM embeddings a, embeddings b
WHERE a.vec_id < b.vec_id
  AND
list_sum(list_transform(list_zip(a.embedding, b.embedding),
         x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
/ (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
 * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))
      >= 0.4
ORDER BY vec_a, vec_b
"""


def bucket_keys_probed(spark: SparkSession, e: DataFrame, *,
                       tables: int, probes: int,
                       seed: int = 707,
                       bits: int = _ANN_BITS) -> DataFrame:
    """vec_id → (table_id, bucket_key, probe_keys array): one
    (T, probe-depth) point of the hyperplane family; the contracts fix
    it at (64, 0) / (24, 1) / (16, 3). ``probes`` ∈ {0, 1, 3}: base key
    only, +weakest-bit flip, +both single flips and the double flip
    (Lv et al.'s success-probability-ordered probe sequence for a
    ``bits``-bit key). Quantized integer dots; the weak bits are the
    lexicographic (|dot|, bit_pos) ranking — ``_bucket_keys_np``'s
    stable argsort — so the keys are deterministic under any
    partitioning.

    tools/ann_recall.py sweeps this kernel over table counts where the
    closed-form model predicts recall << 1 and compares measured vs
    predicted — the recall<1-regime evidence the hash-green contracts
    (recall 1 on their corpus) structurally cannot provide."""
    if probes not in (0, 1, 3):
        raise ValueError("probes must be 0, 1 or 3")
    nproj = tables * bits
    per_tab = _bucket_keys_np(spark, e, seed, nproj, bits=bits)
    if probes == 0:
        probe_expr = F.expr("array()").cast("array<bigint>")
    elif probes == 1:
        probe_expr = F.expr(
            "array(bucket_key ^ shiftleft(1, w0))")
    else:
        probe_expr = F.expr(
            "array(bucket_key ^ shiftleft(1, w0),"
            "      bucket_key ^ shiftleft(1, w1),"
            "      bucket_key ^ shiftleft(1, w0)"
            "                 ^ shiftleft(1, w1))")
    return per_tab.select("vec_id", "table_id", "bucket_key",
                          probe_expr.alias("probe_keys"))


# --- the exact-cosine kernel: fused per-block GEMM + rescore -----------------
# Every threshold similarity join ends here: the six LSH consumers (one
# row per capped bucket) and the all-pairs baseline (one row per block
# pair of an id grid). Each row carries its members' (vec_id, embedding)
# lists, so the kernel needs no corpus matrix: it takes the block's pair
# cosines as ONE dense dgemm over unit rows (guide §4.2 — hand whole
# batches to native code) and scores the survivors in the same pass, so
# only threshold hits leave the kernel.
#
# Selection correctness: dgemm and the einsum row-dot may differ in the
# last ulps (~1e-14 on unit vectors), so the dgemm thresholds at
# tau − _FUSED_EPS — a deliberate SUPERSET — and the exact formula
# (einsum("ij,ij->i") of the raw float64 rows over the product of
# sqrt(einsum) norms) applies the real `>= tau`. A pair the exact
# formula accepts cannot be missed: that would need |dgemm − einsum| >
# 1e-9, six orders above the worst-case float64 bound for 64-term unit
# dots. NaN (zero-norm) rows propagate NaN and are KEPT, Spark's
# NaN-is-largest `>=`. A pair's value depends only on its two rows, so
# a pair found in several buckets repeats bit-identically and the
# caller's distinct() folds it.
#
# Work accounting: the dgemm prices Σ|bucket|² pairs (the RAW mass, ~4×
# the distinct count) — at BLAS density that is seconds where the raw
# pair stream's distinct exchange was tens of seconds; duplicate-pair
# work is cheaper to redo than to dedup. Memory: buckets are capped
# upstream (cap_buckets), so one row holds at most cap × dim × 8 B of
# float64 vectors, and the dgemm runs in blocks of _FUSED_CHUNK elements.

_FUSED_EPS = 1e-9
_FUSED_CHUNK = 4_000_000  # max f64 elements per GEMM block (~32 MB)


def fused_cosine_hits(grouped: DataFrame, out: tuple[str, str],
                      tau: float) -> DataFrame:
    """Exact ``(a, b, cos_raw)`` hits (a < b, cos_raw ≥ ``tau`` or NaN)
    of a table of member blocks. Column ``p`` holds one side's members
    as ``(vec_id, embedding)`` structs; a row whose ``b`` is NULL (or a
    frame without ``b``) scores ``p`` against itself (pairs a < b),
    otherwise ``p`` ⋈ ``b`` (every l ≠ r, as least/greatest). A pair may
    repeat across rows: the caller dedups. A block holding the same
    (vec_id, embedding) twice raises ValueError naming the id — the
    corpus repeats that row, and the caller's distinct would fold its
    copies' pairs where the oracle keeps them."""
    thr = float(tau) - _FUSED_EPS
    tau = float(tau)
    a, b = out
    sides = ["p", "b"] if "b" in grouped.columns else ["p"]
    id_t = (grouped.schema["p"].dataType.elementType["vec_id"].dataType
            .simpleString())

    def _fused_gemm_gen(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        def members(col):
            """Flat ids, float64 rows and per-row offsets of a member
            list column (NULL lists hold no members)."""
            lens = pc.fill_null(pc.list_value_length(col), 0).to_numpy()
            off = np.concatenate(([0], np.cumsum(lens)))
            vid, vecs = col.flatten().flatten()
            vid = vid.to_numpy(zero_copy_only=False)
            dims = pc.list_value_length(vecs).to_numpy(zero_copy_only=False)
            dim = int(dims[0]) if len(dims) else 0
            if (dims != dim).any():
                raise ValueError("fused cosine: embeddings of unequal "
                                 "length in one batch")
            X = (vecs.flatten().to_numpy(zero_copy_only=False)
                 .astype(np.float64).reshape(len(vid), dim))
            return vid, X, off

        def no_repeats(vid, X):
            s = np.sort(vid)
            for v in np.unique(s[1:][s[1:] == s[:-1]]):
                rows = X[vid == v]
                if len({r.tobytes() for r in rows}) < len(rows):
                    raise ValueError(
                        f"vec_id {v} repeats an identical (vec_id, "
                        "embedding) row: deduplicate the corpus first")

        def hits(lv, L, rv, R, self_block):
            ln = np.sqrt(np.einsum("ij,ij->i", L, L))
            rn = ln if self_block else np.sqrt(np.einsum("ij,ij->i", R, R))
            with np.errstate(invalid="ignore", divide="ignore"):
                LU = L / ln[:, None]  # unit rows; NaN rows for zero-norm
                RU = LU if self_block else R / rn[:, None]
            step = max(1, _FUSED_CHUNK // max(1, len(rv)))
            for i0 in range(0, len(lv), step):
                with np.errstate(invalid="ignore"):
                    G = LU[i0:i0 + step] @ RU.T
                ii, jj = np.nonzero((G >= thr) | np.isnan(G))
                ii += i0
                m = lv[ii] < rv[jj] if self_block else lv[ii] != rv[jj]
                ii, jj = ii[m], jj[m]
                num = np.einsum("ij,ij->i", L[ii], R[jj])
                with np.errstate(invalid="ignore", divide="ignore"):
                    cos = num / (ln[ii] * rn[jj])
                k = (cos >= tau) | np.isnan(cos)
                x, y = lv[ii[k]], rv[jj[k]]
                yield np.minimum(x, y), np.maximum(x, y), cos[k]

        for batch in batches:
            cols = [members(batch.column(c)) for c in sides]
            null_b = (pc.is_null(batch.column("b")).to_numpy(
                zero_copy_only=False) if len(sides) == 2 else None)
            acc = []
            for r in range(batch.num_rows):
                blocks = [(vid[off[r]:off[r + 1]], X[off[r]:off[r + 1]])
                          for vid, X, off in cols]
                self_block = null_b is None or null_b[r]
                for vid, X in blocks[:1 if self_block else 2]:
                    no_repeats(vid, X)
                (lv, L), (rv, R) = blocks[0], blocks[0 if self_block else 1]
                if len(lv) and len(rv):
                    acc.extend(hits(lv, L, rv, R, self_block))
            if acc:
                x, y, c = (np.concatenate(z) for z in zip(*acc))
                yield pa.RecordBatch.from_arrays(
                    [pa.array(x), pa.array(y), pa.array(c)],
                    names=[a, b, "cos_raw"])

    return grouped.select(*sides).mapInArrow(
        _fused_gemm_gen, f"{a} {id_t}, {b} {id_t}, cos_raw double")


def _vectors(e: DataFrame) -> DataFrame:
    """The corpus rows a cosine can be taken of: NULL and empty
    embeddings have no cosine in the oracle, so they pair with
    nothing."""
    return (e.select("vec_id", "embedding")
            .where(F.size("embedding") > 0))


def ann_join(spark: SparkSession, e: DataFrame, *, tables: int,
             probes: int, seed: int, tau: float,
             out: tuple[str, str] = ("vec_a", "vec_b"), slot: str,
             buckets: DataFrame | None = None) -> DataFrame:
    """Exact ``(a, b, cos_raw)`` survivors (a < b, cosine ≥ ``tau``) of
    the hyperplane-LSH similarity self-join over corpus ``e``
    (vec_id, embedding); ``out`` names the two id columns.

    Bucket keys come from ``bucket_keys_probed`` at (``tables``,
    ``probes``, ``seed``), or from ``buckets`` — a persisted index's
    (vec_id, table_id, bucket_key) table, base keys only, so
    ``probes`` must be 0 with it. The capped bucket table is persisted
    under ``slot`` so every side below reads one computed copy (without
    it Spark plans the GEMM lineage once per side). Probe keys fan out
    on ONE side (probe ⋈ base covers both directions after the
    least/greatest normalization), so the index size is unchanged.

    Each distinct (member, bucket[, side]) row joins its vector, the
    rows group per bucket, and ``fused_cosine_hits`` scores every
    bucket in one pass; see the module docstring. A ``vec_id`` that
    repeats with different vectors hands each of its buckets all of
    its rows, which the kernel scores row by row, as the oracle does."""
    if buckets is None:
        buckets = bucket_keys_probed(spark, e, tables=tables,
                                     probes=probes, seed=seed)
    elif probes:
        raise ValueError("a persisted index holds base keys only; "
                         "pass probes=0 with buckets=")
    keys = ["table_id", "bucket_key"]
    buckets = managed_persist(
        cap_buckets(buckets.select("vec_id", *keys,
                                   *(["probe_keys"] if probes else [])),
                    _ANN_BUCKET_CAP),
        f"{slot}.buckets")
    base = buckets.select("vec_id", *keys)
    mem = F.struct("vec_id", "embedding")
    if probes:
        # The FLIP keys get their own cap pass: base-bucket capping
        # bounds base-key rows per bucket, but a pathological corpus
        # could still focus many vectors' flips on one hot key (cap·n
        # candidates). Capping the union instead would also drop base
        # rows a hot flip key lands on and silently lose base-base
        # pairs, so every bucket's probe rows stay ≤ 2·cap and its
        # candidates ≤ 2·cap². No-op on this corpus, like every cap.
        side = base.union(cap_buckets(
            buckets.select("vec_id", "table_id",
                           F.explode("probe_keys").alias("bucket_key")),
            _ANN_BUCKET_CAP))
        tagged = (side.withColumn("p", F.lit(True))
                  .union(base.withColumn("p", F.lit(False))))
        p = F.col("p")
        grouped = (tagged.distinct()
                   .join(_vectors(e), "vec_id")
                   .groupBy(*keys)
                   .agg(F.collect_list(F.when(p, mem)).alias("p"),
                        F.collect_list(F.when(~p, mem)).alias("b")))
    else:
        grouped = (base.distinct().join(_vectors(e), "vec_id")
                   .groupBy(*keys).agg(F.collect_list(mem).alias("p")))
    return fused_cosine_hits(grouped, out, tau).distinct()


def all_pairs(spark: SparkSession, e: DataFrame, *,
              tau: float) -> DataFrame:
    """Exact ``(vec_a, vec_b, cos_raw)`` for EVERY pair a < b at cosine
    ≥ ``tau`` — the quadratic baseline on the LSH family's kernel. The
    corpus splits into K id blocks by ``pmod(vec_id, K)``, K the
    session's default parallelism; each vector joins the K block pairs
    it belongs to, and one row per pair i ≤ j carries both member lists
    (i = j: the block against itself), so each pair is scored once.
    Shuffle is K·n·dim; the work is the n²/2 dots."""
    k = spark.sparkContext.defaultParallelism
    blk = F.pmod(F.col("vec_id"), F.lit(k))
    j = F.col("j")
    v = _vectors(e).select(
        "vec_id", "embedding", blk.alias("blk"),
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("j"))
    lo, hi = F.col("lo"), F.col("hi")
    rb = F.col("rb")
    grid = (v.select(F.least("blk", j).alias("lo"),
                     F.greatest("blk", j).alias("hi"),
                     (F.col("blk") > j).alias("rb"),
                     F.struct("vec_id", "embedding").alias("m"))
            # explicit width: AQE would coalesce the small block shuffle
            # into one task and serialize the whole product
            .repartition(k * (k + 1) // 2, "lo", "hi")
            .groupBy("lo", "hi")
            .agg(F.collect_list(F.when(~rb, F.col("m"))).alias("p"),
                 F.when(lo == hi, F.lit(None))
                 .otherwise(F.collect_list(F.when(rb, F.col("m"))))
                 .alias("b")))
    return fused_cosine_hits(grid, ("vec_a", "vec_b"), tau)


def rounded_pairs(hits: DataFrame) -> DataFrame:
    """Contract tail over ``(a, b, cos_raw)`` hits: JVM round to 6 dp,
    order."""
    a, b = hits.columns[:2]
    return (hits.select(a, b, F.round("cos_raw", 6).alias("cos_sim"))
            .orderBy(a, b))


def _ann_pairs(spark: SparkSession, e: DataFrame, slot: str,
               **kw) -> DataFrame:
    """``ann_join`` at cosine ≥ 0.4 through the contract tail."""
    return rounded_pairs(ann_join(spark, e, tau=0.4, slot=slot, **kw))


@contract("sim_ann_lsh", oracle=_ANN_ORACLE)
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH similarity self-join at cosine ≥ 0.4 — the 100-TB
    path for J4 (llm_ops.sim_join_threshold). Same output contract and the
    exact all-pairs oracle; only same-(table, bucket) pairs are scored."""
    e = load_table(spark, sf_dir, "embeddings")
    return _ann_pairs(spark, e, "sim_ann_lsh", tables=_ANN_TABLES,
                      probes=0, seed=_ANN_SEED)


# --- multiprobe variants: fewer tables, probed weak-bit flips -----------------

_MP_TABLES = 24   # vs 64 base tables: 2.7x less GEMM work...
_MP_SEED = 202    # independent hyperplane family
_MP_NPROJ = _MP_TABLES * _ANN_BITS
_MP2_TABLES = 16  # vs 24 multiprobe-1 / 64 base
_MP2_SEED = 303   # independent hyperplane family
_MP2_NPROJ = _MP2_TABLES * _ANN_BITS


@contract("sim_ann_lsh_multiprobe", oracle=_ANN_ORACLE)
def sim_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiprobe hyperplane-LSH similarity self-join at cosine ≥ 0.4:
    24 tables instead of 64 (2.7× less GEMM) recover the lost recall by
    ALSO probing each vector's weakest-margin bit flip — the bucket it
    would have landed in had its most borderline hyperplane sign gone
    the other way (Lv et al., multi-probe LSH). ``ann_join`` at
    (24 tables, 1 probe, seed 202): the probe key rides ONE side of
    the join, so the index size is unchanged and only the probe
    fan-out doubles. Same exact all-pairs oracle as the base contract:
    green hash ⇒ recall 1 on this corpus."""
    e = load_table(spark, sf_dir, "embeddings")
    return _ann_pairs(spark, e, "sim_ann_lsh_multiprobe",
                      tables=_MP_TABLES, probes=1, seed=_MP_SEED)


@contract("sim_ann_lsh_multiprobe2", oracle=_ANN_ORACLE)
def sim_ann_lsh_multiprobe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-bit multiprobe hyperplane-LSH similarity self-join at cosine ≥
    0.4 — the probe-count knob one notch further: ``ann_join`` at
    (16 tables, 3 probes, seed 303), each vector probing its base
    bucket plus the three perturbations of its two weakest-margin bits
    (4× probe fan-out, on ONE join side, so the index size is
    unchanged).

    Closed-form recall model behind the knob (hyperplane LSH, cosine
    threshold c = 0.4 ⇒ per-bit agreement p = 1 − arccos(c)/π ≈ 0.631,
    4-bit keys): a table hits when the key agrees on all 4 bits
    (p⁴ ≈ .159), or differs exactly on a probed weak bit — nominally
    2p³(1−p) ≈ .186 for the single flips and p²(1−p)² ≈ .054 for the
    double, so per-table hit q ≈ .398 vs .25 (1-probe) and .159 (base),
    and T tables miss with (1−q)^T: 16 tables ≈ 3e-4, between base-64
    (2e-5) and 1-probe-24 (1e-3). The nominal flip terms UNDERSTATE the
    true hit rate — disagreeing bits concentrate on the smallest
    margins, which is exactly which bits get probed (Lv et al.'s
    observation) — so the model is a sizing lower bound, and the exact
    all-pairs oracle stays the empirical gate: green hash ⇒ recall 1 on
    this corpus at 4× less GEMM than the base contract."""
    e = load_table(spark, sf_dir, "embeddings")
    return _ann_pairs(spark, e, "sim_ann_lsh_multiprobe2",
                      tables=_MP2_TABLES, probes=3, seed=_MP2_SEED)


@contract("sim_ann_auto", oracle=_ANN_ORACLE)
def sim_ann_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The routed ANN contract: it runs ``sim_ann_lsh``. Its index
    route (a fresh persisted index, taken only past the gather bound)
    went with the bound: reading the bucket table back measured slower
    than computing it (ANN_INDEX.json, 20 k vectors: warm index 8.14 s
    against 4.80 s compute), and the one fused route now serves every
    corpus size. ``sim_ann_indexed`` and ``sim_ann_lsh_indexed`` still
    serve a persisted index."""
    return sim_ann_lsh(spark, sf_dir)


# --- ANN index persistence (r13, r12 verdict item 8) ---------------------------
# Every sim_ann_* call recomputes the sign-projection GEMM and bucket
# table per query. At 100 TB the index IS the asset: stage the bucket
# table as an L11 manifest table once, append index DELTAS as the
# corpus grows, and let queries skip the GEMM entirely on a warm
# index. The index is ~n·T rows of (vec_id, table_id, bucket_key) —
# 3 longs, ~24 B/row before encoding: 64 tables over 10⁹ vectors is
# ~1.5 TB spread across the cluster, linear in corpus size and tiny
# next to the corpus itself. See SCALE.md §ANN-index.

_ANN_INDEX_NOTE = "_ann_index.json"


def _ann_index_params() -> dict:
    return {"seed": _ANN_SEED, "bits": _ANN_BITS,
            "tables": _ANN_TABLES, "dim": _ANN_DIM}


def _ann_corpus_mark(e: DataFrame) -> dict:
    """Cheap freshness fingerprint: (row count, max vec_id). Exact for
    the append-only corpora the incremental path serves; a corpus that
    mutates in place (deletes, re-embeds) must rebuild — disclosed in
    SCALE.md, enforced by the mark mismatch falling back to compute."""
    row = e.agg(F.count(F.lit(1)).alias("n"),
                F.max("vec_id").alias("hi")).collect()[0]
    return {"n_vecs": int(row["n"] or 0),
            "max_vec_id": (None if row["hi"] is None
                           else int(row["hi"]))}


def persist_ann_index(spark: SparkSession, e: DataFrame,
                      index_root: str) -> int:
    """Build or INCREMENTALLY extend the persisted LSH index for
    corpus ``e`` under ``index_root`` (an L11 manifest table
    partitioned by table_id, stats on vec_id). First call stages the
    full bucket table; later calls with a GROWN corpus compute bucket
    keys for the delta ONLY (vec_id above the indexed high-water mark
    — the append-only fast path; the general CDC-driven consumer is a
    design note, SCALE.md §ANN-index) and commit_append them: an
    index update costs O(new vectors), not O(corpus). Returns the
    committed table version."""
    import json as _json
    import os as _os

    from silvia_spark.operators.manifest_table import (FS, _norm,
                                                       commit_append,
                                                       create_table,
                                                       current_version)

    root = _norm(index_root)
    mark = _ann_corpus_mark(e)
    note_path = _os.path.join(root, _ANN_INDEX_NOTE)
    if current_version(root) is None:
        bk = bucket_keys(spark, e)
        create_table(bk, root, "table_id", stats_cols=["vec_id"])
        version = 1
    else:
        note = _json.loads(FS.read_text(note_path))
        if note["params"] != _ann_index_params():
            raise ValueError(
                f"index at {root} was built with a different "
                "hyperplane family — rebuild under a new root")
        hwm = note["mark"]["max_vec_id"]
        if (mark["max_vec_id"] is not None and hwm is not None
                and mark["max_vec_id"] <= hwm):
            return current_version(root)  # nothing new: no-op
        # hwm None means the index was built over an EMPTY corpus —
        # nothing is indexed, so the whole corpus is the delta. The
        # NULL-comparison filter would commit an empty append yet
        # advance the mark, silently serving an empty index (r13
        # ADVICE).
        delta = (e if hwm is None
                 else e.where(F.col("vec_id") > F.lit(hwm)))
        version = commit_append(spark, root,
                                bucket_keys(spark, delta), "table_id")
    FS.put_atomic(note_path, _json.dumps(
        {"params": _ann_index_params(), "mark": mark}))
    return version


def ann_index_fresh(e: DataFrame, index_root: str) -> bool:
    """True iff the persisted index covers EXACTLY this corpus (same
    hyperplane family, same count + high-water mark). A stale or
    foreign index is never silently used — callers fall back to the
    query-time GEMM."""
    import json as _json
    import os as _os

    from silvia_spark.operators.manifest_table import (FS, _norm,
                                                       current_version)

    root = _norm(index_root)
    if current_version(root) is None:
        return False
    try:
        note = _json.loads(FS.read_text(
            _os.path.join(root, _ANN_INDEX_NOTE)))
    except (FileNotFoundError, ValueError):
        return False
    return (note.get("params") == _ann_index_params()
            and note.get("mark") == _ann_corpus_mark(e))


def sim_ann_lsh_indexed(spark: SparkSession, sf_dir: str,
                        index_root: str) -> DataFrame:
    """``sim_ann_lsh`` with the bucket table served from a persisted
    index when fresh: the query plan contains NO hyperplane GEMM (no
    numpy index kernel, no posexplode ⋈ sign table) — ``ann_join``
    reads the manifest table and goes straight to candidates + exact
    verify. Falls back to the query-time GEMM on a stale/missing
    index, so the output contract is identical either way (asserted in
    tests/test_ann_index.py)."""
    from silvia_spark.operators.manifest_table import read_snapshot

    e = load_table(spark, sf_dir, "embeddings")
    bk = (read_snapshot(spark, index_root)
          if ann_index_fresh(e, index_root) else None)
    return _ann_pairs(spark, e, "sim_ann_lsh_indexed", tables=_ANN_TABLES,
                      probes=0, seed=_ANN_SEED, buckets=bk)


@contract("sim_ann_indexed", oracle=_ANN_ORACLE)
def sim_ann_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-SERVED ANN join as a driver contract (J44, r14 — the r13
    verdict's item 7): persist the LSH bucket table as an L11
    manifest table (no-op when already fresh for this corpus — the
    re-run path a warm session takes), then answer the similarity
    join THROUGH the index: the warm plan contains no hyperplane
    GEMM (pinned in tests/test_ann_index.py), only the manifest
    bucket scan → capped self-join → exact-cosine verify. The hash
    matching the exact all-pairs oracle proves the persisted index
    preserves recall 1 end-to-end. 100 TB: the index is ~24 B/row ×
    n·T — the asset a production corpus amortizes across every
    query; build cost is one base GEMM, refresh cost is
    O(new vectors) via the high-water-mark delta append."""
    import hashlib as _hashlib
    import os as _os
    import tempfile as _tempfile

    e = load_table(spark, sf_dir, "embeddings")
    root = _os.path.join(
        _tempfile.gettempdir(),
        "silvia_annidx_"
        + _hashlib.sha1(_os.path.abspath(sf_dir).encode()).hexdigest()[:10])
    persist_ann_index(spark, e, root)
    assert ann_index_fresh(e, root), "index not fresh after persist"
    return sim_ann_lsh_indexed(spark, sf_dir, root)
