"""LLM-data-pipeline operators — SURVEY.md §2.J (J1–J10).

Design rules for this family:
- Threshold similarity joins (J4 and the LSH family) score in ONE exact
  kernel, ``llm_extras.fused_cosine_hits``: per block of vectors, a dgemm
  picks the candidates and an einsum rescores them. Per-row scoring of
  given pairs has an Arrow-batched numpy kernel (``cosine``, exported by
  ``api``): zip_with/aggregate higher-order functions are evaluated
  per-element in Catalyst's interpreter (measured 11× DuckDB at sf0.1),
  while one einsum per Arrow batch amortizes the Python boundary to
  ~µs/row. The expression form survives as ``cosine_expr`` for paths where
  the COMPARISON of two near-equal cosines drives control flow (IVF probe
  argmax, k-means assignment) — there the DuckDB oracle replicates the same
  sequential fold, so bit-level parity matters more than constant factor.
- MinHash-LSH is hand-rolled (shingle hashes → one Arrow signature kernel
  → exact (band, key) buckets), not spark.ml's MinHashLSH: the DataFrame
  form shuffles candidates by (band, key) — linear in data + candidate
  pairs — instead of ml's memory-heavy model broadcast, and AQE handles
  skewed buckets. At 100 TB only band-bucket grouping and the
  verified-candidate join shuffle; no all-pairs stage exists anywhere.
- Exact all-pairs forms (J4's block grid) are correctness baselines at test
  scale; scale paths are the LSH/blocked variants (see llm_extras).
"""

from __future__ import annotations

import random

import pandas as pd  # module-level: pandas_udf resolves 'pd.Series' hints here

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from silvia_spark.io import load_table, load_tables
from silvia_spark.registry import contract

# --- shared vector kernels ----------------------------------------------------


def dot64(a, b):
    """Σ a_i·b_i in double, sequential fold — matches the oracle's
    list_sum(list_transform(...)) element order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)


def norm64(a):
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x))


def cosine_expr(a, b):
    """Pure-expression cosine (interpreted HOFs). Use where a downstream
    argmax/rank compares near-equal cosines (IVF probing, k-means assign):
    the element order replicates the oracle's fold exactly, so both engines
    pick the same winner even in the last ulp. ~10× slower per row than
    ``cosine`` — acceptable only on K-row centroid tables."""
    return dot64(a, b) / (norm64(a) * norm64(b))


def _np_cos(a_batch, b_batch):
    """numpy cosine over two object-Series of equal-length vectors.
    einsum's SIMD partial sums drift ≤1-2 ulp from the oracle's sequential
    list_sum fold (measured max 1.7e-16 absolute corpus-wide,
    tests/test_determinism.py) — 9 orders below the 6-dp rounding the
    contracts emit, so hash parity holds; paths where an argmax compares
    near-equal cosines use cosine_expr instead."""
    import numpy as np

    A = np.stack(a_batch.to_numpy()).astype(np.float64, copy=False)
    B = np.stack(b_batch.to_numpy()).astype(np.float64, copy=False)
    num = np.einsum("ij,ij->i", A, B)
    den = (np.sqrt(np.einsum("ij,ij->i", A, A))
           * np.sqrt(np.einsum("ij,ij->i", B, B)))
    return num / den


def _make_cos_arrow():
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _cos_arrow(ca: pd.Series, cb: pd.Series) -> pd.Series:
        if len(ca) == 0:
            return pd.Series([], dtype="float64")
        return pd.Series(_np_cos(ca, cb))

    return _cos_arrow


# Created lazily: pandas_udf() needs an active SparkSession, and this module
# imports at registry load, before any session exists.
_COS_ARROW = None


def cosine(a, b):
    """Arrow-batched numpy cosine of two vector columns, row by row
    (exported by ``api``; the threshold joins score in ``llm_extras``'
    fused kernel instead, with the same einsum formula). One Python
    round-trip per Arrow batch (~10⁴ rows), one einsum per batch, an
    ArrowEvalPython stage in the plan: the per-row cost is numpy's, not
    the Catalyst interpreter's."""
    global _COS_ARROW
    if _COS_ARROW is None:
        _COS_ARROW = _make_cos_arrow()
    return _COS_ARROW(a, b)


_SQL_COS = """
list_sum(list_transform(list_zip({a}, {b}),
         x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
/ (sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
 * sqrt(list_sum(list_transform({b}, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))
"""


def _sql_cos(a: str, b: str) -> str:
    return _SQL_COS.format(a=a, b=b)


# --- J1: exact document dedup ------------------------------------------------

_J1_ORACLE = """
SELECT count(*) AS total_docs,
       count(DISTINCT text) AS distinct_texts,
       count(*) - count(DISTINCT text) AS dup_docs
FROM documents
"""


@contract("dedup_docs_exact", oracle=_J1_ORACLE)
def dedup_docs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup stats. Distinctness is counted on sha2(text, 256), not
    the raw text: the distinct shuffle carries 32-byte digests instead of
    whole documents — the difference between shuffling 100 TB and shuffling
    ~30 GB per 10⁹ docs. Counts are identical absent a SHA-256 collision
    (probability ≈ 0 at any corpus size that fits on Earth)."""
    d = load_table(spark, sf_dir, "documents")
    key = F.sha2(F.col("text"), 256)
    return d.agg(
        F.count(F.lit(1)).alias("total_docs"),
        F.countDistinct(key).alias("distinct_texts"),
        (F.count(F.lit(1)) - F.countDistinct(key)).alias("dup_docs"),
    )


# --- J2: MinHash-LSH near-dup pairs ------------------------------------------

_NUM_PERM = 64
_BAND_ROWS = 2  # 32 bands × 2 rows: recall ≈ 1 at jaccard ≥ 0.8;
# two 31-bit minima are what one exact int64 band key can hold
_MH_PRIME = 2147483647  # 2^31-1, keeps a*h+b inside int64
_rng = random.Random(42)
_MH_A = [_rng.randrange(1, _MH_PRIME) for _ in range(_NUM_PERM)]
_MH_B = [_rng.randrange(0, _MH_PRIME) for _ in range(_NUM_PERM)]

_J2_ORACLE = """
WITH s AS (
  SELECT doc_id,
         list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                        for i in generate_series(1, len(w)-2)]) AS sh
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(len(list_intersect(a.sh, b.sh)) * 1.0
             / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
FROM s a, s b
WHERE a.doc_id < b.doc_id
  AND len(list_intersect(a.sh, b.sh)) * 1.0
      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8
ORDER BY doc_a, doc_b
"""


def _shingles(df: DataFrame, keys=("doc_id",)) -> DataFrame:
    """``keys`` plus ``sh``, the distinct 3-word shingles of the word
    array ``w``."""
    # Guarded against <3-word docs: sequence(0, n) with n < 0 is DESCENDING
    # (never empty) in Spark, which would fabricate out-of-range shingles.
    return df.select(
        *keys,
        F.array_distinct(F.expr(
            "if(size(w) >= 3,"
            " transform(sequence(0, size(w)-3),"
            " i -> concat(w[i], ' ', w[i+1], ' ', w[i+2])),"
            " cast(array() as array<string>))"
        )).alias("sh"),
    )


def _hashed_shingles(hash_fn):
    """Per-doc array of ``hash_fn`` over the ``sh`` column's shingles,
    with the shingling expression evaluated ONCE per doc. Exploding
    ``sh`` directly triggers InferFiltersFromGenerate, which pushes
    ``size(shExpr) > 0 AND isnotnull(shExpr)`` below the aliasing
    Project with the whole interpreted shingling expression inlined —
    shingling then runs 3× per doc row (Filter + Project are separate
    codegen operators, CSE never spans them; the r14 §9 jaccard-kernel
    finding: 6.05 s → 2.06 s for the minhash hash stream at sf1).
    Binding the array to a lambda variable via the 1-element transform
    defeats the re-inlining, and the hash runs on the BOUND variable's
    elements."""
    return F.flatten(F.transform(
        F.array("sh"), lambda a: F.transform(a, hash_fn)))


def _minhash_bands_gen(batches):
    """mapInArrow kernel: (doc_id, h array<bigint>) batches → one
    (doc_id, band_id, band_key) row per band of every doc with ≥1
    shingle. Signature m[i] = min over the doc's h of
    (A[i]·h + B[i]) mod P — the same int64 arithmetic as the JVM
    ``pmod`` form (h, A, B < 2³¹, so A·h + B < 2⁶³ never wraps), one
    permutation at a time so memory stays O(shingles in the batch).
    band_key = m[2b] << 31 | m[2b+1] is exact (both minima < 2³¹)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    nb = _NUM_PERM // _BAND_ROWS
    for batch in batches:
        hs = batch.column("h")
        lens = pc.fill_null(pc.list_value_length(hs), 0).to_numpy()
        rows = np.flatnonzero(lens > 0)
        if len(rows) == 0:
            continue  # empty shingle sets have no signature
        h = hs.flatten().to_numpy()  # honours slice offsets and nulls
        starts = (np.cumsum(lens) - lens)[rows]
        m = np.empty((_NUM_PERM, len(rows)), dtype=np.int64)
        for i in range(_NUM_PERM):
            m[i] = np.minimum.reduceat((_MH_A[i] * h + _MH_B[i]) % _MH_PRIME,
                                       starts)
        keys = (m[0::2] << 31) | m[1::2]
        yield pa.RecordBatch.from_arrays(
            [batch.column("doc_id").take(np.tile(rows, nb)),
             pa.array(np.repeat(np.arange(nb, dtype=np.int32), len(rows))),
             pa.array(keys.ravel())],
            names=["doc_id", "band_id", "band_key"])


# Within-bucket pairs of a sorted, duplicate-free id array (a < b).
_BUCKET_PAIRS = (
    "inline(flatten(transform(sequence(0, size(ids) - 2), i ->"
    " transform(slice(ids, i + 2, size(ids) - i - 1),"
    " b -> named_struct('doc_a', ids[i], 'doc_b', b)))))")


@contract("dedup_docs_minhash", oracle=_J2_ORACLE)
def dedup_docs_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs at 3-word-shingle Jaccard ≥ 0.8 via banded MinHash.

    Pipeline: the JVM shingles and hashes each doc to one array of
    pmod(xxhash64(shingle), 2³¹-1); ONE mapInArrow kernel
    (``_minhash_bands_gen``) emits 32 exact band keys per doc; the
    within-bucket pairs of each (band_id, band_key) are deduplicated
    and exact-Jaccard verified in one pass: each pair explodes into its
    two doc ids, joins the documents once, re-shingles them and groups
    back to one scored row (filter-then-refine, the refine once per
    candidate pair). Nothing is cached and no broadcast is forced, so
    the signature kernel runs once, inside the candidate plan. The
    signature is one map-only pass and the plan build runs no Spark
    job. The oracle is the exact all-pairs
    query, so the hash check also proves LSH recall = 1 on this corpus
    (planted pairs are all ≥0.8; 32×2 banding detects jaccard 0.8 with
    p ≈ 1-5e-15).
    """
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select("doc_id", F.split(F.lower("text"), " ").alias("w"))
    h = _shingles(words).select("doc_id", _hashed_shingles(
        lambda s: F.pmod(F.xxhash64(s), F.lit(_MH_PRIME))).alias("h"))
    bands = h.mapInArrow(
        _minhash_bands_gen,
        f"doc_id {dict(docs.dtypes)['doc_id']}, band_id int, band_key bigint")
    cand = (bands.groupBy("band_id", "band_key")
            .agg(F.array_sort(F.collect_set("doc_id")).alias("ids"))
            .where(F.size("ids") > 1)
            .select(F.expr(_BUCKET_PAIRS))
            .distinct())
    # exact verify, one pass: each pair joins its two docs (no hint: AQE
    # broadcasts or shuffles), shingles them and scores |A∩B| / |A∪B|
    # (both sizes are symmetric, so the order of the two sets is moot)
    pair_sh = (_shingles(
        cand.select("doc_a", "doc_b",
                    F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
        .join(words, "doc_id"), ("doc_a", "doc_b"))
        .groupBy("doc_a", "doc_b").agg(F.collect_list("sh").alias("s")))
    a, b = F.col("s")[0], F.col("s")[1]
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return (
        pair_sh.select("doc_a", "doc_b", (inter / union).alias("j"))
        .where(F.col("j") >= 0.8)
        .select("doc_a", "doc_b", F.round("j", 6).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


# --- J3: brute-force cosine top-k --------------------------------------------

_J3_ORACLE = f"""
SELECT b.vec_id, round({_sql_cos('a.embedding', 'b.embedding')}, 6) AS cos_sim
FROM embeddings a, embeddings b
WHERE a.vec_id = 0 AND b.vec_id <> 0
ORDER BY {_sql_cos('a.embedding', 'b.embedding')} DESC, b.vec_id
LIMIT 10
"""


@contract("sim_topk_cosine", oracle=_J3_ORACLE)
def sim_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 neighbors of vec 0, brute force — the exact-search baseline
    every ANN variant is measured against.

    GEMM-by-join formulation (r04, replacing the interpreted zip_with fold
    that benched 11× DuckDB): posexplode the corpus, broadcast-join the
    64-row posexploded query, and take the three cosine sums (x·q, x·x,
    q·q) in ONE codegen HashAggregate keyed by vec_id. All 64 element rows
    of a vector come from one input row, so the partial aggregate finishes
    each group map-side in posexplode order — the sums are bit-identical to
    the oracle's sequential list_sum fold (0.0 + t₀ ≡ t₀ exactly), and the
    final exchange carries one 32-byte row per vector. Scales linearly with
    one tiny shuffle; the bucketed 100-TB path is llm_extras.sim_ann_lsh
    (same hyperplane family prunes a top-k probe to matching buckets).
    Measured sf0.1: 45 ms total vs 26 ms empty-job floor vs 34 ms
    tiny-parquet floor — the marginal ~11 ms is under 2× DuckDB's 6.2 ms."""
    e = load_table(spark, sf_dir, "embeddings")
    qpos = (
        e.where(F.col("vec_id") == 0)
        .select(F.posexplode("embedding").alias("pos", "qx"))
        .select("pos", F.col("qx").cast("double").alias("qx"))
    )
    ev = (
        e.where(F.col("vec_id") != 0)
        .select("vec_id", F.posexplode("embedding").alias("pos", "x"))
        .select("vec_id", "pos", F.col("x").cast("double").alias("x"))
    )
    sums = (
        ev.join(F.broadcast(qpos), "pos")
        .groupBy("vec_id")
        .agg(F.sum(F.col("x") * F.col("qx")).alias("dot"),
             F.sum(F.col("x") * F.col("x")).alias("nx"),
             F.sum(F.col("qx") * F.col("qx")).alias("nq"))
    )
    c = F.col("dot") / (F.sqrt("nx") * F.sqrt("nq"))
    return (
        sums.select("vec_id", c.alias("cos_raw"))
        .orderBy(F.col("cos_raw").desc(), "vec_id")
        .limit(10)
        .select("vec_id", F.round("cos_raw", 6).alias("cos_sim"))
    )


# --- J4: similarity self-join at threshold -----------------------------------

_J4_ORACLE = f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round({_sql_cos('a.embedding', 'b.embedding')}, 6) AS cos_sim
FROM embeddings a, embeddings b
WHERE a.vec_id < b.vec_id
  AND {_sql_cos('a.embedding', 'b.embedding')} >= 0.4
ORDER BY vec_a, vec_b
"""


@contract("sim_join_threshold", oracle=_J4_ORACLE)
def sim_join_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All pairs with cosine ≥ 0.4 (corpus max ≈ 0.51 — 0.95 would be
    vacuous). Exact quadratic form as the correctness baseline; at scale
    this becomes hyperplane-LSH bucketing (llm_extras.sim_ann_lsh) so only
    same-bucket pairs are scored. Served by the one exact-cosine kernel
    of the LSH family (``llm_extras.fused_cosine_hits``) over a grid of
    id blocks (``llm_extras.all_pairs``): one row per block pair, each
    carrying its members' vectors, so the all-pairs product is a handful
    of dense dgemm blocks and no pair row is ever materialized."""
    from silvia_spark.functions.llm_extras import all_pairs, rounded_pairs

    e = load_table(spark, sf_dir, "embeddings")
    return rounded_pairs(all_pairs(spark, e, tau=0.4))


# --- J5: per-label centroids + intra-label coherence -------------------------

_J5_ORACLE = f"""
WITH pos AS (
  SELECT label, generate_subscripts(embedding, 1) AS pos,
         unnest(embedding) AS v
  FROM embeddings
),
cent AS (
  SELECT label, pos,
         round(CAST(sum(CAST(v AS DECIMAL(38,10))) AS DOUBLE) / count(v), 8)
           AS cv
  FROM pos GROUP BY label, pos
),
centroids AS (
  SELECT label, list(cv ORDER BY pos) AS centroid FROM cent GROUP BY label
)
SELECT e.label, count(*) AS n_vecs,
       round(CAST(sum(CAST({_sql_cos('e.embedding', 'c.centroid')}
                 AS DECIMAL(38,10))) AS DOUBLE) / count(*), 6) AS mean_cos
FROM embeddings e JOIN centroids c ON e.label = c.label
GROUP BY e.label
ORDER BY e.label
"""


def label_centroids(e: DataFrame) -> DataFrame:
    """label → centroid (array<double>), elements rounded to 8dp so both
    engines derive the identical vector (decimal sums are order-exact)."""
    pos = e.select("label", F.posexplode("embedding").alias("pos", "v"))
    cent = (
        pos.groupBy("label", "pos")
        .agg(F.round(
            F.sum(F.col("v").cast("decimal(38,10)")).cast("double")
            / F.count("v"), 8).alias("cv"))
    )
    return (
        cent.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cv"))).alias("pc"))
        .select("label", F.expr("transform(pc, x -> x.cv)").alias("centroid"))
    )


@contract("sim_centroids", oracle=_J5_ORACLE)
def sim_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid + mean cosine-to-centroid. posexplode→groupBy is
    the scale path: the (label, pos) shuffle is 64× rows but tiny width,
    and partial aggregation collapses it map-side; no vectors ever
    concentrate on one node."""
    e = load_table(spark, sf_dir, "embeddings")
    cents = label_centroids(e)
    # cosine_expr, not the Arrow kernel: each cosine is cast to
    # decimal(38,10) before the order-exact sum, and the 0.5e-10 rounding
    # margin is only ~6 orders above cross-kernel ulp drift — the
    # expression fold is bit-identical to the oracle's, closing that gap.
    c = cosine_expr(F.col("embedding"), F.col("centroid"))
    return (
        e.join(F.broadcast(cents), "label")
        .select("label", c.alias("cos_raw"))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_vecs"),
             F.round(F.sum(F.col("cos_raw").cast("decimal(38,10)"))
                     .cast("double") / F.count(F.lit(1)), 6).alias("mean_cos"))
        .orderBy("label")
    )


# --- J6: tokenize stats ------------------------------------------------------

_J6_ORACLE = """
SELECT doc_id,
       len(string_split(lower(text), ' ')) AS n_tokens,
       len(list_distinct(string_split(lower(text), ' '))) AS n_distinct,
       round(CAST(list_sum(list_transform(string_split(lower(text), ' '),
                                          t -> CAST(length(t) AS BIGINT)))
                  AS DOUBLE)
             / len(string_split(lower(text), ' ')), 6) AS avg_token_len
FROM documents
ORDER BY doc_id
"""


@contract("text_tokenize_stats", oracle=_J6_ORACLE)
def text_tokenize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), " ")
    total_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("bigint")),
        F.lit(0).cast("bigint"), lambda acc, x: acc + x)
    return (
        d.select(
            "doc_id",
            F.size(toks).alias("n_tokens"),
            F.size(F.array_distinct(toks)).alias("n_distinct"),
            F.round(total_len.cast("double") / F.size(toks), 6)
            .alias("avg_token_len"),
        )
        .orderBy("doc_id")
    )


# --- J7: corpus term frequency -----------------------------------------------

_J7_ORACLE = """
SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df
FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents)
GROUP BY term
ORDER BY tf DESC, term
LIMIT 20
"""


@contract("text_term_freq", oracle=_J7_ORACLE)
def text_term_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 terms by corpus frequency with document frequency — the tf-idf
    precursor. explode → one shuffle on term; partial counts map-side."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id",
                 F.explode(F.split(F.lower("text"), " ")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf"),
             F.countDistinct("doc_id").alias("df"))
        .orderBy(F.col("tf").desc(), "term")
        .limit(20)
    )


# --- J8: language profile ----------------------------------------------------

_J8_ORACLE = """
SELECT lang, source, count(*) AS docs,
       round(CAST(sum(CAST(n_chars AS DECIMAL(38,10))) AS DOUBLE)
             / count(n_chars), 6) AS mean_chars
FROM documents
GROUP BY lang, source
ORDER BY lang, source
"""


@contract("text_lang_profile", oracle=_J8_ORACLE)
def text_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (lang, source) doc count and mean size. Exercises Spark's pivot
    internally (wide per-lang view) then unpivots back to long form so the
    oracle stays dialect-neutral (DuckDB PIVOT syntax differs)."""
    d = load_table(spark, sf_dir, "documents")
    langs = ["de", "en", "es", "fr", "zh"]
    wide = (
        d.groupBy("source").pivot("lang", langs)
        .agg(F.struct(F.count(F.lit(1)).alias("docs"),
                      F.round(F.sum(F.col("n_chars").cast("decimal(38,10)"))
                              .cast("double") / F.count("n_chars"), 6)
                      .alias("mean_chars")))
    )
    stack_expr = "stack({n}, {args}) as (lang, st)".format(
        n=len(langs),
        args=", ".join(f"'{lg}', `{lg}`" for lg in langs))
    return (
        wide.select("source", F.expr(stack_expr))
        .where(F.col("st.docs") > 0)
        .select("lang", "source", F.col("st.docs").alias("docs"),
                F.col("st.mean_chars").alias("mean_chars"))
        .orderBy("lang", "source")
    )


# --- J9: multimodal join (text metadata × vector compute) --------------------

_J9_ORACLE = f"""
WITH pos AS (
  SELECT label, generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS v
  FROM embeddings
),
cent AS (
  SELECT label, pos,
         round(CAST(sum(CAST(v AS DECIMAL(38,10))) AS DOUBLE) / count(v), 8) AS cv
  FROM pos GROUP BY label, pos
),
centroids AS (
  SELECT label, list(cv ORDER BY pos) AS centroid FROM cent GROUP BY label
)
SELECT d.lang, count(*) AS n_docs,
       round(CAST(sum(CAST({_sql_cos('e.embedding', 'c.centroid')}
                 AS DECIMAL(38,10))) AS DOUBLE) / count(*), 6) AS mean_cos
FROM documents d
JOIN embeddings e ON d.doc_id = e.vec_id
JOIN centroids c ON e.label = c.label
GROUP BY d.lang
ORDER BY d.lang
"""


@contract("multimodal_join", oracle=_J9_ORACLE)
def multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ⋈ embeddings (doc_id = vec_id): per-language mean coherence
    to label centroid — text metadata and vector compute in one plan. The
    doc↔vec join shuffles on the shared key; centroids broadcast."""
    t = load_tables(spark, sf_dir, "documents", "embeddings")
    cents = label_centroids(t["embeddings"])
    c = cosine_expr(F.col("embedding"), F.col("centroid"))  # see sim_centroids
    return (
        t["documents"]
        .join(t["embeddings"],
              F.col("doc_id") == F.col("vec_id"))
        .join(F.broadcast(cents), "label")
        .select("lang", c.alias("cos_raw"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.round(F.sum(F.col("cos_raw").cast("decimal(38,10)"))
                     .cast("double") / F.count(F.lit(1)), 6).alias("mean_cos"))
        .orderBy("lang")
    )


# --- J10: quality filter -----------------------------------------------------

_J10_ORACLE = """
WITH flagged AS (
  SELECT doc_id,
         CASE WHEN n_chars < 150 THEN 'too_short'
              WHEN n_chars > 450 THEN 'too_long'
              WHEN lang NOT IN ('en', 'de', 'es', 'fr') THEN 'lang_filtered'
              WHEN count(*) OVER (PARTITION BY text) > 1 THEN 'duplicate'
              ELSE 'kept' END AS reason
  FROM documents
)
SELECT reason, count(*) AS docs
FROM flagged
GROUP BY reason
ORDER BY reason
"""


@contract("text_quality_filter", oracle=_J10_ORACLE)
def text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data hygiene: length bounds, language allowlist, exact-dup
    removal — each drop attributed to its first matching reason so the
    report explains corpus shrinkage (the number every pipeline owner
    asks for)."""
    from pyspark.sql.window import Window
    d = load_table(spark, sf_dir, "documents")
    # Partition the dup-count window by the 32-byte digest, not the raw
    # text — same groups (SHA-256 collision-free in practice), but the
    # window shuffle never carries document bodies as keys.
    dup_cnt = F.count(F.lit(1)).over(
        Window.partitionBy(F.sha2(F.col("text"), 256)))
    reason = (
        F.when(F.col("n_chars") < 150, "too_short")
        .when(F.col("n_chars") > 450, "too_long")
        .when(~F.col("lang").isin("en", "de", "es", "fr"), "lang_filtered")
        .when(dup_cnt > 1, "duplicate")
        .otherwise("kept")
    )
    return (
        d.select(reason.alias("reason"))
        .groupBy("reason").agg(F.count(F.lit(1)).alias("docs"))
        .orderBy("reason")
    )
