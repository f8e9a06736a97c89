"""Training-data-pipeline operators — SURVEY.md §2.J additions (J20–J23).

These fill out the corpus-curation surface a 100 TB pretraining pipeline
needs beyond the J1–J19 dedup/similarity/text family:

- J20 ``dedup_docs_embedding`` — embedding-cosine near-dup REMOVAL (not just
  pair listing): LSH-bucketed candidates, exact verify, smallest-id-canonical
  keep rule, per-lang kept/dropped accounting against document metadata.
- J21 ``text_ngram_jaccard`` — EXACT n-gram Jaccard similarity join via an
  inverted-index equi-join (shuffle keyed on shingle), the exact kernel
  for the same near-dup contract as J2 (banded MinHash) and J13 (SimHash,
  which runs this kernel and keeps the pairs sharing a band) — all three
  hash-check against the same exact all-pairs oracle.
- J22 ``text_pack_sequences`` — context-window packing: documents packed
  into 2048-token bins per language shard via a windowed running sum; the
  sequence-assembly step of a pretraining data loader.
- J23 ``sample_stratified`` — deterministic stratified sampling: exactly k
  docs per language by md5 order (the distributed, rerun-stable equivalent
  of per-stratum reservoir sampling).

Scale notes inline per contract; none of these leaves whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from silvia_spark.io import load_table
from silvia_spark.registry import contract

# --- J20: embedding-cosine near-dup removal ----------------------------------

_EMB_TAU = 0.95

_J20_ORACLE = f"""
WITH p AS (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM embeddings a, embeddings b
  WHERE a.vec_id < b.vec_id
    AND list_sum(list_transform(list_zip(a.embedding, b.embedding),
                 x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        / (sqrt(list_sum(list_transform(a.embedding,
                          x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
         * sqrt(list_sum(list_transform(b.embedding,
                          x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))
        >= {_EMB_TAU}
), dups AS (SELECT DISTINCT vb FROM p)
SELECT d.lang,
       count(*) AS docs_total,
       count(dups.vb) AS dups_removed,
       count(*) - count(dups.vb) AS docs_kept
FROM documents d LEFT JOIN dups ON d.doc_id = dups.vb
GROUP BY d.lang
ORDER BY d.lang
"""


@contract("dedup_docs_embedding", oracle=_J20_ORACLE)
def dedup_docs_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup removal at cosine ≥ 0.95: a document is a
    duplicate iff some smaller-id document sits within the threshold
    (smallest-id canonical — a deterministic, non-iterative keep rule that
    needs no connected-components pass). Candidates come from the J11
    hyperplane-LSH buckets (recall 1 at ≥ 0.4 ⟹ at ≥ 0.95), verified
    exactly, then joined back to documents for per-lang accounting.

    100 TB: the only super-linear stage is the bucket self-join, which is
    capped (cap_buckets) and AQE-skew-split; dedup bookkeeping is one
    broadcast-able distinct dup-id set per billion docs (8 B/id) joined to
    the corpus — the shuffle carries ids, never vectors or text. Oracle is
    the exact all-pairs form, so green = recall 1 end-to-end."""
    from silvia_spark.functions.llm_extras import (_ANN_SEED, _ANN_TABLES,
                                                   ann_join)

    e = load_table(spark, sf_dir, "embeddings")
    # The base LSH tables through the one ANN planner (fused per-bucket
    # GEMM + exact rescore, or the join fallback past the gather bound):
    # the exact (va, vb, cos_raw) pairs at cosine >= 0.95.
    dups = ann_join(spark, e, tables=_ANN_TABLES, probes=0, seed=_ANN_SEED,
                    tau=_EMB_TAU, out=("va", "vb"),
                    slot="dedup_docs_embedding").select("vb").distinct()
    d = load_table(spark, sf_dir, "documents")
    # Broadcast the dup-id set: without the hint the left join plans SMJ
    # and shuffles DOCUMENTS by doc_id just to test membership in an
    # id-only table (~8 B/id per billion docs — the shape this docstring
    # already promises is broadcast-able). r14: SMJ + documents exchange
    # → BroadcastHashJoin, zero document shuffle (§3.1).
    return (
        d.join(F.broadcast(dups), d.doc_id == dups.vb, "left")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("docs_total"),
             F.count("vb").alias("dups_removed"),
             (F.count(F.lit(1)) - F.count("vb")).alias("docs_kept"))
        .orderBy("lang")
    )


# --- J21: exact n-gram Jaccard join (inverted index) -------------------------

# Same exact all-pairs oracle as J2/J13 — three algorithms, one contract.
_J21_ORACLE = """
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


# Stop-shingle guard: the inverted-index self-join generates Σ df(s)²
# candidate pairs, so ONE boilerplate shingle shared by 10⁶ docs is 10¹²
# pairs — the Jaccard twin of the LSH hot-bucket blow-up. Shingles with
# document frequency above the cap are dropped BEFORE the self-join
# (symmetric to llm_extras._ANN_BUCKET_CAP). Far above any df this corpus
# produces (max observed ≪ 10³ at sf0.1), so guarded and unguarded outputs
# are identical here and the exact all-pairs oracle stays the gate.
_JACCARD_DF_CAP = 100_000


def jaccard_pairs(docs: DataFrame, tau: float,
                  df_cap: int | None = _JACCARD_DF_CAP) -> DataFrame:
    """Exact 3-word-shingle Jaccard ≥ tau pairs via an inverted-index
    equi-join over ``docs(doc_id, text)``. Returns (doc_a, doc_b, jaccard)
    with doc_a < doc_b, jaccard a raw double (callers round for output).

    Only pairs sharing ≥ 1 shingle are ever materialized; the per-pair
    shared-shingle count IS |A∩B| (shingle sets are distinct), and
    |A∪B| = |A|+|B|-|A∩B| comes from precomputed set sizes. A size-ratio
    prune (J ≥ tau ⟹ min/max ≥ tau) drops candidates pre-division.

    ``df_cap`` drops shingles with document frequency > cap before the
    self-join (stop-shingle removal), bounding candidates at cap·Σdf
    instead of Σdf². DISCLOSED one-sided error: a dropped shingle only
    lowers a pair's computed intersection (set sizes stay uncapped), so
    capping can lose recall on pairs whose overlap hides in boilerplate,
    never emit a false pair. On corpora where hot shingles carry real
    signal, use J2 (MinHash) — guaranteed sub-quadratic. ``None`` = the
    exact uncapped form (the oracle's semantics).

    The posting list (``tok``) is persisted for the duration of the
    returned plan (io.managed_persist slot): it feeds BOTH sides of the
    self-join, and without the cache Spark re-evaluates the interpreted
    shingling transform once per lineage branch (~5× the corpus scan —
    measured 16 s → 3 s at sf0.1).

    r14 plan-shape rework (measured at sf0.1, fresh-plan execution from
    a warm tok cache, min-of-4: 0.85 s → 0.57 s, identical 256 rows):

    - ``sz`` rides the posting list and folds into the pair aggregate
      (``min`` over a constant-per-doc column), deleting the two
      doc-size joins — at scale those were two extra shuffles/broadcast
      builds of a doc-count-sized table per execution (guide §3.3), and
      the separate ``sized`` cache they probed is gone with them.
    - The self-join carries a ``merge`` hint: tok is persisted already
      hash-partitioned AND sorted by the shingle (the df_cap window's
      exchange), so a sort-merge self-join reads the cached layout with
      ZERO additional exchange and no sort. Without the hint the local
      optimizer picks BuildRight broadcast — re-collecting and
      re-shipping the whole posting list (~10 MB at sf0.1, impossible
      at corpus scale) on every execution (guide §3.1: pick the
      strategy deliberately; §2.4: reuse the established partitioning).
    """
    from pyspark.sql.window import Window

    from silvia_spark.functions.llm_ops import _shingles
    from silvia_spark.io import managed_persist

    d = docs.select("doc_id", F.split(F.lower("text"), " ").alias("w"))
    sh = _shingles(d)
    # Slot keyed by (input plan, cap) — NOT tau: tau no longer appears in
    # the posting-list plan (it was only in the deleted size-join tail),
    # so all thresholds over the same corpus share ONE cached posting
    # list. The semantic hash separates different doc inputs (e.g.
    # curation_pipeline's filtered corpus) that would otherwise evict
    # each other's caches from a shared slot on every invocation.
    try:
        plan_key = docs._jdf.queryExecution().analyzed().semanticHash()
    except Exception:  # Connect session: no _jdf — shared slot (worst
        plan_key = "connect"  # case: cross-corpus eviction, never a leak)
    slot = f"jaccard_pairs.{plan_key}.{df_cap}"
    # `sh` is a Project ALIAS over the interpreted shingling expression.
    # A plain `select(explode(sh), size(sh))` triggers
    # InferFiltersFromGenerate, which pushes `size(shExpr) > 0 AND
    # isnotnull(shExpr)` BELOW the aliasing Projects with the whole
    # shingling expression inlined — shingling then runs 2-3× per doc
    # row (Filter + Project are separate codegen operators, so CSE never
    # spans them; the r13 `sized` cache was an accidental
    # materialization barrier hiding this). Binding the array to a
    # lambda variable via the 1-element transform (the IVF norm64
    # pattern) defeats the re-inlining: the optimized plan evaluates
    # shingling ONCE, size(a) on the bound variable is O(1), and the
    # dropped inferred filter only pre-pruned empty arrays that
    # explode() drops anyway. Measured 5.6 s → 1.1 s tok-cache build at
    # the 10× corpus (min-of-3, identical 2 603 880 rows).
    tok_pairs = F.flatten(F.transform(
        F.array("sh"),
        lambda a: F.transform(a, lambda x: F.struct(
            x.alias("s"), F.size(a).alias("sz")))))
    tok = (sh.select("doc_id", F.explode(tok_pairs).alias("p"))
           .select("doc_id", F.col("p.s").alias("s"),
                   F.col("p.sz").alias("sz")))
    if df_cap is not None:
        # One window count partitioned by the shingle — hash-partitioned on
        # the SAME key as the self-join below, so the exchange is reused.
        wdf = Window.partitionBy("s")
        tok = (tok.withColumn("__df", F.count(F.lit(1)).over(wdf))
               .where(F.col("__df") <= df_cap).drop("__df"))
    tok = managed_persist(tok, f"{slot}.tok")
    inter = (
        tok.alias("a").hint("merge").join(tok.alias("b").hint("merge"), "s")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"),
             F.min(F.col("a.sz")).alias("sz_a"),
             F.min(F.col("b.sz")).alias("sz_b"))
    )
    jacc = (F.col("inter") * F.lit(1.0)
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
    return (
        inter
        .where(F.least("sz_a", "sz_b")
               >= F.greatest("sz_a", "sz_b") * F.lit(tau))
        .where(jacc >= tau)
        .select("doc_a", "doc_b", jacc.alias("jaccard"))
    )


@contract("text_ngram_jaccard", oracle=_J21_ORACLE)
def text_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 3-word-shingle Jaccard ≥ 0.8 pairs via the inverted-index
    equi-join kernel (``jaccard_pairs``).

    vs J2 (MinHash): no signatures, no probabilistic recall argument —
    exactness by construction, at the cost of a shuffle keyed on raw
    shingles. 100 TB: cost is Σ df(s)² over shingles, fine on
    natural text where df is near-1; the kernel's df_cap (stop-shingle
    removal, default 10⁵) bounds boilerplate-heavy corpora at cap·Σdf with
    disclosed one-sided recall loss — J2 is the guaranteed sub-quadratic
    path when hot shingles carry signal. Oracle is the same exact
    all-pairs SQL as J2's, so green here cross-proves both algorithms
    (and that the cap is a no-op on this corpus)."""
    d = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(d.select("doc_id", "text"), 0.8)
    return (
        pairs.select("doc_a", "doc_b",
                     F.round("jaccard", 6).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


# --- J22: context-window packing ---------------------------------------------

_PACK_BUDGET = 2048

_J22_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, len(string_split(lower(text), ' ')) AS tok
  FROM documents
), c AS (
  SELECT lang, doc_id, tok,
         coalesce(sum(tok) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0) AS cum_excl
  FROM t
)
SELECT lang,
       CAST(floor(cum_excl / {_PACK_BUDGET}.0) AS BIGINT) AS bin_id,
       count(*) AS docs,
       CAST(sum(tok) AS BIGINT) AS tokens,
       round(sum(tok) * 1.0 / {_PACK_BUDGET}, 6) AS fill_ratio
FROM c
GROUP BY lang, bin_id
ORDER BY lang, bin_id
"""


@contract("text_pack_sequences", oracle=_J22_ORACLE)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing: documents are packed, in deterministic
    doc_id order within each language shard, into 2048-token bins — a
    doc opens a new bin when the running token count crosses a bin
    boundary (quantized running-sum packing: a bin may overflow by at most
    one document, the standard streaming-packer relaxation of first-fit;
    strict first-fit needs sequential state and buys < one doc of slack).

    100 TB: ONE window shuffle partitioned by the shard key (lang here;
    date×source in production — thousands of independent shards), then a
    partial-aggregated groupBy on the same key prefix. No global order, no
    driver loop, no Python."""
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql.window import Window
    w = (Window.partitionBy("lang").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    t = d.select(
        "doc_id", "lang",
        F.size(F.split(F.lower("text"), " ")).alias("tok"))
    c = t.withColumn("cum_excl", F.coalesce(F.sum("tok").over(w), F.lit(0)))
    return (
        c.select(
            "lang", "tok",
            F.floor(F.col("cum_excl") / F.lit(float(_PACK_BUDGET)))
            .cast("bigint").alias("bin_id"))
        .groupBy("lang", "bin_id")
        .agg(F.count(F.lit(1)).alias("docs"),
             F.sum("tok").alias("tokens"),
             F.round(F.sum("tok") * F.lit(1.0) / F.lit(_PACK_BUDGET), 6)
             .alias("fill_ratio"))
        .orderBy("lang", "bin_id")
    )


# --- J23: deterministic stratified sampling ----------------------------------

_SAMPLE_K = 20

_J23_ORACLE = f"""
WITH r AS (
  SELECT lang, doc_id, n_chars,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS rk
  FROM documents
)
SELECT lang, doc_id, n_chars
FROM r WHERE rk <= {_SAMPLE_K}
ORDER BY lang, doc_id
"""


@contract("sample_stratified", oracle=_J23_ORACLE)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling: exactly k=20 docs per language, selected by
    md5(doc_id) order — a keyed hash order that is uniform-ish, engine-
    independent, and stable across reruns/repartitions (the property
    random() sampling lacks and training-data lineage needs). This is the
    distributed equivalent of per-stratum reservoir sampling: rank ≤ k
    under a hash order ≡ reservoir membership under that order.

    100 TB: Spark plans the rank-filter as WindowGroupLimit — each map
    task keeps only its local top-k per stratum BEFORE the shuffle, so the
    exchange carries k·strata·partitions rows, not the corpus.
    """
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    w = (Window.partitionBy("lang")
         .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id"))
    return (
        d.select("lang", "doc_id", "n_chars",
                 F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= _SAMPLE_K)
        .select("lang", "doc_id", "n_chars")
        .orderBy("lang", "doc_id")
    )


# --- J36: embedding-norm hygiene profile --------------------------------------

_J36_ORACLE = """
SELECT label,
       count(*) AS n_vecs,
       round(min(nrm), 6) AS min_norm,
       round(max(nrm), 6) AS max_norm
FROM (
  SELECT label,
         sqrt(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
)
GROUP BY label
ORDER BY label
"""


@contract("embed_norm_stats", oracle=_J36_ORACLE)
def embed_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding hygiene profile: per-label vector count and L2-norm
    range — the standard pre-index sanity gate (zero/exploding norms
    break cosine ANN and quantization alike; a label whose norm range
    collapses signals a dead encoder head). Norms use the sequential
    expression fold (llm_ops.norm64) so min/max match the oracle to the
    last ulp — min/max are selection, not accumulation, hence
    order-independent and hash-safe. 100 TB: zero-shuffle scan + a
    label-keyed partial agg (label cardinality bounds the exchange);
    the Arrow kernel (llm_ops._np_cos's norm path) is the throughput
    variant when profiling becomes scan-bound."""
    from silvia_spark.functions.llm_ops import norm64

    e = load_table(spark, sf_dir, "embeddings")
    n = e.select("label", norm64(F.col("embedding")).alias("nrm"))
    return (n.groupBy("label")
            .agg(F.count(F.lit(1)).alias("n_vecs"),
                 F.round(F.min("nrm"), 6).alias("min_norm"),
                 F.round(F.max("nrm"), 6).alias("max_norm"))
            .orderBy("label"))
