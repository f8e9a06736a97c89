"""Training-data pipeline operators beyond the reference surface —
SURVEY.md §2.J addendum (brief: dedup variants, ANN variants, multimodal
plumbing, text analysis).

Contracts here:

- ``dedup_docs_simhash`` — exact-Jaccard pairs filtered by a shared
  SimHash band (the other classic dedup family next to MinHash-LSH J2).
- ``sim_ann_ivf``       — IVF-style pruned top-k (coarse quantizer =
  per-label centroids, nprobe lists probed) vs J3's exact oracle.
- ``text_fingerprint``  — rolling-hash (Rabin-Karp) document fingerprint,
  pure integer math so DuckDB reproduces it exactly.
- ``text_lang_detect``  — marker-token language scoring with a
  deterministic argmax (the operator shape of n-gram lang-ID; this
  corpus's text is synthetic so predictions are structural, not
  linguistic — see docstring).
- ``multimodal_decode`` — opaque binary payload → Arrow-batched
  mapInPandas decode returning typed metadata. The decode itself is a
  clearly-marked deterministic STUB (no image/audio libs in this
  environment); the Spark-side plumbing — binary column, batch iterator,
  schema, typed output — is real and oracle-checked.
- ``text_token_bpe``    — BPE-ish regex tokenization counts (letters /
  digits / punctuation runs), the token-budget estimator.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from silvia_spark.io import load_table, managed_persist
from silvia_spark.registry import contract

# --- SimHash near-dup dedup ---------------------------------------------------

# Band geometry sets the band filter's recall: P(band match) ≈
# (1 - f)^bits for per-bit flip probability f, which GROWS as feature sets
# shrink (each differing feature perturbs every bit's ±1 sum). This corpus
# has ~10² shingle features per doc (tiny shared vocabulary), so narrow
# 4-bit bands are needed for recall ≈ 1; real corpora (10³–10⁴ features)
# run 16-bit bands. The band filter runs over the exact pairs only, so
# the geometry prices no work (SCALE.md §ANN). 64 bits = 16 bands of
# _SH_BAND_BITS.
_SH_BAND_BITS = 4

# Oracle: the exact all-pairs shingle-Jaccard join (same as J2) — a green
# hash proves the SimHash band filter had recall 1 here.
_SIMHASH_ORACLE = """
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


@contract("dedup_docs_simhash", oracle=_SIMHASH_ORACLE)
def dedup_docs_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs with exact 3-shingle Jaccard ≥ 0.8 that share a
    64-bit SimHash band bucket.

    SimHash: per distinct 3-shingle (the features the Jaccard measures),
    xxhash64; per bit position j, sum ±1 by the shingle hash's bit j;
    sign of the sum is fingerprint bit j. All codegen (explode →
    HashAggregate), no interpreted lambdas. Banding: the 64 bits pack
    into 16 × 4-bit band keys, capped by ``cap_buckets`` (the
    degenerate-bucket guard of sim_ann_lsh; a no-op on this corpus).

    The output is {pairs sharing a capped (band_id, band_key) bucket} ∩
    {J ≥ 0.8}, computed exact-first: ``jaccard_pairs`` (the J21
    inverted-index kernel) yields the J ≥ 0.8 pairs, and the band check
    is a left-semi filter over pairs ⋈ bands(doc_a) ⋈ bands(doc_b) on
    (band_id, band_key) — |result| × 16 rows, so the banded candidate
    set is never built (filter-then-refine with an exact local index).
    The bound is ``jaccard_pairs``' default ``df_cap``: the same
    stop-shingle cap, with the same disclosed one-sided error, that
    text_ngram_jaccard and dedup_cluster_cc run under. dedup_docs_minhash
    is the guaranteed sub-quadratic path with no cap error."""
    from silvia_spark.functions.llm_extras import _ANN_BUCKET_CAP, cap_buckets
    from silvia_spark.functions.llm_ops import _hashed_shingles, _shingles
    from silvia_spark.functions.training_ops import jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", F.split(F.lower("text"), " ").alias("w"))
    sh = _shingles(d)
    # r14 §11: lambda-bound hashes — shingling once per doc (the plain
    # explode ran the interpreted shingling 3× per doc via
    # InferFiltersFromGenerate; see llm_ops._hashed_shingles).
    th = sh.select("doc_id", F.explode(
        _hashed_shingles(lambda t: F.xxhash64(t))).alias("h"))
    bits = (
        th.select("doc_id", "h",
                  F.explode(F.expr("sequence(0, 63)")).alias("j"))
        .groupBy("doc_id", "j")
        .agg(F.sum(F.when(F.expr("(shiftright(h, j) & 1) = 1"), 1)
                   .otherwise(-1)).alias("s"))
    )
    bands = cap_buckets(
        bits.select(
            "doc_id",
            F.expr(f"j div {_SH_BAND_BITS}").alias("band_id"),
            F.expr(f"CASE WHEN s >= 0 THEN shiftleft(1, pmod(j, "
                   f"{_SH_BAND_BITS})) ELSE 0 END").alias("bv"))
        .groupBy("doc_id", "band_id")
        .agg(F.sum("bv").alias("band_key")),
        _ANN_BUCKET_CAP, keys=("band_id", "band_key"))
    pairs = jaccard_pairs(docs.select("doc_id", "text"), 0.8)
    ba = bands.select(F.col("doc_id").alias("doc_a"), "band_id", "band_key")
    bb = bands.select(F.col("doc_id").alias("doc_b"), "band_id", "band_key")
    return (
        pairs.join(ba, "doc_a")
        .join(bb, ["doc_b", "band_id", "band_key"], "leftsemi")
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


# --- IVF-pruned top-k ---------------------------------------------------------

_IVF_NPROBE = 3

_SQL_COS_QE = """
list_sum(list_transform(list_zip({a}, {b}),
         x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
/ (sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
 * sqrt(list_sum(list_transform({b}, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))
"""

# The oracle replicates the PROBE SEMANTICS (same quantizer, same nprobe,
# same in-list ranking) — IVF is approximate by definition, so the checkable
# contract is "both engines probe identically", not equality with the exact
# scan (J3 is the exact baseline; measured recall@10 here is 4/10 at
# nprobe=3 because this corpus's labels are a random, non-geometric
# partition — the worst case for a provided quantizer).
_IVF_ORACLE = f"""
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
),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
probed AS (
  SELECT c.label
  FROM centroids c, q
  ORDER BY {_SQL_COS_QE.format(a='q.qe', b='c.centroid')} DESC, c.label
  LIMIT {_IVF_NPROBE}
)
SELECT e.vec_id,
       round({_SQL_COS_QE.format(a='q.qe', b='e.embedding')}, 6) AS cos_sim
FROM embeddings e JOIN probed USING (label), q
WHERE e.vec_id <> 0
ORDER BY {_SQL_COS_QE.format(a='q.qe', b='e.embedding')} DESC, e.vec_id
LIMIT 10
"""


@contract("sim_ann_ivf", oracle=_IVF_ORACLE)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-pruned top-10 neighbors of vec 0: coarse quantizer = per-label
    centroids (the labels partition the corpus into inverted lists), probe
    the _IVF_NPROBE lists whose centroids are closest to the query,
    brute-force only inside them. The oracle replicates the identical
    probe in DuckDB, so the hash check proves probe-semantics parity;
    recall vs the exact scan (J3) is the IVF quality metric, not a
    correctness gate — on this corpus labels are a random partition
    (recall@10 = 4/10 at nprobe=3); production IVF k-means-trains the
    quantizer, which is 2–3 assign/recompute rounds of exactly these
    DataFrame ops. At 100 TB the scan prunes to nprobe/nlists of the
    corpus; lists live as partition directories so pruning happens at the
    parquet scan."""
    from silvia_spark.functions.llm_ops import cosine_expr, label_centroids

    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb"))
    cents = label_centroids(e)
    probed = (
        cents.crossJoin(F.broadcast(q))
        .select("label", cosine_expr(F.col("q_emb"), F.col("centroid")).alias("qc"))
        .orderBy(F.col("qc").desc(), "label")
        .limit(_IVF_NPROBE)
        .select("label")
    )
    c = cosine_expr(F.col("q_emb"), F.col("embedding"))
    return (
        e.join(F.broadcast(probed), "label", "left_semi")
        .where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", c.alias("cos_raw"))
        .orderBy(F.col("cos_raw").desc(), "vec_id")
        .limit(10)
        .select("vec_id", F.round("cos_raw", 6).alias("cos_sim"))
    )


# --- k-means-trained IVF quantizer -------------------------------------------
#
# sim_ann_ivf uses the corpus's provided labels as inverted lists — honest
# about its recall (labels are a random partition, the quantizer worst case).
# This contract TRAINS the quantizer: _KM_ROUNDS Lloyd iterations of cosine
# k-means, expressed as the same DataFrame ops (crossJoin-with-broadcast
# score → max_by assign → decimal-sum recompute), then probes as IVF does.
# Determinism across engines: centroid elements are rounded to 8dp after an
# order-exact DECIMAL(38,10) sum (label_centroids precedent), and cosine is
# a sequential index-order fold in both engines, so assignments compare
# bit-identical doubles; ties break on the smaller cluster id.

_KM_K = 8        # clusters; seeds = vectors with vec_id < _KM_K
_KM_ROUNDS = 2   # Lloyd iterations (production: until centroid drift < eps)
_KM_NPROBE = 2   # lists probed at query time

_KM_ASSIGN_SQL = """
{name} AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, s.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {cos} DESC, s.cid) AS rn
    FROM embeddings e, {cents} s) t WHERE rn = 1)
"""

_KM_RECOMPUTE_SQL = """
{name} AS (
  SELECT cid, list(cv ORDER BY pos) AS centroid FROM (
    SELECT cid,
           round(CAST(sum(CAST(v AS DECIMAL(38,10))) AS DOUBLE) / count(v), 8)
             AS cv, pos
    FROM (SELECT a.cid, generate_subscripts(e.embedding, 1) AS pos,
                 unnest(e.embedding) AS v
          FROM embeddings e JOIN {assign} a USING (vec_id)) u
    GROUP BY cid, pos) g
  GROUP BY cid)
"""

_KM_ORACLE = f"""
WITH seeds AS (
  SELECT vec_id AS cid, embedding AS centroid FROM embeddings
  WHERE vec_id < {_KM_K}),
{_KM_ASSIGN_SQL.format(name='a1', cents='seeds',
                       cos=_SQL_COS_QE.format(a='e.embedding', b='s.centroid'))},
{_KM_RECOMPUTE_SQL.format(name='c1', assign='a1')},
{_KM_ASSIGN_SQL.format(name='a2', cents='c1',
                       cos=_SQL_COS_QE.format(a='e.embedding', b='s.centroid'))},
{_KM_RECOMPUTE_SQL.format(name='c2', assign='a2')},
{_KM_ASSIGN_SQL.format(name='a3', cents='c2',
                       cos=_SQL_COS_QE.format(a='e.embedding', b='s.centroid'))},
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
probed AS (
  SELECT c.cid FROM c2 c, q
  ORDER BY {_SQL_COS_QE.format(a='q.qe', b='c.centroid')} DESC, c.cid
  LIMIT {_KM_NPROBE})
SELECT e.vec_id,
       round({_SQL_COS_QE.format(a='q.qe', b='e.embedding')}, 6) AS cos_sim
FROM embeddings e JOIN a3 USING (vec_id) JOIN probed USING (cid), q
WHERE e.vec_id <> 0
ORDER BY {_SQL_COS_QE.format(a='q.qe', b='e.embedding')} DESC, e.vec_id
LIMIT 10
"""


def _km_cents_row(cents: DataFrame) -> DataFrame:
    """K-row (cid, centroid) → ONE row holding the cid-sorted struct
    array, each struct carrying its centroid's precomputed norm. Broadcast
    as a 1-row cross join, it turns cluster assignment into a pure per-row
    projection (no n·K explode, no vec_id shuffle) and the norm never
    recomputes per (vector, centroid) pair."""
    from silvia_spark.functions.llm_ops import norm64

    return cents.agg(F.array_sort(F.collect_list(F.struct(
        "cid", "centroid",
        norm64(F.col("centroid")).alias("cnorm")))).alias("cents"))


def _km_best_cid(cents_arr) -> "F.Column":
    """embedding → nearest cid (cosine argmax, ties to the smaller cid) as
    a map-only expression over the broadcast centroid array.

    norm64(embedding) is evaluated ONCE per vector by binding it as a
    1-element-transform lambda variable (a plain Project alias gets
    re-inlined into the K-way lambda by CollapseProject — the alias is
    textually referenced once — so the binding has to live INSIDE the
    expression; measured 403 → 311 ms per corpus pass at sf0.1).

    array_max over struct(cs, -cid) is field-order comparison — greatest
    cosine first, then greatest -cid = smallest cid — the IDENTICAL
    comparator the r14-before groupBy().max(struct) used. cs is
    dot/(nv·cnorm): the same fold, the same factors in the same order as
    cosine_expr, so every double is bit-for-bit the r14-before value and
    the winner cannot move."""
    from silvia_spark.functions.llm_ops import dot64, norm64

    def _argmax(nv):
        return F.array_max(F.transform(cents_arr, lambda s: F.struct(
            (dot64(F.col("embedding"), s["centroid"])
             / (nv * s["cnorm"])).alias("cs"),
            (-s["cid"]).alias("ncid"))))

    best = F.transform(F.array(norm64(F.col("embedding"))), _argmax)[0]
    return (-best["ncid"]).cast("long")


def _km_recompute(assigned: DataFrame) -> DataFrame:
    """(cid, embedding) rows → cid → mean centroid, elements rounded to
    8dp after an order-exact decimal sum (the cross-engine determinism
    anchor)."""
    pos = assigned.select("cid", F.posexplode("embedding").alias("pos", "v"))
    cent = (
        pos.groupBy("cid", "pos")
        .agg(F.round(
            F.sum(F.col("v").cast("decimal(38,10)")).cast("double")
            / F.count("v"), 8).alias("cv"))
    )
    return (
        cent.groupBy("cid")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cv"))).alias("pc"))
        .select("cid", F.expr("transform(pc, x -> x.cv)").alias("centroid"))
    )


@contract("sim_ann_ivf_kmeans", oracle=_KM_ORACLE)
def sim_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-10 with a TRAINED coarse quantizer: seed centroids = the
    first _KM_K vectors, _KM_ROUNDS Lloyd rounds (assign → decimal-mean
    recompute), final assignment = the inverted lists, probe the
    _KM_NPROBE lists nearest the query, brute-force inside. The oracle
    replicates the full training loop in DuckDB CTEs, so the hash check
    proves both engines train the identical quantizer AND probe it
    identically — closing sim_ann_ivf's 'production trains the quantizer'
    gap with the training loop itself under the correctness gate.

    Measured recall@10 vs the exact J3 top-10 at sf0.01, nprobe=3:
    9/10 trained (this contract) vs 4/10 for sim_ann_ivf's random-label
    lists — the training is what makes IVF usable.

    100 TB shape (r14): cluster assignment is a MAP-ONLY projection — the
    K centroids ride along as ONE broadcast array row and the argmax runs
    per vector via array HOFs — so no stage ever shuffles the corpus (the
    r14-before form shuffled n scored rows per round on vec_id AND joined
    the corpus by vec_id for both recompute and the final probe: 14 scans
    / 13 exchanges at sf0.01, now 4 scans / 7 dimension-sized exchanges).
    Each Lloyd round is one corpus scan feeding the (cid,pos)-keyed
    narrow shuffle (64·K cells); the per-round K-row centroid array is
    managed_persist-ed, which truncates Catalyst's subtree re-derivation
    (round r's plan would otherwise re-run every earlier round once per
    consumer). Rounds remain a fixed driver-side loop over IMMUTABLE
    plans (no collect — the loop composes one lazy DAG). Lists then live
    as partition directories so the probe prunes at the parquet scan,
    exactly as sim_ann_ivf documents."""
    e = load_table(spark, sf_dir, "embeddings")
    seeds = (e.where(F.col("vec_id") < _KM_K)
             .select(F.col("vec_id").alias("cid"),
                     F.col("embedding").alias("centroid")))
    cents_row = _km_cents_row(seeds)
    for i in range(_KM_ROUNDS):
        assigned = (
            e.crossJoin(F.broadcast(cents_row))
            .select(_km_best_cid(F.col("cents")).alias("cid"), "embedding")
        )
        cents_row = managed_persist(
            _km_cents_row(_km_recompute(assigned)),
            f"sim_ann_ivf_kmeans.cents.r{i}")
    q = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))

    from silvia_spark.functions.llm_ops import cosine_expr

    qc = cosine_expr(F.col("q_emb"), F.col("centroid"))
    probed = (
        cents_row.select(F.explode("cents").alias("s"))
        .select(F.col("s.cid").alias("cid"),
                F.col("s.centroid").alias("centroid"))
        .crossJoin(F.broadcast(q))
        .select("cid", qc.alias("qcs"))
        .orderBy(F.col("qcs").desc(), "cid")
        .limit(_KM_NPROBE)
        .select("cid")
    )
    c = cosine_expr(F.col("q_emb"), F.col("embedding"))
    return (
        e.crossJoin(F.broadcast(cents_row))
        .select("vec_id", "embedding",
                _km_best_cid(F.col("cents")).alias("cid"))
        .join(F.broadcast(probed), "cid", "left_semi")
        .where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", c.alias("cos_raw"))
        .orderBy(F.col("cos_raw").desc(), "vec_id")
        .limit(10)
        .select("vec_id", F.round("cos_raw", 6).alias("cos_sim"))
    )


# --- Rolling-hash document fingerprint ---------------------------------------

_FP_BASE = 131
_FP_MOD = 1_000_000_007
_FP_K = 8  # gram length

# Each term CAST to BIGINT: ascii() is INT32 in both engines and
# 127 × 131⁴ already overflows it (ANSI Spark throws, DuckDB too).
_POLY = " + ".join(
    f"CAST(ascii(substr(text, i+{j}, 1)) AS BIGINT) * {_FP_BASE ** j}"
    for j in range(_FP_K))

_FP_ORACLE = f"""
SELECT doc_id,
       list_min([({_POLY}) % {_FP_MOD}
                 for i in generate_series(1, length(text) - {_FP_K - 1})])
         AS fingerprint
FROM documents
ORDER BY doc_id
"""


@contract("text_fingerprint", oracle=_FP_ORACLE)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style document fingerprint: minimum Rabin-Karp rolling
    hash over all 8-grams (base 131, mod 1e9+7). Pure integer arithmetic,
    bit-identical across engines and partitionings; the min is
    order-independent. Per-row map work, zero shuffle — the fingerprint
    column is then the 8-byte dedup/cluster key a pipeline shards on
    (contrast J1's full-content sha2: this one is robust to small edits
    at the gram granularity)."""
    d = load_table(spark, sf_dir, "documents")
    # Guarded: Spark's sequence(1, n) with n < 1 yields a DESCENDING [1..n]
    # (never empty), whereas the oracle's generate_series yields empty →
    # NULL fingerprint. Short docs must produce an empty gram set here too.
    grams = F.expr(
        f"if(length(text) >= {_FP_K},"
        f" transform(sequence(1, length(text) - {_FP_K - 1}),"
        f" i -> pmod({_POLY}, {_FP_MOD})),"
        f" cast(array() as array<bigint>))")
    return (
        d.select("doc_id", F.array_min(grams).alias("fingerprint"))
        .orderBy("doc_id")
    )


# --- Marker-based language scoring -------------------------------------------

_LANG_MARKERS = {
    "en": ["the", "a", "value", "fast", "big"],
    "de": ["der", "die", "und", "das", "ist"],
    "es": ["el", "la", "los", "que", "es"],
    "fr": ["le", "les", "et", "des", "un"],
    # zh has no latin-token stopwords; on this synthetic corpus (same
    # English-ish vocabulary for every label) any marker set is a stand-in,
    # but without one zh could NEVER be predicted — all five corpus
    # languages must be reachable outcomes for the confusion matrix to be
    # honest. Real deployments swap these for char-n-gram profiles.
    "zh": ["vector", "stream", "hash", "scan", "window"],
}


def _score_sql(lang: str) -> str:
    arr = ", ".join(f"'{w}'" for w in _LANG_MARKERS[lang])
    return (f"len(list_intersect(list_distinct(string_split(lower(text),"
            f" ' ')), [{arr}]))")


_LANG_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, lang AS labeled_lang,
         {_score_sql('en')} AS s_en, {_score_sql('de')} AS s_de,
         {_score_sql('es')} AS s_es, {_score_sql('fr')} AS s_fr,
         {_score_sql('zh')} AS s_zh
  FROM documents
),
pred AS (
  SELECT doc_id, labeled_lang,
         CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr
                   AND s_en >= s_zh THEN 'en'
              WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
              WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
              WHEN s_fr >= s_zh THEN 'fr'
              ELSE 'zh' END AS detected
  FROM scored
)
SELECT labeled_lang, detected, count(*) AS docs
FROM pred
GROUP BY labeled_lang, detected
ORDER BY labeled_lang, detected
"""


@contract("text_lang_detect", oracle=_LANG_ORACLE)
def text_lang_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID by marker-token overlap: score each doc against
    per-language marker sets, argmax with a fixed preference order
    (en→de→es→fr→zh) as the deterministic tie-break. This corpus's text is
    SYNTHETIC (same English-ish vocabulary for every labeled lang), so
    the confusion matrix it emits shows structure, not linguistics — the
    operator is the shape of real n-gram lang-ID: per-row scoring, no
    shuffle until the final tiny confusion-matrix groupBy; marker sets
    swap for real char-n-gram profiles unchanged."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.array_distinct(F.split(F.lower("text"), " "))
    scores = {
        lang: F.size(F.array_intersect(
            toks, F.array(*[F.lit(w) for w in ws])))
        for lang, ws in _LANG_MARKERS.items()
    }
    detected = (
        F.when((scores["en"] >= scores["de"]) & (scores["en"] >= scores["es"])
               & (scores["en"] >= scores["fr"]) & (scores["en"] >= scores["zh"]),
               "en")
        .when((scores["de"] >= scores["es"]) & (scores["de"] >= scores["fr"])
              & (scores["de"] >= scores["zh"]), "de")
        .when((scores["es"] >= scores["fr"]) & (scores["es"] >= scores["zh"]),
              "es")
        .when(scores["fr"] >= scores["zh"], "fr")
        .otherwise("zh")
    )
    return (
        d.select(F.col("lang").alias("labeled_lang"),
                 detected.alias("detected"))
        .groupBy("labeled_lang", "detected")
        .agg(F.count(F.lit(1)).alias("docs"))
        .orderBy("labeled_lang", "detected")
    )


# --- Multimodal decode plumbing ----------------------------------------------

_DECODE_SCHEMA = ("doc_id long, n_bytes int, width int, height int, "
                  "n_frames int")

_DECODE_ORACLE = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
       CAST(64 + octet_length(encode(text)) % 577 AS INT) AS width,
       CAST(64 + (octet_length(encode(text)) * 31) % 577 AS INT) AS height,
       CAST(1 + octet_length(encode(text)) % 24 AS INT) AS n_frames
FROM documents
ORDER BY doc_id
"""


def _decode_batches(batches: Iterator) -> Iterator:
    """STUB decoder: a real deployment would decode image/video bytes here
    (PIL / pyav are not in this environment). The metadata is a
    deterministic function of the payload so the Arrow plumbing is
    oracle-checkable; the signature, batch iteration, and typed output
    are exactly what the real decoder uses."""
    import pandas as pd

    for pdf in batches:
        n = pdf["payload"].map(len).astype("int32")
        yield pd.DataFrame({
            "doc_id": pdf["doc_id"],
            "n_bytes": n,
            "width": (64 + n % 577).astype("int32"),
            "height": (64 + (n * 31) % 577).astype("int32"),
            "n_frames": (1 + n % 24).astype("int32"),
        })


@contract("multimodal_decode", oracle=_DECODE_ORACLE)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal ingestion plumbing: an opaque ``binary`` payload column
    flows through an Arrow-batched ``mapInPandas`` decode stage emitting
    typed media metadata (dims, frame count). The decode body is a
    deterministic STUB (see _decode_batches); everything Spark-side —
    binary columns, batch shapes, schema contract, per-partition
    parallelism with zero shuffle — is the production path. At 100 TB
    decode cost dominates and is embarrassingly parallel; partition count
    (not data layout) is the throughput knob."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload"))
    return d.mapInPandas(_decode_batches, _DECODE_SCHEMA).orderBy("doc_id")


# --- BPE-ish token counting ---------------------------------------------------

_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

_TOKBPE_ORACLE = f"""
SELECT lang,
       count(*) AS docs,
       CAST(sum(len(regexp_extract_all(text, '{_TOKEN_RE}'))) AS BIGINT)
         AS total_tokens,
       CAST(sum(len(regexp_extract_all(text, '{_TOKEN_RE}'))) AS BIGINT) * 1.0
         / count(*) AS avg_tokens
FROM documents
GROUP BY lang
ORDER BY lang
"""


@contract("text_token_bpe", oracle=_TOKBPE_ORACLE)
def text_token_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget estimation with a BPE-ish lexer regex (letter runs /
    digit runs / single punctuation), the pre-tokenizer shape GPT-style
    BPE vocabularies assume. Per-row regexp (JVM, codegen) then one tiny
    per-lang aggregate; avg is exact-integer total over exact count so
    the double division is bit-identical cross-engine."""
    d = load_table(spark, sf_dir, "documents")
    ntok = F.size(F.regexp_extract_all("text", F.lit(_TOKEN_RE), F.lit(0)))
    return (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("docs"),
             F.sum(ntok).alias("total_tokens"))
        .select("lang", "docs", "total_tokens",
                (F.col("total_tokens") * F.lit(1.0) / F.col("docs"))
                .alias("avg_tokens"))
        .orderBy("lang")
    )


# --- Blocked fuzzy-match pairs (edit distance) --------------------------------

_FUZZY_ORACLE = """
WITH p AS (
  SELECT p_partkey, p_name, substr(p_name, 1, 6) AS blk
  FROM part WHERE p_partkey < 1500
)
SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
FROM p a JOIN p b ON a.blk = b.blk AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 2
ORDER BY key_a, key_b
"""


@contract("text_fuzzy_pairs", oracle=_FUZZY_ORACLE)
def text_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching: name pairs within edit distance 2, candidates
    blocked by a 6-char prefix so the join is an EQUI-join on the block
    key — the blocking pattern that keeps record linkage linear-ish at
    scale (levenshtein runs only inside blocks; an unblocked version is a
    cross join). Prefix blocking misses pairs whose edit is in the first 6
    chars — the standard multi-pass fix (prefix + suffix + phonetic
    blocks, union) layers the same operator; the oracle applies the
    identical single block so the contract is exact."""
    p = (load_table(spark, sf_dir, "part")
         .where(F.col("p_partkey") < 1500)
         .select("p_partkey", "p_name",
                 F.substring("p_name", 1, 6).alias("blk")))
    a = p.select(F.col("p_partkey").alias("key_a"),
                 F.col("p_name").alias("name_a"), "blk")
    b = p.select(F.col("p_partkey").alias("key_b"),
                 F.col("p_name").alias("name_b"), "blk")
    return (
        a.join(b, "blk")
        .where(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b",
                F.levenshtein("name_a", "name_b").alias("dist"))
        .where(F.col("dist") <= 2)
        .orderBy("key_a", "key_b")
    )


# --- multimodal frame sampling (1 -> N expansion) ----------------------------

_FRAME_SCHEMA = "doc_id long, frame_idx int, frame_sig bigint"

_FRAME_ORACLE = """
WITH b AS (
  SELECT doc_id, octet_length(encode(text)) AS n FROM documents
), f AS (
  SELECT doc_id, n, 1 + n % 24 AS n_frames,
         least(1 + n % 24, 4) AS k
  FROM b
), e AS (
  SELECT doc_id, n, n_frames, k,
         unnest(generate_series(0, k - 1)) AS i
  FROM f
)
SELECT doc_id,
       CAST((i * n_frames) // k AS INTEGER) AS frame_idx,
       CAST((n * 2654435761 + ((i * n_frames) // k) * 40503) % 2147483647
            AS BIGINT) AS frame_sig
FROM e
ORDER BY doc_id, frame_idx
"""


def _frame_batches(batches: Iterator) -> Iterator:
    """STUB frame extractor: a real deployment decodes video bytes and
    emits sampled frames (pyav absent here). Frame count, evenly-spaced
    sample indices, and per-frame signatures are deterministic functions
    of the payload so the 1->N Arrow plumbing is oracle-checkable; the
    row-expansion shape (each input row yields a variable number of
    output rows) is exactly the production frame-sampler's."""
    import numpy as np
    import pandas as pd

    for pdf in batches:
        n = pdf["payload"].map(len).to_numpy(dtype="int64")
        nf = 1 + n % 24
        k = np.minimum(nf, 4)
        reps = k.astype("int64")
        doc = np.repeat(pdf["doc_id"].to_numpy(dtype="int64"), reps)
        n_r = np.repeat(n, reps)
        nf_r = np.repeat(nf, reps)
        k_r = np.repeat(k, reps)
        i = np.concatenate([np.arange(x, dtype="int64") for x in reps]) \
            if len(reps) else np.array([], dtype="int64")
        idx = (i * nf_r) // k_r
        sig = (n_r * 2654435761 + idx * 40503) % 2147483647
        yield pd.DataFrame({
            "doc_id": doc,
            "frame_idx": idx.astype("int32"),
            "frame_sig": sig,
        })


@contract("multimodal_frame_sample", oracle=_FRAME_ORACLE)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame sampling: each opaque video payload expands to ≤ 4
    evenly-spaced sampled frames via mapInPandas — the 1->N row-expansion
    surface (J16 multimodal_decode is the 1->1 metadata shape). The
    output row count is data-dependent, which is the property that rules
    out a scalar UDF and makes this the canonical mapInPandas use.

    100 TB: zero shuffle — expansion happens inside each input partition;
    output partition sizing (frames are big, inputs small) is the knob,
    set via repartition AFTER sampling only if the sink needs it."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload"))
    return (d.mapInPandas(_frame_batches, _FRAME_SCHEMA)
            .orderBy("doc_id", "frame_idx"))
