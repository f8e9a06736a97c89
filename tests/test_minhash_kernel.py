"""MinHash signature kernel guards.

``dedup_docs_minhash`` computes its 64 permutation minima in one
mapInArrow kernel (``_minhash_bands_gen``) and keys each band by the
exact pair of minima. These tests pin:
- the kernel's signatures against the JVM ``min(pmod(a*h+b, p))``
  expression the contract used before, kept here as the reference;
- that the band key is exact (it decodes back to both minima);
- the kernel's edge cases (empty shingle sets, null lists, empty and
  sliced Arrow batches);
- that building the plan starts no Spark job (also for
  ``dedup_docs_simhash``, which has no candidate stage to size);
- that the one-pass Jaccard verify runs the kernel once: its final
  plan holds one kernel node, no broadcast job re-runs it (a cold
  broadcast of the kernel's subtree could outlast
  ``spark.sql.broadcastTimeout``), and the action runs at most 7 jobs.
"""

from __future__ import annotations

import time

import pyarrow as pa
import pyspark.sql.functions as F

from silvia_spark.functions.llm_ops import (_BAND_ROWS, _MH_A, _MH_B,
                                            _MH_PRIME, _NUM_PERM,
                                            _hashed_shingles,
                                            _minhash_bands_gen, _shingles)
from silvia_spark.io import clear_caches, load_table
from tests.conftest import SF_SMALL

_MASK = (1 << 31) - 1
_SCHEMA = "doc_id bigint, band_id int, band_key bigint"


def _hashes(docs):
    sh = _shingles(docs.select(
        "doc_id", F.split(F.lower("text"), " ").alias("w")))
    return sh.select("doc_id", _hashed_shingles(
        lambda s: F.pmod(F.xxhash64(s), F.lit(_MH_PRIME))).alias("h"))


def _edge_docs(spark):
    """The small corpus plus docs with no 3-shingle: null text, empty
    text, fewer than 3 words; and one exactly 3 words long."""
    extra = spark.createDataFrame(
        [(10**9, None), (10**9 + 1, ""), (10**9 + 2, "two words"),
         (10**9 + 3, "just three words")], "doc_id bigint, text string")
    return (load_table(spark, SF_SMALL, "documents")
            .select("doc_id", "text").unionByName(extra))


def _jvm_signatures(h):
    """doc_id -> 64 minima, by the JVM explode + min(pmod(...)) form."""
    sig = (h.select("doc_id", F.explode("h").alias("h"))
           .groupBy("doc_id").agg(*[
               F.min(F.pmod(F.lit(_MH_A[i]) * F.col("h") + F.lit(_MH_B[i]),
                            F.lit(_MH_PRIME))).alias(f"m{i}")
               for i in range(_NUM_PERM)]))
    return {r[0]: list(r[1:]) for r in sig.collect()}


def _kernel_signatures(rows):
    """doc_id -> 64 minima decoded from the kernel's band keys."""
    out: dict[int, list] = {}
    for doc, band, key in rows:
        m = out.setdefault(doc, [None] * _NUM_PERM)
        m[band * _BAND_ROWS], m[band * _BAND_ROWS + 1] = key >> 31, key & _MASK
    return out


def _run_kernel(batches):
    rows = []
    for out in _minhash_bands_gen(iter(batches)):
        assert out.schema.names == ["doc_id", "band_id", "band_key"]
        rows += zip(*(c.to_pylist() for c in out.columns))
    return sorted(rows)


def _loop_keys(doc_id, hs):
    """Loop reference for one doc's band rows."""
    m = [min((a * h + b) % _MH_PRIME for h in hs)
         for a, b in zip(_MH_A, _MH_B)]
    return [(doc_id, b, (m[2 * b] << 31) | m[2 * b + 1])
            for b in range(_NUM_PERM // _BAND_ROWS)]


def test_kernel_signatures_match_jvm_expression(spark):
    h = _hashes(_edge_docs(spark))
    rows = h.mapInArrow(_minhash_bands_gen, _SCHEMA).collect()
    got = _kernel_signatures(rows)
    want = _jvm_signatures(h)
    assert len(want) > 100
    assert got == want  # the no-shingle docs are absent from both
    assert 10**9 + 3 in got and 10**9 + 2 not in got


def test_band_key_is_exact(spark):
    """A band key determines both minima of its band: it decodes back to
    them, and distinct (band, key) pairs are exactly the distinct
    (band, m[2b], m[2b+1]) triples."""
    h = _hashes(load_table(spark, SF_SMALL, "documents"))
    rows = h.mapInArrow(_minhash_bands_gen, _SCHEMA).collect()
    want = _jvm_signatures(h)
    triples = set()
    for doc, band, key in rows:
        lo, hi = want[doc][band * _BAND_ROWS], want[doc][band * _BAND_ROWS + 1]
        assert 0 <= lo < _MH_PRIME and 0 <= hi < _MH_PRIME
        assert key == (lo << 31) | hi
        triples.add((band, lo, hi))
    assert len({(band, key) for _, band, key in rows}) == len(triples)


def test_kernel_edge_batches():
    h_type = pa.list_(pa.int64())
    docs = [1, 2, 3, 4, 5, 6]
    lists = [[7, 11], None, [], [2**31 - 2, 0, 5], [123456789], [3, 3, 9]]
    batch = pa.RecordBatch.from_arrays(
        [pa.array(docs, pa.int64()), pa.array(lists, h_type)],
        names=["doc_id", "h"])
    want = sorted(r for d, hs in zip(docs, lists) if hs
                  for r in _loop_keys(d, hs))
    assert _run_kernel([batch]) == want
    # empty batch, and a batch of only empty/null shingle sets
    assert _run_kernel([batch.slice(0, 0), batch.slice(1, 2)]) == []
    # a sliced batch: list offsets no longer start at 0
    sliced = batch.slice(3, 3)
    assert sliced.column("h").offsets[0].as_py() != 0
    assert _run_kernel([sliced]) == [r for r in want if r[0] >= 4]


def _jobs_in_group(spark, group):
    """Job count of ``group`` once the listener bus has caught up: a
    1-row sentinel job runs in a group of its own, and since job events
    arrive in order, every earlier job is visible once it is."""
    sc = spark.sparkContext
    sentinel = f"{group}.sentinel"
    sc.setJobGroup(sentinel, sentinel)
    try:
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup(sentinel):
        assert time.time() < deadline, "sentinel job never became visible"
        time.sleep(0.1)
    return len(tracker.getJobIdsForGroup(group))


def _assert_plan_build_starts_no_job(spark, name):
    from silvia_spark import registry

    registry.load_all_modules()
    clear_caches()
    sc = spark.sparkContext
    group = f"{name}-build"
    sc.setJobGroup(group, group)
    try:
        df = registry.QUERIES[name](spark, SF_SMALL)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert _jobs_in_group(spark, group) == 0
    assert df.count() > 0
    clear_caches()


def test_minhash_plan_build_starts_no_job(spark):
    _assert_plan_build_starts_no_job(spark, "dedup_docs_minhash")


def test_simhash_plan_build_starts_no_job(spark):
    """SimHash filters the exact Jaccard kernel's pairs by shared bands:
    it has no candidate stage to size at plan build."""
    _assert_plan_build_starts_no_job(spark, "dedup_docs_simhash")


def _walk(node, above=()):
    """(node, ancestors) over a physical plan, descending through query
    stages, AQE wrappers and into the plans of cached relations."""
    yield node, above
    name = node.getClass().getSimpleName()
    if name.endswith("QueryStageExec"):
        kids = [node.plan()]
    elif name == "AdaptiveSparkPlanExec":
        kids = [node.executedPlan()]
    elif name == "InMemoryTableScanExec":
        kids = [node.relation().cachedPlan()]
    else:
        seq = node.children()
        kids = [seq.apply(i) for i in range(seq.size())]
    for k in kids:
        yield from _walk(k, above + (node,))


def _kinds(nodes):
    return [n.getClass().getSimpleName() for n in nodes]


def _cold_minhash(spark):
    from silvia_spark import registry

    registry.load_all_modules()
    clear_caches()
    return registry.QUERIES["dedup_docs_minhash"](spark, SF_SMALL)


def test_verify_plan_runs_the_kernel_once(spark):
    """On cold caches the final plan holds ONE mapInArrow kernel node,
    nothing is read from a cache, and a broadcast above the kernel
    reads it only through a materialized query stage: the broadcast
    job never executes the kernel's subtree itself."""
    df = _cold_minhash(spark)
    df.toArrow()
    root = df._jdf.queryExecution().executedPlan()
    assert root.getClass().getSimpleName() == "AdaptiveSparkPlanExec"
    assert root.isFinalPlan()
    nodes = list(_walk(root))
    assert "InMemoryTableScanExec" not in _kinds(n for n, _ in nodes)
    kernels = [(n, above) for n, above in nodes
               if "MapInArrow" in n.getClass().getSimpleName()]
    assert len(kernels) == 1, _kinds(n for n, _ in kernels)
    _node, above = kernels[0]
    kinds = _kinds(above)
    bcs = [i for i, k in enumerate(kinds) if k.startswith("Broadcast")]
    if bcs:
        stages = [a for a, k in zip(above[bcs[-1] + 1:], kinds[bcs[-1] + 1:])
                  if k.endswith("QueryStageExec")]
        assert stages and all(s.isMaterialized() for s in stages), kinds


def test_minhash_action_runs_at_most_7_jobs(spark):
    """The fresh-plan action of the one-pass verify: the candidate
    stages, the document join and the pair grouping, at most 7 Spark
    jobs (the cached two-slot verify ran 14 at sf1)."""
    df = _cold_minhash(spark)
    sc = spark.sparkContext
    group = "minhash-action"
    sc.setJobGroup(group, group)
    try:
        assert df.toArrow().num_rows > 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = _jobs_in_group(spark, group)
    assert jobs <= 7, f"the verify ran {jobs} Spark jobs"
