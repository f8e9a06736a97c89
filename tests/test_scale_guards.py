"""Scale-guard behavior tests — the code paths that only matter on
pathological corpora (degenerate LSH buckets) must demonstrably bound work,
and must be no-ops on this corpus (the contracts' hash-green status already
proves the latter at the driver level).
"""

from __future__ import annotations

import pyspark.sql.functions as F

from silvia_spark.functions.llm_extras import bucket_keys, cap_buckets
from silvia_spark.io import load_table
from tests.conftest import SF_SMALL


def test_cap_buckets_drops_only_oversized(spark):
    df = spark.createDataFrame(
        [(i, 0, 7) for i in range(10)]        # one hot bucket: 10 members
        + [(100 + i, 0, i + 50) for i in range(4)],  # 4 singleton buckets
        "vec_id long, table_id int, bucket_key long")
    capped = cap_buckets(df, cap=5)
    rows = capped.collect()
    assert len(rows) == 4
    assert all(r.bucket_key >= 50 for r in rows)


def test_cap_of_one_kills_all_candidate_pairs(spark):
    e = load_table(spark, SF_SMALL, "embeddings")
    buckets = cap_buckets(bucket_keys(spark, e), cap=1)
    left = buckets.select(F.col("vec_id").alias("a"), "table_id", "bucket_key")
    right = buckets.select(F.col("vec_id").alias("b"), "table_id", "bucket_key")
    pairs = (left.join(right, ["table_id", "bucket_key"])
             .where(F.col("a") < F.col("b")))
    assert pairs.limit(1).count() == 0


def test_production_cap_is_noop_on_corpus(spark):
    e = load_table(spark, SF_SMALL, "embeddings")
    from silvia_spark.functions.llm_extras import _ANN_BUCKET_CAP
    raw = bucket_keys(spark, e)
    assert cap_buckets(raw, _ANN_BUCKET_CAP).count() == raw.count()


def test_dpp_fires_in_scan_dpp_join(spark):
    """L4's contract claim: the fact scan's PartitionFilters must carry a
    runtime dynamicpruningexpression injected from the dim filter."""
    from silvia_spark import registry

    registry.load_all_modules()
    df = registry.QUERIES["scan_dpp_join"](spark, SF_SMALL)
    df.toArrow()  # settle AQE so the final plan is inspectable
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan, "DPP did not fire on the fact scan"


# --- jaccard_pairs document-frequency cap (r04) -------------------------------

def _boilerplate_corpus(spark, n_hot=40):
    """n_hot docs sharing ONE hot shingle ('lorem ipsum dolor') plus unique
    filler, + 2 genuine near-dup docs that share no hot shingle. Uncapped,
    the hot shingle alone generates n_hot·(n_hot-1)/2 candidate pairs."""
    hot = [(i, f"lorem ipsum dolor unique{i}a unique{i}b unique{i}c")
           for i in range(n_hot)]
    near = [(1000, "alpha beta gamma delta epsilon zeta"),
            (1001, "alpha beta gamma delta epsilon eta")]
    return spark.createDataFrame(hot + near, "doc_id long, text string")


def test_jaccard_df_cap_bounds_candidates(spark):
    """With the cap below the hot shingle's df, the planted boilerplate
    must produce ZERO candidate pairs (its df² blow-up is gone), while the
    genuine near-dup pair — whose shingles are all rare — still surfaces."""
    from silvia_spark.functions.training_ops import jaccard_pairs

    docs = _boilerplate_corpus(spark)
    got = jaccard_pairs(docs, 0.6, df_cap=10).collect()
    assert [(r.doc_a, r.doc_b) for r in got] == [(1000, 1001)]


def test_jaccard_df_cap_error_is_one_sided(spark):
    """Capped output ⊆ uncapped output (stop-shingle removal may lose
    pairs, never fabricate them), and pair-level jaccard never increases."""
    from silvia_spark.functions.training_ops import jaccard_pairs

    docs = _boilerplate_corpus(spark, n_hot=12)
    uncapped = {(r.doc_a, r.doc_b): r.jaccard
                for r in jaccard_pairs(docs, 0.3, df_cap=None).collect()}
    capped = {(r.doc_a, r.doc_b): r.jaccard
              for r in jaccard_pairs(docs, 0.3, df_cap=10).collect()}
    assert set(capped) <= set(uncapped)
    assert all(capped[k] <= uncapped[k] + 1e-12 for k in capped)


def test_jaccard_production_cap_is_noop_on_corpus(spark):
    """The default 10⁵ cap must not change J21's output on the test corpus
    — the exact all-pairs oracle stays the correctness gate."""
    from silvia_spark.functions.training_ops import jaccard_pairs
    from silvia_spark.io import load_table

    d = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    a = sorted((r.doc_a, r.doc_b, round(r.jaccard, 6))
               for r in jaccard_pairs(d, 0.8).collect())
    b = sorted((r.doc_a, r.doc_b, round(r.jaccard, 6))
               for r in jaccard_pairs(d, 0.8, df_cap=None).collect())
    assert a == b


def test_bloom_filter_injected_in_join_bloom_pruned(spark):
    """Under L6's scoped confs, InjectRuntimeFilter must push a
    might_contain(bloom) probe into the fact side. Asserted on a rebuilt
    (uncached) copy of the contract's join so the executed plan is
    visible rather than hidden behind the InMemoryRelation."""
    from silvia_spark.operators.scale_patterns import _L6_CONFS

    old = {k: spark.conf.get(k, None) for k in _L6_CONFS}
    try:
        for k, v in _L6_CONFS.items():
            spark.conf.set(k, v)
        li = load_table(spark, SF_SMALL, "lineitem")
        o = (load_table(spark, SF_SMALL, "orders")
             .where(F.col("o_orderpriority") == "1-URGENT"))
        j = (li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
             .groupBy("l_returnflag")
             .agg(F.count(F.lit(1)).alias("cnt")))
        j.collect()
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan or "might_contain" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bloom_confs_do_not_leak_from_contract(spark):
    """join_bloom_pruned must restore every conf it scopes."""
    from silvia_spark import registry

    registry.load_all_modules()
    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    registry.QUERIES["join_bloom_pruned"](spark, SF_SMALL).collect()
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == before


def test_corrupt_json_counts_are_exact(spark):
    """A11: the planted corruption arithmetic — 700 lines, every 7th
    (i%7==3) malformed → 100 corrupt, 600 good, and the good-id sum is
    Σ0..699 minus the corrupted ids."""
    from silvia_spark import registry

    registry.load_all_modules()
    [row] = registry.QUERIES["source_json_corrupt"](spark, SF_SMALL).collect()
    bad_ids = [i for i in range(700) if i % 7 == 3]
    assert (row.n_rows, row.n_corrupt, row.n_good) == (700, 100, 600)
    assert row.good_id_sum == sum(range(700)) - sum(bad_ids)


def test_zonemap_files_cover_narrow_ranges(spark):
    """L8: after repartition(year)+sortWithinPartitions, each parquet
    file's shipdate span (from its own footer stats) must be a small
    fraction of the table's global span — the property that lets the
    reader skip row groups. An unsorted rewrite fails this immediately."""
    import glob
    import os
    import tempfile

    import pyarrow.parquet as pq

    from silvia_spark import registry

    registry.load_all_modules()
    # materialize the sorted layout
    registry.QUERIES["sink_sorted_zonemap"](spark, SF_SMALL).collect()
    out = os.path.join(tempfile.gettempdir(),
                       "silvia_zonemap_" + SF_SMALL.strip("/").replace("/", "_"),
                       "lineitem_sorted")
    spans, mins, maxs = [], [], []
    for f in glob.glob(os.path.join(out, "*.parquet")):
        md = pq.ParquetFile(f).metadata
        names = [md.schema.column(i).name for i in range(len(md.schema))]
        col = names.index("l_shipdate")
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col).statistics
            spans.append((st.max - st.min).total_seconds())
            mins.append(st.min); maxs.append(st.max)
    total = (max(maxs) - min(mins)).total_seconds()
    assert spans and max(spans) < total / 2.5, \
        f"widest file span {max(spans)/86400:.0f}d vs global {total/86400:.0f}d"


# --- r05 shuffle-budget guards -----------------------------------------------
# The new contracts' docstrings make exact exchange-count claims; pin them
# against plan regressions (PLANS.md asserts operator PRESENCE, these
# assert the shuffle BUDGET).

def _executed_plan(spark, name):
    from silvia_spark import registry

    registry.load_all_modules()
    df = registry.QUERIES[name](spark, SF_SMALL)
    df.collect()  # let AQE finalize
    plan = df._jdf.queryExecution().executedPlan().toString()
    # AQE prints "== Final Plan ==" followed by "== Initial Plan ==";
    # count operators in the final section only or every node doubles.
    return plan.split("== Initial Plan ==")[0]


def test_funnel_shares_one_user_exchange(spark):
    """M19: three stage-anchor windows + the per-user reduce must all ride
    ONE user_id exchange; only the final single-row aggregate adds a
    second. More exchanges = the shared-partitioning claim regressed."""
    plan = _executed_plan(spark, "events_funnel_conversion")
    assert plan.count("Exchange") <= 2, plan


def test_attribution_single_user_exchange(spark):
    """M20: one user_id exchange for the window; the touch-type aggregate
    and output sort add at most two more tiny ones."""
    plan = _executed_plan(spark, "events_attribution_touch")
    assert plan.count("Window") == 1
    assert plan.count("Exchange") <= 3, plan


def test_entropy_two_partial_agg_exchanges(spark):
    """J37: (doc, token) counts then per-doc sum — two exchanges plus the
    output sort, no window pass anywhere."""
    plan = _executed_plan(spark, "text_entropy_quality")
    assert "Window" not in plan
    assert plan.count("Exchange") <= 3, plan


def test_weighted_priority_zero_shuffle(spark):
    """J38: projection + TakeOrderedAndProject — the corpus is never
    shuffled at all."""
    plan = _executed_plan(spark, "sample_weighted_priority")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan, plan


def test_interval_overlap_is_hash_join_not_bnlj(spark):
    """L9's whole reason to exist: the banded decomposition must plan a
    HASH join on the band key — a BroadcastNestedLoopJoin means Catalyst
    fell back to the O(n·m) pair scan the banding removes. Also pins the
    no-distinct claim: exactly-once comes from attribution-band emission,
    not a dedup exchange."""
    plan = _executed_plan(spark, "join_interval_overlap")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "HashJoin" in plan, plan
    assert "HashAggregate" not in plan, plan  # a distinct would add one


def test_url_canonical_single_groupby_exchange(spark):
    """J41: canonicalization is pure codegen projection; one exchange for
    the canonical-key groupBy plus at most the output sort's."""
    plan = _executed_plan(spark, "dedup_url_canonical")
    assert plan.count("Exchange") <= 2, plan
    assert "BatchEvalPython" not in plan, plan  # canonicalizer stays JVM-side


def test_merge_keyed_prunes_untouched_partitions(spark):
    """A13's copy-on-write reads ONLY touched partitions: the current-table
    scan must carry a partition filter on event_type (the pruning that at
    100 TB keeps MERGE cost proportional to touched data, not table
    size)."""
    import re

    from silvia_spark import registry

    registry.load_all_modules()
    df = registry.QUERIES["sink_merge_keyed"](spark, SF_SMALL)
    df.collect()
    # The returned plan only covers the final read-back; the pruning claim
    # lives in the MERGE's current-scan. Re-build just that scan the way
    # the contract does and check its partition filters.
    import glob
    import os
    import tempfile

    roots = sorted(glob.glob(os.path.join(tempfile.gettempdir(),
                                          "silvia_merge_*", "events_cow")),
                   key=os.path.getmtime)
    scan = (spark.read.parquet(roots[-1])
            .where(F.col("event_type").isin(["click", "error"])))
    plan = scan._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_type" in m.group(1), plan


def test_ip_geo_one_row_per_event_no_fanout(spark):
    """M22: the band-array pre-aggregation means the broadcast join emits
    exactly one row per event — no fan-out, no collapse pass. The plan
    must show a broadcast hash join and ZERO nested loops; the shuffle
    budget is exactly the rollup's: one 32-row geo-side build exchange,
    the two-phase exact countDistinct pair on the event set, and the
    output sort — 4 total, none of them a pre-aggregation collapse of a
    fanned-out join."""
    plan = _executed_plan(spark, "etl_ip_geo_range")
    assert "BroadcastHashJoin" in plan, plan
    assert "NestedLoop" not in plan, plan
    shuffles = (plan.count("Exchange hashpartitioning")
                + plan.count("Exchange rangepartitioning"))
    assert shuffles <= 4, plan
    # one row per event: no event_id-keyed exchange anywhere (a fan-out
    # collapse would have to re-shuffle on the event key)
    assert "hashpartitioning(event_id" not in plan, plan


# --- dedup_docs_simhash bound ---------------------------------------------------

def test_simhash_pairs_come_from_capped_jaccard_kernel(spark, monkeypatch):
    """SimHash's only super-linear stage is the inverted-index kernel, so
    its bound is ``jaccard_pairs``' default stop-shingle cap: the contract
    must take its pairs from ``jaccard_pairs`` at tau 0.8 with the
    default ``df_cap`` (not ``None``), and every output pair must be one
    of them."""
    import inspect

    from silvia_spark import registry
    from silvia_spark.functions import training_ops

    registry.load_all_modules()
    real = training_ops.jaccard_pairs
    calls = []

    def spy(*args, **kwargs):
        bound = inspect.signature(real).bind(*args, **kwargs)
        bound.apply_defaults()
        calls.append(bound.arguments)
        return real(*args, **kwargs)

    monkeypatch.setattr(training_ops, "jaccard_pairs", spy)
    out = registry.QUERIES["dedup_docs_simhash"](spark, SF_SMALL).collect()
    assert len(calls) == 1
    assert calls[0]["tau"] == 0.8
    assert training_ops._JACCARD_DF_CAP is not None
    assert calls[0]["df_cap"] == training_ops._JACCARD_DF_CAP
    pairs = {(r.doc_a, r.doc_b) for r in real(calls[0]["docs"], 0.8).collect()}
    assert out and {(r.doc_a, r.doc_b) for r in out} <= pairs
