#!/usr/bin/env python
"""Regenerate PLANS.md — the audited physical plans for the headline and
scale-critical queries, with the properties each plan is REQUIRED to show.

Run: python tools/dump_plans.py  (writes PLANS.md at the repo root)

The point of committing the artifact: "looks right to me" plan reviews rot
silently when shared machinery changes; a committed formatted plan makes
plan drift reviewable in git diff like any other regression.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# (contract, required substrings, commentary)
AUDITED = [
    ("agg_pricing_summary", ["HashAggregate", "*("],
     "partial→final HashAggregate around one exchange; scan prunes to the "
     "7 referenced columns (ReadSchema) with the date filter pushed "
     "(PushedFilters)."),
    ("q3_shipping_priority", ["BroadcastHashJoin", "TakeOrderedAndProject"],
     "filtered customer broadcasts; lineitem shuffles once on orderkey; "
     "top-10 is TakeOrderedAndProject, never a global sort."),
    ("join_5way_star", ["BroadcastHashJoin"],
     "every dimension joins as BuildRight broadcast onto the single fact "
     "lineage — zero fact shuffles before aggregation."),
    ("window_rank_topn", ["WindowGroupLimit"],
     "rank ≤ 3 plans WindowGroupLimit Partial→Final: map tasks truncate "
     "per customer before the exchange."),
    ("topk_limit", ["TakeOrderedAndProject"],
     "global top-100 without a global sort."),
    ("agg_count_distinct", ["HashAggregate", "AQEShuffleRead"],
     "two-phase exact distinct (expand on the distinct key, then merge); "
     "AQE coalesces the small shuffles at this SF."),
    ("stream_tumbling_1h", ["date_trunc", "HashAggregate"],
     "batch twin groups on date_trunc — a pure projection key (no "
     "F.window struct explosion in the batch path)."),
    ("stream_session_30m", ["Window"],
     "sessionization = lag→flag→running-sum over ONE user_id shuffle; "
     "both window specs share the sort."),
    ("join_asof", ["WindowGroupLimit"],
     "as-of = bucket equi-join + per-event row_number()=1, planned with "
     "map-side WindowGroupLimit truncation."),
    ("sample_stratified", ["WindowGroupLimit"],
     "deterministic stratified sample: per-stratum top-k truncates "
     "map-side; shuffle volume independent of corpus size."),
    ("etl_events_enriched", ["WindowGroupLimit", "BroadcastHashJoin"],
     "the full ETL composite: dedup exchange pre-truncated map-side, "
     "dimension enrich is a broadcast hash lookup, rollup partial-aggs."),
    ("sim_ann_lsh", ["MapInArrow _fused_gemm_gen", "HashAggregate"],
     "sign projections run as ONE map-only numpy GEMM per Arrow batch "
     "(r14 kernel swap, bit-identical to the retained JVM reference). "
     "The capped bucket rows join the corpus (vec_id, embedding) — the "
     "second read of embeddings, a broadcast build side — and group per "
     "bucket with no new exchange (the distinct and the groupBy ride "
     "the persisted bucket table's window partitioning). ONE kernel "
     "(_fused_gemm_gen) takes each bucket's pair cosines as a dgemm, "
     "thresholded at tau-1e-9 (superset), and rescores the survivors "
     "with the exact einsum formula in the same pass; a tiny distinct "
     "folds pairs found in several buckets. No corpus matrix is "
     "collected or broadcast, so one route serves every corpus size."),
    ("sim_topk_cosine", ["HashAggregate", "BroadcastHashJoin",
                         "TakeOrderedAndProject"],
     "r04 kernel swap: corpus-vs-query scoring is GEMM-by-join — "
     "posexplode both sides, broadcast the query's (pos, qx) pairs, and "
     "fold the products in partial→final HashAggregates. 100% "
     "whole-stage-codegen JVM arithmetic (no interpreted zip_with/"
     "aggregate HOFs, no Python stage at all); top-k stays "
     "TakeOrderedAndProject."),
    ("sim_join_threshold", ["MapInArrow _fused_gemm_gen",
                            "REPARTITION_BY_NUM"],
     "the LSH family's exact kernel (_fused_gemm_gen) over a grid of id "
     "blocks: pmod(vec_id, K) splits the corpus, each vector joins the "
     "K block pairs it belongs to, and one row per pair carries both "
     "member lists — no pair row is ever materialized, only survivors "
     "leave the kernel. The grid shuffle has an explicit width "
     "(REPARTITION_BY_NUM), which AQE does not coalesce into one task."),
    ("text_ngram_jaccard", ["HashAggregate", "SortMergeJoin"],
     "inverted-index EQUI-join on shingle (plus the r04 document-frequency "
     "cap aggregate) — candidate pairs sort-merge-join on the shingle key "
     "directly over the posting-list cache's hash-partitioned, sorted "
     "layout (r14: zero join exchange, no per-execution broadcast of the "
     "posting list), never an all-pairs product."),
    ("scan_partition_pruned", ["PartitionFilters"],
     "the partition predicate lands in PartitionFilters — pruned at "
     "listing time, unmatched directories never open."),
    ("join_range_banded", ["BroadcastHashJoin"],
     "the pure range predicate runs as a HASH join on quantized band "
     "keys (probe rows replicated to adjacent bands), not the "
     "BroadcastNestedLoopJoin Catalyst would otherwise plan."),
    ("scan_dpp_join", ["dynamicpruning"],
     "dynamic partition pruning: the dim's conv_flag filter injects a "
     "runtime partition filter into the fact scan (needs a real source "
     "dim and an isLikelySelective predicate — see the contract "
     "docstring)."),
    ("q5_local_supplier", ["BroadcastHashJoin"],
     "TPC-H Q5: one fact shuffle (orderkey), every dim a broadcast build "
     "side — the c_nationkey = s_nationkey constraint rides the supplier "
     "broadcast as a second equi-key instead of forcing its own "
     "exchange."),
    ("q4_order_priority", ["LeftSemi"],
     "EXISTS compiles to LEFT SEMI keyed on orderkey with the non-equi "
     "lateness residual evaluated per probe — no row multiplication "
     "reaches the aggregate."),
    ("q14_promo_revenue", ["BroadcastHashJoin", "HashAggregate"],
     "conditional promo/total grid sums fold map-side around the "
     "broadcast part join."),
    ("q19_disjunctive", ["Or(Or(And("],
     "the OR-of-ANDs predicate is FACTORED by Catalyst: each scan's "
     "PushedFilters carries its side's disjunctive bands (quantity "
     "ranges on lineitem, brand×size on part) — only the cross-side "
     "residual waits for the join."),
    ("q22_dormant_customers", ["LeftAnti", "BroadcastNestedLoopJoin"],
     "the 1-row threshold attaches as a broadcast nested-loop cross "
     "(constant-size build side — the degenerate case where BNLJ is "
     "correct), dormancy is LEFT ANTI against distinct recent buyers."),
    ("text_unicode_normalize", ["ArrowEvalPython"],
     "the NFC kernel is an Arrow-batched pandas UDF stage "
     "(ArrowEvalPython, never row-at-a-time BatchEvalPython); the rest "
     "of the projection stays codegen. dedup_cluster_cc is audited by "
     "its fixpoint oracle rather than dumped here: its final plan "
     "prints the per-iteration cached lineages recursively (hundreds "
     "of repeated joins in toString), which would bury the signal."),
    # -- late-r04 additions (M11-M17, E9, D13, J28-J34) ----------------------
    ("q7_volume_shipping", ["BroadcastHashJoin"],
     "TPC-H Q7: nation broadcasts TWICE (customer side, supplier side); "
     "the (A,B)∨(B,A) pair disjunction evaluates post-join while each "
     "probe still prunes via the derived per-side IN(A,B)."),
    ("q8_market_share", ["BroadcastHashJoin", "HashAggregate"],
     "TPC-H Q8: fact + 6 broadcast dims (widest star in the suite); the "
     "market-share CASE folds inside the partial grid-sum aggregate."),
    ("q13_order_distribution", ["HashAggregate", "LeftOuter"],
     "TPC-H Q13: LEFT OUTER with the priority predicate INSIDE the join "
     "condition (zero-order customers survive); per-customer agg and the "
     "histogram agg stack over one custkey exchange."),
    ("q15_top_supplier", ["InMemoryTableScan", "HashAggregate"],
     "TPC-H Q15: the scalar max is an aggregate of the PERSISTED "
     "per-supplier revenue, broadcast back as a 1-row equality join — "
     "one fact scan (the cache barrier is what makes the double "
     "reference safe), and no single-partition stage (r14: the "
     "full-frame window this replaces funnelled the whole supplier "
     "aggregate through ONE task)."),
    ("q17_small_quantity", ["BroadcastHashJoin", "Window",
                            "HashAggregate"],
     "TPC-H Q17: the correlated per-part mean is a WINDOW over the one "
     "brand-slice exchange (r07 — the join-back form scanned the fact "
     "twice); the brand dim is a broadcast build side."),
    ("q21_waiting_orders", ["Window", "TakeOrderedAndProject"],
     "TPC-H Q21: the EXISTS / NOT EXISTS pair collapses to per-order "
     "collect_set windows over the one orderkey exchange the join "
     "already paid for; deterministic LIMIT 20 is TakeOrderedAndProject."),
    ("window_gaps_islands", ["WindowGroupLimit"],
     "gaps-and-islands: the per-user longest-streak argmax (rn=1) "
     "truncates map-side via WindowGroupLimit; island grouping rides "
     "the same user_id exchange."),
    ("events_retention_cohort", ["HashAggregate", "Window"],
     "cohort matrix: the first-week min is a per-user WINDOW over the "
     "distinct user-weeks (r07 — the join-back form scanned events "
     "twice); the final (cohort × offset) aggregate is tiny."),
    ("agg_heavy_hitters", ["BroadcastNestedLoopJoin", "HashAggregate"],
     "exact heavy hitters: per-user partial→final counts persisted once "
     "(r07 — the total now SUMS the cached counts instead of "
     "re-aggregating the source, which scanned events twice); the "
     "1-row total joins broadcast and the support test is an integer "
     "cross-multiply, no division anywhere."),
    ("sample_reservoir_group", ["WindowGroupLimit"],
     "deterministic reservoir: hash-rank rn<=3 truncates to 3 rows per "
     "source per map task BEFORE the exchange — shuffle volume is "
     "k·sources, independent of corpus size."),
    ("text_contamination", ["HashAggregate", "HashJoin"],
     "contamination scan: train-side and eval-side shingle postings "
     "equi-join on the shingle; candidates bounded by df_train·df_eval "
     "per shingle — never a corpus self-product."),
    ("doc_chunk_windows", ["Generate"],
     "chunking is a 1→N Generate (posexplode of window starts) feeding "
     "a pure projection — zero shuffle, md5 runs codegen-side."),
    ("embed_quantize_int8", ["Project"],
     "quantization is a single zero-shuffle projection of array "
     "higher-order expressions; the Arrow kernel path (K6) is the "
     "throughput variant when per-row HOF cost matters."),
    ("window_anomaly_zscore", ["Window"],
     "all three moment aggregates (n, S1, S2) share ONE full-frame "
     "window over one user_id exchange; the 3-sigma test is an integer "
     "projection after it — no second pass, no join-back."),
    ("q12_shipmode_priority", ["HashAggregate"],
     "CASE-pivot counts fold into map-side partials around the single "
     "orderkey shuffle — the Q12 shape never materializes per-priority "
     "rows."),
    ("agg_histogram_width", ["HashAggregate"],
     "width_bucket is a computed group key: partial-agg histogram, "
     "exchange carries ≤ bucket-count rows per task."),
    ("agg_approx_percentile", ["ObjectHashAggregate"],
     "percentile_approx is a mergeable sketch aggregate "
     "(ObjectHashAggregate partial→final): one pass, O(sketch) shuffle — "
     "the scale story exact percentiles (D10's full sort) cannot tell."),
    ("join_or_keys_union", ["BroadcastHashJoin", "HashAggregate"],
     "each OR-disjunct runs as its own broadcast HASH join (the plain OR "
     "condition would be a BroadcastNestedLoopJoin); the pair-key dedup "
     "and final count are ordinary aggregates."),
    ("agg_corr_exact", ["HashAggregate"],
     "five integer moment sums fold partial→final around one exchange; "
     "the correlation itself is three double ops in the projection — no "
     "second pass, no native corr()."),
    # -- r05 additions (J35-J36, M19-M20) ------------------------------------
    ("events_funnel_conversion", ["Window", "HashAggregate"],
     "ordered funnel: the three chained stage-anchor windows share ONE "
     "user_id exchange (same partition spec), the per-user reduce reuses "
     "that partitioning shuffle-free, and only three counters cross the "
     "final exchange."),
    ("events_attribution_touch", ["Window", "HashAggregate"],
     "last-touch attribution: prefix-frame last-IGNORE-NULLS lookback "
     "over one user_id exchange — no as-of self-join materializes; the "
     "attribution table aggregate is event_type-sized."),
    ("dedup_near_keep_best", ["HashJoin", "HashAggregate"],
     "survivor selection: pairs come from the inverted-index jaccard "
     "kernel (no all-pairs product); quality probes and the audit join "
     "are doc_id-keyed; the removal DISTINCT shuffles bare ids."),
    ("embed_norm_stats", ["HashAggregate"],
     "norm profile: zero-shuffle scan + label-keyed partial aggregate — "
     "the exchange carries label-cardinality rows, not vectors."),
    ("sim_ann_lsh_multiprobe", ["MapInArrow _fused_gemm_gen",
                                "HashAggregate"],
     "multiprobe LSH via llm_extras.ann_join (24 tables, 1 probe): "
     "sign bits + weak-bit margins from the map-only numpy GEMM kernel; "
     "explode(probe_keys) fans each vector to its weakest-bit flip on "
     "the probe side only. Distinct (member, bucket, side) rows join "
     "their vectors and group per bucket into probe/base member lists; "
     "the per-bucket P×B dgemm kernel thresholds and exactly rescores "
     "in one pass — never an all-pairs product."),
    ("scalar_variant", ["Project"],
     "VARIANT access is a pure codegen projection: one parse_json per "
     "row, typed variant_get path reads, zero shuffle."),
    ("window_trailing_interval", ["Window", "RangeFrame"],
     "time-interval range frame over the epoch-us ordering key: one "
     "user_id exchange + one sort; frame membership follows event time."),
    ("join_interval_overlap", ["HashJoin", "Generate"],
     "interval×interval overlap as a band-key HASH join (no "
     "BroadcastNestedLoopJoin anywhere): explode(sequence) replicates "
     "each side to its ≤2 bands, attribution-band emission keeps pairs "
     "exactly-once with no distinct aggregate."),
    ("dedup_url_canonical", ["HashAggregate"],
     "URL canonicalizer is pure codegen (parse_url + higher-order "
     "filter + sort_array — no Python eval node); one exchange for the "
     "canonical-key groupBy plus the output sort."),
    ("sim_ann_lsh_multiprobe2", ["MapInArrow _fused_gemm_gen",
                                 "HashAggregate"],
     "llm_extras.ann_join at 16 tables, 3 probes: the shared map-only "
     "numpy GEMM kernel; explode(probe_keys) fans each vector to its 3 "
     "flip probes on the probe side only; capped buckets. Members carry "
     "their vectors into the per-bucket P×B dgemm kernel, which "
     "thresholds and exactly rescores in one pass (see sim_ann_lsh)."),
    ("join_asof_nearest", ["Window", "HashJoin"],
     "nearest-direction as-of: bucket equi-join with the tolerance "
     "predicate bounding kept pairs, then the per-event arg-min window "
     "(|dt|, date, key) — C9's one-shuffle-per-side shape."),
    ("etl_ua_referer_enrich", ["HashAggregate"],
     "UA/referer classification is pure when/contains codegen (no "
     "Python eval node); the only exchanges belong to the final "
     "4-dimension rollup with its distinct-user pair."),
    ("etl_ip_geo_range", ["BroadcastHashJoin"],
     "band-array broadcast lookup: one row per event out of the join "
     "(no event_id exchange anywhere), higher-order filter resolves "
     "the containing range inline; shuffles are the rollup's only."),
    ("etl_currency_convert", ["BroadcastHashJoin", "HashAggregate"],
     "dense (currency, period) rate grid broadcasts; the fact scan "
     "flows straight into partial aggregation — no as-of window, no "
     "fan-out."),
    # -- r07 additions (M24-M28: the TPC-H completion set) -------------------
    ("q2_min_cost_supplier", ["BroadcastHashJoin", "HashAggregate",
                              "Window", "TakeOrderedAndProject"],
     "TPC-H Q2: the correlated per-part min is a WINDOW over the offer "
     "aggregate (a join-back would materialize the fact subtree twice); "
     "region-filtered suppliers and part attributes are broadcast build "
     "sides; top-100 is TakeOrderedAndProject over the full tie-break "
     "key, never a global sort."),
    ("q9_product_profit", ["BroadcastHashJoin", "HashAggregate"],
     "TPC-H Q9: the name-filtered part, supplier and nation dims all "
     "broadcast onto the fact; orders joins on the single l_orderkey "
     "exchange; the grid profit expression folds into partial→final "
     "HashAggregates map-side."),
    ("q11_important_parts", ["InMemoryTableScan", "HashAggregate"],
     "TPC-H Q11: per-part grid sums partial→final into a cache barrier; "
     "the global total is a scalar aggregate of the cached frame, "
     "broadcast back as a 1-row nested-loop join on the integer-grid "
     "threshold — one fact scan AND no single-partition window (r14)."),
    ("q16_supplier_part_counts", ["HashAggregate", "BroadcastHashJoin",
                                  "LeftAnti"],
     "TPC-H Q16: the distinct (part, supplier) pair reduction is the "
     "only fact-sized exchange; the filtered part dim broadcasts; the "
     "excluded-supplier set attaches as a broadcast LEFT ANTI; "
     "count-distinct runs partial→final."),
    ("text_unigram_logprob", ["BroadcastHashJoin", "HashAggregate"],
     "unigram-LM scoring: pass 1 builds the vocab-sized LM into a cache "
     "barrier (partial aggs absorb stopword skew — deliberately NO "
     "token-partitioned window), with the corpus total a scalar "
     "aggregate of the cache broadcast back as a 1-row cross join "
     "(r14: previously a single-partition full-frame window); pass 2 "
     "joins the LM back as a broadcast; the NLL term is grid-quantized "
     "on the vocabulary before the join."),
    ("q20_dominant_suppliers", ["HashAggregate", "Window", "LeftSemi"],
     "TPC-H Q20: one (part, supplier) aggregate → per-part sum WINDOW "
     "(a re-aggregate join-back would scan the fact twice) → integer "
     "dominance cut → distinct semi-set → LEFT SEMI onto the "
     "broadcast-dim-filtered supplier table; only bare ids cross the "
     "final exchanges."),
    ("scan_manifest_pruned", ["HashAggregate", "PushedFilters"],
     "manifest min/max skipping: the returned plan scans ONLY the "
     "index-kept files (file list resolved driver-side through the "
     "manifest, before Spark ever lists), the residual range filter is "
     "still pushed to the parquet reader, and the rollup runs "
     "partial→final."),
    ("scan_manifest_zorder", ["HashAggregate", "PushedFilters"],
     "z-ordered manifest scan: the two-range predicate prunes files on "
     "BOTH clustered dimensions through the index (asserted "
     "in-contract), the residual two-range filter pushes into the "
     "pruned scan, and the aggregate is partial→final; the Morton key "
     "itself is write-path-only codegen (never in this read plan)."),
    ("scan_manifest_schema_evolution", ["HashAggregate"],
     "evolved snapshot read: the explicit per-version read schema "
     "NULL-fills pre-evolution files inside the vectorized parquet "
     "reader itself — no union, no per-file branching in the plan; one "
     "scan node over the snapshot's file list, partial→final "
     "aggregation above it."),
    ("scan_manifest_widened", ["HashAggregate"],
     "type-widened snapshot read: pre-widening int32 files upcast to "
     "the bigint read schema inside the vectorized parquet reader — "
     "no cast node, no union, no per-file branching; one scan over the "
     "snapshot's file list with partial→final aggregation above it."),
    ("scan_manifest_renamed", ["HashAggregate"],
     "column-mapped snapshot read: files are scanned under their "
     "PHYSICAL names and one Project aliases them to the logical "
     "schema — no UDF, no shuffle, no per-file branching; renames and "
     "drops never appear as plan nodes at all (metadata-only "
     "commits)."),
    ("sink_delete_dv", ["BroadcastHashJoin"],
     "merge-on-read read path: the delete-vector anti-join is a "
     "BROADCAST hash join on (file, row-position) — the tombstone side "
     "is small by the write-side crossover rule, so the scan gains "
     "zero shuffle; positions ride the _metadata hidden columns "
     "(vectorized reader, no Python stage anywhere in the plan)."),
]


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from silvia_spark import registry
    from silvia_spark.session import get_session

    registry.load_all_modules()
    spark = get_session("plans")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = "/root/testdata/sf0.01"

    out = [
        "# PLANS.md — audited physical plans (regenerate: "
        "`python tools/dump_plans.py`)",
        "",
        "Each section lists the scale property the plan MUST exhibit, "
        "asserted by the generator (it fails if a required operator "
        "disappears), followed by the formatted plan at sf0.01. Plan "
        "drift shows up in `git diff PLANS.md`.",
        "",
    ]
    for name, required, note in AUDITED:
        df = registry.QUERIES[name](spark, sf_dir)
        df.toArrow()  # execute so AQE settles on the final plan
        plan = df._jdf.queryExecution().executedPlan().toString()
        missing = [r for r in required if r not in plan]
        if missing:
            raise SystemExit(f"{name}: required {missing} not in plan")
        # Redact temp paths (mkdtemp suffixes differ run to run).
        plan = re.sub(r"/tmp/[A-Za-z0-9_./=-]+", "/tmp/<redacted>", plan)
        # file-count of fixture tables varies with the writer's range
        # sampling — count is not a plan property any assertion uses
        plan = re.sub(r"InMemoryFileIndex\(\d+ paths\)",
                      "InMemoryFileIndex(N paths)", plan)
        # AQE stage ids and codegen span NUMBERS shift with runtime
        # stage completion order; the span STRUCTURE ("*(" markers and
        # operator nesting) is what the audit reads
        plan = re.sub(r"(Broadcast|Shuffle)QueryStage \d+",
                      r"\1QueryStage N", plan)
        plan = re.sub(r"\*\(\d+\)", "*(N)", plan)
        # commit-unique manifest file tokens (part-<uuid12>-NNNNN)
        plan = re.sub(r"part-[0-9a-f]{12}-\d{5}", "part-<redacted>", plan)
        plan = re.sub(r"#\d+", "#N", plan)  # expr ids churn every build
        plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)  # ditto plan ids
        out += [f"## {name}", "", f"**Must show:** `{'`, `'.join(required)}`"
                f" — {note}", "", "```", plan.rstrip(), "```", ""]
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path} ({len(AUDITED)} plans)")


if __name__ == "__main__":
    main()
