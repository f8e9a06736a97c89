"""Plan-shape regression guard — the PLANS.md audit as a pytest marker.

PLANS.md is regenerated manually (tools/dump_plans.py), so between regens a
plan-shape regression — a lost broadcast, a new exchange, a join degrading
to BroadcastNestedLoopJoin — would only surface in the next manual run.
This suite executes every AUDITED contract and asserts its required plan
operators directly, so the same regression fails a test run instead.

Marked `plans` (excluded from the default run to protect the suite-time
budget — the ~57 plan executions cost minutes): run with
`python -m pytest tests/ -m plans`, or everything via CI mode `-m ""`.
The single source of truth for the required operators stays
tools/dump_plans.py's AUDITED table — this file imports it, so the manual
regen and the pytest guard can never disagree.
"""

from __future__ import annotations

import pytest

from silvia_spark import registry
from tests.conftest import SF_MID

from tools.dump_plans import AUDITED

pytestmark = pytest.mark.plans


# Big (fact-scale) tables must appear at most ONCE as a file scan in an
# executed plan: Catalyst has no plan-level common-subtree elimination, so
# referencing a derived frame twice silently rebuilds — and rescans — the
# whole fact subtree (the r07 audit caught 4 contracts doing this;
# curation_pipeline scanned documents FIVE times). Exceptions are listed
# with their justification; everything else fails the suite.
_BIG_TABLES = {"lineitem", "orders", "events", "documents", "embeddings"}
_MULTI_SCAN_OK = {
    "sim_topk_cosine": "query-vector point read (pushed vec_id=0, 1 row) "
                       "+ the corpus scan",
    # the carried vectors: the bucket rows join the corpus (vec_id,
    # embedding), a second read in place of the driver-side matrix
    # collect the retired gather route ran at plan build
    **dict.fromkeys(
        ("sim_ann_lsh", "sim_ann_lsh_multiprobe", "sim_ann_lsh_multiprobe2"),
        "embeddings is read once for the bucket keys (persisted) and once "
        "for the members' vectors the fused kernel scores"),
    "text_contamination": "train and eval sides are DISJOINT filtered "
                          "subsets — each scan reads only its slice",
    "join_or_keys_union": "one filtered scan per OR-disjunct (each with "
                          "its own pushed filter) beats a single BNLJ",
    "join_interval_overlap": "two-sided self-overlap: each side scans "
                             "with its own filter + band replication",
    "text_unigram_logprob": "two passes BY DESIGN: pass 1 builds the "
                            "(reusable) language model, pass 2 re-reads "
                            "the corpus to score it against the LM",
}


@pytest.mark.parametrize(
    "name,required", [(n, r) for n, r, _ in AUDITED],
    ids=[n for n, _, _ in AUDITED])
def test_plan_exhibits_required_operators(spark, name, required):
    import re

    registry.load_all_modules()
    df = registry.QUERIES[name](spark, SF_MID)
    df.toArrow()  # execute so AQE settles on the final plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    missing = [r for r in required if r not in plan]
    assert not missing, (
        f"{name}: plan lost required operator(s) {missing} — a scale "
        "property asserted in PLANS.md regressed (regenerate with "
        "tools/dump_plans.py to inspect the drift)")

    if name not in _MULTI_SCAN_OK:
        final = plan.split("== Initial Plan ==")[0]
        scans: dict[str, int] = {}
        for m in re.finditer(r"Scan parquet[^\n]*?/(\w+)\.parquet", final):
            scans[m.group(1)] = scans.get(m.group(1), 0) + 1
        dups = {t: c for t, c in scans.items()
                if t in _BIG_TABLES and c > 1}
        assert not dups, (
            f"{name}: fact table scanned more than once {dups} — a "
            "derived frame is referenced twice and Catalyst rebuilt the "
            "subtree; restructure as a window over the aggregate or "
            "persist the shared frame (or whitelist with justification)")

    # The exact-cosine kernel must evaluate ONCE per plan: Catalyst's
    # filter pushdown substitutes a deterministic UDF into the
    # threshold predicate, scoring every surviving pair twice (r10
    # verdict — two ArrowEvalPython[_cos_arrow] nodes in the LSH verify
    # tail). The threshold joins now threshold INSIDE the fused
    # mapInArrow kernel (llm_extras.fused_cosine_hits — no
    # Filter-over-UDF exists to duplicate); remaining
    # ArrowEvalPython[_cos_arrow] sites are top-k/aggregate shapes with
    # no following threshold filter, single-eval by construction.
    final = plan.split("== Initial Plan ==")[0]
    cos_nodes = len(re.findall(r"ArrowEvalPython \[_cos_arrow", final))
    assert cos_nodes <= 1, (
        f"{name}: the Arrow cosine kernel appears {cos_nodes}× in the "
        "final plan — a pushed-down threshold duplicated the UDF; "
        "threshold inside a kernel (llm_extras.fused_cosine_hits)")
