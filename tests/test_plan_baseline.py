"""Plan-shape regression canary against the committed whole-catalog
baseline (plans/r13/baseline/, VERDICT r12 item 1).

A silent plan regression in an untouched query (e.g. a broadcast
flipping to SortMergeJoin after a threshold change) previously only
showed up as an unexplained bench mover. This canary rebuilds a spread
of LAZY queries (no eager materialization at build time, so the test
stays cheap) at the same SF the baseline was dumped at and asserts the
plan-shape counts still match the committed dump. The full-catalog
gate dumps every entry with `tools/explain_dump.py --tag <tag> --suffix
plan` and diffs that dump against the baseline with
`tools/plan_shape.py plans/r13/baseline plans/<tag>`; the dump is not
committed once the diff is clean.
"""

from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

from plan_shape import shape_counts  # noqa: E402

BASELINE = os.path.join(REPO, "plans", "r13", "baseline")
SF_DIR = "/root/testdata/sf0.1"  # the dump's SF — pivots depend on it

#: lazy, build-cheap spread: TPC-H joins/aggs, windows, quantile family,
#: text/LLM curation, json/regex scans — one per major plan family
CANARY = [
    "q01_pricing_summary",
    "q21_waiting_orders",
    "join_left_order_counts",
    "cube_status_priority",
    "window_running_revenue",
    "dedup_first_lineitem_per_order",
    "mad_outliers_order_price",
    "woe_iv_price_bins",
    "qq_decile_points_order_status",
    "weighted_median_price_by_flag",
    "percentile_disc_vs_cont_by_priority",
    "psi_population_stability",
    "tfidf_cosine_pairs_topk",
    "shingle_containment_pairs",
    "ppjoin_prefix_filter_pairs",
    "symspell_fuzzy_name_match",
    "hc_admissions_first_seen",
    "json_extract_event_props",
    "bm25_topk_docs",
    "gopher_quality_rules_docs",
]


@pytest.mark.parametrize("name", CANARY)
def test_plan_shape_matches_baseline(spark, name):
    from projet5_spark.plans import QUERIES

    path = os.path.join(BASELINE, f"{name}_plan.txt")
    with open(path) as fh:
        want = shape_counts(fh.read())
    df = QUERIES[name](spark, SF_DIR)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    got = shape_counts(plan)
    assert got == want, (
        f"{name}: plan shape drifted from plans/r13/baseline — if the "
        f"change is intentional, re-dump the baseline and record the "
        f"diff in the round's OPTIMIZATION notes. {want} -> {got}"
    )
