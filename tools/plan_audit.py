"""Global plan audit: every catalog entry's physical plan is checked
for the scale antipatterns the repo bans - cartesian/nested-loop
products, single-partition windows, row-at-a-time Python UDFs
(BatchEvalPython). Entries with a DOCUMENTED reason to carry one are
whitelisted inline below; everything else must be clean.

Plan-only (no execution): runs all entries in a few minutes.

Usage: python tools/plan_audit.py [sf_dir]
Exit 1 on any unexpected antipattern.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# entry -> {antipattern: reason} documented exemptions
WHITELIST: dict[str, dict[str, str]] = {
    # all-pairs BASELINES kept deliberately next to their scalable
    # twins (docstrings bound the input or label them as ground truth)
    "sim_topk_bruteforce": {
        "nested_loop": "exact baseline: corpus x broadcast 3-query batch"},
    "sim_cosine_near_dups": {
        "nested_loop": "bounded all-pairs verify (max_id cap documented)"},
    "dedup_ngram_jaccard": {
        "nested_loop": "labeled quadratic baseline for the LSH twins"},
    "text_levenshtein_pairs": {
        "nested_loop": "bounded pair sample (id window) by construction"},
    "dedup_minhash_recall": {
        "nested_loop": "ground-truth exact-Jaccard pass, bounded corpus"},
    "dedup_lsh_scurve": {
        "nested_loop": "banding calibration: exact-Jaccard all-pairs "
                       "over the bounded sample (doc_id < 120)"},
    "ann_recall_at_k": {
        "nested_loop": "exact baseline against which recall is measured"},
    "ann_recall_vs_nprobe": {
        "nested_loop": "same brute-force ground-truth leg as "
                       "ann_recall_at_k, reused across 3 nprobe legs"},
    "sim_mmr_rerank": {
        "nested_loop": "k x pool pairwise diversity term, both k-bounded"},
    "stats_ks_drift": {
        "nested_loop": "two fixed cohort ECDFs joined on value grid"},
    "stats_mann_kendall": {
        "nested_loop": "day-pair grid over the aggregated daily "
                       "series (quadratic in DAYS, not rows — the "
                       "theilsen class); broadcast day list"},
    "decontam_ngram_overlap": {
        "nested_loop": "benchmark set is small + broadcast by design"},
    "stats_corr_pairs": {
        "nested_loop": "column-pair grid (k^2 pairs), not row pairs"},
    "join_time_band": {
        "nested_loop": "range-band join: bounded band documented"},
    "join_asof_attribution": {
        "nested_loop": "as-of range join over broadcast dim"},
    "embed_label_margin": {
        "nested_loop": "labeled bounded pair sample (vec_id < 200, the "
                       "sim_cosine_near_dups cap) — separability audit"},
    "embed_cosine_histogram": {
        "nested_loop": "geometry calibration: 8-query batch broadcast "
                       "against the corpus (the sim_topk_bruteforce "
                       "shape); the corpus never shuffles"},
    "embed_matryoshka_recall": {
        "nested_loop": "evaluation harness: 3-query batch broadcast "
                       "against the corpus twice (full + truncated "
                       "dims) via the sim_topk_bruteforce baseline"},
    "embed_knn_classify": {
        "nested_loop": "evaluation harness: held-out queries broadcast "
                       "against the corpus via the sim_topk_bruteforce "
                       "baseline; docstring routes the scale path to "
                       "the persisted ANN index serve"},
    # windows over BOUNDED aggregates (deciles, per-group top-k of
    # pre-aggregated frames) - input is O(groups), not O(rows)
    "orders_revenue_concentration": {
        "single_partition_window": "cum share over 10 decile rows"},
    "stats_survival_table": {
        "single_partition_window": "at-risk suffix sum over <= 21 "
                                   "week-bucket aggregate rows"},
    "text_zipf_topk": {
        "single_partition_window": "rank over the 20 TakeOrdered head "
                                   "rows"},
    "select_pareto_frontier": {
        "single_partition_window": "prefix-min over ~100 price-bucket "
                                   "aggregate rows",
        "nested_loop": "dominance verify among bucket-pruned skyline "
                       "candidates (bounded, broadcast)"},
    "mix_temperature_weights": {
        "single_partition_window": "fold over |sources| rows"},
    "hist_price_bins": {
        "single_partition_window": "edges over fixed bin count"},
    "docs_source_mix": {
        "single_partition_window": "share rank over |sources| agg rows"},
    "events_user_growth": {
        "single_partition_window": "running sum over per-day agg rows"},
    "stats_benford_first_digit": {
        "single_partition_window": "permille total over <= 9 "
                                   "aggregated digit rows"},
    "mix_token_budget_allocation": {
        "single_partition_window": "remainder rank over |sources| "
                                   "aggregate rows (Hamilton "
                                   "apportionment)"},
    "stats_runs_test": {
        "single_partition_window": "lag/compare over per-DAY aggregate "
                                   "rows (time-scaled, the "
                                   "events_user_growth class)"},
}


def _depth(line: str) -> int:
    """Tree depth of a plan line from its ' :+-' prefix length."""
    i = 0
    while i < len(line) and line[i] in " :+-":
        i += 1
    return i


_BOUNDED_MARKS = ("HashAggregate(keys=[]",   # global agg: exactly 1 row
                  "TakeOrderedAndProject",    # explicit top-k
                  "GlobalLimit",              # explicit limit
                  "Range (")                  # literal constant range


def _bounded_bnlj(lines: list[str], i: int) -> bool:
    """True when the BroadcastNestedLoopJoin at lines[i] broadcasts a
    PROVABLY-BOUNDED side: a global aggregate (HashAggregate(keys=[]
    -> exactly one row), an explicit limit (TakeOrderedAndProject /
    GlobalLimit), or a literal Range. That is the scalar-subquery /
    top-k / salt-replication broadcast pattern - a 1-row (or k-row)
    nested loop is a map, not a product. The check walks the join's
    DIRECT build-side child (the broadcast side), not the first
    BroadcastExchange in the subtree, which may belong to an inner
    equi-join on the stream side."""
    d = _depth(lines[i])
    build_left = "BuildLeft" in lines[i]
    children = []
    j = i + 1
    while j < len(lines) and _depth(lines[j]) > d:
        if _depth(lines[j]) == d + 3:
            children.append(j)
        j += 1
    if not children:
        return False
    c = children[0] if build_left else children[-1]
    cd = _depth(lines[c])
    end = c + 1
    while end < len(lines) and _depth(lines[end]) > cd:
        end += 1
    sub = lines[c:end]
    if not any("BroadcastExchange" in s or "BroadcastQueryStage" in s
               for s in sub[:2]):
        return False
    return any(m in s for s in sub for m in _BOUNDED_MARKS)


def audit_one(name, df):
    from python_etl_rest_api_spark.operators.twopass import (
        single_partition_window_ops,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    found = {}
    if "CartesianProduct" in plan:
        found["nested_loop"] = True
    for i, line in enumerate(lines):
        if "BroadcastNestedLoopJoin" in line and not _bounded_bnlj(lines, i):
            found["nested_loop"] = True
            break
    if single_partition_window_ops(df):
        found["single_partition_window"] = True
    if "BatchEvalPython" in plan:        # row-at-a-time Python UDF
        found["python_row_udf"] = True
    allowed = WHITELIST.get(name, {})
    return {k: v for k, v in found.items() if k not in allowed}


def main() -> None:
    from python_etl_rest_api_spark import registry
    from python_etl_rest_api_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("plan_audit")
    bad = {}
    for name, fn in registry.QUERIES.items():
        try:
            hits = audit_one(name, fn(spark, sf_dir))
        except Exception as exc:  # noqa: BLE001 - surface, keep going
            hits = {"error": f"{type(exc).__name__}: {exc}"[:200]}
        if hits:
            bad[name] = hits
            print(f"HIT   {name}: {hits}")
        else:
            print(f"clean {name}")
    print(f"\n{len(bad)} entries with unexpected antipatterns")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
