"""Generate PLANS.md: the formatted physical plan for every bench
headliner plus key scale-path entries, with the properties the plan
assertions in tests/test_plans.py enforce (pushdown, broadcast, shuffle
count, codegen spans) extracted per query.

Usage: python tools/dump_plans.py [sf_dir]   (default sf0.01)

The dossier is evidence, not documentation-by-hand: it is regenerated
from the live plans, so it cannot drift from the code.
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

EXTRA = ["dedup_containment", "dedup_simhash", "sim_topk_ann_ivf",
         "sim_topk_ann_pq", "events_mad_outliers",
         "events_resample_gapfill", "dq_rules_summary",
         "cdc_apply_changes", "stats_ks_drift", "orders_rfm_segments",
         "orders_cycle_time_stats", "profile_table_describe",
         "docs_vocab_growth", "events_dwell_time",
         "text_tfidf_top_terms",
         # round-7 scale paths: iterative algebra, incremental dedup,
         # grid-bucketed interval join, zero-shuffle URL normalization
         "graph_pagerank_copurchase", "embed_kmeans_train",
         "dedup_incremental_index", "join_interval_overlap",
         "graph_triangle_census", "docs_url_canonicalize",
         # round-6 mining-wave scale paths: two-pass prefix scans
         # (Gini/ABC), single-shuffle bar building, basket-bounded
         # modularity, broadcast geometry calibration
         "stats_gini_lorenz", "orders_abc_classes",
         "events_ohlc_hourly", "graph_community_modularity",
         "embed_cosine_histogram", "events_hourly_bitmap"]


def summarize(plan: str) -> list[str]:
    facts = []
    pushed = sorted(set(re.findall(r"PushedFilters: \[([^\]]*)\]", plan)))
    nonempty = [p for p in pushed if p.strip()]
    if nonempty:
        facts.append(f"pushed filters: {len(nonempty)} scan(s) "
                     f"({'; '.join(nonempty)[:120]})")
    n_hash = len(re.findall(r"\(\d+\) Exchange\b", plan))
    n_bcast = len(re.findall(r"\(\d+\) BroadcastExchange\b", plan))
    facts.append(f"exchanges: {n_hash} shuffle, {n_bcast} broadcast")
    # codegen spans are asserted by tests/test_plans.py::
    # test_scan_agg_stays_in_codegen (requires execution hooks this
    # build's formatted explain does not annotate)
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        if bad in plan:
            # bounded-by-design nested loops (1-row bounds aggregates,
            # |sources| x |distinct x| grids, broadcast-N thresholds)
            # are legitimate; the tests whitelist them per query.
            facts.append(f"note: {bad} present (bounded side)")
    return facts


def main() -> None:
    import bench
    from python_etl_rest_api_spark import registry
    from python_etl_rest_api_spark.session import get_spark

    spark = get_spark("plans")
    names = bench.HEADLINE + [n for n in EXTRA if n not in bench.HEADLINE]
    out = ["# PLANS — physical plans of the headline + scale-path queries",
           "",
           f"Auto-generated by `tools/dump_plans.py` at `{SF_DIR}`; "
           "regenerate after plan-affecting changes. The invariants "
           "summarized per query are the ones `tests/test_plans.py` "
           "asserts.", ""]
    for name in names:
        df = registry.QUERIES[name](spark, SF_DIR)
        # execute first so AQE finalizes: the dossier shows the plan
        # that actually ran (runtime join demotions, coalesced reads,
        # codegen spans), not the pre-adaptive guess
        df.write.format("noop").mode("overwrite").save()
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        facts = summarize(plan)
        out.append(f"## {name}")
        out.append("")
        out.extend(f"- {f}" for f in facts)
        out.append("")
        out.append("```")
        # keep the dossier readable: plan body only, cap very long plans
        lines = plan.rstrip().splitlines()
        if len(lines) > 120:
            lines = lines[:120] + [f"... ({len(lines) - 120} more lines)"]
        out.extend(lines)
        out.append("```")
        out.append("")
        print(f"# {name}: {'; '.join(facts)}", file=sys.stderr)
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print("wrote PLANS.md", file=sys.stderr)


if __name__ == "__main__":
    main()
