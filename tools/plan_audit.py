"""Plan bounds: the static-plan structural invariants of the queries
where a silent plan regression would cost the most.

Per query, from a static `explain('formatted')` (no execution):

- **shuffle exchanges** — how many shuffles the plan pays;
- **Python eval nodes** — ArrowEvalPython/BatchEvalPython/MapInPandas
  and friends, i.e. where a plan leaves the JVM;
- **scans** — per parquet table, the widest ReadSchema and whether any
  PushedFilters reach the format.

`python tools/plan_audit.py --bounds [SF_DIR]` records these into
tools/plan_bounds.json; tests/test_plans.py fails when a query's plan
exceeds its recorded bounds. Re-record only after an intentional plan
change.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

# The bounds set: the BASELINE.md 14-query headline set, then the
# expensive-operator extras. Iterative queries (l2 signatures, l64 merge
# rounds, l63b Lloyd training) record their FINAL stage's static plan
# only, because localCheckpoint truncates their lineage by design; no
# bound covers the shape of their iterated stages.
BOUNDS_SET = [
    "q01_pricing_summary",
    "q02_top_revenue_customers",
    "q03_hourly_rollup",
    "c8_asof_join",
    "d12_dedup_keep_latest",
    "e5_topk_per_group",
    "d13_pivot",
    "k6_merge_upsert",
    "t05_regional_volume",
    "l1_exact_dedup",
    "l3_similarity_topk",
    "l6_tf_idf",
    "l19_decontaminate",
    "i1_tumbling_window",
    "l2_minhash_lsh_dedup",
    "l3e_topk_arrow",
    "l29_semantic_dedup",
    "k23_calendarize",
    "t21_waiting_supplier",
    "h17_fuzzy_join",
    "k34_nearest_station",
    "k37_meter_pipeline",
    "l50_neardup_canonical",
    "k40_tiered_billing",
    "d24b_weighted_median_bucketed",
    "m10_touch_attribution",
    "l62b_substring_dedup_text",
    "l63b_pq_refined_topk",
    "l64_bpe_train",
    "t02_min_cost_supplier",
    # intentional plan fixes that must not silently regress: the
    # broadcast keyless as-of (the fact side must NOT shuffle for the
    # alignment), the co-partitioned k46 chain, and pagerank's
    # checkpoint-backed result (m82 was 126 exchanges before the edge
    # persist)
    "k131_grid_quantile_bands",
    "c81_campaign_attribution_reconcile",
    "k46_dedupe_resample_fill",
    "m82_copurchase_rank_rollup",
    "k7_interval_align",
]


def static_bounds(plan: str) -> dict:
    """SF-independent structural invariants from a STATIC formatted plan
    (no execution): shuffle-exchange count, Python eval nodes, per-table
    scan width and pushed-filter presence. tests/test_plans.py replays
    these against tools/plan_bounds.json so a plan regression fails CI
    the day it lands."""
    scans: dict[str, dict] = {}
    for m in re.finditer(r"\(\d+\) Scan parquet\s*\n(.*?)(?=\n\(\d+\)|\Z)",
                         plan, re.S):
        block = m.group(0)
        loc = re.search(r"Location:.*?([a-z]+)\.parquet", block)
        rs = re.search(r"ReadSchema: struct<([^>]*)>", block)
        pf = re.search(r"PushedFilters: \[([^\]]*)\]", block)
        table = loc.group(1) if loc else "?"
        n_cols = (
            len(rs.group(1).split(",")) if rs and rs.group(1) else 0
        )
        prev = scans.setdefault(
            table, {"max_cols": 0, "has_filters": False}
        )
        prev["max_cols"] = max(prev["max_cols"], n_cols)
        prev["has_filters"] = prev["has_filters"] or bool(pf and pf.group(1))
    return {
        "shuffle_exchanges": len(re.findall(r"\(\d+\) Exchange", plan)),
        "python_evals": len(
            re.findall(
                r"\(\d+\) (?:ArrowEvalPython|BatchEvalPython|MapInPandas|"
                r"FlatMapGroupsInPandas|FlatMapGroupsInArrow|"
                r"FlatMapCoGroupsInPandas)",
                plan,
            )
        ),
        "scans": scans,
    }


def gen_bounds(sf_dir: str) -> None:
    """Record the CURRENT static-plan invariants of every BOUNDS_SET
    query into tools/plan_bounds.json (run after an intentional plan
    change; the pytest gate compares against this file)."""
    import json

    from oeem_etl_spark import plans
    from oeem_etl_spark.plans import registry
    from oeem_etl_spark.session import get_session

    plans.load_all()
    spark = get_session("oeem-plan-bounds")
    qs = registry.all_queries()
    out = {}
    for name in BOUNDS_SET:
        df = qs[name].fn(spark, sf_dir)
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        out[name] = static_bounds(buf.getvalue())
    path = REPO / "tools" / "plan_bounds.json"
    path.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    print(f"wrote {path} ({len(out)} queries)")


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--bounds":
        gen_bounds(sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01")
        return
    raise SystemExit("usage: python tools/plan_audit.py --bounds [SF_DIR]")


if __name__ == "__main__":
    main()
