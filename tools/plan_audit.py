"""Plan audit: dump physical-plan quality evidence for the headline
queries into PLANS_r{N}.md.

The brief's standing question is "is this the plan you'd WANT at 100 TB,
not just the first one that passed" — this tool makes the answer a
committed, diffable artifact instead of an ad-hoc `.explain()` session.
Per headline query it records, from `explain('formatted')`:

- **scan lines** — every parquet scan with its ReadSchema and
  PushedFilters (column pruning + predicate pushdown reaching the
  format, or not);
- **exchange count** — how many shuffles the plan pays (and how many are
  broadcast exchanges, which ship dimension tables instead);
- **codegen spans** — WholeStageCodegen region count (JVM-side fused
  pipelines; Python-UDF breaks show up as BatchEvalPython/ArrowEvalPython
  nodes, also counted).

Usage: python tools/plan_audit.py [PLANS_r05.md]
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

SF_DIR = "/root/testdata/sf0.1"

HEADLINE = [
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
    # scale-interesting extras
    "l74_srp_ann_topk",
    "l70_phrase_search",
    "m22_hilbert_layout",
    "l64d_bpe_encode",
    # the expensive-operator extras (VERDICT r5 task #4): the operators
    # where a silent plan regression would cost the most — committed plan
    # evidence each round instead of only timings
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
    # r6-continuation additions: the newly promoted/authored plans whose
    # physical shape matters at scale (bucket-join ANN, bounded-state
    # histogram percentile, struct argmax, register rollup)
    "l3b_ann_lsh_topk",
    "d7b_histogram_percentile",
    "h63_struct_argmax",
    "d15b_hll_register_rollup",
    # r8 breadth additions with scale-interesting shapes: overlapping-band
    # range join + same-band self-join, type-graph co-occurrence join,
    # Arrow-feature kNN over the doc corpus, grid as-of + exact-mode
    # approx-percentile banding
    "c80_price_band_overlap_audit",
    "m81_cooccur_degree_pick",
    "l130_embed_knn_tfidf",
    "k131_grid_quantile_bands",
    # r9 breadth additions with scale-interesting shapes: time-range
    # self-join + semi/anti gates, bloom-pruned rollup, the one-exchange
    # dedupe->resample->fill chain, broadcast grid-align + normalize +
    # p90 bands, period reconcile with carry-forward, conjunctive-search
    # + weighted sample, hash-embed weighted kNN, co-purchase pagerank
    # + micros UDAF, and the hostile try-decode batch
    "c34_preceding_views_gate",
    "c35_bloom_brand_rollup",
    "k46_dedupe_resample_fill",
    "k132_normalized_slot_p90_bands",
    "c82_period_fill_reconcile",
    "l132_search_sample_headline",
    "l133_embed_weighted_knn",
    "m82_copurchase_rank_rollup",
    "x11_hostile_image_decode",
]


def audit(plan: str, executed: str) -> dict:
    scans = []
    for m in re.finditer(r"\(\d+\) Scan parquet\s*\n(.*?)(?=\n\(\d+\)|\Z)",
                         plan, re.S):
        block = m.group(0)
        loc = re.search(r"Location:.*?([a-z]+\.parquet)", block)
        rs = re.search(r"ReadSchema: struct<([^>]*)>", block)
        pf = re.search(r"PushedFilters: \[([^\]]*)\]", block)
        cols = [c.split(":")[0] for c in rs.group(1).split(",")] if rs and rs.group(1) else []
        scans.append(
            {
                "table": loc.group(1) if loc else "?",
                "n_cols": len(cols),
                "cols": ",".join(cols[:8]) + ("…" if len(cols) > 8 else ""),
                "filters": (pf.group(1)[:100] if pf and pf.group(1) else ""),
            }
        )
    return {
        "scans": scans,
        "exchanges": len(re.findall(r"\(\d+\) Exchange", plan))
        + len(re.findall(r"\(\d+\) BroadcastExchange", plan)),
        "broadcasts": len(re.findall(r"BroadcastExchange", plan)),
        # codegen regions appear as `*(N)` markers in the adaptive FINAL
        # plan section (Spark 4 string form)
        "codegen_spans": len(
            set(
                re.findall(
                    r"\*\((\d+)\)",
                    executed.split("== Initial Plan ==")[0],
                )
            )
        ),
        "python_evals": len(
            re.findall(
                r"(ArrowEvalPython|BatchEvalPython|MapInPandas|"
                r"FlatMapGroupsInPandas)",
                executed.split("== Initial Plan ==")[0],
            )
        ),
    }


BENCH_HEADLINE = HEADLINE[:14]  # the BASELINE.md 14-query headline set

# The bounds GATE set (VERDICT r7 task #4): the 14 headline queries plus
# the expensive-operator extras — where a silent plan
# regression would cost the most. Iterative queries (l2 signatures, l64
# merge rounds, l63b Lloyd training) record their FINAL stage's static
# plan only (lineage truncated by localCheckpoint, by design); their
# iterated stage shapes are pinned by the SCALE probes instead.
BOUNDS_SET = BENCH_HEADLINE + [
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
    # r9 additions: pin the round's intentional plan fixes so they can't
    # silently regress — the broadcast keyless as-of (fact side must NOT
    # shuffle for the alignment), the co-partitioned k46 chain, and
    # pagerank's checkpoint-backed result (m82 was 126 exchanges before
    # the edge persist).
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
    these against tools/plan_bounds.json (VERDICT r6 task #5) so a plan
    regression fails CI the day it lands, instead of waiting for a human
    to diff PLANS_r{N}.md."""
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
    """Record the CURRENT static-plan invariants of the 14 headline
    queries AND the 16 expensive-operator extras into tools/plan_bounds.json (run
    after an intentional plan change; the pytest gate compares against
    this file)."""
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
    out_path = REPO / (sys.argv[1] if len(sys.argv) > 1 else "PLANS_r05.md")
    from oeem_etl_spark import plans
    from oeem_etl_spark.plans import registry
    from oeem_etl_spark.session import get_session

    plans.load_all()
    spark = get_session("oeem-plan-audit")
    qs = registry.all_queries()

    lines = [
        "# Physical-plan audit (generated by tools/plan_audit.py)",
        "",
        f"Scale dir: `{SF_DIR}`; library session confs. Per query: every",
        "parquet scan's pruned column count + pushed filters, shuffle and",
        "broadcast counts, WholeStageCodegen span count, and any Python",
        "eval nodes (Arrow-batched UDF stages — expected only on the",
        "codec/UDF-contract queries).",
        "",
        "Caveat: queries with driver-side iteration over localCheckpoint",
        "(l2 signatures, l64 merge rounds, l63b Lloyd training) truncate",
        "lineage by design, so their section shows the FINAL stage's plan",
        "only — the iterated stages' shapes are pinned by the SCALE probes",
        "(SCALE_r0N.json) rather than by this audit.",
        "",
    ]
    for name in HEADLINE:
        if name not in qs:
            continue
        df = qs[name].fn(spark, SF_DIR)
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        # AQE hides codegen until the FINAL plan exists — execute THIS
        # DataFrame's own QueryExecution (count() would build a new one),
        # then read the executed plan for codegen/python-eval evidence
        df.collect()
        executed = df._jdf.queryExecution().executedPlan().toString()
        a = audit(plan, executed)
        lines.append(f"## {name}")
        lines.append("")
        lines.append(
            f"- exchanges: **{a['exchanges']}** ({a['broadcasts']} broadcast)"
            f" · codegen spans: **{a['codegen_spans']}**"
            f" · python eval nodes: **{a['python_evals']}**"
        )
        for s in a["scans"]:
            f = f" · PushedFilters: `{s['filters']}`" if s["filters"] else ""
            lines.append(
                f"- scan `{s['table']}`: {s['n_cols']} cols (`{s['cols']}`){f}"
            )
        lines.append("")
    out_path.write_text("\n".join(lines) + "\n")
    print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
