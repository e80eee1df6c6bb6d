#!/usr/bin/env python
"""Physical-plan audit over the whole query registry.

Builds every registered query at a small SF, extracts plan features
from `explain formatted`, writes the PLANS.md ledger, and enforces the
engine's three structural invariants:

1. **No unpartitioned WindowExec** — a `windowspecdefinition` whose
   spec starts with an ordering (no partition columns) funnels the
   input through ONE task; the repo's two-phase prefix-sum /
   triangular-join idioms exist precisely so no query needs one.
2. **No CartesianProduct** — scalar attaches ride
   broadcast-nested-loop (`crossJoin(F.broadcast(one_row))`), never a
   shuffled cartesian.
3. **No row-at-a-time Python** (`BatchEvalPython`) — Python data paths
   must be Arrow-batched (`ArrowEvalPython`, `MapInPandas`,
   `FlatMapGroupsInPandas`, …).

Usage::

    python scripts/plan_audit.py                  # all queries @ sf0.001
    python scripts/plan_audit.py --sf /root/testdata/sf0.001 --write
    python scripts/plan_audit.py name1 name2      # subset, no PLANS.md

Exit code is non-zero on any invariant violation. Note: building a
query may EXECUTE control-plane work (eager localCheckpoint, streaming
drains, demo pipeline runs) — the audit at sf0.001 takes a few
minutes, which is why it is a per-round script plus a fast-subset
pytest rather than part of every test run.
"""

from __future__ import annotations

import argparse
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

GLOBAL_WINDOW_RE = re.compile(
    r"windowspecdefinition\((?:[a-zA-Z0-9_#]+\s+(?:ASC|DESC))"
)


def plan_features(plan: str) -> dict:
    return {
        # Formatted explain renders exchange nodes as "(N) Exchange"
        # headers with the partitioning in an Arguments: line — the old
        # "Exchange hashpartitioning" substring never occurs in this
        # mode and under-counted every plan to 0 (fixed r9 alongside
        # the expectations table, which needs a real shuffle budget).
        "exchanges": len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE)),
        "smj": plan.count("SortMergeJoin"),
        "bhj": plan.count("BroadcastHashJoin"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "cartesian": plan.count("CartesianProduct"),
        "arrow_python": sum(
            plan.count(t)
            for t in (
                "ArrowEvalPython",
                "MapInPandas",
                "FlatMapGroupsInPandas",
                "FlatMapCoGroupsInPandas",
            )
        ),
        "row_python": plan.count("BatchEvalPython"),
        "global_window": len(GLOBAL_WINDOW_RE.findall(plan)),
        # True if ANY scan in the plan pushed at least one filter — a
        # multi-scan plan's first scan may legitimately push nothing
        # (r8 advisory: inspect every occurrence, not the first 40 chars)
        "pushed": any(
            g.strip() for g in re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        ),
        "partition_pruned": any(
            g.strip() for g in re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
        ),
    }


# Per-query structural EXPECTATIONS (r8 verdict item 7) for the
# scan/join-critical registry entries: a refactor that silently drops a
# parquet pushdown, loses a broadcast, or adds a shuffle now FAILS the
# audit instead of flipping a ledger column nobody re-reads.
#   must_push        — at least one scan must report non-empty PushedFilters
#   must_prune       — at least one scan must report non-empty PartitionFilters
#   min_bhj          — at least this many BroadcastHashJoins
#   max_exchanges    — shuffle budget (measured value at sf0.001; an
#                      added exchange is a plan regression, not noise —
#                      plans are deterministic at a fixed SF/config)
EXPECTATIONS: dict[str, dict] = {
    # relational front door: the filter must reach the parquet scan
    "filter_sql_string": {"must_push": True, "max_exchanges": 0},
    "filter_column_expr": {"must_push": True, "max_exchanges": 0},
    "forecast_revenue_change": {"must_push": True},
    # partition_pruned_revenue returns an eager localCheckpoint (its tmp
    # partitioned dir is deleted before the audit explains the result),
    # so PartitionFilters can't appear here — the pruning is pinned by
    # tests/test_plans_explain.py on the live read instead.
    "customers_without_urgent_orders": {"must_push": True, "max_exchanges": 2},
    "customer_behavior": {"must_push": True, "min_bhj": 1, "max_exchanges": 2},
    "scd2_classify": {"must_push": True, "max_exchanges": 2},
    # gold marts: dims broadcast against the lineitem/orders fact
    "fact_order_details": {"must_push": True, "min_bhj": 5, "max_exchanges": 0},
    "seller_performance_daily": {"must_push": True, "min_bhj": 1, "max_exchanges": 2},
    "seller_order_rates": {"must_push": True, "min_bhj": 1, "max_exchanges": 2},
    "seller_segmentation": {"must_push": True, "min_bhj": 1, "max_exchanges": 5},
    "repeat_buyers_intersect": {"must_push": True, "min_bhj": 1, "max_exchanges": 1},
    # TPC-H front-door shapes: selective scans + broadcast dims
    "sql_shipping_priority": {"must_push": True, "min_bhj": 2, "max_exchanges": 1},
    "sql_market_share": {"must_push": True, "min_bhj": 5, "max_exchanges": 1},
    "sql_nation_revenue": {"must_push": True, "min_bhj": 3, "max_exchanges": 2},
    "sql_volume_shipping": {"must_push": True, "min_bhj": 3, "max_exchanges": 1},
    "sql_product_margin": {"must_push": True, "min_bhj": 3, "max_exchanges": 1},
    "sql_returned_item_reporting": {"must_push": True, "min_bhj": 2, "max_exchanges": 1},
    "sql_large_volume_customers": {"must_push": True, "max_exchanges": 3},
    "sql_promo_revenue": {"must_push": True, "min_bhj": 1, "max_exchanges": 1},
    "sql_top_supplier": {"must_push": True, "min_bhj": 1, "max_exchanges": 3},
    # LLM-pipeline flagships (r11): the shapes that make these scale —
    # fingerprint groupBy for exact dedup (no pairs join), banded LSH
    # bucket joins that stay BROADCAST on the band-key side, IVF probes
    # broadcast against the posting lists, classifier models broadcast
    # against the exploded corpus — must not silently decay into extra
    # shuffles or shuffled joins. Budgets are the measured sf0.001
    # values.
    "exact_dedup": {"max_exchanges": 1},
    "minhash_lsh_candidates": {"min_bhj": 6, "max_exchanges": 1},
    "ann_topk_ivf": {"must_push": True, "min_bhj": 2, "max_exchanges": 1},
    "ann_topk_filtered": {"must_push": True, "min_bhj": 2, "max_exchanges": 1},
    # r15: the TF-IDF index build (and its 4 broadcasts) moved behind
    # the _SPARSE_TERMS_CACHE checkpoint — the audited live plan is the
    # QUERY side only: posting-list broadcast join + per-query window.
    "sparse_retrieval_topk": {"min_bhj": 2, "max_exchanges": 2},
    "preference_pairs": {"must_push": True, "min_bhj": 10, "max_exchanges": 6},
    # r16: the weights table moved behind the _DSIR_WEIGHTS_CACHE
    # checkpoint (dsir_resample_topk consumes the identical table) —
    # the audited live plan is the checkpoint scan; the λ-fit shape
    # (2 broadcasts) now executes at build time inside the memo.
    "dsir_importance_weights": {"max_exchanges": 0},
    "semantic_dedup": {"max_exchanges": 2},
    "quality_classifier_score": {"must_push": True, "min_bhj": 4, "max_exchanges": 3},
}


def expectation_violations(name: str, feats: dict) -> list[str]:
    exp = EXPECTATIONS.get(name)
    if not exp or feats.get("error"):
        return []
    out = []
    if exp.get("must_push") and not feats["pushed"]:
        out.append("expected-pushdown-missing")
    if exp.get("must_prune") and not feats["partition_pruned"]:
        out.append("expected-partition-pruning-missing")
    if feats["bhj"] < exp.get("min_bhj", 0):
        out.append(f"expected>={exp['min_bhj']}-broadcast-joins-got-{feats['bhj']}")
    if "max_exchanges" in exp and feats["exchanges"] > exp["max_exchanges"]:
        out.append(
            f"exchange-budget-{exp['max_exchanges']}-exceeded-{feats['exchanges']}"
        )
    return out


def violations(feats: dict) -> list[str]:
    out = []
    if feats["global_window"]:
        out.append("unpartitioned-window")
    if feats["cartesian"]:
        out.append("cartesian-product")
    if feats["row_python"]:
        out.append("row-at-a-time-python")
    return out


def audit(spark, sf_dir: str, names: list[str] | None = None) -> dict[str, dict]:
    from azure_sales_etl_pipeline_spark.plans import registry

    queries, _ = registry()
    if names:
        queries = {n: queries[n] for n in names}
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    results: dict[str, dict] = {}
    # Audit each query against its COLD plan. Residual catalog-cache
    # state otherwise makes features order-dependent (r13: the sweep
    # reorder flipped ann_topk_ivf/_filtered to a spurious
    # expected-pushdown-missing): Spark's cache manager substitutes a
    # prior query's still-resident InMemoryRelation (ann_recall_check
    # deliberately leaves the embeddings scan cached) for a matching
    # subplan — which erases the FileScan and its PushedFilters from
    # the audited plan. That is correct runtime behavior; the LEDGER
    # judges the cold plan, so clearCache() runs before EVERY query.
    # The shared memos, by contrast, are evicted ONCE at the start:
    # their builds are deterministic, so a warm hit returns the
    # byte-identical substrate a rebuild would produce and the serving
    # plan is unchanged (verified feature-for-feature equal across all
    # 45 subset∪expectation queries for the IVF centroids; the build
    # jobs never appear in the audited plan).
    from azure_sales_etl_pipeline_spark import memo
    from azure_sales_etl_pipeline_spark.operators import rounds

    memo.evict_all()
    for name, fn in queries.items():
        try:
            spark.catalog.clearCache()
            with rounds.scope():
                df = fn(spark, sf_dir)
                plan = df._jdf.queryExecution().explainString(mode)
            feats = plan_features(plan)
            feats["error"] = None
        except Exception as e:  # noqa: BLE001
            feats = {"error": f"{type(e).__name__}: {e}"}
        results[name] = feats
    return results


def _row(name: str, f: dict) -> str:
    if f.get("error"):
        return f"| {name} | — | — | — | — | — | — | ERROR: {f['error'][:60]} |"
    v = ", ".join(violations(f) + expectation_violations(name, f)) or "—"
    return (
        f"| {name} | {f['exchanges']} | {f['smj']} | {f['bhj']} | "
        f"{f['bnlj']} | {f['arrow_python']} | "
        f"{'yes' if f['pushed'] else '—'} | {v} |"
    )


def existing_rows(path: Path) -> dict[str, str]:
    """Parse the query->row-line map out of a committed PLANS.md ledger."""
    rows: dict[str, str] = {}
    if not path.exists():
        return rows
    for line in path.read_text().splitlines():
        m = re.match(r"\| ([a-z0-9_]+) \| ", line)
        if m and m.group(1) != "query":
            rows[m.group(1)] = line
    return rows


def render(results: dict[str, dict], sf_dir: str, keep: dict[str, str] | None = None) -> str:
    """Render the ledger; ``keep`` carries prior rows for un-audited queries.

    A subset ``--write`` merges into the committed ledger instead of
    replacing it (the r10 accident: a one-query subset run overwrote all
    255 rows — VERDICT r10 item 1).
    """
    lines = [
        "# PLANS — physical-plan audit ledger",
        "",
        f"Generated by `python scripts/plan_audit.py --write` at `{sf_dir}`.",
        "Invariants enforced: no unpartitioned WindowExec, no",
        "CartesianProduct, no row-at-a-time Python (BatchEvalPython).",
        "Arrow = Arrow-batched Python operators (the sanctioned path).",
        "",
        "| query | exchanges | SMJ | BHJ | BNLJ | Arrow | pushed filters | violations |",
        "|---|---|---|---|---|---|---|---|",
    ]
    merged: dict[str, str] = dict(keep or {})
    for name, f in results.items():
        merged[name] = _row(name, f)
    for name in sorted(merged):
        lines.append(merged[name])
    return "\n".join(lines) + "\n"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", help="subset of query names")
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--write", action="store_true", help="write PLANS.md")
    args = ap.parse_args()

    from azure_sales_etl_pipeline_spark.session import get_spark

    spark = get_spark(app_name="plan_audit", master="local[8]")
    results = audit(spark, args.sf, args.names or None)

    def all_violations(n: str, f: dict) -> list[str]:
        return violations(f) + expectation_violations(n, f) if not f.get("error") else []

    bad = {
        n: v
        for n, f in results.items()
        if f.get("error") or (v := all_violations(n, f))
    }
    errors = {n: f["error"] for n, f in results.items() if f.get("error")}
    if args.write:
        ledger = REPO / "PLANS.md"
        # Subset runs MERGE into the committed ledger — a partial audit
        # must never destroy the other queries' rows (r10 regression).
        keep = existing_rows(ledger) if args.names else None
        ledger.write_text(render(results, args.sf, keep=keep))
        total = len((keep or {}) | {n: None for n in results})
        print(f"wrote PLANS.md ({len(results)} audited, {total} rows)")
    for n, f in sorted(results.items()):
        if not f.get("error") and all_violations(n, f):
            print(f"VIOLATION {n}: {all_violations(n, f)}")
    for n, e in errors.items():
        print(f"ERROR {n}: {e}")
    n_viol = sum(1 for n, f in results.items() if not f.get("error") and all_violations(n, f))
    print(f"{len(results)} audited, {len(errors)} errors, {n_viol} violations")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
