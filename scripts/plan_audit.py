#!/usr/bin/env python
"""Automated physical-plan audit over the whole query registry.

For every ``__spark_entry__.queries()`` entry, build the DataFrame at
the given scale factor and inspect its physical plan:

* count Exchange / BroadcastExchange operators,
* count Python evaluation operators (the Python-boundary census: each
  one ships rows to a Python worker and back),
* flag CartesianProduct and BroadcastNestedLoopJoin operators.

A Python-RDD scan (``Scan ExistingRDD``) is not counted: a
localCheckpointed frame prints the same way. tests/test_localframe.py
keeps ``createDataFrame`` over Python rows out of the package instead.

Writes PLAN_AUDIT.md — a one-line-per-query table that makes shuffle
regressions reviewable — and exits non-zero if a CartesianProduct
appears anywhere or a BroadcastNestedLoopJoin appears outside the
whitelist below (tests/test_registry.py enforces the same invariant on
the non-iterative subset so the gate runs in CI, not just here).

Usage: python scripts/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, ".")

import __spark_entry__ as entry  # noqa: E402
from quantlab_data_pipeline_spark.session import get_spark  # noqa: E402

# BroadcastNestedLoopJoin is legitimate ONLY as a broadcast cross join
# against a driver-scale frame (one-row aggregates, n_lists centroid
# tables, a literal query set). Every entry here names the small side.
BNLJ_WHITELIST = {
    "embedding_cosine_topk": "broadcast 10-row query set (exact baseline)",
    "hard_negatives_docs": (
        "broadcast 10-row query set (exact baseline, same family as "
        "embedding_cosine_topk)"
    ),
    "embedding_near_dup": "exact path below max_exact_rows (documented)",
    "embedding_ivf_topk": "broadcast n_lists-row centroid table",
    "embedding_lsh_topk": "broadcast hyperplane/query constants",
    "semantic_dedup_docs": "broadcast k-row centroid table",
    "zscore_winsorize": "broadcast 1-row global stats frame",
    "funnel_conversion": "broadcast 1-row step counts",
    "seasonal_decompose_events": "broadcast per-(user,hour) profile",
    "dataset_card": "broadcast 1-row corpus aggregate",
    "bigram_lm_docs": "broadcast 1-row vocabulary size",
    "perplexity_bucket_docs": (
        "inherits bigram_lm_docs' 1-row vocabulary broadcast; appears "
        "in both rank branches pre-AQE (exchange reuse collapses them "
        "at runtime)"
    ),
    "skew_profile_lineitem": "broadcast 1-row top-N frequency sum",
    "dsir_select_docs": (
        "broadcast 1-row target/raw gram totals onto the 4096-row "
        "bucket-ratio frame (never onto the corpus)"
    ),
    "dsir_incremental_docs": (
        "same 1-row totals broadcasts as dsir_select_docs, computed "
        "from the persisted <=4096-row count stores"
    ),
    "pagerank_suppliers": "broadcast 1-row dangling-mass aggregate",
    "q22_global_sales": "broadcast 1-row avg-acctbal scalar subquery",
    "q11_important_nations": "broadcast 1-row value-threshold scalar subquery",
    "ml_quality_docs": "broadcast 1-row threshold/stats frame",
    "chunk_plan_docs": "broadcast per-partition offset frame",
    "pack_documents_docs": "broadcast per-partition offset frame",
    "robust_anomalies_events": "broadcast 1-row MAD scale frame",
    "bm25_search_docs": "broadcast 1-row N/avgdl stats + per-term df frame",
    "hybrid_search_docs": (
        "broadcast 1-row query vector (dense leg) + 1-row N/avgdl "
        "stats (lexical leg)"
    ),
    "tfidf_keywords_docs": "broadcast 1-row corpus doc count",
    "kaplan_meier_users": "broadcast 1-row observation-window end timestamp",
    "bloom_prefilter_docs": (
        "broadcast 1-row packed bloom words (the filter itself, "
        "bounded at num_bits/64 entries by construction)"
    ),
    "source_divergence_docs": "broadcast 1-row corpus token total",
    "zorder_layout_lineitem": "broadcast 1-row global min/max stats frame",
}


# Physical operators that evaluate Python code on executor rows.
PYTHON_EVALS = re.compile(
    r"\b(BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow"
    r"|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|AggregateInPandas"
    r"|WindowInPandas|FlatMapGroupsInPandasWithState)\b"
)


def audit_one(name: str, plan: str) -> dict:
    return {
        "name": name,
        "exchanges": len(re.findall(r"\bExchange (hash|range|Single)", plan)),
        "broadcasts": plan.count("BroadcastExchange"),
        "python": len(PYTHON_EVALS.findall(plan)),
        "cartesian": plan.count("CartesianProduct"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark()
    qs = entry.queries()
    rows, bad = [], []
    for name, fn in qs.items():
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # noqa: BLE001 — audit must cover all
            rows.append({"name": name, "error": str(exc)[:80]})
            bad.append(f"{name}: failed to build ({exc})")
            continue
        r = audit_one(name, plan)
        rows.append(r)
        if r["cartesian"]:
            bad.append(f"{name}: CartesianProduct in plan")
        if r["bnlj"] and name not in BNLJ_WHITELIST:
            bad.append(f"{name}: unwhitelisted BroadcastNestedLoopJoin")

    lines = [
        "# PLAN_AUDIT — physical-plan census over the full registry",
        "",
        f"Scale factor dir: `{sf_dir}`. Auto-generated by",
        "`scripts/plan_audit.py`; regenerate after registry changes.",
        "Gate: zero CartesianProduct anywhere; BroadcastNestedLoopJoin",
        "only where a documented driver-scale frame is broadcast",
        "(whitelist in the script, enforced by tests/test_registry.py).",
        "",
        "Round 9: queries built on `grouped_global_rank`/`cumsum`",
        "(dsir, perplexity, token-budget, percentile, frontier, sft)",
        "report far fewer exchanges than before — the two-phase",
        "operators now freeze their range exchange via localCheckpoint",
        "(correctness fix; see operators/skew.py), so that exchange and",
        "everything upstream of it execute eagerly at query build and",
        "the audited residual plan reads the materialized RDD. The",
        "upstream shuffles still happen, once, inside the operator;",
        "PLANS.md keeps the full pre-freeze shapes in its notes.",
        "",
        "`python` counts the operators that evaluate Python on executor",
        "rows (BatchEvalPython, ArrowEvalPython, MapInPandas, ...).",
        "",
        "| query | exchanges | broadcasts | BNLJ | python | note |",
        "|---|---|---|---|---|---|",
    ]
    for r in rows:
        if "error" in r:
            lines.append(f"| {r['name']} | — | — | — | — | ERROR {r['error']} |")
            continue
        note = BNLJ_WHITELIST.get(r["name"], "") if r["bnlj"] else ""
        lines.append(
            f"| {r['name']} | {r['exchanges']} | {r['broadcasts']} | "
            f"{r['bnlj']} | {r['python']} | {note} |"
        )
    if bad:
        lines += ["", "## VIOLATIONS", ""] + [f"- {b}" for b in bad]
    Path("PLAN_AUDIT.md").write_text("\n".join(lines) + "\n")
    print(f"wrote PLAN_AUDIT.md ({len(rows)} queries, {len(bad)} violations)")
    if bad:
        for b in bad:
            print("VIOLATION:", b, file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
