"""Registry contract tests.

The driver's correctness harness records rows for the first 50 registry
entries only, and those 50 were all green in round 1 — so their names
and order are frozen. Extension queries sit after them unless
``queries.DRIVER_ORDER`` promotes them, every oracle must point at a
registered query, and the registry is derived from one declaration per
row (``queries_ext.row``), never mutated after it is built.
"""

from __future__ import annotations

import ast
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "quantlab_data_pipeline_spark"

# The exact first-50 window the driver checks. Round 3 (VERDICT r2
# item 1): the four rows-only LSH/sketch queries that could never earn
# a green driver row were moved to positions 52-55 and replaced with
# four oracle-checked extension queries (asof_forward_events,
# merge_intervals_events, scd2_events, bm25_search_docs) so every row
# in the driver window is hash-checkable.
#
# Round 7 (VERDICT r6 item 1): the six DuckDB-oracled round-6
# intake/curation rows (ml_quality_frozen_docs, html_extract_docs,
# warc_extract_docs, url_dedup_docs, curate_corpus_docs,
# domain_quota_docs) were promoted into the window so the family gains
# hard driver evidence; six rows whose operator families keep an
# in-window relative (pivot_event_counts, dense_rank_balances,
# json_struct_parse, cube_counts, distinct_users_exact,
# revenue_percentiles) were parked at positions 51-56, still
# mirror-checked every round.
#
# Round 9 (VERDICT r8 item 4): the two round-8 flagship curation rows
# (dsir_select_docs, curate_corpus_r8 — full DuckDB oracles at three
# scale factors) were promoted; window_range_frame (family keeps
# window_lag_pct_change + window_cumprod) and doc_fingerprint (family
# keeps text_stats/text_quality/language_id/pii_scrub) parked at 51-52.
FROZEN_FIRST_50 = [
    "q1_pricing_summary", "q3_shipping_priority", "q4_order_priority",
    "q5_local_supplier", "q7_volume_shipping", "q17_small_quantity",
    "filter_project", "semi_join_in_list", "anti_join_customers",
    "broadcast_dim_join", "left_join_coalesce", "interval_validity_join",
    "dedup_first_non_null", "dedup_keyed", "distinct_segments",
    "greatest_least", "window_lag_pct_change", "window_cumprod",
    "calendar_explode", "measure_unpivot",
    "topk_per_group", "union_all_parties", "regex_normalize",
    "json_extract_cast", "rollup_counts", "hourly_rollup",
    "sessionize_batch", "asof_join_events", "multimodal_meta",
    "multimodal_features", "text_stats", "text_quality", "language_id",
    "pii_scrub", "exact_dedup_docs",
    "ngram_jaccard_dedup", "embedding_cosine_topk",
    "asof_forward_events", "merge_intervals_events", "scd2_events",
    "bm25_search_docs", "ml_quality_frozen_docs", "html_extract_docs",
    "warc_extract_docs", "url_dedup_docs", "curate_corpus_docs",
    "domain_quota_docs", "media_index_dedup_docs",
    "dsir_select_docs", "curate_corpus_r8",
]


# Positions 51-191 as registered today. With FROZEN_FIRST_50 this pins
# the whole registry order, so moving a declaration or editing
# queries.DRIVER_ORDER cannot move a row unnoticed.
FROZEN_AFTER_50 = [
    "window_range_frame", "doc_fingerprint", "embedding_near_dup",
    "pivot_event_counts", "dense_rank_balances", "json_struct_parse",
    "cube_counts", "distinct_users_exact", "revenue_percentiles",
    "distinct_users_sketch", "minhash_lsh_dedup", "simhash_dedup",
    "embedding_lsh_topk", "embedding_ivf_topk", "q6_forecast_revenue",
    "q8_market_share", "q9_product_profit", "q10_returned_items",
    "q13_customer_distribution", "q14_promo_revenue", "q15_top_supplier",
    "q16_supplier_part_counts", "q18_large_volume", "q19_discounted_revenue",
    "q22_global_sales", "q21_lone_returner", "q11_important_nations",
    "rolling_volatility", "max_drawdown", "autocorr_lag1", "ohlc_bars",
    "rolling_beta", "bollinger_bands", "vwap_events", "rsi_events",
    "ewma_events", "chunk_plan_docs", "deterministic_split_docs",
    "mix_corpus_docs", "top_ngrams_docs", "repeated_spans_docs",
    "scrub_repeated_spans", "ml_quality_docs", "image_dhash_dedup",
    "audio_dhash_dedup", "chunk_sentences_docs", "gopher_repetition",
    "line_dedup_docs", "decontaminate_docs", "dedup_clusters",
    "dedup_keep_best_docs", "leakage_safe_split_docs", "pack_documents_docs",
    "semantic_dedup_docs", "zscore_winsorize", "decile_portfolio",
    "rolling_median", "funnel_conversion", "retention_cohorts",
    "source_quota_docs", "grouping_sets_revenue", "forward_fill",
    "incremental_dedup_docs", "incremental_dedup_bucketed_docs",
    "incremental_dedup_exact_docs", "wet_roundtrip_docs", "trend_theil_sen",
    "set_ops_customers", "rank_family_events", "bigram_lm_docs",
    "fuzzy_name_pairs", "rollup_incremental_events", "bpe_tokenize_docs",
    "full_outer_reconcile", "seasonal_decompose_events",
    "robust_anomalies_events", "scd2_incremental_events",
    "hierarchy_rollup_customers", "hll_distinct_rollup_events",
    "snapshot_diff_customers", "psi_drift_events", "join_profile_tpch",
    "profile_drift_events", "fuzzy_decontaminate_docs",
    "json_schema_profile_events", "skew_profile_lineitem", "twap_events",
    "resample_grid_events", "sequence_gaps_orders", "mom_revenue_growth",
    "weighted_sample_docs", "fama_macbeth_events", "rank_ic_events",
    "decile_turnover_events", "kaplan_meier_users", "event_transition_matrix",
    "source_divergence_docs", "approx_quantiles_events",
    "range_join_value_bands", "triangle_count_suppliers",
    "pagerank_suppliers", "profile_lineitem", "zorder_layout_lineitem",
    "q2_min_cost_supplier", "q12_returnflag_priority",
    "q20_surplus_suppliers", "stratified_split_docs", "impute_events",
    "kll_quantile_rollup_events", "cumulative_unique_users",
    "covariance_event_types", "curate_corpus_full", "perplexity_bucket_docs",
    "media_intake_loop_docs", "tfidf_keywords_docs", "hybrid_search_docs",
    "media_index_takedown_docs", "corpus_export_manifest_docs",
    "quality_percentile_by_source_docs", "token_budget_mix_docs",
    "url_blocklist_docs", "embedding_pca_docs", "boilerplate_lines_docs",
    "hard_negatives_docs", "dsir_incremental_docs",
    "curation_pipeline_loop_docs", "bloom_prefilter_docs",
    "frontier_schedule_docs", "sft_assembly_events", "filter_funnel_docs",
    "link_graph_docs", "ngram_novelty_docs", "shard_manifest_docs",
    "shard_compaction_plan_docs", "dup_attribution_docs",
    "tokenizer_fertility_docs", "text_normalize_docs", "dpo_pairs_events",
    "quality_calibration_docs", "shard_intake_loop_docs",
    "embedding_drift_docs",
]

# Extension queries deliberately promoted into the driver window (listed
# in queries.DRIVER_ORDER).
PROMOTED_EXT = {
    "asof_forward_events", "merge_intervals_events", "scd2_events",
    "bm25_search_docs", "ml_quality_frozen_docs", "html_extract_docs",
    "warc_extract_docs", "url_dedup_docs", "curate_corpus_docs",
    "domain_quota_docs", "media_index_dedup_docs",
    "dsir_select_docs", "curate_corpus_r8",
}


def test_first_50_entries_frozen():
    from quantlab_data_pipeline_spark.queries import SPARK_QUERIES

    assert list(SPARK_QUERIES)[:50] == FROZEN_FIRST_50


def test_full_registry_order_frozen():
    from quantlab_data_pipeline_spark.queries import SPARK_QUERIES

    assert list(SPARK_QUERIES) == FROZEN_FIRST_50 + FROZEN_AFTER_50


def test_every_oracle_has_a_query():
    from quantlab_data_pipeline_spark.queries import ORACLE_SQL, SPARK_QUERIES

    missing = set(ORACLE_SQL) - set(SPARK_QUERIES)
    assert not missing, f"oracles without a registered query: {sorted(missing)}"


def test_extension_queries_register_after_the_window():
    from quantlab_data_pipeline_spark.queries import SPARK_QUERIES

    order = list(SPARK_QUERIES)
    # Positions 51-52: the rows displaced by the round-9 rotation
    # (windowed-agg and text-function families both keep in-window
    # relatives); 53: the row displaced by the round-8 rotation (exact
    # all-pairs cosine baseline, in-window relative
    # embedding_cosine_topk); 54-59: the six rows displaced by the
    # round-7 rotation (oracle-checked in the mirror every round);
    # then the rows-only queries parked outside the window since round
    # 3 (each has an oracle-checked exact twin inside it).
    assert order[50:64] == [
        "window_range_frame", "doc_fingerprint",
        "embedding_near_dup",
        "pivot_event_counts", "dense_rank_balances", "json_struct_parse",
        "cube_counts", "distinct_users_exact", "revenue_percentiles",
        "distinct_users_sketch", "minhash_lsh_dedup", "simhash_dedup",
        "embedding_lsh_topk", "embedding_ivf_topk",
    ]
    ext = [
        name for name, fn in SPARK_QUERIES.items()
        if fn.__module__ == "quantlab_data_pipeline_spark.queries_ext"
    ]
    assert PROMOTED_EXT <= set(ext)
    for name in ext:
        if name in PROMOTED_EXT:
            assert order.index(name) < 50
        else:
            assert order.index(name) > 50


def test_each_row_is_declared_once():
    from quantlab_data_pipeline_spark import queries, queries_ext

    declared = [
        name
        for module in (queries, queries_ext)
        for name, _, _ in queries_ext.declared_rows(module)
    ]
    assert sorted(declared) == sorted(queries.SPARK_QUERIES)


def test_registry_does_not_depend_on_import_order():
    code = (
        "import json\n"
        "import quantlab_data_pipeline_spark.queries_ext\n"
        "from quantlab_data_pipeline_spark.queries import ORACLE_SQL, SPARK_QUERIES\n"
        "print(json.dumps([list(SPARK_QUERIES), len(ORACLE_SQL)]))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, check=True
    )
    order, n_oracles = json.loads(out.stdout.splitlines()[-1])
    assert order == FROZEN_FIRST_50 + FROZEN_AFTER_50
    assert n_oracles == 185


def _literal_names(path: Path, names: set[str]) -> dict[str, list[str]]:
    """The entries (keys, for a dict) of the top-level literals ``names``
    in ``path``, read without importing it."""
    found = {}
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, ast.Assign) and isinstance(node.targets[0], ast.Name):
            if node.targets[0].id in names:
                found[node.targets[0].id] = list(ast.literal_eval(node.value))
    return found


def test_every_benched_row_is_registered():
    """bench.py runs only ``[n for n in SECTION if n in SPARK_QUERIES]``,
    so a dropped or renamed row would silently shrink a section."""
    from quantlab_data_pipeline_spark.queries import SPARK_QUERIES

    lists = {
        "bench.py": {"HEADLINE", "EXTENDED", "CURATION", "INTAKE"},
        "scripts/dump_plans.py": {"HEADLINE"},
        "perfbench/curation.py": {"ROW_LAYER"},
    }
    for rel, names in lists.items():
        found = _literal_names(ROOT / rel, names)
        assert set(found) == names, rel
        for name, rows in found.items():
            missing = [r for r in rows if r not in SPARK_QUERIES]
            assert not missing, f"{rel} {name}: {missing}"


_REGISTRY_DICTS = {"SPARK_QUERIES", "ORACLE_SQL"}
_MUTATORS = {"update", "clear", "pop", "popitem", "setdefault"}


def _registry_mutations(source: str) -> list[int]:
    """Lines of ``source`` that change a registry dict after it is
    built: a subscript assignment or deletion on ``SPARK_QUERIES`` or
    ``ORACLE_SQL`` (or an ``*_EXT`` twin), or a call of one of their
    mutating methods."""

    def registry(node: ast.AST) -> bool:
        name = (
            node.id if isinstance(node, ast.Name)
            else node.attr if isinstance(node, ast.Attribute)
            else ""
        )
        return name.removesuffix("_EXT") in _REGISTRY_DICTS

    lines = []
    for node in ast.walk(ast.parse(source)):
        targets = (
            node.targets if isinstance(node, (ast.Assign, ast.Delete))
            else [node.target] if isinstance(node, (ast.AugAssign, ast.AnnAssign))
            else []
        )
        if any(isinstance(t, ast.Subscript) and registry(t.value) for t in targets):
            lines.append(node.lineno)
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in _MUTATORS
            and registry(node.func.value)
        ):
            lines.append(node.lineno)
    return sorted(lines)


def test_registry_is_never_mutated():
    offenders = {
        p.relative_to(PACKAGE).as_posix(): lines
        for p in sorted(PACKAGE.rglob("*.py"))
        if (lines := _registry_mutations(p.read_text()))
    }
    assert offenders == {}


def test_registry_mutation_guard_sees_each_shape():
    src = (
        'SPARK_QUERIES = {"a": f}\n'
        'SPARK_QUERIES["b"] = g\n'
        'ORACLE_SQL_EXT["b"] = "SELECT 1"\n'
        "ORACLE_SQL.update(ORACLE_SQL_EXT)\n"
        "SPARK_QUERIES.clear()\n"
        'sql = ORACLE_SQL.get("a")\n'
        'del ORACLE_SQL["a"]\n'
        'queries.SPARK_QUERIES.pop("a")\n'
        'other["a"] = SPARK_QUERIES["a"]\n'
        "rows = dict(SPARK_QUERIES)\n"
        'rows.pop("a")\n'
    )
    assert _registry_mutations(src) == [2, 3, 4, 5, 7, 8]


def test_entry_contract_exposes_full_registry():
    import __spark_entry__ as entry
    from quantlab_data_pipeline_spark.queries import ORACLE_SQL, SPARK_QUERIES

    assert set(entry.queries()) == set(SPARK_QUERIES)
    assert entry.oracle_sql() == dict(ORACLE_SQL)


def test_no_cartesian_and_only_whitelisted_nested_loops(spark):
    """Scale-discipline gate (mirrors scripts/plan_audit.py): no query
    may plan a CartesianProduct, and BroadcastNestedLoopJoin is allowed
    only where a documented driver-scale frame is broadcast. Runs on a
    cheap non-iterative subset so the full suite stays fast; the script
    covers all 191."""
    import __spark_entry__ as entry
    from scripts.plan_audit import BNLJ_WHITELIST

    SUBSET = [
        "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
        "q8_market_share", "q11_important_nations", "q22_global_sales",
        "interval_validity_join", "asof_join_events", "asof_forward_events",
        "merge_intervals_events", "scd2_events", "range_join_value_bands",
        "triangle_count_suppliers", "ngram_jaccard_dedup",
        "exact_dedup_docs", "zscore_winsorize", "sessionize_batch",
        "window_cumprod", "forward_fill", "topk_per_group",
    ]
    qs = entry.queries()
    for name in SUBSET:
        plan = (
            qs[name](spark, "/root/testdata/sf0.001")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "CartesianProduct" not in plan, name
        if "BroadcastNestedLoopJoin" in plan:
            assert name in BNLJ_WHITELIST, name


def test_plan_audit_counts_python_operators():
    """The audit's Python-boundary census, on a hand-written plan: every
    Python evaluation operator counts once, a Python-RDD scan does not."""
    from scripts.plan_audit import audit_one

    plan = """AdaptiveSparkPlan isFinalPlan=false
+- FlatMapGroupsInPandasWithState f(k#1), [k#1], state
   +- FlatMapGroupsInPandas [k#1], f(k#1, v#2)#9, [k#1, v#2]
      +- Exchange hashpartitioning(k#1, 8), ENSURE_REQUIREMENTS, [plan_id=7]
         +- MapInPandas kernel(k#1, v#2)#8, [k#1, v#2], false
            +- ArrowEvalPython [pudf(v#2)#5], [pythonUDF0#6], 200
               +- BatchEvalPython [udf(v#2)#3], [pythonUDF0#4]
                  +- Scan ExistingRDD[k#1,v#2]
"""
    row = audit_one("q", plan)
    assert (row["python"], row["exchanges"]) == (5, 1)
    assert audit_one("q", "Scan ExistingRDD[k#1]")["python"] == 0
    census = "MapInArrow AggregateInPandas WindowInPandas FlatMapCoGroupsInPandas"
    assert audit_one("q", census)["python"] == 4
