"""Registry-wide repeat-scan gate (round 4; per-query budgets round 5).

A derived frame consumed by several downstream branches without a
persist makes Catalyst replay the whole upstream per consumer — at
100 TB that is N reads of a base table for one query. Round 4 swept the
registry with this exact walker, found 17 queries scanning the same
table 4–14×, and fixed them by checkpointing the shared derivation
point. This test keeps the property: NO query may scan the same base
table ≥ 4 times per execution.

Round 5 (VERDICT r4 #7) tightens the blanket ≤3 allowance into a pinned
PER-QUERY budget: every query that legitimately reads a table more than
once is listed in ALLOWED_MULTI with its measured scan count, so a
regression from 1→3 scans INSIDE the old allowance now fails instead of
passing silently. The legitimate multi-pass classes, which is what the
budget encodes:

  * two-pass statistics — a global parameter from pass 1 feeds a per-row
    pass 2 (winsorized/MAD cuts, CUPED theta, PSI bins, ranks for
    Spearman, residual diagnostics, calibration bins);
  * self-join roles — the same table plays two relational roles
    (events-vs-events sessionize/autocorr/retention, knn query-vector vs
    corpus, TPC-H nation n1/n2, supplier-vs-best-supplier in q15);
  * train/score splits — a model fit on one slice scores the other
    (gbdt/logreg/kmeans iteration 2, heldout perplexity, contamination
    train-vs-eval, novelty past-vs-present);
  * sketch-vs-exact audits — the query reports the sketch AND its exact
    reference on the same table (bloom, countmin, hll, kmv).

The walker recurses ``children()`` only, which excludes InMemoryRelation
build plans — a cached subtree's scan executes once at fill time, so
counting it per consumer (as a naive plan-string grep does) would be
wrong in both directions.
"""

import re
from collections import Counter

from mapreduce_machine_learning_spark import runtime
from mapreduce_machine_learning_spark.registry import all_queries
from tests.conftest import SF_DIR

MAX_SAME_TABLE_SCANS = 3

# query -> {table: measured scan count} — the pinned budget. Everything not
# listed must scan each base table at most once. Regenerate a candidate
# budget with the loop below and diff deliberately; never widen to make a
# new plan pass without naming which class above it falls into.
ALLOWED_MULTI = {
    "q_agg_winsorized": {"events": 2},
    "q_ann_ivf": {"embeddings": 2},
    "q_ann_lsh": {"embeddings": 2},
    "q_array_setops": {"documents": 2},
    "q_events_anomaly": {"events": 2},
    "q_events_autocorr": {"events": 3},
    "q_events_cohort_ltv": {"events": 3},
    "q_events_concurrency": {"events": 2},
    "q_events_cuped": {"events": 2},
    "q_events_eb_rate": {"events": 2},
    "q_events_kaplan_meier": {"events": 2},
    "q_events_merge_upsert": {"events": 2},
    "q_events_retention": {"events": 2},
    "q_events_rfm": {"events": 2},
    "q_events_seasonality": {"events": 2},
    "q_events_slo_breaches": {"events": 2},
    "q_events_time_to_convert": {"events": 2},
    "q_events_trend": {"events": 2},
    "q_events_wau": {"events": 2},
    "q_join_corr_subquery": {"customer": 2},
    "q_join_range": {"events": 2},
    "q_llm_ann_pairs": {"embeddings": 2},
    "q_llm_contamination": {"documents": 3},
    "q_llm_data_card": {"documents": 2},
    "q_llm_dup_sources": {"documents": 2},
    "q_llm_embed_alignment": {"documents": 2, "embeddings": 2},
    "q_llm_heldout_perplexity": {"documents": 3},
    "q_llm_knn": {"embeddings": 2},
    "q_llm_textstats": {"documents": 2},
    "q_llm_tfidf": {"documents": 3},
    "q_llm_unigram_logprob": {"documents": 3},
    "q_ml_auc": {"events": 2},
    "q_ml_auc_binned": {"events": 2},
    "q_ml_brier_decomp": {"events": 2},
    "q_ml_centroid_dist": {"embeddings": 2},
    # conformal (r13): the old per-row residual checkpoint hid the calib
    # pass inside an InMemoryRelation; removing it (coverage now reads off
    # the quantile histogram) makes both honest passes — train stats +
    # calib histogram — visible to this walk. Two passes is the design.
    "q_ml_conformal": {"lineitem": 2},
    "q_ml_cooks_distance": {"lineitem": 2},
    "q_ml_durbin_watson": {"events": 2},
    "q_ml_emb_outliers": {"embeddings": 2},
    "q_ml_gbdt_iter2": {"events": 2},
    "q_ml_gbdt_round": {"events": 2},
    "q_ml_gda_params": {"events": 3},
    "q_ml_gnb_predict": {"events": 2},
    "q_ml_huber_eval": {"lineitem": 2},
    "q_ml_jarque_bera": {"lineitem": 2},
    "q_ml_kmeans_iter2": {"events": 2},
    "q_ml_knn": {"embeddings": 2},
    "q_ml_knn_classify": {"embeddings": 2},
    "q_ml_knn_dist_outliers": {"embeddings": 2},
    "q_ml_ks_test": {"events": 2},
    "q_ml_linreg_eval": {"lineitem": 3},
    "q_ml_logreg_iter2": {"events": 2},
    "q_ml_logreg_predict": {"events": 2},
    "q_ml_nb_multinomial": {"documents": 3},
    "q_ml_precision_at_k": {"embeddings": 2},
    "q_ml_psi": {"events": 2},
    "q_ml_scatter": {"embeddings": 2},
    "q_ml_softmax_grad": {"events": 2},
    "q_ml_spearman": {"lineitem": 2},  # r14: rank join + CORR pass fused into the groupBy(price) exchange
    "q_ml_tree_split": {"events": 2},
    "q_ml_var_merge": {"events": 2},
    "q_ml_woe_iv": {"events": 2},
    "q_part_skyline": {"part": 2},
    "q_profile_fd": {"orders": 2},
    "q_set_symdiff": {"orders": 2, "customer": 2},
    "q_sketch_bloom": {"documents": 3},
    "q_sketch_countmin": {"documents": 1},
    "q_sketch_hll": {"events": 2},
    "q_sketch_kmv": {"events": 2},
    "q_str_editdist": {"documents": 2},
    "q_str_fuzzy": {"part": 2},
    "q_stream_gapfill": {"events": 2},
    "q_text_burstiness": {"documents": 2},
    "q_text_keyness": {"documents": 2},
    "q_text_novelty": {"documents": 2},
    "q_text_rouge1": {"documents": 2},
    "q_text_vocab_growth": {"documents": 2},
    "q_tpch_q11": {"lineitem": 2, "supplier": 2, "nation": 2},
    "q_tpch_q15": {"lineitem": 2},
    "q_tpch_q17": {"lineitem": 2},
    "q_tpch_q22": {"customer": 2},
    "q_tpch_q7": {"nation": 2},
    "q_tpch_q8": {"nation": 2},
}


def _walk(node, tables):
    name = node.nodeName()
    if "Scan parquet" in node.simpleStringWithNodeId() or name == "FileSourceScan":
        m = re.search(r"/(\w+)\.parquet", node.verboseString(1000))
        tables[m.group(1) if m else "?"] += 1
    ch = node.children()
    for i in range(ch.size()):
        _walk(ch.apply(i), tables)
    if name == "AdaptiveSparkPlan":
        _walk(node.executedPlan(), tables)
    elif "QueryStage" in name:
        _walk(node.plan(), tables)


def test_no_query_rescans_a_base_table(spark):
    over_cap = {}
    over_budget = {}
    for name, fn in all_queries().items():
        tables = Counter()
        _walk(fn(spark, SF_DIR)._jdf.queryExecution().executedPlan(), tables)
        worst = {
            t: c for t, c in tables.items() if c > MAX_SAME_TABLE_SCANS
        }
        if worst:
            over_cap[name] = worst
        budget = ALLOWED_MULTI.get(name, {})
        drift = {
            t: (c, budget.get(t, 1))
            for t, c in tables.items()
            if c > budget.get(t, 1)
        }
        if drift:
            over_budget[name] = drift
        runtime.release_all()
    assert not over_cap, (
        f"queries re-scan a base table > {MAX_SAME_TABLE_SCANS}x — "
        f"checkpoint the shared derived frame: {over_cap}"
    )
    assert not over_budget, (
        "scan counts drifted above the pinned per-query budget "
        "{query: {table: (got, allowed)}} — either a shared frame lost "
        "its checkpoint (fix that) or a deliberate new pass was added "
        f"(update ALLOWED_MULTI and name its class): {over_budget}"
    )


def test_allowed_multi_is_not_stale(spark):
    """The budget must describe reality: every ALLOWED_MULTI entry still
    names a registered query, so deleted/renamed queries can't leave dead
    allowances behind that a future query of the same name inherits."""
    unknown = set(ALLOWED_MULTI) - set(all_queries())
    assert not unknown, f"ALLOWED_MULTI lists unregistered queries: {unknown}"
