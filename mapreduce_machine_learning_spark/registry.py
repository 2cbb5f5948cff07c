"""Query registry backing the driver contract in ``__spark_entry__.py``.

Each operator module registers its queries with the ``@query`` decorator,
pairing the PySpark implementation with the DuckDB oracle SQL (or ``None``
for rows-only checks — approximate/nondeterministic ops, SURVEY.md §2.1).
Keeping the oracle SQL adjacent to the Spark code in each module makes the
parity contract reviewable side by side.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def query(name: str, oracle: Optional[str] = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            raise ValueError(f"duplicate query id {name!r}")
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def _load_operator_modules() -> None:
    # import for side effect: each module registers its queries
    from mapreduce_machine_learning_spark.operators import (  # noqa: F401
        aggregation,
        analytics,
        ann,
        corpus_stats,
        distributions,
        experimentation,
        llm,
        ml,
        model_selection,
        quality_audits,
        relational,
        setops_scalar,
        sketches,
        stattests,
        streaming_batch,
        text_analysis,
        tpch,
        udf,
        windows,
    )


# SURVEY.md §2 contract queries, in §2 table order. These must reach the
# driver's correctness window before any extension query: the driver checks
# the first N entries of ``queries()`` in registration order, so ordering IS
# the gate (VERDICT.md round 1, "Next round" #1).
CONTRACT_QUERIES: tuple[str, ...] = (
    # §2.2 relational core
    "q_scan_stats", "q_scan_project", "q_filter_pred", "q_filter_like",
    "q_join_inner", "q_join_broadcast", "q_join_multi", "q_join_left",
    "q_join_right", "q_join_full", "q_join_semi", "q_join_anti",
    "q_join_cross", "q_join_range", "q_join_asof",
    # §2.4 windows / top-k
    "q_win_rank", "q_win_lag", "q_win_running", "q_win_moving",
    "q_win_range", "q_win_ntile", "q_win_firstlast", "q_win_pctrank",
    "q_topk_global", "q_topk_pergroup",
    # §2.6 ML kernels
    "q_ml_linreg_stats", "q_ml_linreg_gram", "q_ml_gnb_params",
    "q_ml_logreg_grad", "q_ml_kmeans_step", "q_ml_gmm_estep", "q_ml_knn",
    # §2.7 streaming (batch-equivalent)
    "q_stream_tumble", "q_stream_sliding", "q_stream_session",
    "q_stream_latedata",
    # §2.8 LLM pipeline
    "q_llm_dedup_exact", "q_llm_minhash", "q_llm_neardup_pairs",
    "q_llm_sim_threshold", "q_llm_tfidf", "q_llm_textstats",
    "q_llm_multimodal",
    # §2.10 UDF surface
    "q_udf_python", "q_udf_pandas", "q_udaf_grouplinfit", "q_udtf_expand",
    # §2.5 set ops & scalar functions
    "q_set_unionall", "q_set_union", "q_set_intersect", "q_set_except",
    "q_str_funcs", "q_str_regexp", "q_date_funcs", "q_math_funcs",
    "q_case_cast", "q_array_funcs", "q_explode_tokens", "q_map_json",
    # §2.3 aggregation (already driver-green in round 1 → listed last so the
    # 50-entry window spends its budget on the never-checked families first)
    "q_agg_global", "q_agg_group", "q_agg_distinct", "q_agg_having",
    "q_agg_stats", "q_agg_rollup", "q_agg_cube", "q_agg_gsets",
    "q_agg_approx",
)


_DONE_CACHE: Optional[set] = None
_LAST_RECHECK_CACHE: Optional[dict] = None


def _driver_last_recheck() -> dict:
    """name -> latest recheck-era round (>= RECHECK_ERA_START) with a
    driver row; populated together with the done cache."""
    if _LAST_RECHECK_CACHE is None:
        _driver_done_queries()
    return _LAST_RECHECK_CACHE or {}


def _report_round(path: str) -> int:
    """Numeric round index of a CORRECTNESS_r*.json path (−1 if malformed).

    Used as the sort key so r2 < r10 < r100 regardless of zero padding —
    lexicographic order would let a stale r99 override r100 (ADVICE
    round 3)."""
    import os
    import re

    m = re.search(r"_r(\d+)\.json$", os.path.basename(path))
    return int(m.group(1)) if m else -1


def _report_sort_key(path: str) -> tuple:
    """(round index, basename): numeric round order with a deterministic
    basename tie-break — r1/r01 (or malformed names, all −1) would
    otherwise fall back to glob()'s filesystem enumeration order and make
    latest-round-wins machine-dependent."""
    import os

    return (_report_round(path), os.path.basename(path))


def _driver_done_queries() -> set[str]:
    """Query ids whose LATEST driver correctness row is green.

    A full-oracle query is *done* once ``hash_match`` is true; a rows-only
    query (no oracle, SURVEY §2.1) is done once it ran without error
    (``err == "no_oracle"`` with a recorded row count). Done-ness is the
    status in the most recent ``CORRECTNESS_r*.json`` that mentions the
    query — NOT a union across rounds — so a query that regresses after
    going green rotates back to the front of the window for a recheck
    (ADVICE round 2). Reading the driver's own report files makes the
    ordering self-maintaining. Memoized per process — callers invoke
    all_queries() per lookup and the report set only changes between rounds.
    """
    import glob
    import json
    import os

    global _DONE_CACHE, _LAST_RECHECK_CACHE
    if _DONE_CACHE is not None:
        return _DONE_CACHE

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    reports = []
    rounds = []
    # NUMERIC round order (r01 < r2 < r10 < r100); later rounds override.
    for path in sorted(
        glob.glob(os.path.join(repo_root, "CORRECTNESS_r*.json")),
        key=_report_sort_key,
    ):
        try:
            with open(path) as fh:
                reports.append(json.load(fh))
        except (OSError, ValueError):
            continue
        rounds.append(_report_round(path))
    _DONE_CACHE = _done_from_reports(reports)
    _LAST_RECHECK_CACHE = _last_recheck_from_reports(reports, rounds)
    return _DONE_CACHE


# Recheck rotation (round 8): once the whole registry is driver-green
# (round 7 drained the tail), a STATIC ordering would hand the driver the
# same 50-query window every round and the other ~297 queries would never
# re-verify. Rounds >= RECHECK_ERA_START therefore count as "recheck era":
# within the already-green buckets below, queries checked in an EARLIER
# recheck-era round (or never) sort ahead of ones checked more recently,
# so each round's window advances through the registry — full coverage
# re-verifies every ~11 rounds (329 non-flagship queries / 32 rotating
# slots per 50-query window after the 18 pinned flagships; README and
# test_round9_window_forecast_rotation compute the same figure) — while
# the RECHECK_PRIORITY flagships stay pinned to every round's window. Pre-era rounds (r1-r7, the build-out)
# deliberately do NOT count: counting them would reorder the pinned
# round-8 window by each query's historical green round.
RECHECK_ERA_START = 8


def _last_recheck_from_reports(reports, rounds) -> dict:
    """name -> latest recheck-era round with ANY row for the query (green
    or red — a red row rotates the query forward via the done-set instead,
    and must not also make it look 'recently rechecked'). 0 if none."""
    last: dict[str, int] = {}
    for report, rnd in zip(reports, rounds):
        if rnd < RECHECK_ERA_START or not isinstance(report, dict):
            continue
        for name, row in report.items():
            if isinstance(row, dict):
                last[name] = max(last.get(name, 0), rnd)
    return last


def _done_from_reports(reports) -> set[str]:
    """Latest-round-wins green set from an ordered report sequence."""
    status: dict[str, bool] = {}
    for report in reports:
        if not isinstance(report, dict):
            continue
        for name, row in report.items():
            if not isinstance(row, dict):
                continue
            status[name] = row.get("hash_match") is True or (
                row.get("err") == "no_oracle"
                and row.get("spark_rows") is not None
            )
    return {name for name, green in status.items() if green}


# Extension queries the brief treats as first-class components (the
# LLM-training-data dedup / similarity-search family) — they outrank the
# generic extension tail for driver-window slots, so the headline operators
# earn driver CORRECTNESS rows before another batch of q_ml_*/q_events_*
# variants does (VERDICT round 2, "Next round" #2).
EXTENSION_PRIORITY: tuple[str, ...] = (
    "q_agg_collect",
    "q_llm_ann_buckets",
    "q_llm_ann_knn",
    "q_llm_ann_pairs",
    "q_llm_ann_ivf_cells",
    "q_llm_ann_ivf_knn",
    "q_llm_dedup_semantic_ann",
    "q_llm_sim_threshold_ivf",
    "q_llm_dedup_incremental",
    "q_llm_knn",
    "q_llm_simhash",
    "q_llm_ngram_jaccard",
    "q_llm_dedup_survivors",
    "q_ann_recall",
)


# Already-green queries that re-verify FIRST once the driver's 50-entry
# window outgrows the never-checked tail (the "slack fill", expected round
# 7): the bench headline set and the flagship LLM-pipeline operators — the
# queries whose silent regression would cost the most, so they earn the
# tightest recheck cadence (VERDICT round 4, "Next round" #4). Order within
# the tuple is the recheck order.
RECHECK_PRIORITY: tuple[str, ...] = (
    # bench.py HEADLINE set — the BASELINE.md-comparable six
    "q_agg_group",
    "q_join_multi",
    "q_win_rank",
    "q_stream_tumble",
    "q_agg_global",
    "q_llm_dedup_exact",
    # flagship dedup + similarity-search pipelines (SCALING.md curves)
    "q_llm_minhash",
    "q_llm_neardup_pairs",
    "q_llm_dedup_incremental",
    "q_llm_dedup_survivors",
    "q_ml_knn",
    "q_llm_ann_knn",
    "q_llm_ann_buckets",
    "q_llm_ann_pairs",
    "q_llm_ann_ivf_cells",
    "q_llm_ann_ivf_knn",
    "q_llm_dedup_semantic_ann",
    "q_llm_sim_threshold_ivf",
)


def _ordered(queries: dict[str, QueryFn]) -> dict[str, QueryFn]:
    """Registration order for the driver: contract-first, never-green-first.

    Priority buckets: (0) contract queries with no green driver row yet, in
    SURVEY §2 table order; (1) EXTENSION_PRIORITY queries with no green row,
    in priority order; (2) other extension queries with no green row, in
    module registration order; then the already-driver-green block: (3)
    RECHECK_PRIORITY flagships in recheck order — EVERY round's window,
    (4) everything else, least-recently-rechecked FIRST (recheck-era
    rounds only — see RECHECK_ERA_START), tie-broken contract-before-
    extension then SURVEY §2 table order / module registration order.
    Recency dominates the tie-break so the driver's 50-query window
    ROTATES through the whole registry across rounds 8+ (full re-verify
    roughly every eleven rounds; see the cadence note above
    RECHECK_ERA_START) instead of re-verifying the same head
    forever; with no recheck-era report yet the order is identical to the
    pre-rotation one (all recencies 0), which keeps the pinned round-8
    window byte-stable. Within a bucket the order is deterministic, so
    reruns of the same round are stable.
    """
    done = _driver_done_queries()
    last = _driver_last_recheck()
    contract_rank = {name: i for i, name in enumerate(CONTRACT_QUERIES)}
    priority_rank = {name: i for i, name in enumerate(EXTENSION_PRIORITY)}
    recheck_rank = {name: i for i, name in enumerate(RECHECK_PRIORITY)}
    reg_rank = {name: i for i, name in enumerate(queries)}

    def key(name: str) -> tuple:
        if name not in done:
            if name in contract_rank:
                return (0, 0, 0, contract_rank[name])
            if name in priority_rank:
                return (1, 0, 0, priority_rank[name])
            return (2, 0, 0, reg_rank[name])
        if name in recheck_rank:
            return (3, 0, 0, recheck_rank[name])
        if name in contract_rank:
            return (4, last.get(name, 0), 0, contract_rank[name])
        return (4, last.get(name, 0), 1, reg_rank[name])

    return {name: queries[name] for name in sorted(queries, key=key)}


def all_queries() -> dict[str, QueryFn]:
    _load_operator_modules()
    return _ordered(dict(_QUERIES))


_SQL_KEYWORDS = {
    "JOIN", "CROSS", "LEFT", "RIGHT", "FULL", "INNER", "OUTER", "WHERE",
    "GROUP", "ORDER", "ON", "UNION", "LIMIT", "HAVING", "WINDOW", "USING",
    "AND", "OR", "SELECT", "FROM", "AS",
}

_EVENTS_WRAPPED = "(SELECT * REPLACE (ts::TIMESTAMP AS ts) FROM events)"


def _harden_events_ts(sql: str) -> str:
    """Wrap every ``events`` table reference in an inline ns→µs cast.

    The engine-side loader truncates events.ts to microseconds
    (``ts DIV 1000`` — SURVEY §1.2). The oracle must see the same instants,
    but whether the *driver's* pre-registered DuckDB view already casts
    ``ts::TIMESTAMP`` is outside our control: if it does, this wrapper is a
    no-op; if the view keeps TIMESTAMP_NS, the wrapper restores parity
    (sub-µs residue otherwise flips gap/range/session boundary
    comparisons). Applied uniformly at the oracle_sql() boundary so query
    modules stay readable."""
    import re

    def repl(m: re.Match) -> str:
        kw, alias = m.group(1), m.group(2)
        if alias and alias.upper() not in _SQL_KEYWORDS:
            return f"{kw} {_EVENTS_WRAPPED} AS {alias}"
        tail = f" {alias}" if alias else ""
        return f"{kw} {_EVENTS_WRAPPED} AS events{tail}"

    return re.sub(r"\b(FROM|JOIN)\s+events\b(?:\s+(?:AS\s+)?(\w+))?", repl, sql)


def all_oracles() -> dict[str, str]:
    _load_operator_modules()
    return {name: _harden_events_ts(sql) for name, sql in _ORACLES.items()}
