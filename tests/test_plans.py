"""Physical-plan assertions (SURVEY.md §4): the optimizer behaviors the
100 TB design depends on must actually show up in `.explain`, not just be
assumed. Each test pins one load-bearing plan property."""

import os

from mapreduce_machine_learning_spark.plans import (
    assert_in_plan,
    assert_not_in_plan,
    explain_str,
)
from mapreduce_machine_learning_spark.registry import all_queries
from tests.conftest import SF_DIR

QUERIES = all_queries()


def test_scan_project_pushdown_and_pruning(spark):
    df = QUERIES["q_scan_project"](spark, SF_DIR)
    plan = explain_str(df)
    # filter reaches the parquet reader
    assert "PushedFilters" in plan and "LessThan(l_orderkey,100)" in plan, plan
    # column pruning: the 11-column table is read as exactly 3 columns
    assert "l_extendedprice" in plan.split("ReadSchema")[1].splitlines()[0]
    assert "l_shipdate" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_filter_pred_pushdown(spark):
    df = QUERIES["q_filter_pred"](spark, SF_DIR)
    assert_in_plan(df, "PushedFilters", "GreaterThanOrEqual(l_discount,0.02)")


def test_broadcast_join_strategy(spark):
    df = QUERIES["q_join_broadcast"](spark, SF_DIR)
    assert_in_plan(df, "BroadcastHashJoin")


def test_multi_join_no_cartesian(spark):
    df = QUERIES["q_join_multi"](spark, SF_DIR)
    assert_not_in_plan(df, "CartesianProduct")


def test_topk_uses_take_ordered(spark):
    df = QUERIES["q_topk_global"](spark, SF_DIR)
    assert_in_plan(df, "TakeOrderedAndProject")


def test_agg_partial_final_pair(spark):
    # map-side combine: two HashAggregates around the exchange
    df = QUERIES["q_agg_group"](spark, SF_DIR)
    plan = explain_str(df)
    assert plan.count("HashAggregate") >= 2, plan
    assert "Exchange" in plan, plan


def test_semi_join_planned_as_semi(spark):
    df = QUERIES["q_join_semi"](spark, SF_DIR)
    plan = explain_str(df)
    assert "LeftSemi" in plan, plan


def test_whole_stage_codegen_on_hot_path(spark):
    df = QUERIES["q_agg_group"](spark, SF_DIR)
    df.collect()  # AQE finalizes the plan only at execution
    final = df._jdf.queryExecution().executedPlan().toString()
    # '*(n)' prefixes mark whole-stage-codegen stages
    assert "*(" in final, final


# queries allowed to carry an Arrow-vectorized (grouped-map) Python stage:
# embedding-block gram-matrix scoring, where one BLAS matmul per block is
# the design (and the 100 TB shape — see their docstrings). Row-at-a-time
# BatchEvalPython stays banned for these too.
VECTORIZED_PYTHON_OK = {
    "q_llm_dedup_semantic",
    "q_llm_dedup_semantic_ann",  # union-find over the verified edge list
    "q_llm_sim_threshold",
    "q_llm_sim_threshold_ivf",
    "q_llm_ann_pairs",  # bucket-blocked gram rerank (optimization r13)
}


def test_no_python_udf_outside_udf_surface(spark):
    # every non-§2.10 query must stay JVM-side: no Python eval nodes
    for name, fn in QUERIES.items():
        if name.startswith("q_udf") or name.startswith("q_udaf"):
            continue
        plan = explain_str(fn(spark, SF_DIR))
        assert "BatchEvalPython" not in plan, name
        if name in VECTORIZED_PYTHON_OK:
            continue
        assert "ArrowEvalPython" not in plan, name
        assert "FlatMapGroupsInPandas" not in plan, name


def test_tpch_q5_broadcasts_dims_no_cartesian(spark):
    """The 6-table Q5 graph must resolve every dimension join to
    broadcast-hash and never fall back to a cartesian product."""
    from mapreduce_machine_learning_spark.operators.tpch import q_tpch_q5

    df = q_tpch_q5(spark, SF_DIR)
    plan = assert_in_plan(df, "BroadcastHashJoin")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_tpch_q6_filters_reach_scan(spark):
    """Q6's ship-date/discount/quantity predicates must push to parquet."""
    from mapreduce_machine_learning_spark.operators.tpch import q_tpch_q6

    plan = explain_str(q_tpch_q6(spark, SF_DIR))
    assert "PushedFilters" in plan
    assert "l_discount" in plan.split("PushedFilters", 1)[1][:400]


def test_tpch_q3_topk_take_ordered(spark):
    from mapreduce_machine_learning_spark.operators.tpch import q_tpch_q3

    assert_in_plan(q_tpch_q3(spark, SF_DIR), "TakeOrderedAndProject")


def test_tpch_q4_semi_q22_anti(spark):
    from mapreduce_machine_learning_spark.operators.tpch import (
        q_tpch_q4,
        q_tpch_q22,
    )

    assert_in_plan(q_tpch_q4(spark, SF_DIR), "LeftSemi")
    assert_in_plan(q_tpch_q22(spark, SF_DIR), "LeftAnti")


def test_tpch_q2_q11_broadcast_dims_no_cartesian(spark):
    for name in ("q_tpch_q2", "q_tpch_q11"):
        df = QUERIES[name](spark, SF_DIR)
        plan = explain_str(df)
        assert "BroadcastHashJoin" in plan, (name, plan)
        assert "CartesianProduct" not in plan, (name, plan)


def test_crossval_single_fact_scan(spark):
    # the design promise since optimization r13 is ONE fact pass total:
    # the per-fold sufficient-statistics pass (persisted 5-row frame,
    # read back via InMemoryTableScan) — held-out RMSE is scalar math on
    # that frame, so no eval scan exists. Formatted explain assigns each
    # physical node a unique id and prints the shared cached subtree once
    # per consumer, so the robust invariant is the count of DISTINCT
    # parquet-scan node ids — not raw substring counts (which the cached
    # subtree's repeated printout inflates).
    import re

    df = QUERIES["q_ml_crossval"](spark, SF_DIR)
    plan = explain_str(df)
    assert "InMemoryTableScan" in plan, plan  # stats frame is cached
    scan_ids = set(re.findall(r"Scan parquet\s+\((\d+)\)", plan))
    assert len(scan_ids) == 1, (scan_ids, plan)  # the stats pass only


def test_pca_single_scan_no_shuffle_of_rows(spark):
    # summation form: one scan (listed twice by formatted explain:
    # tree summary + detail), partial+final agg, scalar math after
    df = QUERIES["q_ml_pca"](spark, SF_DIR)
    plan = explain_str(df)
    assert plan.count("Scan parquet") == 2, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_bigram_lm_no_python_and_single_count_shuffle(spark):
    df = QUERIES["q_text_bigram_lm"](spark, SF_DIR)
    plan = explain_str(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    # extraction is a higher-order expression, not an explode self-join
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan, plan


def test_markov_orders_by_unique_key(spark):
    # the LEAD window must sort by (ts, event_id) for cross-engine determinism
    df = QUERIES["q_events_markov"](spark, SF_DIR)
    plan = explain_str(df)
    assert "event_id" in plan and "ts" in plan, plan

def test_scd2_sessionpath_one_user_shuffle(spark):
    # both windows (lag-filter + lead, or gap + running-sum + collect) must
    # share a single user_id exchange — the sort-sharing the docstrings claim
    for name in ("q_events_scd2", "q_events_sessionpath"):
        plan = explain_str(QUERIES[name](spark, SF_DIR))
        assert plan.count("hashpartitioning(user_id") == 1, (name, plan)


def test_nb_multinomial_model_side_broadcast(spark):
    # the NB model tables (priors/totals/vocab/count table) must broadcast
    # onto the sparse scoring join — a SortMergeJoin here would shuffle the
    # model for every scored token at corpus scale
    plan = explain_str(QUERIES["q_ml_nb_multinomial"](spark, SF_DIR))
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan



def test_no_cartesian_product_anywhere(spark):
    """Registry-wide gate: no query may plan a CartesianProduct. Scalar
    cross-joins (1-row parameter frames) must plan as
    BroadcastNestedLoopJoin; the intentional q_join_cross is
    dimension×dimension and broadcasts too. A CartesianProduct appearing
    anywhere means a broadcast hint was dropped — at 100 TB that plan is
    a cluster-killer, so it fails CI instead. Runs with materialization
    disabled so subtrees that normally sit behind a persisted frame are
    audited too."""
    from mapreduce_machine_learning_spark import runtime

    runtime.plan_audit_mode(True)
    try:
        for name, fn in sorted(QUERIES.items()):
            plan = explain_str(fn(spark, SF_DIR))
            assert "CartesianProduct" not in plan, name
    finally:
        runtime.plan_audit_mode(False)


def test_runtime_bloom_filter_prunes_fact_probe(spark):
    # The 100 TB fact-fact path: when the build side of a shuffle join is
    # selectively filtered and too big to broadcast, Spark injects a runtime
    # bloom filter on the probe side so the big scan drops non-joining rows
    # before the shuffle. Pin that the mechanism engages (thresholds are
    # sized for production; widened here so the toy-scale plan exercises it).
    from pyspark.sql import functions as F

    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "10GB",
        )
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        from mapreduce_machine_learning_spark.io import load_table

        o = load_table(spark, SF_DIR, "orders").filter(
            F.col("o_totalprice") > 400000
        )
        li = load_table(spark, SF_DIR, "lineitem")
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString().lower()
        assert "might_contain" in plan or "bloom" in plan, plan
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def test_ohlc_single_hash_aggregate_no_window(spark):
    # min_by/max_by keep open/close inside ONE hash aggregate — no sort,
    # no window exchange beyond the groupBy shuffle
    df = QUERIES["q_events_ohlc"](spark, SF_DIR)
    plan = explain_str(df)
    assert "Window" not in plan, plan
    assert plan.count("Exchange") <= 2, plan  # partial→final agg + nothing else


def test_concurrency_one_shuffle_per_sweep(spark):
    # the sweep-line is union → one window on event_type → agg; the union
    # side stays partition-local (no extra exchange for unionByName)
    df = QUERIES["q_events_concurrency"](spark, SF_DIR)
    plan = explain_str(df)
    assert "Union" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_skyline_broadcasts_frontier(spark):
    # the frontier is O(skyline) rows — the join back to part must be
    # broadcast, never a shuffle of the fact side
    df = QUERIES["q_part_skyline"](spark, SF_DIR)
    assert_in_plan(df, "BroadcastHashJoin")


def test_profiler_single_scan(spark):
    # stack() melts 4 columns in one pass: exactly one parquet scan
    df = QUERIES["q_profile_columns"](spark, SF_DIR)
    plan = explain_str(df)
    # one file-index location → the melt reads lineitem exactly once
    assert plan.count("Location: InMemoryFileIndex") == 1, plan


def test_profiler_narrow_first_exchange(spark):
    # r14: the explicit (col, v) count level must ship ONLY the count
    # through the first exchange — Catalyst's countDistinct rewrite
    # carried partial min/max/null-sum alongside every (col, v) group
    # (5 columns instead of 3), all derivable from the group key and
    # its count at the (col) level
    df = QUERIES["q_profile_columns"](spark, SF_DIR)
    plan = explain_str(df)
    # the (col, v) level aggregates a bare count...
    assert "Functions [1]: [partial_count(1)]" in plan, plan
    # ...and the distinct rewrite's wide merge stages are gone
    assert "merge_min" not in plan, plan


def test_ann_ivf_mapside_argmax(spark):
    # r14: cell assignment is a per-row struct-max over the broadcast
    # centroid array — the 4n-row cosine table's vec_id window exchange
    # and the join back to the vector table must stay out of the plan
    df = QUERIES["q_ann_ivf"](spark, SF_DIR)
    plan = assert_not_in_plan(
        df, "Window", "SortMergeJoin", "ShuffledHashJoin"
    )
    assert "array_max" in plan, plan


def test_profile_fd_single_group_exchange(spark):
    # r14: each FD check is one groupBy(X) with a MIN/MAX pair — the
    # countDistinct rewrite's (X, Y)-keyed pre-exchange (a second
    # full-cardinality shuffle for the near-unique-X checks) must be gone
    df = QUERIES["q_profile_fd"](spark, SF_DIR)
    plan = explain_str(df)
    assert "partial_min" in plan and "partial_max" in plan, plan
    for line in plan.splitlines():
        if "hashpartitioning" in line:
            assert not ("o_orderkey" in line and "o_orderstatus" in line), line
            assert not ("l_orderkey" in line and "l_returnflag" in line), line


def test_profile_fd_rhs_columns_are_orderable(spark):
    # q_profile_fd's violation test min(Y) != max(Y) equals
    # COUNT(DISTINCT Y) > 1 only for an orderable Y; a candidate with a
    # map or variant rhs would fail at analysis or break that equivalence
    from mapreduce_machine_learning_spark.io import load_table
    from mapreduce_machine_learning_spark.operators.aggregation import (
        _FD_CANDIDATES,
    )

    ordering = spark._jvm.org.apache.spark.sql.catalyst.expressions.RowOrdering
    for label, table, _, rhs in _FD_CANDIDATES:
        dt = load_table(spark, SF_DIR, table)._jdf.schema().apply(rhs).dataType()
        assert ordering.isOrderable(dt), (label, dt.simpleString())
    map_type = spark.sql("SELECT map(1, 2) AS m")._jdf.schema().apply("m").dataType()
    assert not ordering.isOrderable(map_type)


def test_cooccur_baskets_without_selfjoin(spark):
    # r14: baskets are collect_set aggregates and pairs are generated
    # in-array — the basket-key self-join (and any shuffled join) must
    # stay out of the plan; the only joins left are the tiny broadcast
    # total/count attachments
    df = QUERIES["q_events_cooccur"](spark, SF_DIR)
    plan = assert_not_in_plan(df, "SortMergeJoin", "ShuffledHashJoin")
    assert "collect_set" in plan, plan


def test_kmv_setops_single_key_exchange(spark):
    # r14: both sides' distinct key sets and the exact-truth audit read
    # one groupBy(k) frame — events is scanned once and no per-side
    # DISTINCT re-exchanges the keys
    df = QUERIES["q_sketch_kmv_setops"](spark, SF_DIR)
    plan = explain_str(df)
    assert plan.count("Location: InMemoryFileIndex") == 1, plan


def test_itemcf_norms_broadcast(spark):
    df = QUERIES["q_ml_itemcf"](spark, SF_DIR)
    assert_in_plan(df, "BroadcastHashJoin")


def test_kmv_topk_take_ordered(spark):
    # the k smallest hashes must plan as per-partition top-k heaps
    # (TakeOrderedAndProject), never a global sort of all distinct keys
    df = QUERIES["q_sketch_kmv"](spark, SF_DIR)
    assert_in_plan(df, "TakeOrderedAndProject")


def test_join_strategy_hints_respected(spark):
    # every join-strategy hint must reach the physical planner: at 100 TB
    # these are the manual overrides when stats mislead Catalyst
    from mapreduce_machine_learning_spark.io import load_table

    o = load_table(spark, SF_DIR, "orders")
    c = load_table(spark, SF_DIR, "customer")
    j = o.join(c.hint("shuffle_hash"), o.o_custkey == c.c_custkey)
    assert "ShuffledHashJoin" in explain_str(j)
    j = o.join(c.hint("merge"), o.o_custkey == c.c_custkey)
    assert "SortMergeJoin" in explain_str(j)
    j = o.join(c.hint("broadcast"), o.o_custkey == c.c_custkey)
    assert "BroadcastHashJoin" in explain_str(j)


def test_nullsafe_join_stays_hash(spark):
    # eqNullSafe keys hash like ordinary values — the null-safe join must
    # not degrade to BroadcastNestedLoopJoin
    df = QUERIES["q_join_nullsafe"](spark, SF_DIR)
    plan = explain_str(df)
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, plan


def test_multidistinct_uses_expand(spark):
    # multiple DISTINCT clauses rewrite through a single Expand, not N scans
    df = QUERIES["q_agg_multidistinct"](spark, SF_DIR)
    plan = explain_str(df)
    assert "Expand" in plan, plan
    assert plan.count("Location: InMemoryFileIndex") == 1, plan


def test_range_join_is_binned_equi_join(spark):
    # the 5-minute interval self-join must plan as a hash/merge EQUI-join
    # on (user, bucket) with the interval predicate as residual — never a
    # nested-loop theta-join (the O(per-user-n²) shape at scale)
    df = QUERIES["q_join_range"](spark, SF_DIR)
    plan = explain_str(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan or (
        "ShuffledHashJoin" in plan
    ), plan


def test_neardup_broadcast_is_candidate_bounded(spark):
    # the token-array side broadcast to the pair stream must be restricted
    # to LSH candidate doc ids (a LeftSemi against the candidate set)
    # BEFORE the broadcast — never the whole documents table
    from mapreduce_machine_learning_spark.operators.llm import (
        _neardup_pairs_plan,
    )

    df = _neardup_pairs_plan(spark, SF_DIR)
    # assert on the OPTIMIZED LOGICAL plan (properly nested tree, unlike
    # the formatted physical detail listing): each token-array projection
    # (identifiable by its xxhash64 transform) must have the LeftSemi
    # candidate restriction as a descendant within a few tree lines
    lines = df._jdf.queryExecution().optimizedPlan().toString().splitlines()
    hash_sites = [i for i, ln in enumerate(lines) if "xxhash64" in ln]
    assert hash_sites, "\n".join(lines)
    for i in hash_sites:
        # the semi join sits directly under the token-array projection;
        # xxhash64 also reappears in filters pushed BELOW the join, so
        # accept the restriction within a window either side of the site
        window = "\n".join(lines[max(0, i - 8) : i + 8])
        assert "LeftSemi" in window, window


def test_verify_join_strategy_is_conditional(spark):
    """VERDICT r6: the near-dup verify stage's token-array broadcast must
    be GATED, not unconditional — an explicit F.broadcast() hint has a
    hard ~8 GB / 512M-row ceiling AQE cannot rescue, and on a degenerate
    corpus (candidates ~ all docs) the frame can outgrow it. Under the
    byte-estimate cap the hint forces BroadcastHashJoin even with
    autoBroadcastJoinThreshold disabled (proving the HINT, not stats,
    drives the fast regime); over the cap the SAME join runs hint-free as
    a SortMergeJoin. Both regimes must return identical values."""
    from mapreduce_machine_learning_spark.operators.llm import (
        _verified_jaccard,
        _verify_arrays_fit_broadcast,
    )

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c d"), (3, "x y z"), (4, "a b c e")],
        "doc_id bigint, text string",
    )
    cand = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4)], "doc_a bigint, doc_b bigint"
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        fast = _verified_jaccard(docs, cand, "doc_a", "doc_b")
        plan = explain_str(fast)
        assert "BroadcastHashJoin" in plan, plan

        slow = _verified_jaccard(
            docs, cand, "doc_a", "doc_b", broadcast_cap_b=0
        )
        plan = explain_str(slow)
        assert "BroadcastHashJoin" not in plan, plan
        assert "SortMergeJoin" in plan, plan

        key = lambda r: (r[0], r[1])  # noqa: E731
        got_fast = sorted(fast.collect(), key=key)
        got_slow = sorted(slow.collect(), key=key)
        assert [tuple(r) for r in got_fast] == [tuple(r) for r in got_slow]
        assert [(r.doc_a, r.doc_b) for r in got_fast] == [(1, 2), (2, 4)]

        # ADVICE r8 adjudication pin: the size estimator prices BOTH
        # broadcast copies (×2), which is only honest if both genuinely
        # ship — and they do: the differently-aliased ta/tb projections of
        # the same persisted frame do NOT collapse into one reused
        # exchange in the final adaptive plan (post-execution). If this
        # ever fails (a future Spark reuses the exchange), the ×2 becomes
        # an upper bound on shipped bytes — update the
        # _verify_arrays_fit_broadcast docstring, don't just flip counts.
        final = fast._jdf.queryExecution().executedPlan().toString()
        assert final.count("ReusedExchange") == 0, final
        assert final.count("BroadcastExchange") >= 2, final
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    # and the estimator itself: tiny frame fits, cap 0 never does
    from pyspark.sql import functions as F

    toks = docs.select(
        "doc_id",
        F.array_distinct(F.split("text", " ")).alias("toks"),
    ).withColumn("n_tok", F.size("toks").cast("double"))
    fits, est = _verify_arrays_fit_broadcast(toks)
    assert fits and 0 < est < 10_000
    fits0, _ = _verify_arrays_fit_broadcast(toks, cap_b=0)
    assert not fits0


def test_audit_mode_plan_build_runs_no_jobs(spark):
    """The plan-audit contract: building a query's DataFrame under
    ``runtime.plan_audit_mode`` must not execute ANY Spark job — the
    scale-audit and plan-shape sweeps walk all 347 plans and would
    silently become data jobs otherwise. The near-dup verify stage's
    size probe (.first() in _verify_arrays_fit_broadcast) is exactly
    such a trap: it must be skipped (default regime assumed) in audit
    mode. Counts SQL executions before/after a plan-only build."""
    from mapreduce_machine_learning_spark import runtime
    from mapreduce_machine_learning_spark.registry import all_queries

    def n_execs():
        # the LAST execution id, not the list size: the status store
        # retains at most spark.sql.ui.retainedExecutions (1000) entries,
        # so size() saturates in a long test session while ids stay
        # monotonic. Drain the bus first — executions register async.
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30000)
        execs = (
            spark._jsparkSession.sharedState().statusStore().executionsList()
        )
        return (
            execs.apply(execs.size() - 1).executionId()
            if execs.size()
            else -1
        )

    runtime.plan_audit_mode(True)
    try:
        for name in (
            "q_llm_neardup_pairs",
            "q_llm_dedup_incremental",
            # the kNN probes fetch their metadata at plan build; audit
            # mode must swap in placeholders instead
            "q_llm_ann_knn",
            "q_llm_ann_ivf_knn",
        ):
            before = n_execs()
            df = all_queries()[name](spark, SF_DIR)  # the probe ran HERE
            _ = df._jdf.queryExecution().executedPlan()  # force planning
            assert n_execs() == before, f"{name} planned with a job"

        # but an EXPLICIT cap override must still probe even in audit
        # mode — the shuffle/memory audit tools execute anyway and use
        # the env knob to measure the non-default join regimes
        os.environ["SPARK_GRAFT_VERIFY_BCAST_CAP_B"] = "1"
        # the over-cap claim is that the verify stage WITHHOLDS its
        # broadcast hint, not that Catalyst never broadcasts: with the
        # r13 band-derived candidate-id bound the array side's size
        # ESTIMATE at sf0.001 falls under autoBroadcastJoinThreshold and
        # stats alone pick a broadcast join. Disable the stats threshold
        # (same discipline as test_verify_join_strategy_is_conditional)
        # so the plan shows the hint-free regime's strategy — and drop
        # the session-memoized pipeline frames first: a persisted
        # neardup_pairs result from an earlier test plan-matches this
        # build (broadcast hints are canonicalized away in sameResult)
        # and CacheManager would swap the whole tree for an
        # InMemoryTableScan, hiding the join strategy under audit.
        runtime.release_all()
        old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            before = n_execs()
            df = all_queries()["q_llm_neardup_pairs"](spark, SF_DIR)
            assert n_execs() > before, "explicit cap skipped the probe"
            plan = explain_str(df)
            assert "SortMergeJoin" in plan, plan  # over-cap regime held
        finally:
            del os.environ["SPARK_GRAFT_VERIFY_BCAST_CAP_B"]
            spark.conf.set(
                "spark.sql.autoBroadcastJoinThreshold", old_thresh
            )
    finally:
        runtime.plan_audit_mode(False)


def test_broadcast_hints_sit_on_structurally_small_sides(spark):
    """Round-7 broadcast-side audit: a hint belongs only on a side that is
    small BY CONSTRUCTION at any corpus size. Pins the three corrected
    sites: q_llm_dup_sources must hint the <=1000-row pair-derived side
    (never the corpus-sized doc->source map), q_llm_tfidf must hint the
    10-doc tf slice (never the vocabulary df table), and
    q_llm_ngram_jaccard must carry NO hint at all on its corpus-sized
    per-doc size tables (Catalyst stats pick broadcast at contract scale;
    fleet scale degrades to a shuffle join instead of a ceiling)."""
    for name in ("q_llm_dup_sources", "q_llm_tfidf"):
        lg = (
            QUERIES[name](spark, SF_DIR)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        # as written, the broadcast-hinted frame is the join's RIGHT side
        assert "rightHint=(strategy=broadcast" in lg, (name, lg)
        assert "leftHint=(strategy=broadcast" not in lg, (name, lg)
    lg = (
        QUERIES["q_llm_ngram_jaccard"](spark, SF_DIR)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "strategy=broadcast" not in lg, lg


def test_minhash_bands_single_python_map(spark):
    # the band table is one Arrow map over the document scan: no explode
    # (Generate), no string MIN aggregate (SortAggregate), and the band
    # groupBy's exchange is the only one — no repartition ahead of the
    # kernel
    from mapreduce_machine_learning_spark import runtime

    runtime.plan_audit_mode(True)
    try:
        plan = explain_str(QUERIES["q_llm_minhash"](spark, SF_DIR))
    finally:
        runtime.plan_audit_mode(False)
    nodes = [
        ln.lstrip(" +-:").split(" (")[0]
        for ln in plan.split("\n\n")[0].splitlines()[1:]
    ]
    assert nodes.count("MapInPandas") == 1, plan
    assert nodes.count("Exchange") == 1, plan
    assert "SortAggregate" not in nodes and "Generate" not in nodes, plan
