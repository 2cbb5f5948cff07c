"""Measured shuffle VOLUME per query across data scales.

ARCHITECTURE.md's shuffle-economics rules ("aggregations shuffle
statistics, not data"; "dimension joins broadcast, fact joins shuffle
facts") are plan-shape-gated by tests/test_plans.py, but the VOLUME claim
behind them was argued, not measured. This tool measures it: run a query
at sf0.001 / sf0.01 / sf0.1 (100× input growth), read every Exchange's
"shuffle bytes written" and every BroadcastExchange's "data size" from
the SQLAppStatusStore after the collect, and report how the moved bytes
scale with the input.

What the numbers should show (and SCALING.md records):
  * keyed aggregations (q_agg_group, q_agg_global, q_stream_tumble) move
    a near-CONSTANT number of bytes at any input size — the partial
    aggregate emits one row per (partition, group), so the exchange
    carries statistics;
  * joins/windows/dedup (q_join_multi, q_win_rank, q_llm_dedup_exact)
    move bytes LINEAR in their fact input — the fact rows themselves (or
    their md5 keys) are the shuffle payload — while dimension sides stay
    broadcast;
  * nothing moves super-linear bytes anywhere.

One shared session (metrics are per-execution, so cross-query state
cannot mix them); `runtime.plan_audit_mode` disables the session memo so
each execution's plan carries its full pipeline. The same mode makes the
two kNN queries (q_llm_ann_knn, q_llm_ann_ivf_knn) skip their plan-build
metadata fetch and probe with unit-vector placeholders for the query and
the centroids: their rows measure the real one-pass plan over the real
corpus, but with a different candidate set than the real query keeps.

Usage: python tools/shuffle_audit.py [--out SHUFFLE_audit.json]
         [--dirs D1,D2,...] [--queries q1,q2,...]
(--dirs/--queries override the defaults — e.g. the sort-merge-regime
check over the scaling corpora:
 --dirs .scaling/x1,.scaling/x16,.scaling/x64 --queries q_join_multi)
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.chdir(REPO)

QUERIES = [
    "q_agg_global",
    "q_agg_group",
    "q_stream_tumble",
    "q_win_rank",
    "q_join_multi",
    "q_llm_dedup_exact",
    "q_llm_minhash",
    # round 7 (VERDICT r6 #4): the remaining LLM flagships
    "q_llm_dedup_incremental",
    "q_llm_ann_knn",
    "q_llm_ann_ivf_knn",
]

SF_DIRS = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
]

_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}


def parse_size(s: str) -> int | None:
    """SQLMetric size strings. Single-task metrics render as '1312.0 B' /
    '2.1 MiB'; multi-task ones render as TWO lines — a 'total (min, med,
    max (stageId: taskId))' header, then '212.0 B (58.0 B, 58.0 B, …)'
    with the TOTAL leading. Take the first line that starts with a size.
    Returns bytes, or None for non-size strings (timing metrics etc.)."""
    for line in s.strip().splitlines():
        m = re.match(r"([\d.]+)\s*(B|KiB|MiB|GiB|TiB)\b", line.strip())
        if m:
            return int(float(m.group(1)) * _UNITS[m.group(2)])
    return None


def walk_execution_metrics(spark, eid: int):
    """Yield ``(node_name, metric_name, raw_value)`` for every populated
    SQLMetric of one execution's physical graph, deduped by accumulatorId
    (ReusedExchange nodes share IDs with the original Exchange — counting
    each accumulator once keeps exchange-reuse plans from double-counting,
    ADVICE r6). Dedup happens AFTER the full graph walk, preferring the
    non-ReusedExchange owner of a shared accumulator (ADVICE r7): graph
    iteration order is not guaranteed, and a yield-time dedup that visits
    the ReusedExchange node first would attribute the shared 'data size'
    accumulator to "ReusedExchange", which the broadcast classifier in
    execution_volumes would then drop. Drains the listener bus first: SQL
    metrics aggregate
    asynchronously after the collect returns, and reading too early
    returns an empty metric map (observed as a spurious 0-bytes row on a
    busy session). Shared scaffolding for the shuffle AND memory audits —
    one walker, so a metrics-plumbing fix lands in both."""
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30000)
    except Exception:
        try:  # Spark versions where waitUntilEmpty takes no timeout
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:
            import time

            time.sleep(1.0)
    ss = spark._jsparkSession.sharedState().statusStore()
    vals = ss.executionMetrics(eid)
    g = ss.planGraph(eid)
    owner: dict[int, tuple[str, str]] = {}  # acc -> (node_name, metric_name)
    it = g.allNodes().iterator()
    while it.hasNext():
        node = it.next()
        name = node.name()
        mit = node.metrics().iterator()
        while mit.hasNext():
            metric = mit.next()
            acc = metric.accumulatorId()
            if not vals.contains(acc):
                continue
            cur = owner.get(acc)
            if cur is None or (
                cur[0].startswith("ReusedExchange")
                and not name.startswith("ReusedExchange")
            ):
                owner[acc] = (name, metric.name())
    for acc, (name, mname) in owner.items():
        yield name, mname, vals.apply(acc)


def execution_volumes(spark, eid: int) -> dict:
    """Sum shuffle bytes written / broadcast data size over the physical
    graph of one SQL execution (walker shared with the memory audit)."""
    shuffle = broadcast = 0
    n_ex = n_bx = 0
    for name, mname, raw in walk_execution_metrics(spark, eid):
        size = parse_size(raw)
        if size is None:
            continue
        if mname == "shuffle bytes written":
            shuffle += size
            n_ex += 1
        elif name == "BroadcastExchange" and mname == "data size":
            broadcast += size
            n_bx += 1
    return {
        "shuffle_bytes": shuffle,
        "broadcast_bytes": broadcast,
        "n_shuffle_writes": n_ex,
        "n_broadcasts": n_bx,
    }


def last_execution_id(spark) -> int:
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return execs.apply(execs.size() - 1).executionId()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="SHUFFLE_audit.json")
    ap.add_argument("--dirs", default=",".join(SF_DIRS))
    ap.add_argument("--queries", default=",".join(QUERIES))
    # session conf overrides, e.g. --conf spark.sql.autoBroadcastJoinThreshold=-1
    # (round 7: measuring the verify stage's SHUFFLE regime on a corpus whose
    # stats would otherwise let Catalyst pick broadcast even without the hint)
    ap.add_argument("--conf", action="append", default=[])
    # --master local-cluster[2,8,4096] measures the same budgets under two
    # REAL executor JVMs (VERDICT r7 #8): the SQLMetrics aggregate on the
    # driver's status store either way, but per-executor peaks and shuffle
    # write paths are genuinely remote-ish under local-cluster
    ap.add_argument("--master", default="local[8]")
    args = ap.parse_args()
    sf_dirs = [d for d in args.dirs.split(",") if d]
    queries = [q for q in args.queries.split(",") if q]

    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.master(args.master)
        .appName("mrml-shuffle-audit")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
    )
    for kv in args.conf:
        k, _, v = kv.partition("=")
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from mapreduce_machine_learning_spark import runtime
    from mapreduce_machine_learning_spark.io import load_table
    from mapreduce_machine_learning_spark.registry import all_queries

    qs = all_queries()
    results = []
    runtime.plan_audit_mode(True)
    try:
        for sf_dir in sf_dirs:
            counts = {}
            for t in ("lineitem", "documents", "events"):
                if os.path.exists(os.path.join(sf_dir, f"{t}.parquet")):
                    counts[f"{t}_rows"] = load_table(spark, sf_dir, t).count()
            for name in queries:
                qs[name](spark, sf_dir).collect()
                rec = {
                    "query": name,
                    "sf_dir": sf_dir,
                    **counts,
                    **execution_volumes(spark, last_execution_id(spark)),
                }
                results.append(rec)
                print(json.dumps(rec), flush=True)
    finally:
        runtime.plan_audit_mode(False)
    with open(args.out, "w") as f:
        json.dump(results, f, indent=1)
    print(f"wrote {args.out}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
