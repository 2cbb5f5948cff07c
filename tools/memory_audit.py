"""Measured PEAK TASK MEMORY and SPILL per query across data scales.

The shuffle audit (tools/shuffle_audit.py) measures what a plan MOVES;
this tool measures what a plan HOLDS. The 100 TB claim that every
operator "fits in executor memory at the target scale" (ARCHITECTURE.md,
the `_BLOCK_CAP` chunking, the partial-aggregation design) was argued
from plan shape and design constants but never read off the metrics
store. This reads it: for each query × scale factor, walk the executed
plan's SQLMetrics and record

  * ``peak_task_memory_bytes`` — the MAX per-task "peak memory" over all
    operators (hash aggregates, sorts, window buffers): the number that
    decides whether one task OOMs an executor. For the 100 TB argument
    this must stay roughly CONSTANT as input grows — work scales out
    into more tasks, not into bigger tasks;
  * ``spill_bytes`` — total "spill size" across operators: nonzero means
    a task exceeded its memory fraction and went to disk. At test scale
    this should be exactly 0.

Multi-task metric strings render as ``total (min, med, max (stage:
task))`` followed by the values line; for PEAK semantics the MAX entry
carries the number (summing per-task peaks would fabricate a bigger
task), while SPILL is genuinely additive so its TOTAL carries.

Runs under `runtime.plan_audit_mode`, like tools/shuffle_audit.py: no
session memo, and the two kNN queries probe with unit-vector placeholder
metadata, so their rows hold the real one-pass plan over the real corpus
with a different candidate set than the real query keeps.

Usage: python tools/memory_audit.py [--out MEMORY_audit.json]
         [--dirs D1,D2,...] [--queries q1,q2,...] [--conf k=v]...
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

from tools.shuffle_audit import (  # noqa: E402
    QUERIES,
    SF_DIRS,
    _UNITS,
    last_execution_id,
    parse_size,
    walk_execution_metrics,
)

_SIZE_RE = re.compile(r"([\d.]+)\s*(B|KiB|MiB|GiB|TiB)\b")


def parse_max_size(s: str) -> int | None:
    """The MAX entry of a SQLMetric size string: for a single-task metric
    that is the value itself; for the two-line multi-task format it is the
    LAST size in the values line ('total (min, med, max (stage: task))').
    Returns bytes, or None for non-size strings."""
    best_line: list | None = None
    for line in s.strip().splitlines():
        sizes = _SIZE_RE.findall(line.strip())
        if sizes and _SIZE_RE.match(line.strip()):
            best_line = sizes
    if not best_line:
        return None
    # single value -> itself; 'total (min, med, max)' -> the 4th (max)
    num, unit = best_line[-1]
    return int(float(num) * _UNITS[unit])


def execution_memory(spark, eid: int) -> dict:
    """Max per-task peak memory and total spill over one SQL execution's
    physical graph (walker — bus drain + accumulator dedup — shared with
    the shuffle audit via walk_execution_metrics)."""
    peak = spill = 0
    peak_node = ""
    for node_name, mname, raw in walk_execution_metrics(spark, eid):
        if mname == "peak memory":
            v = parse_max_size(raw)
            if v is not None and v > peak:
                peak, peak_node = v, node_name
        elif "spill size" in mname:
            v = parse_size(raw)
            if v:
                spill += v
    return {
        "peak_task_memory_bytes": peak,
        "peak_node": peak_node,
        "spill_bytes": spill,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="MEMORY_audit.json")
    ap.add_argument("--dirs", default=",".join(SF_DIRS))
    ap.add_argument("--queries", default=",".join(QUERIES))
    ap.add_argument("--conf", action="append", default=[])
    # --master local-cluster[2,8,4096]: per-executor peaks under two real
    # JVMs (VERDICT r7 #8) — local[*] budgets share one heap and could in
    # principle flatter a plan whose tasks pack differently per executor
    ap.add_argument("--master", default="local[8]")
    args = ap.parse_args()
    sf_dirs = [d for d in args.dirs.split(",") if d]
    queries = [q for q in args.queries.split(",") if q]

    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.master(args.master)
        .appName("mrml-memory-audit")
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
                    **execution_memory(spark, last_execution_id(spark)),
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
