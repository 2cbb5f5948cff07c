#!/usr/bin/env python3
"""The repository's benchmark.

    python3 perfbench/run.py --workload llm_chain --seed 1 --seconds 15 --trace 0

Runs one workload (see ``perfbench/workloads.py``) in a closed loop on
``local[nproc]`` over the sf0.1 testdata in ``perfbench/data``: reference
results first (in a child process, before any JVM), then set-up (session
start, registry import, one untimed warm pass), then timed passes until
``--seconds`` have elapsed. Every result is checked. The last stdout line is
one JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it records the run conditions.
``perfbench/README.md`` names every metric and what it should move.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import subprocess
import sys
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.oracle import fit_matches, flatten_fit  # noqa: E402
from perfbench.status import StatusStores  # noqa: E402
from perfbench.trace import Tally, Tracer, median, op_order, self_times, union_length  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    CLEAR_CACHE_AFTER_PASS,
    LOGREG_GD_LR,
    RELEASE_AFTER_OP,
    WORKLOADS,
    initial_params,
)

DATA = os.path.join(HERE, "data")
WORK = os.path.join(ROOT, ".perfbench")
GROUP_PREFIX = "perfbench:"
MIN_PASSES = 3
MB = float(1 << 20)

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "retained_mb": "MB",
}

OPERATOR_MODULES = ("llm", "ml", "ann")
SELF_LAYERS = (
    "bench",
    "operators",
    "registry",
    "catalyst",
    "driver",
    "spark_job",
    "executor",
    "runtime",
    "ml_iterative",
    "oracle",
)
PER_LAYER = {
    "setup.session_s": "s",
    "setup.registry_s": "s",
    "setup.warm_pass_s": "s",
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "catalyst.plan_s": "s",
    "driver.idle_s": "s",
    "spark.jobs": "count",
    "executor.task_cpu_s": "s",
    "executor.task_run_s": "s",
    "executor.gc_s": "s",
    "executor.stages": "count",
    "executor.tasks": "count",
    "exchange.shuffle_write_bytes": "bytes",
    "exchange.shuffle_read_bytes": "bytes",
    "exchange.spill_bytes": "bytes",
    "python_worker.bytes_sent": "bytes",
    "python_worker.bytes_returned": "bytes",
    "python_worker.rows": "count",
    "io.input_bytes": "bytes",
    "io.input_records": "count",
    "jvm.jit_ms": "ms",
    "jvm.setup_jit_ms": "ms",
    "runtime.memo_entries": "count",
    "runtime.persisted_mb": "MB",
    "runtime.release_s": "s",
    "ml_iterative.fit_s": "s",
    "oracle.check_s": "s",
    "error_rate": "ratio",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
    "trace.spans": "count",
    **{f"operators.{m}.wall_s": "s" for m in OPERATOR_MODULES},
    **{f"self.{layer}_s": "s" for layer in SELF_LAYERS},
    **{
        f"op.{op}.{metric}": "s"
        for w in WORKLOADS.values()
        for op in w.ops
        for metric in ("wall_s", "task_cpu_s")
    },
}


@dataclass
class OpRecord:
    name: str
    start: float
    end: float = 0.0
    build_s: float = 0.0
    plan_s: float = 0.0
    is_fit: bool = False
    module: str = ""
    groups: list = field(default_factory=list)
    build_groups: list = field(default_factory=list)
    spans: dict = field(default_factory=dict)  # job group -> index of its call's span

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class PassRecord:
    tag: str
    tracer: Tracer
    ops: list = field(default_factory=list)
    release_s: float = 0.0
    cleanup_windows: list = field(default_factory=list)
    retained_bytes: int = 0
    persisted_bytes: int = 0
    memo_entries: int = 0
    jit_ms: int = 0
    check_s: float = 0.0

    @property
    def wall(self) -> float:
        return sum(op.wall for op in self.ops) + sum(e - s for s, e in self.cleanup_windows)


def spark_conf(cpus: int) -> dict:
    return {
        "spark.master": f"local[{cpus}]",
        "spark.app.name": "perfbench",
        "spark.sql.shuffle.partitions": str(max(8, cpus)),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.memory": "3g",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # the counters are read after the timed window: keep every job
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        # everything Spark writes stays inside the checkout (shuffle and
        # spill files go to SPARK_LOCAL_DIRS, set in main); no hsperfdata
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Xms3g -XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"
        ),
    }


class Bench:
    """One workload on one SparkSession."""

    def __init__(self, workload, seed: int, refs: dict, tally: Tally):
        self.workload = workload
        self.seed = seed
        self.refs = refs
        self.tally = tally
        self.passes: list[PassRecord] = []

    # ------------------------------------------------------------- set-up
    def setup(self, cpus: int) -> dict:
        t0 = time.time()
        from pyspark.sql import SparkSession

        builder = SparkSession.builder
        for k, v in spark_conf(cpus).items():
            builder = builder.config(k, v)
        self.spark = builder.getOrCreate()
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        t1 = time.time()
        from mapreduce_machine_learning_spark import ml_iterative, runtime
        from mapreduce_machine_learning_spark.io import load_table
        from mapreduce_machine_learning_spark.registry import all_queries
        from tests.parity import result_hash

        self.queries = all_queries()
        self.result_hash = result_hash
        self.runtime, self.mli, self.load_table = runtime, ml_iterative, load_table
        t2 = time.time()
        self.stores = StatusStores(self.spark)
        warm = self.run_pass("warm", 0, traced=False)
        return {
            "setup_s": (t2 - t0) + warm.wall,
            "setup.session_s": t1 - t0,
            "setup.registry_s": t2 - t1,
            "setup.warm_pass_s": warm.wall,
            "jvm.setup_jit_ms": self.stores.jit_ms(),
        }

    # ------------------------------------------------------------- passes
    def run_pass(self, tag: str, index: int, traced: bool) -> PassRecord:
        rec = PassRecord(tag, Tracer(enabled=traced))
        root = rec.tracer.open(f"pass.{tag}", "bench")
        jit0 = self.stores.jit_ms()
        for name in op_order(self.workload.ops, self.seed, index):
            fit = next((f for f in self.workload.fits if f.name == name), None)
            op = self._run_fit(rec, tag, fit) if fit else self._run_query(rec, tag, name)
            if op is not None:
                rec.ops.append(op)
            if self.workload.cleanup == RELEASE_AFTER_OP:
                self._cleanup(rec)
        if self.workload.cleanup != RELEASE_AFTER_OP:
            self._cleanup(rec)
        rec.jit_ms = self.stores.jit_ms() - jit0
        rec.tracer.close(root)
        self.passes.append(rec)
        return rec

    def _group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def _run_query(self, rec: PassRecord, tag: str, name: str) -> OpRecord | None:
        tr = rec.tracer
        fn = self.queries[name]
        module = fn.__module__.rsplit(".", 1)[-1]
        build_g = f"{GROUP_PREFIX}{tag}:{name}:build"
        exec_g = f"{GROUP_PREFIX}{tag}:{name}:exec"
        op = OpRecord(name, time.time(), module=module, groups=[build_g, exec_g], build_groups=[build_g])
        op_span = tr.open(f"op.{name}", f"operators.{module}")
        try:
            self._group(build_g)
            span = tr.open("registry.build", "registry")
            df = fn(self.spark, DATA)
            tr.close(span)
            op.spans[build_g] = span
            t_build = time.time()
            self._group(exec_g)
            span = tr.open("catalyst.plan", "catalyst")
            df._jdf.queryExecution().executedPlan()
            tr.close(span)
            t_plan = time.time()
            span = tr.open("execute.collect", "driver")
            rows = [tuple(r) for r in df.collect()]
            tr.close(span)
            op.spans[exec_g] = span
            op.end = time.time()
            op.build_s, op.plan_s = t_build - op.start, t_plan - t_build
            columns = df.columns
        except Exception as exc:  # one failed operation must not end the run
            self.tally.record(name, False, repr(exc))
            return None
        finally:
            self._group(f"{GROUP_PREFIX}idle")
            tr.close(op_span)
        t = time.time()
        span = tr.open("oracle.check", "oracle")
        rows_n, digest = self.result_hash(columns, rows)
        ref = self.refs[name]
        ok = rows_n == ref["rows"] and digest == ref["hash"]
        self.tally.record(name, ok, f"{rows_n} rows, digest {digest[:12]} vs {ref['rows']}, {ref['hash'][:12]}")
        tr.close(span)
        rec.check_s += time.time() - t
        return op

    def _run_fit(self, rec: PassRecord, tag: str, fit) -> OpRecord | None:
        tr = rec.tracer
        group = f"{GROUP_PREFIX}{tag}:{fit.name}:fit"
        op = OpRecord(fit.name, time.time(), is_fit=True, groups=[group])
        self._group(group)
        span = tr.open(f"ml_iterative.{fit.name}", "ml_iterative")
        try:
            df = self.load_table(self.spark, DATA, fit.table).selectExpr(*fit.columns)
            result = self._call_fit(fit, df)
            op.end = time.time()
        except Exception as exc:  # one failed operation must not end the run
            self.tally.record(fit.name, False, repr(exc))
            return None
        finally:
            self._group(f"{GROUP_PREFIX}idle")
            tr.close(span)
        op.spans[group] = span
        t = time.time()
        span = tr.open("oracle.check", "oracle")
        got = flatten_fit(fit.name, result)
        ok = fit_matches(got, self.refs[fit.name])
        self.tally.record(fit.name, ok, f"{got} vs {self.refs[fit.name]}")
        tr.close(span)
        rec.check_s += time.time() - t
        return op

    def _call_fit(self, fit, df):
        mli, cols = self.mli, df.columns
        init = initial_params(fit, self.seed)
        if fit.name == "linreg_normal":
            return mli.linreg_normal(df, cols[:-1], cols[-1])
        if fit.name == "logreg_gd":
            return mli.logreg_gd(df, cols[:-1], cols[-1], lr=LOGREG_GD_LR, iters=fit.iters)
        if fit.name == "logreg_irls":
            return mli.logreg_irls(df, cols[:-1], cols[-1], iters=fit.iters)
        if fit.name == "kmeans_fit":
            return mli.kmeans_fit(df, cols, [tuple(c) for c in init["centroids"]], iters=fit.iters)
        if fit.name == "gmm_em_1d":
            g = mli.Gmm1D(tuple(init["pi"]), tuple(init["mu"]), tuple(init["sigma"]))
            return mli.gmm_em_1d(df, cols[0], g, iters=fit.iters)
        if fit.name == "gaussian_nb_fit":
            return mli.gaussian_nb_fit(df, cols[0], cols[1])
        raise ValueError(f"unknown fit {fit.name!r}")

    def _cleanup(self, rec: PassRecord) -> None:
        """Read what the pass still holds, then free it. The reads come
        first so that cleanup cannot hide what the operations left behind."""
        held = self.stores.retained_bytes()
        rec.retained_bytes += held
        rec.memo_entries += self.runtime.memo_count()
        start = time.time()
        if self.workload.cleanup == CLEAR_CACHE_AFTER_PASS:
            span = rec.tracer.open("spark.clear_cache", "driver")
            self.spark.catalog.clearCache()
        else:
            rec.persisted_bytes += held
            span = rec.tracer.open("runtime.release_all", "runtime")
            self.runtime.release_all()
        rec.tracer.close(span)
        end = time.time()
        rec.cleanup_windows.append((start, end))
        if self.workload.cleanup != CLEAR_CACHE_AFTER_PASS:
            rec.release_s += end - start

    # ------------------------------------------------------------ metrics
    def pass_metrics(self, rec: PassRecord, snap) -> dict:
        groups = [g for op in rec.ops for g in op.groups]
        c = snap.group_counters(groups)
        build = snap.group_counters([g for op in rec.ops for g in op.build_groups])
        idle = sum(op.wall - union_length(snap.intervals(op.groups), op.start, op.end) for op in rec.ops)
        idle += sum(e - s for s, e in rec.cleanup_windows)
        m = {
            "wall_s": rec.wall,
            "retained_mb": rec.retained_bytes / MB,
            "registry.build_s": sum(op.build_s for op in rec.ops),
            "registry.build_jobs": build["jobs"],
            "catalyst.plan_s": sum(op.plan_s for op in rec.ops),
            "driver.idle_s": idle,
            "spark.jobs": c["jobs"],
            "executor.task_cpu_s": c["task_cpu_s"],
            "executor.task_run_s": c["task_run_s"],
            "executor.gc_s": c["gc_s"],
            "executor.stages": c["stages"],
            "executor.tasks": c["tasks"],
            "exchange.shuffle_write_bytes": c["shuffle_write_bytes"],
            "exchange.shuffle_read_bytes": c["shuffle_read_bytes"],
            "exchange.spill_bytes": c["spill_bytes"],
            "python_worker.bytes_sent": c["py_bytes_sent"],
            "python_worker.bytes_returned": c["py_bytes_returned"],
            "python_worker.rows": c["py_rows"],
            "io.input_bytes": c["input_bytes"],
            "io.input_records": c["input_records"],
            "jvm.jit_ms": rec.jit_ms,
            "runtime.memo_entries": rec.memo_entries,
            "runtime.persisted_mb": rec.persisted_bytes / MB,
            "runtime.release_s": rec.release_s,
            "ml_iterative.fit_s": sum(op.wall for op in rec.ops if op.is_fit),
            "oracle.check_s": rec.check_s,
        }
        for op in rec.ops:
            m[f"op.{op.name}.wall_s"] = op.wall
            m[f"op.{op.name}.task_cpu_s"] = snap.group_counters(op.groups)["task_cpu_s"]
            if op.module:
                key = f"operators.{op.module}.wall_s"
                m[key] = m.get(key, 0.0) + op.wall
        return m

    def attach_spark_spans(self, rec: PassRecord, snap) -> None:
        """Each job of a call's group becomes a child span of that call,
        each stage a child of its job, with the store's own times."""
        tr = rec.tracer
        for op in rec.ops:
            for group, parent in op.spans.items():
                if parent is None:
                    continue
                for job in snap.jobs.get(group, []):
                    j = tr.add(f"job.{job.job_id}", "spark_job", job.start, job.end, parent)
                    for sid, s_start, s_end in job.stages:
                        tr.add(f"stage.{sid}", "executor", s_start, s_end, j)


def self_time_metrics(tracer: Tracer) -> dict:
    by_layer = self_times(tracer.spans)
    out = {f"self.{layer}_s": 0.0 for layer in SELF_LAYERS}
    for layer, secs in by_layer.items():
        key = "operators" if layer.startswith("operators.") else layer
        out[f"self.{key}_s"] += secs
    return out


def reference_results(workload: str, seed: int) -> dict:
    """Oracle references from a child process; the JVM is not started yet."""
    proc = subprocess.run(
        [sys.executable, "-m", "perfbench.oracle", "--workload", workload,
         "--seed", str(seed), "--data", DATA, "--cache", os.path.join(WORK, "oracle")],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=600,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"oracle child failed ({proc.returncode}):\n{proc.stderr[-4000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def conditions(seed: int, workload: str, oracle: dict, spark) -> dict:
    """What the numbers depend on besides the code: recorded with every run.
    The commit is null when the checkout is not itself a git repository."""
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    return {
        "workload": workload,
        "seed": seed,
        "git_commit": commit,
        "nproc": _cpus(),
        "python": platform.python_version(),
        "jdk": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "spark": spark.version,
        "duckdb": oracle["duckdb_version"],
        "testdata_fingerprint": oracle["fingerprint"],
    }


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Closed-loop benchmark of the PySpark engine.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "mapreduce_machine_learning_spark")):
        print(f"engine package not found next to {HERE}", file=sys.stderr)
        return 2
    if not os.path.isdir(DATA):
        print(f"testdata not found at {DATA}", file=sys.stderr)
        return 2
    for sub in ("tmp", "spark-local", "oracle", "trace"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    # temporary files of PySpark, its workers and Spark stay in the checkout
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")

    load_before = os.getloadavg()
    oracle = reference_results(args.workload, args.seed)
    workload = WORKLOADS[args.workload]
    tally = Tally()
    bench = Bench(workload, args.seed, oracle["refs"], tally)
    try:
        setup = bench.setup(_cpus())
        start = time.time()
        index = 0
        # at least MIN_PASSES, so that a host slow enough to fit fewer
        # passes in --seconds still reports the same statistic: the middle
        # of three passes, not the mean of a warming pass and one more
        while index < MIN_PASSES or time.time() - start < args.seconds:
            index += 1
            bench.run_pass(f"p{index}", index, traced=bool(args.trace))
        bench.stores.drain()
        snap = bench.stores.snapshot(GROUP_PREFIX)
        timed = bench.passes[1:]
        per_pass = [bench.pass_metrics(p, snap) for p in timed]
        metrics = {k: median(m.get(k, 0.0) for m in per_pass) for k in set().union(*per_pass)}
        metrics.update(setup)
        if args.trace:
            # spans are recorded in the timed window; Spark's job and stage
            # spans are attached, and self times computed, after it
            for p in timed:
                bench.attach_spark_spans(p, snap)
            selfs = [self_time_metrics(p.tracer) for p in timed]
            metrics.update({k: median(s[k] for s in selfs) for k in selfs[0]})
            metrics["trace.wall_s"] = metrics["wall_s"]
            metrics["trace.overhead_s"] = median(p.tracer.cost_s for p in timed)
            metrics["trace.spans"] = median(len(p.tracer.spans) for p in timed)
            _write_trace(args.workload, args.seed, timed)
        metrics["error_rate"] = tally.error_rate
        cond = conditions(args.seed, args.workload, oracle, bench.spark)
    finally:
        if getattr(bench, "spark", None) is not None:
            _stop(bench.spark)
    cond.update(
        passes=len(timed),
        pass_wall_s=[round(p.wall, 4) for p in timed],
        pass_jit_ms=[p.jit_ms for p in timed],
        pass_cpu_s=[round(m["executor.task_cpu_s"], 4) for m in per_pass],
        seconds=args.seconds,
        trace=args.trace,
        loadavg_before=load_before,
        loadavg_after=os.getloadavg(),
        errors=tally.errors[:10],
    )
    wanted = PER_LAYER if args.trace else END_TO_END
    result = {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in wanted.items()},
    }
    with open(os.path.join(WORK, "runs.jsonl"), "a") as fh:
        fh.write(json.dumps({"conditions": cond, "result": result}) + "\n")
    print(json.dumps({"conditions": cond}))
    print(json.dumps(result))
    return 0


def _stop(spark) -> None:
    """Stop the session, then the JVM that PySpark launched, and wait for
    it: closing its stdin is the gateway's signal to exit."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def _write_trace(workload: str, seed: int, passes) -> None:
    path = os.path.join(WORK, "trace", f"{workload}-seed{seed}.json")
    with open(path, "w") as fh:
        json.dump(
            {p.tag: [vars(s) for s in p.tracer.spans] for p in passes},
            fh,
        )


if __name__ == "__main__":
    sys.exit(main())
