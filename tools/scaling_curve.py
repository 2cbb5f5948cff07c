"""Measured scaling curves for the two flagship pipelines (VERDICT r4 #2).

Runs the UNMODIFIED production operators on 1x/4x/16x/64x
realistic-vocabulary corpora (tools/gen_scaling_corpus.py) and records
wall time:

  * neardup  — q_llm_neardup_pairs cold: Arrow MinHash band kernel (16
    md5 seeds per distinct batch token, 4 band keys per doc) → band
    self-join → candidate pairs → prefix/length-filtered exact-Jaccard
    verify (the full pipeline, timed as one cold action);
  * ivf_build — _ivf_cells cold: broadcast 16-centroid spherical assignment
    over every vector (the index build);
  * ivf_probe — q_llm_ann_ivf_knn cold: fetch the 16 centroid rows, rank
    the query's 4 cells on the driver, keep their members in one Arrow
    kernel pass over the corpus scan, exact rerank (no cell index read);
    and again with the cell index already built, which the query then
    reads instead of the kernel pass.

Each (scale, pipeline-group) runs in its OWN fresh JVM subprocess:
measured A/B on this box, a single long session accumulates JIT /
code-cache / heap state that inflates later measurements 2-4x with 10x
one-off spikes (scale-16 neardup: 3.9-5.0 s tight in a fresh JVM vs
6.5-17.6 s erratic inside a four-scale session; scale-64 IVF build:
~11.9 s isolated vs ~22 s after the text pipelines ran in the same JVM) —
per-measurement isolation is what makes points comparable. Within a JVM,
each measurement is one warm run (JIT/codegen/IO) then four cold-timed
runs (runtime.release_all() first — the pipeline recomputes from
parquet); the MEDIAN carries the curve and all samples are recorded so
outliers stay visible. Alongside the times it records the EVIDENCE
counts: candidate pairs, verified pairs, prefix-filter survivors (is the
PPJoin filter actually pruning on a 20k vocabulary?), and
probed-candidate counts — so the slopes can be read against the work they
bound.

Writes one JSON object per (pipeline, scale) to stdout and a summary file.

Round 6 adds the relational flagship: `--parts join` times q_join_multi
(3-table join → agg → top-10) over s× the sf0.1 bench corpus
(tools/gen_scaling_corpus.gen_tpch) and records the final AQE join
operators so the broadcast→shuffled strategy flip is on the curve.

Usage: python tools/scaling_curve.py [--scales 1,4,16,64]
         [--parts text,ivf|join] [--out SCALING_runs.json]
Inner (one JVM, one scale, one pipeline group — invoked by the outer loop):
  python tools/scaling_curve.py --inner --scale 16 --part text|ivf|join
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.chdir(REPO)

DATA_ROOT = os.path.join(REPO, ".scaling")

PARTS = ("text", "ivf", "join")


def _dir_for(scale: int, part: str = "text") -> str:
    d = os.path.join(DATA_ROOT, f"x{scale}")
    if part == "join":
        # relational tables only — a join-curve run must not pay 64x
        # document generation it never reads
        if not all(
            os.path.exists(os.path.join(d, f"{t}.parquet"))
            for t in ("customer", "orders", "lineitem")
        ):
            from tools.gen_scaling_corpus import generate_tpch

            generate_tpch(scale, d)
        return d
    if not (
        os.path.exists(os.path.join(d, "documents.parquet"))
        and os.path.exists(os.path.join(d, "embeddings.parquet"))
    ):
        from tools.gen_scaling_corpus import generate

        generate(scale, d)
    return d


def _measure_text(spark, runtime, d: str, scale: int, cold) -> list[dict]:
    """Evidence counts + the neardup pipeline + the adversarial verify
    stage — these share the tokenized frames, so they live in one JVM."""
    from pyspark.sql import functions as F

    from mapreduce_machine_learning_spark.operators import llm

    results = []

    # ---- evidence counts (untimed) -------------------------------------
    runtime.release_all()
    n_cand = llm._cand_pairs(spark, d).count()
    # the operator's own prefilter expressions, counted before/after
    # (mirrors tests/test_prefix_filter_vocab.py against _cand_pairs)
    thr = 0.5
    docs = llm.T(spark, d, "documents")
    pref_len = (
        F.size("toks") - F.ceil(F.lit(thr) * F.size("toks") - F.lit(1e-9)) + 1
    ).cast("int")
    tok = (
        docs.select(
            "doc_id",
            F.array_sort(
                F.transform(
                    F.array_distinct(F.split("text", " ")),
                    lambda t: F.xxhash64(t),
                )
            ).alias("toks"),
        )
        .withColumn("n", F.size("toks").cast("double"))
        .withColumn("pref", F.slice("toks", F.lit(1), pref_len))
    )
    cand = llm._cand_pairs(spark, d)
    ta = tok.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n").alias("a_n"),
        F.col("pref").alias("a_pref"),
    )
    tb = tok.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n").alias("b_n"),
        F.col("pref").alias("b_pref"),
    )
    joined = cand.join(ta, "doc_a").join(tb, "doc_b")
    n_surv = (
        joined.filter(
            (1.0 + 1.0 / thr) * F.least("a_n", "b_n")
            >= F.col("a_n") + F.col("b_n")
        )
        .filter(F.arrays_overlap("a_pref", "b_pref"))
        .count()
    )
    n_verified = llm._neardup_pairs_plan(spark, d).count()

    # ---- timed: full neardup pipeline, cold -----------------------------
    t_med, t_samples, _ = cold(lambda: llm.q_llm_neardup_pairs(spark, d))
    results.append(
        {
            "pipeline": "neardup",
            "scale": scale,
            "cold_s": t_med,
            "samples_s": t_samples,
            "cand_pairs": n_cand,
            "prefilter_survivors": n_surv,
            "verified_pairs": n_verified,
        }
    )
    print(json.dumps(results[-1]), flush=True)

    # ---- timed: verify stage under an ADVERSARIAL candidate stream ------
    # On a realistic vocabulary LSH prunes so hard that candidates ≈
    # true pairs (see cand/verified above), so the PPJoin prefilters in
    # _verified_jaccard have nothing left to prune. Their regime is a
    # LOOSER blocking stage (higher-recall banding, n-gram blocking,
    # boilerplate-heavy corpora) where the candidate stream carries
    # far-below-threshold pairs. Emulate it: candidates = LSH pairs ∪
    # 20·scale·1000 deterministic random pairs, time the verify stage
    # alone, and count what the prefilters drop BEFORE the intersect.
    n_random = 20_000 * scale
    n_docs = docs.count()
    rand_pairs = (
        spark.range(n_random)
        .select(
            (F.xxhash64(F.col("id")) % n_docs).alias("ra"),
            (F.xxhash64(F.col("id") + 7_000_000) % n_docs).alias("rb"),
        )
        .select(F.abs("ra").alias("ra"), F.abs("rb").alias("rb"))
        .filter(F.col("ra") != F.col("rb"))
        .select(
            F.least("ra", "rb").alias("doc_a"),
            F.greatest("ra", "rb").alias("doc_b"),
        )
        .distinct()
    )
    adv_cand = cand.unionByName(rand_pairs).distinct()
    n_adv = adv_cand.count()
    adv_joined = adv_cand.join(ta, "doc_a").join(tb, "doc_b")
    n_adv_surv = (
        adv_joined.filter(
            (1.0 + 1.0 / thr) * F.least("a_n", "b_n")
            >= F.col("a_n") + F.col("b_n")
        )
        .filter(F.arrays_overlap("a_pref", "b_pref"))
        .count()
    )
    runtime.release_all()
    adv_cand_m = adv_cand.localCheckpoint()  # time verify, not candgen
    vt = []
    n_adv_verified = None
    for _ in range(5):  # first is warm
        runtime.release_all()  # adv_cand_m is a localCheckpoint — survives
        t0 = time.perf_counter()
        n_adv_verified = llm._verified_jaccard(
            docs, adv_cand_m, "doc_a", "doc_b", thr
        ).count()
        vt.append(round(time.perf_counter() - t0, 3))
    results.append(
        {
            "pipeline": "verify_adversarial",
            "scale": scale,
            "cold_s": round(statistics.median(vt[1:]), 3),
            "samples_s": vt[1:],
            "adv_cand_pairs": n_adv,
            "prefilter_survivors": n_adv_surv,
            "verified_pairs": n_adv_verified,
        }
    )
    print(json.dumps(results[-1]), flush=True)
    return results


def _measure_ivf(spark, runtime, d: str, scale: int, cold) -> list[dict]:
    """IVF index build (timed cold) and the kNN probe, timed both cold
    (one kernel pass over the scan, no index) and over the built index."""
    from mapreduce_machine_learning_spark.operators import ann

    bt_med, bt_samples, n_vec = cold(lambda: ann._ivf_cells(spark, d))

    # ---- timed: IVF probe, cold ------------------------------------------
    # no index in the session: each sample fetches the 16 centroid rows,
    # keeps the probed cells' members in one kernel pass over the scan and
    # reranks them
    pr_med, pts, _ = cold(lambda: ann.q_llm_ann_ivf_knn(spark, d))

    # ---- timed: IVF probe over a BUILT index -----------------------------
    runtime.release_all()
    ann._ivf_cells(spark, d).count()  # build once, keep materialized
    ann.q_llm_ann_ivf_knn(spark, d).collect()  # warm probe
    wts = []
    for _ in range(4):
        t0 = time.perf_counter()
        ann.q_llm_ann_ivf_knn(spark, d).collect()
        wts.append(round(time.perf_counter() - t0, 3))
    # probed-candidate evidence: the members of the nprobe cells nearest
    # the query, vec 0 excluded (the fraction of the corpus the rerank
    # scores)
    n_probed = ann._probe_scan(spark, d, ann._ivf_probe(spark, d).kernel).count()

    # ---- timed: Arrow bulk-assignment fast path --------------------------
    # assign_cells_bulk is the BLAS kernel build documented in
    # operators/ann.py — measured here so the contract-path vs fast-path
    # gap is on the record at every scale (agreement is pinned by
    # tests/test_ann.py::test_bulk_assign_matches_jvm).
    cent_rows = ann.ivf_centroid_rows(spark, d)
    raw = ann.T(spark, d, "embeddings")
    at_med, at_samples, _ = cold(
        lambda: ann.assign_cells_bulk(raw, cent_rows)
    )

    rec = {
        "pipeline": "ivf",
        "scale": scale,
        "build_s": bt_med,
        "build_samples_s": bt_samples,
        "build_arrow_s": at_med,
        "build_arrow_samples_s": at_samples,
        "probe_s": pr_med,
        "probe_samples_s": pts,
        "probe_built_s": round(statistics.median(wts), 3),
        "probe_built_samples_s": wts,
        "n_vectors": n_vec,
        "n_probed_candidates": n_probed,
    }
    print(json.dumps(rec), flush=True)
    return [rec]


def _measure_join(spark, runtime, d: str, scale: int, cold) -> list[dict]:
    """The relational flagship (VERDICT r5 #4): q_join_multi — 3-table
    join → group agg → deterministic top-10 — timed cold under the same
    protocol as the LLM pipelines, over s× the sf0.1 bench corpus. The
    interesting scale question is the DIM side: at 1× AQE converts the
    customer⋈orders result to a broadcast build; as orders grows it must
    degrade to a shuffled join without a code change (the query carries
    deliberately NO hint). The record keeps the final-plan join operators
    so the curve shows WHERE the strategy flipped, plus the row counts
    the wall time should track."""
    from pyspark.sql import functions as F  # noqa: F401 (parity with peers)

    from mapreduce_machine_learning_spark.io import load_table as T
    from mapreduce_machine_learning_spark.operators import relational

    t_med, t_samples, n_rows = cold(
        lambda: relational.q_join_multi(spark, d)
    )
    # final adaptive plan of a fresh run (collect finalizes AQE)
    df = relational.q_join_multi(spark, d)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    joins = [
        op
        for op in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
        if op in plan
    ]
    rec = {
        "pipeline": "join_multi",
        "scale": scale,
        "cold_s": t_med,
        "samples_s": t_samples,
        "n_lineitem": T(spark, d, "lineitem").count(),
        "n_orders": T(spark, d, "orders").count(),
        "result_rows": n_rows,
        "join_ops": sorted(set(joins)),
    }
    print(json.dumps(rec), flush=True)
    return [rec]


def inner(scale: int, part: str) -> None:
    """Measure one pipeline group at one scale in this (fresh) JVM."""
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"mrml-scaling-curve-x{scale}-{part}")
        .config("spark.sql.shuffle.partitions", str(max(8, int(cpus))))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from mapreduce_machine_learning_spark import runtime

    def cold(fn, n_samples=4):
        """warm once, then ``n_samples`` cold-timed runs.

        Returns (median, samples, n_rows). The median — not the first or
        second sample — carries the curve: single-JVM timing on this box
        shows reproducible one-off spikes (JIT deopt/recompile storms, GC)
        that can inflate ONE sample 5-10x (e.g. a 30 s outlier between two
        ~2 s runs at the same scale), and two samples cannot outvote one
        spike. All samples are recorded so outliers stay visible.
        """
        runtime.release_all()
        n = len(fn().collect())  # warm
        ts = []
        for _ in range(n_samples):
            runtime.release_all()
            t0 = time.perf_counter()
            fn().collect()
            ts.append(round(time.perf_counter() - t0, 3))
        med = round(statistics.median(ts), 3)
        return med, ts, n

    d = _dir_for(scale, part)
    measure = {
        "text": _measure_text,
        "ivf": _measure_ivf,
        "join": _measure_join,
    }[part]
    results = measure(spark, runtime, d, scale, cold)

    for rec in results:
        print("RESULT " + json.dumps(rec), flush=True)
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--inner", action="store_true")
    ap.add_argument("--scales", default="1,4,16,64")
    ap.add_argument("--scale", type=int, default=16)
    ap.add_argument("--part", choices=PARTS, default="text")
    # default preserves the round-5 sweep; the join curve runs separately
    # (python tools/scaling_curve.py --parts join --out SCALING_join_runs.json)
    ap.add_argument("--parts", default="text,ivf")
    ap.add_argument("--out", default="SCALING_runs.json")
    args = ap.parse_args()

    if args.inner:
        inner(args.scale, args.part)
        return

    parts = [p for p in args.parts.split(",") if p]
    # argparse error, not assert (ADVICE r6): asserts vanish under -O and a
    # typo'd part name would then KeyError deep inside a timed inner() run
    bad = [p for p in parts if p not in PARTS]
    if bad:
        ap.error(f"unknown part(s) {bad}; choose from {sorted(PARTS)}")
    scales = [int(s) for s in args.scales.split(",")]
    for s in scales:
        for p in parts:
            _dir_for(s, p)  # generate once, outside any timing
    results = []

    def _flush() -> None:
        # written after EVERY point (ADVICE round 5): a raised timeout or a
        # kill mid-sweep must not lose the hours of already-collected points
        with open(args.out, "w") as f:
            json.dump(results, f, indent=1)

    for s in scales:
        for part in parts:
            try:
                proc = subprocess.run(
                    [
                        sys.executable,
                        __file__,
                        "--inner",
                        "--scale",
                        str(s),
                        "--part",
                        part,
                    ],
                    capture_output=True,
                    text=True,
                    timeout=3600,
                )
            except subprocess.TimeoutExpired as exc:
                print(
                    f"scale={s} part={part}: TIMEOUT after {exc.timeout}s",
                    flush=True,
                )
                results.append(
                    {
                        "pipeline": part,
                        "scale": s,
                        "error": f"timeout {exc.timeout}s",
                    }
                )
                _flush()
                continue
            recs = [
                json.loads(l[len("RESULT ") :])
                for l in proc.stdout.splitlines()
                if l.startswith("RESULT ")
            ]
            if not recs:
                print(
                    f"scale={s} part={part}: FAILED\n{proc.stdout[-2000:]}\n"
                    f"{proc.stderr[-2000:]}",
                    flush=True,
                )
                results.append(
                    {
                        "pipeline": part,
                        "scale": s,
                        "error": proc.stderr[-500:] or "no output",
                    }
                )
                _flush()
                continue
            results.extend(recs)
            for rec in recs:
                print(json.dumps(rec), flush=True)
            _flush()
    print(f"wrote {args.out}", flush=True)


if __name__ == "__main__":
    main()
