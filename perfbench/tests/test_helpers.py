"""Tests for the benchmark's pure helpers. No JVM is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.oracle import fit_matches, flatten_fit, reference_fit  # noqa: E402
from perfbench.run import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.status import parse_sql_metric  # noqa: E402
from perfbench.trace import Span, Tally, Tracer, op_order, self_times, union_length  # noqa: E402
from perfbench.workloads import WORKLOADS, initial_params  # noqa: E402


# ------------------------------------------------------------ interval union
def test_union_counts_overlaps_once():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)


def test_union_of_nested_and_touching_intervals():
    assert union_length([(0, 10), (2, 3), (10, 12)]) == pytest.approx(12.0)


def test_union_clips_to_window():
    # a job that started before the operation and one that ended after it
    assert union_length([(-5, 1), (4, 20)], lo=0, hi=6) == pytest.approx(3.0)


def test_union_ignores_empty_and_outside_intervals():
    assert union_length([]) == 0.0
    assert union_length([(3, 3), (7, 9)], lo=0, hi=5) == 0.0


# ---------------------------------------------------------------- self time
def test_self_time_subtracts_covered_child_time():
    spans = [
        Span("op", "operators", 0.0, 10.0),
        Span("registry.build", "registry", 0.0, 4.0, parent=0),
        Span("execute.collect", "driver", 4.0, 10.0, parent=0),
        Span("job.1", "spark_job", 5.0, 9.0, parent=2),
        Span("stage.1", "executor", 5.5, 7.0, parent=3),
        Span("stage.2", "executor", 6.5, 8.0, parent=3),  # overlaps stage.1
    ]
    st = self_times(spans)
    assert st["operators"] == pytest.approx(0.0)
    assert st["registry"] == pytest.approx(4.0)
    assert st["driver"] == pytest.approx(2.0)  # 6 s of collect, 4 s in the job
    assert st["spark_job"] == pytest.approx(1.5)  # 4 s job, stages cover 5.5-8.0
    # two stages running at once each keep their own self time
    assert st["executor"] == pytest.approx(3.0)


def test_self_time_clips_children_that_outlive_their_parent():
    spans = [Span("call", "driver", 0.0, 2.0), Span("job.1", "spark_job", 1.0, 3.0, parent=0)]
    st = self_times(spans)
    assert st["driver"] == pytest.approx(1.0)
    assert st["spark_job"] == pytest.approx(2.0)


def test_tracer_nesting_and_disabled_mode():
    tr = Tracer()
    outer = tr.open("pass", "bench")
    inner = tr.open("op", "operators")
    tr.close(inner)
    tr.close(outer)
    assert [s.parent for s in tr.spans] == [None, 0]
    assert all(s.end >= s.start for s in tr.spans)
    off = Tracer(enabled=False)
    assert off.open("pass", "bench") is None
    off.close(None)
    assert off.spans == [] and off.cost_s == 0.0


def test_tracer_close_ends_spans_left_open_by_a_failure():
    tr = Tracer()
    outer = tr.open("op", "operators")
    tr.open("registry.build", "registry")  # the call raised: never closed
    tr.close(outer)
    assert all(s.end > 0 for s in tr.spans)
    assert tr.open("next", "bench") == 2 and tr.spans[2].parent is None


# ----------------------------------------------------------- error accounting
def test_tally_counts_failures_and_mismatches_against_attempts():
    t = Tally()
    t.record("q_a", True)
    t.record("q_b", False, "raised ValueError")
    t.record("q_c", False, "digest mismatch")
    t.record("q_d", True)
    assert (t.attempted, t.failed) == (4, 2)
    assert t.error_rate == pytest.approx(0.5)
    assert t.errors == ["q_b: raised ValueError", "q_c: digest mismatch"]


def test_tally_with_nothing_attempted_has_no_errors():
    assert Tally().error_rate == 0.0


# --------------------------------------------------------------- seed order
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_seed_always_gives_the_same_order(workload):
    ops = WORKLOADS[workload].ops
    for seed in range(20):
        for pass_index in range(4):
            first = op_order(ops, seed, pass_index)
            assert first == op_order(ops, seed, pass_index)
            assert sorted(first) == sorted(ops)


def test_seeds_and_passes_permute_differently():
    ops = WORKLOADS["ml_train"].ops
    orders = {tuple(op_order(ops, seed, p)) for seed in range(10) for p in range(3)}
    assert len(orders) > 10


def test_seed_jitters_initial_parameters_within_five_percent():
    fit = next(f for f in WORKLOADS["ml_train"].fits if f.name == "kmeans_fit")
    a, b = initial_params(fit, 1), initial_params(fit, 2)
    assert a == initial_params(fit, 1) and a != b
    for cent, base in zip(a["centroids"], ((50.0, 6.0), (100.0, 12.0), (150.0, 18.0))):
        for x, x0 in zip(cent, base):
            assert abs(x / x0 - 1.0) <= 0.05


# ------------------------------------------------------- result comparison
def test_fit_matches_tolerates_summation_order_only():
    ref = flatten_fit("linreg_normal", np.array([1.0, 2.0, 3.0]))
    assert fit_matches(flatten_fit("linreg_normal", np.array([1.0, 2.0, 3.0 + 1e-12])), ref)
    assert not fit_matches(flatten_fit("linreg_normal", np.array([1.0, 2.0, 3.01])), ref)
    assert not fit_matches(flatten_fit("linreg_normal", np.array([1.0, 2.0])), ref)


def test_kmeans_sizes_must_match_exactly():
    ref = flatten_fit("kmeans_fit", ([(1.0, 2.0), (3.0, 4.0)], [10, 5]))
    assert fit_matches(flatten_fit("kmeans_fit", ([(1.0, 2.0), (3.0, 4.0)], [10, 5])), ref)
    assert not fit_matches(flatten_fit("kmeans_fit", ([(1.0, 2.0), (3.0, 4.0)], [9, 6])), ref)


def test_numpy_reference_recovers_a_known_linear_model():
    rng = np.random.default_rng(0)
    x1, x2 = rng.normal(size=500), rng.normal(size=500)
    cols = {"a": x1, "b": x2, "y": 2.0 + 3.0 * x1 - 1.0 * x2}
    fit = next(f for f in WORKLOADS["ml_train"].fits if f.name == "linreg_normal")
    got = reference_fit(fit, cols, {})["floats"]
    assert got == pytest.approx([2.0, 3.0, -1.0])


# --------------------------------------------------------------- SQL metrics
@pytest.mark.parametrize(
    "text, kind, value",
    [
        ("1,999", "sum", 1999.0),
        ("7", "sum", 7.0),
        ("780.0 KiB", "size", 780.0 * 1024),
        ("total (min, med, max (stageId: taskId))\n1.5 MiB (0.0 B, 2.0 KiB, 1.0 MiB (stage 3.0: task 9))",
         "size", 1.5 * (1 << 20)),
        ("288.0 B", "size", 288.0),
    ],
)
def test_parse_sql_metric(text, kind, value):
    assert parse_sql_metric(text, kind) == pytest.approx(value)


# ------------------------------------------------------ BENCHMARK.json sync
def test_benchmark_json_lists_exactly_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert {w["name"]: w["why"] for w in spec["workloads"]} == {
        w.name: w.why for w in WORKLOADS.values()
    }
