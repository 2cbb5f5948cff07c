"""The benchmark's workloads.

A workload is a list of operations run as one pass, in a closed loop: one
client in one process, each operation started only after the previous one
returned. The seed permutes the order of the operations within each pass
and, on ``ml_train``, jitters the initial parameters of the fits. The data
is always the same: the repository's seed-42 sf0.1 testdata (TESTDATA.md),
copied to ``perfbench/data``.

This module imports no Spark, so the oracle's child process can read the
fit definitions before any JVM starts.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

# Cleanup policies: what the benchmark frees, and when.
RELEASE_AFTER_OP = "release_after_op"  # runtime.release_all() after each op
CLEAR_CACHE_AFTER_PASS = "clear_cache_after_pass"  # catalog.clearCache()


@dataclass(frozen=True)
class Fit:
    """One call into ``ml_iterative``. ``columns`` are SQL expressions that
    Spark (``selectExpr``) and DuckDB both evaluate the same way, so the
    fitted parameters and the numpy reference read identical inputs."""

    name: str
    table: str
    columns: tuple
    iters: int = 0


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple = ()
    fits: tuple = ()
    cleanup: str = RELEASE_AFTER_OP

    @property
    def ops(self) -> tuple:
        return self.queries + tuple(f.name for f in self.fits)


_PURCHASE = "CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y"
_RETURNED = "CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y"

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "llm_chain",
            "MinHash, exact and LSH/IVF kNN with a cold session memo per"
            " operation; executor-bound and the only workload crossing"
            " the Python worker boundary",
            queries=("q_llm_minhash", "q_ml_knn", "q_llm_ann_knn", "q_llm_ann_ivf_knn"),
            cleanup=RELEASE_AFTER_OP,
        ),
        Workload(
            "ml_train",
            "the paper's summation-form trainers; many tiny jobs over cached"
            " inputs, so driver round trips dominate",
            fits=(
                Fit(
                    "linreg_normal",
                    "lineitem",
                    ("l_quantity", "l_discount", "l_tax", "l_extendedprice"),
                ),
                Fit("logreg_gd", "events", ("value / 100 AS x", _PURCHASE), iters=10),
                Fit(
                    "logreg_irls",
                    "lineitem",
                    ("l_quantity / 50 AS q", "l_discount * 10 AS d", _RETURNED),
                    iters=4,
                ),
                Fit(
                    "kmeans_fit",
                    "events",
                    ("value", "CAST(hour(ts) AS DOUBLE) AS hr"),
                    iters=5,
                ),
                Fit("gmm_em_1d", "events", ("value",), iters=5),
                Fit("gaussian_nb_fit", "events", ("event_type", "value")),
            ),
            cleanup=CLEAR_CACHE_AFTER_PASS,
        ),
    )
}

LOGREG_GD_LR = 0.5


def initial_params(fit: Fit, seed: int) -> dict:
    """Starting point of a fit, jittered by the seed (±5% on every
    coordinate). Fits without a starting point take an empty dict."""
    rng = random.Random(f"{seed}:{fit.name}")

    def j(x: float) -> float:
        return x * (1.0 + rng.uniform(-0.05, 0.05))

    if fit.name == "kmeans_fit":
        base = ((50.0, 6.0), (100.0, 12.0), (150.0, 18.0))
        return {"centroids": [[j(a), j(b)] for a, b in base]}
    if fit.name == "gmm_em_1d":
        return {"pi": [0.5, 0.5], "mu": [j(50.0), j(150.0)], "sigma": [j(25.0), j(25.0)]}
    return {}
