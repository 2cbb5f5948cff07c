"""Reference results, computed before the benchmark's JVM starts.

Run as ``python3 -m perfbench.oracle --workload NAME --seed N`` from the
repository root; prints one JSON object mapping each operation to its
reference. Queries are referenced by the DuckDB oracle SQL the registry
pairs with them, reduced to ``tests.parity.result_hash``'s row count and
order-insensitive digest. Fits are referenced by a numpy evaluation of the
same update rules on the same columns.

DuckDB and the JVM are never resident together: an oracle run beside Spark
can exhaust the host's memory. References are cached under
``.perfbench/oracle`` keyed on the testdata fingerprint and the exact SQL
(and, for fits, the starting point), so only the first run of a checkout
pays for them.
"""

from __future__ import annotations

import argparse
import hashlib
import inspect
import json
import os
import sys

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.workloads import LOGREG_GD_LR, WORKLOADS, Fit, initial_params  # noqa: E402

# ml_iterative.logreg_irls's default ridge term.
IRLS_RIDGE = 1e-8
# Fitted parameters may differ from the numpy reference by summation order
# only: Spark adds partial sums per partition, numpy pairwise.
RTOL = 1e-6
ATOL = 1e-9


def fit_sql(fit: Fit) -> str:
    return f"SELECT {', '.join(fit.columns)} FROM {fit.table}"


def _design(cols, names):
    return np.column_stack([np.ones(len(cols[names[0]]))] + [cols[n] for n in names])


def reference_fit(fit: Fit, cols: dict, init: dict) -> dict:
    """The fit's update rules in numpy, returning the flattened parameters
    (see ``flatten_fit``)."""
    names = list(cols)
    if fit.name == "linreg_normal":
        X, y = _design(cols, names[:-1]), cols[names[-1]]
        return flatten_fit(fit.name, np.linalg.solve(X.T @ X, X.T @ y))
    if fit.name == "logreg_gd":
        X, y = _design(cols, names[:-1]), cols[names[-1]]
        w = np.zeros(X.shape[1])
        for _ in range(fit.iters):
            sigma = 1.0 / (1.0 + np.exp(-(X @ w)))
            w = w - LOGREG_GD_LR * (X.T @ (sigma - y)) / len(y)
        return flatten_fit(fit.name, w)
    if fit.name == "logreg_irls":
        X, y = _design(cols, names[:-1]), cols[names[-1]]
        w = np.zeros(X.shape[1])
        for _ in range(fit.iters):
            sigma = 1.0 / (1.0 + np.exp(-(X @ w)))
            H = (X * (sigma * (1.0 - sigma))[:, None]).T @ X
            w = w - np.linalg.solve(H + IRLS_RIDGE * np.eye(len(w)), X.T @ (sigma - y))
        return flatten_fit(fit.name, w)
    if fit.name == "kmeans_fit":
        P = np.column_stack([cols[n] for n in names])
        cents = np.array(init["centroids"], dtype=float)
        sizes = np.zeros(len(cents), dtype=int)
        for _ in range(fit.iters):
            d = ((P[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)  # first minimum: ties go to the lowest id
            sizes = np.bincount(assign, minlength=len(cents))
            for k in np.nonzero(sizes)[0]:
                cents[k] = P[assign == k].mean(axis=0)
        return flatten_fit(fit.name, ([tuple(c) for c in cents], sizes.tolist()))
    if fit.name == "gmm_em_1d":
        x = cols[names[0]]
        pi, mu, s = list(init["pi"]), list(init["mu"]), list(init["sigma"])
        n = len(x)
        for _ in range(fit.iters):
            p = [
                pi[i] * np.exp(-(((x - mu[i]) / s[i]) ** 2) / 2.0) / (s[i] * np.sqrt(2 * np.pi))
                for i in (0, 1)
            ]
            r1 = p[0] / (p[0] + p[1])
            n1 = r1.sum()
            mu1, mu2 = (r1 * x).sum() / n1, ((1 - r1) * x).sum() / (n - n1)
            var1 = max((r1 * x * x).sum() / n1 - mu1 * mu1, 1e-9)
            var2 = max(((1 - r1) * x * x).sum() / (n - n1) - mu2 * mu2, 1e-9)
            pi, mu, s = [n1 / n, (n - n1) / n], [mu1, mu2], [np.sqrt(var1), np.sqrt(var2)]
        return flatten_fit(fit.name, {"pi": pi, "mu": mu, "sigma": s})
    if fit.name == "gaussian_nb_fit":
        labels, x = cols[names[0]], cols[names[1]]
        out = {}
        for c in np.unique(labels):
            xc = x[labels == c]
            out[str(c)] = (len(xc) / len(x), xc.mean(), xc.var(ddof=1))
        return flatten_fit(fit.name, out)
    raise ValueError(f"no reference for fit {fit.name!r}")


def flatten_fit(name: str, result) -> dict:
    """A fit's result as {"keys", "floats", "ints"}; takes both what
    ``ml_iterative`` returns and what ``reference_fit`` computes."""
    keys, floats, ints = [], [], []
    if name == "kmeans_fit":
        cents, sizes = result
        floats = [c for cent in cents for c in cent]
        ints = list(sizes)
    elif name == "gmm_em_1d":
        get = result.get if isinstance(result, dict) else lambda k: getattr(result, k)
        floats = [*get("pi"), *get("mu"), *get("sigma")]
    elif name == "gaussian_nb_fit":
        keys = sorted(str(k) for k in result)
        by_key = {str(k): v for k, v in result.items()}
        floats = [v for k in keys for v in by_key[k]]
    else:
        floats = list(result)
    return {
        "keys": keys,
        "floats": [float(v) for v in floats],
        "ints": [int(v) for v in ints],
    }


def fit_matches(got: dict, ref: dict) -> bool:
    """Same keys and counts, floats within ``RTOL``/``ATOL``."""
    return (
        got["keys"] == ref["keys"]
        and got["ints"] == ref["ints"]
        and len(got["floats"]) == len(ref["floats"])
        and bool(np.allclose(got["floats"], ref["floats"], rtol=RTOL, atol=ATOL))
    )


def _reference_source() -> str:
    return inspect.getsource(reference_fit) + repr((LOGREG_GD_LR, IRLS_RIDGE))


def _key(*parts: str) -> str:
    return hashlib.sha256("\0".join(parts).encode()).hexdigest()


def references(workload_name: str, seed: int, data_dir: str, cache_dir: str) -> dict:
    import duckdb

    from mapreduce_machine_learning_spark.io import duckdb_connect
    from mapreduce_machine_learning_spark.registry import all_oracles
    from tests.parity import fingerprint_testdata, result_hash, run_oracle

    workload = WORKLOADS[workload_name]
    fingerprint = fingerprint_testdata(data_dir)
    os.makedirs(cache_dir, exist_ok=True)
    oracles = all_oracles() if workload.queries else {}
    con = None
    refs = {}
    todo = [(q, oracles[q], None) for q in workload.queries]
    todo += [(f.name, fit_sql(f), f) for f in workload.fits]
    for name, sql, fit in todo:
        init = initial_params(fit, seed) if fit else {}
        # a fit's reference also depends on its spec and on the numpy code
        spec = repr(fit) + _reference_source() if fit else ""
        path = os.path.join(cache_dir, _key(fingerprint, sql, json.dumps(init), spec) + ".json")
        if os.path.exists(path):
            with open(path) as fh:
                refs[name] = json.load(fh)
            continue
        if con is None:
            con = duckdb_connect(data_dir)
            con.execute(f"SET temp_directory = '{os.path.join(cache_dir, 'duckdb-tmp')}'")
        if fit is None:
            rows, digest = result_hash(*run_oracle(sql, data_dir, con))
            ref = {"rows": rows, "hash": digest}
        else:
            ref = reference_fit(fit, con.execute(sql).fetchnumpy(), init)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as fh:
            json.dump(ref, fh)
        os.replace(tmp, path)
        refs[name] = ref
    if con is not None:
        con.close()
    return {
        "refs": refs,
        "fingerprint": fingerprint,
        "duckdb_version": duckdb.__version__,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--cache", required=True)
    args = ap.parse_args(argv)
    print(json.dumps(references(args.workload, args.seed, args.data, args.cache)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
