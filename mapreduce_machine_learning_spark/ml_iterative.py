"""Iterative ML drivers — the reference's full algorithms (SURVEY §1.1/§2.6),
Spark-style.

The reference runs each iteration as a *separate Hadoop job*, re-reading input
from HDFS and shipping parameters via ``--file``/jobconf. Here each iterative
trainer (``logreg_gd``, ``logreg_irls``, ``kmeans_fit``, ``gmm_em_1d``) is a
driver loop over its OWN cached projection of the input — the feature and
label columns cast to double — which it releases (``unpersist(blocking=True)``)
when it returns or raises. A projection that is already cached when the
trainer starts is read as is and left cached.

Every iteration is exactly ONE Spark action: a Project computes the shared
per-row term (σ(wᵀx), a GMM responsibility, a k-means assignment), one global
aggregate sums the sufficient statistics over it, and the driver collects the
single row; the row count rides in the first iteration's aggregate. Both
nodes are built from SQL text (one ``selectExpr`` each) with the parameters as
exact double literals (``determinism.sql_lit``), which Catalyst constant-folds
into codegen — a few py4j calls per iteration instead of dozens of Column
calls. The dense solve runs in numpy on the driver (Chu et al. NIPS'06
summation form). At 100 TB the per-iteration cost is one scan of cached
columnar batches and a shuffle of one sufficient-statistics row per
partition — broadcast of the parameter vector is implicit in literal
folding (use
``sparkContext.broadcast`` instead once parameters exceed plan-literal scale,
e.g. >10^4 features).

MLlib mirrors (`mllib_*`) fit the equivalent `pyspark.ml` estimator so users
of the reference get both the transparent summation-form path and the
production MLlib path; tests assert the two agree.
"""

from __future__ import annotations

import math
from contextlib import contextmanager
from dataclasses import dataclass

import numpy as np

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreduce_machine_learning_spark.determinism import sql_array, sql_lit
from mapreduce_machine_learning_spark.io import worker_prelude


# ------------------------------------------------------------- plan helpers
def _q(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _project(df: DataFrame, feature_cols: list[str], label_col: str | None = None) -> DataFrame:
    """A trainer's own input: features cast to double as ``x1..xd`` (``x0``
    is the implicit intercept 1.0, never materialised) and the label as
    ``y``."""
    exprs = [f"CAST({_q(c)} AS DOUBLE) AS x{i}" for i, c in enumerate(feature_cols, 1)]
    if label_col is not None:
        exprs.append(f"CAST({_q(label_col)} AS DOUBLE) AS y")
    return df.selectExpr(*exprs)


@contextmanager
def _owned_cache(df: DataFrame):
    """``df`` cached for the block, and released (blocking) on exit — only
    if this call cached it: a plan that was already cached stays cached."""
    owned = df.storageLevel == StorageLevel.NONE
    if owned:
        df.cache()
    try:
        yield df
    finally:
        if owned:
            df.unpersist(blocking=True)


def _stats_row(trainer: str, stats: DataFrame):
    """The one row of a global aggregate of sums. A null sum means no row
    contributed to it: the input is empty (or all null)."""
    row = stats.collect()[0]
    if any(v is None for v in row):
        raise ValueError(f"{trainer}: no rows to fit (empty input or only nulls)")
    return row


def _times(term: str, *idx: int) -> str:
    """``term * x_i * …`` left to right; the intercept ``x0`` is 1.0, so its
    factor is dropped (multiplying by 1.0 is exact)."""
    return " * ".join([term] + [f"x{i}" for i in idx if i])


def _sigmoid(w: np.ndarray) -> str:
    """The select item ``s`` = σ(wᵀx), with ``x0`` = 1 and wᵀx summed left
    to right."""
    z = " + ".join([sql_lit(w[0])] + [f"{sql_lit(wi)} * x{i}" for i, wi in enumerate(w[1:], 1)])
    return f"1.0D / (1.0D + EXP(-({z}))) AS s"


# ---------------------------------------------------------------- linear reg
def linreg_normal(df: DataFrame, feature_cols: list[str], label_col: str) -> np.ndarray:
    """Normal-equation OLS with intercept: one aggregation computes the full
    Gram matrix XᵀX and Xᵀy (features prepended with 1); numpy solves the
    (p+1)×(p+1) system on the driver. Exactly the reference's linear
    regression: mapper partial sums → reducer total → solve."""
    feats = [F.lit(1.0)] + [F.col(c).cast("double") for c in feature_cols]
    y = F.col(label_col).cast("double")
    p = len(feats)
    aggs = []
    for i in range(p):
        for j in range(i, p):
            aggs.append(F.sum(feats[i] * feats[j]).alias(f"g_{i}_{j}"))
    for i in range(p):
        aggs.append(F.sum(feats[i] * y).alias(f"b_{i}"))
    row = _stats_row("linreg_normal", df.agg(*aggs))
    G = np.zeros((p, p))
    for i in range(p):
        for j in range(i, p):
            G[i, j] = G[j, i] = row[f"g_{i}_{j}"]
    b = np.array([row[f"b_{i}"] for i in range(p)])
    return np.linalg.solve(G, b)


# ------------------------------------------------------------- logistic reg
def logreg_gd(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    lr: float = 0.1,
    iters: int = 10,
) -> np.ndarray:
    """Full-batch gradient descent for logistic regression (intercept
    included). Each step: fold current weights into σ(wᵀx), aggregate the
    gradient Σ(σ−y)·x, update on the driver with the mean gradient (n =
    every input row, counted by the first step). The reference resubmits a
    MapReduce job per step; here the projected input is cached once."""
    p = len(feature_cols) + 1
    grads = [f"sum({_times('(s - y)', i)}) AS g{i}" for i in range(p)]
    w = np.zeros(p)
    n = None
    with _owned_cache(_project(df, feature_cols, label_col)) as pts:
        for _ in range(iters):
            aggs = grads if n is not None else grads + ["count(1) AS n"]
            row = _stats_row("logreg_gd", pts.selectExpr("*", _sigmoid(w)).selectExpr(*aggs))
            if n is None:
                n = row["n"]
            w = w - lr * np.array([row[f"g{i}"] for i in range(p)]) / n
    return w


def logreg_irls(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    iters: int = 4,
    ridge: float = 1e-8,
) -> np.ndarray:
    """Newton-Raphson / IRLS for logistic regression (intercept included) —
    the second-order companion of ``logreg_gd`` and the iterative extension
    of the ``q_ml_logreg_newton`` kernel. Each step aggregates BOTH the
    gradient Σ(σ−y)·x and the Hessian upper triangle Σσ(1−σ)·x xᵀ in ONE
    pass over the cached input (p + p(p+1)/2 doubles per partition,
    scale-invariant shuffle), then solves the dense (p+1)-system on the
    driver. Converges in ~4 steps where GD needs hundreds; the tiny ridge
    keeps the solve stable if the Hessian is near-singular."""
    p = len(feature_cols) + 1
    pairs = [(i, j) for i in range(p) for j in range(i, p)]
    aggs = [f"sum({_times('(s - y)', i)}) AS g{i}" for i in range(p)]
    aggs += [f"sum({_times('s * (1.0D - s)', i, j)}) AS h_{i}_{j}" for i, j in pairs]
    w = np.zeros(p)
    with _owned_cache(_project(df, feature_cols, label_col)) as pts:
        for _ in range(iters):
            row = _stats_row("logreg_irls", pts.selectExpr("*", _sigmoid(w)).selectExpr(*aggs))
            g = np.array([row[f"g{i}"] for i in range(p)])
            H = np.zeros((p, p))
            for i, j in pairs:
                H[i, j] = H[j, i] = row[f"h_{i}_{j}"]
            w = w - np.linalg.solve(H + ridge * np.eye(p), g)
    return w


# ------------------------------------------------------------------- k-means
def kmeans_fit(
    df: DataFrame,
    feature_cols: list[str],
    init_centroids: list[tuple[float, ...]],
    iters: int = 5,
) -> tuple[list[tuple[float, ...]], list[int]]:
    """Lloyd's algorithm: assignment is a pure-expression argmin over the
    current centroids, the update is one global aggregate of per-cluster
    counts and means over the cached points. Returns (centroids, cluster
    sizes). Empty clusters keep their previous centroid — same policy as
    MLlib.

    The argmin is the least (null?, distance, id) struct: ties go to the
    lowest id, a null distance never wins, and a row whose distance to
    centroid 0 is null (a null feature) goes to cluster 0 — the rules of
    the ``kmeans_assign`` CASE chain."""
    cents = [tuple(map(float, c)) for c in init_centroids]
    k, d = len(cents), len(feature_cols)
    aggs = [f"count_if(c = {i}) AS n{i}" for i in range(k)]
    aggs += [f"avg(IF(c = {i}, x{j}, NULL)) AS m{i}_{j}" for i in range(k) for j in range(1, d + 1)]
    keys = ", ".join(
        f"named_struct('z', {'false' if i == 0 else f'd{i} IS NULL'}, 'd', d{i}, 'c', {i})"
        for i in range(k)
    )
    assign = f"LEAST({keys}).c AS c" if k > 1 else "0 AS c"
    sizes = [0] * k
    with _owned_cache(_project(df, feature_cols)) as pts:
        for _ in range(iters):
            dists = [
                " + ".join(f"(x{j} - {sql_lit(cj)}) * (x{j} - {sql_lit(cj)})" for j, cj in enumerate(cent, 1))
                + f" AS d{i}"
                for i, cent in enumerate(cents)
            ]
            row = pts.selectExpr("*", *dists, assign).selectExpr(*aggs).collect()[0]
            sizes = [row[f"n{i}"] for i in range(k)]
            cents = [
                tuple(row[f"m{i}_{j}"] for j in range(1, d + 1)) if sizes[i] else cents[i]
                for i in range(k)
            ]
    return cents, sizes


# ---------------------------------------------------------------------- GMM
@dataclass
class Gmm1D:
    pi: tuple[float, float]
    mu: tuple[float, float]
    sigma: tuple[float, float]


def gmm_em_1d(df: DataFrame, col: str, init: Gmm1D, iters: int = 5) -> Gmm1D:
    """EM for a two-component 1-D Gaussian mixture. E-step responsibilities
    and the M-step sufficient statistics (Σr, Σr·x, Σr·x²) are ONE
    aggregation; parameter updates are scalar math on the driver."""
    stats = [
        "sum(r) AS n1",
        "sum(r * x1) AS sx1",
        "sum(r * x1 * x1) AS sxx1",
        "sum((1.0D - r) * x1) AS sx2",
        "sum((1.0D - r) * x1 * x1) AS sxx2",
    ]
    params = init
    n = None
    with _owned_cache(_project(df, [col])) as pts:
        for _ in range(iters):
            dens = [
                f"{sql_lit(pi)} * EXP(-POWER((x1 - {sql_lit(mu)}) / {sql_lit(s)}, 2.0D) / 2.0D)"
                f" / {sql_lit(s * math.sqrt(2 * math.pi))} AS p{c}"
                for c, (pi, mu, s) in enumerate(zip(params.pi, params.mu, params.sigma), 1)
            ]
            aggs = stats if n is not None else stats + ["count(1) AS n"]
            row = _stats_row(
                "gmm_em_1d", pts.selectExpr("x1", *dens, "p1 / (p1 + p2) AS r").selectExpr(*aggs)
            )
            if n is None:
                n = row["n"]
            n1 = row["n1"]
            n2 = n - n1
            mu1, mu2 = row["sx1"] / n1, row["sx2"] / n2
            var1 = max(row["sxx1"] / n1 - mu1 * mu1, 1e-9)
            var2 = max(row["sxx2"] / n2 - mu2 * mu2, 1e-9)
            params = Gmm1D(
                pi=(n1 / n, n2 / n),
                mu=(mu1, mu2),
                sigma=(math.sqrt(var1), math.sqrt(var2)),
            )
    return params


# -------------------------------------------------------------- naive Bayes
def gaussian_nb_fit(df: DataFrame, label_col: str, feature_col: str):
    """Gaussian naive Bayes: per-class (prior, mean, variance) in one pass —
    the reference's NB job. Returns {class: (prior, mean, var)}; the prior's
    denominator is the sum of the class counts, so the fit is one action."""
    rows = (
        df.groupBy(label_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(F.col(feature_col).cast("double")).alias("mu"),
            F.var_samp(F.col(feature_col).cast("double")).alias("var"),
        )
        .collect()
    )
    n = sum(r["n"] for r in rows)
    return {r[label_col]: (r["n"] / n, r["mu"], r["var"]) for r in rows}


# --------------------------------------------------------------- MLlib mirrors
def _assemble(df: DataFrame, feature_cols: list[str], label_col: str | None):
    from pyspark.ml.feature import VectorAssembler

    out = VectorAssembler(inputCols=feature_cols, outputCol="features").transform(df)
    if label_col is not None:
        out = out.withColumn("label", F.col(label_col).cast("double"))
    return out


def mllib_linreg(df: DataFrame, feature_cols: list[str], label_col: str) -> np.ndarray:
    """MLlib LinearRegression with the normal-equation solver — the
    production twin of linreg_normal (WeightedLeastSquares ≈ treeAggregate
    of the same Gram matrix). Returns [intercept, *coefficients]."""
    from pyspark.ml.regression import LinearRegression

    m = LinearRegression(solver="normal", regParam=0.0).fit(
        _assemble(df, feature_cols, label_col)
    )
    return np.array([m.intercept, *m.coefficients])


def mllib_kmeans(
    df: DataFrame,
    feature_cols: list[str],
    init_centroids: list[tuple[float, ...]],
    iters: int = 5,
):
    """MLlib KMeans seeded deterministically; returns centroid array sorted
    by first coordinate (MLlib may permute cluster ids)."""
    from pyspark.ml.clustering import KMeans

    m = KMeans(k=len(init_centroids), maxIter=iters, seed=42, initMode="random").fit(
        _assemble(df, feature_cols, None)
    )
    return sorted(tuple(c) for c in m.clusterCenters())


def mllib_logreg(df: DataFrame, feature_cols: list[str], label_col: str) -> np.ndarray:
    from pyspark.ml.classification import LogisticRegression

    m = LogisticRegression(regParam=0.0, standardization=False).fit(
        _assemble(df, feature_cols, label_col)
    )
    return np.array([m.intercept, *m.coefficients])


def mllib_gaussian_nb(df: DataFrame, label_col: str, feature_col: str):
    """MLlib NaiveBayes (gaussian modelType) — the production twin of
    gaussian_nb_fit. Returns {label_string: (prior, mean, var)} reindexed
    through the StringIndexer labels so it compares directly with the
    summation-form fit."""
    from pyspark.ml.classification import NaiveBayes
    from pyspark.ml.feature import StringIndexer, VectorAssembler

    idx = StringIndexer(inputCol=label_col, outputCol="_label").fit(df)
    va = VectorAssembler(inputCols=[feature_col], outputCol="_features")
    prepped = va.transform(idx.transform(df)).select("_label", "_features")
    m = NaiveBayes(
        modelType="gaussian", labelCol="_label", featuresCol="_features"
    ).fit(prepped)
    out = {}
    for i, lab in enumerate(idx.labels):
        out[lab] = (
            float(np.exp(m.pi[i])),
            float(m.theta.toArray()[i][0]),
            float(m.sigma.toArray()[i][0]),
        )
    return out


def mllib_gmm_1d(df: DataFrame, col: str, k: int = 2, iters: int = 20):
    """MLlib GaussianMixture on one column, deterministic seed — the
    production twin of gmm_em_1d. Returns (weights, means, stds) sorted by
    mean (MLlib may permute components)."""
    from pyspark.ml.clustering import GaussianMixture
    from pyspark.ml.feature import VectorAssembler

    va = VectorAssembler(inputCols=[col], outputCol="_features")
    m = GaussianMixture(
        k=k, maxIter=iters, seed=42, featuresCol="_features"
    ).fit(va.transform(df))
    comps = sorted(
        (
            float(g.mean[0]),
            float(np.sqrt(g.cov.toArray()[0][0])),
            float(w),
        )
        for g, w in zip(m.gaussians, m.weights)
    )
    means = tuple(c[0] for c in comps)
    stds = tuple(c[1] for c in comps)
    weights = tuple(c[2] for c in comps)
    return weights, means, stds


def mllib_tfidf_top_terms(df: DataFrame, num_features: int = 1 << 14) -> DataFrame:
    """MLlib HashingTF/IDF pipeline over documents — the production twin of
    q_llm_tfidf. Hashed feature indices are engine-internal, so this surface
    is rows-only (pytest): assertions cover shape and that idf weights are
    non-negative, not cross-engine equality."""
    from pyspark.ml.feature import IDF, HashingTF, Tokenizer

    tok = Tokenizer(inputCol="text", outputCol="words")
    tf = HashingTF(inputCol="words", outputCol="tf", numFeatures=num_features)
    words = tf.transform(tok.transform(df))
    idf = IDF(inputCol="tf", outputCol="tfidf").fit(words)
    return idf.transform(words).select("doc_id", "tfidf")


# ------------------------------------------------------------ inference side
def logreg_predict(df: DataFrame, w: "np.ndarray", feature_cols: list[str]) -> DataFrame:
    """Score rows with fitted logistic weights: adds p (σ(wᵀx)) and pred
    (p >= 0.5). Weights fold into the plan as literals — pure codegen, no
    Python per row."""
    feats = [F.lit(1.0)] + [F.col(c).cast("double") for c in feature_cols]
    z = sum(float(wi) * fi for wi, fi in zip(w, feats))
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return df.withColumn("p", p).withColumn("pred", (p >= 0.5).cast("int"))


def gaussian_nb_predict(
    df: DataFrame, params: dict, feature_col: str, out_col: str = "pred"
) -> DataFrame:
    """Classify rows with fitted Gaussian NB parameters: argmax over classes
    of log prior + log N(x; μ, σ²), built as a greatest-of-expressions chain
    (ties → lexicographically smallest class for determinism)."""
    x = F.col(feature_col).cast("double")
    scores = {}
    for cls in sorted(params):
        prior, mu, var = params[cls]
        scores[cls] = (
            F.lit(math.log(prior))
            - F.lit(0.5 * math.log(2 * math.pi * var))
            - F.pow(x - mu, 2) / (2.0 * var)
        )
    classes = sorted(scores)
    pred = F.lit(classes[0])
    best = scores[classes[0]]
    for cls in classes[1:]:
        pred = F.when(scores[cls] > best, cls).otherwise(pred)
        best = F.when(scores[cls] > best, scores[cls]).otherwise(best)
    return df.withColumn(out_col, pred)


def kmeans_assign(
    df: DataFrame, feature_cols: list[str], centroids: list[tuple[float, ...]]
) -> DataFrame:
    """Assign each row to its nearest centroid (lowest id wins ties) — the
    transform step of kmeans_fit, reusable on unseen data."""
    dists = [
        sum(
            (F.col(c).cast("double") - ci) * (F.col(c).cast("double") - ci)
            for c, ci in zip(feature_cols, cent)
        )
        for cent in centroids
    ]
    assign = F.lit(0)
    best = dists[0]
    for i in range(1, len(dists)):
        assign = F.when(dists[i] < best, i).otherwise(assign)
        best = F.when(dists[i] < best, dists[i]).otherwise(best)
    return df.withColumn("cluster", assign)


def accuracy(df: DataFrame, label_col: str, pred_col: str) -> float:
    """Fraction of rows where prediction equals label — one aggregation."""
    row = df.agg(
        F.avg((F.col(label_col) == F.col(pred_col)).cast("double")).alias("acc")
    ).collect()[0]
    return float(row["acc"])


# ---------------------------------------------------------- model persistence
def save_model(params: dict, path: str) -> None:
    """Persist fitted parameters as JSON — the engine's analogue of the
    reference writing model files to HDFS between jobs. numpy arrays and
    tuples serialize as lists."""
    import json

    def conv(v):
        if isinstance(v, np.ndarray):
            return list(map(float, v))
        if isinstance(v, (list, tuple)):
            return [conv(x) for x in v]
        if isinstance(v, dict):
            return {str(k): conv(x) for k, x in v.items()}
        return v

    with open(path, "w") as f:
        json.dump(conv(params), f)


def load_model(path: str) -> dict:
    import json

    with open(path) as f:
        return json.load(f)


def knn_classify(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
):
    """k-NN classification: majority label among the k nearest neighbours by
    cosine similarity (ties → smallest label). The reference's k-NN job:
    map computes distances, reduce keeps the k best — here TakeOrdered keeps
    per-partition top-k heaps and the driver tallies k rows. Returns
    (predicted_label, [(id, label, cos), ...])."""
    from collections import Counter

    from mapreduce_machine_learning_spark.functions import cosine

    top = (
        emb.select(
            id_col,
            label_col,
            cosine(_q(vec_col), sql_array(query_vec)).alias("cos"),
        )
        .orderBy(F.desc("cos"), id_col)
        .limit(k)
        .collect()
    )
    votes = Counter(r[label_col] for r in top)
    best = max(votes.items(), key=lambda kv: (kv[1], -kv[0]))[0]
    return best, [(r[id_col], r[label_col], r["cos"]) for r in top]


# ------------------------------------------------------------------ PCA


def pca_power(
    df: DataFrame, feature_cols: list[str], iters: int = 100
) -> tuple[np.ndarray, float, np.ndarray]:
    """Principal component via the summation form + driver power iteration:
    ONE distributed pass accumulates n, Σxᵢ and Σxᵢxⱼ (the d² sufficient
    statistics), the d×d sample covariance assembles on the driver, and
    power iteration extracts the top eigenpair there — d², never n, sized
    driver work. The 2-feature closed-form twin is the contract query
    q_ml_pca; this is the d ≫ 2 path. Returns (eigvec, eigval, cov)."""
    feats = [F.col(c).cast("double") for c in feature_cols]
    d = len(feats)
    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    aggs += [F.sum(feats[i]).alias(f"s_{i}") for i in range(d)]
    for i in range(d):
        for j in range(i, d):
            aggs.append(F.sum(feats[i] * feats[j]).alias(f"g_{i}_{j}"))
    row = df.agg(*aggs).collect()[0]
    n = row["n"]
    s = np.array([row[f"s_{i}"] for i in range(d)])
    G = np.zeros((d, d))
    for i in range(d):
        for j in range(i, d):
            G[i, j] = G[j, i] = row[f"g_{i}_{j}"]
    cov = (G - np.outer(s, s) / n) / (n - 1.0)
    v = np.ones(d) / np.sqrt(d)
    for _ in range(iters):
        w = cov @ v
        v = w / np.linalg.norm(w)
    return v, float(v @ cov @ v), cov


def bpe_train(docs: DataFrame, text_col: str = "text", n_merges: int = 5):
    """Train byte-pair-encoding merges on a corpus (Sennrich et al. 2016):
    each round counts adjacent symbol pairs across every token occurrence
    (the q_text_bpe_pairs kernel), takes the argmax merge (count DESC,
    pair ASC — a deterministic tie rule), rewrites the corpus with the
    merged symbol, and repeats. Returns the ordered merge list.

    The driver-loop shape is the reference's iterative-algorithm pattern:
    per round one map-side-combined pair count (shuffle carries ≤
    |alphabet|² partial counts), one driver argmax on a tiny frame, and
    one Arrow-batched rewrite. The rewrite is a pandas UDF by design —
    greedy left-to-right pair merging is sequential within a token, the
    canonical "custom operator Spark lacks" case (SURVEY §2.10) — but the
    state it carries is one token occurrence, so it stays embarrassingly
    parallel at any corpus size. localCheckpoint() per round truncates
    the lineage exactly like the other iterative drivers."""
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    cur = (
        docs.select(F.explode(F.split(text_col, " ")).alias("tok"))
        .filter(F.length("tok") >= 2)
        .select(F.split("tok", "").alias("syms"))
        .localCheckpoint()
    )
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        top = (
            cur.filter(F.size("syms") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1),"
                        " i -> concat(syms[i-1], ' ', syms[i]))"
                    )
                ).alias("pair")
            )
            .groupBy("pair")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), "pair")
            .first()
        )
        if top is None:
            break
        a, b = top["pair"].split(" ")
        merges.append((a, b))

        # explicit SCALAR type: the module's `from __future__ import
        # annotations` stringifies hints, which the UDF hint-resolver
        # cannot evaluate against a function-local pandas import
        @pandas_udf("array<string>", PandasUDFType.SCALAR)
        def _merge(col: "pd.Series") -> "pd.Series":
            worker_prelude()
            out = []
            for arr in col:
                res, i, n = [], 0, len(arr)
                while i < n:
                    if i + 1 < n and arr[i] == a and arr[i + 1] == b:
                        res.append(a + b)
                        i += 2
                    else:
                        res.append(arr[i])
                        i += 1
                out.append(res)
            return pd.Series(out)

        cur = (
            cur.select(_merge("syms").alias("syms"))
            .filter(F.size("syms") >= 2)
            .localCheckpoint()
        )
    return merges
