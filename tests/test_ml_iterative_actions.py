"""The iterative trainers' execution contract: exactly one Spark action per
iteration, every cache a trainer creates released when it returns or
raises, parameters folded in as bit-exact double literals, and a clear
error on empty input."""

import itertools
import math
import struct

import pytest

from pyspark.sql import functions as F

from mapreduce_machine_learning_spark import ml_iterative as mli
from mapreduce_machine_learning_spark.io import load_table
from tests.conftest import SF_DIR

GMM_INIT = mli.Gmm1D(pi=(0.5, 0.5), mu=(50.0, 150.0), sigma=(25.0, 25.0))
CENTROIDS = [(50.0, 6.0), (100.0, 12.0), (150.0, 18.0)]

# name -> (columns selected from events, call(df, iters))
ITERATIVE = {
    "logreg_gd": (
        ("value / 100 AS x", "CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y"),
        lambda df, iters: mli.logreg_gd(df, ["x"], "y", lr=0.5, iters=iters),
    ),
    "logreg_irls": (
        ("value / 100 AS x", "CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y"),
        lambda df, iters: mli.logreg_irls(df, ["x"], "y", iters=iters),
    ),
    "kmeans_fit": (
        ("value", "CAST(hour(ts) AS DOUBLE) AS hr"),
        lambda df, iters: mli.kmeans_fit(df, ["value", "hr"], CENTROIDS, iters=iters),
    ),
    "gmm_em_1d": (
        ("value",),
        lambda df, iters: mli.gmm_em_1d(df, "value", GMM_INIT, iters=iters),
    ),
}


_TAGS = itertools.count()


def _events(spark, name):
    """A trainer's input with a plan of its own (the tag column), so that no
    cache left behind by another call can match it."""
    cols = ITERATIVE[name][0] + (f"{next(_TAGS)} AS tag",)
    return load_table(spark, SF_DIR, "events").selectExpr(*cols)


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def _last_execution_id(spark) -> int:
    # ids are monotonic while the store keeps only the newest
    # spark.sql.ui.retainedExecutions entries; drain the bus first, since
    # executions register asynchronously
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30000)
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return execs.apply(execs.size() - 1).executionId() if execs.size() else -1


@pytest.mark.parametrize("name", sorted(ITERATIVE))
def test_trainer_releases_its_cache(spark, name):
    before = _persisted(spark)
    ITERATIVE[name][1](_events(spark, name), 2)
    assert _persisted(spark) == before


@pytest.mark.parametrize("name", sorted(ITERATIVE))
def test_trainer_releases_its_cache_when_it_raises(spark, name, monkeypatch):
    df = _events(spark, name)
    collect = type(df).collect
    calls = []

    def failing_second_collect(self):
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("injected failure in iteration 2")
        return collect(self)

    before = _persisted(spark)
    monkeypatch.setattr(type(df), "collect", failing_second_collect)
    with pytest.raises(RuntimeError, match="injected"):
        ITERATIVE[name][1](df, 3)
    monkeypatch.undo()
    assert len(calls) == 2
    assert _persisted(spark) == before


@pytest.mark.parametrize("name", sorted(ITERATIVE))
def test_trainer_keeps_the_callers_cache(spark, name):
    df = _events(spark, name).cache()
    try:
        df.count()
        before = _persisted(spark)
        ITERATIVE[name][1](df, 1)
        assert df.storageLevel.useMemory
        assert _persisted(spark) == before
    finally:
        df.unpersist(blocking=True)


def test_trainer_leaves_an_already_cached_projection_cached(spark):
    """A projection equal to the trainer's own that the caller cached first
    is read as is and not released."""
    df = _events(spark, "gmm_em_1d")
    proj = mli._project(df, ["value"]).cache()
    try:
        proj.count()
        mli.gmm_em_1d(df, "value", GMM_INIT, iters=1)
        assert proj.storageLevel.useMemory
    finally:
        proj.unpersist(blocking=True)


@pytest.mark.parametrize("name", sorted(ITERATIVE))
@pytest.mark.parametrize("iters", [1, 3])
def test_one_sql_execution_per_iteration(spark, name, iters):
    df = _events(spark, name)
    start = _last_execution_id(spark)
    ITERATIVE[name][1](df, iters)
    assert _last_execution_id(spark) - start == iters


def test_gaussian_nb_fit_is_one_sql_execution(spark):
    df = load_table(spark, SF_DIR, "events")
    start = _last_execution_id(spark)
    params = mli.gaussian_nb_fit(df, "event_type", "value")
    assert _last_execution_id(spark) - start == 1
    assert abs(sum(prior for prior, _, _ in params.values()) - 1.0) < 1e-12


@pytest.mark.parametrize(
    "v", [-0.0, 0.0, 5e-324, 1e-05, 1e22, 0.1, -2.5, 1.7976931348623157e308,
          math.nan, math.inf, -math.inf]
)
def test_double_literal_round_trips_bit_exactly(spark, v):
    got = spark.sql(f"SELECT {mli._lit(v)} AS v").collect()[0]["v"]
    assert struct.pack("<d", got) == struct.pack("<d", v)
    # negative literals must survive following a binary operator
    got = spark.sql(f"SELECT 1.0D * {mli._lit(v)} AS v").collect()[0]["v"]
    assert struct.pack("<d", got) == struct.pack("<d", 1.0 * v)


def test_null_literal_is_a_typed_null(spark):
    row = spark.sql(f"SELECT {mli._lit(None)} AS v").collect()[0]
    assert row["v"] is None


@pytest.mark.parametrize(
    "name,call",
    [
        ("linreg_normal", lambda df: mli.linreg_normal(df, ["x"], "y")),
        ("logreg_gd", lambda df: mli.logreg_gd(df, ["x"], "y", iters=2)),
        ("logreg_irls", lambda df: mli.logreg_irls(df, ["x"], "y", iters=2)),
        ("gmm_em_1d", lambda df: mli.gmm_em_1d(df, "x", GMM_INIT, iters=2)),
    ],
)
def test_empty_input_raises_value_error_naming_the_trainer(spark, name, call):
    empty = spark.createDataFrame([], "x double, y double")
    before = _persisted(spark)
    with pytest.raises(ValueError, match=name):
        call(empty)
    assert _persisted(spark) == before


def test_kmeans_empty_input_keeps_the_initial_centroids(spark):
    empty = spark.createDataFrame([], "a double, b double")
    cents, sizes = mli.kmeans_fit(empty, ["a", "b"], CENTROIDS, iters=2)
    assert cents == CENTROIDS and sizes == [0, 0, 0]


def test_kmeans_assignment_matches_kmeans_assign(spark):
    """The fit's struct argmin and ``kmeans_assign``'s CASE chain agree on
    ties (lowest id), null features (cluster 0) and NaN (largest)."""
    rows = [
        (0.0, 0.0),
        (5.0, 0.0),  # equidistant from centroids 0 and 1 -> 0
        (15.0, 0.0),  # equidistant from centroids 1 and 2 -> 1
        (20.0, 0.0),
        (None, 3.0),  # null feature -> cluster 0
        (float("nan"), 1.0),  # NaN distance everywhere -> cluster 0
        (19.0, 1.0),
    ]
    df = spark.createDataFrame(rows, "a double, b double")
    init = [(0.0, 0.0), (10.0, 0.0), (20.0, 0.0)]
    cents, sizes = mli.kmeans_fit(df, ["a", "b"], init, iters=1)

    assigned = mli.kmeans_assign(df, ["a", "b"], init)
    by_cluster = {
        r["cluster"]: r
        for r in assigned.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n"), F.avg("a").alias("a"), F.avg("b").alias("b"))
        .collect()
    }
    assert sizes == [by_cluster[i]["n"] if i in by_cluster else 0 for i in range(3)]
    assert sizes == [4, 1, 2]
    for i in range(3):
        if i in by_cluster:
            want = (by_cluster[i]["a"], by_cluster[i]["b"])
            assert all(
                (math.isnan(g) and math.isnan(w)) or g == w for g, w in zip(cents[i], want)
            )
