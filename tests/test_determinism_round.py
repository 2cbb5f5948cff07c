"""np_r6 (the Arrow-kernel rounding used by the blocked-cosine threshold
cut, `llm._make_score_kernel`, and the IVF cell ranking,
`ann.make_cell_probe_kernel`; both call this one definition, which ships by
value) must be the SAME function as the oracle's DuckDB ``ROUND(x,6)``
— half away from zero, not numpy's half-to-even — so an exact-midpoint
cosine cannot flip pair membership cross-engine (ADVICE round 3).

No Spark session needed: the kernel function is pure numpy and the oracle
side is DuckDB, which is exactly the pair that must agree."""

import duckdb
import numpy as np

from mapreduce_machine_learning_spark.determinism import np_r6


def _duck_round6(xs):
    con = duckdb.connect()
    try:
        rows = con.execute(
            "SELECT ROUND(x, 6) FROM (SELECT UNNEST(?::DOUBLE[]) AS x)",
            [list(map(float, xs))],
        ).fetchall()
    finally:
        con.close()
    return np.array([r[0] for r in rows], dtype="float64")


def test_np_r6_matches_duckdb_on_midpoints():
    # decimal-string midpoints at the 7th place, both signs: the exact
    # case where np.round (half-to-even) diverges from ROUND
    xs = []
    for k in range(0, 40):
        xs.append(k / 2 * 1e-6 + 5e-7)  # …5 midpoints near zero
        xs.append(float(f"0.123456{k % 10}5"))
        xs.append(float(f"{k}.0000005"))
    xs = np.array(xs + [-x for x in xs], dtype="float64")
    got = np_r6(xs)
    want = _duck_round6(xs)
    np.testing.assert_array_equal(got, want)


def test_np_r6_matches_duckdb_on_random_cosines():
    rng = np.random.default_rng(42)
    xs = rng.uniform(-1.0, 1.0, size=5000)
    np.testing.assert_array_equal(np_r6(xs), _duck_round6(xs))


def test_np_r6_diverges_from_np_round_where_it_matters():
    # sanity: the bug was real — on a tie that the shortest-decimal double
    # actually lands ON, np.round goes to even while np_r6 goes away from
    # zero. 0.5e-6 is exactly representable scaled: 0.5*1e-6*1e6 == 0.5.
    x = np.array([0.5e-6, 1.5e-6, -0.5e-6])
    assert list(np_r6(x)) == [1e-6, 2e-6, -1e-6]
    assert list(np.round(x, 6)) != list(np_r6(x))


def _spark_round6(spark, xs):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, float(x)) for i, x in enumerate(xs)], "i long, x double"
    )
    rows = df.select("i", F.round("x", 6).alias("r")).collect()
    out = np.empty(len(xs), dtype="float64")
    for r in rows:
        out[r.i] = r.r
    return out


def test_np_r6_matches_spark_round_on_random_cosines(spark):
    """Three-engine pin (ADVICE round 4): on realistic real-valued inputs
    np_r6, DuckDB ROUND, and Spark F.round all agree exactly."""
    rng = np.random.default_rng(7)
    xs = rng.uniform(-1.0, 1.0, size=5000)
    got_spark = _spark_round6(spark, xs)
    np.testing.assert_array_equal(np_r6(xs), got_spark)
    np.testing.assert_array_equal(_duck_round6(xs), got_spark)


def test_np_r6_vs_spark_round_divergence_class(spark):
    """Characterize the ONE class where Spark F.round (HALF_UP on the
    shortest-decimal string) diverges from np_r6 (scaled-double rule ==
    DuckDB ROUND): doubles whose true value and whose x*1e6 product sit on
    opposite sides of a 7th-decimal midpoint. Every divergence on the
    adversarial grid must belong to that class, np_r6 must still equal
    DuckDB everywhere (the oracle contract), and the known exemplars must
    diverge exactly as documented in determinism.py."""
    xs = []
    for k in range(0, 40):
        xs.append(k / 2 * 1e-6 + 5e-7)
        xs.append(float(f"0.123456{k % 10}5"))
        xs.append(float(f"{k}.0000005"))
    mids = np.array([float(f"0.123456{k % 10}5") for k in range(40)])
    xs = np.array(
        xs
        + [-x for x in xs]
        + list(np.nextafter(mids, 0))
        + list(np.nextafter(mids, 2)),
        dtype="float64",
    )
    got_np = np_r6(xs)
    got_spark = _spark_round6(spark, xs)
    # the oracle contract holds unconditionally
    np.testing.assert_array_equal(got_np, _duck_round6(xs))
    diff = np.where(got_np != got_spark)[0]
    for i in diff:
        scaled = xs[i] * 1e6
        # membership in the documented class: the scaled product lands
        # exactly on a .5 midpoint (multiply rounded ONTO the boundary) or
        # the shortest-decimal literal is a midpoint while the product is
        # not — either way |scaled - nearest .5 midpoint| is sub-ulp
        frac = abs(abs(scaled) - np.floor(abs(scaled)) - 0.5)
        # sub-ulp OF THE SCALED VALUE: the boundary miss comes from the
        # x*1e6 multiply, whose rounding error is bounded by spacing(scaled)
        assert frac <= 4 * np.spacing(abs(scaled)), (
            xs[i],
            got_np[i],
            got_spark[i],
        )
    # known exemplars stay pinned (regression canary for either engine)
    ex = np.array([4.0000005, 2.4999999999999998e-06])
    np.testing.assert_array_equal(np_r6(ex), [4.0, 3e-06])
    np.testing.assert_array_equal(_spark_round6(spark, ex), [4.000001, 2e-06])
