"""Plans built from SQL text: the vector helpers in `functions` and the
probe literals are one `F.expr` parse each instead of a py4j call per
Column node. The text must build the same expressions — bit-identical
results against the Column-built form on adversarial arrays, every double
surviving the array literal exactly — and the kNN queries must stay
within a py4j call budget at plan build."""

import gc
import math
import struct

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mapreduce_machine_learning_spark import functions as vf
from mapreduce_machine_learning_spark import runtime
from mapreduce_machine_learning_spark.determinism import sql_array
from mapreduce_machine_learning_spark.registry import all_queries
from tests.conftest import SF_DIR


def _same_double(x, y):
    if x is None or y is None:
        return x is None and y is None
    if math.isnan(x) or math.isnan(y):
        return math.isnan(x) and math.isnan(y)
    return struct.pack("<d", x) == struct.pack("<d", y)


# The Column-built form the SQL text replaced, kept as the reference.
def _col_dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, z: acc + z,
    )


def _col_sqnorm(a):
    return F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, z: acc + z,
    )


def _col_cosine(a, b):
    return _col_dot(a, b) / (F.sqrt(_col_sqnorm(a)) * F.sqrt(_col_sqnorm(b)))


_ADVERSARIAL = [
    -0.0,
    0.0,
    5e-324,
    -2.2250738585072e-308,
    1e-310,
    1e300,
    -1e300,
    1.7976931348623157e308,
    0.1,
    -3.5,
    1e-20,
]


def test_vector_helpers_match_column_form_bit_for_bit(spark):
    import random

    rng = random.Random(11)
    rows = []
    for i in range(60):
        n = rng.choice([1, 3, 8])
        a = [
            rng.choice(_ADVERSARIAL) * rng.choice([1.0, rng.random()])
            for _ in range(n)
        ]
        b = [rng.choice(_ADVERSARIAL) for _ in range(n)]
        rows.append((i, a, b))
    rows.append((60, [-0.0, -0.0], [-0.0, 0.0]))
    rows.append((61, [1e300, 1e300], [-1e300, 1e300]))
    rows.append((62, [5e-324], [5e-324]))
    df = spark.createDataFrame(rows, "id long, a array<double>, b array<double>")
    # float arrays too, like the embeddings column
    df = df.withColumn("fa", F.col("a").cast("array<float>")).withColumn(
        "fb", F.col("b").cast("array<float>")
    )
    # cosine only where both norms are nonzero: its caller guards zero
    # vectors, and ANSI mode raises on the division
    nonzero = (_col_sqnorm("a") > 0) & (_col_sqnorm("b") > 0)
    nonzero &= (_col_sqnorm("fa") > 0) & (_col_sqnorm("fb") > 0)
    vals = []
    for frame, helpers in (
        (df, [("dot", vf.dot, _col_dot)]),
        (df.filter(nonzero), [("cos", vf.cosine, _col_cosine)]),
        (
            df,
            [
                ("sq", lambda x, _: vf.sqnorm(x), lambda x, _: _col_sqnorm(x)),
                (
                    "l2",
                    lambda x, _: vf.l2norm(x),
                    lambda x, _: F.sqrt(_col_sqnorm(x)),
                ),
            ],
        ),
    ):
        cols = [
            col
            for x, y in (("a", "b"), ("fa", "fb"))
            for name, new, old in helpers
            for col in (
                new(x, y).alias(f"{name}_{x}_new"),
                old(x, y).alias(f"{name}_{x}_old"),
            )
        ]
        out = frame.select("id", *cols)
        types = dict(out.dtypes)
        got = out.collect()
        assert len(got) > 20
        for row in got:
            for c in out.columns[1::2]:
                ref = c[: -len("_new")] + "_old"
                assert types[c] == types[ref] == "double", (c, types[c])
                assert _same_double(row[c], row[ref]), (row["id"], c, row[c])
                vals.append(row[c])
    # the adversarial rows reach overflow, NaN and subnormal results
    assert any(math.isinf(v) for v in vals)
    assert any(math.isnan(v) for v in vals)
    assert any(0 < abs(v) < 2.2250738585072014e-308 for v in vals)
    assert len(vals) > 200


_DOUBLES = st.floats(allow_nan=True, allow_infinity=True)


@given(values=st.lists(_DOUBLES, min_size=1, max_size=12))
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_array_literal_round_trips_every_double(spark, values):
    got = spark.sql(f"SELECT {sql_array(values)} AS v").collect()[0]["v"]
    assert len(got) == len(values)
    assert all(_same_double(g, v) for g, v in zip(got, values)), (got, values)


def test_array_literal_edges(spark):
    edges = [-0.0, 5e-324, -5e-324, 2.2250738585072014e-308, 1e300, -1e300]
    row = spark.sql(
        f"SELECT {sql_array(edges)} AS e, {sql_array(None)} AS n"
    ).collect()[0]
    assert all(_same_double(g, v) for g, v in zip(row["e"], edges))
    assert row["n"] is None
    schema = spark.sql(f"SELECT {sql_array(edges)} AS e").schema
    assert schema["e"].dataType.simpleString() == "array<double>"


# Python->JVM calls that building each kNN plan may make: about 1.5x the
# counts measured under plan_audit_mode (140, 104, 104). A query vector
# built one F.lit at a time (~720-780 calls) or a cosine built from
# PySpark lambdas (~460) does not fit.
_PY4J_CEILING = {
    "q_ml_knn": 210,
    "q_llm_ann_knn": 160,
    "q_llm_ann_ivf_knn": 160,
}


def test_knn_plan_build_py4j_budget(spark):
    from py4j import protocol

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    detach = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
    calls = [0]

    def counting(command, *args, **kwargs):
        if not command.startswith(detach):
            calls[0] += 1
        return send(command, *args, **kwargs)

    queries = all_queries()
    counts = {}
    runtime.plan_audit_mode(True)
    client.send_command = counting
    try:
        for name in _PY4J_CEILING:
            queries[name](spark, SF_DIR)  # warm the table and schema caches
            gc.disable()
            calls[0] = 0
            try:
                queries[name](spark, SF_DIR)
            finally:
                gc.enable()
            counts[name] = calls[0]
    finally:
        del client.send_command
        runtime.plan_audit_mode(False)
    assert all(
        0 < counts[name] <= ceiling for name, ceiling in _PY4J_CEILING.items()
    ), counts
