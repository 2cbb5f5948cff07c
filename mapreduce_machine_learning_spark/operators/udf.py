"""UDF / UDAF / UDTF surface (SURVEY.md §2.10).

These four queries deliberately exercise every Python-execution path Spark
offers — row UDF (pickled batches), scalar pandas_udf (Arrow), grouped-map
applyInPandas (Arrow, one pandas frame per group), and a Python UDTF — because
the engine's rule everywhere else is the opposite: *stay JVM-side*. The
docstrings note the per-path cost so the trade-off is explicit.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from mapreduce_machine_learning_spark.determinism import r6
from mapreduce_machine_learning_spark.io import load_table as T, worker_prelude
from mapreduce_machine_learning_spark.registry import query


@query(
    "q_udf_python",
    oracle="""
    SELECT substr(LOWER(TRIM(c_name)), 18, 1) AS last_digit,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           MIN(LOWER(TRIM(c_name))) AS min_norm
    FROM customer
    GROUP BY last_digit
    """,
)
def q_udf_python(spark, sf_dir):
    """Row-at-a-time Python UDF normalize(s) = lower(trim(s)). This is the
    SLOW path — one Python call per row over pickled batches, opaque to
    Catalyst (no pushdown through it, no codegen). It exists to prove the
    surface; q_udf_pandas is the same idea done right."""

    @F.udf(returnType=StringType())
    def normalize(s: str) -> str:
        return s.strip().lower() if s is not None else None

    c = T(spark, sf_dir, "customer")
    return (
        c.select(normalize("c_name").alias("norm"))
        .select(F.substring("norm", 18, 1).alias("last_digit"), "norm")
        .groupBy("last_digit")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("norm").alias("min_norm"),
        )
    )


@query(
    "q_udf_pandas",
    oracle="""
    SELECT event_type,
           ROUND(SUM(value * (CAST(json_extract_string(props, '$.k') AS INTEGER)
                              + 1)), 6) AS weighted_sum
    FROM events
    GROUP BY event_type
    """,
)
def q_udf_pandas(spark, sf_dir):
    """Vectorized scalar pandas_udf: value · (k+1), with k pre-extracted
    JVM-side from the props JSON. Arrow-batched columnar transfer — the
    10-100× faster Python path (SURVEY §2.10); numpy does the multiply on
    whole batches."""

    @F.pandas_udf("double")
    def weight(value: pd.Series, k: pd.Series) -> pd.Series:
        worker_prelude()
        return value * (k + 1)

    e = T(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.select("event_type", weight(F.col("value"), k).alias("wv"))
        .groupBy("event_type")
        .agg(r6(F.sum("wv")).alias("weighted_sum"))
    )


@query(
    "q_udaf_grouplinfit",
    oracle="""
    SELECT event_type,
           ROUND(regr_slope(value, CAST(EXTRACT(HOUR FROM ts) AS DOUBLE)), 6)
               AS slope,
           ROUND(regr_intercept(value, CAST(EXTRACT(HOUR FROM ts) AS DOUBLE)), 6)
               AS intercept
    FROM events
    GROUP BY event_type
    """,
)
def q_udaf_grouplinfit(spark, sf_dir):
    """Grouped-map applyInPandas: per event_type, closed-form OLS of value on
    hour-of-day computed in pandas (centered form — matches regr_slope).
    Each group arrives as one Arrow-backed pandas frame; at 100 TB you'd
    bound group size or pre-aggregate, since a group must fit in one
    executor's memory — for bounded sufficient statistics like this one the
    pure-agg formulation (q_ml_linreg_stats) is the scale path."""
    e = T(spark, sf_dir, "events").select(
        "event_type",
        F.col("value"),
        F.hour("ts").cast("double").alias("hr"),
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        worker_prelude()
        x, y = pdf["hr"], pdf["value"]
        xm, ym = x.mean(), y.mean()
        sxx = ((x - xm) ** 2).sum()
        slope = ((x - xm) * (y - ym)).sum() / sxx
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "slope": [round(slope, 6)],
                "intercept": [round(ym - slope * xm, 6)],
            }
        )

    return e.groupBy("event_type").applyInPandas(
        fit, "event_type string, slope double, intercept double"
    )


@query(
    "q_udtf_expand",
    oracle="""
    WITH expanded AS (
        SELECT doc_id,
               UNNEST(string_split(text, ' ')) AS token,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS total_rows,
           CAST(COUNT(DISTINCT token) AS BIGINT) AS distinct_tokens,
           CAST(MAX(pos) AS BIGINT) AS max_pos
    FROM expanded
    """,
)
def q_udtf_expand(spark, sf_dir):
    """Table-function expansion of documents into (doc_id, token, position)
    rows, folded to totals. Uses the built-in posexplode generator — the
    JVM-side UDTF shape (SURVEY §2.10 sanctions this over the Python @udtf,
    whose per-partition Arrow handshake adds cost without changing
    semantics; the Python-@udtf variant is exercised in
    tests/test_udf_surface.py). Positions are 1-based to match
    generate_subscripts."""
    d = T(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            F.posexplode(F.split("text", " ")).alias("pos0", "token"),
        )
        .select("doc_id", "token", (F.col("pos0") + 1).alias("pos"))
        .agg(
            F.count(F.lit(1)).alias("total_rows"),
            F.countDistinct("token").alias("distinct_tokens"),
            F.max("pos").cast("bigint").alias("max_pos"),
        )
    )
