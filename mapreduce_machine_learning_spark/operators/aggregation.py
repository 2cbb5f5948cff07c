"""Aggregation surface (SURVEY.md §2.3).

This is the heart of the reference's capability: every reference algorithm is
"scan → per-record transform → keyed partial aggregation → global aggregation"
(mrjob in-mapper combining, SURVEY.md §4). In Spark each ``groupBy().agg()``
compiles to a partial ``HashAggregateExec`` before the Exchange and a final one
after — map-side combine for free, shuffling only one row per (partition, key)
rather than the data. At 100 TB that is the difference between shuffling
kilobytes of sufficient statistics and shuffling the table.

Scale notes per query are inline; nothing here uses Python UDFs — all
whole-stage-codegen JVM expressions.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from mapreduce_machine_learning_spark.determinism import REVENUE_SQL, r0, r6, revenue, rmil
from mapreduce_machine_learning_spark.io import load_table as T
from mapreduce_machine_learning_spark.registry import query
from mapreduce_machine_learning_spark.runtime import checkpoint as _ckpt


@query(
    "q_agg_global",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(l_quantity), 6) AS sum_x,
           ROUND(SUM(l_extendedprice), 0) AS sum_y,
           ROUND(SUM(l_quantity * l_quantity), 6) AS sum_xx,
           ROUND(SUM(l_quantity * l_extendedprice), 0) AS sum_xy,
           ROUND(SUM(l_extendedprice * l_extendedprice) / 1000000.0, 3) AS sum_yy_mil
    FROM lineitem
    """,
)
def q_agg_global(spark, sf_dir):
    """Global sufficient statistics (n, Σx, Σy, Σxx, Σxy, Σyy) — the exact
    summation-form kernel of the reference's normal-equation linear regression
    (Chu et al. NIPS'06). One pass, partial+final agg, zero shuffle of data
    rows: each of 32 (or 100k) partitions emits one 6-number row."""
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    return T(spark, sf_dir, "lineitem").agg(
        F.count(F.lit(1)).alias("n"),
        r6(F.sum(x)).alias("sum_x"),
        r0(F.sum(y)).alias("sum_y"),
        r6(F.sum(x * x)).alias("sum_xx"),
        r0(F.sum(x * y)).alias("sum_xy"),
        rmil(F.sum(y * y)).alias("sum_yy_mil"),
    )


@query(
    "q_agg_group",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 6) AS sum_qty,
           ROUND(SUM(l_extendedprice), 0) AS sum_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 0) AS sum_disc_price,
           ROUND(AVG(l_quantity), 6) AS avg_qty,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_agg_group(spark, sf_dir):
    """FLAGSHIP: TPC-H-Q1-style pricing summary. Filter reaches the parquet
    scan (pushed `l_shipdate <=` predicate); 6 groups → the shuffle moves six
    rows per partition."""
    li = T(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            r6(F.sum("l_quantity")).alias("sum_qty"),
            r0(F.sum("l_extendedprice")).alias("sum_price"),
            r0(F.sum(revenue())).alias("sum_disc_price"),
            r6(F.avg("l_quantity")).alias("avg_qty"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )


@query(
    "q_agg_distinct",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users
    FROM events
    GROUP BY event_type
    """,
)
def q_agg_distinct(spark, sf_dir):
    """COUNT(DISTINCT) — Catalyst plans the two-phase expand+agg rewrite; at
    scale prefer approx_count_distinct (q_agg_approx) when exactness isn't
    required, since exact distinct shuffles every distinct (type, user) pair."""
    return (
        T(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.countDistinct("user_id").alias("users"),
        )
    )


@query(
    "q_agg_having",
    oracle=f"""
    SELECT c_mktsegment, ROUND(SUM({REVENUE_SQL}), 0) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY c_mktsegment
    HAVING SUM({REVENUE_SQL}) > 600000000.0
    """,
)
def q_agg_having(spark, sf_dir):
    """HAVING = filter over the aggregated frame. The customer join is
    broadcast (customer is the small dim vs lineitem fact)."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem")
    return (
        F.broadcast(c)
        .join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("c_mktsegment")
        .agg(F.sum(revenue()).alias("_rev"))
        .filter(F.col("_rev") > 600000000.0)
        .select("c_mktsegment", r0(F.col("_rev")).alias("revenue"))
    )


@query(
    "q_agg_stats",
    oracle="""
    SELECT o_orderstatus,
           ROUND(AVG(o_totalprice), 6) AS avg_price,
           ROUND(VAR_SAMP(o_totalprice), 0) AS var_price,
           ROUND(STDDEV_SAMP(o_totalprice), 6) AS std_price,
           ROUND(MIN(o_totalprice), 6) AS min_price,
           ROUND(MAX(o_totalprice), 6) AS max_price
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q_agg_stats(spark, sf_dir):
    """Per-class moment kernel — the same one-pass class statistics the
    reference's naive-Bayes/GDA jobs compute (SURVEY.md §2.6 reuses it)."""
    return (
        T(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            r6(F.avg("o_totalprice")).alias("avg_price"),
            r0(F.var_samp("o_totalprice")).alias("var_price"),
            r6(F.stddev_samp("o_totalprice")).alias("std_price"),
            r6(F.min("o_totalprice")).alias("min_price"),
            r6(F.max("o_totalprice")).alias("max_price"),
        )
    )


@query(
    "q_agg_rollup",
    oracle="""
    SELECT COALESCE(r_name, '(all)') AS region_name,
           COALESCE(n_name, '(all)') AS nation_name,
           CAST(COUNT(*) AS BIGINT) AS customers
    FROM region
    JOIN nation ON r_regionkey = n_regionkey
    JOIN customer ON n_nationkey = c_nationkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def q_agg_rollup(spark, sf_dir):
    """ROLLUP over the region→nation dimension path. Dimension joins are
    broadcast (region=5, nation=25 rows — trivially under the 10 MB broadcast
    threshold even at 100 TB fact scale). Data has no NULL dim values, so
    COALESCE sentinels disambiguate subtotal rows deterministically."""
    r = T(spark, sf_dir, "region")
    n = T(spark, sf_dir, "nation")
    c = T(spark, sf_dir, "customer")
    return (
        c.join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
        .join(F.broadcast(r), F.col("r_regionkey") == F.col("n_regionkey"))
        .rollup("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("customers"))
        .select(
            F.coalesce("r_name", F.lit("(all)")).alias("region_name"),
            F.coalesce("n_name", F.lit("(all)")).alias("nation_name"),
            "customers",
        )
    )


@query(
    "q_agg_cube",
    oracle="""
    SELECT COALESCE(l_returnflag, '(all)') AS returnflag,
           COALESCE(l_linestatus, '(all)') AS linestatus,
           ROUND(SUM(l_quantity), 6) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_agg_cube(spark, sf_dir):
    return (
        T(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(r6(F.sum("l_quantity")).alias("sum_qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("(all)")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("(all)")).alias("linestatus"),
            "sum_qty",
        )
    )


@query(
    "q_agg_gsets",
    oracle="""
    SELECT COALESCE(p_type, '(all)') AS type_name,
           COALESCE(p_brand, '(all)') AS brand_name,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           ROUND(AVG(p_retailprice), 6) AS avg_price
    FROM part
    GROUP BY GROUPING SETS ((p_type), (p_brand), ())
    """,
)
def q_agg_gsets(spark, sf_dir):
    """GROUPING SETS via spark.sql — Catalyst expands to a single Expand +
    aggregate (one scan feeding all three groupings, not three scans)."""
    T(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(
        """
        SELECT COALESCE(p_type, '(all)') AS type_name,
               COALESCE(p_brand, '(all)') AS brand_name,
               COUNT(*) AS cnt,
               ROUND(AVG(p_retailprice), 6) AS avg_price
        FROM part
        GROUP BY GROUPING SETS ((p_type), (p_brand), ())
        """
    )


@query("q_agg_approx")  # rows-only: HLL++ sketch differs from DuckDB's
def q_agg_approx(spark, sf_dir):
    """approx_count_distinct (HyperLogLog++). The 100 TB answer to
    q_agg_distinct: fixed-size sketch per group, mergeable, no expand. Sketches
    are engine-specific so this is a rows-only check (SURVEY.md §2.3)."""
    return (
        T(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.approx_count_distinct("user_id").alias("approx_users"))
    )


@query(
    "q_agg_percentile",
    oracle="""
    SELECT o_orderstatus,
           ROUND(quantile_cont(o_totalprice, 0.25), 6) AS p25,
           ROUND(quantile_cont(o_totalprice, 0.5), 6) AS p50,
           ROUND(quantile_cont(o_totalprice, 0.75), 6) AS p75
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q_agg_percentile(spark, sf_dir):
    """Exact interpolated quartiles per order status — Spark `percentile` ↔
    DuckDB `quantile_cont` use the same linear interpolation (verified exact
    at sf0.01). Exact percentile sorts each group; the 100 TB substitute is
    `percentile_approx` (mergeable t-digest-style sketch, no group sort) —
    same query shape, rows-only check, like q_agg_approx."""
    return (
        T(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            r6(F.percentile("o_totalprice", F.lit(0.25))).alias("p25"),
            r6(F.percentile("o_totalprice", F.lit(0.5))).alias("p50"),
            r6(F.percentile("o_totalprice", F.lit(0.75))).alias("p75"),
        )
    )


@query(
    "q_agg_pivot",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 6)
               AS qty_f,
           ROUND(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 6)
               AS qty_o
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_pivot(spark, sf_dir):
    """PIVOT: line status becomes columns. The explicit value list matters at
    scale — without it Spark runs an extra distinct-values job before the
    real aggregation; with it the pivot is a single pass of conditional
    aggregates (exactly the oracle's CASE formulation)."""
    return (
        T(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(r6(F.sum("l_quantity")))
        .withColumnRenamed("F", "qty_f")
        .withColumnRenamed("O", "qty_o")
    )


@query(
    "q_agg_collect",
    oracle="""
    SELECT c_mktsegment,
           array_to_string((list_sort(list(c_custkey)))[1:3], ',')
               AS first_keys,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def q_agg_collect(spark, sf_dir):
    """Array aggregation with a deterministic in-array order: the 3 smallest
    custkeys per segment. collect_list order is partition-dependent, so the
    sort_array makes it reproducible — the rule for ANY array_agg at scale.
    The array is serialized to a comma-joined string because the driver's
    order-insensitive hasher requires hashable (flat) cell values
    (VERDICT.md round 1, "What's wrong")."""
    return (
        T(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.concat_ws(
                ",", F.slice(F.sort_array(F.collect_list("c_custkey")), 1, 3)
            ).alias("first_keys"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )


@query("q_agg_approx_percentile")  # rows-only: sketch is engine-specific
def q_agg_approx_percentile(spark, sf_dir):
    """percentile_approx — the 100 TB twin of q_agg_percentile: a mergeable
    quantile sketch (Greenwald-Khanna) instead of a per-group sort, so it
    composes with partial aggregation like any algebraic function. Sketch
    internals are engine-specific → rows-only check (like q_agg_approx)."""
    return (
        T(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            r6(
                F.percentile_approx("o_totalprice", F.lit(0.5), F.lit(1000))
            ).alias("p50_approx"),
        )
    )


@query(
    "q_agg_unpivot",
    oracle="""
    SELECT l_returnflag, measure, ROUND(SUM(val), 0) AS total
    FROM (
        SELECT l_returnflag, 'quantity' AS measure, l_quantity AS val
        FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'extendedprice', l_extendedprice FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'tax', l_tax FROM lineitem
    )
    GROUP BY l_returnflag, measure
    """,
)
def q_agg_unpivot(spark, sf_dir):
    """UNPIVOT (melt): wide measures become (measure, value) rows —
    DataFrame.unpivot generates the rows in one Expand pass over a single
    scan, where the oracle's UNION ALL formulation scans three times."""
    return (
        T(spark, sf_dir, "lineitem")
        .unpivot(
            "l_returnflag",
            ["l_quantity", "l_extendedprice", "l_tax"],
            "measure",
            "val",
        )
        .withColumn("measure", F.regexp_replace("measure", "^l_", ""))
        .groupBy("l_returnflag", "measure")
        .agg(r0(F.sum("val")).alias("total"))
    )


@query(
    "q_agg_argmax",
    oracle="""
    SELECT c_mktsegment,
           arg_max(c_name, c_acctbal) AS richest,
           arg_min(c_name, c_acctbal) AS poorest,
           ROUND(MAX(c_acctbal), 6) AS max_bal
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def q_agg_argmax(spark, sf_dir):
    """max_by/min_by (argmax aggregates) — fetch the witness row's column in
    the same pass instead of a self-join back on the max. Account balances
    are distinct at this scale, so the witness is unique and deterministic;
    with ties you'd add a tie-break column to the ordering value."""
    c = T(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.max_by("c_name", "c_acctbal").alias("richest"),
        F.min_by("c_name", "c_acctbal").alias("poorest"),
        r6(F.max("c_acctbal")).alias("max_bal"),
    )


@query(
    "q_agg_mode",
    oracle="""
    SELECT o_orderstatus, o_orderpriority AS top_priority,
           CAST(cnt AS BIGINT) AS cnt
    FROM (
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt,
               ROW_NUMBER() OVER (
                   PARTITION BY o_orderstatus
                   ORDER BY COUNT(*) DESC, o_orderpriority) AS rn
        FROM orders
        GROUP BY o_orderstatus, o_orderpriority
    ) WHERE rn = 1
    """,
)
def q_agg_mode(spark, sf_dir):
    """Deterministic mode: the most frequent order priority per status.
    Built as count + row_number instead of the engines' native mode()
    aggregates, whose tie-breaking is unspecified — here ties resolve to the
    lexicographically smallest value on both sides. The window runs over the
    tiny (status, priority) aggregate, not the fact table, so the sort input
    is bounded by the key-combination count no matter how large orders is."""
    from pyspark.sql import Window

    o = T(spark, sf_dir, "orders")
    counted = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("cnt"), "o_orderpriority"
    )
    return (
        counted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("top_priority"),
            "cnt",
        )
    )


@query(
    "q_agg_corr",
    oracle="""
    SELECT l_returnflag,
           ROUND(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
           ROUND(covar_samp(l_quantity, l_extendedprice), 0) AS qty_price_covar,
           ROUND(regr_slope(l_extendedprice, l_quantity), 6) AS price_per_unit
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_corr(spark, sf_dir):
    """Bivariate statistics per return flag: Pearson correlation, sample
    covariance, and the OLS slope of price on quantity — the same moment
    sums (Σx, Σy, Σxy, Σxx) the §2.6 ML kernels accumulate, here via the
    engines' native one-pass aggregates. Rounding policy: corr and slope are
    ratio-normalized (round-6 safe); the raw covariance reaches ~1e4 with
    cross-engine FP noise above 1e-6, so it rounds to integers (r0)."""
    li = T(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        r6(F.corr("l_quantity", "l_extendedprice")).alias("qty_price_corr"),
        r0(F.covar_samp("l_quantity", "l_extendedprice")).alias(
            "qty_price_covar"
        ),
        r6(F.regr_slope("l_extendedprice", "l_quantity")).alias(
            "price_per_unit"
        ),
    )


@query(
    "q_agg_moments",
    oracle="""
    WITH s AS (
        SELECT event_type,
               COUNT(*)::DOUBLE AS n,
               SUM(value) AS s1,
               SUM(value * value) AS s2,
               SUM(value * value * value) AS s3
        FROM events GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS cnt,
           ROUND(s1 / n, 6) AS mean,
           ROUND((s2 / n) - (s1 / n) * (s1 / n), 6) AS var_pop,
           ROUND(((s3 / n) - 3 * (s1 / n) * (s2 / n)
                  + 2 * (s1 / n) * (s1 / n) * (s1 / n))
                 / POW((s2 / n) - (s1 / n) * (s1 / n), 1.5), 6) AS skewness
    FROM s
    """,
)
def q_agg_moments(spark, sf_dir):
    """Higher moments in SUMMATION FORM — the Chu et al. pattern the
    reference's every algorithm follows: accumulate power sums (n, Σx, Σx²,
    Σx³) in one partial+final hash-agg pass, derive mean / population
    variance / skewness g1 from them afterward. Deliberately NOT the engines'
    native skewness(): Spark and DuckDB apply different bias corrections, so
    parity comes from both sides computing the identical raw-moment formula.
    The derived expressions are ratio-normalized (each power sum divided by
    n before combining), which keeps magnitudes ~1e2 and round-6 stable."""
    ev = T(spark, sf_dir, "events")
    v = F.col("value")
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(v).alias("s1"),
        F.sum(v * v).alias("s2"),
        F.sum(v * v * v).alias("s3"),
    )
    m1 = F.col("s1") / F.col("n")
    m2 = F.col("s2") / F.col("n")
    m3 = F.col("s3") / F.col("n")
    var_pop = m2 - m1 * m1
    return agg.select(
        "event_type",
        F.col("n").cast("bigint").alias("cnt"),
        r6(m1).alias("mean"),
        r6(var_pop).alias("var_pop"),
        r6((m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1) / F.pow(var_pop, 1.5)).alias(
            "skewness"
        ),
    )


@query(
    "q_agg_histogram",
    oracle="""
    WITH b AS (
        SELECT CAST(LEAST(FLOOR(l_extendedprice / 5000.0), 19) AS BIGINT)
                   AS bin
        FROM lineitem
    )
    SELECT bin,
           -- CAST: bare literals are DECIMAL in DuckDB; keep DOUBLE
           ROUND(bin * CAST(5000.0 AS DOUBLE), 6) AS bin_lo,
           ROUND((bin + 1) * CAST(5000.0 AS DOUBLE), 6) AS bin_hi,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM b GROUP BY bin
    """,
)
def q_agg_histogram(spark, sf_dir):
    """Fixed-width histogram of l_extendedprice (20 bins of 5000, top bin
    open) — the column-profiling pass a data pipeline runs before choosing
    normalization or outlier bounds. Binning is a pure projection (floor of
    a division by an exact-double constant — identical FP op both engines,
    no boundary risk), so the whole query is one map-side-combined hash-agg
    over ≤20 groups: at 100 TB the shuffle carries ~20 rows per partition.
    DuckDB lacks width_bucket, so both sides use the portable
    floor-clamp form."""
    bin_ = F.least(F.floor(F.col("l_extendedprice") / 5000.0), F.lit(19)).cast(
        "bigint"
    )
    return (
        T(spark, sf_dir, "lineitem")
        .select(bin_.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "bin",
            r6(F.col("bin") * 5000.0).alias("bin_lo"),
            r6((F.col("bin") + 1) * 5000.0).alias("bin_hi"),
            "cnt",
        )
    )


@query(
    "q_agg_mad",
    oracle="""
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM events GROUP BY event_type
    ),
    dev AS (
        SELECT e.event_type, e.value, m.med,
               ABS(e.value - m.med) AS adev
        FROM events e JOIN med m ON e.event_type = m.event_type
    ),
    mad AS (
        SELECT event_type, ANY_VALUE(med) AS med,
               quantile_cont(adev, 0.5) AS mad
        FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           ROUND(ANY_VALUE(d.med), 6) AS median,
           ROUND(ANY_VALUE(m.mad), 6) AS mad,
           CAST(SUM(CASE WHEN ABS(d.value - d.med)
                              > 3 * 1.4826 * m.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m ON d.event_type = m.event_type
    GROUP BY d.event_type
    """,
)
def q_agg_mad(spark, sf_dir):
    """Robust dispersion — median absolute deviation per event type, with a
    3σ-equivalent outlier count (MAD·1.4826 is the normal-consistent scale
    estimate): the robust twin of q_events_anomaly's z-score screen, immune
    to the outliers it is hunting. Two passes over the fact table by
    construction (a median cannot be composed with per-row deviations from
    it in one aggregation); each pass shuffles only per-type percentile
    state and the 5-row median frame broadcasts back onto the scan —
    the scan-side work stays map-shaped at any scale. Medians interpolate
    identically cross-engine (the q_agg_percentile-verified kernel); the
    outlier threshold compares identical doubles, so counts are exact."""
    ev = T(spark, sf_dir, "events")
    # the 5-row per-type median/MAD frames are checkpointed: both are
    # broadcast onto fact-table scans by multiple consumers, and uncached
    # each consumer re-ran the percentile pass (4 events scans measured
    # round 4; 3 with the checkpoints — the honest floor, since the MAD's
    # deviation percentile genuinely needs its own pass over the scan)
    med = _ckpt(
        ev.groupBy("event_type").agg(
            F.percentile("value", F.lit(0.5)).alias("med")
        )
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        "value",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mad = _ckpt(
        dev.groupBy("event_type").agg(
            F.percentile("adev", F.lit(0.5)).alias("mad")
        )
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            r6(F.any_value("med")).alias("median"),
            r6(F.any_value("mad")).alias("mad"),
            F.sum(
                F.when(
                    F.col("adev") > 3 * 1.4826 * F.col("mad"), 1
                ).otherwise(0)
            ).alias("n_outliers"),
        )
    )


@query(
    "q_profile_columns",
    oracle="""
    SELECT 'l_quantity' AS col,
           CAST(COUNT(*) - COUNT(l_quantity) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT l_quantity) AS BIGINT) AS n_distinct,
           MIN(l_quantity) AS min_v, MAX(l_quantity) AS max_v,
           MAX(l_quantity) - MIN(l_quantity) AS range_v
    FROM lineitem
    UNION ALL
    SELECT 'l_discount', CAST(COUNT(*) - COUNT(l_discount) AS BIGINT),
           CAST(COUNT(DISTINCT l_discount) AS BIGINT),
           MIN(l_discount), MAX(l_discount),
           MAX(l_discount) - MIN(l_discount)
    FROM lineitem
    UNION ALL
    SELECT 'l_tax', CAST(COUNT(*) - COUNT(l_tax) AS BIGINT),
           CAST(COUNT(DISTINCT l_tax) AS BIGINT),
           MIN(l_tax), MAX(l_tax), MAX(l_tax) - MIN(l_tax)
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice', CAST(COUNT(*) - COUNT(l_extendedprice)
                                   AS BIGINT),
           CAST(COUNT(DISTINCT l_extendedprice) AS BIGINT),
           MIN(l_extendedprice), MAX(l_extendedprice),
           MAX(l_extendedprice) - MIN(l_extendedprice)
    FROM lineitem
    """,
)
def q_profile_columns(spark, sf_dir):
    """Column profiler — the data-quality audit every ingestion pipeline
    runs before training: per numeric column of lineitem, null count,
    distinct cardinality, min/max/range, emitted in long form (one row per
    column). Every statistic is EXACT (no FP accumulation), so the output
    is bit-stable under any partitioning — sums/means at 1e9 magnitude
    would sit inside cross-engine FP noise (determinism.py r6 caveat) and
    belong in q_agg_stats-style per-group queries instead. The Spark plan melts the four columns with a stack() generator
    and profiles them in ONE scan + a TWO-LEVEL aggregate keyed by column
    name — at 100 TB that is 4× cheaper than the naive
    per-column-pass profiler the oracle SQL spells out, and adding a
    column to the profile adds zero extra scans. The explicit two-level
    shape (groupBy(col, v) counts, then groupBy(col)) ships 3 columns
    through the (col, v) exchange where the countDistinct rewrite
    shipped 5 — Catalyst's distinct rewrite carries partial
    min/max/null-sum alongside every (col, v) group, all derivable from
    the group key and its count; every statistic reads off the grouped
    frame exactly: n_distinct = count of non-null v groups, n_null =
    the null group's row count (r14)."""
    li = T(spark, sf_dir, "lineitem")
    melted = li.select(
        F.expr(
            "stack(4, 'l_quantity', l_quantity, 'l_discount', l_discount,"
            " 'l_tax', l_tax, 'l_extendedprice', l_extendedprice)"
            " AS (col, v)"
        )
    )
    g = melted.groupBy("col", "v").agg(F.count(F.lit(1)).alias("cnt"))
    return g.groupBy("col").agg(
        F.sum(F.when(F.col("v").isNull(), F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("n_null"),
        F.count("v").alias("n_distinct"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
        (F.max("v") - F.min("v")).alias("range_v"),
    )


@query(
    "q_agg_median_disc",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           quantile_disc(o_totalprice, 0.5) AS median_disc
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_agg_median_disc(spark, sf_dir):
    """DISCRETE median — the quantile that returns an actual data value
    (quantile_disc / lower-of-the-two semantics: the element at rank
    ⌈q·n⌉) rather than q_agg_percentile's interpolated midpoint. Spark has
    no quantile_disc aggregate, so it is derived exactly: row_number over
    (value, unique key) and pick rank ceil(n/2) — one window per group on
    the sorted partition, and because the result is a raw stored double it
    needs NO rounding contract at all (FP interpolation never happens).
    At scale the window sort is the cost; the approximate path is
    percentile_approx (rows-only, q_agg_approx_percentile)."""
    o = T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        "o_totalprice", "o_orderkey"
    )
    wn = Window.partitionBy("o_orderstatus")
    ranked = o.select(
        "o_orderstatus",
        "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return (
        ranked.filter(F.col("rn") == F.ceil(F.col("n") / 2.0))
        .select(
            "o_orderstatus",
            F.col("n").cast("bigint").alias("n"),
            F.col("o_totalprice").alias("median_disc"),
        )
    )


@query(
    "q_agg_winsorized",
    oracle="""
    WITH cuts AS (
        SELECT ROUND(quantile_cont(value, 0.05), 6) AS lo,
               ROUND(quantile_cont(value, 0.95), 6) AS hi
        FROM events
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN value < lo OR value > hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
           ROUND(AVG(value), 6) AS raw_mean,
           ROUND(AVG(LEAST(GREATEST(value, lo), hi)), 6)
               AS winsorized_mean
    FROM events, cuts
    """,
)
def q_agg_winsorized(spark, sf_dir):
    """Winsorized mean — the robust average that clips (not drops) values
    outside the [P5, P95] band before averaging, the standard guard
    against heavy-tailed metrics wrecking an A/B readout (the drop-based
    alternative is trimming; MAD flags, winsorizing repairs). The cut
    points are ROUND-6 before clipping — the broadcast-back determinism
    hinge, since interpolated percentiles inherit engine FP noise — and
    the clip itself is least/greatest column math over one broadcast row.
    Two passes over the metric column: quantile, then clip+mean."""
    ev = T(spark, sf_dir, "events")
    cuts = ev.agg(
        F.round(F.percentile("value", F.lit(0.05)), 6).alias("lo"),
        F.round(F.percentile("value", F.lit(0.95)), 6).alias("hi"),
    )
    j = ev.crossJoin(F.broadcast(cuts))
    clipped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(
                (F.col("value") < F.col("lo"))
                | (F.col("value") > F.col("hi")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_clipped"),
        r6(F.avg("value")).alias("raw_mean"),
        r6(F.avg(clipped)).alias("winsorized_mean"),
    )


@query(
    "q_agg_gini",
    oracle="""
    WITH spend AS (
        SELECT o_custkey, SUM(o_totalprice) AS x
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT x,
               ROW_NUMBER() OVER (ORDER BY x, o_custkey) AS i,
               COUNT(*) OVER ()::DOUBLE AS n,
               SUM(x) OVER () AS tot
        FROM spend
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_customers,
           ROUND(2.0 * SUM(i * x) / (MAX(n) * MAX(tot))
                 - (MAX(n) + 1) / MAX(n), 6) AS gini
    FROM ranked
    """,
)
def q_agg_gini(spark, sf_dir):
    """Gini coefficient of per-customer order spend — the concentration
    number behind 'top X% of customers drive Y% of revenue' (0 = equal,
    →1 = winner-take-all), computed by the rank formula
    G = 2·Σi·x₍ᵢ₎/(n·Σx) − (n+1)/n over the value-sorted series. Tie
    positions among equal spends contribute symmetrically, so the unique-
    key tie-break affects nothing; the heavy step is one per-customer
    aggregate, then a single sort of the O(customers) frame — at 100 TB
    the same number comes from the q_sketch_quantile_hist CDF without the
    sort. Companion to q_events_skewprofile's decile shares."""
    o = T(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("x"))
    w = Window.orderBy("x", "o_custkey")
    wt = Window.partitionBy()
    ranked = spend.select(
        "x",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(wt).cast("double").alias("n"),
        F.sum("x").over(wt).alias("tot"),
    )
    return ranked.agg(
        F.max("n").cast("bigint").alias("n_customers"),
        r6(
            2.0 * F.sum(F.col("i") * F.col("x"))
            / (F.max("n") * F.max("tot"))
            - (F.max("n") + 1) / F.max("n")
        ).alias("gini"),
    )


_FD_CANDIDATES = (
    # (label, table, lhs, rhs) — mixed true/false dependencies so the
    # check exercises both outcomes. Every rhs must have an orderable
    # type: q_profile_fd tests min != max in place of COUNT(DISTINCT)
    # (tests/test_plans.py::test_profile_fd_rhs_columns_are_orderable)
    ("n_nationkey->n_name", "nation", "n_nationkey", "n_name"),
    ("o_orderkey->o_orderstatus", "orders", "o_orderkey", "o_orderstatus"),
    ("c_nationkey->c_mktsegment", "customer", "c_nationkey", "c_mktsegment"),
    ("o_custkey->o_orderpriority", "orders", "o_custkey", "o_orderpriority"),
    ("l_orderkey->l_returnflag", "lineitem", "l_orderkey", "l_returnflag"),
)

_FD_SQL = "\n    UNION ALL\n".join(
    f"""    SELECT '{label}' AS fd,
           CAST(COUNT(*) AS BIGINT) AS lhs_groups,
           CAST(SUM(CASE WHEN ys > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS violating_groups,
           SUM(CASE WHEN ys > 1 THEN 1 ELSE 0 END) = 0 AS holds
    FROM (SELECT {lhs}, COUNT(DISTINCT {rhs}) AS ys
          FROM {table} GROUP BY {lhs})"""
    for label, table, lhs, rhs in _FD_CANDIDATES
)


@query("q_profile_fd", oracle=_FD_SQL)
def q_profile_fd(spark, sf_dir):
    """Functional-dependency profiling (distributed dependency discovery,
    VLDB'19 family): for each candidate FD X→Y, X determines Y iff no X
    group holds >1 distinct Y. Output per candidate: LHS group count,
    violating-group count, and the verdict — the schema-quality audit that
    decides which columns are denormalizable / safe join keys before a
    pipeline relies on them. Each check is one groupBy(X) with a
    MIN/MAX pair instead of COUNT(DISTINCT Y): a group violates X→Y iff
    it holds >1 distinct non-null Y iff min(Y) ≠ max(Y) — including the
    null cases (all-null group: both sides NULL, the inequality is NULL,
    counted 0, same as countDistinct 0; nulls + one value: min = max).
    min/max partial-aggregate map-side in ONE level where Catalyst plans
    countDistinct as a two-level aggregate with a (X, Y)-keyed exchange
    before the (X)-keyed one (r14, guide §2.3 — the violation verdict
    needs distinct-count CARDINALITY ≤ 1, never the count itself);
    candidates on the same table could further share one scan via
    grouping-sets if the candidate list grew."""
    results = None
    for label, table, lhs, rhs in _FD_CANDIDATES:
        g = (
            T(spark, sf_dir, table)
            .groupBy(lhs)
            .agg((F.min(rhs) != F.max(rhs)).alias("viol"))
        )
        viol = F.sum(F.when(F.col("viol"), 1).otherwise(0))
        one = g.agg(
            F.count(F.lit(1)).alias("lhs_groups"),
            viol.cast("bigint").alias("violating_groups"),
            (viol == 0).alias("holds"),
        ).select(
            F.lit(label).alias("fd"),
            "lhs_groups",
            "violating_groups",
            "holds",
        )
        results = one if results is None else results.unionByName(one)
    return results
