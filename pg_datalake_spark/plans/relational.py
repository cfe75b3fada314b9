"""Relational-surface coverage: joins, windows, grouping sets, set ops,
sorts/limits, CTEs — SURVEY.md §2.3-§2.7.

The reference pushes this entire surface into its vectorized engine
(joins: pg_lake_table/src/fdw/pg_lake_table.c:3892-3894; windows:
shippable_builtin_functions.c:381-395; grouping sets FQ-only:
deparse.c:3574-3577; set ops: test_set_operation_pushdown.py). In Spark
all of it is native Catalyst surface; these queries pin the semantics
against the DuckDB oracle, including the PG-flavored rewrites the
reference papers over (DISTINCT ON via row_number, LIMIT WITH TIES via
rank — SURVEY §2.6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pg_datalake_spark.catalog import load_tables
from pg_datalake_spark.plans.registry import register
from pg_datalake_spark.session import local_frame

# ---------------------------------------------------------------------------
# Joins (§2.3) — inner/left equi-joins are exercised throughout tpch.py;
# here: full outer, right, cross, non-equi theta, and as-of.
# ---------------------------------------------------------------------------


@register(
    "j01_full_outer_join",
    oracle="""
    SELECT n_nationkey, n_name, cust_cnt
    FROM nation
    FULL OUTER JOIN (
      SELECT c_nationkey, count(*) AS cust_cnt
      FROM customer WHERE c_acctbal > 9000.0 GROUP BY c_nationkey
    ) cc ON n_nationkey = c_nationkey
    """,
)
def j01(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["nation", "customer"])
    cc = (
        t["customer"]
        .filter(F.col("c_acctbal") > 9000.0)
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("cust_cnt"))
    )
    return (
        t["nation"]
        .join(cc, F.col("n_nationkey") == F.col("c_nationkey"), "full_outer")
        .select("n_nationkey", "n_name", "cust_cnt")
    )


@register(
    "j02_right_join",
    oracle="""
    SELECT s_suppkey, s_name, n_name
    FROM nation RIGHT JOIN supplier ON n_nationkey = s_nationkey AND n_regionkey < 3
    """,
)
def j02(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["nation", "supplier"])
    return (
        t["nation"]
        .join(
            t["supplier"],
            (F.col("n_nationkey") == F.col("s_nationkey")) & (F.col("n_regionkey") < 3),
            "right",
        )
        .select("s_suppkey", "s_name", "n_name")
    )


@register(
    "j03_cross_join",
    oracle="""
    SELECT r_name, o_orderstatus, count(*) AS n
    FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
    CROSS JOIN nation
    WHERE n_regionkey = r_regionkey
    GROUP BY r_name, o_orderstatus
    """,
)
def j03(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["region", "orders", "nation"])
    statuses = t["orders"].select("o_orderstatus").distinct()
    return (
        t["region"]
        .crossJoin(statuses)
        .crossJoin(t["nation"])
        .filter(F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "o_orderstatus")
        .agg(F.count("*").alias("n"))
    )


@register(
    "j04_theta_band_join",
    oracle="""
    SELECT band, count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS total
    FROM orders
    JOIN (VALUES ('low', 0.0, 20000.0), ('mid', 20000.0, 100000.0),
                 ('high', 100000.0, 1e9)) AS b(band, lo, hi)
      ON o_totalprice >= lo AND o_totalprice < hi
    GROUP BY band
    """,
)
def j04(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders"])
    bands = local_frame(
        spark,
        [("low", 0.0, 20000.0), ("mid", 20000.0, 100000.0), ("high", 100000.0, 1e9)],
        "band string, lo double, hi double",
    )
    # non-equi join against a tiny dim: broadcast nested-loop is the right
    # plan at any scale (bands is O(1) rows)
    return (
        t["orders"]
        .join(
            F.broadcast(bands),
            (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n_orders"),
            # exact decimal sum → double: order-independent for the
            # driver's exact-hash comparator (see tpch.dsum)
            F.sum(F.col("o_totalprice").cast("decimal(30,2)")).cast("double").alias("total"),
        )
    )


@register(
    "j05_asof_join",
    oracle="""
    SELECT e.event_id, e.ts, last_click_ts
    FROM events e
    LEFT JOIN LATERAL (
      SELECT max(e2.ts) AS last_click_ts
      FROM events e2
      WHERE e2.user_id = e.user_id AND e2.event_type = 'click' AND e2.ts <= e.ts
    ) c ON true
    WHERE e.event_type = 'purchase'
    """,
)
def j05(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pg_datalake_spark.operators.asof import asof_join

    t = load_tables(spark, sf_dir, ["events"])
    purchases = t["events"].filter(F.col("event_type") == "purchase")
    clicks = t["events"].filter(F.col("event_type") == "click")
    joined = asof_join(
        purchases,
        clicks.select("user_id", F.col("ts").alias("click_ts")),
        on="user_id",
        left_time="ts",
        right_time="click_ts",
    )
    return joined.select("event_id", "ts", F.col("click_ts").alias("last_click_ts"))


# ---------------------------------------------------------------------------
# Window functions (§2.5)
# ---------------------------------------------------------------------------


@register(
    "w01_window_suite",
    oracle="""
    SELECT event_id, user_id, value,
           CAST(row_number()   OVER w AS BIGINT) AS rn,
           CAST(rank()         OVER (PARTITION BY user_id ORDER BY value) AS BIGINT) AS rnk,
           CAST(dense_rank()   OVER (PARTITION BY user_id ORDER BY value) AS BIGINT) AS drnk,
           percent_rank() OVER (PARTITION BY user_id ORDER BY value) AS prnk,
           cume_dist()    OVER (PARTITION BY user_id ORDER BY value) AS cd,
           CAST(ntile(4) OVER w AS INT) AS nt,
           lag(value)        OVER w AS prev_value,
           lead(value, 2)    OVER w AS next2_value,
           first_value(value) OVER w AS first_v,
           nth_value(value, 3) OVER w AS third_v
    FROM events
    WHERE user_id < 20
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def w01(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["events"])
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wv = W.partitionBy("user_id").orderBy("value")
    return (
        t["events"]
        .filter(F.col("user_id") < 20)
        .select(
            "event_id",
            "user_id",
            "value",
            F.row_number().over(w).cast("long").alias("rn"),
            F.rank().over(wv).cast("long").alias("rnk"),
            F.dense_rank().over(wv).cast("long").alias("drnk"),
            F.percent_rank().over(wv).alias("prnk"),
            F.cume_dist().over(wv).alias("cd"),
            F.ntile(4).over(w).alias("nt"),
            F.lag("value").over(w).alias("prev_value"),
            F.lead("value", 2).over(w).alias("next2_value"),
            F.first_value(F.col("value")).over(w).alias("first_v"),
            F.nth_value(F.col("value"), 3).over(w).alias("third_v"),
        )
    )


@register(
    "w02_rows_frame_running",
    oracle="""
    SELECT event_id, user_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_sum,
           round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS moving_avg3,
           max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS next3_max
    FROM events WHERE user_id < 20
    """,
)
def w02(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["events"])
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # values are exact cents → running sums are cent multiples; round(2)
    # collapses accumulation-order noise so even the EXACT-hash gate
    # (not just the tolerance parity gate) is clean on both engines
    return (
        t["events"]
        .filter(F.col("user_id") < 20)
        .select(
            "event_id",
            "user_id",
            F.round(
                F.sum("value").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)), 2
            ).alias("running_sum"),
            F.round(F.avg("value").over(w.rowsBetween(-2, W.currentRow)), 6).alias(
                "moving_avg3"
            ),
            F.max("value").over(w.rowsBetween(1, 3)).alias("next3_max"),
        )
    )


@register(
    "w03_range_frame",
    oracle="""
    SELECT event_id, user_id, value,
           count(*) OVER (PARTITION BY user_id ORDER BY value
                          RANGE BETWEEN 10.0 PRECEDING AND 10.0 FOLLOWING) AS n_within_10,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY value
                            RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_by_value
    FROM events WHERE user_id < 10
    """,
)
def w03(spark: SparkSession, sf_dir: str) -> DataFrame:
    # non-integral RANGE offsets need the SQL form (PySpark's
    # rangeBetween only takes ints); cent-valued sums round(2) so the
    # exact-hash gate is clean (see w02)
    load_tables(spark, sf_dir, ["events"])
    return spark.sql(
        """
        SELECT event_id, user_id, value,
               count(*) OVER (PARTITION BY user_id ORDER BY value
                              RANGE BETWEEN 10.0 PRECEDING AND 10.0 FOLLOWING) AS n_within_10,
               round(sum(value) OVER (PARTITION BY user_id ORDER BY value
                                RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_by_value
        FROM events WHERE user_id < 10
        """
    )


@register(
    "w04_topk_per_group",
    oracle="""
    SELECT user_id, event_id, value
    FROM (SELECT user_id, event_id, value,
                 row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
          FROM events) t
    WHERE rn <= 3
    """,
)
def w04(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["events"])
    w = W.partitionBy("user_id").orderBy(F.desc("value"), "event_id")
    return (
        t["events"]
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("user_id", "event_id", "value")
    )


@register(
    "w05_sessionization",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE OR
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sessions AS (
      SELECT user_id, ts, event_id,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM gaps
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           count(*) AS n_events, min(ts) AS session_start, max(ts) AS session_end
    FROM sessions GROUP BY user_id, session_id
    """,
)
def w05(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["events"])
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # ANSI mode forbids timestamp→long casts; go through unix epoch seconds
    secs = F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1000000)
    gap = secs - F.lag(secs).over(w)
    new_session = F.when(gap.isNull() | (gap > 30 * 60), 1).otherwise(0)
    return (
        t["events"]
        .withColumn("new_session", new_session)
        .withColumn(
            "session_id",
            F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
        )
        .groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )


# ---------------------------------------------------------------------------
# Aggregates beyond tpch.py (§2.4): stats family, modifiers, grouping sets
# ---------------------------------------------------------------------------


@register(
    "a01_stats_aggregates",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_extendedprice), 4) AS sd_samp,
           round(stddev_pop(l_extendedprice), 4)  AS sd_pop,
           round(var_samp(l_quantity), 6)         AS v_samp,
           round(var_pop(l_quantity), 6)          AS v_pop,
           round(corr(l_quantity, l_extendedprice), 8)      AS cor,
           round(covar_pop(l_quantity, l_extendedprice), 4) AS cov_pop,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS cov_samp,
           round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 8)   AS r2,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a01(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["lineitem"])
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    return (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp(p), 4).alias("sd_samp"),
            F.round(F.stddev_pop(p), 4).alias("sd_pop"),
            F.round(F.var_samp(q), 6).alias("v_samp"),
            F.round(F.var_pop(q), 6).alias("v_pop"),
            F.round(F.corr(q, p), 8).alias("cor"),
            F.round(F.covar_pop(q, p), 4).alias("cov_pop"),
            F.round(F.covar_samp(q, p), 4).alias("cov_samp"),
            F.round(F.regr_slope(p, q), 6).alias("slope"),
            F.round(F.regr_intercept(p, q), 4).alias("intercept"),
            F.round(F.regr_r2(p, q), 8).alias("r2"),
            F.regr_count(p, q).alias("n"),
        )
    )


@register(
    "a02_ordered_set_aggregates",
    oracle="""
    SELECT l_linestatus,
           percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity) AS median_qty,
           percentile_cont(0.9) WITHIN GROUP (ORDER BY l_extendedprice) AS p90_price,
           percentile_disc(0.25) WITHIN GROUP (ORDER BY l_quantity) AS p25_disc,
           mode() WITHIN GROUP (ORDER BY l_returnflag) AS mode_flag,
           min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship
    FROM lineitem GROUP BY l_linestatus
    """,
)
def a02(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["lineitem"])
    return (
        t["lineitem"]
        .groupBy("l_linestatus")
        .agg(
            F.expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity)").alias("median_qty"),
            F.expr("percentile_cont(0.9) WITHIN GROUP (ORDER BY l_extendedprice)").alias("p90_price"),
            F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY l_quantity)").alias("p25_disc"),
            # PG mode() = most frequent, ties broken by order; data has a
            # unique mode per group so mode() matches deterministically
            F.mode("l_returnflag").alias("mode_flag"),
            F.min("l_shipdate").alias("min_ship"),
            F.max("l_shipdate").alias("max_ship"),
        )
    )


@register(
    "a03_agg_modifiers",
    oracle="""
    SELECT o_orderstatus,
           count(DISTINCT o_orderpriority)                       AS n_prio,
           count(*) FILTER (WHERE o_totalprice > 100000.0)       AS n_big,
           sum(o_totalprice) FILTER (WHERE o_orderpriority = '1-URGENT') AS urgent_total,
           bool_and(o_totalprice > 0.0)                          AS all_positive,
           bool_or(o_totalprice > 400000.0)                      AS any_huge,
           any_value(o_orderstatus)                              AS an_example
    FROM orders GROUP BY o_orderstatus
    """,
)
def a03(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread=False: raw double FILTER-sum — partition-merge-order
    # sensitive last ulp (see catalog.load_tables)
    t = load_tables(spark, sf_dir, ["orders"], spread=False)
    return (
        t["orders"]
        .groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_orderpriority").alias("n_prio"),
            F.count(F.when(F.col("o_totalprice") > 100000.0, 1)).alias("n_big"),
            F.sum(F.when(F.col("o_orderpriority") == "1-URGENT", F.col("o_totalprice"))).alias(
                "urgent_total"
            ),
            F.bool_and(F.col("o_totalprice") > 0.0).alias("all_positive"),
            F.bool_or(F.col("o_totalprice") > 400000.0).alias("any_huge"),
            # any_value is nondeterministic in general; grouped by the same
            # column it can only ever observe the group key itself
            F.any_value(F.col("o_orderstatus")).alias("an_example"),
        )
    )


@register(
    "a04_array_agg",
    oracle="""
    SELECT n_regionkey,
           to_json(list_sort(array_agg(n_name))) AS nations,
           string_agg(n_name, ',' ORDER BY n_name) AS nation_csv
    FROM nation GROUP BY n_regionkey
    """,
)
def a04(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["nation"])
    return (
        t["nation"]
        .groupBy("n_regionkey")
        .agg(
            # to_json: raw list cells are unhashable in the driver's
            # pandas-based comparator
            F.to_json(F.sort_array(F.collect_list("n_name"))).alias("nations"),
            F.expr("listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)").alias("nation_csv"),
        )
    )


@register(
    "g01_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(grouping(l_returnflag) AS INT) AS g_rf,
           CAST(grouping(l_linestatus) AS INT) AS g_ls,
           sum(l_quantity) AS sum_qty, count(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def g01(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, ["lineitem"])
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag) AS INT) AS g_rf,
               CAST(grouping(l_linestatus) AS INT) AS g_ls,
               sum(l_quantity) AS sum_qty, count(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


@register(
    "g02_rollup",
    oracle="""
    SELECT r_name, n_name, count(*) AS n_cust, sum(c_acctbal) AS bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def g02(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["customer", "nation", "region"])
    return (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .rollup("r_name", "n_name")
        .agg(F.count("*").alias("n_cust"), F.sum("c_acctbal").alias("bal"))
    )


@register(
    "g03_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n, avg(o_totalprice) AS avg_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def g03(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread=False: raw double avg — partition-merge-order sensitive
    # last ulp (see catalog.load_tables)
    t = load_tables(spark, sf_dir, ["orders"], spread=False)
    return (
        t["orders"]
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), F.avg("o_totalprice").alias("avg_price"))
    )


@register(
    "g05_rollup_empty_input",
    oracle="""
    SELECT 'empty' AS arm, o_orderstatus AS k_status,
           CAST(grouping(o_orderstatus) AS INT) AS g_st,
           count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS total
    FROM orders WHERE o_orderkey < 0
    GROUP BY ROLLUP (o_orderstatus)
    UNION ALL
    SELECT 'nonempty' AS arm, o_orderstatus AS k_status,
           CAST(grouping(o_orderstatus) AS INT) AS g_st,
           count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS total
    FROM orders WHERE o_orderkey <= 100
    GROUP BY ROLLUP (o_orderstatus)
    """,
)
def g05(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PG empty-input grouping-set semantics (differential-fuzzer find):
    PG/DuckDB emit the grand-total () row even when the input relation
    is empty; Spark's rollup returns an empty relation. Both arms run
    through functions.pgcompat.pg_grouping_agg — the empty arm proves
    the compat row appears, the non-empty arm proves it does NOT
    double-emit. Reference behavior: grouping sets ship verbatim to the
    PG-semantics engine (pg_lake_engine/tests/test_grouping_set_pushdown.py).
    """
    from pg_datalake_spark.functions.pgcompat import pg_grouping_agg

    t = load_tables(spark, sf_dir, ["orders"])
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(30,4)"))
        .cast("double").alias("total"),
    ]

    def arm(label: str, pred) -> DataFrame:
        base = pg_grouping_agg(
            t["orders"].where(pred), ["o_orderstatus"], aggs,
            kind="rollup", groupings=[("g_st", "o_orderstatus")],
        )
        return base.select(
            F.lit(label).alias("arm"),
            F.col("o_orderstatus").alias("k_status"),
            "g_st", "n", "total",
        )

    return arm("empty", F.col("o_orderkey") < 0).unionByName(
        arm("nonempty", F.col("o_orderkey") <= 100)
    )


# ---------------------------------------------------------------------------
# Set operations (§2.7)
# ---------------------------------------------------------------------------


@register(
    "s01_union_all_union",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9900.0
    UNION
    SELECT s_nationkey FROM supplier
    """,
)
def s01(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["customer", "supplier"])
    a = t["customer"].filter(F.col("c_acctbal") > 9900.0).select(
        F.col("c_nationkey").alias("nationkey")
    )
    b = t["supplier"].select(F.col("s_nationkey").alias("nationkey"))
    return a.union(b).distinct()


@register(
    "s02_intersect",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
)
def s02(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["customer", "supplier"])
    return (
        t["customer"]
        .select(F.col("c_nationkey").alias("nationkey"))
        .intersect(t["supplier"].select(F.col("s_nationkey").alias("nationkey")))
    )


@register(
    "s03_except_all",
    oracle="""
    SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
    EXCEPT ALL
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def s03(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders"])
    a = t["orders"].filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("k"))
    b = t["orders"].filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("k"))
    return a.exceptAll(b)


@register(
    "s04_intersect_all",
    oracle="""
    SELECT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'R'
    INTERSECT ALL
    SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'A'
    """,
)
def s04(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["lineitem"])
    a = t["lineitem"].filter(F.col("l_returnflag") == "R").select(F.col("l_suppkey").alias("k"))
    b = t["lineitem"].filter(F.col("l_returnflag") == "A").select(F.col("l_suppkey").alias("k"))
    return a.intersectAll(b)


# ---------------------------------------------------------------------------
# Sorts / limits / distinct (§2.6) — PG-semantic rewrites
# ---------------------------------------------------------------------------


@register(
    "o01_order_nulls_last_offset",
    oracle="""
    SELECT n_nationkey, nullif(n_regionkey, 2) AS rk
    FROM nation
    ORDER BY rk DESC NULLS LAST, n_nationkey
    LIMIT 10 OFFSET 5
    """,
)
def o01(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["nation"])
    return (
        t["nation"]
        .select("n_nationkey", F.nullif(F.col("n_regionkey"), F.lit(2)).alias("rk"))
        .orderBy(F.col("rk").desc_nulls_last(), "n_nationkey")
        .offset(5)
        .limit(10)
    )


@register(
    "o02_distinct_on",
    oracle="""
    SELECT DISTINCT ON (user_id) user_id, event_id, ts, value
    FROM events
    ORDER BY user_id, ts DESC, event_id
    """,
)
def o02(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PG DISTINCT ON (k) ... ORDER BY k, s — first row per key.

    Spark has no DISTINCT ON; the PG-semantic rewrite is
    row_number() over (partition by k order by s) = 1 (SURVEY §2.6).
    """
    t = load_tables(spark, sf_dir, ["events"])
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), "event_id")
    return (
        t["events"]
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "event_id", "ts", "value")
    )


@register(
    "o03_limit_with_ties",
    oracle="""
    SELECT l_orderkey, l_quantity
    FROM (SELECT l_orderkey, l_quantity,
                 rank() OVER (ORDER BY l_quantity DESC) AS r
          FROM lineitem) t
    WHERE r <= 5
    """,
)
def o03(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIMIT WITH TIES (neither DuckDB-the-engine in the reference nor
    Spark pushes WITH TIES — SURVEY §2.6). r13: the rank()-over-
    everything plan (an unpartitioned WindowExec over the raw fact
    table — single-executor sort at 100 TB) is replaced by the
    threshold-prefilter rewrite ``pgcompat.pg_limit_with_ties``:
    top-k sample -> k-th value as a broadcast threshold -> scan-side
    filter. Hash-identical (rank <= k  ⟺  key at-or-better than the
    k-th key)."""
    from pg_datalake_spark.functions.pgcompat import pg_limit_with_ties

    t = load_tables(spark, sf_dir, ["lineitem"])
    return pg_limit_with_ties(
        t["lineitem"], "l_quantity", 5
    ).select("l_orderkey", "l_quantity")


# ---------------------------------------------------------------------------
# CTEs / subqueries (§2.8 facts: CTEs incl. recursive push down)
# ---------------------------------------------------------------------------


@register(
    "c01_chained_cte",
    oracle="""
    WITH big_orders AS (
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      WHERE o_totalprice > 200000.0
    ), cust_stats AS (
      SELECT o_custkey, count(*) AS n, sum(o_totalprice) AS total
      FROM big_orders GROUP BY o_custkey
    )
    SELECT c_name, n, total
    FROM cust_stats JOIN customer ON c_custkey = o_custkey
    WHERE n >= 2
    """,
)
def c01(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread=False: raw double sum in the CTE — partition-merge-order
    # sensitive last ulp (see catalog.load_tables)
    load_tables(spark, sf_dir, ["orders", "customer"], spread=False)
    return spark.sql(
        """
        WITH big_orders AS (
          SELECT o_orderkey, o_custkey, o_totalprice FROM orders
          WHERE o_totalprice > 200000.0
        ), cust_stats AS (
          SELECT o_custkey, count(*) AS n, sum(o_totalprice) AS total
          FROM big_orders GROUP BY o_custkey
        )
        SELECT c_name, n, total
        FROM cust_stats JOIN customer ON c_custkey = o_custkey
        WHERE n >= 2
        """
    )


@register(
    "c02_recursive_cte",
    oracle="""
    WITH RECURSIVE series(n) AS (
      SELECT 1
      UNION ALL
      SELECT n + 1 FROM series WHERE n < 20
    )
    SELECT CAST(n AS INT) AS n, CAST(n * n AS INT) AS n_squared FROM series
    """,
)
def c02(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        WITH RECURSIVE series(n) AS (
          SELECT 1
          UNION ALL
          SELECT n + 1 FROM series WHERE n < 20
        )
        SELECT CAST(n AS INT) AS n, CAST(n * n AS INT) AS n_squared FROM series
        """
    )


@register(
    "c03_correlated_scalar_subquery",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders o
    WHERE o_totalprice > 2.0 * (
      SELECT avg(o2.o_totalprice) FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
    """,
)
def c03(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, ["orders"])
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM orders o
        WHERE o_totalprice > 2.0 * (
          SELECT avg(o2.o_totalprice) FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        """
    )


@register(
    "c04_lateral_unnest",
    oracle="""
    SELECT n_name, part_word
    FROM nation, LATERAL unnest(string_split(n_name, '_')) AS t(part_word)
    WHERE n_nationkey < 5
    """,
)
def c04(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["nation"])
    return (
        t["nation"]
        .filter(F.col("n_nationkey") < 5)
        .select("n_name", F.explode(F.split("n_name", "_")).alias("part_word"))
    )


@register(
    "c07_collations",
    oracle="""
    WITH mixed AS (
      SELECT CASE WHEN p_partkey % 2 = 0 THEN p_type ELSE lower(p_type) END AS nm,
             p_brand
      FROM part
    ), g AS (
      SELECT count(*) AS cnt FROM mixed GROUP BY nm COLLATE NOCASE
    )
    SELECT (SELECT count(*) FROM g)                                       AS n_ci_groups,
           (SELECT max(cnt) FROM g)                                       AS max_ci_group,
           (SELECT count(DISTINCT nm) FROM mixed)                         AS n_cs_names,
           (SELECT count(*) FROM mixed
             WHERE p_brand COLLATE NOCASE = 'brand#11')                   AS n_brand11,
           (SELECT count(*) FROM mixed WHERE nm COLLATE NOCASE < 'm')     AS n_lt_m
    """,
)
def c07(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive collations (SURVEY §2.8 collation note: the
    reference blocks pushdown on non-default collations; Spark 4 has
    first-class collated strings). Grouping, equality, and ordering
    comparisons under Spark's UTF8_LCASE are pinned against DuckDB's
    NOCASE over a mixed-case projection. DISTINCT-under-collation goes
    through GROUP BY on both sides (DuckDB's count(DISTINCT expr
    COLLATE ...) ignores the collation — engine quirk found while
    pinning this)."""
    load_tables(spark, sf_dir, ["part"])
    return spark.sql(
        """
        WITH mixed AS (
          SELECT CASE WHEN p_partkey % 2 = 0 THEN p_type ELSE lower(p_type) END AS nm,
                 p_brand
          FROM part
        ), g AS (
          SELECT count(*) AS cnt FROM mixed GROUP BY nm COLLATE UTF8_LCASE
        )
        SELECT (SELECT count(*) FROM g)                                   AS n_ci_groups,
               (SELECT max(cnt) FROM g)                                   AS max_ci_group,
               (SELECT count(DISTINCT nm) FROM mixed)                     AS n_cs_names,
               (SELECT count(CASE WHEN p_brand COLLATE UTF8_LCASE = 'brand#11'
                             THEN 1 END) FROM mixed)                      AS n_brand11,
               (SELECT count(CASE WHEN nm COLLATE UTF8_LCASE < 'm' THEN 1 END)
                FROM mixed)                                               AS n_lt_m
        """
    )


@register(
    "p01_pivot",
    oracle="""
    SELECT l_returnflag,
           sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS qty_open,
           sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS qty_finished
    FROM lineitem GROUP BY l_returnflag
    """,
)
def p01(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["lineitem"])
    return (
        t["lineitem"]
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .sum("l_quantity")
        .withColumnRenamed("O", "qty_open")
        .withColumnRenamed("F", "qty_finished")
    )


@register(
    "p02_unpivot",
    oracle="""
    SELECT c_custkey, metric, val
    FROM (SELECT c_custkey, c_acctbal AS acctbal,
                 CAST(c_nationkey AS DOUBLE) AS nationkey_d
          FROM customer WHERE c_custkey <= 20) t
    UNPIVOT (val FOR metric IN (acctbal, nationkey_d))
    """,
)
def p02(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["customer"])
    return (
        t["customer"]
        .filter(F.col("c_custkey") <= 20)
        .select(
            "c_custkey",
            F.col("c_acctbal").alias("acctbal"),
            F.col("c_nationkey").cast("double").alias("nationkey_d"),
        )
        .unpivot("c_custkey", ["acctbal", "nationkey_d"], "metric", "val")
    )


@register(
    "c05_parameterized_query",
    oracle="""
    SELECT o_orderpriority, count(*) AS n
    FROM orders
    WHERE o_totalprice > 250000.0 AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY o_orderpriority
    """,
)
def c05(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bound parameters (the reference ships prepared statements with
    parameter elimination — SURVEY §2.8; Spark 3.4+ has parameterized
    SQL natively)."""
    load_tables(spark, sf_dir, ["orders"])
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS n
        FROM orders
        WHERE o_totalprice > :min_price AND o_orderdate >= :min_date
        GROUP BY o_orderpriority
        """,
        args={"min_price": 250000.0, "min_date": "1997-01-01 00:00:00"},
    )


@register(
    "c06_view_over_join",
    oracle="""
    SELECT r_name, count(*) AS n_customers, avg(c_acctbal) AS avg_bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def c06(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Views over lake tables (reference: test_view_pushdown.py) — the
    view definition is inlined by Catalyst, pushdown unaffected."""
    load_tables(spark, sf_dir, ["customer", "nation", "region"])
    spark.sql(
        """
        CREATE OR REPLACE TEMP VIEW customer_geo AS
        SELECT c_custkey, c_acctbal, n_name, r_name
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        """
    )
    return spark.sql(
        """
        SELECT r_name, count(*) AS n_customers, avg(c_acctbal) AS avg_bal
        FROM customer_geo GROUP BY r_name
        """
    )


@register(
    "o04_tablesample",
    oracle="""
    SELECT CAST(1 AS INT) AS count_ok, CAST(1 AS INT) AS subset_ok,
           CAST(1 AS INT) AS mult_ok
    """,
)
def o04(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TABLESAMPLE (seeded Bernoulli sample). The sampled ROWS are
    engine-specific, so the hashed output is the sample's VERIFIED
    PROPERTIES (r11 promotion from rows-only): the sampled count sits
    within 6σ binomial bounds of p·N (p=0.1; a false failure is a
    ~1e-9 event), every sampled row exists in the source (no sampled
    key outside it), and sampling WITHOUT replacement never emits a
    (l_orderkey, l_linenumber) pair more often than the source holds
    it — all computed distributively, no driver collect.

    Plan shape (r12): ONE shuffle. The source and the sample union
    with a tag column and aggregate per key once; subset (ks>0 with
    ns==0), multiplicity (ks>ns) and both counts then reduce from the
    same grouped pass — the previous three-shuffle formulation
    (anti-join + two groupBy sides of a join) measured 3.1× at the
    10× probe from shuffle volume alone."""
    t = load_tables(spark, sf_dir, ["lineitem"])
    li = t["lineitem"].select("l_orderkey", "l_linenumber")
    s = t["lineitem"].sample(fraction=0.1, seed=42).select(
        "l_orderkey", "l_linenumber"
    )
    keys = ["l_orderkey", "l_linenumber"]
    tagged = li.withColumn("__s", F.lit(0)).unionAll(
        s.withColumn("__s", F.lit(1))
    )
    per_key = tagged.groupBy(keys).agg(
        F.count_if(F.col("__s") == 0).alias("ns"),
        F.count_if(F.col("__s") == 1).alias("ks"),
    )
    stats = per_key.agg(
        F.sum("ns").alias("n_total"),
        F.sum("ks").alias("k"),
        F.count_if((F.col("ks") > 0) & (F.col("ns") == 0)).alias("n_missing"),
        F.count_if(F.col("ks") > F.col("ns")).alias("n_over"),
    )
    mean = 0.1 * F.col("n_total")
    dev = 6.0 * F.sqrt(0.1 * 0.9 * F.col("n_total"))
    return stats.select(
        ((F.col("k") >= mean - dev) & (F.col("k") <= mean + dev))
        .cast("int")
        .alias("count_ok"),
        (F.col("n_missing") == 0).cast("int").alias("subset_ok"),
        (F.col("n_over") == 0).cast("int").alias("mult_ok"),
    )


@register(
    "g04_window_over_rollup",
    oracle="""
    WITH r AS (
      SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty
      FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    )
    SELECT l_returnflag, l_linestatus, sum_qty,
           CAST(rank() OVER (ORDER BY sum_qty DESC, l_returnflag NULLS FIRST,
                             l_linestatus NULLS FIRST) AS BIGINT) AS qty_rank
    FROM r
    """,
)
def g04(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window over a rollup (reference exercises exactly this nesting —
    test_grouping_set_pushdown.py window-over-rollup cases)."""
    load_tables(spark, sf_dir, ["lineitem"])
    return spark.sql(
        """
        WITH r AS (
          SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty
          FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        )
        SELECT l_returnflag, l_linestatus, sum_qty,
               CAST(rank() OVER (ORDER BY sum_qty DESC, l_returnflag NULLS FIRST,
                                 l_linestatus NULLS FIRST) AS BIGINT) AS qty_rank
        FROM r
        """
    )


@register(
    "a05_multi_distinct",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_suppkey)                     AS n_supp,
           count(DISTINCT l_partkey)                     AS n_part,
           CAST(sum(DISTINCT CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_distinct_qty,
           round(avg(DISTINCT l_discount), 9)            AS avg_distinct_disc
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def a05(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple DISTINCT aggregates in one grouping (expand-based plan
    in Spark — each distinct column gets its own expansion)."""
    t = load_tables(spark, sf_dir, ["lineitem"])
    return (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct("l_partkey").alias("n_part"),
            F.sum_distinct(F.col("l_quantity").cast("long")).alias("sum_distinct_qty"),
            F.avg(F.col("l_discount")).alias("__tmp"),
        )
        .drop("__tmp")
        .join(
            t["lineitem"]
            .select("l_returnflag", "l_discount")
            .distinct()
            .groupBy("l_returnflag")
            # distinct doubles sum in partition order — round(9) pins
            # the accumulation-order ulp so the exact-hash gate is
            # deterministic run to run
            .agg(F.round(F.avg("l_discount"), 9).alias("avg_distinct_disc")),
            "l_returnflag",
        )
    )


@register(
    "j06_using_join",
    oracle="""
    SELECT n_nationkey, n_name, r_name
    FROM (SELECT n_nationkey, n_name, n_regionkey AS rk FROM nation) n
    JOIN (SELECT r_regionkey AS rk, r_name FROM region) r USING (rk)
    """,
)
def j06(spark: SparkSession, sf_dir: str) -> DataFrame:
    """USING-style join (single shared key column, deduplicated)."""
    t = load_tables(spark, sf_dir, ["nation", "region"])
    n = t["nation"].select("n_nationkey", "n_name", F.col("n_regionkey").alias("rk"))
    r = t["region"].select(F.col("r_regionkey").alias("rk"), "r_name")
    return n.join(F.broadcast(r), "rk").select("n_nationkey", "n_name", "r_name")


@register(
    "w06_frame_exclude_emulation",
    oracle="""
    SELECT event_id, user_id, value,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING
                            EXCLUDE CURRENT ROW), 2) AS neighbor_sum,
           round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
                            EXCLUDE CURRENT ROW), 6) AS peer_avg
    FROM events WHERE user_id < 10
    """,
)
def w06(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frame EXCLUDE CURRENT ROW (reference tests 6 EXCLUDE
    cases — SURVEY §2.5; Spark's parser has no EXCLUDE clause).
    Emulation: aggregate over the full frame, then subtract the current
    row's contribution — exact for sum/count/avg. The oracle runs
    DuckDB's native EXCLUDE."""
    t = load_tables(spark, sf_dir, ["events"])
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    frame = w.rowsBetween(-2, 2)
    full = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    v = F.col("value")
    return (
        t["events"]
        .filter(F.col("user_id") < 10)
        .select(
            "event_id",
            "user_id",
            "value",
            F.round(F.sum(v).over(frame) - v, 2).alias("neighbor_sum"),
            # nullif guards the single-row partition: ANSI mode throws
            # on x/0, while PG/DuckDB EXCLUDE over an empty frame is NULL
            F.round(
                (F.sum(v).over(full) - v)
                / F.nullif(F.count(F.lit(1)).over(full) - 1, F.lit(0)),
                6,
            ).alias("peer_avg"),
        )
    )


@register(
    "n01_null_semantics",
    oracle="""
    WITH t AS (
      SELECT o_orderkey,
             nullif(o_orderstatus, 'P') AS st,
             nullif(o_custkey % 7, 3)   AS k7
      FROM orders WHERE o_orderkey <= 400
    )
    SELECT count(*)                           AS n_rows,
           count(st)                          AS n_st,
           count(DISTINCT st)                 AS n_st_distinct,
           CAST(sum(CASE WHEN st IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           CAST(sum(CASE WHEN st IS NOT DISTINCT FROM NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null_nsafe,
           min(k7) AS min_k7, max(k7) AS max_k7,
           CAST(count(*) FILTER (WHERE k7 IS NULL AND st IS NULL) AS BIGINT) AS both_null
    FROM t
    """,
)
def n01(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL semantics torture: count(col) skips NULLs, DISTINCT ignores
    NULL duplicates, min/max skip NULLs, null-safe comparison — PG and
    Spark agree on all of it, pinned here against the oracle."""
    t = load_tables(spark, sf_dir, ["orders"])
    base = (
        t["orders"]
        .filter(F.col("o_orderkey") <= 400)
        .select(
            F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("st"),
            F.nullif(F.col("o_custkey") % 7, F.lit(3)).alias("k7"),
        )
    )
    return base.agg(
        F.count("*").alias("n_rows"),
        F.count("st").alias("n_st"),
        F.countDistinct("st").alias("n_st_distinct"),
        F.sum(F.when(F.col("st").isNull(), 1).otherwise(0)).cast("long").alias("n_null"),
        F.sum(F.when(F.col("st").eqNullSafe(F.lit(None)), 1).otherwise(0))
        .cast("long")
        .alias("n_null_nsafe"),
        F.min("k7").alias("min_k7"),
        F.max("k7").alias("max_k7"),
        F.count(F.when(F.col("k7").isNull() & F.col("st").isNull(), 1)).alias("both_null"),
    )


@register(
    "j07_interval_overlap_join",
    oracle="""
    WITH a AS (
      SELECT o_orderkey AS a_id,
             date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS a_start,
             date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) + 10 AS a_end
      FROM orders WHERE o_orderkey < 2000
    ), b AS (
      SELECT o_orderkey AS b_id,
             date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) + 5 AS b_start,
             date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) + 15 AS b_end
      FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey < 2000
    )
    SELECT a_id, b_id FROM a JOIN b ON a_start <= b_end AND b_start <= a_end
    """,
)
def j07(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join executed as a BINNED EQUI-JOIN (explode
    each interval onto a 10-day grid, hash-join on the bin, re-check
    the exact overlap, distinct the pairs) — the scale shape for
    temporal joins, vs the oracle's theta join which an engine can
    only run as a nested loop. Identical pair sets prove the binning
    loses nothing."""
    from pg_datalake_spark.operators.intervals import interval_overlap_join

    t = load_tables(spark, sf_dir, ["orders"])
    base = t["orders"].filter(F.col("o_orderkey") < 2000).select(
        "o_orderkey", F.unix_date(F.col("o_orderdate").cast("date")).alias("d")
    )
    a = base.select(
        F.col("o_orderkey").alias("a_id"),
        F.col("d").alias("a_start"),
        (F.col("d") + 10).alias("a_end"),
    )
    b = base.filter(F.col("o_orderkey") % 7 == 0).select(
        F.col("o_orderkey").alias("b_id"),
        (F.col("d") + 5).alias("b_start"),
        (F.col("d") + 15).alias("b_end"),
    )
    return interval_overlap_join(a, b, bin_width=10)


@register(
    "w07_gap_fill_locf",
    oracle="""
    WITH obs AS (
      SELECT event_type,
             CAST(floor(date_part('epoch', ts) / 3600) * 3600 AS BIGINT) AS bucket,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
      FROM events WHERE value > 150 GROUP BY 1, 2
    ),
    ext AS (SELECT event_type, min(bucket) AS lo, max(bucket) AS hi FROM obs GROUP BY 1),
    grid AS (SELECT event_type, unnest(generate_series(lo, hi, 3600)) AS bucket FROM ext),
    j AS (SELECT g.event_type, g.bucket, o.v
          FROM grid g LEFT JOIN obs o USING (event_type, bucket)),
    isl AS (SELECT *, count(v) OVER (PARTITION BY event_type ORDER BY bucket) AS island
            FROM j),
    locf AS (
      SELECT 'locf' AS mode, event_type, bucket,
             round(CAST(first_value(v) OVER (PARTITION BY event_type, island ORDER BY bucket) AS DOUBLE), 6) AS value,
             CAST(v IS NULL AS INT) AS is_filled
      FROM isl),
    nb AS (
      SELECT event_type, bucket, v,
             last_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
             first_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY bucket
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
             last_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_b,
             first_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY bucket
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_b
      FROM j),
    interp AS (
      SELECT 'interp' AS mode, event_type, bucket,
             round(CASE WHEN v IS NOT NULL THEN CAST(v AS DOUBLE)
                        WHEN prev_v IS NULL THEN CAST(next_v AS DOUBLE)
                        WHEN next_v IS NULL THEN CAST(prev_v AS DOUBLE)
                        ELSE CAST(prev_v AS DOUBLE)
                             + CAST(next_v - prev_v AS DOUBLE)
                               * (CAST(bucket - prev_b AS DOUBLE) / CAST(next_b - prev_b AS DOUBLE))
                   END, 6) AS value,
             CAST(v IS NULL AS INT) AS is_filled
      FROM nb)
    SELECT * FROM locf UNION ALL SELECT * FROM interp
    """,
)
def w07(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style gap filling, BOTH modes as a tagged union:
    sparse hourly sums (value > 150 keeps ~5 % of events, leaving
    most hourly buckets empty) densified per event_type with (a) last-observation-carried-
    forward via the gaps-and-islands formulation and (b) linear
    interpolation between the surrounding observations (framed window
    lookups, arithmetic mirrored term-for-term in the oracle so the
    doubles hash-match at round(6))."""
    from pg_datalake_spark.operators.timeseries import gap_fill_locf

    t = load_tables(spark, sf_dir, ["events"])
    obs = (
        t["events"]
        .filter(F.col("value") > 150)
        .groupBy(
            "event_type",
            (
                F.floor(
                    F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(3_600_000_000)
                )
                * 3600
            ).cast("long").alias("bucket"),
        )
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("v"))
    )
    from pg_datalake_spark.operators.timeseries import gap_fill_interpolate

    locf = gap_fill_locf(obs, "bucket", ["event_type"], "v", 3600).select(
        F.lit("locf").alias("mode"),
        "event_type",
        "bucket",
        F.round(F.col("value").cast("double"), 6).alias("value"),
        F.col("is_filled").cast("int").alias("is_filled"),
    )
    interp = gap_fill_interpolate(obs, "bucket", ["event_type"], "v", 3600).select(
        F.lit("interp").alias("mode"),
        "event_type",
        "bucket",
        F.round("value", 6).alias("value"),
        F.col("is_filled").cast("int").alias("is_filled"),
    )
    return locf.unionByName(interp)


@register(
    "a06_scalable_percentiles",
    oracle="""
    WITH modes AS (
      SELECT l_linestatus, l_returnflag,
             row_number() OVER (PARTITION BY l_linestatus
                                ORDER BY count(*) DESC, l_returnflag) AS rk
      FROM lineitem GROUP BY l_linestatus, l_returnflag
    )
    SELECT p.l_linestatus,
           round(percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity), 6)      AS median_qty,
           round(percentile_cont(0.25) WITHIN GROUP (ORDER BY l_quantity), 6)     AS p25_qty,
           round(percentile_cont(0.9) WITHIN GROUP (ORDER BY l_extendedprice), 4) AS p90_price,
           any_value(m.l_returnflag) AS mode_flag
    FROM lineitem p JOIN modes m
      ON p.l_linestatus = m.l_linestatus AND m.rk = 1
    GROUP BY p.l_linestatus
    """,
)
def a06(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCALABLE exact ordered-set aggregates (the §2.4 family whose
    native form collects whole groups into aggregation state): the
    value-counted reformulation (operators/quantiles.py) shuffles
    |distinct values| instead of |rows| — pass 1 is a
    partial-aggregable count per (group, exact cent value), pass 2 an
    order-statistic lookup over the tiny aggregate. The oracle runs
    DuckDB's NATIVE percentile_cont against it (cross-formulation
    check), and the mode arm pins PG's implementation-defined tie to
    (count DESC, value ASC) on both sides."""
    from pg_datalake_spark.operators.quantiles import (
        grouped_exact_mode,
        grouped_exact_percentiles,
    )

    t = load_tables(spark, sf_dir, ["lineitem"])
    li = t["lineitem"]
    pcts = grouped_exact_percentiles(
        li,
        ["l_linestatus"],
        [
            ("l_quantity", 0.5, "median_raw"),
            ("l_quantity", 0.25, "p25_raw"),
            ("l_extendedprice", 0.9, "p90_raw"),
        ],
        scale=100,
    )
    mode = grouped_exact_mode(li, ["l_linestatus"], "l_returnflag", "mode_flag")
    return (
        pcts.join(mode, "l_linestatus")
        .select(
            "l_linestatus",
            F.round("median_raw", 6).alias("median_qty"),
            F.round("p25_raw", 6).alias("p25_qty"),
            F.round("p90_raw", 4).alias("p90_price"),
            "mode_flag",
        )
    )


@register(
    "j08_asof_variants",
    oracle="""
    WITH p AS (SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS lt
               FROM events WHERE event_type = 'purchase'),
    c AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS rt
          FROM events WHERE event_type = 'click')
    SELECT p.event_id,
           (SELECT max(rt) FROM c WHERE c.user_id = p.user_id AND rt <= lt)
             AS back_rt,
           (SELECT min(rt) FROM c WHERE c.user_id = p.user_id AND rt >= lt)
             AS fwd_rt,
           (SELECT max(rt) FROM c WHERE c.user_id = p.user_id
             AND rt <= lt AND lt - rt <= 600000000) AS back_tol_rt,
           (SELECT rt FROM c WHERE c.user_id = p.user_id
             ORDER BY abs(lt - rt), CASE WHEN rt <= lt THEN 0 ELSE 1 END, rt
             LIMIT 1) AS nearest_rt
    FROM p
    """,
)
def j08(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join VARIANTS (pd.merge_asof's full surface on the
    window composition — operators/asof.py): backward, forward and
    tolerance-bounded backward (10 minutes, epoch-µs) and nearest
    (backward wins ties), each one shuffle on the key. The oracle
    states each variant as a correlated (LATERAL-ordered) scalar
    subquery."""
    from pg_datalake_spark.operators.asof import asof_join

    t = load_tables(spark, sf_dir, ["events"])
    ev = t["events"].select(
        "event_id", "user_id", "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("t_us").alias("lt")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("t_us").alias("rt")
    )
    back = asof_join(purchases, clicks, "user_id", "lt", "rt").select(
        "event_id", F.col("rt").alias("back_rt")
    )
    fwd = asof_join(
        purchases, clicks, "user_id", "lt", "rt", direction="forward"
    ).select("event_id", F.col("rt").alias("fwd_rt"))
    btol = asof_join(
        purchases, clicks, "user_id", "lt", "rt", tolerance=600_000_000
    ).select("event_id", F.col("rt").alias("back_tol_rt"))
    near = asof_join(
        purchases, clicks, "user_id", "lt", "rt", direction="nearest"
    ).select("event_id", F.col("rt").alias("nearest_rt"))
    return (
        back.join(fwd, "event_id").join(btol, "event_id").join(near, "event_id")
        .select("event_id", "back_rt", "fwd_rt", "back_tol_rt", "nearest_rt")
    )


@register(
    "w08_time_weighted_avg",
    oracle="""
    WITH obs AS (
      SELECT event_type,
             CAST(epoch_us(ts) AS BIGINT) AS t_us,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE user_id < 100
    ),
    seg AS (
      SELECT event_type, t_us, cents,
             t_us - (t_us % 3600000000) AS bucket_us,
             lead(t_us) OVER (PARTITION BY event_type ORDER BY t_us, cents) AS next_us
      FROM obs
    )
    SELECT event_type, bucket_us,
           count(*) AS n_obs,
           CAST(sum(least(coalesce(next_us, bucket_us + 3600000000),
                          bucket_us + 3600000000) - t_us) AS BIGINT) AS covered_us,
           round(CAST(sum(cents * (least(coalesce(next_us, bucket_us + 3600000000),
                                         bucket_us + 3600000000) - t_us)) AS DOUBLE)
                 / sum(least(coalesce(next_us, bucket_us + 3600000000),
                             bucket_us + 3600000000) - t_us) / 100.0, 6) AS tw_avg
    FROM seg GROUP BY event_type, bucket_us
    """,
)
def w08(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-bucket time-weighted average (hypertable
    time_weight('locf') family — operators/timeseries.py): per
    event-type hourly buckets over a filtered observation series,
    µs×cents integer arithmetic so both engines agree exactly."""
    from pg_datalake_spark.operators.timeseries import time_weighted_avg

    t = load_tables(spark, sf_dir, ["events"])
    obs = (
        t["events"]
        .filter(F.col("user_id") < 100)
        .select(
            "event_type",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    return time_weighted_avg(obs, "t_us", "cents", ["event_type"], 3_600_000_000)


@register(
    "j09_point_in_range_join",
    oracle="""
    WITH pts AS (
      SELECT event_id AS p_id, CAST(round(value * 100) AS BIGINT) AS v
      FROM events WHERE event_id < 1500
    ),
    ranges AS (
      SELECT o_orderkey AS r_id,
             CAST(o_orderkey % 700 AS BIGINT) * 3 AS lo,
             CAST(o_orderkey % 700 AS BIGINT) * 3 + 40 AS hi
      FROM orders WHERE o_orderkey < 800
    )
    SELECT p_id, r_id, v
    FROM pts JOIN ranges ON v BETWEEN lo AND hi
    """,
)
def j09(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-range join (SURVEY §2.3 range join): the theta
    ``v BETWEEN lo AND hi`` would plan as a nested loop; expressed as
    the degenerate case of the binned interval join (points are
    zero-length intervals) it becomes a hash equi-join on the bin key
    with the exact predicate re-checked — same plan discipline as j07,
    linear in candidates."""
    from pg_datalake_spark.operators.intervals import interval_overlap_join

    t = load_tables(spark, sf_dir, ["events", "orders"])
    pts = (
        t["events"]
        .filter(F.col("event_id") < 1500)
        .select(
            F.col("event_id").alias("a_id"),
            F.round(F.col("value") * 100).cast("long").alias("a_start"),
            F.round(F.col("value") * 100).cast("long").alias("a_end"),
        )
    )
    ranges = (
        t["orders"]
        .filter(F.col("o_orderkey") < 800)
        .select(
            F.col("o_orderkey").alias("b_id"),
            ((F.col("o_orderkey") % 700) * 3).cast("long").alias("b_start"),
            ((F.col("o_orderkey") % 700) * 3 + 40).cast("long").alias("b_end"),
        )
    )
    pairs = interval_overlap_join(pts, ranges, bin_width=64)
    return pairs.join(pts.select("a_id", "a_start"), "a_id").select(
        F.col("a_id").alias("p_id"),
        F.col("b_id").alias("r_id"),
        F.col("a_start").alias("v"),
    )
