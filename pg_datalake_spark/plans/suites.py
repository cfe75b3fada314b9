"""Driver-window coverage suites: merged multi-operator queries.

The driver verifies only the FIRST 50 entries of ``queries()`` — fewer
slots than SURVEY §2 has operator families. These suites merge closely
related coverage queries (kept individually in relational.py /
funcs_coverage.py / llmops.py for the local parity gate and for
readable per-operator plans) into one driver-verified query per
family, so the whole §2.3–§2.7 relational surface + the previously
hash-failing function families fit inside the verified window.

Merging strategy: same-base families become one wide SELECT
(f01+f09+f14 share the lineitem probe base; the three window-frame
queries share events); cross-base families become a tagged UNION ALL
with a common column schema. Money sums use the exact-decimal
formulation (see tpch.dsum) so every value hashes identically across
engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pg_datalake_spark.catalog import load_tables
from pg_datalake_spark.plans.registry import ORACLES, QUERIES, register
from pg_datalake_spark.plans.tpch import davg, dsum
from pg_datalake_spark.session import local_frame

# ---------------------------------------------------------------------------
# Window frames: ROWS + RANGE + EXCLUDE emulation (w02 + w03 + w06)
# ---------------------------------------------------------------------------

_FRAMES_SPARK = """
SELECT event_id, user_id, value,
       CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS rn,
       CAST(rank()       OVER (PARTITION BY user_id ORDER BY value) AS BIGINT) AS rnk,
       CAST(dense_rank() OVER (PARTITION BY user_id ORDER BY value) AS BIGINT) AS drnk,
       percent_rank()    OVER (PARTITION BY user_id ORDER BY value) AS prnk,
       cume_dist()       OVER (PARTITION BY user_id ORDER BY value) AS cd,
       CAST(ntile(4)     OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS nt,
       lag(value)        OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
       lead(value, 2)    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next2_value,
       first_value(value)   OVER (PARTITION BY user_id ORDER BY ts, event_id) AS first_v,
       nth_value(value, 3)  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS third_v,
       least(min(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING),
             min(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 1 FOLLOWING AND 2 FOLLOWING))     AS excl_min,
       greatest(max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING),
                max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN 1 FOLLOWING AND 2 FOLLOWING))  AS excl_max,
       CAST(sum(CAST(value AS DECIMAL(30,6)))
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_sum,
       CAST(sum(CAST(value AS DECIMAL(30,6)))
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
         / count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)          AS moving_avg3,
       max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING)            AS next3_max,
       CAST(count(*) OVER (PARTITION BY user_id ORDER BY value
                           RANGE BETWEEN 10.0 PRECEDING AND 10.0 FOLLOWING) AS BIGINT)
         AS n_within_10,
       CAST(sum(CAST(value AS DECIMAL(30,6)))
            OVER (PARTITION BY user_id ORDER BY value
                  RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS cum_by_value,
       CAST(sum(CAST(value AS DECIMAL(30,6)))
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
            - CAST(value AS DECIMAL(30,6)) AS DOUBLE)                        AS neighbor_sum,
       CAST(sum(CAST(value AS DECIMAL(30,6)))
            OVER (PARTITION BY user_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
            - CAST(value AS DECIMAL(30,6)) AS DOUBLE)
         / nullif(count(*) OVER (PARTITION BY user_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                  - 1, 0)                                                    AS peer_avg,
       CAST(sum(CAST(value AS DECIMAL(30,6))) OVER (PARTITION BY user_id)
            - sum(CAST(value AS DECIMAL(30,6)))
              OVER (PARTITION BY user_id ORDER BY floor(value)
                    RANGE BETWEEN CURRENT ROW AND CURRENT ROW) AS DOUBLE)    AS excl_group_sum,
       CAST(sum(CAST(value AS DECIMAL(30,6))) OVER (PARTITION BY user_id)
            - sum(CAST(value AS DECIMAL(30,6)))
              OVER (PARTITION BY user_id ORDER BY floor(value)
                    RANGE BETWEEN CURRENT ROW AND CURRENT ROW)
            + CAST(value AS DECIMAL(30,6)) AS DOUBLE)                        AS excl_ties_sum
FROM events WHERE user_id < 10
"""


@register(
    "w02_w03_w06_frames",
    oracle="""
    SELECT event_id, user_id, value,
           CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS rn,
           CAST(rank()       OVER (PARTITION BY user_id ORDER BY value) AS BIGINT) AS rnk,
           CAST(dense_rank() OVER (PARTITION BY user_id ORDER BY value) AS BIGINT) AS drnk,
           percent_rank()    OVER (PARTITION BY user_id ORDER BY value) AS prnk,
           cume_dist()       OVER (PARTITION BY user_id ORDER BY value) AS cd,
           CAST(ntile(4)     OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS nt,
           lag(value)        OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
           lead(value, 2)    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next2_value,
           first_value(value)  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS first_v,
           nth_value(value, 3) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS third_v,
           min(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING
                            EXCLUDE CURRENT ROW)                              AS excl_min,
           max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING
                            EXCLUDE CURRENT ROW)                              AS excl_max,
           CAST(sum(CAST(value AS DECIMAL(30,6)))
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_sum,
           CAST(sum(CAST(value AS DECIMAL(30,6)))
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
             / count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)      AS moving_avg3,
           max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING)        AS next3_max,
           CAST(count(*) OVER (PARTITION BY user_id ORDER BY value
                               RANGE BETWEEN 10.0 PRECEDING AND 10.0 FOLLOWING) AS BIGINT)
             AS n_within_10,
           CAST(sum(CAST(value AS DECIMAL(30,6)))
                OVER (PARTITION BY user_id ORDER BY value
                      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS cum_by_value,
           CAST(sum(CAST(value AS DECIMAL(30,6)))
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING
                      EXCLUDE CURRENT ROW) AS DOUBLE)                        AS neighbor_sum,
           CAST(sum(CAST(value AS DECIMAL(30,6)))
                OVER (PARTITION BY user_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
                      EXCLUDE CURRENT ROW) AS DOUBLE)
             / nullif(count(*) OVER (PARTITION BY user_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
                                     EXCLUDE CURRENT ROW), 0)                AS peer_avg,
           CAST(sum(CAST(value AS DECIMAL(30,6)))
                OVER (PARTITION BY user_id ORDER BY floor(value)
                      RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
                      EXCLUDE GROUP) AS DOUBLE)                              AS excl_group_sum,
           CAST(sum(CAST(value AS DECIMAL(30,6)))
                OVER (PARTITION BY user_id ORDER BY floor(value)
                      RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
                      EXCLUDE TIES) AS DOUBLE)                               AS excl_ties_sum
    FROM events WHERE user_id < 10
    """,
)
def w_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full window surface in one driver-verified query: the named
    function list (row_number…nth_value, folded in from w01), ROWS
    frames (running/moving/leading), non-integral RANGE frames, and
    frame EXCLUDE CURRENT ROW — Spark has no EXCLUDE clause, so for
    additive aggregates the engine subtracts the current row from the
    full-frame aggregate (exact under decimal sums), for min/max it
    splits the frame into two one-sided frames (rows-before + rows-
    after, combined with null-skipping least/greatest), and EXCLUDE
    GROUP / EXCLUDE TIES over full-partition frames subtract the
    peer-group sum (RANGE CURRENT ROW over the tie-prone sort key IS
    the peer group), while the oracle runs DuckDB's NATIVE EXCLUDE,
    pinning every emulation against real EXCLUDE semantics."""
    load_tables(spark, sf_dir, ["events"])
    return spark.sql(_FRAMES_SPARK)


# ---------------------------------------------------------------------------
# Grouping sets + rollup + cube + grouping() (g01 + g02 + g03)
# ---------------------------------------------------------------------------


@register(
    "g01_g02_g03_grouping",
    oracle="""
    SELECT 'sets' AS tag, l_returnflag AS k1, l_linestatus AS k2,
           CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS INT) AS g_id,
           count(*) AS n, sum(l_quantity) AS val
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    UNION ALL
    SELECT 'rollup', r_name, n_name,
           CAST(grouping(r_name) * 2 + grouping(n_name) AS INT),
           count(*), CAST(sum(CAST(c_acctbal AS DECIMAL(30,2))) AS DOUBLE)
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    UNION ALL
    SELECT 'cube', o_orderstatus, o_orderpriority,
           CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS INT),
           count(*),
           CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) / count(o_totalprice)
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    UNION ALL
    SELECT 'wrollup', k1, k2,
           CAST(rank() OVER (ORDER BY val DESC, k1 NULLS FIRST, k2 NULLS FIRST) AS INT),
           n, val
    FROM (SELECT l_returnflag AS k1, l_linestatus AS k2, count(*) AS n,
                 sum(l_quantity) AS val
          FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus))
    """,
)
def g_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS (SQL form) + ROLLUP/CUBE (DataFrame API) + the
    grouping() marker + a window-over-rollup arm (folded in from g04 —
    the reference exercises exactly that nesting in its grouping-set
    pushdown tests), tagged-unioned into one schema. The grouping id
    disambiguates subtotal NULLs from real NULL keys; the wrollup arm
    reuses the id slot for the rank (unique ordering → deterministic)."""
    t = load_tables(spark, sf_dir, ["lineitem", "customer", "nation", "region", "orders"])
    sets = spark.sql(
        """
        SELECT 'sets' AS tag, l_returnflag AS k1, l_linestatus AS k2,
               CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS INT) AS g_id,
               count(*) AS n, sum(l_quantity) AS val
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )
    rollup = (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .rollup("r_name", "n_name")
        .agg(
            (F.grouping("r_name").cast("int") * 2 + F.grouping("n_name").cast("int")).alias(
                "g_id"
            ),
            F.count("*").alias("n"),
            dsum(F.col("c_acctbal"), 2).alias("val"),
        )
        .select(
            F.lit("rollup").alias("tag"),
            F.col("r_name").alias("k1"),
            F.col("n_name").alias("k2"),
            "g_id",
            "n",
            "val",
        )
    )
    cube = (
        t["orders"]
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            (
                F.grouping("o_orderstatus").cast("int") * 2
                + F.grouping("o_orderpriority").cast("int")
            ).alias("g_id"),
            F.count("*").alias("n"),
            davg(F.col("o_totalprice")).alias("val"),
        )
        .select(
            F.lit("cube").alias("tag"),
            F.col("o_orderstatus").alias("k1"),
            F.col("o_orderpriority").alias("k2"),
            "g_id",
            "n",
            "val",
        )
    )
    wrollup = spark.sql(
        """
        SELECT 'wrollup' AS tag, k1, k2,
               CAST(rank() OVER (ORDER BY val DESC, k1 NULLS FIRST, k2 NULLS FIRST) AS INT)
                 AS g_id,
               n, val
        FROM (SELECT l_returnflag AS k1, l_linestatus AS k2, count(*) AS n,
                     sum(l_quantity) AS val
              FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus))
        """
    )
    return sets.unionByName(rollup).unionByName(cube).unionByName(wrollup)


# ---------------------------------------------------------------------------
# Stats + ordered-set aggregates (a01 + a02), one grouping
# ---------------------------------------------------------------------------


_A01_SQL = """
    SELECT l_linestatus,
           round(stddev_samp(l_extendedprice), 4) AS sd_samp,
           round(stddev_pop(l_extendedprice), 4)  AS sd_pop,
           round(var_samp(l_quantity), 6)         AS v_samp,
           round(var_pop(l_quantity), 6)          AS v_pop,
           round(corr(l_quantity, l_extendedprice), 8)       AS cor,
           round(covar_pop(l_quantity, l_extendedprice), 4)  AS cov_pop,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS cov_samp,
           round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 8)    AS r2,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n,
           round(percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity), 6)       AS median_qty,
           round(percentile_cont(0.9) WITHIN GROUP (ORDER BY l_extendedprice), 4)  AS p90_price,
           percentile_disc(0.25) WITHIN GROUP (ORDER BY l_quantity) AS p25_disc,
           mode() WITHIN GROUP (ORDER BY l_returnflag) AS mode_flag,
           min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship
    FROM lineitem GROUP BY l_linestatus
    """


def a_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical + ordered-set aggregate families in one grouping.

    Moment statistics accumulate in doubles, so engines differ in the
    trailing ulps; outputs are rounded on both sides at granularities
    ≥10^5 × the observed cross-engine divergence (measured at sf0.01)
    so the rounded values hash identically. percentile_disc / mode /
    min / max pick actual data values — exact, no rounding."""
    t = load_tables(spark, sf_dir, ["lineitem"])
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    return (
        t["lineitem"]
        .groupBy("l_linestatus")
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
            F.round(
                F.expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity)"), 6
            ).alias("median_qty"),
            F.round(
                F.expr("percentile_cont(0.9) WITHIN GROUP (ORDER BY l_extendedprice)"), 4
            ).alias("p90_price"),
            F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY l_quantity)").alias(
                "p25_disc"
            ),
            F.mode("l_returnflag").alias("mode_flag"),
            F.min("l_shipdate").alias("min_ship"),
            F.max("l_shipdate").alias("max_ship"),
        )
    )


# ---------------------------------------------------------------------------
# Aggregate modifiers + multiple DISTINCT aggregates (a03 + a05)
# ---------------------------------------------------------------------------


_A03_SQL = """
    SELECT o_orderstatus,
           count(DISTINCT o_orderpriority)                 AS n_prio,
           count(DISTINCT o_custkey)                       AS n_cust,
           count(*) FILTER (WHERE o_totalprice > 100000.0) AS n_big,
           CAST(sum(CAST(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice END
                         AS DECIMAL(30,2))) AS DOUBLE)     AS urgent_total,
           bool_and(o_totalprice > 0.0)                    AS all_positive,
           bool_or(o_totalprice > 400000.0)                AS any_huge,
           any_value(o_orderstatus)                        AS an_example,
           CAST(sum(DISTINCT CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_distinct_cents,
           avg(DISTINCT CAST(round(o_totalprice) AS BIGINT)) AS avg_distinct_price,
           to_json(list_sort(array_agg(DISTINCT o_orderpriority))) AS prios,
           string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS prio_csv
    FROM orders GROUP BY o_orderstatus
    """


def a_modifiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT / FILTER / bool_and / bool_or / any_value plus multiple
    DISTINCT aggregates over different columns in one grouping (Spark
    plans this with expand), plus array_agg/string_agg (folded in from
    a04; JSON-rendered because raw list cells are unhashable in the
    driver's comparator). DISTINCT sums/avgs run over exact integers
    so the values are order-independent."""
    t = load_tables(spark, sf_dir, ["orders"])
    return (
        t["orders"]
        .groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_orderpriority").alias("n_prio"),
            F.countDistinct("o_custkey").alias("n_cust"),
            F.count(F.when(F.col("o_totalprice") > 100000.0, 1)).alias("n_big"),
            dsum(
                F.when(F.col("o_orderpriority") == "1-URGENT", F.col("o_totalprice")), 2
            ).alias("urgent_total"),
            F.bool_and(F.col("o_totalprice") > 0.0).alias("all_positive"),
            F.bool_or(F.col("o_totalprice") > 400000.0).alias("any_huge"),
            # grouped by the same column: any_value can only observe the key
            F.any_value(F.col("o_orderstatus")).alias("an_example"),
            F.expr("CAST(sum(DISTINCT CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)")
            .alias("sum_distinct_cents"),
            F.expr("avg(DISTINCT CAST(round(o_totalprice) AS BIGINT))").alias(
                "avg_distinct_price"
            ),
            F.to_json(F.sort_array(F.collect_set("o_orderpriority"))).alias("prios"),
            # listagg(DISTINCT) WITHIN GROUP alongside other DISTINCT
            # aggregates hits a Spark 4.1 RewriteDistinctAggregates
            # ClassCastException; DISTINCT+ORDER BY string_agg is
            # equivalent to joining the sorted distinct set (a04 keeps
            # the native listagg form in the parity gate)
            F.array_join(F.sort_array(F.collect_set("o_orderpriority")), ",").alias(
                "prio_csv"
            ),
        )
    )


@register(
    "a01_a05_aggregates",
    oracle=f"""
    SELECT 'stats' AS tag, * FROM ({_A01_SQL}) stats_arm
    UNION ALL BY NAME
    SELECT 'modifiers' AS tag, * FROM ({_A03_SQL}) mod_arm
    """,
)
def a_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full §2.4 aggregate surface in one driver slot: statistical
    + ordered-set families (a01+a02) and DISTINCT/FILTER/bool/array_agg
    modifiers (a03+a05), NULL-padded by-name union — each arm keeps its
    exact already-verified expressions; DuckDB's UNION ALL BY NAME
    mirrors Spark's unionByName(allowMissingColumns=True)."""
    stats = a_stats(spark, sf_dir).select(F.lit("stats").alias("tag"), "*")
    mods = a_modifiers(spark, sf_dir).select(F.lit("modifiers").alias("tag"), "*")
    return stats.unionByName(mods, allowMissingColumns=True)


# ---------------------------------------------------------------------------
# Set operations (s01 + s02 + s03 + s04)
# ---------------------------------------------------------------------------


@register(
    "s01_s04_set_operations",
    oracle="""
    SELECT 'union' AS op, CAST(nationkey AS BIGINT) AS k
    FROM (SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9900.0
          UNION SELECT s_nationkey FROM supplier)
    UNION ALL
    SELECT 'intersect', CAST(k AS BIGINT)
    FROM (SELECT c_nationkey AS k FROM customer
          INTERSECT SELECT s_nationkey FROM supplier)
    UNION ALL
    SELECT 'except_all', CAST(k AS BIGINT)
    FROM (SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
          EXCEPT ALL SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
    UNION ALL
    SELECT 'intersect_all', CAST(k AS BIGINT)
    FROM (SELECT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'R'
          INTERSECT ALL SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'A')
    """,
)
def s_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (dedup), INTERSECT, EXCEPT ALL, INTERSECT ALL — multiset
    semantics included — tagged into one result."""
    t = load_tables(spark, sf_dir, ["customer", "supplier", "orders", "lineitem"])

    def out(tag: str, df: DataFrame, col: str) -> DataFrame:
        return df.select(F.lit(tag).alias("op"), F.col(col).cast("long").alias("k"))

    u = (
        t["customer"]
        .filter(F.col("c_acctbal") > 9900.0)
        .select(F.col("c_nationkey").alias("nationkey"))
        .union(t["supplier"].select(F.col("s_nationkey").alias("nationkey")))
        .distinct()
    )
    i = (
        t["customer"]
        .select(F.col("c_nationkey").alias("k"))
        .intersect(t["supplier"].select(F.col("s_nationkey").alias("k")))
    )
    ea = (
        t["orders"]
        .filter(F.col("o_orderstatus") == "O")
        .select(F.col("o_custkey").alias("k"))
        .exceptAll(
            t["orders"].filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("k"))
        )
    )
    ia = (
        t["lineitem"]
        .filter(F.col("l_returnflag") == "R")
        .select(F.col("l_suppkey").alias("k"))
        .intersectAll(
            t["lineitem"]
            .filter(F.col("l_returnflag") == "A")
            .select(F.col("l_suppkey").alias("k"))
        )
    )
    return (
        out("union", u, "nationkey")
        .unionByName(out("intersect", i, "k"))
        .unionByName(out("except_all", ea, "k"))
        .unionByName(out("intersect_all", ia, "k"))
    )


# ---------------------------------------------------------------------------
# ORDER BY NULLS LAST + OFFSET/LIMIT + LIMIT WITH TIES (o01 + o03)
# ---------------------------------------------------------------------------


@register(
    "o01_o03_order_limit",
    oracle="""
    SELECT 'order_offset' AS src, CAST(n_nationkey AS BIGINT) AS k, CAST(rk AS DOUBLE) AS v
    FROM (SELECT n_nationkey, nullif(n_regionkey, 2) AS rk
          FROM nation
          ORDER BY rk DESC NULLS LAST, n_nationkey
          LIMIT 10 OFFSET 5)
    UNION ALL
    SELECT 'with_ties', CAST(l_orderkey AS BIGINT), l_quantity
    FROM (SELECT l_orderkey, l_quantity,
                 rank() OVER (ORDER BY l_quantity DESC) AS r
          FROM lineitem) t
    WHERE r <= 5
    UNION ALL
    SELECT 'distinct_on', CAST(user_id AS BIGINT), CAST(event_id AS DOUBLE)
    FROM (SELECT DISTINCT ON (user_id) user_id, event_id
          FROM events
          ORDER BY user_id, ts DESC, event_id)
    """,
)
def o_order_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULLS-LAST ordering with OFFSET+LIMIT, the LIMIT WITH TIES
    rewrite (rank() <= n), and the PG DISTINCT ON rewrite
    (row_number() = 1 per key, folded in from o02 — v identifies WHICH
    row won so the tiebreak order is verified), tagged into one
    result."""
    from pyspark.sql import Window as W

    t = load_tables(spark, sf_dir, ["nation", "lineitem"])
    oo = (
        t["nation"]
        .select("n_nationkey", F.nullif(F.col("n_regionkey"), F.lit(2)).alias("rk"))
        .orderBy(F.col("rk").desc_nulls_last(), "n_nationkey")
        .offset(5)
        .limit(10)
        .select(
            F.lit("order_offset").alias("src"),
            F.col("n_nationkey").cast("long").alias("k"),
            F.col("rk").cast("double").alias("v"),
        )
    )
    from pg_datalake_spark.functions.pgcompat import pg_limit_with_ties

    wt = pg_limit_with_ties(t["lineitem"], "l_quantity", 5).select(
        F.lit("with_ties").alias("src"),
        F.col("l_orderkey").cast("long").alias("k"),
        F.col("l_quantity").alias("v"),
    )
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    don = (
        ev.withColumn(
            "__rn",
            F.row_number().over(
                W.partitionBy("user_id").orderBy(F.desc("ts"), "event_id")
            ),
        )
        .filter(F.col("__rn") == 1)
        .select(
            F.lit("distinct_on").alias("src"),
            F.col("user_id").cast("long").alias("k"),
            F.col("event_id").cast("double").alias("v"),
        )
    )
    return oo.unionByName(wt).unionByName(don)


# ---------------------------------------------------------------------------
# Chained + recursive CTEs (c01 + c02)
# ---------------------------------------------------------------------------

_CTES_SQL = """
WITH RECURSIVE series(sn) AS (
  SELECT 1
  UNION ALL
  SELECT sn + 1 FROM series WHERE sn < 20
), big_orders AS (
  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
  WHERE o_totalprice > 200000.0
), cust_stats AS (
  SELECT o_custkey, count(*) AS n,
         CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS total
  FROM big_orders GROUP BY o_custkey
)
SELECT 'chained' AS tag, c_name AS name, n, total AS val
FROM cust_stats JOIN customer ON c_custkey = o_custkey
WHERE n >= 2
UNION ALL
SELECT 'recursive', CAST(NULL AS STRING), CAST(sn AS BIGINT), CAST(sn * sn AS DOUBLE)
FROM series
"""


def c_ctes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained CTE pipeline + WITH RECURSIVE in one statement — the
    identical SQL text runs on both engines (modulo STRING/VARCHAR)."""
    load_tables(spark, sf_dir, ["orders", "customer"])
    return spark.sql(_CTES_SQL)


# ---------------------------------------------------------------------------
# Correlated scalar subquery + LATERAL unnest (c03 + c04)
# ---------------------------------------------------------------------------


_C03_SQL = """
    SELECT 'correlated' AS tag, CAST(o_orderkey AS BIGINT) AS k,
           CAST(NULL AS VARCHAR) AS s, o_totalprice AS v
    FROM orders o
    WHERE o_totalprice > 2.0 * (
      SELECT CAST(sum(CAST(o2.o_totalprice AS DECIMAL(30,2))) AS DOUBLE)
             / count(o2.o_totalprice)
      FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
    UNION ALL
    SELECT 'lateral', CAST(n_nationkey AS BIGINT),
           n_name || ':' || part_word, CAST(NULL AS DOUBLE)
    FROM nation, LATERAL unnest(string_split(n_name, '_')) AS t(part_word)
    WHERE n_nationkey < 5
    """


def c_subqueries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (decorrelated by Catalyst into an
    aggregate + join) and LATERAL unnest (explode), tagged-unioned.
    The correlated average uses the exact-decimal formulation so the
    `> 2.0 * avg` boundary decides identically on both engines."""
    t = load_tables(spark, sf_dir, ["orders", "nation"])
    corr = spark.sql(
        """
        SELECT 'correlated' AS tag, CAST(o_orderkey AS BIGINT) AS k,
               CAST(NULL AS STRING) AS s, o_totalprice AS v
        FROM orders o
        WHERE o_totalprice > 2.0 * (
          SELECT CAST(sum(CAST(o2.o_totalprice AS DECIMAL(30,2))) AS DOUBLE)
                 / count(o2.o_totalprice)
          FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        """
    )
    lat = (
        t["nation"]
        .filter(F.col("n_nationkey") < 5)
        # explode must be a top-level generator (Spark rejects it nested
        # inside concat) — generate first, then build the payload
        .select(
            "n_nationkey",
            "n_name",
            F.explode(F.split("n_name", "_")).alias("part_word"),
        )
        .select(
            F.lit("lateral").alias("tag"),
            F.col("n_nationkey").cast("long").alias("k"),
            F.concat(F.col("n_name"), F.lit(":"), F.col("part_word")).alias("s"),
            F.lit(None).cast("double").alias("v"),
        )
    )
    return corr.unionByName(lat)


# ---------------------------------------------------------------------------
# Bound parameters + views (c05 + c06)
# ---------------------------------------------------------------------------


_C05_SQL = """
    SELECT 'param' AS tag, o_orderpriority AS name, count(*) AS n,
           CAST(NULL AS DOUBLE) AS avg_v
    FROM orders
    WHERE o_totalprice > 250000.0 AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY o_orderpriority
    UNION ALL
    SELECT 'view', r_name, count(*),
           CAST(sum(CAST(c_acctbal AS DECIMAL(30,2))) AS DOUBLE) / count(c_acctbal)
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """


def c_params_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (Spark-native named parameters) + a temp view
    over a join (Catalyst inlines the view; pushdown unaffected)."""
    t = load_tables(spark, sf_dir, ["orders", "customer", "nation", "region"])
    param = spark.sql(
        """
        SELECT 'param' AS tag, o_orderpriority AS name, count(*) AS n,
               CAST(NULL AS DOUBLE) AS avg_v
        FROM orders
        WHERE o_totalprice > :min_price AND o_orderdate >= :min_date
        GROUP BY o_orderpriority
        """,
        args={"min_price": 250000.0, "min_date": "1997-01-01 00:00:00"},
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMP VIEW customer_geo_suite AS
        SELECT c_custkey, c_acctbal, n_name, r_name
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        """
    )
    view = spark.sql(
        """
        SELECT 'view' AS tag, r_name AS name, count(*) AS n,
               CAST(sum(CAST(c_acctbal AS DECIMAL(30,2))) AS DOUBLE) / count(c_acctbal)
                 AS avg_v
        FROM customer_geo_suite GROUP BY r_name
        """
    )
    return param.unionByName(view)


@register(
    "c01_c02_c03_c06_ctes_subqueries",
    oracle=f"""
    SELECT * FROM ({_CTES_SQL.replace("AS STRING", "AS VARCHAR")}) cte_arm
    UNION ALL BY NAME
    SELECT * FROM ({_C03_SQL}) subq_arm
    UNION ALL BY NAME
    SELECT * FROM ({_C05_SQL}) pv_arm
    """,
)
def c_ctes_subqueries_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained CTE pipeline + WITH RECURSIVE (c01+c02), correlated
    scalar subquery + LATERAL unnest (c03+c04), and bound parameters +
    views (c05+c06) in one driver slot — merged r6 to free a window
    slot for the round-5 tail. The arms' own tag values
    (chained/recursive/correlated/lateral/param/view) distinguish them,
    so the NULL-padded by-name union needs no extra tag column."""
    return (
        c_ctes(spark, sf_dir)
        .unionByName(c_subqueries(spark, sf_dir), allowMissingColumns=True)
        .unionByName(c_params_views(spark, sf_dir), allowMissingColumns=True)
    )


# ---------------------------------------------------------------------------
# Pivot → unpivot roundtrip + standalone unpivot (p01 + p02)
# ---------------------------------------------------------------------------


_P01_SQL = """
    SELECT 'pivot_roundtrip' AS tag, l_returnflag AS k, metric, val
    FROM (
      SELECT l_returnflag,
             coalesce(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 0.0) AS qty_open,
             coalesce(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 0.0) AS qty_finished
      FROM lineitem GROUP BY l_returnflag) t
    UNPIVOT (val FOR metric IN (qty_open, qty_finished))
    UNION ALL
    SELECT 'unpivot', CAST(c_custkey AS VARCHAR), metric, val
    FROM (SELECT c_custkey, c_acctbal AS acctbal,
                 CAST(c_nationkey AS DOUBLE) AS nationkey_d
          FROM customer WHERE c_custkey <= 20) t
    UNPIVOT (val FOR metric IN (acctbal, nationkey_d))
    """


def p_pivot_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pivot() then unpivot() back (roundtrip exercises both rewrites on
    the same data; sums coalesced to 0 so the engines' differing NULL
    retention in unpivot cannot diverge) + the standalone unpivot."""
    t = load_tables(spark, sf_dir, ["lineitem", "customer"])
    piv = (
        t["lineitem"]
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .sum("l_quantity")
        .select(
            "l_returnflag",
            F.coalesce(F.col("O"), F.lit(0.0)).alias("qty_open"),
            F.coalesce(F.col("F"), F.lit(0.0)).alias("qty_finished"),
        )
    )
    round1 = (
        piv.unpivot("l_returnflag", ["qty_open", "qty_finished"], "metric", "val")
        .select(
            F.lit("pivot_roundtrip").alias("tag"),
            F.col("l_returnflag").alias("k"),
            "metric",
            "val",
        )
    )
    unp = (
        t["customer"]
        .filter(F.col("c_custkey") <= 20)
        .select(
            "c_custkey",
            F.col("c_acctbal").alias("acctbal"),
            F.col("c_nationkey").cast("double").alias("nationkey_d"),
        )
        .unpivot("c_custkey", ["acctbal", "nationkey_d"], "metric", "val")
        .select(
            F.lit("unpivot").alias("tag"),
            F.col("c_custkey").cast("string").alias("k"),
            "metric",
            "val",
        )
    )
    return round1.unionByName(unp)


# ---------------------------------------------------------------------------
# Math + casts/PG division + bitwise/width_bucket (f01 + f09 + f14)
# ---------------------------------------------------------------------------


@register(
    "f01_f09_f14_math_casts",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           abs(l_extendedprice - 2000.0)      AS abs_v,
           ceil(l_quantity / 7.0)             AS ceil_v,
           floor(l_quantity / 7.0)            AS floor_v,
           round(l_extendedprice / 3.0, 2)    AS round_v,
           trunc(l_extendedprice / 3.0)       AS trunc_v,
           sqrt(l_quantity)                   AS sqrt_v,
           round(cbrt(l_quantity), 6)         AS cbrt_v,
           round(exp(l_discount), 6)          AS exp_v,
           round(ln(l_extendedprice), 6)      AS ln_v,
           round(log10(l_extendedprice), 6)   AS log10_v,
           round(power(l_quantity, 2.0), 6)   AS pow_v,
           CAST(mod(CAST(l_quantity AS BIGINT), 7) AS BIGINT) AS mod_v,
           pi()                               AS pi_v,
           round(degrees(l_discount), 6)      AS deg_v,
           round(radians(l_quantity), 6)      AS rad_v,
           round(sin(l_discount), 6) AS sin_v, round(cos(l_discount), 6) AS cos_v,
           round(tan(l_discount), 6) AS tan_v, round(cot(l_discount + 1.0), 6) AS cot_v,
           round(asin(l_discount), 6) AS asin_v, round(acos(l_discount), 6) AS acos_v,
           round(atan(l_discount), 6) AS atan_v, round(atan2(l_discount, 2.0), 6) AS atan2_v,
           CAST(sign(l_extendedprice - 30000.0) AS DOUBLE) AS sign_v,
           CAST(l_quantity AS BIGINT)                        AS qty_int,
           CAST(l_quantity AS VARCHAR)                       AS qty_str,
           CAST(CAST(l_extendedprice AS DECIMAL(38,9)) AS VARCHAR) AS price_dec,
           CAST(CAST(l_shipdate AS DATE) AS VARCHAR)         AS ship_str,
           CAST(l_orderkey AS DOUBLE)                        AS key_dbl,
           CAST(trunc((CAST(l_quantity AS BIGINT) - 25) / 7.0) AS BIGINT) AS pgdiv_v,
           CAST(l_quantity AS BIGINT) % 7                    AS pgmod_v,
           CAST('123' AS BIGINT) + l_orderkey                AS parsed_int,
           CAST(l_orderkey & 255 AS BIGINT)        AS band_v,
           CAST(l_orderkey | 16 AS BIGINT)         AS bor_v,
           CAST(xor(l_orderkey, 85) AS BIGINT)     AS bxor_v,
           CAST(l_orderkey << 2 AS BIGINT)         AS shl_v,
           CAST(l_orderkey >> 1 AS BIGINT)         AS shr_v,
           CAST(~l_linenumber AS INT)              AS bnot_v,
           CASE WHEN l_quantity < 0.0 THEN CAST(0 AS BIGINT)
                WHEN l_quantity >= 50.0 THEN CAST(6 AS BIGINT)
                ELSE CAST(floor(l_quantity / 10.0) + 1 AS BIGINT)
           END AS bucket_v
    FROM lineitem WHERE l_orderkey <= 100
    """,
)
def f_math_casts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full math / cast / PG-truncating-division / bitwise /
    width_bucket probe set over one lineitem base (merges the f01, f09,
    f14 coverage queries for the driver window; see funcs_coverage.py
    for the per-family versions and rationale)."""
    from pg_datalake_spark.functions import pg_div

    t = load_tables(spark, sf_dir, ["lineitem"])
    q, p, d = F.col("l_quantity"), F.col("l_extendedprice"), F.col("l_discount")
    k = F.col("l_orderkey")
    return (
        t["lineitem"]
        .filter(k <= 100)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.abs(p - 2000.0).alias("abs_v"),
            F.ceil(q / 7.0).cast("double").alias("ceil_v"),
            F.floor(q / 7.0).cast("double").alias("floor_v"),
            F.round(p / 3.0, 2).alias("round_v"),
            F.when(p / 3.0 >= 0, F.floor(p / 3.0))
            .otherwise(-F.floor(-(p / 3.0)))
            .cast("double")
            .alias("trunc_v"),
            F.sqrt(q).alias("sqrt_v"),
            F.round(F.cbrt(q), 6).alias("cbrt_v"),
            F.round(F.exp(d), 6).alias("exp_v"),
            F.round(F.log(p), 6).alias("ln_v"),
            F.round(F.log10(p), 6).alias("log10_v"),
            F.round(F.pow(q, 2.0), 6).alias("pow_v"),
            (q.cast("long") % 7).alias("mod_v"),
            F.lit(3.141592653589793).alias("pi_v"),
            F.round(F.degrees(d), 6).alias("deg_v"),
            F.round(F.radians(q), 6).alias("rad_v"),
            F.round(F.sin(d), 6).alias("sin_v"),
            F.round(F.cos(d), 6).alias("cos_v"),
            F.round(F.tan(d), 6).alias("tan_v"),
            F.round(F.cot(d + 1.0), 6).alias("cot_v"),
            F.round(F.asin(d), 6).alias("asin_v"),
            F.round(F.acos(d), 6).alias("acos_v"),
            F.round(F.atan(d), 6).alias("atan_v"),
            F.round(F.atan2(d, F.lit(2.0)), 6).alias("atan2_v"),
            F.signum(p - 30000.0).alias("sign_v"),
            q.cast("long").alias("qty_int"),
            q.cast("string").alias("qty_str"),
            p.cast("decimal(38,9)").cast("string").alias("price_dec"),
            F.col("l_shipdate").cast("date").cast("string").alias("ship_str"),
            k.cast("double").alias("key_dbl"),
            pg_div(q.cast("long") - 25, F.lit(7)).alias("pgdiv_v"),
            (q.cast("long") % 7).alias("pgmod_v"),
            (F.lit("123").cast("long") + k).alias("parsed_int"),
            k.bitwiseAND(F.lit(255)).alias("band_v"),
            k.bitwiseOR(F.lit(16)).alias("bor_v"),
            k.bitwiseXOR(F.lit(85)).alias("bxor_v"),
            F.shiftleft(k, 2).alias("shl_v"),
            F.shiftright(k, 1).alias("shr_v"),
            F.expr("~l_linenumber").alias("bnot_v"),
            F.width_bucket(q, F.lit(0.0), F.lit(50.0), F.lit(5)).cast("long").alias("bucket_v"),
        )
    )


# ---------------------------------------------------------------------------
# Arrays + NULL-keeping array_agg + map/struct (f07 + f12 + f13)
# ---------------------------------------------------------------------------

def _payload(*cols: F.Column) -> F.Column:
    """Join columns into one string; NULLs become a sentinel so they
    stay distinguishable (concat_ws would silently drop them).
    Separator is built lazily — a module-scope F.lit() would assert an
    active SparkContext at import time and crash plans.load_all()."""
    parts: list[F.Column] = []
    for i, c in enumerate(cols):
        if i:
            parts.append(F.lit("|"))
        parts.append(F.coalesce(c.cast("string"), F.lit("∅")))
    return F.concat(*parts)


@register(
    "f07_f12_f13_arrays_maps",
    oracle="""
    WITH t AS (
      SELECT n_nationkey, array_agg(n_name ORDER BY n_name) AS names
      FROM nation GROUP BY n_regionkey, n_nationkey
    )
    SELECT 'arrays' AS probe, CAST(n_nationkey AS VARCHAR) AS k,
           coalesce(CAST(to_json(names) AS VARCHAR), '∅') || '|' ||
           coalesce(CAST(to_json(array_append(names, 'X')) AS VARCHAR), '∅') || '|' ||
           coalesce(CAST(to_json(array_prepend('A', names)) AS VARCHAR), '∅') || '|' ||
           coalesce(CAST(to_json(array_cat(names, ['Z1','Z2'])) AS VARCHAR), '∅') || '|' ||
           coalesce(CAST(CAST(len(names) AS INT) AS VARCHAR), '∅') || '|' ||
           coalesce(names[1], '∅') || '|' ||
           coalesce(CAST(array_contains(names, 'NATION_3') AS VARCHAR), '∅') || '|' ||
           coalesce(CAST(to_json(list_sort(array_cat(names, ['AAA']))) AS VARCHAR), '∅') AS payload
    FROM t
    UNION ALL
    SELECT 'map_struct', CAST(n_nationkey AS VARCHAR),
           coalesce(MAP {'nation': n_name,
                         'region': CAST(n_regionkey AS VARCHAR)}['nation'][1], '∅') || '|' ||
           coalesce(CAST(CAST(cardinality(MAP {'nation': n_name,
                    'region': CAST(n_regionkey AS VARCHAR)}) AS INT) AS VARCHAR), '∅') || '|' ||
           coalesce(to_json(list_sort(map_keys(MAP {'nation': n_name,
                    'region': CAST(n_regionkey AS VARCHAR)}))), '∅') || '|' ||
           coalesce(struct_pack(name := n_name, rk := n_regionkey).name, '∅') || '|' ||
           coalesce(CAST((struct_pack(name := n_name, rk := n_regionkey)
                          = struct_pack(name := n_name, rk := n_regionkey)) AS VARCHAR), '∅')
    FROM nation
    UNION ALL
    SELECT 'array_agg_nulls', o_orderstatus,
           coalesce(CAST(to_json(array_agg(v ORDER BY o_orderkey)) AS VARCHAR), '∅')
    FROM (SELECT o_orderstatus, o_orderkey,
                 CASE WHEN o_totalprice > 200000.0 THEN NULL
                      ELSE o_orderpriority END AS v
          FROM orders WHERE o_orderkey <= 60) t
    GROUP BY o_orderstatus
    """,
)
def f_arrays_maps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array functions, PG NULL-keeping array_agg, and map/struct ops
    (merges f07 + f12 + f13 for the driver window). Complex-typed
    outputs are serialized (to_json / string payload) because the
    driver's comparator cannot hash list cells."""
    from pg_datalake_spark.functions import pg_array_agg

    t = load_tables(spark, sf_dir, ["nation", "orders"])
    names = F.col("names")
    arrays = (
        t["nation"]
        .groupBy("n_regionkey", "n_nationkey")
        .agg(F.sort_array(F.collect_list("n_name")).alias("names"))
        .select(
            F.lit("arrays").alias("probe"),
            F.col("n_nationkey").cast("string").alias("k"),
            _payload(
                F.to_json(names),
                F.to_json(F.array_append(names, F.lit("X"))),
                F.to_json(F.array_prepend(names, F.lit("A"))),
                F.to_json(F.concat(names, F.array(F.lit("Z1"), F.lit("Z2")))),
                F.size(names),
                F.element_at(names, 1),
                F.array_contains(names, "NATION_3"),
                F.to_json(F.sort_array(F.concat(names, F.array(F.lit("AAA"))))),
            ).alias("payload"),
        )
    )
    m = F.create_map(
        F.lit("nation"), F.col("n_name"), F.lit("region"), F.col("n_regionkey").cast("string")
    )
    s = F.struct(F.col("n_name").alias("name"), F.col("n_regionkey").alias("rk"))
    map_struct = t["nation"].select(
        F.lit("map_struct").alias("probe"),
        F.col("n_nationkey").cast("string").alias("k"),
        _payload(
            F.element_at(m, "nation"),
            F.size(m),
            F.to_json(F.sort_array(F.map_keys(m))),
            s.getField("name"),
            (s == s),
        ).alias("payload"),
    )
    agg_base = (
        t["orders"]
        .filter(F.col("o_orderkey") <= 60)
        .select(
            "o_orderstatus",
            "o_orderkey",
            F.when(F.col("o_totalprice") > 200000.0, F.lit(None))
            .otherwise(F.col("o_orderpriority"))
            .alias("v"),
        )
        .repartition(1)
        .sortWithinPartitions("o_orderkey")
    )
    agg_nulls = agg_base.groupBy("o_orderstatus").agg(
        F.to_json(pg_array_agg(F.col("v"))).alias("vals")
    ).select(
        F.lit("array_agg_nulls").alias("probe"),
        F.col("o_orderstatus").alias("k"),
        _payload(F.col("vals")).alias("payload"),
    )
    return arrays.unionByName(map_struct).unionByName(agg_nulls)


_DUCK_T = {
    "string": "VARCHAR", "long": "BIGINT", "int": "INTEGER",
    "double": "DOUBLE", "timestamp_ntz": "TIMESTAMP",
}


def _pad_arm(df: DataFrame, arm: str, schema: list[tuple[str, str]]) -> DataFrame:
    present = set(df.columns)
    sel = [F.lit(arm).alias("arm")]
    for name, t in schema:
        src = F.col(name) if name in present else F.lit(None)
        sel.append(src.cast(t).alias(name))
    return df.select(*sel)


def _pad_arm_sql(
    arm: str, inner: str, schema: list[tuple[str, str]], present: list[str]
) -> str:
    pset = set(present)
    cols = ", ".join(
        f"CAST({name if name in pset else 'NULL'} AS {_DUCK_T[t]}) AS {name}"
        for name, t in schema
    )
    return f"SELECT '{arm}' AS arm, {cols} FROM ({inner}) {arm}_arm"


def _dedupe_cols(*groups: list[tuple[str, str]]) -> list[tuple[str, str]]:
    seen: set[str] = set()
    out: list[tuple[str, str]] = []
    for g in groups:
        for name, t in g:
            if name not in seen:
                seen.add(name)
                out.append((name, t))
    return out


# ---------------------------------------------------------------------------
# Similarity suite (v01 + v02 exact cosine; widened r14 with the ANN /
# quantization tier v03 + v04 + v06 + v07 — the family's last
# never-window arms; feeders in plans/llmops.py / operators/ivf.py /
# operators/pq.py stay standalone for the local gate)
# ---------------------------------------------------------------------------

_V_COLS = _dedupe_cols(
    [("id_a", "long"), ("id_b", "long"), ("cos_sim", "double")],
    [("n_exact", "long"), ("precision_ok", "int"), ("recall_ok", "int")],
    [("n_results", "long"), ("self_hit", "int"), ("sorted_ok", "int"),
     ("allprobe_exact_ok", "int")],
    [("n_total", "long"), ("dupof_lt_ok", "int"), ("kept_null_ok", "int"),
     ("justified_ok", "int")],
    [("q_id", "long")],
)

_V_ARM_COLS = {
    "v01_cosine_topk": ["id_a", "id_b", "cos_sim"],
    "v02_cosine_pairs": ["id_a", "id_b", "cos_sim"],
    "v03_ann_lsh_pairs": ["n_exact", "precision_ok", "recall_ok"],
    "v04_ivf_topk": ["n_results", "self_hit", "sorted_ok",
                     "allprobe_exact_ok"],
    "v06_semantic_dedup": ["n_total", "dupof_lt_ok", "kept_null_ok",
                           "justified_ok"],
    "v07_pq_adc_topk": ["q_id", "n_results", "self_hit"],
}


def _v_cosine_oracle() -> str:
    v01_inner = (
        "SELECT CAST(0 AS BIGINT) AS id_a, CAST(vec_id AS BIGINT) AS id_b,"
        " cos_sim FROM (" + ORACLES["v01_cosine_topk"] + ") v01_inner"
    )
    inners = {
        "v01_cosine_topk": v01_inner,
        "v02_cosine_pairs": ORACLES["v02_cosine_pairs"],
        "v03_ann_lsh_pairs": ORACLES["v03_ann_lsh_pairs"],
        "v04_ivf_topk": ORACLES["v04_ivf_topk"],
        "v06_semantic_dedup": ORACLES["v06_semantic_dedup"],
        "v07_pq_adc_topk": ORACLES["v07_pq_adc_topk"],
    }
    return "\nUNION ALL\n".join(
        _pad_arm_sql(name.split("_")[0], inners[name], _V_COLS, cols)
        for name, cols in _V_ARM_COLS.items()
    )


@register("v01_v02_v03_v04_v06_v07_cosine", oracle=_v_cosine_oracle)
def v_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity suite: brute-force cosine top-k (v01, narrow map +
    TakeOrdered) and all-pairs threshold (v02, the labeled O(n²)
    exactness baseline) — plus, rotated in r14, the scale-path tier:
    hyperplane-LSH ANN pairs (v03, banded bucket join), IVF top-k
    (v04, cluster-partitioned probes), SemDeDup (v06) and PQ/ADC
    top-k (v07, 32× compressed asymmetric distance). The ANN arms
    wrap the same property-bounded oracles that pass the full-sweep
    gate; every arm calls the feeder's registered callable and wraps
    its registered oracle, so suite and standalone versions cannot
    drift. Scores rounded to 6 decimals before selection on both
    sides (JVM vs DuckDB libm ulp divergence)."""
    v01 = QUERIES["v01_cosine_topk"](spark, sf_dir).select(
        F.lit(0).cast("long").alias("id_a"),
        F.col("vec_id").cast("long").alias("id_b"),
        "cos_sim",
    )
    out = _pad_arm(v01, "v01", _V_COLS)
    for name in list(_V_ARM_COLS)[1:]:
        arm = name.split("_")[0]
        out = out.unionByName(
            _pad_arm(QUERIES[name](spark, sf_dir), arm, _V_COLS)
        )
    return out


# ---------------------------------------------------------------------------
# Join shapes: full outer + right + cross + band + as-of + USING + NULLs
# (j01 + j02 + j03 + j04 + j05 + j06 + n01)
# ---------------------------------------------------------------------------


_JOINS_SQL = """
    SELECT 'full_outer' AS probe, CAST(n_nationkey AS VARCHAR) AS k,
           coalesce(n_name, '∅') || '|' ||
           coalesce(CAST(cust_cnt AS VARCHAR), '∅') AS payload
    FROM nation
    FULL OUTER JOIN (
      SELECT c_nationkey, count(*) AS cust_cnt
      FROM customer WHERE c_acctbal > 9000.0 GROUP BY c_nationkey
    ) cc ON n_nationkey = c_nationkey
    UNION ALL
    SELECT 'right', CAST(s_suppkey AS VARCHAR),
           coalesce(s_name, '∅') || '|' || coalesce(n_name, '∅')
    FROM nation RIGHT JOIN supplier
      ON n_nationkey = s_nationkey AND n_regionkey < 3
    UNION ALL
    SELECT 'cross', coalesce(r_name, '∅') || '|' || coalesce(o_orderstatus, '∅'),
           CAST(n AS VARCHAR)
    FROM (
      SELECT r_name, o_orderstatus, count(*) AS n
      FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
      CROSS JOIN nation
      WHERE n_regionkey = r_regionkey
      GROUP BY r_name, o_orderstatus
    ) cx
    UNION ALL
    SELECT 'band', band,
           CAST(n_orders AS VARCHAR) || '|' || CAST(total AS VARCHAR)
    FROM (
      SELECT band, count(*) AS n_orders,
             sum(CAST(o_totalprice AS DECIMAL(30,2))) AS total
      FROM orders
      JOIN (VALUES ('low', 0.0, 20000.0), ('mid', 20000.0, 100000.0),
                   ('high', 100000.0, 1e9)) AS b(band, lo, hi)
        ON o_totalprice >= lo AND o_totalprice < hi
      GROUP BY band
    ) bd
    UNION ALL
    SELECT 'asof', CAST(event_id AS VARCHAR),
           CAST(epoch_us(ts) AS VARCHAR) || '|' ||
           coalesce(CAST(epoch_us(last_click_ts) AS VARCHAR), '∅')
    FROM (
      SELECT e.event_id, e.ts, c.last_click_ts
      FROM events e
      LEFT JOIN LATERAL (
        SELECT max(e2.ts) AS last_click_ts
        FROM events e2
        WHERE e2.user_id = e.user_id AND e2.event_type = 'click' AND e2.ts <= e.ts
      ) c ON true
      WHERE e.event_type = 'purchase'
    ) ao
    UNION ALL
    SELECT 'using', CAST(n_nationkey AS VARCHAR),
           coalesce(n_name, '∅') || '|' || coalesce(r_name, '∅')
    FROM (SELECT n_nationkey, n_name, n_regionkey AS rk FROM nation) n
    JOIN (SELECT r_regionkey AS rk, r_name FROM region) r USING (rk)
    UNION ALL
    SELECT 'null_semantics', 'agg',
           CAST(n_rows AS VARCHAR) || '|' || CAST(n_st AS VARCHAR) || '|' ||
           CAST(n_st_distinct AS VARCHAR) || '|' || CAST(n_null AS VARCHAR) || '|' ||
           CAST(n_null_nsafe AS VARCHAR) || '|' ||
           coalesce(CAST(min_k7 AS VARCHAR), '∅') || '|' ||
           coalesce(CAST(max_k7 AS VARCHAR), '∅') || '|' ||
           CAST(both_null AS VARCHAR)
    FROM (
      SELECT count(*) AS n_rows, count(st) AS n_st,
             count(DISTINCT st) AS n_st_distinct,
             CAST(sum(CASE WHEN st IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
             CAST(sum(CASE WHEN st IS NOT DISTINCT FROM NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null_nsafe,
             min(k7) AS min_k7, max(k7) AS max_k7,
             CAST(count(*) FILTER (WHERE k7 IS NULL AND st IS NULL) AS BIGINT) AS both_null
      FROM (SELECT nullif(o_orderstatus, 'P') AS st,
                   nullif(o_custkey % 7, 3)   AS k7
            FROM orders WHERE o_orderkey <= 400) t
    ) ns
    """


@register(
    "j01_j07_j08_n01_joins",
    oracle=lambda: _JOINS_SQL
    + f"""
    UNION ALL
    SELECT 'interval' AS probe, CAST(a_id AS VARCHAR) AS k,
           CAST(b_id AS VARCHAR) AS payload
    FROM ({ORACLES['j07_interval_overlap_join']}) iv_arm
    UNION ALL
    SELECT 'asofv' AS probe, CAST(event_id AS VARCHAR) AS k,
           CAST(COALESCE(back_rt, -1) AS VARCHAR) || '|' ||
           CAST(COALESCE(fwd_rt, -1) AS VARCHAR) || '|' ||
           CAST(COALESCE(back_tol_rt, -1) AS VARCHAR) || '|' ||
           CAST(COALESCE(nearest_rt, -1) AS VARCHAR) AS payload
    FROM ({ORACLES['j08_asof_variants']}) asofv_arm
    """,
)
def j_joins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every §2.3 join shape the driver window was missing — full outer,
    right, cross, theta/band, as-of, USING, interval-overlap (j07's
    binned equi-join) — plus the §2.8 NULL-semantics probe,
    tagged-unioned into one schema. The per-shape queries stay
    registered individually (relational.py j01–j07, n01) for the local
    parity gate and for readable single-operator plans; this suite is the
    driver-verified aggregate (reference join surface:
    pg_lake_table/src/fdw/pg_lake_table.c join pushdown tests)."""
    from pg_datalake_spark.operators.asof import asof_join

    t = load_tables(
        spark, sf_dir,
        ["nation", "region", "customer", "supplier", "orders", "events"],
    )

    def tag(probe: str, k: F.Column, payload: F.Column):
        return [
            F.lit(probe).alias("probe"),
            k.cast("string").alias("k"),
            payload.alias("payload"),
        ]

    # j01: full outer against a filtered aggregate
    cc = (
        t["customer"]
        .filter(F.col("c_acctbal") > 9000.0)
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("cust_cnt"))
    )
    full_outer = (
        t["nation"]
        .join(cc, F.col("n_nationkey") == F.col("c_nationkey"), "full_outer")
        .select(*tag("full_outer", F.col("n_nationkey"),
                     _payload(F.col("n_name"), F.col("cust_cnt"))))
    )

    # j02: right join with a compound (key + residual) condition
    right = (
        t["nation"]
        .join(
            t["supplier"],
            (F.col("n_nationkey") == F.col("s_nationkey")) & (F.col("n_regionkey") < 3),
            "right",
        )
        .select(*tag("right", F.col("s_suppkey"),
                     _payload(F.col("s_name"), F.col("n_name"))))
    )

    # j03: cross join (tiny dims — broadcast-nested-loop at any scale)
    cross = (
        t["region"]
        .crossJoin(t["orders"].select("o_orderstatus").distinct())
        .crossJoin(t["nation"])
        .filter(F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "o_orderstatus")
        .agg(F.count("*").alias("n"))
        .select(*tag("cross", _payload(F.col("r_name"), F.col("o_orderstatus")),
                     F.col("n").cast("string")))
    )

    # j04: theta/band join against an O(1)-row broadcast dim
    bands = local_frame(
        spark,
        [("low", 0.0, 20000.0), ("mid", 20000.0, 100000.0), ("high", 100000.0, 1e9)],
        "band string, lo double, hi double",
    )
    band = (
        t["orders"]
        .join(
            F.broadcast(bands),
            (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n_orders"),
            # exact decimal sum — order-independent, hashes identically
            F.sum(F.col("o_totalprice").cast("decimal(30,2)")).alias("total"),
        )
        .select(*tag("band", F.col("band"),
                     _payload(F.col("n_orders"), F.col("total"))))
    )

    # j05: as-of join (last click at-or-before each purchase, per user);
    # timestamps compared as epoch µs — engine-neutral string form
    purchases = t["events"].filter(F.col("event_type") == "purchase")
    clicks = t["events"].filter(F.col("event_type") == "click")
    asof = (
        asof_join(
            purchases,
            clicks.select("user_id", F.col("ts").alias("click_ts")),
            on="user_id",
            left_time="ts",
            right_time="click_ts",
        )
        .select(*tag(
            "asof",
            F.col("event_id"),
            _payload(
                F.unix_micros(F.col("ts").cast("timestamp")),
                F.unix_micros(F.col("click_ts").cast("timestamp")),
            ),
        ))
    )

    # j06: USING join (shared key column, deduplicated)
    using = (
        t["nation"]
        .select("n_nationkey", "n_name", F.col("n_regionkey").alias("rk"))
        .join(
            F.broadcast(t["region"].select(F.col("r_regionkey").alias("rk"), "r_name")),
            "rk",
        )
        .select(*tag("using", F.col("n_nationkey"),
                     _payload(F.col("n_name"), F.col("r_name"))))
    )

    # n01: NULL-semantics counters (count/DISTINCT/min/max skip NULLs,
    # null-safe equality, FILTER over NULL predicates)
    nbase = (
        t["orders"]
        .filter(F.col("o_orderkey") <= 400)
        .select(
            F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("st"),
            F.nullif(F.col("o_custkey") % 7, F.lit(3)).alias("k7"),
        )
    )
    nulls = (
        nbase.agg(
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
        .select(*tag(
            "null_semantics",
            F.lit("agg"),
            _payload(
                F.col("n_rows"), F.col("n_st"), F.col("n_st_distinct"),
                F.col("n_null"), F.col("n_null_nsafe"),
                F.col("min_k7"), F.col("max_k7"), F.col("both_null"),
            ),
        ))
    )

    # j07: interval-overlap as binned equi-join (registered individually
    # in relational.py; re-tagged here for the driver window)
    interval = QUERIES["j07_interval_overlap_join"](spark, sf_dir).select(
        *tag("interval", F.col("a_id"), F.col("b_id").cast("string"))
    )

    # j08: backward/forward/tolerance/nearest as-of variants (r11
    # rotation; NULL misses pinned as -1 on both sides)
    def c(col):
        return F.coalesce(F.col(col), F.lit(-1)).cast("string")

    asofv = QUERIES["j08_asof_variants"](spark, sf_dir).select(
        *tag(
            "asofv",
            F.col("event_id"),
            F.concat_ws(
                "|", c("back_rt"), c("fwd_rt"), c("back_tol_rt"),
                c("nearest_rt"),
            ),
        )
    )

    return (
        full_outer.unionByName(right)
        .unionByName(cross)
        .unionByName(band)
        .unionByName(asof)
        .unionByName(using)
        .unionByName(nulls)
        .unionByName(interval)
        .unionByName(asofv)
    )


# ---------------------------------------------------------------------------
# Generic tagged-arm plumbing for the round-5 window suites: each arm is
# an already-verified registered query re-projected onto one shared
# nullable schema (arm VARCHAR, k VARCHAR, i1..i5 BIGINT, d1 DOUBLE,
# s1 VARCHAR). The Spark side calls the feeder query's registered
# callable; the oracle side wraps the feeder's registered oracle SQL —
# so the merged suites can never drift from the per-operator versions.
# ---------------------------------------------------------------------------

_G_TYPES = [
    ("k", "string", "VARCHAR"),
    ("i1", "long", "BIGINT"),
    ("i2", "long", "BIGINT"),
    ("i3", "long", "BIGINT"),
    ("i4", "long", "BIGINT"),
    ("i5", "long", "BIGINT"),
    ("d1", "double", "DOUBLE"),
    ("d2", "double", "DOUBLE"),
    ("s1", "string", "VARCHAR"),
]


def _g_arm(df: DataFrame, arm: str, **cols: F.Column) -> DataFrame:
    sel = [F.lit(arm).alias("arm")]
    for name, spark_t, _ in _G_TYPES:
        sel.append(cols.get(name, F.lit(None)).cast(spark_t).alias(name))
    return df.select(*sel)


def _g_arm_sql(arm: str, inner: str, **exprs: str) -> str:
    cols = ", ".join(
        f"CAST({exprs.get(name, 'NULL')} AS {duck_t}) AS {name}"
        for name, _, duck_t in _G_TYPES
    )
    return f"SELECT '{arm}' AS arm, {cols} FROM ({inner}) {arm}_arm"


def _g_union(*arms: DataFrame) -> DataFrame:
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out


# ---------------------------------------------------------------------------
# Window tail: top-k per group + sessionization + gap fill (w04+w05+w07)
# ---------------------------------------------------------------------------


@register(
    "w04_w05_w07_cb18_cb42_sessions",
    oracle=lambda: "\nUNION ALL\n".join(
        [
            _g_arm_sql(
                "w04",
                ORACLES["w04_topk_per_group"],
                k="CAST(user_id AS VARCHAR) || '|' || CAST(event_id AS VARCHAR)",
                d1="value",
            ),
            _g_arm_sql(
                "w05",
                ORACLES["w05_sessionization"],
                k="CAST(user_id AS VARCHAR) || '|' || CAST(session_id AS VARCHAR)",
                i1="n_events",
                i2="epoch_us(session_start)",
                i3="epoch_us(session_end)",
            ),
            _g_arm_sql(
                "w07",
                ORACLES["w07_gap_fill_locf"],
                k="mode || '|' || event_type || '|' || CAST(bucket AS VARCHAR)",
                i1="is_filled",
                d1="value",
            ),
            _g_arm_sql(
                "cb18",
                ORACLES["cb18_transition_matrix"],
                k="from_type || '|' || to_type",
                i1="n",
            ),
            _g_arm_sql(
                "cb42",
                ORACLES["cb42_band_type_rollup"],
                k="CAST(g_band AS VARCHAR) || '|' || CAST(g_type AS VARCHAR)"
                  " || '|' || coalesce(CAST(k_band AS VARCHAR), '*')"
                  " || '|' || coalesce(event_type, '*')",
                i1="n",
                i2="approx_users",
            ),
        ]
    ),
)
def w_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-operator tail for the driver window: top-k per group
    (w04), 30-minute-gap sessionization (w05), and hypertable-style gap
    fill in both LOCF and linear-interpolation modes (w07), plus the
    r7 ClickBench event-type transition matrix (cb18: lead() per user
    with a deterministic tie order, aggregated over (from, to) pairs)
    and — rotated in r9 — the ClickBench tier-4 two-phase totals
    ROLLUP (cb42). Session bounds compare as epoch µs (timestamps
    render engine-specifically; integers don't — load_tables pins the
    session to UTC)."""
    w04 = QUERIES["w04_topk_per_group"](spark, sf_dir)
    w05 = QUERIES["w05_sessionization"](spark, sf_dir)
    w07 = QUERIES["w07_gap_fill_locf"](spark, sf_dir)
    cb18 = QUERIES["cb18_transition_matrix"](spark, sf_dir)
    cb42 = QUERIES["cb42_band_type_rollup"](spark, sf_dir)
    bar = F.lit("|")
    return _g_union(
        _g_arm(
            w04,
            "w04",
            k=F.concat(F.col("user_id").cast("string"), bar, F.col("event_id").cast("string")),
            d1=F.col("value"),
        ),
        _g_arm(
            w05,
            "w05",
            k=F.concat(
                F.col("user_id").cast("string"), bar, F.col("session_id").cast("string")
            ),
            i1=F.col("n_events"),
            i2=F.unix_micros(F.col("session_start").cast("timestamp")),
            i3=F.unix_micros(F.col("session_end").cast("timestamp")),
        ),
        _g_arm(
            w07,
            "w07",
            k=F.concat(
                F.col("mode"), bar, F.col("event_type"), bar, F.col("bucket").cast("string")
            ),
            i1=F.col("is_filled"),
            d1=F.col("value"),
        ),
        _g_arm(
            cb18,
            "cb18",
            k=F.concat(F.col("from_type"), bar, F.col("to_type")),
            i1=F.col("n"),
        ),
        _g_arm(
            cb42,
            "cb42",
            k=F.concat(
                F.col("g_band").cast("string"), bar,
                F.col("g_type").cast("string"), bar,
                F.coalesce(F.col("k_band").cast("string"), F.lit("*")), bar,
                F.coalesce(F.col("event_type"), F.lit("*")),
            ),
            i1=F.col("n"),
            i2=F.col("approx_users"),
        ),
    )


# ---------------------------------------------------------------------------
# Window tail: LLM-pipeline ops (x03+x04+x05+x06+x07 + t05 + v05)
# ---------------------------------------------------------------------------


@register(
    "x03_x08_x14_t01_t02_t03_t04_t05_t06_t07_t08_t09_t10_t11_t12_t13_t14_t15_v05_d03_d04_d05_d06_d08_d09_d10_t16_llmops",
    oracle=lambda: "\nUNION ALL\n".join(
        [
            _g_arm_sql(
                "x14",
                ORACLES["x14_curation_pipeline"],
                k="split || '|' || lang",
                i1="n_docs",
                i2="total_words",
            ),
            _g_arm_sql(
                "d10",
                ORACLES["d10_exact_substring_excise"],
                k="CAST(doc_id AS VARCHAR)",
                i1="n_tokens",
                i2="n_removed",
                s1="md5(clean_text)",
            ),
            _g_arm_sql(
                "t16",
                ORACLES["t16_gopher_quality"],
                k="CAST(doc_id AS VARCHAR)",
                i1="n_words",
                i2="n_stopwords",
                i3="CAST(passes_gopher AS BIGINT)",
                d1="alpha_frac",
            ),
            _g_arm_sql(
                "x03",
                ORACLES["x03_stratified_sample"],
                k="o_orderstatus",
                i1="n_sampled",
                i2="key_sum",
            ),
            _g_arm_sql(
                "x04",
                ORACLES["x04_profile"],
                k='"column"',
                i1="n",
                i2="n_null",
                i3="n_distinct",
                s1="min_str || '|' || max_str",
            ),
            _g_arm_sql(
                "x05",
                ORACLES["x05_corr_matrix"],
                k="col_a || '|' || col_b",
                d1="corr",
            ),
            _g_arm_sql(
                "x06",
                ORACLES["x06_impute"],
                k="o_orderstatus",
                i1="n",
                i2="n_was_null",
                d1="total_imputed",
            ),
            _g_arm_sql(
                "x07",
                ORACLES["x07_hash_split"],
                k="split",
                i1="n",
                i2="id_sum",
            ),
            _g_arm_sql(
                "t05",
                ORACLES["t05_redaction"],
                k="CAST(doc_id AS VARCHAR)",
                i1="n_email",
                i2="n_url",
                i3="n_phone",
                s1="redacted_md5",
            ),
            _g_arm_sql(
                "v05",
                ORACLES["v05_quantized_cosine"],
                k="CAST(vec_id AS VARCHAR)",
                d1="qcos_sim",
            ),
            _g_arm_sql(
                "d06",
                ORACLES["d06_contamination"],
                k="CAST(doc_id AS VARCHAR)",
                i1="n_grams",
                i2="n_hits",
                d1="overlap_frac",
            ),
            _g_arm_sql(
                "t06",
                ORACLES["t06_corpus_ngram_stats"],
                k="g",
                i1="doc_freq",
                i2="total_count",
            ),
            _g_arm_sql(
                "x08",
                ORACLES["x08_sequence_packing"],
                k="CAST(seq_id AS VARCHAR)",
                i1="n_docs",
                i2="n_tokens",
                i3="first_start",
            ),
            _g_arm_sql(
                "t07",
                ORACLES["t07_char_entropy"],
                k="CAST(doc_id AS VARCHAR)",
                i1="n_chars",
                i2="n_distinct_chars",
                d1="entropy_bits",
            ),
            _g_arm_sql(
                "t08",
                ORACLES["t08_bpe_token_count"],
                k="CAST(doc_id AS VARCHAR)",
                i1="n_bpe_tokens",
                i2="n_ws_tokens",
            ),
            _g_arm_sql(
                "t12",
                ORACLES["t12_novelty_score"],
                k="CAST(doc_id AS VARCHAR)",
                i1="n_grams",
                i2="n_novel",
                d1="novelty",
            ),
            _g_arm_sql(
                "t09",
                ORACLES["t09_repetition_filter"],
                k="CAST(doc_id AS VARCHAR)",
                i1="n_2grams",
                d1="dup_2gram_frac",
                d2="dup_3gram_frac",
            ),
            _g_arm_sql(
                "t01",
                ORACLES["t01_text_quality"],
                k="CAST(doc_id AS VARCHAR)",
                i1="n_tokens",
                d1="quality",
                d2="punct_ratio",
            ),
            _g_arm_sql(
                "t02",
                ORACLES["t02_language_id"],
                k="CAST(doc_id AS VARCHAR)",
                s1="labeled_lang || '|' || lang_guess",
            ),
            _g_arm_sql(
                "t03",
                ORACLES["t03_fingerprint_tokens"],
                k="CAST(doc_id AS VARCHAR)",
                i1="n_tokens",
                i2="n_unique_tokens",
                s1="fp",
            ),
            _g_arm_sql(
                "t04",
                ORACLES["t04_chunking"],
                k="CAST(doc_id AS VARCHAR) || '|' || CAST(chunk_idx AS VARCHAR)",
                i1="n_chunk_tokens",
                s1="md5(chunk_text)",
            ),
            _g_arm_sql(
                "t10",
                ORACLES["t10_boilerplate_removal"],
                k="CAST(doc_id AS VARCHAR)",
                i1="n_lines_in",
                i2="n_removed",
                s1="clean_md5",
            ),
            _g_arm_sql(
                "t11",
                ORACLES["t11_tfidf_keywords"],
                k="CAST(doc_id AS VARCHAR) || '|' || term",
                d1="tfidf",
            ),
            _g_arm_sql(
                "t13",
                ORACLES["t13_ccnet_quality_tiers"],
                k="tier",
                i1="n_docs",
                i2="n_kept",
                i3="min_e100",
                i4="max_e100",
                i5="id_sum",
                s1="CAST(kept_id_sum AS VARCHAR)",
            ),
            _g_arm_sql(
                "t14",
                ORACLES["t14_bm25_topk"],
                k="CAST(q_id AS VARCHAR) || '|' || CAST(doc_id AS VARCHAR)",
                i1="rank",
                d1="score",
            ),
            _g_arm_sql(
                "t15",
                ORACLES["t15_dsir_importance"],
                k="CAST(doc_id AS VARCHAR)",
                i1="n_toks",
                d1="score",
            ),
            _g_arm_sql(
                "d03",
                ORACLES["d03_simhash"],
                k="CAST(doc_id AS VARCHAR)",
                i1="simhash",
            ),
            _g_arm_sql(
                "d04",
                ORACLES["d04_ngram_jaccard_pairs"],
                k="CAST(id_a AS VARCHAR) || '|' || CAST(id_b AS VARCHAR)",
                d1="jaccard",
            ),
            _g_arm_sql(
                "d05",
                ORACLES["d05_dup_clusters"],
                k="CAST(doc_id AS VARCHAR)",
                i1="cluster_id",
            ),
            _g_arm_sql(
                "d08",
                ORACLES["d08_contamination_spans"],
                k="CAST(doc_id AS VARCHAR)",
                i1="n_spans",
                i2="n_hit_spans",
                i3="first_hit_pos",
                i4="last_hit_pos",
                d1="hit_frac",
            ),
            _g_arm_sql(
                "d09",
                ORACLES["d09_exact_substring_spans"],
                k="CAST(doc_id AS VARCHAR)",
                i1="n_tokens",
                i2="n_spans",
                i3="n_dup_spans",
                i4="first_dup_pos",
                i5="last_dup_pos",
                d1="dup_frac",
                s1="CAST(dup_tokens AS VARCHAR)",
            ),
        ]
    ),
)
def x_llmops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-training-pipeline operator suite for the driver window:
    deterministic stratified sampling (x03), single-pass column
    profiling (x04), correlation matrix (x05), group-mean imputation
    (x06), append-stable hash splits (x07), PII-style redaction (t05),
    int8-quantized cosine top-k (v05) — plus the round-5 tail rotated
    in r6: benchmark decontamination (d06), corpus n-gram statistics
    (t06), and distributed-prefix-sum sequence packing (x08) — plus
    the r9 rotation: the end-to-end curation PIPELINE composition
    (x14: Gopher gate → exact dedup → md5 split → corpus report) —
    plus the r10 rotation: ExactSubstr excision (d10, cleaned strings
    hash via md5) and the full Gopher structural battery (t16) — plus
    the r11 rotation: character entropy (t07), BPE-ish token counting
    (t08), cross-corpus novelty (t12) and the repetition filter
    (t09 — the d2 slot was added for its second fraction) — plus the
    r12 rotation, which closes the text-operator family: boilerplate
    removal (t10), TF-IDF keywords (t11), CCNet perplexity tiers
    (t13), BM25 top-k retrieval (t14) and DSIR importance weights
    (t15). Every t01–t16 operator is now window-verified — plus the
    r14 rotation, which closes the dedup family: SimHash fingerprints
    (d03), n-gram Jaccard pairs (d04), MinHash dup clusters via label
    propagation (d05), contamination span maps (d08) and ExactSubstr
    duplicate-span census (d09). Every d01–d10 operator is now
    window-verified (d01/d02 inside x14's pipeline arm)."""
    bar = F.lit("|")
    return _g_union(
        _g_arm(
            QUERIES["x14_curation_pipeline"](spark, sf_dir),
            "x14",
            k=F.concat(F.col("split"), bar, F.col("lang")),
            i1=F.col("n_docs"),
            i2=F.col("total_words"),
        ),
        _g_arm(
            QUERIES["d10_exact_substring_excise"](spark, sf_dir),
            "d10",
            k=F.col("doc_id").cast("string"),
            i1=F.col("n_tokens"),
            i2=F.col("n_removed"),
            s1=F.md5(F.col("clean_text")),
        ),
        _g_arm(
            QUERIES["t16_gopher_quality"](spark, sf_dir),
            "t16",
            k=F.col("doc_id").cast("string"),
            i1=F.col("n_words"),
            i2=F.col("n_stopwords"),
            i3=F.col("passes_gopher").cast("long"),
            d1=F.col("alpha_frac"),
        ),
        _g_arm(
            QUERIES["x03_stratified_sample"](spark, sf_dir),
            "x03",
            k=F.col("o_orderstatus"),
            i1=F.col("n_sampled"),
            i2=F.col("key_sum"),
        ),
        _g_arm(
            QUERIES["x04_profile"](spark, sf_dir),
            "x04",
            k=F.col("column"),
            i1=F.col("n"),
            i2=F.col("n_null"),
            i3=F.col("n_distinct"),
            s1=F.concat(F.col("min_str"), bar, F.col("max_str")),
        ),
        _g_arm(
            QUERIES["x05_corr_matrix"](spark, sf_dir),
            "x05",
            k=F.concat(F.col("col_a"), bar, F.col("col_b")),
            d1=F.col("corr"),
        ),
        _g_arm(
            QUERIES["x06_impute"](spark, sf_dir),
            "x06",
            k=F.col("o_orderstatus"),
            i1=F.col("n"),
            i2=F.col("n_was_null"),
            d1=F.col("total_imputed"),
        ),
        _g_arm(
            QUERIES["x07_hash_split"](spark, sf_dir),
            "x07",
            k=F.col("split"),
            i1=F.col("n"),
            i2=F.col("id_sum"),
        ),
        _g_arm(
            QUERIES["t05_redaction"](spark, sf_dir),
            "t05",
            k=F.col("doc_id").cast("string"),
            i1=F.col("n_email"),
            i2=F.col("n_url"),
            i3=F.col("n_phone"),
            s1=F.col("redacted_md5"),
        ),
        _g_arm(
            QUERIES["v05_quantized_cosine"](spark, sf_dir),
            "v05",
            k=F.col("vec_id").cast("string"),
            d1=F.col("qcos_sim"),
        ),
        _g_arm(
            QUERIES["d06_contamination"](spark, sf_dir),
            "d06",
            k=F.col("doc_id").cast("string"),
            i1=F.col("n_grams"),
            i2=F.col("n_hits"),
            d1=F.col("overlap_frac"),
        ),
        _g_arm(
            QUERIES["t06_corpus_ngram_stats"](spark, sf_dir),
            "t06",
            k=F.col("g"),
            i1=F.col("doc_freq"),
            i2=F.col("total_count"),
        ),
        _g_arm(
            QUERIES["x08_sequence_packing"](spark, sf_dir),
            "x08",
            k=F.col("seq_id").cast("string"),
            i1=F.col("n_docs"),
            i2=F.col("n_tokens"),
            i3=F.col("first_start"),
        ),
        _g_arm(
            QUERIES["t07_char_entropy"](spark, sf_dir),
            "t07",
            k=F.col("doc_id").cast("string"),
            i1=F.col("n_chars"),
            i2=F.col("n_distinct_chars"),
            d1=F.col("entropy_bits"),
        ),
        _g_arm(
            QUERIES["t08_bpe_token_count"](spark, sf_dir),
            "t08",
            k=F.col("doc_id").cast("string"),
            i1=F.col("n_bpe_tokens"),
            i2=F.col("n_ws_tokens"),
        ),
        _g_arm(
            QUERIES["t12_novelty_score"](spark, sf_dir),
            "t12",
            k=F.col("doc_id").cast("string"),
            i1=F.col("n_grams"),
            i2=F.col("n_novel"),
            d1=F.col("novelty"),
        ),
        _g_arm(
            QUERIES["t09_repetition_filter"](spark, sf_dir),
            "t09",
            k=F.col("doc_id").cast("string"),
            i1=F.col("n_2grams"),
            d1=F.col("dup_2gram_frac"),
            d2=F.col("dup_3gram_frac"),
        ),
        _g_arm(
            QUERIES["t01_text_quality"](spark, sf_dir),
            "t01",
            k=F.col("doc_id").cast("string"),
            i1=F.col("n_tokens"),
            d1=F.col("quality"),
            d2=F.col("punct_ratio"),
        ),
        _g_arm(
            QUERIES["t02_language_id"](spark, sf_dir),
            "t02",
            k=F.col("doc_id").cast("string"),
            s1=F.concat(F.col("labeled_lang"), bar, F.col("lang_guess")),
        ),
        _g_arm(
            QUERIES["t03_fingerprint_tokens"](spark, sf_dir),
            "t03",
            k=F.col("doc_id").cast("string"),
            i1=F.col("n_tokens"),
            i2=F.col("n_unique_tokens"),
            s1=F.col("fp"),
        ),
        _g_arm(
            QUERIES["t04_chunking"](spark, sf_dir),
            "t04",
            k=F.concat(
                F.col("doc_id").cast("string"), bar, F.col("chunk_idx").cast("string")
            ),
            i1=F.col("n_chunk_tokens"),
            s1=F.md5(F.col("chunk_text")),
        ),
        _g_arm(
            QUERIES["t10_boilerplate_removal"](spark, sf_dir),
            "t10",
            k=F.col("doc_id").cast("string"),
            i1=F.col("n_lines_in"),
            i2=F.col("n_removed"),
            s1=F.col("clean_md5"),
        ),
        _g_arm(
            QUERIES["t11_tfidf_keywords"](spark, sf_dir),
            "t11",
            k=F.concat(F.col("doc_id").cast("string"), bar, F.col("term")),
            d1=F.col("tfidf"),
        ),
        _g_arm(
            QUERIES["t13_ccnet_quality_tiers"](spark, sf_dir),
            "t13",
            k=F.col("tier"),
            i1=F.col("n_docs"),
            i2=F.col("n_kept"),
            i3=F.col("min_e100"),
            i4=F.col("max_e100"),
            i5=F.col("id_sum"),
            s1=F.col("kept_id_sum").cast("string"),
        ),
        _g_arm(
            QUERIES["t14_bm25_topk"](spark, sf_dir),
            "t14",
            k=F.concat(
                F.col("q_id").cast("string"), bar, F.col("doc_id").cast("string")
            ),
            i1=F.col("rank"),
            d1=F.col("score"),
        ),
        _g_arm(
            QUERIES["t15_dsir_importance"](spark, sf_dir),
            "t15",
            k=F.col("doc_id").cast("string"),
            i1=F.col("n_toks"),
            d1=F.col("score"),
        ),
        _g_arm(
            QUERIES["d03_simhash"](spark, sf_dir),
            "d03",
            k=F.col("doc_id").cast("string"),
            i1=F.col("simhash"),
        ),
        _g_arm(
            QUERIES["d04_ngram_jaccard_pairs"](spark, sf_dir),
            "d04",
            k=F.concat(
                F.col("id_a").cast("string"), bar, F.col("id_b").cast("string")
            ),
            d1=F.col("jaccard"),
        ),
        _g_arm(
            QUERIES["d05_dup_clusters"](spark, sf_dir),
            "d05",
            k=F.col("doc_id").cast("string"),
            i1=F.col("cluster_id"),
        ),
        _g_arm(
            QUERIES["d08_contamination_spans"](spark, sf_dir),
            "d08",
            k=F.col("doc_id").cast("string"),
            i1=F.col("n_spans"),
            i2=F.col("n_hit_spans"),
            i3=F.col("first_hit_pos"),
            i4=F.col("last_hit_pos"),
            d1=F.col("hit_frac"),
        ),
        _g_arm(
            QUERIES["d09_exact_substring_spans"](spark, sf_dir),
            "d09",
            k=F.col("doc_id").cast("string"),
            i1=F.col("n_tokens"),
            i2=F.col("n_spans"),
            i3=F.col("n_dup_spans"),
            i4=F.col("first_dup_pos"),
            i5=F.col("last_dup_pos"),
            d1=F.col("dup_frac"),
            s1=F.col("dup_tokens").cast("string"),
        ),
    )


# ---------------------------------------------------------------------------
# Window tail: collations + PG regexp_replace + VARIANT + pivot/unpivot
# (c07 + f16 + f17 + p01 + p02)
# ---------------------------------------------------------------------------


@register(
    "c07_f16_f17_p01_p02_u02_u03_mm01_mm02_mm03_mm04_mm05_misc",
    oracle=lambda: "\nUNION ALL\n".join(
        [
            _g_arm_sql(
                "c07",
                ORACLES["c07_collations"],
                k="'all'",
                i1="n_ci_groups",
                i2="max_ci_group",
                i3="n_cs_names",
                i4="n_brand11",
                i5="n_lt_m",
            ),
            _g_arm_sql(
                "mm01",
                ORACLES["mm01_decode_meta"],
                k="CAST(width AS VARCHAR) || '|' || CAST(height AS VARCHAR)",
                i1="n",
            ),
            _g_arm_sql(
                "mm02",
                ORACLES["mm02_resize_pipeline"],
                k="CAST(width AS VARCHAR)",
                i1="n",
            ),
            _g_arm_sql(
                "mm03",
                ORACLES["mm03_frame_sample"],
                k="CAST(media_id AS VARCHAR)",
                i1="n_sampled",
            ),
            _g_arm_sql(
                "mm04",
                ORACLES["mm04_byte_histogram"],
                k="CAST(media_id AS VARCHAR) || '|' || CAST(dim AS VARCHAR)",
                d1="f0",
            ),
            _g_arm_sql(
                "mm05",
                ORACLES["mm05_perceptual_neardup"],
                k="CAST(id_a AS VARCHAR) || '|' || CAST(id_b AS VARCHAR)",
                i1="ham_ok",
            ),
            _g_arm_sql(
                "f16",
                ORACLES["f16_regexp_replace_first"],
                k="CAST(p_partkey AS VARCHAR)",
                s1="first_only || '|' || all_matches || '|' || no_match"
                " || '|' || swapped || '|' || bracketed",
            ),
            _g_arm_sql(
                "f17",
                ORACLES["f17_variant_semistructured"],
                k="CAST(event_id AS VARCHAR)",
                i1="k_typed",
                i2="k_doubled",
                s1="k_string",
            ),
            _g_arm_sql(
                "p01_p02",
                _P01_SQL,
                k="tag || '|' || k || '|' || metric",
                d1="val",
            ),
            _g_arm_sql(
                "u02",
                ORACLES["u02_python_udtf"],
                k="CAST(n_nationkey AS VARCHAR) || '|' || CAST(pos AS VARCHAR)",
                s1="word",
            ),
            _g_arm_sql(
                "u03",
                ORACLES["u03_pandas_udaf"],
                k="o_orderstatus",
                d1="wmean",
            ),
        ]
    ),
)
def c_f_misc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-surface tail for the driver window: case-insensitive
    collations (c07), PG first-match regexp_replace with backreferences
    (f16), VARIANT semi-structured access (f17), the pivot→unpivot
    roundtrip (p01+p02) — plus the round-5 UDF tail rotated in r6:
    Python UDTF under LATERAL (u02) and the grouped-agg pandas UDAF
    (u03) — plus the r12 rotation closing the MULTIMODAL family:
    binary decode metadata (mm01), resize pipeline shape (mm02),
    deterministic frame sampling (mm03), the closed-form byte
    histogram (mm04) and SimHash perceptual near-dup pairs (mm05),
    all previously sweep-only."""
    bar = F.lit("|")
    c07 = QUERIES["c07_collations"](spark, sf_dir)
    f16 = QUERIES["f16_regexp_replace_first"](spark, sf_dir)
    f17 = QUERIES["f17_variant_semistructured"](spark, sf_dir)
    p = p_pivot_unpivot(spark, sf_dir)
    return _g_union(
        _g_arm(
            c07,
            "c07",
            k=F.lit("all"),
            i1=F.col("n_ci_groups"),
            i2=F.col("max_ci_group"),
            i3=F.col("n_cs_names"),
            i4=F.col("n_brand11"),
            i5=F.col("n_lt_m"),
        ),
        _g_arm(
            f16,
            "f16",
            k=F.col("p_partkey").cast("string"),
            s1=F.concat(
                F.col("first_only"), bar, F.col("all_matches"), bar,
                F.col("no_match"), bar, F.col("swapped"), bar, F.col("bracketed"),
            ),
        ),
        _g_arm(
            f17,
            "f17",
            k=F.col("event_id").cast("string"),
            i1=F.col("k_typed"),
            i2=F.col("k_doubled"),
            s1=F.col("k_string"),
        ),
        _g_arm(
            p,
            "p01_p02",
            k=F.concat(F.col("tag"), bar, F.col("k"), bar, F.col("metric")),
            d1=F.col("val"),
        ),
        _g_arm(
            QUERIES["u02_python_udtf"](spark, sf_dir),
            "u02",
            k=F.concat(
                F.col("n_nationkey").cast("string"), bar, F.col("pos").cast("string")
            ),
            s1=F.col("word"),
        ),
        _g_arm(
            QUERIES["u03_pandas_udaf"](spark, sf_dir),
            "u03",
            k=F.col("o_orderstatus"),
            d1=F.col("wmean"),
        ),
        _g_arm(
            QUERIES["mm01_decode_meta"](spark, sf_dir),
            "mm01",
            k=F.concat(F.col("width").cast("string"), bar,
                       F.col("height").cast("string")),
            i1=F.col("n"),
        ),
        _g_arm(
            QUERIES["mm02_resize_pipeline"](spark, sf_dir),
            "mm02",
            k=F.col("width").cast("string"),
            i1=F.col("n"),
        ),
        _g_arm(
            QUERIES["mm03_frame_sample"](spark, sf_dir),
            "mm03",
            k=F.col("media_id").cast("string"),
            i1=F.col("n_sampled"),
        ),
        _g_arm(
            QUERIES["mm04_byte_histogram"](spark, sf_dir),
            "mm04",
            k=F.concat(F.col("media_id").cast("string"), bar,
                       F.col("dim").cast("string")),
            d1=F.col("f0"),
        ),
        _g_arm(
            QUERIES["mm05_perceptual_neardup"](spark, sf_dir),
            "mm05",
            k=F.concat(F.col("id_a").cast("string"), bar,
                       F.col("id_b").cast("string")),
            i1=F.col("ham_ok"),
        ),
    )


# ---------------------------------------------------------------------------
# Generic NULL-padded by-name union for arms whose natural schemas are
# too wide for _G_TYPES: each arm keeps its own column names, absent
# columns become typed NULLs — same contract on both engines.
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# Window tail (r6): spatial suite — geo01 + geo02 + geo03
# ---------------------------------------------------------------------------

_GEO01_COLS = [
    ("c_mktsegment", "string"), ("n", "long"), ("n_near", "long"),
    ("sum_dist", "double"), ("min_x", "double"), ("max_x", "double"),
    ("n_inside", "long"), ("bbox_area", "double"), ("bbox_perim", "double"),
    ("cx", "double"), ("cy", "double"), ("ring_n", "int"),
    ("corner_len", "double"), ("tx", "double"), ("ty", "double"),
    ("hits_env", "int"), ("ix_w", "double"), ("diag_hit", "int"),
    ("diag_gap", "int"), ("dix_x", "double"), ("dix_y", "double"),
    ("ring_hit", "int"), ("buf_area", "double"), ("buf_perim", "double"),
    ("office_line_dist", "double"), ("union_w", "double"),
]
_GEO02_COLS = [("ring_id", "int"), ("n_pts", "long"), ("key_sum", "long")]
_GEO03_COLS = [("a_id", "long"), ("b_id", "long"), ("dist", "double")]
_GEO04_COLS = [
    ("nk", "int"), ("h", "double"), ("r", "double"),
    ("ia", "double"), ("ip", "double"), ("inp", "int"), ("icvx", "int"),
    ("ua", "double"), ("up", "double"), ("unp", "int"), ("ucvx", "int"),
    ("ca", "double"), ("cnp", "int"),
]
# geo05 shares nk with geo04; its own columns follow
_GEO05_COLS = [
    ("nk", "int"), ("k", "int"), ("ha", "double"), ("hp", "double"),
    ("hn", "int"), ("hcvx", "int"),
]
# r10 rotation: geo12 (GEOS-tail Arrow buffer/simplify) + geo13
# (trivial accessor tier); nk shared, boolean flags padded as ints
# (CAST(bool AS INTEGER) agrees between Spark and DuckDB)
_GEO12_COLS = [
    ("nk", "int"), ("rb_area", "double"), ("rb_perim", "double"),
    ("rb_n", "int"), ("cap_area", "double"), ("cap_perim", "double"),
    ("cap_n", "int"), ("spt_n", "int"), ("spt_area", "double"),
    ("spt_orig_n", "int"), ("er_area", "double"), ("er_perim", "double"),
    ("er_n", "int"),
]
_GEO13_COLS = [
    ("nk", "int"), ("srid", "int"), ("is_empty_f", "int"),
    ("is_empty_t", "int"), ("gtype_sq", "string"), ("gtype_ln", "string"),
    ("gtype_pt", "string"), ("dim_sq", "int"), ("dim_ln", "int"),
    ("dim_pt", "int"), ("ngeom", "int"), ("nintr", "int"),
    ("ext_n", "int"), ("ext_area", "double"), ("z_is_null", "int"),
    ("m_is_null", "int"), ("zmflag", "int"), ("f2d_x", "double"),
]
# r10 tail rotation: geo14 (GEOS-tail difference/overlaps/touches/
# point-on-surface/linemerge), geo15 (makevalid), geo16 (general
# concave boolean ops), geo17 (final name-parity tier); nk shared,
# booleans padded as ints.
_GEO14_COLS = [
    ("nk", "int"), ("diff_area", "double"), ("diff_perim", "double"),
    ("diff_n", "int"), ("d2_area", "double"), ("d2_n", "int"),
    ("pos_a_x", "double"), ("pos_a_y", "double"), ("pos_l_x", "double"),
    ("pos_l_y", "double"), ("ov_ab", "int"), ("ov_dis", "int"),
    ("tch_edge", "int"), ("tch_corner", "int"), ("tch_ov", "int"),
    ("lm_n", "int"), ("lm_pts", "int"), ("lm_len", "double"),
    ("lm_first_x", "double"), ("lm_first_y", "double"),
]
_GEO15_COLS = [
    ("nk", "int"), ("valid_before", "int"), ("valid_square", "int"),
    ("n_lobes", "int"), ("lobes_area", "double"), ("lobe_pts_total", "int"),
    ("square_identity", "int"),
]
_GEO16_COLS = [
    ("nk", "int"), ("i_n", "int"), ("i_area", "double"), ("u_n", "int"),
    ("u_area", "double"), ("u_hole", "double"), ("d_n", "int"),
    ("d_area", "double"), ("d_max", "double"),
]
_GEO17_COLS = [
    ("nk", "int"), ("mkpoly_n", "int"), ("mkpoly_area", "double"),
    ("mkpoly_null", "int"), ("cov_corner", "int"), ("cov_center", "int"),
    ("cov_out", "int"), ("covby_corner", "int"), ("covr_in", "int"),
    ("covr_edge", "int"), ("covr_ov", "int"), ("covbyr_in", "int"),
    ("ce_pts", "int"), ("ce_lines", "int"), ("ce_polys", "int"),
    ("f3z_z", "double"), ("f3m_m", "double"), ("f4d_z", "double"),
    ("f4d_m", "double"), ("wkb_len", "int"), ("wkb_rt_x", "double"),
    ("gft_x", "double"), ("gft_y", "double"),
]
# r11 rotation: geo19 (multi-ring geometry: holes/MULTIPOLYGON area/
# perimeter/contains/boolean ops + generalized makevalid); i_n/i_area/
# d_n/d_area/u_n/u_area SHARE geo16's columns (same names and types).
_GEO19_COLS = [
    ("nk", "int"), ("a_area", "double"), ("a_perim", "double"),
    ("in_hole", "int"), ("in_solid", "int"), ("i_n", "int"),
    ("i_area", "double"), ("i_in_hole", "int"), ("d_n", "int"),
    ("d_area", "double"), ("e_area", "double"), ("u_n", "int"),
    ("u_area", "double"), ("mv_n", "int"), ("mv_area", "double"),
    ("mv_pts", "int"), ("mv_ccw", "int"),
]
_GEO06_COLS = [
    ("nk", "int"), ("n_in", "int"), ("n_kept", "int"),
    ("kept_length", "double"),
]
_GEO07_COLS = [
    ("aname", "string"), ("n_nearest", "long"), ("avg_m", "double"),
    ("n_within_5000km", "long"), ("sum_az", "double"),
]
_GEO08_COLS = [
    ("nk", "int"), ("a", "double"), ("b", "double"), ("ep_x", "double"),
    ("ep_y", "double"), ("p3_x", "double"), ("pn2_y", "double"),
    ("oob_null", "int"), ("npts", "int"), ("rev0_y", "double"),
    ("flip_x", "double"), ("ip_x", "double"), ("ip_y", "double"),
    ("loc_f", "double"), ("cp_x", "double"), ("cp_y", "double"),
    ("sl_len", "double"), ("sub_len", "double"), ("proj_x", "double"),
    ("proj_y", "double"), ("dedup_n", "int"), ("open_closed", "int"),
    ("ring_closed", "int"), ("bnd_n", "int"),
]
_GEO09_COLS = [
    ("nk", "int"), ("wkt_len", "double"), ("poly_area", "double"),
    ("poly_n", "int"), ("gj_len", "double"), ("rt_same", "int"),
    ("norm_x", "double"), ("norm_y", "double"), ("norm_area", "double"),
    ("rp_x", "double"), ("rp_y", "double"), ("cprop_in", "int"),
    ("cprop_cross", "int"), ("disj_far", "int"), ("x_cross", "int"),
    ("par_cross", "int"),
]
_GEO10_COLS = [
    ("nk", "int"), ("n_in", "int"), ("n_kept", "int"),
    ("kept_len", "double"), ("n_pts", "long"), ("sum_xm", "long"),
    ("sum_ym", "long"),
]
_GEO11_COLS = [
    ("aname", "string"), ("n", "long"), ("sum_mm", "long"),
    ("min_mm", "long"), ("max_mm", "long"), ("n_fallback", "long"),
]
_GEO18_COLS = [
    ("nk", "int"), ("qn", "int"), ("q_first_x", "double"),
    ("q_first_y", "double"), ("q_last_x", "double"),
    ("q_last_y", "double"), ("q_mid_x", "double"), ("q_mid_y", "double"),
    ("q_len", "double"), ("hw_sign", "int"), ("h_last_x", "double"),
    ("h_mid_y", "double"), ("h_len", "double"), ("col_null", "int"),
]
_GEO20_COLS = [
    ("nk", "int"), ("eu_area", "double"), ("eu_n", "int"),
    ("cu_area", "double"), ("cu_n", "int"), ("po_area", "double"),
    ("pa_area", "double"), ("ps_area", "double"), ("pin_area", "double"),
    ("pin_n", "int"), ("hc_area", "double"), ("hc_n", "int"),
]


# (_dedupe_cols / _DUCK_T / _pad_arm / _pad_arm_sql moved above the
# cosine suite — r14, needed at module import time for _V_COLS)


_GEO_SCHEMA = _dedupe_cols(
    _GEO01_COLS, _GEO02_COLS, _GEO03_COLS, _GEO04_COLS,
    [c for c in _GEO05_COLS if c[0] != "nk"],
    [c for c in _GEO12_COLS if c[0] != "nk"],
    [c for c in _GEO13_COLS if c[0] != "nk"],
    [c for c in _GEO14_COLS if c[0] != "nk"],
    [c for c in _GEO15_COLS if c[0] != "nk"],
    [c for c in _GEO16_COLS if c[0] != "nk"],
    [c for c in _GEO17_COLS if c[0] != "nk"],
    [c for c in _GEO19_COLS if c[0] != "nk"],
    [c for c in _GEO20_COLS if c[0] != "nk"],
    [c for c in _GEO06_COLS if c[0] != "nk"],
    _GEO07_COLS,
    [c for c in _GEO08_COLS if c[0] != "nk"],
    [c for c in _GEO09_COLS if c[0] != "nk"],
    [c for c in _GEO10_COLS if c[0] != "nk"],
    _GEO11_COLS,
    [c for c in _GEO18_COLS if c[0] != "nk"],
)


_GEO_ARMS = [
    ("geo01", "geo01_spatial", _GEO01_COLS),
    ("geo02", "geo02_grid_spatial_join", _GEO02_COLS),
    ("geo03", "geo03_knn_radius_join", _GEO03_COLS),
    ("geo04", "geo04_convex_clip_union", _GEO04_COLS),
    ("geo05", "geo05_convex_hull", _GEO05_COLS),
    ("geo12", "geo12_buffer_geoms_spt", _GEO12_COLS),
    ("geo13", "geo13_accessor_tier", _GEO13_COLS),
    ("geo14", "geo14_geos_tail_ops", _GEO14_COLS),
    ("geo15", "geo15_makevalid", _GEO15_COLS),
    ("geo16", "geo16_general_boolean_ops", _GEO16_COLS),
    ("geo17", "geo17_name_parity_tier", _GEO17_COLS),
    ("geo19", "geo19_multiring_geometry", _GEO19_COLS),
    ("geo20", "geo20_tangent_boolean_ops", _GEO20_COLS),
    ("geo06", "geo06_simplify_radial", _GEO06_COLS),
    ("geo07", "geo07_geodesic", _GEO07_COLS),
    ("geo08", "geo08_linear_referencing", _GEO08_COLS),
    ("geo09", "geo09_wkt_geojson_predicates", _GEO09_COLS),
    ("geo10", "geo10_simplify_mercator", _GEO10_COLS),
    ("geo11", "geo11_vincenty", _GEO11_COLS),
    ("geo18", "geo18_curve_tier", _GEO18_COLS),
]


@register(
    "geo01_geo02_geo03_geo04_geo05_geo06_geo07_geo08_geo09_geo10_geo11_geo12_geo13_geo14_geo15_geo16_geo17_geo18_geo19_geo20_spatial",
    oracle=lambda: "\nUNION ALL\n".join(
        _pad_arm_sql(arm, ORACLES[name], _GEO_SCHEMA, [n for n, _ in cols])
        for arm, name, cols in _GEO_ARMS
    ),
)
def geo_spatial_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial suite for the driver window (r6 rotation; widened r10
    twice): the full st_* scalar surface probe (geo01, 26 hash-checked
    columns), the grid-binned filter-and-refine points-in-polygons
    join (geo02), the distance-bounded kNN join (geo03), the convex
    boolean-op tier (geo04: Sutherland–Hodgman clip, star-shaped
    union, convexity), the Jarvis-march convex hull (geo05), the r9
    GEOS-tail Arrow buffer / erosion / simplify-preserve-topology
    kernels (geo12), the trivial accessor tier (geo13), and the r10
    tail — GEOS-tail difference/overlaps/touches/point-on-surface/
    linemerge (geo14), bowtie makevalid (geo15), general concave
    Greiner–Hormann boolean ops (geo16), the name-parity
    tier (geo17: covers/coveredby, makepolygon, collectionextract,
    force3dz/3dm/4d, WKB/WKT roundtrips), and the r11 multi-ring
    geometry tier (geo19: POLYGON-with-holes / MULTIPOLYGON area/
    perimeter/contains/intersection/difference/union + generalized
    N-crossing makevalid) — plus the r12 tangent/edge-contact
    boolean tier (geo20: shared-edge, corner-pinch, collinear-partial
    and holed-cascade configurations through the planar-face
    arrangement fallback) — and, completing the family in the r12
    tail, the radial/Mercator simplify tiers (geo06/geo10), geodesic
    + Vincenty (geo07/geo11), linear referencing (geo08), WKT/GeoJSON
    codecs + predicates (geo09) and the curve tier (geo18). EVERY
    geo01–geo20 query is now a window arm. Feeders stay registered
    standalone for the local gate; this row is the driver-verified
    merge of the ENTIRE 75/75-name spatial surface."""
    out = _pad_arm(QUERIES[_GEO_ARMS[0][1]](spark, sf_dir), "geo01", _GEO_SCHEMA)
    for arm, name, _cols in _GEO_ARMS[1:]:
        out = out.unionByName(_pad_arm(QUERIES[name](spark, sf_dir), arm, _GEO_SCHEMA))
    return out


# ---------------------------------------------------------------------------
# Window tail (r6, widened r7): TPC-DS-shape suite — ds36 + ds51 +
# ds67 + ds04 + ds39 shapes (feeders in plans/tpcds.py, registered
# after the window; wrapped lazily like every other merged suite)
# ---------------------------------------------------------------------------


@register(
    "ds36_ds51_ds67_ds04_ds39_ds77_ds87_shapes",
    oracle=lambda: "\nUNION ALL\n".join(
        [
            _g_arm_sql(
                "ds36",
                ORACLES["ds36_margin_rollup_rank"],
                k="CAST(lochierarchy AS VARCHAR) || '|' || coalesce(p_type, '*')"
                  " || '|' || coalesce(p_brand, '*')",
                i1="rank_within_parent",
                d1="gross_margin",
            ),
            _g_arm_sql(
                "ds51",
                ORACLES["ds51_cumulative_channels"],
                k="CAST(mon AS VARCHAR)",
                d1="web_cumulative",
                i1="CAST(round(store_cumulative * 100) AS BIGINT)",
                i2="CAST(round(max_cumulative * 100) AS BIGINT)",
            ),
            _g_arm_sql(
                "ds67",
                ORACLES["ds67_rollup_rank_topk"],
                k="coalesce(p_type, '*') || '|' || coalesce(p_brand, '*')"
                  " || '|' || coalesce(CAST(yr AS VARCHAR), '*')",
                i1="rk",
                d1="sumsales",
            ),
            _g_arm_sql(
                "ds04",
                ORACLES["ds04_cross_channel_yoy"],
                k="CAST(o_custkey AS VARCHAR)",
                d1="web_growth",
                i1="CAST(round(store_growth * 1000000) AS BIGINT)",
            ),
            _g_arm_sql(
                "ds39",
                ORACLES["ds39_demand_variance"],
                k="CAST(l_partkey AS VARCHAR) || '|' || CAST(mon_idx AS VARCHAR)",
                d1="cov_cur",
                i1="CAST(round(cov_next * 1000000) AS BIGINT)",
            ),
            _g_arm_sql(
                "ds77",
                ORACLES["ds77_channel_segment_cube"],
                k="CAST(g_channel AS VARCHAR) || '|' || CAST(g_seg AS VARCHAR)"
                  " || '|' || coalesce(channel, '*')"
                  " || '|' || coalesce(c_mktsegment, '*')",
                i1="sales_cents",
                i2="returns_cents",
                i3="profit_cents",
            ),
            _g_arm_sql(
                "ds87",
                ORACLES["ds87_customer_except_chain"],
                k="cohort",
                i1="n",
            ),
        ]
    ),
)
def ds_shapes_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS-shape suite for the driver window (r6, widened r7): the
    reference ships the full TPC-DS harness
    (pg_lake_benchmark/src/tpcds.c:76); these are its most
    structurally distinct shapes replayed on the repo's star schema —
    ds36 (margin over ROLLUP with rank-within-parent), ds51
    (two-channel cumulative full-outer join with running max), ds67
    (rollup + windowed top-k), ds04 (four-leg cross-channel YoY
    self-join), ds39 (exact-decimal demand variance over consecutive
    months). The full 99-query DS suite lives in plans/tpcds.py; these
    arms wrap the registered feeders so window and local gate can
    never drift."""
    star = F.lit("*")
    bar = F.lit("|")
    ds36 = QUERIES["ds36_margin_rollup_rank"](spark, sf_dir)
    ds51 = QUERIES["ds51_cumulative_channels"](spark, sf_dir)
    ds67 = QUERIES["ds67_rollup_rank_topk"](spark, sf_dir)
    ds04 = QUERIES["ds04_cross_channel_yoy"](spark, sf_dir)
    ds39 = QUERIES["ds39_demand_variance"](spark, sf_dir)
    ds77 = QUERIES["ds77_channel_segment_cube"](spark, sf_dir)
    ds87 = QUERIES["ds87_customer_except_chain"](spark, sf_dir)
    return _g_union(
        _g_arm(
            ds77,
            "ds77",
            k=F.concat(F.col("g_channel").cast("string"), bar,
                       F.col("g_seg").cast("string"), bar,
                       F.coalesce(F.col("channel"), star), bar,
                       F.coalesce(F.col("c_mktsegment"), star)),
            i1=F.col("sales_cents"),
            i2=F.col("returns_cents"),
            i3=F.col("profit_cents"),
        ),
        _g_arm(
            ds87,
            "ds87",
            k=F.col("cohort"),
            i1=F.col("n"),
        ),
        _g_arm(
            ds36,
            "ds36",
            k=F.concat(F.col("lochierarchy").cast("string"), bar,
                       F.coalesce(F.col("p_type"), star), bar,
                       F.coalesce(F.col("p_brand"), star)),
            i1=F.col("rank_within_parent"),
            d1=F.col("gross_margin"),
        ),
        _g_arm(
            ds51,
            "ds51",
            k=F.col("mon").cast("string"),
            d1=F.col("web_cumulative"),
            i1=F.round(F.col("store_cumulative") * 100).cast("long"),
            i2=F.round(F.col("max_cumulative") * 100).cast("long"),
        ),
        _g_arm(
            ds67,
            "ds67",
            k=F.concat(F.coalesce(F.col("p_type"), star), bar,
                       F.coalesce(F.col("p_brand"), star), bar,
                       F.coalesce(F.col("yr").cast("string"), star)),
            i1=F.col("rk"),
            d1=F.col("sumsales"),
        ),
        _g_arm(
            ds04,
            "ds04",
            k=F.col("o_custkey").cast("string"),
            d1=F.col("web_growth"),
            i1=F.round(F.col("store_growth") * 1_000_000).cast("long"),
        ),
        _g_arm(
            ds39,
            "ds39",
            k=F.concat(F.col("l_partkey").cast("string"), bar,
                       F.col("mon_idx").cast("string")),
            d1=F.col("cov_cur"),
            i1=F.round(F.col("cov_next") * 1_000_000).cast("long"),
        ),
    )


# ---------------------------------------------------------------------------
# Window tail (r6; oracle-checked since r7): weighted sampling. Both
# engines derive the IDENTICAL uniform u (md5/substring/hex→int are
# bit-exact everywhere); only ln is libm, so the rank key is
# round(ln(u)/w, 8) with the doc_id tiebreak — the repo's rounded-rank
# rule (same as t11/ds67/a01) — which makes the sample value-hash
# reproducible against DuckDB. Weights mirror t01's quality score with
# every addend cast to DOUBLE so both engines run the identical IEEE
# double summation order.
# ---------------------------------------------------------------------------


X09_ORACLE = r"""
    WITH t AS (
      SELECT doc_id, text, string_split_regex(lower(text), '\s+') AS toks
      FROM documents
    ), m AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks) AS avg_token_len,
             CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9_ \t\n]', '', 'g')) AS DOUBLE)
               / length(text) AS punct_ratio,
             CAST(len(list_filter(toks, x -> x IN ('the','a','and','of','to'))) AS DOUBLE)
               / len(toks) AS stopword_ratio
      FROM t
    ), wtab AS (
      SELECT doc_id,
             (CASE WHEN n_tokens BETWEEN 50 AND 100000 THEN CAST(0.25 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
              + CASE WHEN avg_token_len BETWEEN 3.0 AND 10.0 THEN CAST(0.25 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
              + CASE WHEN punct_ratio < 0.1 THEN CAST(0.25 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
              + CASE WHEN stopword_ratio > 0.01 THEN CAST(0.25 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
             + CAST(0.01 AS DOUBLE) AS w
      FROM m
    ), keyed AS (
      SELECT doc_id, w,
             round(ln((('0x' || substr(md5('x09' || CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT + 1.0)
                      / 4503599627370498.0) / w, 8) AS k
      FROM wtab WHERE w > 0
    )
    SELECT doc_id, w FROM keyed ORDER BY k DESC, doc_id LIMIT 500
    """


def x09_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted corpus subsample (Efraimidis–Spirakis A-Res
    over md5-derived uniforms — deterministic across runs, engines and
    partitioning; operators/sampling.py:weighted_sample with the
    rounded-rank key). An arm of the x-curation window suite below;
    the standalone row re-registers after the window in
    plans/window_rotation.py."""
    from pg_datalake_spark.plans import llmops

    return llmops.x09(spark, sf_dir)


@register(
    "x01_x02_x09_x10_x11_x12_x13_x15_curation",
    oracle=lambda: "\nUNION ALL\n".join(
        [
            _g_arm_sql(
                "x09", X09_ORACLE, k="CAST(doc_id AS VARCHAR)", d1="w"
            ),
            _g_arm_sql(
                "x01",
                ORACLES["x01_approx_sketches"],
                k="l_returnflag",
                i1="exact_parts",
                i2="acd_ok",
                i3="med_ok",
                i4="iqr_ok",
            ),
            _g_arm_sql(
                "x02",
                ORACLES["x02_salted_hot_key_agg"],
                k="event_type",
                i1="n",
                d1="sum_value",
            ),
            _g_arm_sql(
                "x10",
                ORACLES["x10_hll_mergeable_rollup"],
                k="day_key",
                i1="exact_users",
                i2="n_hours",
                i3="est_ok",
            ),
            _g_arm_sql(
                "x11",
                ORACLES["x11_leakage_safe_split"],
                k="split",
                i1="n_docs",
                i2="n_clusters",
                i3="id_sum",
            ),
            _g_arm_sql(
                "x12",
                ORACLES["x12_source_mixing"],
                k="source",
                i1="n_docs",
                i2="target_k",
                i3="n_sampled",
                i4="id_sum",
            ),
            _g_arm_sql(
                "x13",
                ORACLES["x13_pagerank"],
                k="CAST(node AS VARCHAR)",
                i1="rk",
                d1="pr",
            ),
            _g_arm_sql(
                "x15",
                ORACLES["x15_deterministic_shuffle"],
                k="CAST(shard AS VARCHAR)",
                i1="n",
                i2="id_sum",
                i3="chars",
                i4="pos_sum",
                i5="head_doc",
            ),
        ]
    ),
)
def x_curation_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-operator suite for the driver window (r12 — the x09
    slot widened to close the x family): weighted sampling (x09, the
    original slot), sketch-law checks (x01 approx count-distinct /
    median / IQR bands), salted hot-key aggregation (x02), mergeable
    HLL rollup laws (x10), leakage-safe cluster-level splits (x11),
    proportional source mixing (x12), PageRank over the orders graph
    (x13) and the deterministic md5 shuffle-shard (x15) — all
    previously sweep-only except x09."""
    return _g_union(
        _g_arm(
            x09_weighted_sample(spark, sf_dir),
            "x09",
            k=F.col("doc_id").cast("string"),
            d1=F.col("w"),
        ),
        _g_arm(
            QUERIES["x01_approx_sketches"](spark, sf_dir),
            "x01",
            k=F.col("l_returnflag"),
            i1=F.col("exact_parts"),
            i2=F.col("acd_ok"),
            i3=F.col("med_ok"),
            i4=F.col("iqr_ok"),
        ),
        _g_arm(
            QUERIES["x02_salted_hot_key_agg"](spark, sf_dir),
            "x02",
            k=F.col("event_type"),
            i1=F.col("n"),
            d1=F.col("sum_value"),
        ),
        _g_arm(
            QUERIES["x10_hll_mergeable_rollup"](spark, sf_dir),
            "x10",
            k=F.col("day_key"),
            i1=F.col("exact_users"),
            i2=F.col("n_hours"),
            i3=F.col("est_ok"),
        ),
        _g_arm(
            QUERIES["x11_leakage_safe_split"](spark, sf_dir),
            "x11",
            k=F.col("split"),
            i1=F.col("n_docs"),
            i2=F.col("n_clusters"),
            i3=F.col("id_sum"),
        ),
        _g_arm(
            QUERIES["x12_source_mixing"](spark, sf_dir),
            "x12",
            k=F.col("source"),
            i1=F.col("n_docs"),
            i2=F.col("target_k"),
            i3=F.col("n_sampled"),
            i4=F.col("id_sum"),
        ),
        _g_arm(
            QUERIES["x13_pagerank"](spark, sf_dir),
            "x13",
            k=F.col("node").cast("string"),
            i1=F.col("rk"),
            d1=F.col("pr"),
        ),
        _g_arm(
            QUERIES["x15_deterministic_shuffle"](spark, sf_dir),
            "x15",
            k=F.col("shard").cast("string"),
            i1=F.col("n"),
            i2=F.col("id_sum"),
            i3=F.col("chars"),
            i4=F.col("pos_sum"),
            i5=F.col("head_doc"),
        ),
    )


# ---------------------------------------------------------------------------
# Window rotation (r11, VERDICT item 8; arms rotate per round). r14 is
# the FINAL TPC-DS rotation: both rotating slots carry fresh ds arms
# (23 + 22 = all 45 remaining never-window arms), closing the ds
# family — and with it the entire registry is driver-window verified
# at least once. The r13 arms (cb02…cb43 close, ds13…ds45 tail) stay
# standalone in the sweep; ledger in COVERAGE.md
# "Window-verification ledger". Feeders (plans/tpcds.py) register
# after the window and stay standalone for the local gate.
# ---------------------------------------------------------------------------

_DS_A_COLS = _dedupe_cols(
    [("n_name", "string"), ("c_mktsegment", "string"), ("n_cust", "long"),
     ("n_orders", "long"), ("total_cents", "long")],
    [("total_qty", "double"), ("n", "long")],
    [("channel", "string"), ("l_partkey", "long"), ("n_ret", "long"),
     ("ret_ratio", "double"), ("rk", "int")],
    [("d30", "long"), ("d60", "long"), ("d_over", "long")],
    [("p_brand", "string"), ("revenue", "double")],
    [("q_idx", "int"), ("rev", "double"), ("rolling_sum_4q", "double"),
     ("n_quarters", "long")],
    [("n_migrated", "long"), ("n_store_orders_after", "long")],
    [("units", "double"), ("n_lines", "long")],
    [("p_type", "string")],
    [("yr", "int"), ("mo", "int"), ("yr_avg", "double"),
     ("deviation", "double")],
    [("web_rev", "double"), ("store_rev", "double"), ("ratio", "double")],
    [("l_returnflag", "string"), ("mon_idx", "int"), ("cur_rev", "double"),
     ("prev_rev", "double"), ("mom_ratio", "double")],
    [("mon", "int")],
    [("promo_cents", "long"), ("promo_share", "double")],
    [("o_orderpriority", "string"), ("d90", "long")],
    [("l_suppkey", "long"), ("yr_total", "double"), ("n_months", "long")],
    [("jan", "long"), ("feb", "long"), ("mar", "long"), ("apr", "long"),
     ("may", "long"), ("jun", "long"), ("jul", "long"), ("aug", "long"),
     ("sep", "long"), ("oct", "long"), ("nov", "long"), ("dec", "long")],
    [("c_name", "string"), ("o_orderkey", "long"), ("odate_us", "long"),
     ("net", "double")],
    [("avg_bal", "double")],
    [("lochierarchy", "int"), ("r_name", "string"), ("cents", "long"),
     ("rank_within_parent", "int")],
    [("n_late", "long"), ("late_ratio", "double")],
)

_DS_A_ARMS = [
    ("ds46", "ds46_geo_distinct_having"),
    ("ds48", "ds48_qty_sum_demo_bands"),
    ("ds49", "ds49_worst_return_ratios"),
    ("ds50", "ds50_lag_by_supplier_geo"),
    ("ds52", "ds52_brand_month_revenue"),
    ("ds53", "ds53_quarterly_rolling"),
    ("ds54", "ds54_channel_migration"),
    ("ds55", "ds55_brand_month_units"),
    ("ds56", "ds56_category_channel_month"),
    ("ds57", "ds57_supplier_geo_deviation"),
    ("ds58", "ds58_balanced_channels"),
    ("ds59", "ds59_month_over_month"),
    ("ds60", "ds60_category_month_matrix"),
    ("ds61", "ds61_promo_share"),
    ("ds62", "ds62_ship_lag_buckets"),
    ("ds63", "ds63_supplier_monthly_vs_avg"),
    ("ds65", "ds65_best_seller_per_period"),
    ("ds66", "ds66_monthly_shipping_crosstab"),
    ("ds68", "ds68_high_ticket_orders"),
    ("ds69", "ds69_exists_battery"),
    ("ds70", "ds70_region_nation_rank"),
    ("ds71", "ds71_channel_union_brand"),
    ("ds72", "ds72_late_shipments"),
]


@register(
    "ds46_ds48_ds49_ds50_ds52_ds53_ds54_ds55_ds56_ds57_ds58_ds59_ds60"
    "_ds61_ds62_ds63_ds65_ds66_ds68_ds69_ds70_ds71_ds72_long_tail_a",
    oracle=lambda: "\nUNION ALL\n".join(
        _pad_arm_sql(
            arm,
            ORACLES[name],
            _DS_A_COLS,
            _feeder_cols(name),
        )
        for arm, name in _DS_A_ARMS
    ),
)
def ds_long_tail_a_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS-shape long-tail rotation, round 14 (first of the two
    final slots): twenty-three fresh arms — geo DISTINCT HAVING
    (ds46), qty-sum demo bands (ds48), worst return ratios (ds49),
    lag by supplier geo (ds50), brand-month revenue (ds52), quarterly
    rolling windows (ds53), channel migration (ds54), brand-month
    units (ds55), category-channel-month (ds56), supplier geo
    deviation (ds57), balanced channels (ds58), month-over-month
    (ds59), category-month matrix (ds60), promo share (ds61),
    ship-lag buckets (ds62), supplier monthly-vs-average (ds63), best
    seller per period (ds65), monthly shipping crosstab (ds66),
    high-ticket orders (ds68), the EXISTS battery (ds69),
    region-nation ROLLUP rank (ds70), channel-union brands (ds71) and
    late shipments (ds72)."""
    out = None
    for arm, name in _DS_A_ARMS:
        part = _pad_arm(QUERIES[name](spark, sf_dir), arm, _DS_A_COLS)
        out = part if out is None else out.unionByName(part)
    return out


_DS_B_COLS = _dedupe_cols(
    [("c_mktsegment", "string"), ("n_orders", "long"),
     ("n_customers", "long")],
    [("o_custkey", "long"), ("qty_1996", "double"), ("qty_1997", "double"),
     ("growth", "double")],
    [("kind", "string"), ("yr", "int"), ("n", "long")],
    [("web_qty", "double"), ("store_qty", "double"), ("ratio", "double")],
    [("n_name", "string"), ("mon", "int"), ("spend", "double")],
    [("g_channel", "int"), ("g_band", "int"), ("channel", "string"),
     ("size_band", "string"), ("profit_cents", "long")],
    [("l_suppkey", "long"), ("ret_qty", "double"), ("nat_avg", "double")],
    [("p_partkey", "long"), ("p_brand", "string"),
     ("p_retailprice", "double")],
    [("l_partkey", "long"), ("n_mar", "long"), ("n_jun", "long"),
     ("n_sep", "long"), ("n_total", "long")],
    [("c_custkey", "long"), ("c_name", "string")],
    [("l_linestatus", "string"), ("avg_qty", "double"),
     ("avg_disc", "double")],
    [("lochierarchy", "int"), ("p_type", "string"), ("cents", "long"),
     ("rank_within_parent", "int")],
    [("rev", "double"), ("avg_rev", "double"), ("deviation", "double")],
    [("n_am", "long"), ("n_pm", "long"), ("am_pm_ratio", "double")],
    [("bal_band", "string"), ("n_returns", "long"),
     ("returned_cents", "long")],
    [("n_lines", "long"), ("excess_price_cents", "long")],
    [("net_spend", "double")],
    [("net_cents", "long")],
    [("web_only", "long"), ("store_only", "long"),
     ("both_channels", "long")],
    [("revenue", "double"), ("revenueratio", "double")],
    [("d30", "long"), ("d60", "long"), ("d_over", "long")],
)

_DS_B_ARMS = [
    ("ds73", "ds73_order_line_bands"),
    ("ds74", "ds74_customer_qty_yoy"),
    ("ds76", "ds76_degenerate_rows_union"),
    ("ds78", "ds78_channel_qty_ratio"),
    ("ds79", "ds79_top_customer_per_geo_month"),
    ("ds80", "ds80_size_band_pnl"),
    ("ds81", "ds81_return_qty_outliers"),
    ("ds82", "ds82_band_items_bulk_activity"),
    ("ds83", "ds83_three_period_returns"),
    ("ds84", "ds84_customer_band_listing"),
    ("ds85", "ds85_returned_reason_bands"),
    ("ds86", "ds86_web_rollup_rank"),
    ("ds89", "ds89_avg_deviation"),
    ("ds90", "ds90_am_pm_ratio"),
    ("ds91", "ds91_monthly_returns_by_band"),
    ("ds92", "ds92_excess_discount_window"),
    ("ds93", "ds93_net_of_returns"),
    ("ds94", "ds94_single_supplier_orders"),
    ("ds96", "ds96_priority_linecount"),
    ("ds97", "ds97_channel_overlap"),
    ("ds98", "ds98_ratio_within_class"),
    ("ds99", "ds99_monthly_lag_crosstab"),
]


@register(
    "ds73_ds74_ds76_ds78_ds79_ds80_ds81_ds82_ds83_ds84_ds85_ds86_ds89"
    "_ds90_ds91_ds92_ds93_ds94_ds96_ds97_ds98_ds99_long_tail_close",
    oracle=lambda: "\nUNION ALL\n".join(
        _pad_arm_sql(
            arm,
            ORACLES[name],
            _DS_B_COLS,
            _feeder_cols(name),
        )
        for arm, name in _DS_B_ARMS
    ),
)
def ds_long_tail_close_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS-shape long-tail rotation, round 14 — the FINAL ds
    rotation: every remaining never-window arm enters at once, closing
    the family (and with it the whole registry; full history in
    COVERAGE.md). Arms: order-line bands (ds73), customer qty YoY
    (ds74), degenerate-rows union (ds76), channel qty ratio (ds78),
    top customer per geo-month (ds79), size-band P&L GROUPING SETS
    (ds80), return-qty outliers (ds81), band items bulk activity
    (ds82), three-period returns (ds83), customer band listing (ds84),
    returned reason bands (ds85), web ROLLUP rank (ds86), average
    deviation (ds89), AM/PM ratio (ds90), monthly returns by band
    (ds91), excess-discount window (ds92), net of returns (ds93),
    single-supplier orders (ds94), priority linecount (ds96), channel
    overlap (ds97), ratio within class (ds98) and the monthly lag
    crosstab (ds99)."""
    out = None
    for arm, name in _DS_B_ARMS:
        part = _pad_arm(QUERIES[name](spark, sf_dir), arm, _DS_B_COLS)
        out = part if out is None else out.unionByName(part)
    return out


# feeder column lists for the lazy suite oracles above: the arm's own
# columns (everything else pads to typed NULL)
_FEEDER_COLS = {
    "ds46_geo_distinct_having": ["n_name", "c_mktsegment", "n_cust",
                                 "n_orders", "total_cents"],
    "ds48_qty_sum_demo_bands": ["total_qty", "n"],
    "ds49_worst_return_ratios": ["channel", "l_partkey", "n", "n_ret",
                                 "ret_ratio", "rk"],
    "ds50_lag_by_supplier_geo": ["n_name", "d30", "d60", "d_over", "n"],
    "ds52_brand_month_revenue": ["p_brand", "revenue"],
    "ds53_quarterly_rolling": ["p_brand", "q_idx", "rev",
                               "rolling_sum_4q", "n_quarters"],
    "ds54_channel_migration": ["c_mktsegment", "n_migrated",
                               "n_store_orders_after"],
    "ds55_brand_month_units": ["p_brand", "units", "n_lines"],
    "ds56_category_channel_month": ["channel", "p_type", "revenue"],
    "ds57_supplier_geo_deviation": ["n_name", "yr", "mo", "rev",
                                    "yr_avg", "deviation"],
    "ds58_balanced_channels": ["l_partkey", "web_rev", "store_rev",
                               "ratio"],
    "ds59_month_over_month": ["l_returnflag", "mon_idx", "cur_rev",
                              "prev_rev", "mom_ratio"],
    "ds60_category_month_matrix": ["p_type", "mon", "revenue"],
    "ds61_promo_share": ["promo_cents", "total_cents", "promo_share"],
    "ds62_ship_lag_buckets": ["o_orderpriority", "d30", "d60", "d90",
                              "d_over", "n"],
    "ds63_supplier_monthly_vs_avg": ["l_suppkey", "yr", "mo", "rev",
                                     "yr_total", "n_months"],
    "ds65_best_seller_per_period": ["mon", "l_partkey", "p_brand", "rev"],
    "ds66_monthly_shipping_crosstab": ["n_name", "jan", "feb", "mar",
                                       "apr", "may", "jun", "jul", "aug",
                                       "sep", "oct", "nov", "dec"],
    "ds68_high_ticket_orders": ["c_name", "o_orderkey", "odate_us",
                                "net"],
    "ds69_exists_battery": ["c_mktsegment", "n_cust", "avg_bal"],
    "ds70_region_nation_rank": ["lochierarchy", "r_name", "n_name",
                                "cents", "rank_within_parent"],
    "ds71_channel_union_brand": ["channel", "p_brand", "revenue", "n"],
    "ds72_late_shipments": ["p_brand", "o_orderpriority", "n_lines",
                            "n_late", "late_ratio"],
    "ds73_order_line_bands": ["c_mktsegment", "n_orders", "n_customers"],
    "ds74_customer_qty_yoy": ["o_custkey", "qty_1996", "qty_1997",
                              "growth"],
    "ds76_degenerate_rows_union": ["kind", "yr", "n"],
    "ds78_channel_qty_ratio": ["o_custkey", "yr", "web_qty", "store_qty",
                               "ratio"],
    "ds79_top_customer_per_geo_month": ["n_name", "mon", "o_custkey",
                                        "spend"],
    "ds80_size_band_pnl": ["g_channel", "g_band", "channel", "size_band",
                           "profit_cents"],
    "ds81_return_qty_outliers": ["l_suppkey", "ret_qty", "nat_avg"],
    "ds82_band_items_bulk_activity": ["p_partkey", "p_brand",
                                      "p_retailprice"],
    "ds83_three_period_returns": ["l_partkey", "n_mar", "n_jun", "n_sep",
                                  "n_total"],
    "ds84_customer_band_listing": ["c_custkey", "c_name", "n_name"],
    "ds85_returned_reason_bands": ["l_linestatus", "n", "avg_qty",
                                   "avg_disc"],
    "ds86_web_rollup_rank": ["lochierarchy", "p_type", "p_brand",
                             "cents", "rank_within_parent"],
    "ds89_avg_deviation": ["p_type", "p_brand", "mon", "rev", "avg_rev",
                           "deviation"],
    "ds90_am_pm_ratio": ["n_am", "n_pm", "am_pm_ratio"],
    "ds91_monthly_returns_by_band": ["c_mktsegment", "bal_band",
                                     "n_returns", "returned_cents"],
    "ds92_excess_discount_window": ["n_lines", "excess_price_cents"],
    "ds93_net_of_returns": ["o_custkey", "net_spend"],
    "ds94_single_supplier_orders": ["n_orders", "n_lines", "net_cents"],
    "ds96_priority_linecount": ["n_orders"],
    "ds97_channel_overlap": ["web_only", "store_only", "both_channels"],
    "ds98_ratio_within_class": ["p_type", "p_brand", "revenue",
                                "revenueratio"],
    "ds99_monthly_lag_crosstab": ["mon", "d30", "d60", "d_over", "n"],
}


def _feeder_cols(name: str) -> list[str]:
    return _FEEDER_COLS[name]
