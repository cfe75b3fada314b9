"""r15 optimization: the scan-parallelism floor and the conditional
operator spread (the spread decision inside catalog.load_tables /
dedup._spread).

The driver testdata is one single-row-group parquet file per table, so
without the floor every scan — and every cache built from one — is a
single task on any core count. The floor must spread exactly those
deficient layouts and leave real multi-file layouts untouched; the
operator-level spread must not re-shuffle an input the floor (or a real
layout) already spread.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import pg_datalake_spark.catalog as cat
from pg_datalake_spark.operators.dedup import _spread

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _bare_scan(df) -> bool:
    """The frame is the parquet relation itself: nothing, no exchange
    in particular, was put on top of the read."""
    analyzed = df._jdf.queryExecution().analyzed()
    return analyzed.getClass().getSimpleName() == "LogicalRelation"


def test_floor_spreads_single_file_table(spark, tmp_path):
    # one file, well over the size floor, far fewer estimated tasks
    # than cores -> round-robin spread to defaultParallelism
    sf = str(tmp_path)
    p = cat.table_path(sf, "lineitem")
    spark.range(0, 200_000).withColumn("pad", F.lit("x" * 64)).coalesce(1).write.parquet(p)
    assert spark.read.parquet(p).rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    out = cat.load_tables(spark, sf, ["lineitem"])["lineitem"]
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_floor_leaves_tiny_tables_alone(spark):
    assert _bare_scan(cat.load_tables(spark, SF_DIR, ["nation"])["nation"])


def test_floor_leaves_many_file_layouts_alone(spark, tmp_path):
    # a directory whose file count already meets the parallelism -> no
    # exchange added (the 100 TB shape)
    par = spark.sparkContext.defaultParallelism
    sf = str(tmp_path)
    p = cat.table_path(sf, "lineitem")
    spark.range(0, 100_000).withColumn("pad", F.lit("y" * 64)).repartition(
        par
    ).write.parquet(p)
    assert cat._path_sig(p)[0] >= cat._PAR_FLOOR_MIN_BYTES
    assert _bare_scan(cat.load_tables(spark, sf, ["lineitem"])["lineitem"])


def test_floor_preserves_pushdown(spark):
    # filters and pruning must still reach the parquet scan below the
    # Repartition (guide §6: PushedFilters/ReadSchema discipline)
    import re

    t = cat.load_tables(spark, SF_DIR, ["lineitem"])
    q = t["lineitem"].filter(F.col("l_quantity") > 45).select("l_orderkey")
    plan = q._jdf.queryExecution().executedPlan().toString()
    # loose regexes, not exact plan-string fragments: filter-literal
    # rendering and schema formatting drift across Spark minors
    # (r15 ADVICE item 5)
    assert re.search(r"PushedFilters:.*GreaterThan\(l_quantity", plan), plan
    m = re.search(r"ReadSchema:\s*struct<([^>]*)>", plan)
    assert m, plan
    read_cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert read_cols == {"l_orderkey", "l_quantity"}, read_cols


def test_spread_skips_already_wide_input(spark):
    par = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 1000).select(F.col("id").alias("doc_id")).repartition(par * 2)
    assert _spread(wide, "doc_id") is wide
    narrow = spark.range(0, 1000).select(F.col("id").alias("doc_id")).coalesce(1)
    out = _spread(narrow, "doc_id")
    assert out is not narrow
    assert out.rdd.getNumPartitions() == par


def test_spread_false_keeps_native_scan(spark):
    # the order-sensitive queries (u01/a03/g03/c01) opt out
    t = cat.load_tables(spark, SF_DIR, ["orders"], spread=False)
    assert "Repartition" not in t["orders"]._jdf.queryExecution().logical().toString()


def test_advisory_partition_bytes_scale_adaptive():
    from pg_datalake_spark.session import advisory_partition_bytes_for

    # small input: per-core share clamps UP to 1 MiB (never starves
    # post-shuffle width the way the stock 64 MB target does)
    assert advisory_partition_bytes_for(17 << 20, 32) == 1 << 20
    # mid-size input: the per-core share itself (2 GiB / (32·2) = 32 MiB)
    assert advisory_partition_bytes_for(2 << 30, 32) == 32 << 20
    # cluster scale: clamps DOWN to the stock 64 MB — not a local-only
    # constant
    assert advisory_partition_bytes_for(100 << 40, 512) == 64 << 20


def test_results_identical_spread_vs_not(spark):
    # decimal-exact aggregation is partition-order independent: the
    # flagship q01 output must be bit-identical under both layouts
    from pg_datalake_spark.plans.registry import QUERIES
    from pg_datalake_spark import plans

    plans.load_all()
    old = cat._PAR_FLOOR_MIN_BYTES
    try:
        cat._PAR_FLOOR_MIN_BYTES = 1 << 60  # floor off
        a = sorted(map(tuple, QUERIES["q01_pricing_summary"](spark, SF_DIR).collect()))
        cat._PAR_FLOOR_MIN_BYTES = 1 << 10  # floor on even at sf0.001
        b = sorted(map(tuple, QUERIES["q01_pricing_summary"](spark, SF_DIR).collect()))
    finally:
        cat._PAR_FLOOR_MIN_BYTES = old
    assert a == b
