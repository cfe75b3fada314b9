"""r16 optimization: catalog-level memoization and the engine-owned AQE
advisory (VERDICT r15 items 2 and 3).

load_tables runs inside every timed query, so its driver work must be
O(0) after the first call of a session — but only for METADATA and plan
objects, never data: a rewritten file at the same path must produce a
fresh schema and plan (r15 ADVICE item 1), and the derived advisory
must reach ANY session through load_tables, not just the bench's.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

import pg_datalake_spark.catalog as cat

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def test_load_tables_memoizes_dataframe_objects(spark):
    a = cat.load_tables(spark, SF_DIR)
    b = cat.load_tables(spark, SF_DIR)
    for name in cat.TABLE_NAMES:
        assert a[name] is b[name], name


def test_vanilla_session_gets_derived_advisory(spark):
    # the derived advisory is the ENGINE's now (set from scanned bytes
    # inside load_tables) — a plain session that never saw bench wiring
    # must still get it (VERDICT r15 item 2 done-criterion)
    from pg_datalake_spark.session import advisory_partition_bytes_for

    cat.load_tables(spark, SF_DIR)
    total = sum(
        os.path.getsize(os.path.join(SF_DIR, f))
        for f in os.listdir(SF_DIR)
        if f.endswith(".parquet")
    )
    expect = advisory_partition_bytes_for(total, spark.sparkContext.defaultParallelism)
    got = int(spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"))
    assert got == expect


def test_directory_table_advisory_counts_its_files(spark, tmp_path, monkeypatch):
    # a directory-backed table counts the bytes of its parquet files,
    # not the size of its directory inode; single files count as before
    import pg_datalake_spark.session as sess

    sf = str(tmp_path)
    orders = os.path.join(sf, "orders.parquet")
    spark.range(0, 20000).selectExpr("id AS o_orderkey", "uuid() AS pad").repartition(
        3
    ).write.parquet(orders)
    single = os.path.join(sf, "customer.parquet")
    spark.range(0, 10).selectExpr("id AS c_custkey").coalesce(1).write.parquet(
        os.path.join(sf, "stage")
    )
    part = next(
        f for f in os.listdir(os.path.join(sf, "stage")) if f.endswith(".parquet")
    )
    os.replace(os.path.join(sf, "stage", part), single)
    part_bytes = sum(
        os.path.getsize(os.path.join(orders, f))
        for f in os.listdir(orders)
        if f.endswith(".parquet")
    )
    assert part_bytes > 2 * os.path.getsize(orders)

    seen = []
    real = sess.advisory_partition_bytes_for

    def spy(data_bytes, cores):
        seen.append(data_bytes)
        return real(data_bytes, cores)

    monkeypatch.setattr(sess, "advisory_partition_bytes_for", spy)
    cat.load_tables(spark, sf, ["orders", "customer"])
    assert seen == [part_bytes + os.path.getsize(single)]


def test_spread_false_pins_stock_advisory(spark):
    # order-sensitive raw-double queries keep the stock post-shuffle
    # sizing their oracle hash-match was established under
    cat.load_tables(spark, SF_DIR)  # derived (small) advisory
    cat.load_tables(spark, SF_DIR, ["orders"], spread=False)
    got = int(spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"))
    assert got == 64 * 1024 * 1024


def test_memo_invalidated_on_file_rewrite(spark, tmp_path):
    sf = str(tmp_path)
    p = os.path.join(sf, "orders.parquet")
    spark.range(0, 10).select(F.col("id").alias("o_orderkey")).coalesce(1).write.parquet(p)
    a = cat.load_tables(spark, sf, ["orders"])["orders"]
    assert a.columns == ["o_orderkey"]
    # rewrite the same path with a different schema; bump mtime so the
    # (path, mtime, size) key definitely changes
    time.sleep(0.01)
    spark.range(0, 10).select(
        F.col("id").alias("o_orderkey"), F.lit("x").alias("extra")
    ).coalesce(1).write.mode("overwrite").parquet(p)
    os.utime(p) if os.path.isfile(p) else None
    b = cat.load_tables(spark, sf, ["orders"])["orders"]
    assert b is not a
    assert set(b.columns) == {"o_orderkey", "extra"}
    assert b.count() == 10


def test_repeated_load_is_fast(spark):
    cat.load_tables(spark, SF_DIR)
    t0 = time.perf_counter()
    for _ in range(10):
        cat.load_tables(spark, SF_DIR)
    dt = time.perf_counter() - t0
    # 10 full-catalog loads of a warm session: well under the ~0.1 s/table
    # the un-memoized path costs (this is the per-key driver-overhead fix)
    assert dt < 1.0, dt


def test_d02_leaves_no_persisted_rdds(spark):
    # r16 (VERDICT r15 item 8): the LSH dedup pipeline is one DAG with
    # no persist and no driver count — nothing may stay cached in the
    # session after the query's result is consumed (the r15 judge's §5
    # leak note). Base-table caches don't exist here because this test
    # never calls .cache().
    from pg_datalake_spark import plans
    from pg_datalake_spark.plans.registry import QUERIES

    plans.load_all()
    # drop anything earlier tests left cached so the assert is exact
    spark.catalog.clearCache()
    df = QUERIES["d02_minhash_lsh_neardup"](spark, SF_DIR)
    df.count()
    leaked = spark.sparkContext._jsc.getPersistentRDDs()
    assert leaked.isEmpty(), leaked


def test_order_sensitive_opt_outs_pinned(spark):
    # r15 ADVICE item 2: the raw-double opt-out list is centralized in
    # registry.ORDER_SENSITIVE; each member must actually skip the scan
    # floor (spread=False) and keep a Repartition-free native plan.
    import ast

    from source_ast import calls, function_def

    from pg_datalake_spark import plans
    from pg_datalake_spark.plans.registry import ORDER_SENSITIVE, QUERIES

    plans.load_all()
    assert ORDER_SENSITIVE <= set(QUERIES)
    for name in sorted(ORDER_SENSITIVE):
        fn = QUERIES[name]
        node = function_def(getattr(fn, "__wrapped__", fn))
        assert any(
            k.arg == "spread" and isinstance(k.value, ast.Constant) and k.value.value is False
            for c in calls(node, "load_tables")
            for k in c.keywords
        ), name
        df = fn(spark, SF_DIR)
        logical = df._jdf.queryExecution().logical().toString()
        assert "Repartition" not in logical, name


def test_plan_memo_keys_on_file_identity(spark, tmp_path):
    # a memoized query plan is reused only over the table files it was
    # built on: after `orders` is rewritten with other rows (same
    # schema) the query returns the new rows, not the stale plan's
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pg_datalake_spark.plans.registry import _memoized

    sf = str(tmp_path)
    p = cat.table_path(sf, "orders")

    def write(keys):
        pq.write_table(pa.table({"o_orderkey": pa.array(keys, pa.int64())}), p)

    q = _memoized(
        "orders_keys",
        lambda s, d: cat.load_tables(s, d, ["orders"])["orders"].select("o_orderkey"),
    )
    write(range(10))
    first = q(spark, sf)
    assert sorted(r[0] for r in first.collect()) == list(range(10))
    assert q(spark, sf) is first  # unchanged files: a memo hit
    mtime = os.stat(p).st_mtime_ns
    write(range(100, 120))
    os.utime(p, ns=(mtime + 10**9, mtime + 10**9))
    second = q(spark, sf)
    assert second is not first
    assert sorted(r[0] for r in second.collect()) == list(range(100, 120))
    # a table the query does not read is not checked: writing it keeps
    # the plan
    lineitem = pa.table({"l_orderkey": pa.array([1], pa.int64())})
    pq.write_table(lineitem, cat.table_path(sf, "lineitem"))
    assert q(spark, sf) is second
    [(reads, _df, _adv)] = [
        v for k, v in cat._session_state(spark)["qplans"].items() if k[0] == "orders_keys"
    ]
    assert list(reads) == [p]
    # a memoized query built on another (x11 on d05) reads its tables,
    # also when the inner plan comes from the memo
    outer = _memoized("orders_keys_outer", lambda s, d: q(s, d).filter("o_orderkey % 2 = 0"))
    third = outer(spark, sf)
    assert outer(spark, sf) is third
    write(range(200, 210))
    os.utime(p, ns=(mtime + 2 * 10**9, mtime + 2 * 10**9))
    fourth = outer(spark, sf)
    assert fourth is not third
    assert sorted(r[0] for r in fourth.collect()) == list(range(200, 210, 2))


def test_frame_memo_keeps_one_entry_per_table(spark, tmp_path):
    # a rewritten table replaces its frame in the memo: five rewrites of
    # `orders`, each followed by load_tables, leave one entry, and the
    # frame reads the newest rows
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = cat.table_path(str(tmp_path), "orders")
    mtime = None
    for i in range(5):
        keys = range(100 * i, 100 * i + 10)
        pq.write_table(pa.table({"o_orderkey": pa.array(keys, pa.int64())}), p)
        mtime = mtime or os.stat(p).st_mtime_ns
        os.utime(p, ns=(mtime + i * 10**9, mtime + i * 10**9))
        df = cat.load_tables(spark, str(tmp_path), ["orders"])["orders"]
        assert sorted(r[0] for r in df.collect()) == list(keys)
    entries = [k for k in cat._session_state(spark)["dfs"] if k[0] == p]
    assert len(entries) == 1
