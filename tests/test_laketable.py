"""LakeTable format tests: the reference's DML/MOR-vs-COW fixture
(FIXTURES.md §5) plus snapshots, pruning, time travel, compaction."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pg_datalake_spark.tables import LakeTable
from pg_datalake_spark.tables.format import PartitionField
from tests.conftest import SF_DIR

KV_SCHEMA = T.StructType(
    [
        T.StructField("key", T.LongType()),
        T.StructField("value", T.StringType()),
        T.StructField("grp", T.IntegerType()),
    ]
)


def make_kv(spark, n=1000, grps=5):
    # single output file: MOR/COW classification is per-file, so the
    # fixture's delete fractions must be file fractions
    return spark.range(n).coalesce(1).select(
        F.col("id").alias("key"),
        F.concat(F.lit("v"), F.col("id")).alias("value"),
        (F.col("id") % grps).cast("int").alias("grp"),
    )


@pytest.fixture
def kv_table(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "kv"), KV_SCHEMA)
    t.append(make_kv(spark))
    return t


def test_roundtrip(spark, kv_table):
    got = kv_table.scan()
    assert got.count() == 1000
    assert got.schema.fieldNames() == ["key", "value", "grp"]
    assert got.agg(F.sum("key")).first()[0] == 999 * 1000 // 2


def test_append_accumulates(spark, kv_table):
    kv_table.append(make_kv(spark).withColumn("key", F.col("key") + 1000))
    assert kv_table.scan().count() == 2000
    assert kv_table.snapshots().count() == 2


def test_mor_small_delete(spark, kv_table):
    """<20% of rows → position-delete files, no data-file rewrite."""
    before_files = {r.path for r in kv_table.files().collect()}
    res = kv_table.delete("key < 100")  # 10%
    assert res["mor"] >= 1 and res["cow"] == 0
    assert kv_table.scan().count() == 900
    assert {r.path for r in kv_table.files().collect()} == before_files
    assert kv_table.scan().filter("key < 100").count() == 0


def test_mor_tombstone_write_is_distributed(spark, kv_table):
    """r9: the MOR tombstone write is hash-partitioned per data file
    with (file_path, pos)-sorted rows (Iceberg delete-file convention,
    same distribution as the external add_position_deletes_df) — never
    a coalesce(1) single-task funnel. Registered DeleteFile row counts
    must match the parquet footers exactly."""
    import inspect

    import pyarrow.parquet as pq

    src = inspect.getsource(LakeTable.delete)
    assert "coalesce(1)" not in src
    assert 'repartition("file_path")' in src
    assert 'sortWithinPartitions("file_path", "pos")' in src

    res = kv_table.delete("key % 11 = 0 AND key < 100")  # sparse → MOR
    assert res["mor"] >= 1 and res["cow"] == 0
    snap = kv_table._current_snapshot(kv_table._load())
    total = 0
    for d in snap.delete_files:
        meta = pq.ParquetFile(d.path).metadata
        assert d.rows == meta.num_rows and d.rows > 0
        t = pq.read_table(d.path).to_pydict()
        pairs = list(zip(t["file_path"], t["pos"]))
        assert pairs == sorted(pairs)
        total += d.rows
    assert total == 10  # keys 0,11,22,...,99
    assert kv_table.scan().count() == 990


def test_cow_large_delete(spark, kv_table):
    """>20% of a file's rows → rewrite, no delete file."""
    res = kv_table.delete("key < 500")  # 50%
    assert res["cow"] >= 1 and res["mor"] == 0
    assert kv_table.scan().count() == 500
    assert kv_table.scan().agg(F.min("key")).first()[0] == 500


def test_metadata_only_partition_delete(spark, tmp_path):
    t = LakeTable.create(
        spark,
        str(tmp_path / "part"),
        KV_SCHEMA,
        partition_by=[PartitionField("grp", "identity")],
    )
    t.append(make_kv(spark))
    res = t.delete("grp = 3")
    # every file in partition grp=3 matches entirely → metadata-only
    assert res["dropped"] >= 1 and res["mor"] == 0 and res["cow"] == 0
    assert t.scan().count() == 800
    assert t.scan().filter("grp = 3").count() == 0


def test_stats_pruning(spark, kv_table):
    kv_table.append(make_kv(spark).withColumn("key", F.col("key") + 10_000))
    meta = kv_table._load()
    snap = kv_table._current_snapshot(meta)
    pruned = kv_table.scan(filters=[("key", ">=", 10_000)])
    assert pruned.count() == 1000
    # the pruner must actually skip the first batch's files
    from pg_datalake_spark.tables.format import _prunable

    skipped = [f for f in snap.data_files if _prunable(f, [("key", ">=", 10_000)], {})]
    assert len(skipped) >= 1


def test_update(spark, kv_table):
    kv_table.update({"value": "concat(value, '!')"}, "key < 10")
    got = kv_table.scan().filter("key < 10").orderBy("key").collect()
    assert len(got) == 10
    assert all(r.value.endswith("!") for r in got)
    assert kv_table.scan().count() == 1000


def test_time_travel_and_changelog(spark, kv_table):
    kv_table.delete("key < 100")
    # snapshot 1 = original append, snapshot 2 = delete
    assert kv_table.scan(snapshot_id=1).count() == 1000
    assert kv_table.scan(snapshot_id=2).count() == 900
    log = kv_table.changelog(1, 2)
    assert log.filter("_change_type = 'delete'").count() == 100
    assert log.filter("_change_type = 'insert'").count() == 0


def test_compaction(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "cmp"), KV_SCHEMA)
    for i in range(4):
        t.append(make_kv(spark, n=250).withColumn("key", F.col("key") + 250 * i))
    n_before = t.files().count()
    merged = t.compact(target_file_mb=512, min_input_files=2)
    assert merged >= 2
    assert t.files().count() < n_before
    assert t.scan().count() == 1000
    assert t.scan().agg(F.sum("key")).first()[0] == 999 * 1000 // 2


def test_compaction_applies_mor_deletes(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "cmp2"), KV_SCHEMA)
    t.append(make_kv(spark))
    t.delete("key < 100")
    t.compact(target_file_mb=512, min_input_files=1)
    assert t.scan().count() == 900
    meta = t._load()
    assert t._current_snapshot(meta).delete_files == []


def test_expire_snapshots(spark, kv_table, tmp_path):
    kv_table.delete("key < 500")  # COW rewrite → old files orphaned after expiry
    old_paths = {r.path for r in kv_table.files().collect()}
    removed = kv_table.expire_snapshots(keep_last=1)
    assert kv_table.snapshots().count() == 1
    assert kv_table.scan().count() == 500
    for p in removed:
        assert not os.path.exists(p)
    # current snapshot's files must survive
    for p in old_paths:
        assert os.path.exists(p)


def test_concurrent_commit_detection(spark, kv_table):
    meta1 = kv_table._load()
    meta2 = kv_table._load()
    kv_table._new_snapshot(meta1, "append", [], [])
    with pytest.raises(RuntimeError, match="concurrent"):
        kv_table._new_snapshot(meta2, "append", [], [])


def test_merge_update_and_insert(spark, kv_table):
    src = spark.range(900, 1100).coalesce(1).select(
        F.col("id").alias("key"),
        F.lit("merged").alias("value"),
        F.lit(9).cast("int").alias("grp"),
    )
    res = kv_table.merge(
        src, on="key", when_matched_update={"value": "src.value", "grp": "src.grp"}
    )
    assert res["inserted_rows"] == 100
    assert res["rewritten_files"] >= 1
    assert kv_table.scan().count() == 1100
    assert kv_table.scan().filter("value = 'merged'").count() == 200
    # untouched rows keep their values
    assert kv_table.scan().filter("key = 0 AND value = 'v0'").count() == 1


def test_merge_delete(spark, kv_table):
    src = spark.range(100).select(F.col("id").alias("key"))
    kv_table.merge(src, on="key", when_matched_delete=True, when_not_matched_insert=False)
    assert kv_table.scan().count() == 900
    assert kv_table.scan().agg(F.min("key")).first()[0] == 100


def test_add_files(spark, kv_table, tmp_path):
    ext = str(tmp_path / "external")
    make_kv(spark, n=100).withColumn("key", F.col("key") + 5000).write.parquet(ext)
    n = kv_table.add_files([ext])
    assert n >= 1
    assert kv_table.scan().count() == 1100
    assert kv_table.scan(filters=[("key", ">=", 5000)]).count() == 100


def test_schema_evolution_add_rename_drop(spark, kv_table):
    # ADD COLUMN with constant default: old files surface the default
    kv_table.add_column("score", "double", default=1.5)
    assert kv_table.scan().filter("score = 1.5").count() == 1000
    # new writes carry the column physically
    kv_table.append(
        make_kv(spark, n=10)
        .withColumn("key", F.col("key") + 2000)
        .withColumn("score", F.lit(9.9))
    )
    assert kv_table.scan().filter("score = 9.9").count() == 10

    # RENAME: metadata-only, old physical names mapped by field id
    kv_table.rename_column("value", "val")
    got = kv_table.scan()
    assert "val" in got.columns and "value" not in got.columns
    assert got.filter("val = 'v0' AND key = 0").count() == 1

    # filters and DML keep working across the rename
    kv_table.delete("key < 10")
    assert kv_table.scan().count() == 1000

    # DROP: projection-only
    kv_table.drop_column("grp")
    assert kv_table.scan().columns == ["key", "val", "score"]
    assert kv_table.scan().count() == 1000


def test_schema_evolution_time_travel_uses_current_schema(spark, kv_table):
    kv_table.rename_column("value", "val")
    # time travel reads old files but projects the current schema
    assert "val" in kv_table.scan(snapshot_id=1).columns


def test_stable_row_ids(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "rid"), KV_SCHEMA, row_ids=True)
    t.append(make_kv(spark, n=100))
    t.append(make_kv(spark, n=100).withColumn("key", F.col("key") + 100))
    ids = t.scan().select("_row_id")
    assert ids.count() == 200
    assert ids.distinct().count() == 200  # unique across appends
    # map key->row_id, then force a COW rewrite; ids must survive
    before = {r.key: r._row_id for r in t.scan().select("key", "_row_id").collect()}
    t.delete("key < 50")  # 50% of file 1 → COW
    after = {r.key: r._row_id for r in t.scan().select("key", "_row_id").collect()}
    assert len(after) == 150
    for k, rid in after.items():
        assert before[k] == rid
    t.compact(target_file_mb=512, min_input_files=1)
    post = {r.key: r._row_id for r in t.scan().select("key", "_row_id").collect()}
    assert post == after


def test_bucket_partition_equality_pruning(spark, tmp_path):
    """Bucket transforms prune on equality only (SURVEY §4: reference
    docs/iceberg-tables.md:262-270)."""
    t = LakeTable.create(
        spark,
        str(tmp_path / "bkt"),
        KV_SCHEMA,
        partition_by=[PartitionField("key", "bucket", 8)],
    )
    t.append(spark.range(1000).select(
        F.col("id").alias("key"),
        F.concat(F.lit("v"), F.col("id")).alias("value"),
        (F.col("id") % 5).cast("int").alias("grp"),
    ))
    meta = t._load()
    snap = t._current_snapshot(meta)
    spec = t._partition_spec(meta)
    all_files = snap.data_files
    live = t._partition_prune(all_files, [("key", "=", 42)], spec)
    assert 0 < len(live) < len(all_files)  # pruned to ~1/8 of partitions
    got = t.scan(filters=[("key", "=", 42)]).filter("key = 42")
    assert got.count() == 1
    # range filters must NOT be bucket-pruned (hash order != value order)
    live_rng = t._partition_prune(all_files, [("key", ">", 42)], spec)
    assert len(live_rng) == len(all_files)


def test_year_partition_delete_prunes(spark, tmp_path):
    sch = T.StructType([
        T.StructField("k", T.LongType()), T.StructField("ts", T.TimestampNTZType())
    ])
    t = LakeTable.create(
        spark, str(tmp_path / "yr"), sch,
        partition_by=[PartitionField("ts", "year")],
    )
    t.append(spark.range(100).select(
        F.col("id").alias("k"),
        F.expr("timestampadd(MONTH, CAST(id % 36 AS INT), TIMESTAMP_NTZ'2020-01-15 00:00:00')").alias("ts"),
    ))
    res = t.delete("ts = '2020-06-15 00:00:00'")
    # equality on the partition source column: only year=2020 files scanned
    assert t.scan().count() == 100 - spark.sql(
        "SELECT 1").count() * len([i for i in range(100) if i % 36 == 5])


def test_truncate(spark, kv_table):
    kv_table.truncate()
    assert kv_table.scan().count() == 0
    assert kv_table.scan(snapshot_id=1).count() == 1000  # history intact
    kv_table.append(make_kv(spark, n=5))
    assert kv_table.scan().count() == 5


def test_scan_stats_accounting(spark, kv_table):
    kv_table.append(make_kv(spark).withColumn("key", F.col("key") + 10_000))
    s = kv_table.scan_stats(filters=[("key", ">=", 10_000)])
    assert s["files_total"] == s["files_scanned"] + s["files_skipped"]
    assert s["files_skipped"] >= 1
    assert kv_table.scan_stats()["files_skipped"] == 0


# --- regression tests for review findings ---------------------------------


def test_cow_after_mor_does_not_resurrect(spark, kv_table):
    """A COW rewrite must apply existing MOR tombstones, not resurrect
    previously deleted rows."""
    kv_table.delete("key < 100")          # 10% → MOR tombstones
    kv_table.delete("grp = 0")            # large fraction → COW rewrite
    got = kv_table.scan()
    assert got.filter("key < 100").count() == 0  # first delete still holds
    assert got.filter("grp = 0").count() == 0
    assert got.count() == 1000 - 100 - (200 - 20)  # grp0 keys: 200, of which 20 already gone


def test_merge_after_mor_does_not_resurrect(spark, kv_table):
    kv_table.delete("key < 100")
    src = spark.range(150).coalesce(1).select(
        F.col("id").alias("key"), F.lit("m").alias("value"), F.lit(1).cast("int").alias("grp")
    )
    kv_table.merge(src, on="key", when_matched_update={"value": "src.value"},
                   when_not_matched_insert=False)
    got = kv_table.scan()
    assert got.filter("key < 100").count() == 0  # tombstoned rows stay gone
    assert got.filter("value = 'm'").count() == 50  # only keys 100-149 updated
    assert got.count() == 900


def test_cow_keeps_null_predicate_rows(spark, tmp_path):
    """Rows where the delete predicate evaluates to NULL did not match
    and must survive a COW rewrite."""
    t = LakeTable.create(spark, str(tmp_path / "nullp"), KV_SCHEMA)
    df = spark.range(100).coalesce(1).select(
        F.col("id").alias("key"),
        F.when(F.col("id") % 10 == 0, F.lit(None)).otherwise(F.concat(F.lit("v"), F.col("id"))).alias("value"),
        (F.col("id") % 5).cast("int").alias("grp"),
    )
    t.append(df)
    t.delete("value < 'v50'")  # NULL value rows → predicate NULL → keep
    got = t.scan()
    assert got.filter("value IS NULL").count() == 10


def test_whole_file_match_blocked_by_nulls(spark, tmp_path):
    """Metadata-only delete must not fire when the file contains NULLs
    in the predicate column (NULL rows never match)."""
    t = LakeTable.create(spark, str(tmp_path / "nullw"), KV_SCHEMA)
    df = spark.createDataFrame(
        [(5, "a", 1), (5, "b", 1), (None, "c", 1)], "key long, value string, grp int"
    ).coalesce(1)
    t.append(df)
    res = t.delete("key = 5")
    assert res["dropped"] == 0  # must scan, not metadata-drop
    assert t.scan().count() == 1
    assert t.scan().filter("key IS NULL").count() == 1


def test_row_ids_unique_after_zero_max(spark, tmp_path):
    """First append whose max _row_id is 0 must still advance the
    counter (falsy-zero regression)."""
    t = LakeTable.create(spark, str(tmp_path / "rid0"), KV_SCHEMA, row_ids=True)
    t.append(make_kv(spark, n=1))
    t.append(make_kv(spark, n=1))
    ids = [r._row_id for r in t.scan().select("_row_id").collect()]
    assert len(ids) == 2 and len(set(ids)) == 2


def test_timestamp_stats_prune_with_sql_literal(spark, tmp_path):
    sch = T.StructType([T.StructField("k", T.LongType()), T.StructField("ts", T.TimestampNTZType())])
    t = LakeTable.create(spark, str(tmp_path / "tsp"), sch)
    t.append(spark.range(10).coalesce(1).select(
        F.col("id").alias("k"),
        F.expr("timestampadd(HOUR, CAST(id AS INT), TIMESTAMP_NTZ'2026-01-05 00:00:00')").alias("ts"),
    ))
    # stats max is '2026-01-05 09:00:00'; a SQL-style literal later than
    # that must NOT prune the file out of the delete
    res = t.delete("ts <= '2026-01-05 02:00:00'")
    assert t.scan().count() == 7


def test_evolution_guards_and_errors(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "grd"), KV_SCHEMA, partition_by=[PartitionField("grp")]
    )
    t.append(make_kv(spark, n=20))
    with pytest.raises(ValueError, match="partition column"):
        t.rename_column("grp", "g2")
    with pytest.raises(ValueError, match="partition column"):
        t.drop_column("grp")
    with pytest.raises(ValueError, match="no such snapshot"):
        t.scan(snapshot_id=99)
    # unparseable predicate literal → full scan, not a crash
    t.delete("value = value")  # matches everything (non-null)
    assert t.scan().count() == 0


def test_merge_assigns_row_ids_to_inserts(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "mrid"), KV_SCHEMA, row_ids=True)
    t.append(make_kv(spark, n=50))
    src = spark.range(50, 80).coalesce(1).select(
        F.col("id").alias("key"), F.lit("new").alias("value"), F.lit(0).cast("int").alias("grp")
    )
    t.merge(src, on="key")
    ids = t.scan().select("_row_id")
    assert ids.count() == 80
    assert ids.filter("_row_id IS NULL").count() == 0
    assert ids.distinct().count() == 80


def test_partition_evolution(spark, tmp_path):
    """Change the partition spec mid-table: old files keep their layout,
    new appends use the new one, per-file pruning handles both."""
    t = LakeTable.create(spark, str(tmp_path / "pev"), KV_SCHEMA)
    t.append(make_kv(spark, n=100))                      # unpartitioned
    t.set_partition_spec([PartitionField("grp", "identity")])
    t.append(make_kv(spark, n=100).withColumn("key", F.col("key") + 100))
    assert t.scan().count() == 200
    # metadata-only partition delete applies only to files written
    # under the new spec; old files are scanned normally
    res = t.delete("grp = 3")
    assert t.scan().filter("grp = 3").count() == 0
    assert t.scan().count() == 160
    assert res["dropped"] >= 1  # new-layout partition dropped metadata-only


def test_merge_composite_key(spark, kv_table):
    src = spark.createDataFrame(
        [(0, 0, "ck"), (999, 4, "ck"), (5000, 1, "newrow")],
        "key long, grp int, value string",
    ).select("key", "value", "grp")
    res = kv_table.merge(
        src, on=["key", "grp"], when_matched_update={"value": "src.value"}
    )
    assert res["inserted_rows"] == 1
    got = kv_table.scan()
    assert got.filter("value = 'ck'").count() == 2      # both composite matches updated
    assert got.filter("key = 5000 AND value = 'newrow'").count() == 1
    assert got.count() == 1001


def test_update_is_single_snapshot(spark, kv_table):
    """UPDATE must publish exactly one snapshot: a crash between a
    delete-commit and a re-append would otherwise lose rows."""
    n_before = kv_table.snapshots().count()
    kv_table.update({"value": "concat(value, '!')"}, "key < 10")
    assert kv_table.snapshots().count() == n_before + 1
    got = kv_table.scan()
    assert got.count() == 1000
    assert got.filter("value like '%!'").count() == 10
    # the pre-update snapshot still reads the original values
    assert kv_table.scan(snapshot_id=1).filter("value like '%!'").count() == 0


def test_update_null_predicate_rows_kept(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", None), (2, "b", 1)],
        T.StructType(
            [
                T.StructField("key", T.LongType()),
                T.StructField("value", T.StringType()),
                T.StructField("grp", T.IntegerType()),
            ]
        ),
    )
    t = LakeTable.create(spark, str(tmp_path / "u"), KV_SCHEMA)
    t.append(df)
    t.update({"value": "'hit'"}, "grp = 1")  # NULL grp row must not match
    vals = {r.key: r.value for r in t.scan().collect()}
    assert vals == {1: "a", 2: "hit"}


def test_merge_rejects_duplicate_source_keys(spark, kv_table):
    src = spark.createDataFrame([(1, "x", 0), (1, "y", 0)], KV_SCHEMA)
    with pytest.raises(ValueError, match="duplicate join keys"):
        kv_table.merge(src, on="key", when_matched_update={"value": "src.value"})


def test_rewrites_preserve_partition_pruning(spark, tmp_path):
    """COW delete / UPDATE / compaction rewrites must re-apply the
    hidden partition transforms, or rewritten files fall out of
    partition pruning forever."""
    t = LakeTable.create(
        spark, str(tmp_path / "p"), KV_SCHEMA, partition_by=[PartitionField("grp")]
    )
    t.append(make_kv(spark))
    # large delete in one partition → COW rewrite of that partition
    t.delete("key < 150 AND grp = 0")
    stats = t.scan_stats([("grp", "=", 1)])
    assert stats["files_skipped"] > 0, "post-COW files lost partition values"
    t.update({"value": "'u'"}, "grp = 2")
    stats = t.scan_stats([("grp", "=", 1)])
    assert stats["files_skipped"] > 0, "post-UPDATE files lost partition values"
    # every file must carry a partition value for grp
    for r in t.files().collect():
        assert "__p_identity_grp" in r.partition, f"file {r.path} lost its partition"


def test_scan_filters_apply_row_predicate(spark, kv_table):
    got = kv_table.scan(filters=[("key", "<", 10)])
    assert got.count() == 10  # rows, not just file-level pruning supersets


def test_clustered_compaction_improves_pruning(spark, tmp_path):
    """compact(cluster_by=...) rewrites the table range-partitioned on
    the key: files get disjoint value ranges, so a key filter skips
    most of them in scan_stats — and the data is unchanged."""
    from pyspark.sql import functions as F

    from pg_datalake_spark.catalog import load_tables
    from pg_datalake_spark.tables import LakeTable

    orders = load_tables(spark, SF_DIR, ["orders"])["orders"].select(
        "o_orderkey", "o_totalprice"
    )
    lt = LakeTable.create(spark, str(tmp_path / "t"), orders.schema)
    # 6 appends, each spanning the FULL key range (interleaved mod
    # slices) → every file overlaps every key filter, nothing prunes
    for i in range(6):
        lt.append(orders.filter(F.col("o_orderkey") % 6 == i))
    lo = orders.agg(F.expr("percentile(o_orderkey, 0.08)")).first()[0]
    before = lt.scan_stats([("o_orderkey", "<", int(lo))])
    assert before["files_skipped"] == 0

    n_before = lt.scan().count()
    sum_before = lt.scan().agg(F.sum("o_orderkey").alias("s")).first()["s"]
    rewritten = lt.compact(target_file_mb=1, cluster_by=["o_orderkey"])
    assert rewritten == 6

    after = lt.scan_stats([("o_orderkey", "<", int(lo))])
    assert after["files_total"] >= 2
    assert after["files_skipped"] > 0, f"clustering must enable pruning: {after}"
    assert lt.scan().count() == n_before
    assert lt.scan().agg(F.sum("o_orderkey").alias("s")).first()["s"] == sum_before
    # filtered read still exact
    got = lt.scan(filters=[("o_orderkey", "<", int(lo))]).count()
    want = orders.filter(F.col("o_orderkey") < int(lo)).count()
    assert got == want

    with __import__("pytest").raises(ValueError, match="not in schema"):
        lt.compact(cluster_by=["nope"])


# -- equality deletes (internal-format parity with external Iceberg MOR,
#    mirroring tests/test_iceberg_external.py's content=2 cases) --------


def test_equality_delete_basic_and_time_travel(spark, kv_table):
    """Rows matching the key set disappear from the current snapshot;
    the pinned pre-delete snapshot is intact."""
    snap1 = kv_table.snapshots().agg(F.max("snapshot_id")).first()[0]
    n = kv_table.delete_equality(
        spark.createDataFrame([(2,)], "grp int"), columns=["grp"]
    )
    assert n == 1
    cur = kv_table.scan()
    assert cur.count() == 800
    assert cur.filter(F.col("grp") == 2).count() == 0
    assert kv_table.scan(snapshot_id=snap1).count() == 1000


def test_equality_delete_sequence_scoping(spark, kv_table):
    """The delete applies only to data files present at commit time:
    re-appending deleted keys afterwards makes them visible again
    (Iceberg v2 strictly-lower-sequence semantics)."""
    doomed = kv_table.scan().filter(F.col("grp") == 3)
    n_doomed = doomed.count()
    assert n_doomed == 200
    kv_table.delete_equality(spark.createDataFrame([(3,)], "grp int"))
    assert kv_table.scan().count() == 800
    kv_table.append(doomed)
    back = kv_table.scan()
    assert back.count() == 1000
    assert back.filter(F.col("grp") == 3).count() == n_doomed


def test_equality_delete_multi_column_and_null(spark, tmp_path):
    """Multi-column keys match null-safe: a null in the delete row
    matches rows where that column IS NULL — and only on the full
    composite key."""
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("k", T.StringType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    t = LakeTable.create(spark, str(tmp_path / "eqnull"), schema)
    t.append(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, None, 20.0), (3, "a", 30.0), (4, None, 40.0), (5, "b", 50.0)],
            schema,
        )
    )
    t.delete_equality(
        spark.createDataFrame([(1, "a"), (2, None)], "id long, k string"),
        columns=["id", "k"],
    )
    left = {r.id for r in t.scan().collect()}
    assert left == {3, 4, 5}


def test_equality_delete_stacks_with_position_deletes(spark, kv_table):
    """Equality and position tombstones compose: a predicate MOR delete
    followed by an equality delete removes the union, and COW rewrites
    triggered later do not resurrect either set."""
    kv_table.delete("key < 100")  # MOR position deletes (10%)
    kv_table.delete_equality(spark.createDataFrame([(4,)], "grp int"))
    expect = 1000 - 100 - kv_table.scan(snapshot_id=1).filter(
        (F.col("grp") == 4) & (F.col("key") >= 100)
    ).count()
    assert kv_table.scan().count() == expect
    # force a big COW delete over the survivors
    kv_table.delete("key >= 500")
    after = kv_table.scan()
    assert after.filter(F.col("grp") == 4).count() == 0
    assert after.filter(F.col("key") < 100).count() == 0
    assert after.filter(F.col("key") >= 500).count() == 0


def test_equality_delete_rejects_unknown_column(spark, kv_table):
    with pytest.raises(ValueError, match="not in table schema"):
        kv_table.delete_equality(spark.createDataFrame([(1,)], "nope int"))


def test_equality_delete_expire_cleans_directory(spark, kv_table, tmp_path):
    """expire_snapshots removes the equality-delete key directory once
    no kept snapshot references it (compaction resolves the delete)."""
    kv_table.delete_equality(spark.createDataFrame([(0,)], "grp int"))
    meta = kv_table._load()
    cur = kv_table._current_snapshot(meta)
    [eq] = [d for d in cur.delete_files if d.content == "equality"]
    assert os.path.isdir(eq.path)
    # cluster-compaction applies the delete and drops tombstones
    kv_table.compact(cluster_by=["key"])
    assert kv_table.scan().count() == 800
    kv_table.expire_snapshots(keep_last=1)
    assert not os.path.exists(eq.path)


# ---------------------------------------------------------------------------
# write-time stats from the parquet footers
# ---------------------------------------------------------------------------

STATS_SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("i", T.IntegerType()),
        T.StructField("b", T.BooleanType()),
        T.StructField("d", T.DateType()),
        T.StructField("s", T.StringType()),
        T.StructField("big", T.StringType()),
        T.StructField("x", T.DoubleType()),
        T.StructField("z", T.DoubleType()),
        T.StructField("zp", T.DoubleType()),
        T.StructField("n", T.DoubleType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("tn", T.TimestampNTZType()),
        T.StructField("dec", T.DecimalType(10, 2)),
        T.StructField("p", T.IntegerType()),
    ]
)


def _stats_rows(n: int):
    """Three partitions of ``p``; the ``p = 2`` files carry a string
    past parquet-java's 4 KB stats limit, ``z`` mixes both zeros."""
    import datetime as dt
    from decimal import Decimal

    nan = float("nan")
    rows = []
    for j in range(n):
        rows.append(
            (
                j,
                None if j % 7 == 0 else j % 11 - 5,
                j % 3 == 0,
                dt.date(1999, 12, 31) + dt.timedelta(days=j),
                ["ä", "z", "é€", "abc", "Ω"][j % 5] + str(j),
                ("x" * 5000 + str(j)) if j % 3 == 2 else f"short{j}",
                [1.0, 10.0, nan, -2.5][j % 4],
                [0.0, -0.0, 3.0, 1.0][j % 4],
                [0.0, 2.0][j % 2],
                None,
                dt.datetime(2020, 1, 1) + dt.timedelta(seconds=j * 3601),
                dt.datetime(1960, 5, 1) + dt.timedelta(microseconds=j * 12345),
                Decimal(j * 37 - 500) / 100,
                j % 3,
            )
        )
    return rows


def _entries_both_routes(t: LakeTable, out_dir: str, monkeypatch) -> tuple[list, list, set]:
    """(footer-route entries, Spark-route entries, columns the footer
    route handed to Spark), entries as sorted dicts."""
    from dataclasses import asdict

    meta = t._load()
    spec = t._partition_spec(meta)
    asked: set[str] = set()
    real = LakeTable._spark_stats

    def spy(self, root, schema, cols):
        asked.update(cols)
        return real(self, root, schema, cols)

    monkeypatch.setattr(LakeTable, "_spark_stats", spy)
    footer = t._collect_file_entries(out_dir, spec, meta)
    footer_asked = set(asked)
    monkeypatch.setattr(LakeTable, "_footer_stats", lambda *a: None)
    spark_route = t._collect_file_entries(out_dir, spec, meta)
    monkeypatch.undo()

    def norm(entries):
        import json

        return sorted(json.dumps(asdict(e), sort_keys=True) for e in entries)

    return norm(footer), norm(spark_route), footer_asked


def test_footer_stats_match_spark_aggregation(spark, tmp_path, monkeypatch):
    """The footer route stores byte-identical entries to the Spark
    min/max/null aggregation, over a partitioned table, and hands
    exactly the columns it cannot answer back to Spark: the INT96
    timestamp, the string past the stats size limit and the double
    whose file holds both zeros."""
    t = LakeTable.create(
        spark, str(tmp_path / "st"), STATS_SCHEMA, partition_by=[PartitionField("p")]
    )
    df = spark.createDataFrame(_stats_rows(60), STATS_SCHEMA).repartition(2)
    t.append(df)  # the commit serialises every stat, decimals included
    out_dir = os.path.dirname(os.path.dirname(t.files().first().path))
    footer, spark_route, asked = _entries_both_routes(t, out_dir, monkeypatch)
    assert len(footer) == 6  # 3 partitions x 2 tasks
    assert footer == spark_route
    assert asked == {"ts", "big", "z"}


def test_footer_stats_aggregate_row_groups(spark, tmp_path, monkeypatch):
    """A file with several row groups: min/max/nulls aggregate over
    them (NaN and zeros included) exactly as Spark's aggregation."""
    sch = T.StructType([f for f in STATS_SCHEMA.fields if f.name not in ("big", "p")])
    t = LakeTable.create(spark, str(tmp_path / "rg"), sch)
    out_dir = str(tmp_path / "rg_files")
    rows = [r[:5] + r[6:13] for r in _stats_rows(3000)]
    (
        spark.createDataFrame(rows, sch)
        .coalesce(1)
        .write.option("parquet.block.size", 4096)
        .parquet(out_dir)
    )
    import glob

    import pyarrow.parquet as pq

    [path] = glob.glob(out_dir + "/*.parquet")
    assert pq.ParquetFile(path).metadata.num_row_groups > 1
    footer, spark_route, asked = _entries_both_routes(t, out_dir, monkeypatch)
    assert footer == spark_route
    assert asked == {"ts", "z"}


def test_footer_stats_other_writer_keeps_spark_aggregation(spark, tmp_path, monkeypatch):
    """add_files of a file another parquet writer produced: its float
    stats may order NaN differently, so Spark aggregates it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = str(tmp_path / "ext.parquet")
    pq.write_table(pa.table({"key": [1, 2], "value": ["a", "b"], "grp": pa.array([1, 1], pa.int32())}), src)
    t = LakeTable.create(spark, str(tmp_path / "ext"), KV_SCHEMA)
    asked: list = []
    real = LakeTable._spark_stats
    monkeypatch.setattr(
        LakeTable, "_spark_stats", lambda self, r, s, c: asked.append(c) or real(self, r, s, c)
    )
    assert t.add_files([src]) == 1
    assert asked == [["key", "value", "grp"]]
    assert t._current_snapshot(t._load()).data_files[0].stats["key"] == [1, 2, 0]


def _jobs_in_group(spark, fn) -> int:
    """Spark jobs ``fn`` starts, counted under a job group of its own.
    A second group run after it is the control that every job event of
    the first group has arrived (listener events arrive in order)."""
    import time as _time
    import uuid as _uuid

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group, control = f"g-{_uuid.uuid4().hex}", f"c-{_uuid.uuid4().hex}"
    try:
        sc.setJobGroup(group, "counted")
        fn()
        sc.setJobGroup(control, "control")
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    deadline = _time.monotonic() + 30
    while not tracker.getJobIdsForGroup(control):
        assert _time.monotonic() < deadline, "control group never saw a job"
        _time.sleep(0.1)
    return len(tracker.getJobIdsForGroup(group))


def test_write_verbs_start_only_their_own_jobs(spark, tmp_path):
    """append runs exactly the jobs of writing its frame (no stats or
    schema job); a MERGE over a table with position deletes needs at
    most 9: one probe query and one write."""
    t = LakeTable.create(spark, str(tmp_path / "jobs"), KV_SCHEMA)
    batch = make_kv(spark, n=2000)
    t.append(batch)
    control = str(tmp_path / "plain")
    write_jobs = _jobs_in_group(spark, lambda: batch.write.parquet(control))
    assert _jobs_in_group(spark, lambda: t.append(batch.withColumn("key", F.col("key") + 2000))) == write_jobs
    t.delete("key >= 100 AND key < 150")  # position deletes the merge must apply
    src = spark.range(3900, 4100).coalesce(1).select(
        F.col("id").alias("key"), F.lit("m").alias("value"), F.lit(7).alias("grp")
    )
    jobs = _jobs_in_group(
        spark, lambda: t.merge(src, on="key", when_matched_update={"value": "src.value"})
    )
    assert jobs <= 9
    got = t.scan()
    assert got.count() == 4000 - 50 + 100
    assert got.filter("value = 'm'").count() == 200


def test_nan_bound_prunes_nothing(spark, tmp_path):
    """Spark orders NaN above every number, so a file holding NaN has
    max = NaN; that bound must not prune ``x > 5`` (NaN > 5 is true)."""
    sch = T.StructType([T.StructField("k", T.LongType()), T.StructField("x", T.DoubleType())])
    t = LakeTable.create(spark, str(tmp_path / "nan"), sch)
    t.append(spark.createDataFrame([(1, 1.0), (2, 10.0), (3, float("nan"))], sch).coalesce(1))
    [f] = t._current_snapshot(t._load()).data_files
    assert f.stats["x"][0] == 1.0 and f.stats["x"][1] != f.stats["x"][1]  # max is NaN
    assert sorted(r.k for r in t.scan(filters=[("x", ">", 5)]).collect()) == [2, 3]
    t.delete("x > 5")
    assert [r.k for r in t.scan().collect()] == [1]


def test_decimal_stats_exact_and_pruning(spark, tmp_path):
    """DECIMAL stats are stored as exact strings and prune by decimal
    order; a float literal compares as written (0.1 is 0.10)."""
    from decimal import Decimal

    sch = T.StructType([T.StructField("k", T.LongType()), T.StructField("d", T.DecimalType(10, 2))])
    t = LakeTable.create(spark, str(tmp_path / "dec"), sch)
    lo = [(1, Decimal("0.10")), (2, Decimal("2.50")), (3, Decimal("-1.00"))]
    hi = [(4, Decimal("10.10")), (5, Decimal("12.00"))]
    t.append(spark.createDataFrame(lo, sch).coalesce(1))
    t.append(spark.createDataFrame(hi, sch).coalesce(1))
    stats = sorted(f.stats["d"] for f in t._current_snapshot(t._load()).data_files)
    assert stats == [["-1.00", "2.50", 0], ["10.10", "12.00", 0]]
    assert t.scan_stats(filters=[("d", ">", 5)])["files_skipped"] == 1
    assert sorted(r.k for r in t.scan(filters=[("d", ">", 5)]).collect()) == [4, 5]
    assert t.scan_stats(filters=[("d", "=", 0.1)])["files_scanned"] == 1
    t.delete("d = 0.1")
    assert sorted(r.k for r in t.scan().collect()) == [2, 3, 4, 5]
    res = t.delete("d >= 10.1")  # every row of the second file matches
    assert res["dropped"] == 1
    assert sorted(r.k for r in t.scan().collect()) == [2, 3]


def _ts_kv(spark, keys, tag: str):
    """key, value, ts rows: the default INT96 timestamp column sends
    its stats down the Spark aggregation route."""
    import datetime as dt

    sch = T.StructType(KV_SCHEMA.fields[:2] + [T.StructField("ts", T.TimestampType())])
    rows = [(k, f"{tag}{k}", dt.datetime(2021, 1, 1) + dt.timedelta(hours=k)) for k in keys]
    return spark.createDataFrame(rows, sch).coalesce(1)


def test_relative_root_dml(spark, tmp_path, monkeypatch):
    """A table opened by a relative, non-normalised root records the
    paths Spark reports, so merge, update and both delete kinds find
    their files (no duplicate inserts, no KeyError on the INT96
    column's stats)."""
    monkeypatch.chdir(tmp_path)
    root = "./a/../rel"
    t = LakeTable.create(spark, root, _ts_kv(spark, [], "").schema)
    t.append(_ts_kv(spark, range(100), "v"))
    [f] = t._current_snapshot(t._load()).data_files
    assert f.path.startswith(str(tmp_path / "rel") + os.sep)
    res = t.merge(_ts_kv(spark, range(95, 105), "m"), on="key", when_matched_update={"value": "src.value"})
    assert res == {"rewritten_files": 1, "inserted_rows": 5}
    t = LakeTable(spark, "rel")  # reopened by another spelling
    assert t.scan().count() == 105
    assert t.scan().filter("value LIKE 'm%'").count() == 10
    t.update({"value": "'u'"}, "key < 10")
    assert t.scan().filter("value = 'u'").count() == 10
    t.delete("key = 50")  # 1 of 105 rows: a position delete
    t.delete("key >= 60")  # most of the file: a copy-on-write rewrite
    got = sorted(r.key for r in t.scan().collect())
    assert got == [k for k in range(60) if k != 50]
    # Spark resolves a relative path against the JVM's directory
    _ts_kv(spark, range(200, 210), "e").write.parquet(str(tmp_path / "ext"))
    assert t.add_files(["ext"]) == 1  # relative to this process's directory
    t.delete("key = 205")
    assert sorted(r.key for r in t.scan().filter("key >= 200").collect()) == [
        k for k in range(200, 210) if k != 205
    ]


def test_escaped_partition_value_dml(spark, tmp_path):
    """Identity partition values Spark's file URIs %-escape ('a b',
    'c+d%e'): append records the decoded paths, and update, merge and
    both delete kinds match them against Spark's paths."""
    t = LakeTable.create(spark, str(tmp_path / "esc"), KV_SCHEMA, partition_by=[PartitionField("value")])
    vals = ["a b", "c+d%e", "x"]
    batch = spark.range(300).coalesce(1).select(
        F.col("id").alias("key"),
        F.element_at(F.array(*[F.lit(v) for v in vals]), (F.col("id") % 3 + 1).cast("int")).alias("value"),
        F.lit(1).alias("grp"),
    )
    t.append(batch)
    files = t._current_snapshot(t._load()).data_files
    assert sorted(f.partition["__p_identity_value"] for f in files) == sorted(vals)
    assert all(os.path.exists(f.path) for f in files)
    assert t.scan(filters=[("value", "=", "a b")]).count() == 100
    t.delete("key = 0")  # position delete in the 'a b' file
    t.delete("key >= 200 AND value = 'c+d%e'")  # rewrites the 'c+d%e' file
    t.delete_equality(spark.createDataFrame([(4,)], "key long"))  # in the 'c+d%e' file
    t.update({"grp": "2"}, "key < 30")
    res = t.merge(
        spark.createDataFrame([(6, "a b", 9), (1000, "x", 9)], KV_SCHEMA),
        on="key",
        when_matched_update={"grp": "src.grp"},
    )
    assert res == {"rewritten_files": 1, "inserted_rows": 1}
    got = {r.key: (r.value, r.grp) for r in t.scan().collect()}
    gone = {0, 4} | {k for k in range(200, 300) if k % 3 == 1}
    assert set(got) == (set(range(300)) - gone) | {1000}
    assert got[6] == ("a b", 9) and got[9] == ("a b", 2) and got[100] == ("c+d%e", 1)


def test_add_files_missing_column_reads_default(spark, kv_table, tmp_path):
    """A table column an added file lacks reads as the column's
    default, and no stats of that file prune on it."""
    kv_table.add_column("c", "int", default=5)
    ext = str(tmp_path / "no_c")
    make_kv(spark, n=10).withColumn("key", F.col("key") + 5000).write.parquet(ext)
    kv_table.add_files([ext])
    got = kv_table.scan(filters=[("c", "=", 5), ("key", ">=", 5000)])
    assert got.count() == 10
    assert {r.c for r in got.collect()} == {5}
    assert kv_table.scan(filters=[("c", "=", 5)]).count() == 1010
