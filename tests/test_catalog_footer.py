"""The catalog reads table schemas from parquet footers on the driver.

``load_tables`` gives a table it has not seen the schema Spark's
inference would give it, read by Spark's own footer converter, so the
first load of a catalog starts no Spark job. These tests pin the
schemas to inference exactly (field metadata and nullability included)
and count the jobs under a job group of their own.
"""

from __future__ import annotations

import decimal
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

import pg_datalake_spark.catalog as cat
from tests.conftest import SF_DIR
from tests.spark_jobs import jobs_in_group

# the driver testdata: one directory per scale factor
TESTDATA = os.path.dirname(SF_DIR)
SFS = ("sf0.001", "sf0.01", "sf0.1")
NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def _copy_catalog(src: str, dst: str, names=cat.TABLE_NAMES) -> str:
    """The tables of ``src`` under new paths, which no session has seen."""
    os.makedirs(dst, exist_ok=True)
    for name in names:
        shutil.copy(cat.table_path(src, name), cat.table_path(dst, name))
    return dst


def _single_file(df, dest: str) -> None:
    """Write ``df`` as one parquet file at ``dest`` (not a directory)."""
    stage = dest + ".stage"
    df.coalesce(1).write.parquet(stage)
    [part] = [f for f in os.listdir(stage) if f.endswith(".parquet")]
    os.replace(os.path.join(stage, part), dest)
    shutil.rmtree(stage)


def _inferred(spark, path: str) -> str:
    return spark.read.parquet(path).schema.json()


@pytest.mark.parametrize("sf", SFS)
def test_footer_schema_equals_inference(spark, sf):
    sf_dir = os.path.join(TESTDATA, sf)
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} not present")
    fresh = spark.newSession()
    tables = cat.load_tables(fresh, sf_dir)
    for name in cat.TABLE_NAMES:
        p = cat.table_path(sf_dir, name)
        want = _inferred(fresh, p)
        if name == "events":
            # the route's own frame, before the catalog's ts cast
            got = fresh.read.schema(cat._footer_reader(fresh)(p)).parquet(p).schema
            assert got.json() == want
            ts = tables[name].schema["ts"].dataType
            assert isinstance(ts, T.TimestampNTZType), ts
        else:
            assert tables[name].schema.json() == want, name


def test_first_load_starts_no_spark_job(spark, tmp_path):
    sf = _copy_catalog(SF_DIR, str(tmp_path / "fresh"))
    fresh = spark.newSession()
    loaded = {}
    assert jobs_in_group(fresh, lambda: loaded.update(cat.load_tables(fresh, sf))) == 0
    assert set(loaded) == set(cat.TABLE_NAMES)
    # the control: inferring the same schemas does start jobs
    assert jobs_in_group(fresh, lambda: [_inferred(fresh, cat.table_path(sf, n)) for n in loaded]) > 0


def test_vanilla_session_reads_nanos_as_timestamp_ntz(spark, tmp_path):
    # a session that never had the NANOS conf: load_tables sets it
    # before it builds the footer converter
    sf = _copy_catalog(SF_DIR, str(tmp_path / "v"), ["events"])
    vanilla = spark.newSession()
    vanilla.conf.unset(NANOS)
    assert vanilla.conf.get(NANOS) == "false"
    loaded = {}
    assert jobs_in_group(vanilla, lambda: loaded.update(cat.load_tables(vanilla, sf, ["events"]))) == 0
    events = loaded["events"]
    assert isinstance(events.schema["ts"].dataType, T.TimestampNTZType)
    assert events.count() == pq.ParquetFile(cat.table_path(sf, "events")).metadata.num_rows


def _edge_tables(spark, sf: str) -> None:
    """Catalog tables whose footers exercise the converter's corners."""
    # Spark-written: nested types, a wide decimal and field metadata
    nested = spark.range(5).select(
        F.struct(F.col("id").alias("a"), F.col("id").cast("string").alias("b")).alias("s"),
        F.create_map(F.lit("k"), F.col("id")).alias("m"),
        F.array(F.col("id"), F.col("id") + 1).alias("arr"),
        F.col("id").cast("decimal(30,2)").alias("d", metadata={"comment": "money"}),
    )
    _single_file(nested, cat.table_path(sf, "customer"))
    # pyarrow-written: REQUIRED, NANOS, tz and no-tz timestamps,
    # unsigned, decimal128, list and map
    ts = [0, 1_700_000_000_123_456_789]
    schema = pa.schema(
        [
            pa.field("req", pa.int64(), nullable=False),
            ("ns", pa.timestamp("ns")),
            ("tz_us", pa.timestamp("us", tz="UTC")),
            ("ms", pa.timestamp("ms")),
            ("dec", pa.decimal128(20, 1)),
            ("u8", pa.uint8()),
            ("lst", pa.list_(pa.int32())),
            ("mp", pa.map_(pa.string(), pa.int64())),
        ]
    )
    rows = {
        "req": [1, 2],
        "ns": ts,
        "tz_us": [t // 1000 for t in ts],
        "ms": [t // 10**6 for t in ts],
        "dec": [decimal.Decimal("1.5"), decimal.Decimal("-2.5")],
        "u8": [1, 255],
        "lst": [[1], [2, 3]],
        "mp": [[("a", 1)], []],
    }
    pq.write_table(pa.table(rows, schema=schema), cat.table_path(sf, "part"))
    # INT96 timestamps
    pq.write_table(
        pa.table({"t": pa.array([0, 10**15], pa.timestamp("us"))}),
        cat.table_path(sf, "supplier"),
        use_deprecated_int96_timestamps=True,
    )


def test_edge_footers_equal_inference(spark, tmp_path):
    sf = str(tmp_path)
    _edge_tables(spark, sf)
    names = ["customer", "part", "supplier"]
    fresh = spark.newSession()
    loaded = {}
    assert jobs_in_group(fresh, lambda: loaded.update(cat.load_tables(fresh, sf, names))) == 0
    for name in names:
        assert loaded[name].schema.json() == _inferred(fresh, cat.table_path(sf, name)), name
    # the pyarrow file: REQUIRED reads nullable, NANOS as long under
    # the catalog's conf, tz as timestamp, no tz as timestamp_ntz
    part = {f.name: f for f in loaded["part"].schema.fields}
    assert part["req"].nullable
    assert isinstance(part["ns"].dataType, T.LongType)
    assert isinstance(part["tz_us"].dataType, T.TimestampType)
    assert isinstance(part["ms"].dataType, T.TimestampNTZType)
    assert loaded["customer"].schema["d"].metadata == {"comment": "money"}


def test_disagreeing_directory_takes_spark_route(spark, tmp_path):
    # files of one directory with different schemas: Spark picks one by
    # its listing order, so the catalog leaves the table to Spark
    sf = str(tmp_path)
    p = cat.table_path(sf, "lineitem")
    os.makedirs(p)
    pq.write_table(pa.table({"k": pa.array([1], pa.int64())}), os.path.join(p, "a.parquet"))
    pq.write_table(pa.table({"w": pa.array([1.5])}), os.path.join(p, "b.parquet"))
    fresh = spark.newSession()
    assert cat._footer_reader(fresh)(p) is None
    loaded = {}
    assert jobs_in_group(fresh, lambda: loaded.update(cat.load_tables(fresh, sf, ["lineitem"]))) > 0
    assert loaded["lineitem"].schema.json() == _inferred(fresh, p)


def test_directory_takes_spark_route(spark, tmp_path):
    # the footer route is for single-file tables: a directory, even one
    # whose files agree, keeps Spark's listing and inference
    sf = str(tmp_path)
    p = cat.table_path(sf, "orders")
    spark.range(0, 300).selectExpr("id AS k", "cast(id AS string) AS v").repartition(
        3
    ).write.parquet(p)
    assert len([f for f in os.listdir(p) if f.endswith(".parquet")]) == 3
    fresh = spark.newSession()
    assert cat._footer_reader(fresh)(p) is None
    loaded = {}
    assert jobs_in_group(fresh, lambda: loaded.update(cat.load_tables(fresh, sf, ["orders"]))) > 0
    assert loaded["orders"].schema.json() == _inferred(fresh, p)
