"""SparkSession construction.

The reference engine (pg_lake) delegates vectorized execution to a
multi-threaded DuckDB sidecar with a memory limit of 80% of RAM
(reference: README.md pgduck_server flags). Here Spark *is* the engine;
this module owns the session-level tuning that stands in for those
engine defaults:

- AQE on (runtime re-planning, skew-join handling, partition coalescing)
- shuffle partitions sized to the local core count, not the 200 default
- UTC session timezone (reference pins timestamptz rendering through the
  session TZ; UTC makes oracle comparison deterministic — SURVEY §4.5.8)
- Arrow enabled for the pandas-UDF slow path

At 100 TB these settings change shape but not intent: shuffle
partitions scale with cluster cores × 2-3, AQE stays on, and
maxPartitionBytes keeps scan tasks ~128MB.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def cpu_count() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def default_driver_memory() -> str:
    """Half of the host's physical memory, clamped to [1 GB, 16 GB].
    The driver JVM grows its heap toward the maximum before it collects
    in earnest, so a maximum near the host's RAM lets one session (a
    whole test run, say) push the host out of memory; a quarter is too
    little heap for the test suite's spatial tests after the rest of
    the run."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(max(total // 2 >> 20, 1024), 16 << 10)}m"


def advisory_partition_bytes_for(data_bytes: int, cores: int) -> int:
    """AQE partition-coalescing target, derived from the input size:
    the 64 MB default folds every post-shuffle stage of a small input
    to ONE task (at sf0.1 a ~5-15 MB shuffle coalesces to 1-2
    partitions, serializing everything downstream of the exchange —
    measured 1.3-1.9× on the shuffle-heavy bench keys). Target the
    per-core share instead, clamped to [1 MB, 64 MB]: at 100 TB the
    clamp returns the stock 64 MB and nothing changes."""
    return int(min(max(data_bytes // max(cores * 2, 1), 1 << 20), 64 << 20))


def shuffle_partitions_for(data_bytes: int, cores: int) -> int:
    """Size shuffle partitions to the data, not a constant: ~64MB per
    shuffle partition (Spark's guidance), clamped to [cores/4, 4*cores].
    At sf0.1 (~60MB) this is a handful of partitions (task-scheduling
    overhead dominates tiny shuffles); at 100 TB it yields the large
    counts a real cluster needs. AQE still re-coalesces at runtime."""
    by_size = max(1, data_bytes // (64 * 1024 * 1024))
    return int(min(max(by_size, max(1, cores // 4)), cores * 4))


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A DataFrame of rows the driver already holds (tuples, nested
    structs as tuples, maps as dicts, or a ``pyarrow.Table`` built
    column-wise), typed by ``schema`` (a StructType or a DDL string).
    The rows reach the JVM as one Arrow table: ``spark.createDataFrame``
    of a Python list pickles them through a Python-worker RDD instead,
    a fixed ~0.4 s per call even for ``[]`` against ~0.04 s for the
    same rows as Arrow."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, _parse_datatype_string

    if not isinstance(schema, StructType):
        schema = _parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(schema)
    if isinstance(rows, pa.Table):
        table = rows.cast(arrow_schema)
    else:
        rows = list(rows)
        table = pa.Table.from_arrays(
            [
                pa.array([r[i] for r in rows], type=f.type)
                for i, f in enumerate(arrow_schema)
            ],
            schema=arrow_schema,
        )
    return spark.createDataFrame(table, schema)


def sql_ident(name: str) -> str:
    """``name`` as a back-quoted SQL identifier. A projection spelled in
    SQL reaches the JVM in one ``selectExpr`` call, where the same
    projection built of Columns costs several round trips a column."""
    return "`" + name.replace("`", "``") + "`"


def sql_literal(value) -> str:
    """A scalar (None, bool, int, float or str) as the SQL literal of the
    type ``F.lit`` gives it. A string holding a quote or a backslash is
    spelled as its UTF-8 bytes, which no string-escape setting reads
    differently."""
    import math

    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if isinstance(value, int):
        return str(value)
    if isinstance(value, float):
        if math.isnan(value):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(value):
            return f"CAST('{'-' if value < 0 else ''}Infinity' AS DOUBLE)"
        return f"{value!r}D"
    if isinstance(value, str):
        if "'" in value or "\\" in value:
            return f"CAST(X'{value.encode().hex()}' AS STRING)"
        return f"'{value}'"
    raise TypeError(f"no SQL literal for {type(value).__name__}")


def build_session(
    app_name: str = "pg_datalake_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Create (or fetch) the tuned SparkSession."""
    n = cpus or cpu_count()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n))
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", str(64 * 1024 * 1024))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        # Parquet scans: keep split size moderate so local[N] parallelizes
        # small files; on a real cluster the same knob bounds task size.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Parquet TIMESTAMP(NANOS) (events.ts in the testdata) is not a
        # Spark-native type: surface it as long and let the catalog cast
        # to timestamp_ntz (µs truncation).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
