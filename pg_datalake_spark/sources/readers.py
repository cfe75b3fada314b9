"""Readers over raw files: parquet/csv/json with schema inference,
glob listing, schema preview, and the filename column.

Reference parity (SURVEY §2.1):
- lake foreign table w/ inferred columns → read_files(path, fmt) —
  CSV dialect sniffing (pg_lake_engine/src/pgduck/sniff_csv.c) maps to
  Spark's csv inference options; parquet/json self-describe.
- `filename 'true'` option             → with_filename column via
  _metadata.file_path (read_data.c filename column).
- lake_file.list(glob)                 → list_files()
  (docs/query-data-lake-files.md:41-77).
- lake_file.preview(url, fmt)          → preview_schema()
  (pg_lake_table--3.0.sql:184-185, test_file_preview.py).
- format/compression inference from the extension
  (docs/file-formats-reference.md:26-36) → infer_format().
"""

from __future__ import annotations

import glob as _glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pg_datalake_spark.session import local_frame

# extension → (format, compression); mirrors the reference's table in
# docs/file-formats-reference.md:26-36
_EXT_FORMATS: list[tuple[str, str, str | None]] = [
    (".parquet", "parquet", None),
    (".csv.gz", "csv", "gzip"),
    (".csv.zst", "csv", "zstd"),
    (".csv", "csv", None),
    (".tsv", "csv", None),
    (".json.gz", "json", "gzip"),
    (".json.zst", "json", "zstd"),
    (".json", "json", None),
    (".jsonl", "json", None),
    (".ndjson", "json", None),
]


def infer_format(path: str) -> tuple[str, str | None]:
    """(format, compression) from the file extension."""
    low = path.lower()
    for ext, fmt, comp in _EXT_FORMATS:
        if low.endswith(ext) or (ext + "/") in low or low.rstrip("*/").endswith(ext):
            return fmt, comp
    for ext, fmt, comp in _EXT_FORMATS:  # glob patterns like dir/*.csv
        if ext in os.path.basename(low):
            return fmt, comp
    raise ValueError(f"cannot infer format from path: {path}")


def read_files(
    spark: SparkSession,
    path: str,
    fmt: str | None = None,
    schema=None,
    filename: bool = False,
    **options,
) -> DataFrame:
    """Read raw files as a DataFrame with schema inference.

    - ``fmt`` defaults to extension inference.
    - CSV: header + dialect inference on by default (Spark samples the
      files like the reference's sniff_csv).
    - ``filename=True`` appends a ``_filename`` column.
    - gzip/zstd are transparent to Spark's text sources.
    """
    if path.startswith("hf://"):
        # Hugging Face datasets (reference: docs/file-formats-reference.md:158-183
        # reads hf:// URLs through its engine's httpfs). REAL offline
        # since r8: sources/hf_reader.py resolves the URL against the
        # public huggingface_hub snapshot-cache layout (refs ->
        # snapshots/{commit}, shard-name convention) and plans a plain
        # distributed read over the shard list. A repo absent from the
        # local cache still fails loud with the snapshot_download
        # recipe — resolving is offline, downloading is not.
        from pg_datalake_spark.sources.hf_reader import read_hf_dataset

        hf_keys = {"config", "split", "cache_dir"}
        hf_opts = {k: options.pop(k) for k in list(options) if k in hf_keys}
        df = read_hf_dataset(spark, path, **hf_opts, **options)
        if filename:
            df = df.withColumn("_filename", F.col("_metadata.file_path"))
        return df
    fmt = fmt or infer_format(path)[0]
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        opts = {"header": "true", "inferSchema": "true", "enforceSchema": "false"}
        if ".tsv" in os.path.basename(path.lower()):
            opts["sep"] = "\t"
        opts.update({k: str(v) for k, v in options.items()})
        df = reader.options(**opts).csv(path)
    elif fmt == "json":
        df = reader.options(**{k: str(v) for k, v in options.items()}).json(path)
    elif fmt == "parquet":
        df = reader.options(**{k: str(v) for k, v in options.items()}).parquet(path)
    elif fmt == "delta":
        # Delta scan (reference reads Delta natively:
        # pg_lake_engine/src/pgduck/read_data.c:286,
        # docs/file-formats-reference.md:33). Preferred dispatch is the
        # delta-spark DataSourceV2 when the jars are present; on a
        # cluster add
        #   spark.jars.packages=io.delta:delta-spark_2.13:<ver>
        #   spark.sql.extensions=io.delta.sql.DeltaSparkSessionExtension
        # Offline (no jars) the pure-Python transaction-log reader
        # (tables/delta_log.py) replays _delta_log and plans the same
        # parquet scan — real Delta reads either way.
        if delta_available(spark):
            df = reader.options(
                **{k: str(v) for k, v in options.items()}
            ).format("delta").load(path)
        else:
            from pg_datalake_spark.tables.delta_log import read_delta_table

            version = options.get("versionAsOf", options.get("version_as_of"))
            ts_ms = options.get("timestampAsOfMs", options.get("timestamp_as_of_ms"))
            df = read_delta_table(
                spark, path,
                version_as_of=None if version is None else int(version),
                timestamp_as_of_ms=None if ts_ms is None else int(ts_ms),
            )
    else:
        raise ValueError(f"unsupported format: {fmt}")
    if filename:
        df = df.withColumn("_filename", F.col("_metadata.file_path"))
    return df


def delta_available(spark: SparkSession) -> bool:
    """True when the delta-spark DataSourceV2 is on the classpath."""
    try:
        spark._jvm.java.lang.Class.forName("io.delta.tables.DeltaTable")
        return True
    except Exception:
        return False


def read_log(
    spark: SparkSession, path: str, pattern: str, fields: list[tuple[str, str]]
) -> DataFrame:
    """Templated log-format scan (reference: `log_format 's3'` tables,
    read_data.c:1409-1495 / DescribeColumnsForLogFormat): read lines as
    text, project typed columns by regex group.

    ``fields`` = [(name, spark_type), ...] in group order. Lines not
    matching the template yield NULLs (the reference's behavior for
    malformed log rows).
    """
    df = spark.read.text(path)
    # try_cast, not cast: a non-matching line extracts '' for every
    # group, and ANSI mode (Spark 4 default) would throw on
    # CAST('' AS BIGINT) — malformed rows must yield NULLs, not kill
    # the scan (caught by test_python_datasource_log_format).
    cols = [
        F.nullif(F.regexp_extract("value", pattern, i + 1), F.lit(""))
        .try_cast(t)
        .alias(name)
        for i, (name, t) in enumerate(fields)
    ]
    return df.select(*cols)


def list_files(spark: SparkSession, pattern: str) -> DataFrame:
    """``lake_file.list`` analog: glob → (path, size_bytes, mtime_ms).

    Local-FS implementation; on a cluster the same surface is backed by
    the Hadoop FileSystem globStatus API.
    """
    rows = [
        (p, os.path.getsize(p), int(os.path.getmtime(p) * 1000))
        for p in sorted(_glob.glob(pattern, recursive=True))
        if os.path.isfile(p)
    ]
    return local_frame(spark, rows, "path string, size_bytes long, mtime_ms long")


def file_exists(path: str) -> bool:
    """``lake_file.exists`` analog."""
    return os.path.exists(path)


def delete_files(pattern: str) -> list[str]:
    """``lake_file.delete`` analog: remove files matching a glob;
    returns the deleted paths (local FS here; Hadoop FS on a cluster)."""
    removed = []
    for p in sorted(_glob.glob(pattern, recursive=True)):
        if os.path.isfile(p):
            os.remove(p)
            removed.append(p)
    return removed


def preview_schema(spark: SparkSession, path: str, fmt: str | None = None) -> DataFrame:
    """``lake_file.preview`` analog: inferred (column_name, column_type)
    without creating a table."""
    df = read_files(spark, path, fmt)
    rows = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
    return local_frame(spark, rows, "column_name string, column_type string")
