"""Test-data catalog: register the driver-provided parquet tables.

Mirrors the reference's notion of lake foreign tables over parquet
(reference: docs/query-data-lake-files.md:1-40) — here each table is a
temp view over ``spark.read.parquet`` so both the DataFrame API and
``spark.sql`` see the same relations, and Catalyst pushes filters and
projections into the parquet scan.

``load_tables`` is on the hot path of every timed query (each
registered query calls it), so everything driver-side it does is
memoized per session and keyed on the file's identity
``(path, mtime_ns, size)``:

- the constructed DataFrame (plan object, immutable — reusing it skips
  the relation build, the events-ts cast and the floor decision,
  ~25 ms/table of py4j chatter),
- the temp-view registration (skipped when the view already points at
  the same DataFrame).

A single-file table seen for the first time gets its schema from its
parquet footer, read on the driver by Spark's own schema converter
(``_footer_reader``), and is read with that schema: ``spark.read.parquet``
would run a schema-inference job per table. A first ``load_tables``
of the ten tables therefore starts no Spark job.

Only METADATA and plan objects are memoized — never data or results;
an identical plan is what every call produced before, so cache lookups
and query results are bit-identical. Keying on (mtime, size) means a
rewritten file at the same path gets a fresh schema + plan instead of
silently misreading (r15 ADVICE item 1).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Tables below this size gain nothing from spreading (their scans are
# instant and they are usually broadcast sides); everything bigger whose
# file layout cannot feed the session's cores gets a round-robin spread.
# 256 KiB keeps the schema-bounded dims (nation/region/supplier/part)
# out while catching the per-row-expensive text/embedding corpora.
_PAR_FLOOR_MIN_BYTES = 1 << 18


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _path_sig(path: str) -> tuple[int, int, int]:
    """(total_bytes, n_files, latest_mtime_ns) — the memo key part that
    changes whenever the file (or any file of a directory table) is
    rewritten. One stat per file; no data read."""
    if os.path.isdir(path):
        total, n, mt = 0, 0, 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    st = os.stat(os.path.join(root, f))
                    total += st.st_size
                    n += 1
                    mt = max(mt, st.st_mtime_ns)
        return total, max(n, 1), mt
    st = os.stat(path)
    return st.st_size, 1, st.st_mtime_ns


def _footer_reader(spark: SparkSession):
    """``schema_of(path)``: the schema Spark's inference gives a
    single-file table, read from its parquet footer on the driver — no
    Spark job, where ``spark.read.parquet`` runs one schema-inference
    job per table. Spark's own converter applies the session's parquet
    settings (``nanosAsLong``, INT96, binary-as-string, timestamp_ntz),
    so build the reader after ``load_tables`` has set its conf. Returns
    None, to leave the table to Spark, for a directory (its file
    listing and schema choice stay Spark's) and where the footer cannot
    be read or converted (Spark then raises as it would have)."""
    from py4j.protocol import Py4JJavaError

    jvm = spark._jvm
    state = spark._jsparkSession.sessionState()
    conf = state.newHadoopConf()
    pq = jvm.org.apache.spark.sql.execution.datasources.parquet
    converter = pq.ParquetToSparkSchemaConverter(state.conf())

    def schema_of(path: str) -> T.StructType | None:
        if os.path.isdir(path):
            return None
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        try:
            meta = jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(conf, hpath)
            footer = jvm.org.apache.parquet.hadoop.Footer(hpath, meta)
            schema = pq.ParquetFileFormat.readSchemaFromFooter(footer, converter)
        except Py4JJavaError:
            return None
        return T.StructType.fromJson(json.loads(schema.json()))

    return schema_of


def _max_partition_bytes(spark: SparkSession) -> int:
    raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    try:
        return int(raw)
    except ValueError:
        try:  # values like "128MB"
            return int(
                spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw)
            )
        except Exception:
            return 134217728


def _spread_partitions(
    spark: SparkSession, total_bytes: int, n_files: int, par: int | None = None
) -> int:
    """Scale-adaptive scan-parallelism floor decision (guide §2.5/§6):
    returns the round-robin partition count to spread to, or 0 for "no
    exchange". Spread only when the file layout cannot produce at
    least defaultParallelism scan tasks AND the table is big enough to
    benefit; at real scale (many files / row groups) this is always 0.
    The driver testdata is one single-row-group file per table, so
    without the spread every scan, and every stage fed by it, is one
    task wide; Catalyst still pushes filters and column pruning below
    the Repartition into the parquet scan."""
    if total_bytes < _PAR_FLOOR_MIN_BYTES:
        return 0
    if par is None:
        par = spark.sparkContext.defaultParallelism
    est_tasks = max(n_files, total_bytes // _max_partition_bytes(spark))
    if est_tasks >= par:
        return 0
    return par


def _sig_or_none(path: str) -> tuple[int, int, int] | None:
    """``_path_sig``, or None for a missing table."""
    try:
        return _path_sig(path)
    except OSError:
        return None


def _session_state(spark: SparkSession) -> dict:
    """Per-SparkSession memo bag, stored on the (Python) session object
    so it dies with the session. Holds the conf-init flag, the derived
    AQE advisory currently applied, the DataFrame memo and the
    registered-view map. ``reads``, while a memoized query plan is
    being built (``registry._memoized``), maps each table path
    ``load_tables`` resolves to its ``_path_sig``."""
    st = getattr(spark, "_pg_datalake_state", None)
    if st is None:
        st = {
            "conf_done": False,
            "advisory_key": None,
            "par": None,
            "dfs": {},
            "views": {},
            "reads": None,
        }
        spark._pg_datalake_state = st
    return st


def _ensure_advisory(spark: SparkSession, st: dict, sf_dir: str, spread: bool) -> None:
    """Engine-owned AQE advisory partition size (r16; was bench-only
    wiring in r15 — VERDICT item 2). The stock 64 MB advisory folds
    every post-shuffle stage of a small input to 1-2 tasks,
    serializing everything downstream of every Exchange; deriving the
    advisory from the scanned bytes restores post-shuffle width for
    ANY consumer of this catalog (the driver's vanilla session
    included), and clamps back to the stock 64 MB at cluster scale.
    Runtime conf, same pattern as the NANOS conf per CLAUDE.md.

    ``spread=False`` callers (the four order-sensitive raw-double
    queries) PIN the stock 64 MB instead: their hash-match contract
    with the single-threaded oracle assumes the native post-shuffle
    plan, so the engine must not re-slice their stages."""
    from pg_datalake_spark.session import advisory_partition_bytes_for

    key = (sf_dir, spread)
    if st["advisory_key"] == key:
        return
    if spread:
        try:
            # _path_sig bytes: a directory-backed table counts its
            # files, not its directory inode
            total = sum(
                _path_sig(os.path.join(sf_dir, f))[0]
                for f in os.listdir(sf_dir)
                if f.endswith(".parquet")
            )
        except OSError:
            return
        if st["par"] is None:
            st["par"] = spark.sparkContext.defaultParallelism
        adv = advisory_partition_bytes_for(total, st["par"])
    else:
        adv = 64 * 1024 * 1024
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", str(adv))
    st["advisory_key"] = key


def reapply_advisory(spark: SparkSession, advisory_key: tuple | None) -> None:
    """Re-pin the advisory a memoized query plan was constructed under
    (registry._memoized): a memo hit skips load_tables, so without
    this the conf would stay at whatever the previously-run query set."""
    if advisory_key is None:
        return
    st = _session_state(spark)
    sf_dir, spread = advisory_key
    _ensure_advisory(spark, st, sf_dir, spread)


def load_tables(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None, spread: bool = True
) -> dict[str, DataFrame]:
    """Read each parquet table and register it as a temp view.

    Returns {name: DataFrame}. Idempotent per session; repeated calls
    return the memoized plan objects (identical plans, zero driver
    work) and skip re-registering a view that already points at the
    same DataFrame.

    ``spread=False`` skips the scan-parallelism floor: a handful of
    queries accumulate raw IEEE doubles (plain sum/avg) whose
    last-ulp value depends on partition merge order — they hash-match
    the single-threaded DuckDB oracle only over the file's native
    single-partition scan order and must keep that plan.
    """
    st = _session_state(spark)
    if not st["conf_done"]:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # the driver supplies its own session: pin the timezone here too —
        # epoch/time-of-day arithmetic casts through TimestampType, which
        # is session-tz-dependent (oracle comparisons assume UTC)
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        st["conf_done"] = True
    _ensure_advisory(spark, st, sf_dir, spread)
    if st["par"] is None:
        st["par"] = spark.sparkContext.defaultParallelism
    out: dict[str, DataFrame] = {}
    schema_of = None  # built on the first table not memoized
    for name in names if names is not None else TABLE_NAMES:
        path = table_path(sf_dir, name)
        sig = _sig_or_none(path)
        if st["reads"] is not None:
            st["reads"][path] = sig
        if spread and sig is not None:
            n_spread = _spread_partitions(spark, sig[0], sig[1], st["par"])
        else:
            n_spread = 0
        # one entry per path and spread: a rewritten file replaces it
        key = (path, n_spread)
        hit = st["dfs"].get(key)
        df = hit[1] if hit is not None and hit[0] == sig else None
        if df is None:
            schema_of = schema_of or _footer_reader(spark)
            schema = schema_of(path)
            # the reader makes every field nullable, as inference does
            reader = spark.read if schema is None else spark.read.schema(schema)
            df = reader.parquet(path)
            if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
                # TIMESTAMP(NANOS) read as long nanos → timestamp_ntz (µs)
                # floor division in exact integer arithmetic: `div`
                # truncates toward zero, which is off by one µs for
                # pre-epoch nanos; double division loses precision past
                # 2^53 ns (~104 days of epoch time)
                df = df.withColumn(
                    "ts",
                    F.timestamp_micros(
                        F.expr(
                            "CASE WHEN ts >= 0 THEN ts div 1000 "
                            "ELSE -((-ts + 999) div 1000) END"
                        )
                    ).cast("timestamp_ntz"),
                )
            if n_spread:
                df = df.repartition(n_spread)
            if sig is not None:
                st["dfs"][key] = (sig, df)
        if st["views"].get(name) is not df:
            df.createOrReplaceTempView(name)
            st["views"][name] = df
        out[name] = df
    return out
