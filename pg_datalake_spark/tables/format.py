"""LakeTable: a transactional table format on Parquet, Spark data plane.

A from-scratch, Spark-idiomatic rebuild of the reference's Iceberg
surface (the v1 runtime has no Iceberg/Delta jars, so the metadata
layer is pure Python — exactly the reference's own shape: its table
format is JSON metadata + Avro manifests managed by C code around
DuckDB-written Parquet; here it's JSON metadata managed by Python
around Spark-written Parquet).

Reference parity map:
- snapshots + atomic commit      → pg_lake_iceberg/src/iceberg/metadata_operations.c:152-410
- per-file min/max/null stats    → pg_lake_engine/src/data_file/data_file_stats.c:64-205
- stats-based file pruning       → pg_lake_table/src/fdw/data_file_pruning.c:183
- hidden partition transforms    → pg_lake_iceberg/.../partition_transform.c:425-449
  (identity/year/month/day/hour/bucket/truncate)
- MOR position deletes + 20% COW → pg_lake_table/src/fdw/writable_table.c:478-650,
  position_delete_dest.c; threshold writable_table.h:25
- metadata-only partition delete → docs/iceberg-tables.md:150-156
- time travel / snapshots()      → docs/iceberg-tables.md:700-727
- compaction / expiry (VACUUM)   → pg_lake_table/src/ddl/vacuum.c:92-99,631+

Scale design: all data-plane work (writes, delete-row identification,
MOR anti-joins, compaction rewrites) is Spark jobs over file lists;
the metadata JSON holds only file-level entries (like Iceberg
manifests), never row data. Planning reads only metadata: a write
takes each new file's rows and min/max/null stats from its parquet
footer on the driver, and a read gives Spark the schema the table
records, so neither starts a Spark job of its own. Position deletes
join on the raw (_metadata.file_path, _metadata.row_index) as a
broadcast anti-join; within ``tombstones.DRIVER_ROWS`` rows the driver
reads them with pyarrow and hands Spark one Arrow table, through the
``tombstones.hold``/``drop_positions`` that external Iceberg reads
share. A DELETE or UPDATE whose candidate files hold at most
``tombstones.DRIVER_ROWS`` rows (per the metadata) collects the
matched positions of the raw files in one job and drops those its held tombstones already delete; the
driver then picks MOR or COW per file and writes the position-delete
file itself. Past that bound the executors count the matches and
write the tombstones.
"""

from __future__ import annotations

import functools
import json
import math
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field
from decimal import Decimal
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pg_datalake_spark.session import local_frame, sql_ident, sql_literal
from pg_datalake_spark.tables import tombstones
from pg_datalake_spark.tables.commit import advance_hint, put_if_absent

COW_THRESHOLD = 0.2  # rewrite a file when >20% of its rows are deleted
TARGET_FILE_MB = 512  # compaction target (reference: writable_table.h:28)


# ---------------------------------------------------------------------------
# partition transforms (reference: partition_transform.c)
# ---------------------------------------------------------------------------


def transform_expr(col: str, transform: str, param: int | None = None) -> F.Column:
    c = F.col(col)
    if transform == "identity":
        return c
    if transform == "year":
        return F.year(c)
    if transform == "month":
        return F.year(c) * 100 + F.month(c)
    if transform == "day":
        return F.date_format(c, "yyyyMMdd").cast("int")
    if transform == "hour":
        return (F.unix_micros(c.cast("timestamp")) / F.lit(3_600_000_000)).cast("long")
    if transform == "bucket":
        return F.pmod(F.xxhash64(c), F.lit(param))
    if transform == "truncate":
        return c.substr(1, int(param)) if param else c
    raise ValueError(f"unknown transform {transform}")


@dataclass
class PartitionField:
    column: str
    transform: str = "identity"
    param: int | None = None

    @property
    def name(self) -> str:
        p = f"_{self.param}" if self.param is not None else ""
        return f"__p_{self.transform}{p}_{self.column}"


# ---------------------------------------------------------------------------
# metadata
# ---------------------------------------------------------------------------


@dataclass
class DataFile:
    path: str
    rows: int
    bytes: int
    partition: dict[str, Any] = field(default_factory=dict)
    stats: dict[str, list] = field(default_factory=dict)  # col -> [min, max, null_count]
    # field-id -> physical column name as written (schema evolution:
    # renames are metadata-only, old files keep old physical names —
    # the reference tracks the same via Iceberg field IDs,
    # field_id_mapping_catalog.c)
    colmap: dict[str, str] = field(default_factory=dict)


@dataclass
class DeleteFile:
    path: str
    rows: int
    # "position" (file_path/pos tombstones) or "equality" (key rows;
    # Iceberg v2 content=2 — reference: writable_table.c:478-650)
    content: str = "position"
    equality_columns: list[str] | None = None
    # equality deletes apply only to data files PRESENT at commit time
    # (Iceberg's strictly-lower-sequence scoping, expressed here as the
    # captured file list — metadata-sized, same as any manifest); rows
    # appended later are untouched
    applies_to: list[str] | None = None


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    timestamp_ms: int
    operation: str
    data_files: list[DataFile]
    delete_files: list[DeleteFile]


def _df_to_dict(d):  # dataclass → json-able
    if isinstance(d, (DataFile, DeleteFile, Snapshot)):
        out = dict(d.__dict__)
        for k, v in out.items():
            if isinstance(v, list) and v and isinstance(v[0], (DataFile, DeleteFile)):
                out[k] = [_df_to_dict(x) for x in v]
        return out
    return d


class LakeTable:
    """One table = <root>/data/*.parquet + <root>/deletes/*.parquet +
    <root>/metadata/v{N}.json with an atomically-swapped `current`
    pointer (the reference's catalog row update; single-table
    atomicity, as scoped in SURVEY §3.3)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        # every path the table records is spelled the way Spark reports
        # it back in ``_metadata.file_path``, so DML can match the two
        self.root = _local_path(root)

    # -- paths ------------------------------------------------------------
    @property
    def _meta_dir(self) -> str:
        return os.path.join(self.root, "metadata")

    def _meta_path(self, version: int) -> str:
        return os.path.join(self._meta_dir, f"v{version}.json")

    # -- metadata io ------------------------------------------------------
    def _load(self) -> dict:
        with open(os.path.join(self._meta_dir, "current")) as f:
            version = int(f.read().strip())
        with open(self._meta_path(version)) as f:
            meta = json.load(f)
        meta["_version"] = version
        return meta

    @staticmethod
    def current_snapshot_id_at(root: str) -> int | None:
        """Current snapshot id from the table root alone (no session) —
        what a catalog pointer pins (tables/catalog_store.py)."""
        meta_dir = os.path.join(root, "metadata")
        with open(os.path.join(meta_dir, "current")) as f:
            version = int(f.read().strip())
        with open(os.path.join(meta_dir, f"v{version}.json")) as f:
            return json.load(f).get("current_snapshot_id")

    def _commit(self, meta: dict, expected_version: int) -> None:
        """Optimistic commit: publish v{N+1}, then move `current`. A
        concurrent commit that already produced v{N+1} wins — we raise
        CommitConflictError, the caller retries on fresh metadata."""
        new_version = expected_version + 1
        meta = {k: v for k, v in meta.items() if not k.startswith("_")}
        # json.dumps runs the C encoder; json.dump streams through the
        # pure-Python one, ~5x slower on a long snapshot list
        put_if_absent(self._meta_path(new_version), json.dumps(meta, default=_df_to_dict))
        advance_hint(os.path.join(self._meta_dir, "current"), str(new_version))

    # -- DDL --------------------------------------------------------------
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        schema: T.StructType,
        partition_by: list[PartitionField] | None = None,
        row_ids: bool = False,
    ) -> "LakeTable":
        t = cls(spark, root)
        os.makedirs(t._meta_dir, exist_ok=False)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        os.makedirs(os.path.join(root, "deletes"), exist_ok=True)
        meta = {
            "table_uuid": str(uuid.uuid4()),
            "schema": json.loads(schema.json()),
            "fields": [
                {"id": i + 1, "name": f.name, "type": f.dataType.simpleString(), "default": None}
                for i, f in enumerate(schema.fields)
            ],
            "next_field_id": len(schema.fields) + 1,
            "partition_spec": [p.__dict__ for p in (partition_by or [])],
            "snapshots": [],
            "current_snapshot_id": None,
            "row_ids": row_ids,
            "next_row_id": 0,
        }
        if row_ids:
            # opt-in persistent row IDs (reference: row_ids.c:44-60 —
            # sequence-backed IDs stable across file rewrites). Stored
            # as an ordinary field so COW/compaction/merge carry it.
            meta["fields"].append(
                {"id": meta["next_field_id"], "name": "_row_id", "type": "bigint", "default": None}
            )
            meta["next_field_id"] += 1
        with open(t._meta_path(0), "w") as f:
            json.dump(meta, f)
        with open(os.path.join(t._meta_dir, "current"), "w") as f:
            f.write("0")
        return t

    # -- helpers ----------------------------------------------------------
    @property
    def schema(self) -> T.StructType:
        return self._schema_from(self._load())

    @staticmethod
    def _schema_from(meta: dict) -> T.StructType:
        return T.StructType(
            [
                T.StructField(f["name"], _parse_type(f["type"]))
                for f in meta["fields"]
            ]
        )

    def _partition_spec(self, meta: dict) -> list[PartitionField]:
        return [PartitionField(**p) for p in meta["partition_spec"]]

    def _current_snapshot(self, meta: dict) -> Snapshot | None:
        sid = meta["current_snapshot_id"]
        for s in meta["snapshots"]:
            if s["snapshot_id"] == sid:
                return _snapshot_from_dict(s)
        return None

    def _collect_file_entries(
        self, paths_root: str, spec: list[PartitionField], meta: dict
    ) -> list[DataFile]:
        """Per-file rows + min/max/null stats of the files under
        ``paths_root``, read from their parquet footers on the driver
        (the reference takes the same from DuckDB's COPY ...
        return_stats). The footer values go through each Spark type's
        own conversion, so the entries equal what a Spark min/max
        aggregation over the files returns. A column the footers cannot
        answer exactly (INT96 timestamps, FIXED_LEN_BYTE_ARRAY decimals,
        strings past the writer's stats size limit, a zero bound whose
        sign Spark's order leaves to row order, a file type that is not
        the table's) keeps that Spark aggregation, for that column
        only; a file this session's parquet writer did not write
        keeps it for every column. 0-row files are skipped."""
        # a relative path names the same files for both routes: Spark
        # would resolve it against the JVM's working directory
        paths_root = _local_path(paths_root)
        schema = self._schema_from(meta)
        colmap = {str(f["id"]): f["name"] for f in meta["fields"]}
        fields = [f for f in schema.fields if _statable(f.dataType)]
        found = self._footer_stats(paths_root, fields)
        if found is None:
            found = self._spark_stats(paths_root, schema, [f.name for f in fields])
        else:
            missing = [f.name for f in fields if any(f.name not in st for _, st in found.values())]
            if missing:
                for path, (_, st) in self._spark_stats(paths_root, schema, missing).items():
                    found[path][1].update(st)
        part_names = {p.name for p in spec}
        return [
            DataFile(
                path=path,
                rows=rows,
                bytes=os.path.getsize(path),
                partition=_partition_values_from_path(path, part_names),
                stats={f.name: st[f.name] for f in fields},
                colmap=colmap,
            )
            for path, (rows, st) in found.items()
        ]

    def _footer_stats(
        self, paths_root: str, fields: list[T.StructField]
    ) -> dict[str, tuple[int, dict]] | None:
        """``{path: (rows, {column: [min, max, nulls]})}`` from the
        footers, leaving out the columns they cannot answer exactly;
        None when some file must be aggregated by Spark as a whole."""
        import pyarrow.parquet as pq

        from pg_datalake_spark.tables.footer import column_bounds

        paths = _spark_read_files(paths_root)
        if paths is None:
            return None
        # float stats carry NaN and -0.0 the way this writer orders them
        writer = self.spark._jvm.org.apache.parquet.Version.FULL_VERSION
        found = {}
        for path in paths:
            md = pq.ParquetFile(path).metadata
            if md.created_by != writer:
                return None
            if md.num_rows == 0:
                continue
            bounds = column_bounds(md)
            stats = {}
            for f in fields:
                st = _footer_stat(f.dataType, *bounds.get(f.name, (None, None)))
                if st is not None:
                    stats[f.name] = st
            found[path] = (md.num_rows, stats)
        return found

    def _spark_stats(
        self, paths_root: str, schema: T.StructType, cols: list[str]
    ) -> dict[str, tuple[int, dict]]:
        """The footer route's result for ``cols``, from one Spark
        aggregation over the files."""
        df = self.spark.read.schema(schema).parquet(paths_root)
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for c in cols:
            aggs += [
                F.min(c).alias(f"__min_{c}"),
                F.max(c).alias(f"__max_{c}"),
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"__nulls_{c}"),
            ]
        rows = (
            df.groupBy(F.col("_metadata.file_path").alias("__path"))
            .agg(*aggs)
            .collect()
        )
        return {
            _strip_scheme(r["__path"]): (
                r["__rows"],
                {
                    c: [_jval(r[f"__min_{c}"]), _jval(r[f"__max_{c}"]), r[f"__nulls_{c}"]]
                    for c in cols
                },
            )
            for r in rows
        }

    def _new_snapshot(
        self,
        meta: dict,
        operation: str,
        data_files: list[DataFile],
        delete_files: list[DeleteFile],
    ) -> None:
        """Commit a snapshot of ``data_files``. A delete entry whose
        ``applies_to`` names no live data file is dropped: every file it
        pointed at was rewritten (with the delete applied) or removed,
        so every later scan would read and broadcast it for nothing.
        Entries without ``applies_to`` (older tables) are kept."""
        cur = self._current_snapshot(meta)
        live = {f.path for f in data_files}
        snap = Snapshot(
            snapshot_id=(cur.snapshot_id + 1) if cur else 1,
            parent_id=cur.snapshot_id if cur else None,
            timestamp_ms=int(time.time() * 1000),
            operation=operation,
            data_files=data_files,
            delete_files=[
                d
                for d in delete_files
                if d.applies_to is None or not live.isdisjoint(d.applies_to)
            ],
        )
        meta["snapshots"].append(_df_to_dict(snap))
        meta["current_snapshot_id"] = snap.snapshot_id
        self._commit(meta, meta["_version"])

    # -- writes -----------------------------------------------------------
    def _write_data(
        self,
        df: DataFrame,
        out_dir: str,
        spec: list[PartitionField],
        n_files: int | None = None,
    ) -> None:
        """Write table data honoring the hidden partition spec. EVERY
        write path (append, COW delete rewrite, MERGE rewrite/insert,
        UPDATE rewrite, compaction) must go through here: a rewrite
        that skips partitionBy writes files with partition={}, which
        are excluded from partition pruning forever after — pruning
        effectiveness would decay monotonically with DML."""
        writer = df
        if n_files:
            writer = writer.coalesce(n_files)
        if spec:
            for p in spec:
                writer = writer.withColumn(p.name, transform_expr(p.column, p.transform, p.param))
            writer.write.partitionBy(*[p.name for p in spec]).parquet(out_dir)
        else:
            writer.write.parquet(out_dir)

    def append(self, df: DataFrame) -> None:
        meta = self._load()
        spec = self._partition_spec(meta)
        out_dir = os.path.join(self.root, "data", f"w-{uuid.uuid4().hex[:12]}")
        writer = df
        if meta.get("row_ids") and "_row_id" not in df.columns:
            # monotonically_increasing_id is unique within this job;
            # offsetting by next_row_id (advanced past the previous max
            # after each append) keeps ranges disjoint across appends
            # with no global sort or driver round-trip per row.
            writer = writer.withColumn(
                "_row_id", F.monotonically_increasing_id() + F.lit(meta["next_row_id"])
            )
        self._write_data(writer, out_dir, spec)
        new_files = self._collect_file_entries(out_dir, spec, meta)
        if meta.get("row_ids"):
            maxes = [f.stats.get("_row_id", [None, None, None])[1] for f in new_files]
            hi = max((m for m in maxes if m is not None), default=-1)
            meta["next_row_id"] = max(meta["next_row_id"], int(hi) + 1)
        cur = self._current_snapshot(meta)
        self._new_snapshot(
            meta,
            "append",
            (cur.data_files if cur else []) + new_files,
            cur.delete_files if cur else [],
        )

    # -- reads ------------------------------------------------------------
    def _read_mapped(self, files: list[DataFile], meta: dict) -> DataFrame:
        """Read data files under the CURRENT schema, applying each
        file's field-id column mapping (schema evolution: files written
        before a rename keep old physical names; files written before
        an added column simply lack it → default/NULL). Each colmap
        group is read with the schema the table records — physical
        names from the colmap, types from ``meta["fields"]`` — so no
        Spark job infers one. Returns current columns + __file/__pos
        lineage."""
        groups: dict[tuple, list[DataFile]] = {}
        for f in files:
            key = tuple(sorted(f.colmap.items()))
            groups.setdefault(key, []).append(f)
        parts = []
        for key, fs in groups.items():
            colmap = dict(key)
            read = T.StructType(
                [
                    T.StructField(colmap[str(fld["id"])], _parse_type(fld["type"]))
                    for fld in meta["fields"]
                    if str(fld["id"]) in colmap
                ]
            )
            df = self.spark.read.schema(read).parquet(*[f.path for f in fs])
            cols = []
            for fld in meta["fields"]:
                phys = colmap.get(str(fld["id"]))
                if phys is not None:
                    cols.append(f"{sql_ident(phys)} AS {sql_ident(fld['name'])}")
                else:
                    default = sql_literal(fld.get("default"))
                    cols.append(f"CAST({default} AS {fld['type']}) AS {sql_ident(fld['name'])}")
            parts.append(
                df.selectExpr(
                    *cols, "_metadata.file_path AS __file", "_metadata.row_index AS __pos"
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _read_live(
        self,
        files: list[DataFile],
        meta: dict,
        snap: Snapshot,
        held: dict | None = None,
    ) -> DataFrame:
        """:meth:`_read_mapped` of ``files`` less the rows the
        snapshot's delete files remove. Within the tombstone bound the
        position tombstones are held on the driver (``held``, when the
        caller holds them already, else :meth:`_held_tombstones`) and
        broadcast as one Arrow table; past it Spark reads the delete
        files. Both join on the raw ``_metadata.file_path``."""
        df = self._read_mapped(files, meta)
        if held is None:
            held = self._held_tombstones(snap, files)
        uris = [tombstones.spark_uri(f.path) for f in files]
        dels = [d.path for d in _position_deletes(snap, files)]
        df = tombstones.drop_positions(df, uris, uris, dels, held)
        paths = {f.path for f in files}
        for d in snap.delete_files:
            cols = d.equality_columns or []
            # a delete with no captured scope deletes nothing — skip it
            if d.content != "equality" or not cols or paths.isdisjoint(d.applies_to or []):
                continue
            keys = (
                self.spark.read.schema(_written_schema(d.path))
                .parquet(d.path)
                .selectExpr(*[f"{sql_ident(c)} AS {sql_ident('__eq_' + c)}" for c in cols])
                .dropDuplicates()
            )
            # in-scope rows matching a key row (null-safe on every
            # column) are removed; rows from files appended after the
            # delete commit bypass it entirely
            scope = ", ".join(sql_literal(tombstones.spark_uri(p)) for p in d.applies_to)
            cond = " AND ".join(
                [f"__file IN ({scope})"]
                + [f"{sql_ident(c)} <=> {sql_ident('__eq_' + c)}" for c in cols]
            )
            df = df.join(F.broadcast(keys), F.expr(cond), "left_anti")
        return df

    def _held_tombstones(self, snap: Snapshot, files: list[DataFile]) -> dict | None:
        """``{data file URI: ascending deleted positions}`` for those of
        ``files`` that the snapshot's position-delete files name
        (:func:`tombstones.hold`); None past ``tombstones.DRIVER_ROWS``."""
        dels = _position_deletes(snap, files)
        return tombstones.hold(
            [tombstones.spark_uri(f.path) for f in files],
            [d.path for d in dels],
            sum(d.rows for d in dels),
        )

    def _partition_prune(
        self, files: list[DataFile], filters: list[tuple], spec: list[PartitionField]
    ) -> list[DataFile]:
        """Equality-filter pruning over hidden partition transforms
        (reference: bound constraints per transform,
        data_file_pruning.c:131-165; bucket prunes on equality only —
        docs/iceberg-tables.md:262-270). Range pruning on the source
        column is already covered by per-file min/max stats."""
        eq = {c: v for c, op, v in filters if op == "="}
        if not eq or not spec:
            return files
        types = {f["name"]: f["type"] for f in self._load()["fields"]}
        expected: dict[str, str] = {}
        for p in spec:
            if p.column not in eq:
                continue
            v = eq[p.column]
            raw = f"'{v}'" if isinstance(v, str) else repr(v)
            # cast to the column's exact type: hash transforms (bucket)
            # are type-sensitive (xxhash64(INT 42) != xxhash64(BIGINT 42))
            lit = f"CAST({raw} AS {types.get(p.column, 'STRING')})"
            row = self.spark.sql(
                f"SELECT CAST(({_transform_sql(p, lit)}) AS STRING)"
            ).first()
            expected[p.name] = row[0]
        if not expected:
            return files
        return [
            f
            for f in files
            if all(
                name not in f.partition or f.partition[name] == val
                for name, val in expected.items()
            )
        ]

    # -- schema evolution (reference: docs/iceberg-tables.md:560-616,
    #    field IDs via register_field_ids.c) ------------------------------
    def add_column(self, name: str, dtype: str, default=None) -> None:
        """ADD COLUMN with optional constant default (constants only,
        like the reference)."""
        meta = self._load()
        if any(f["name"] == name for f in meta["fields"]):
            raise ValueError(f"column {name} already exists")
        meta["fields"].append(
            {"id": meta["next_field_id"], "name": name, "type": dtype, "default": default}
        )
        meta["next_field_id"] += 1
        self._commit(meta, meta["_version"])

    def rename_column(self, old: str, new: str) -> None:
        """RENAME COLUMN — metadata-only; old files keep their physical
        names and are mapped by field id at read. Partition source
        columns cannot be renamed (the spec references them by name)."""
        meta = self._load()
        if any(p["column"] == old for p in meta["partition_spec"]):
            raise ValueError(f"cannot rename partition column {old}")
        fld = next((f for f in meta["fields"] if f["name"] == old), None)
        if fld is None:
            raise ValueError(f"no such column: {old}")
        fld["name"] = new
        self._commit(meta, meta["_version"])

    def drop_column(self, name: str) -> None:
        """DROP COLUMN — metadata-only; the physical data stays in old
        files and is simply no longer projected."""
        meta = self._load()
        if any(p["column"] == name for p in meta["partition_spec"]):
            raise ValueError(f"cannot drop partition column {name}")
        meta["fields"] = [f for f in meta["fields"] if f["name"] != name]
        self._commit(meta, meta["_version"])

    def set_partition_spec(self, partition_by: list[PartitionField]) -> None:
        """Partition evolution (reference: ALTER TABLE SET/ADD/DROP
        partition_by — alter_table.c; Iceberg partition-spec v2).
        Metadata-only: existing files keep the partition values they
        were written with (each file records its own layout), new
        appends use the new spec; pruning consults per-file values, so
        mixed layouts coexist."""
        meta = self._load()
        meta["partition_spec"] = [p.__dict__ for p in partition_by]
        self._commit(meta, meta["_version"])

    def scan(
        self,
        snapshot_id: int | None = None,
        as_of_timestamp_ms: int | None = None,
        filters: list[tuple] | None = None,
    ) -> DataFrame:
        """Read the table at a snapshot, applying MOR position deletes
        and ``filters`` = [(col, op, value), ...] as BOTH stats-based
        file pruning and a residual row predicate — the result contains
        exactly the matching rows (the predicate is re-applied to the
        surviving files; Catalyst pushes it into the parquet scan, so
        the row filter costs nothing beyond the pruned read)."""
        meta = self._load()
        snap = self._resolve_snapshot(meta, snapshot_id, as_of_timestamp_ms)
        if snap is None or not snap.data_files:
            return local_frame(self.spark, [], self._schema_from(meta))
        files = snap.data_files
        if filters:
            spec = self._partition_spec(meta)
            fields = _fields_by_name(meta)
            files = [f for f in files if not _prunable(f, filters, fields)]
            files = self._partition_prune(files, filters, spec)
        if not files:
            return local_frame(self.spark, [], self._schema_from(meta))
        df = self._read_live(files, meta, snap)
        if filters:
            df = df.filter(_filters_to_column(filters))
        return df.selectExpr(*[sql_ident(f["name"]) for f in meta["fields"]])

    def _resolve_snapshot(self, meta, snapshot_id, as_of_timestamp_ms) -> Snapshot | None:
        snaps = [_snapshot_from_dict(s) for s in meta["snapshots"]]
        if snapshot_id is not None:
            snap = next((s for s in snaps if s.snapshot_id == snapshot_id), None)
            if snap is None:
                raise ValueError(f"no such snapshot: {snapshot_id}")
            return snap
        if as_of_timestamp_ms is not None:
            eligible = [s for s in snaps if s.timestamp_ms <= as_of_timestamp_ms]
            return max(eligible, key=lambda s: s.snapshot_id) if eligible else None
        return self._current_snapshot(meta)

    # -- DML --------------------------------------------------------------
    def delete(self, predicate: str) -> dict:
        """Row-level delete with the reference's three-tier strategy:

        1. stats/partition pruning → untouched files;
        2. whole-file match (every row matches, provable from the
           partition value) → metadata-only drop (no data read);
        3. partial files → MOR position-delete file, or COW rewrite
           when >20% of the file's rows match.

        When the tier-3 files hold at most ``tombstones.DRIVER_ROWS``
        rows, and so do the delete files that apply to them, the
        matched positions of the raw files come to the driver in one
        job; the driver drops those its tombstones already delete and
        writes the position-delete file. Past it the executors count
        the matches of the tombstone-filtered files and write the
        tombstones.

        Returns {"dropped": n, "mor": n, "cow": n}.
        """
        meta = self._load()
        spec = self._partition_spec(meta)
        cur = self._current_snapshot(meta)
        if cur is None:
            return {"dropped": 0, "mor": 0, "cow": 0}

        keep_files: list[DataFile] = []
        candidates: list[DataFile] = []
        dropped = 0
        pred_filters = _parse_simple_predicate(predicate)
        fields = _fields_by_name(meta)
        part_live: set[str] | None = None
        if pred_filters is not None:
            live = self._partition_prune(cur.data_files, pred_filters, spec)
            part_live = {f.path for f in live}
        for f in cur.data_files:
            if part_live is not None and f.path not in part_live:
                keep_files.append(f)  # partition transform proves no match
                continue
            if pred_filters is not None and _prunable(f, pred_filters, fields):
                keep_files.append(f)  # no row can match → untouched
            elif pred_filters is not None and _whole_file_match(f, pred_filters, fields):
                dropped += 1  # every row matches → metadata-only drop
            else:
                candidates.append(f)

        mor = cow = 0
        new_files = list(keep_files)
        new_deletes = list(cur.delete_files)
        if candidates:
            held: dict | None = None
            tombs: dict | None = None
            if sum(f.rows for f in candidates) <= tombstones.DRIVER_ROWS and (
                (tombs := self._held_tombstones(cur, candidates)) is not None
            ):
                # within the bound the driver holds every matched position
                # of the raw files and drops the already-deleted ones, which
                # must not count and must not re-enter a COW rewrite; past
                # it the executors count and write them, and no position
                # reaches the driver
                uris = [tombstones.spark_uri(f.path) for f in candidates]
                found = tombstones._held_positions(
                    self._read_mapped(candidates, meta).filter(predicate), uris
                )
                held = {
                    f.path: tombstones.subtract(p, tombs.get(u))
                    for f, u, p in zip(candidates, uris, found)
                }
                counts = {path: len(p) for path, p in held.items()}
            else:
                matched = self._read_live(candidates, meta, cur).filter(predicate)
                counts = {
                    _strip_scheme(r["__file"]): r["n"]
                    for r in matched.groupBy("__file").agg(F.count("*").alias("n")).collect()
                }
            cow_files = [
                f for f in candidates if counts.get(f.path, 0) / f.rows > COW_THRESHOLD
            ]
            mor_files = [
                f
                for f in candidates
                if 0 < counts.get(f.path, 0) / f.rows <= COW_THRESHOLD
            ]
            untouched = [f for f in candidates if counts.get(f.path, 0) == 0]
            new_files += untouched

            if mor_files:
                mor = len(mor_files)
                if held is None:
                    new_deletes += self._executor_position_deletes(matched, mor_files)
                else:
                    new_deletes += self._driver_position_deletes(held, mor_files)
                new_files += mor_files

            if cow_files:
                cow = len(cow_files)
                rw_dir = os.path.join(self.root, "data", f"rw-{uuid.uuid4().hex[:12]}")
                # NOT(pred) is NULL for NULL-predicate rows — those rows
                # did not match the delete and must be kept
                kept = (
                    self._read_live(cow_files, meta, cur, tombs)
                    .filter(F.coalesce(F.expr(f"NOT ({predicate})"), F.lit(True)))
                    .drop("__file", "__pos")
                )
                self._write_data(kept, rw_dir, spec)
                new_files += self._collect_file_entries(rw_dir, spec, meta)

        self._new_snapshot(meta, "delete", new_files, new_deletes)
        return {"dropped": dropped, "mor": mor, "cow": cow}

    def _driver_position_deletes(
        self, held: dict, mor_files: list[DataFile]
    ) -> list[DeleteFile]:
        """One position-delete file of the held positions of
        ``mor_files``, written here with pyarrow, rows sorted by
        (file_path, pos) as the Iceberg delete-file convention asks.
        ``file_path`` is spelled as Spark reports ``_metadata.file_path``
        (``file:`` and the %-escaped path), which a scan joins it on."""
        import pyarrow.parquet as pq

        files = sorted((tombstones.spark_uri(f.path), f.path) for f in mor_files)
        table = tombstones.arrow_table([u for u, _ in files], [held[p] for _, p in files])
        path = os.path.join(self.root, "deletes", f"d-{uuid.uuid4().hex[:12]}.parquet")
        pq.write_table(table, path)
        return [
            DeleteFile(
                path=path, rows=table.num_rows, applies_to=sorted(p for _, p in files)
            )
        ]

    def _executor_position_deletes(
        self, matched: DataFrame, mor_files: list[DataFile]
    ) -> list[DeleteFile]:
        """Position-delete files of the matched rows of ``mor_files``,
        written by the executors: hash-partitioned per data file with
        (file_path, pos)-sorted rows (the Iceberg delete-file
        convention, and the same distribution as
        iceberg_external.add_position_deletes_df). A single coalesced
        task would bottleneck a wide delete at scale."""
        import pyarrow.parquet as pq

        del_dir = os.path.join(self.root, "deletes", f"d-{uuid.uuid4().hex[:12]}")
        keep_paths = {f.path for f in mor_files}
        uris = ", ".join(sql_literal(tombstones.spark_uri(p)) for p in keep_paths)
        (
            matched.filter(f"__file IN ({uris})")
            .selectExpr("__file AS file_path", "__pos AS pos")
            .repartition("file_path")
            .sortWithinPartitions("file_path", "pos")
            .write.parquet(del_dir)
        )
        out = []
        for fn in sorted(os.listdir(del_dir)):
            if fn.endswith(".parquet"):
                p = os.path.join(del_dir, fn)
                n = pq.ParquetFile(p).metadata.num_rows
                if n:
                    out.append(DeleteFile(path=p, rows=n, applies_to=sorted(keep_paths)))
        return out

    def delete_equality(self, keys: DataFrame, columns: list[str] | None = None) -> int:
        """Merge-on-read EQUALITY delete (internal-format parity with
        the external Iceberg v2 content=2 path): every current table
        row whose ``columns`` values null-safe match a row of ``keys``
        is deleted; rows appended AFTER this commit are untouched —
        the Iceberg strictly-lower-sequence scoping, expressed here by
        capturing the current data-file list. ``keys`` needs only the
        equality columns; its rows are written to parquet by the
        executors (never driver-materialized). Returns the number of
        key rows registered."""
        import pyarrow.parquet as pq

        meta = self._load()
        cur = self._current_snapshot(meta)
        if cur is None or not cur.data_files:
            return 0
        columns = columns or keys.columns
        names = {f["name"] for f in meta["fields"]}
        missing = [c for c in columns if c not in names]
        if missing:
            raise ValueError(
                f"equality columns {missing} not in table schema (have {sorted(names)})"
            )
        del_dir = os.path.join(self.root, "deletes", f"eq-{uuid.uuid4().hex[:12]}")
        keys.select(*columns).write.parquet(del_dir)
        n = sum(
            pq.ParquetFile(os.path.join(del_dir, fn)).metadata.num_rows
            for fn in os.listdir(del_dir)
            if fn.endswith(".parquet")
        )
        new_deletes = list(cur.delete_files) + [
            DeleteFile(
                path=del_dir,
                rows=n,
                content="equality",
                equality_columns=list(columns),
                applies_to=[f.path for f in cur.data_files],
            )
        ]
        self._new_snapshot(meta, "delete", list(cur.data_files), new_deletes)
        return n

    def update(self, set_exprs: dict[str, str], predicate: str) -> None:
        """UPDATE as a single atomic commit (matching the reference's
        position-delete + insert inside one transaction): files with at
        least one matching row are rewritten copy-on-write with the SET
        expressions applied in place; untouched files carry over by
        reference; ONE snapshot publishes both. A crash mid-way leaves
        the previous snapshot fully intact (the half-written rewrite
        directory is orphaned, never referenced), and concurrent
        readers never observe a state with the updated rows missing."""
        meta = self._load()
        cur = self._current_snapshot(meta)
        if cur is None or not cur.data_files:
            return
        spec = self._partition_spec(meta)
        pred_filters = _parse_simple_predicate(predicate)
        fields = _fields_by_name(meta)

        keep: list[DataFile] = []
        candidates: list[DataFile] = []
        if pred_filters is not None:
            live = {f.path for f in self._partition_prune(cur.data_files, pred_filters, spec)}
        else:
            live = {f.path for f in cur.data_files}
        for f in cur.data_files:
            if f.path not in live or (
                pred_filters is not None and _prunable(f, pred_filters, fields)
            ):
                keep.append(f)  # provably no matching row → untouched
            else:
                candidates.append(f)

        new_files = list(keep)
        if candidates:
            tombs: dict | None = None
            if sum(f.rows for f in candidates) <= tombstones.DRIVER_ROWS and (
                (tombs := self._held_tombstones(cur, candidates)) is not None
            ):
                # the probe reads the raw files and the driver drops the
                # positions its tombstones already delete; the rewrite
                # applies the same held tombstones
                uris = [tombstones.spark_uri(f.path) for f in candidates]
                found = tombstones._held_positions(
                    self._read_mapped(candidates, meta).filter(predicate), uris
                )
                hit_paths = {
                    f.path
                    for f, u, p in zip(candidates, uris, found)
                    if len(tombstones.subtract(p, tombs.get(u)))
                }
            else:
                matched = self._read_live(candidates, meta, cur).filter(predicate)
                hit_paths = {
                    _strip_scheme(r["__file"])
                    for r in matched.select("__file").distinct().collect()
                }
            new_files += [f for f in candidates if f.path not in hit_paths]
            hit = [f for f in candidates if f.path in hit_paths]
            if hit:
                rows = self._read_live(hit, meta, cur, tombs)
                # NULL predicate rows did not match → keep original values
                cols = [
                    f"CASE WHEN coalesce(({predicate}), false) THEN ({set_exprs[c]}) "
                    f"ELSE {sql_ident(c)} END AS {sql_ident(c)}"
                    if c in set_exprs
                    else sql_ident(c)
                    for c in (fld["name"] for fld in meta["fields"])
                ]
                rw_dir = os.path.join(self.root, "data", f"u-{uuid.uuid4().hex[:12]}")
                self._write_data(rows.selectExpr(*cols), rw_dir, spec)
                new_files += self._collect_file_entries(rw_dir, spec, meta)
        # entries for carried-over files still apply; _new_snapshot
        # drops those that pointed only at rewritten files
        self._new_snapshot(meta, "update", new_files, cur.delete_files)

    def merge(
        self,
        source: DataFrame,
        on: str | list[str],
        when_matched_update: dict[str, str] | None = None,
        when_matched_delete: bool = False,
        when_not_matched_insert: bool = True,
    ) -> dict:
        """MERGE INTO (exceeds the reference, which rejects MERGE on
        Iceberg tables — docs/iceberg-tables.md:540-548; Spark-side it
        is the natural CDC/SCD primitive).

        COW strategy: only files containing matched keys are rewritten;
        untouched files carry over by reference; unmatched source rows
        are appended. Update expressions may reference source columns
        as ``src.<col>`` and target columns as ``tgt.<col>``. One probe
        query checks the source keys, finds the files to rewrite and
        counts the rows to insert; one write then produces the
        rewritten and the inserted rows together.

        Returns {"rewritten_files": target files rewritten,
        "inserted_rows": n}.
        """
        meta = self._load()
        cur = self._current_snapshot(meta)
        spec = self._partition_spec(meta)
        keys = [on] if isinstance(on, str) else list(on)
        files = list(cur.data_files) if cur else []
        types = _field_types(meta)

        def key_cond(left: str, right: str) -> F.Column:
            cond = F.lit(True)
            for k in keys:
                cond = cond & (F.col(f"{left}.{k}") == F.col(f"{right}.{k}"))
            return cond

        # the probe: each source key's row count, joined to the target
        # rows it matches. A source with duplicate join keys would
        # silently multiply matched target rows through the rewrite
        # join — standard MERGE semantics (SQL:2003, Spark, Iceberg)
        # reject multiple matches.
        per_key = source.groupBy(*keys).agg(F.count(F.lit(1)).alias("__n")).alias("src")
        if files:
            tgt = self._read_live(files, meta, cur).alias("tgt")
            probe = per_key.join(tgt, key_cond("src", "tgt"), "left").select(
                "src.__n", "tgt.__file"
            )
        else:
            probe = per_key.select("__n", F.lit(None).cast("string").alias("__file"))
        max_n, hit_paths, unmatched = probe.agg(
            F.max("__n"),
            F.collect_set("__file"),
            F.sum(F.when(F.col("__file").isNull(), F.col("__n")).otherwise(0)),
        ).first()
        if max_n is not None and max_n > 1:
            raise ValueError(
                f"MERGE source has duplicate join keys on {keys}; "
                "deduplicate or pre-aggregate the source first"
            )
        hit_paths = {_strip_scheme(p) for p in hit_paths}
        hit = [f for f in files if f.path in hit_paths]
        rewrite = bool(hit) and bool(when_matched_update or when_matched_delete)
        n_inserted = int(unmatched or 0) if when_not_matched_insert else 0

        src = source.withColumn("__s", F.lit(True)).alias("src")
        new_ids = meta.get("row_ids") and "_row_id" not in source.columns

        def inserted(c: str) -> F.Column:
            if c == "_row_id" and new_ids:
                return F.monotonically_increasing_id() + F.lit(meta["next_row_id"])
            if c in source.columns:
                return F.col(f"src.{c}")
            return F.lit(None).cast(types[c])

        out = None
        if rewrite:
            rows = (
                self._read_live(hit, meta, cur)
                .drop("__file", "__pos")
                .withColumn("__t", F.lit(True))
                .alias("tgt")
            )
            joined = rows.join(src, key_cond("tgt", "src"), "full" if n_inserted else "left")
            is_tgt = F.col("tgt.__t").isNotNull()
            matched = is_tgt & F.col("src.__s").isNotNull()
            if when_matched_delete:
                joined = joined.filter(~matched)
            cols = []
            for c in types:
                v = F.col(f"tgt.{c}")
                if not when_matched_delete and when_matched_update and c in when_matched_update:
                    v = F.when(matched, F.expr(when_matched_update[c])).otherwise(v)
                if n_inserted:
                    v = F.when(is_tgt, v).otherwise(inserted(c))
                cols.append(v.alias(c))
            out = joined.select(*cols)
        elif n_inserted:
            # only rows of the hit files can match a source key
            if hit:
                hit_keys = self._read_live(hit, meta, cur).alias("tgt")
                src = src.join(hit_keys, key_cond("src", "tgt"), "left_anti")
            out = src.select(*[inserted(c).alias(c) for c in types])

        written: list[DataFile] = []
        if out is not None:
            out_dir = os.path.join(self.root, "data", f"m-{uuid.uuid4().hex[:12]}")
            self._write_data(out, out_dir, spec)
            written = self._collect_file_entries(out_dir, spec, meta)
        if meta.get("row_ids") and n_inserted:
            maxes = [f.stats.get("_row_id", [None, None, None])[1] for f in written]
            hi = max((m for m in maxes if m is not None), default=-1)
            meta["next_row_id"] = max(meta["next_row_id"], int(hi) + 1)
        keep = [f for f in files if f.path not in hit_paths] if rewrite else files
        # MOR delete files from prior snapshots still apply to files
        # carried over by reference (rewritten files had them applied
        # during the rewrite; _new_snapshot drops their stale entries).
        self._new_snapshot(
            meta, "merge", keep + written, cur.delete_files if cur else []
        )
        return {
            "rewritten_files": len(hit) if rewrite else 0,
            "inserted_rows": n_inserted,
        }

    def truncate(self) -> None:
        """TRUNCATE: metadata-only — a new empty snapshot; history stays
        time-travelable until expire_snapshots (reference:
        postgresExecForeignTruncate, pg_lake_table.c:413-415)."""
        meta = self._load()
        self._new_snapshot(meta, "truncate", [], [])

    def add_files(self, paths: list[str]) -> int:
        """Register existing parquet files into the table without
        rewriting them (reference: add_files_to_table.c /
        test_iceberg_add_table.py; Iceberg's add_files procedure).
        Files must match the table schema; a table column a file lacks
        reads as the column's default."""
        import pyarrow.parquet as pq

        meta = self._load()
        spec = self._partition_spec(meta)
        cur = self._current_snapshot(meta)
        entries: list[DataFile] = []
        for p in paths:
            entries += self._collect_file_entries(p, spec, meta)
        for e in entries:
            # the colmap names only the columns the file holds, so
            # _read_mapped reads the others as their default, and no
            # stats claim they are all NULL
            names = set(pq.read_schema(e.path).names)
            if not names.issuperset(e.colmap.values()):
                e.colmap = {i: c for i, c in e.colmap.items() if c in names}
                e.stats = {c: st for c, st in e.stats.items() if c in names}
        self._new_snapshot(
            meta,
            "add_files",
            (cur.data_files if cur else []) + entries,
            cur.delete_files if cur else [],
        )
        return len(entries)

    # -- maintenance (VACUUM analog) --------------------------------------
    def compact(
        self,
        target_file_mb: int = TARGET_FILE_MB,
        min_input_files: int = 2,
        cluster_by: list[str] | None = None,
    ) -> int:
        """Merge small data files up to the target size and apply
        pending position deletes (reference: vacuum.c compaction).

        With ``cluster_by``, the WHOLE table is rewritten range-
        partitioned on those columns (one disjoint value range per
        output file, rows sorted within) — afterwards a filter on the
        cluster key prunes ~(1 - selectivity) of the files from the
        manifest stats alone, the Z-order-lite layout maintenance every
        large table needs once append order stops matching query order.
        """
        meta = self._load()
        cur = self._current_snapshot(meta)
        if cur is None:
            return 0
        if cluster_by:
            missing = [c for c in cluster_by if c not in {f["name"] for f in meta["fields"]}]
            if missing:
                raise ValueError(f"cluster columns {missing} not in schema")
            inputs = list(cur.data_files)
            if not inputs:
                return 0
            df = self._read_live(inputs, meta, cur)
            total_bytes = sum(f.bytes for f in inputs)
            n_out = max(2, int(total_bytes / (target_file_mb * 1024 * 1024)))
            rw_dir = os.path.join(self.root, "data", f"z-{uuid.uuid4().hex[:12]}")
            spec = self._partition_spec(meta)
            clustered = (
                df.select(*[f["name"] for f in meta["fields"]])
                .repartitionByRange(n_out, *cluster_by)
                .sortWithinPartitions(*cluster_by)
            )
            self._write_data(clustered, rw_dir, spec)
            new_files = self._collect_file_entries(rw_dir, spec, meta)
            self._new_snapshot(meta, "cluster", new_files, [])
            return len(inputs)
        small = [f for f in cur.data_files if f.bytes < target_file_mb * 1024 * 1024 / 2]
        if len(small) < min_input_files:
            return 0
        big = [f for f in cur.data_files if f not in small]
        rw_dir = os.path.join(self.root, "data", f"c-{uuid.uuid4().hex[:12]}")
        df = self._read_live(small, meta, cur)
        total_bytes = sum(f.bytes for f in small)
        n_out = max(1, int(total_bytes / (target_file_mb * 1024 * 1024)))
        spec = self._partition_spec(meta)
        self._write_data(
            df.select(*[f["name"] for f in meta["fields"]]), rw_dir, spec, n_files=n_out
        )
        new_files = big + self._collect_file_entries(rw_dir, spec, meta)
        # deletes for surviving big files must be retained; _new_snapshot
        # drops those that pointed only at compacted files. An entry
        # without applies_to is kept iff any big file remains
        # (conservative), else dropped with the rest.
        self._new_snapshot(meta, "compact", new_files, cur.delete_files if big else [])
        return len(small)

    def expire_snapshots(self, keep_last: int = 1) -> list[str]:
        """Drop all but the newest ``keep_last`` snapshots and delete
        data/delete files referenced only by expired ones (reference:
        10-day retention + deletion queue; here immediate physical
        delete, retention is the caller's policy)."""
        meta = self._load()
        snaps = sorted(meta["snapshots"], key=lambda s: s["snapshot_id"])
        if len(snaps) <= keep_last:
            return []
        keep = snaps[-keep_last:]
        live: set[str] = set()
        for s in keep:
            for f in s["data_files"]:
                live.add(f["path"])
            for d in s["delete_files"]:
                live.add(d["path"])
        orphans = []
        for s in snaps[:-keep_last]:
            for f in s["data_files"] + s["delete_files"]:
                if f["path"] not in live and os.path.exists(f["path"]):
                    orphans.append(f["path"])
        for p in set(orphans):
            # equality-delete entries point at a directory of key files
            if os.path.isdir(p):
                shutil.rmtree(p)
            else:
                os.remove(p)
        meta["snapshots"] = keep
        self._commit(meta, meta["_version"])
        return sorted(set(orphans))

    # -- introspection ----------------------------------------------------
    def snapshots(self) -> DataFrame:
        meta = self._load()
        rows = [
            (
                s["snapshot_id"],
                s["parent_id"],
                s["timestamp_ms"],
                s["operation"],
                len(s["data_files"]),
                len(s["delete_files"]),
                int(sum(f["rows"] for f in s["data_files"])),
            )
            for s in meta["snapshots"]
        ]
        return local_frame(
            self.spark,
            rows,
            "snapshot_id long, parent_id long, timestamp_ms long, operation string, "
            "n_data_files int, n_delete_files int, total_rows long",
        )

    def files(self) -> DataFrame:
        meta = self._load()
        cur = self._current_snapshot(meta)
        rows = [
            (f.path, f.rows, f.bytes, json.dumps(f.partition, default=str))
            for f in (cur.data_files if cur else [])
        ]
        return local_frame(
            self.spark,
            rows, "path string, rows long, bytes long, partition string"
        )

    def export_iceberg(
        self, location: str, partition_by: list[str] | None = None
    ) -> int:
        """Export the table's CURRENT state (MOR deletes applied) as a
        standalone Apache Iceberg v2 table at ``location`` — the
        LakeTable → external-engine crosswalk (reference: Spark reading
        pg_lake-written tables, test_iceberg_metadata_via_spark.py).
        Returns the Iceberg snapshot id."""
        from pg_datalake_spark.tables.iceberg_external import export_iceberg_snapshot

        return export_iceberg_snapshot(
            self.scan(), location, partition_by=partition_by
        )

    def scan_stats(self, filters: list[tuple] | None = None) -> dict:
        """EXPLAIN-style scan accounting: how many data files a scan
        with these filters would read vs skip (reference: EXPLAIN shows
        `Data Files Scanned` / `Data Files Skipped` —
        query_pushdown.c:1688, docs/iceberg-tables.md:327-420)."""
        meta = self._load()
        cur = self._current_snapshot(meta)
        if cur is None:
            return {"files_total": 0, "files_scanned": 0, "files_skipped": 0}
        total = len(cur.data_files)
        files = cur.data_files
        if filters:
            spec = self._partition_spec(meta)
            fields = _fields_by_name(meta)
            files = [f for f in files if not _prunable(f, filters, fields)]
            files = self._partition_prune(files, filters, spec)
        return {
            "files_total": total,
            "files_scanned": len(files),
            "files_skipped": total - len(files),
        }

    def changelog(self, from_snapshot: int, to_snapshot: int) -> DataFrame:
        """Rows added minus rows removed between two snapshots, labeled
        with a _change_type column (reference verifies the same via
        Spark's create_changelog_view — test_iceberg_changelog.py)."""
        before = self.scan(snapshot_id=from_snapshot)
        after = self.scan(snapshot_id=to_snapshot)
        inserted = after.exceptAll(before).withColumn("_change_type", F.lit("insert"))
        deleted = before.exceptAll(after).withColumn("_change_type", F.lit("delete"))
        return inserted.unionByName(deleted)


# ---------------------------------------------------------------------------
# stats / pruning helpers
# ---------------------------------------------------------------------------


def _position_deletes(snap: Snapshot, files: list[DataFile]) -> list[DeleteFile]:
    """The snapshot's position-delete files that may name a row of
    ``files``: those whose ``applies_to`` lists one of them, and those
    of older tables, which record no ``applies_to``."""
    paths = {f.path for f in files}
    return [
        d
        for d in snap.delete_files
        if d.content == "position"
        and (d.applies_to is None or not paths.isdisjoint(d.applies_to))
    ]


def _transform_sql(p: PartitionField, lit: str) -> str:
    if p.transform == "identity":
        return lit
    if p.transform == "year":
        return f"year({lit})"
    if p.transform == "month":
        return f"year({lit}) * 100 + month({lit})"
    if p.transform == "day":
        return f"CAST(date_format({lit}, 'yyyyMMdd') AS INT)"
    if p.transform == "hour":
        return f"CAST(unix_micros(CAST({lit} AS TIMESTAMP)) / 3600000000 AS LONG)"
    if p.transform == "bucket":
        return f"pmod(xxhash64({lit}), {p.param})"
    if p.transform == "truncate":
        return f"substr({lit}, 1, {p.param})"
    raise ValueError(p.transform)


@functools.lru_cache(maxsize=1024)
def _parse_type(simple: str) -> T.DataType:
    """The type a field's recorded type string names. The JVM's DDL
    parser does the work, a round trip per call, and every read and
    write parses each field, so the results are kept (``lru_cache`` is
    safe across threads; callers must not mutate the returned type)."""
    from pyspark.sql.types import _parse_datatype_string

    return _parse_datatype_string(simple)


def _strip_scheme(p: str) -> str:
    """The local path of a Spark file URI such as ``_metadata.file_path``
    (``file:`` + the %-escaped path); a plain path is returned as is."""
    from urllib.parse import unquote, urlparse

    return unquote(urlparse(p).path) if p.startswith("file:") else p


def _local_path(p: str) -> str:
    """``p`` absolute and normalised as Spark reports it: no ``.`` or
    ``..`` segment and one leading slash (``os.path.abspath`` keeps the
    two that POSIX allows; Hadoop would read them as a host)."""
    p = os.path.abspath(p)
    return "/" + p.lstrip("/") if p.startswith("//") else p


def _statable(dt: T.DataType) -> bool:
    return isinstance(
        dt,
        (
            T.NumericType,
            T.StringType,
            T.DateType,
            T.TimestampType,
            T.TimestampNTZType,
            T.BooleanType,
        ),
    )


def _jval(v):
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        # SQL-literal style ("YYYY-MM-DD HH:MM:SS"): stats are compared
        # lexicographically against predicate strings, and isoformat's
        # 'T' separator breaks that ordering
        return v.isoformat(sep=" ")
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, Decimal):
        return str(v)  # exact; _cmp_bounds reads it back by the column type
    return v


def _written_schema(root: str) -> T.StructType:
    """The Spark schema a Spark write under ``root`` recorded in its
    parquet footers (the key Spark's parquet writer always sets)."""
    import pyarrow.parquet as pq

    path = _spark_read_files(root)[0]
    row_meta = pq.read_schema(path).metadata[b"org.apache.spark.sql.parquet.row.metadata"]
    return T.StructType.fromJson(json.loads(row_meta))


def _spark_read_files(root: str) -> list[str] | None:
    """The files ``spark.read.parquet(root)`` reads (its hidden-name
    rule), or None when ``root`` does not exist or one of them is not a
    ``.parquet`` file."""
    if os.path.isfile(root):
        return [root]
    if not os.path.isdir(root):
        return None
    out = []
    for d, dirs, names in os.walk(root):
        dirs[:] = [n for n in dirs if not _hidden(n)]
        for n in names:
            if _hidden(n):
                continue
            if not n.endswith(".parquet"):
                return None
            out.append(os.path.join(d, n))
    return sorted(out)


def _hidden(name: str) -> bool:
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


_INT_BITS = {T.ByteType: 8, T.ShortType: 16, T.IntegerType: 32, T.LongType: 64}


def _footer_decoder(dt: T.DataType, col):
    """raw footer value → the value Spark's min/max returns for ``dt``,
    or None when the column is not stored the way Spark stores ``dt``
    with exact footer stats."""
    phys = col.physical_type
    logical = json.loads(col.logical_type.to_json())
    kind = logical["Type"]
    bits = _INT_BITS.get(type(dt))
    if bits is not None:
        plain = kind == "None" and bits in (32, 64)
        annotated = kind == "Int" and logical["bitWidth"] == bits and logical["isSigned"]
        ok = phys == ("INT64" if bits == 64 else "INT32") and (plain or annotated)
        return int if ok else None
    if isinstance(dt, (T.BooleanType, T.FloatType, T.DoubleType)):
        want = {T.BooleanType: "BOOLEAN", T.FloatType: "FLOAT", T.DoubleType: "DOUBLE"}
        return (lambda v: v) if phys == want[type(dt)] and kind == "None" else None
    if isinstance(dt, T.StringType):
        ok = phys == "BYTE_ARRAY" and kind == "String"
        return (lambda v: v.decode("utf-8")) if ok else None
    if isinstance(dt, T.DateType):
        return dt.fromInternal if phys == "INT32" and kind == "Date" else None
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        ok = (
            phys == "INT64"
            and kind == "Timestamp"
            and logical["timeUnit"] == "microseconds"
            and logical["isAdjustedToUTC"] == isinstance(dt, T.TimestampType)
        )
        return dt.fromInternal if ok else None
    if isinstance(dt, T.DecimalType):
        ok = (
            phys in ("INT32", "INT64")
            and kind == "Decimal"
            and (logical["precision"], logical["scale"]) == (dt.precision, dt.scale)
        )
        return (lambda v: Decimal(v).scaleb(-dt.scale)) if ok else None
    return None


def _footer_stat(dt: T.DataType, col, bounds) -> list | None:
    """[min, max, null_count] as the Spark aggregation stores them, from
    one column's footer bounds; None when the footer has no exact
    answer."""
    if bounds is None:
        return None
    decode = _footer_decoder(dt, col)
    if decode is None:
        return None
    lo, hi, nulls = bounds
    # Spark's min/max treat -0.0 and 0.0 as equal and keep whichever
    # comes first; the footer orders -0.0 below 0.0. A zero bound is
    # exact only when the other zero cannot be in the file.
    if _is_zero(lo, -1.0) and not _is_zero(hi, -1.0):
        return None
    if _is_zero(hi, 1.0) and not _is_zero(lo, 1.0):
        return None
    if lo is None:
        return [None, None, nulls]
    return [_jval(decode(lo)), _jval(decode(hi)), nulls]


def _is_zero(v, sign: float) -> bool:
    return isinstance(v, float) and v == 0.0 and math.copysign(1.0, v) == sign


def _snapshot_from_dict(s: dict) -> Snapshot:
    return Snapshot(
        snapshot_id=s["snapshot_id"],
        parent_id=s["parent_id"],
        timestamp_ms=s["timestamp_ms"],
        operation=s["operation"],
        data_files=[DataFile(**f) for f in s["data_files"]],
        delete_files=[DeleteFile(**d) for d in s["delete_files"]],
    )


def _partition_values_from_path(path: str, part_names: set[str]) -> dict:
    from urllib.parse import unquote

    out = {}
    for seg in path.split(os.sep):
        if "=" in seg:
            k, v = seg.split("=", 1)
            if k in part_names:
                out[k] = unquote(v)  # Hive %-escapes special chars
    return out


def _parse_simple_predicate(predicate: str) -> list[tuple] | None:
    """Parse 'col OP literal [AND ...]' into [(col, op, value)] for
    stats pruning; returns None for anything more complex (then every
    candidate file is scanned — correct, just unpruned)."""
    import re

    parts = re.split(r"(?i)\s+AND\s+", predicate.strip())
    out = []
    for p in parts:
        m = re.match(r"^\s*(\w+)\s*(<=|>=|<|>|=|==)\s*('?[^']*'?|[-\d.]+)\s*$", p)
        if not m:
            return None
        col, op, raw = m.group(1), m.group(2), m.group(3).strip()
        value: Any
        if raw.startswith("'"):
            value = raw.strip("'")
        else:
            try:
                value = float(raw) if "." in raw else int(raw)
            except ValueError:
                return None  # bare identifier/boolean → full scan
            if isinstance(value, float) and Decimal(repr(value)) != Decimal(raw):
                return None  # a double cannot hold it: no exact decimal bound
        out.append((col, "=" if op == "==" else op, value))
    return out


def _cmp_bounds(f: DataFile, fld: dict | None, op: str, value) -> tuple[bool, bool]:
    """(can_match, all_match) for one clause on table field ``fld``
    against file stats. all_match is only provable when the file has no
    NULLs in the column (a NULL row never matches any comparison
    predicate). Stats are keyed by the name the file was written with,
    so the field is found by id through the file's colmap: after a
    rename (and an added column taking the old name) the old name's
    stats belong to another field. A field the colmap lacks has no
    stats. Decimal stats are stored as exact strings."""
    st = f.stats.get(f.colmap.get(str(fld["id"]))) if fld else None
    if st is None:
        return True, False
    dtype = fld["type"]
    lo, hi, nulls = st
    if lo is None or hi is None:
        return True, False
    if any(isinstance(v, float) and math.isnan(v) for v in (lo, hi, value)):
        return True, False  # Spark orders NaN above every number: NaN bounds nothing
    if nulls and nulls > 0:
        no_nulls = False
    else:
        no_nulls = True
    if dtype.startswith("decimal"):
        if isinstance(value, bool) or not isinstance(value, (int, float, Decimal)):
            return True, False
        # a float literal as written (repr), not its binary expansion
        value = Decimal(repr(value) if isinstance(value, float) else value)
        lo, hi = Decimal(lo), Decimal(hi)
    if isinstance(value, (int, float)) and isinstance(lo, str):
        return True, False
    try:
        if op == "=":
            return (lo <= value <= hi), (lo == value == hi) and no_nulls
        if op == "<":
            return lo < value, (hi < value) and no_nulls
        if op == "<=":
            return lo <= value, (hi <= value) and no_nulls
        if op == ">":
            return hi > value, (lo > value) and no_nulls
        if op == ">=":
            return hi >= value, (lo >= value) and no_nulls
    except TypeError:
        return True, False
    return True, False


def _filters_to_column(filters: list[tuple]) -> F.Column:
    """[(col, op, value)] → a Column predicate (residual row filter
    matching the pruning semantics of _cmp_bounds)."""
    cond = F.lit(True)
    for col, op, value in filters:
        c = F.col(col)
        v = F.lit(value)
        if op in ("=", "=="):
            cond = cond & (c == v)
        elif op == "<":
            cond = cond & (c < v)
        elif op == "<=":
            cond = cond & (c <= v)
        elif op == ">":
            cond = cond & (c > v)
        elif op == ">=":
            cond = cond & (c >= v)
        else:
            raise ValueError(f"unsupported filter op: {op}")
    return cond


def _field_types(meta: dict) -> dict[str, str]:
    return {f["name"]: f["type"] for f in meta["fields"]}


def _fields_by_name(meta: dict) -> dict[str, dict]:
    return {f["name"]: f for f in meta["fields"]}


def _prunable(f: DataFile, filters: list[tuple], fields: dict[str, dict]) -> bool:
    """True if NO row of the file can match all clauses (skip the file).
    Mirrors the reference's bound-constraint evaluation
    (data_file_pruning.c:111-165). ``fields`` maps the table's column
    names to their fields (:func:`_fields_by_name`)."""
    for col, op, value in filters:
        can_match, _ = _cmp_bounds(f, fields.get(col), op, value)
        if not can_match:
            return True
    return False


def _whole_file_match(f: DataFile, filters: list[tuple], fields: dict[str, dict]) -> bool:
    """True if EVERY row of the file provably matches all clauses —
    enables the metadata-only delete fast path."""
    for col, op, value in filters:
        _, all_match = _cmp_bounds(f, fields.get(col), op, value)
        if not all_match:
            return False
    return True
