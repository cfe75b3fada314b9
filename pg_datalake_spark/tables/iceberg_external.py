"""External Apache Iceberg table interop (pure-Python metadata layer).

The reference engine reads and writes real Iceberg metadata so other
engines (Spark, pyiceberg, DuckDB) can share its tables — behavioral
reference: the public pg_lake docs' Iceberg interop surface and its
tests that read pg_lake-written tables from Spark. This runtime has
no Iceberg jars and no network, so the metadata layer is pure Python
(KB-scale, driver-side) while the data files stay parquet and are
scanned by Spark with full pushdown:

- :func:`read_iceberg_table` — parse ``v*.metadata.json`` → snapshot
  → manifest list (Avro) → manifests (Avro) → data-file list →
  ``spark.read.parquet``. Pinned reads by ``snapshot_id`` (VERSION AS
  OF) or ``as_of_timestamp_ms`` (TIMESTAMP AS OF); merge-on-read
  position AND equality deletes with v2 sequence-number scoping;
  ``filters=`` prunes files from manifest bounds and identity-
  partition values before Spark sees a path (:func:`plan_scan` shows
  the kept/skipped accounting); identity-partition columns restored
  from manifests, current-schema projection for evolved tables.
- :func:`export_iceberg_snapshot` — write a DataFrame as an Iceberg
  v2 table (parquet data + Avro manifests with per-column null counts
  and spec-serialized bounds + metadata.json + version-hint),
  optionally identity-partitioned.
- :func:`append_snapshot` / :func:`overwrite_snapshot` /
  :func:`add_position_deletes` / :func:`add_equality_deletes` /
  :func:`update_where` / :func:`delete_where` — follow-up commits
  (every prior snapshot stays pinned-readable), published by
  ``tables/commit.py``; a lost race raises :class:`CommitConflictError`.
- maintenance/evolution: :func:`expire_snapshots` (orphan cleanup),
  :func:`rollback_to_snapshot`, :func:`evolve_add_column` /
  :func:`evolve_drop_column`, :func:`iceberg_changelog`, and the
  ``lake_iceberg.*`` introspection analogs.

Scale notes: metadata parsing is O(files) driver-side — same as any
Iceberg client; the scan itself is a plain distributed parquet read,
so predicate pushdown / column pruning / AQE all apply unchanged.
"""

from __future__ import annotations

import json
import math
import os
import re
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pg_datalake_spark.session import local_frame
from pg_datalake_spark.tables import tombstones
from pg_datalake_spark.tables.avro_codec import read_avro, write_avro
# CommitConflictError stays importable from here (rest_catalog, streaming)
from pg_datalake_spark.tables.commit import CommitConflictError, advance_hint, put_if_absent
from pg_datalake_spark.tables.delta_log import _norm_location


def _write_version_file(meta_dir: str, version: int, meta: dict) -> None:
    """Publish the new metadata version, then advance the hint. If a
    concurrent writer claimed the version first, raise
    :class:`CommitConflictError` instead of clobbering."""
    # "_"-prefixed keys are in-memory bookkeeping (e.g. _loaded-version,
    # the optimistic-concurrency base) — never persisted
    persisted = {k: v for k, v in meta.items() if not k.startswith("_")}
    put_if_absent(
        os.path.join(meta_dir, f"v{version}.metadata.json"),
        json.dumps(persisted, indent=2),
    )
    advance_hint(os.path.join(meta_dir, "version-hint.text"), str(version))
    # Advance the optimistic-concurrency base in place: a second commit
    # from the same in-memory state must claim the NEXT slot, not re-claim
    # this one (which would spuriously lose the put-if-absent).
    meta["_loaded-version"] = version


def _commit_version_slot(meta_dir: str, meta: dict) -> int:
    """The metadata version slot this commit must claim: the version
    the state was LOADED at, plus one. Re-reading version-hint.text
    here instead would re-base a stale writer onto the current tip —
    its put-if-absent then targets a FRESH slot, succeeds, and
    silently drops the concurrent winner's commit (lost update). The
    publish at ``_write_version_file`` is only a CAS when every writer
    computes the slot from its own read snapshot."""
    v = meta.get("_loaded-version")
    if v is None:  # metadata file with no parseable version in its name
        with open(os.path.join(meta_dir, "version-hint.text")) as fh:
            v = int(fh.read().strip())
    return int(v) + 1


def _local(path: str) -> str:
    """Normalize any local file URI form to a plain path: ``file:/p``,
    ``file://p`` and ``file:///p`` all → ``/p`` (Spark's ``_metadata``
    reports ``file:/p``, manifests store ``file://p``). A scheme-less
    path is made absolute (:func:`_norm_location`) so Spark and the
    driver resolve it alike. Other schemes pass through for Spark."""
    if path.startswith("file:"):
        return "/" + path[len("file:"):].lstrip("/")
    return _norm_location(path)


# ---------------------------------------------------------------------------
# read half
# ---------------------------------------------------------------------------


def load_table_metadata(location: str, metadata_file: str | None = None) -> dict:
    """Parse the table's current (or given) ``*.metadata.json``."""
    meta_dir = os.path.join(_local(location), "metadata")
    if metadata_file is None:
        hint = os.path.join(meta_dir, "version-hint.text")
        v = None
        if os.path.exists(hint):
            with open(hint) as fh:
                v = fh.read().strip()
        if v:
            metadata_file = os.path.join(meta_dir, f"v{v}.metadata.json")
        else:
            # no hint, or a torn/empty hint read raced with a writer on
            # a filesystem without atomic replace — fall back to the
            # newest metadata file by numeric version (r16)
            # sort by the NUMERIC version embedded in the filename
            # (v9 < v10; lexicographic sort would pick v9) — handles
            # both v{N}.metadata.json and {NNNNN}-{uuid}.metadata.json
            candidates = [
                f for f in os.listdir(meta_dir) if f.endswith(".metadata.json")
            ]
            if not candidates:
                raise FileNotFoundError(f"no *.metadata.json under {meta_dir}")
            def _version(f: str) -> int:
                m = re.match(r"^v?(\d+)", f)
                return int(m.group(1)) if m else -1
            candidates.sort(key=lambda f: (_version(f), f))
            metadata_file = os.path.join(meta_dir, candidates[-1])
    with open(_local(metadata_file)) as fh:
        meta = json.load(fh)
    # record the version this state was LOADED at (in-memory only,
    # stripped on write): commits claim exactly _loaded-version + 1,
    # which is what makes the version-file put-if-absent a real CAS
    m = re.match(r"^v?(\d+)", os.path.basename(_local(metadata_file)))
    if m:
        meta["_loaded-version"] = int(m.group(1))
    # the actual file this state was loaded from (in-memory only) —
    # lets copy-on-write verbs re-read the exact same version even
    # when the filename is not the v{N}.metadata.json convention
    meta["_metadata-file"] = _local(metadata_file)
    return meta


def current_schema(meta: dict) -> dict:
    """Resolve the table's current Iceberg schema struct.

    The ``schemas`` list is NOT positionally indexed by schema-id:
    genuinely external writers may register ids in any order, and v1
    metadata may carry only a top-level ``schema`` key (Iceberg spec,
    table metadata v1→v2 migration). Resolve by id with a v1 fallback."""
    schemas = meta.get("schemas")
    if schemas:
        sid = meta.get("current-schema-id")
        for s in schemas:
            if s.get("schema-id") == sid:
                return s
        if sid is None and len(schemas) == 1:
            return schemas[0]
        raise KeyError(f"current-schema-id {sid!r} not found in schemas list")
    if "schema" in meta:
        return meta["schema"]
    raise KeyError("table metadata has neither 'schemas' nor 'schema'")


def _live_entries(
    location: str,
    snapshot_id: int | None = None,
    metadata_file: str | None = None,
    spark: SparkSession | None = None,
) -> list[dict]:
    """All non-DELETED manifest entries' ``data_file`` records for a
    snapshot (data files AND delete files, with content codes)."""
    return [
        d
        for d, _ in _live_entries_with_seq(
            location, snapshot_id, metadata_file, spark=spark
        )
    ]


# Manifest chains whose avro bytes exceed this decode on the EXECUTORS
# (one task per manifest group) instead of serially in driver Python —
# the same 4 MiB byte rule as the Delta reader's _TAIL_DRIVER_BYTES
# (delta_log.py), where a checkpoint plus JSON tail within it replays
# on the driver and a larger log in Spark: the live-entry list itself must
# exist driver-side (it IS the scan plan, like the reference's
# snapshot.c planner), but a multi-million-entry chain decoded at
# pure-Python speed on one core is minutes of driver wall the
# executors absorb in parallel. Tests pin the threshold to 0 to force
# the distributed path.
_MANIFEST_DRIVER_BYTES = 4 << 20


def _decode_manifest_batch(
    infos: list[tuple[str, int]]
) -> list[tuple[dict, int]]:
    """Decode (manifest_path, inherited_seq) pairs → live
    (data_file, seq) entries. Runs driver-side below the byte
    threshold and inside executor tasks above it — ONE code path, so
    the two routes cannot drift (the Delta replay's _CP_ADD_FIELDS
    lesson)."""
    from pg_datalake_spark.tables.avro_codec import read_avro as _ra

    out: list[tuple[dict, int]] = []
    for path, mseq in infos:
        _, entries = _ra(path)
        for e in entries:
            if e.get("status", 0) == 2:  # DELETED entry: file left the table
                continue
            seq = e.get("sequence_number")
            if seq is None:
                seq = mseq
            out.append((e["data_file"], int(seq)))
    return out


def _live_entries_with_seq(
    location: str,
    snapshot_id: int | None = None,
    metadata_file: str | None = None,
    spark: SparkSession | None = None,
) -> list[tuple[dict, int]]:
    """Like :func:`_live_entries` but each record is paired with its
    data sequence number (entry-level, inheriting the manifest's when
    the entry's is null — Iceberg v2 sequence-number inheritance).

    With ``spark`` provided and the manifest chain's total avro size
    past :data:`_MANIFEST_DRIVER_BYTES`, manifests decode in parallel
    on the executors and stream back per partition
    (``toLocalIterator`` — never a monolithic collect next to the
    result list). A stat failure on any manifest routes to the
    distributed path too (never the driver path — a multi-GB chain
    driver-decoded on a stat hiccup is a silent stall; the r14 Delta
    getsize lesson)."""
    meta = load_table_metadata(location, metadata_file)
    snaps = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    sid = snapshot_id if snapshot_id is not None else meta.get("current-snapshot-id")
    if sid not in snaps:
        raise ValueError(f"snapshot {sid} not found (have {sorted(snaps)})")
    _, manifests = read_avro(_local(snaps[sid]["manifest-list"]))
    infos = [
        (_local(m["manifest_path"]), int(m.get("sequence_number", 0) or 0))
        for m in manifests
    ]
    # NB: a SINGLE huge manifest (the compact_files/OVERWRITE shape)
    # still decodes as one task — off the driver, but serial; block-
    # level avro splitting would be the next step if that shape ever
    # dominates. Chains (the append-history shape) parallelize fully.
    if spark is not None and infos:
        try:
            total = sum(os.path.getsize(p) for p, _ in infos)
        except OSError:
            total = None
        if total is None or total > _MANIFEST_DRIVER_BYTES:
            sc = spark.sparkContext
            rdd = sc.parallelize(infos, min(len(infos), 64)).mapPartitions(
                lambda it: _decode_manifest_batch(list(it))
            )
            return list(rdd.toLocalIterator())
    return _decode_manifest_batch(infos)


def snapshot_files(
    location: str, snapshot_id: int | None = None, metadata_file: str | None = None
) -> tuple[list[str], list[str]]:
    """Resolve a snapshot to its (data_files, position_delete_files).

    Simple-path API: tables that carry equality-delete files (content=2)
    cannot be summarized as two flat file lists because equality deletes
    apply only to data files with a strictly lower sequence number — use
    :func:`read_iceberg_table` (which applies them correctly) or
    :func:`snapshot_file_entries` instead."""
    data_files: list[str] = []
    delete_files: list[str] = []
    for d in _live_entries(location, snapshot_id, metadata_file):
        content = d.get("content", 0) or 0
        path = d["file_path"]
        if content == 0:
            data_files.append(path)
        elif content == 1:  # position deletes
            delete_files.append(path)
        else:  # equality deletes (content=2): sequence-scoped, not flat
            raise NotImplementedError(
                "equality-delete files cannot be flattened to a file list; "
                "use read_iceberg_table / snapshot_file_entries"
            )
    return data_files, delete_files


def _kv_dict(kv: list | None) -> dict:
    return {e["key"]: e["value"] for e in kv} if kv else {}


def snapshot_file_entries(
    location: str,
    snapshot_id: int | None = None,
    metadata_file: str | None = None,
    spark: SparkSession | None = None,
) -> list[dict]:
    """Full per-file view of a snapshot: ``{path, content, seq,
    equality_ids, lower_bounds, upper_bounds, null_value_counts,
    partition, rows}`` per live file (content 0=data, 1=position
    deletes, 2=equality deletes; ``rows`` is the manifest
    ``record_count``); bounds are field-id-keyed dicts of
    spec-serialized bytes."""
    return [
        {
            "path": d["file_path"],
            "content": d.get("content", 0) or 0,
            "seq": seq,
            "equality_ids": d.get("equality_ids"),
            "lower_bounds": _kv_dict(d.get("lower_bounds")),
            "upper_bounds": _kv_dict(d.get("upper_bounds")),
            "null_value_counts": _kv_dict(d.get("null_value_counts")),
            "partition": d.get("partition") or {},
            "rows": d.get("record_count"),
        }
        for d, seq in _live_entries_with_seq(
            location, snapshot_id, metadata_file, spark=spark
        )
    ]


def _file_may_match(entry: dict, fid: int, ftype: str, op: str, val) -> bool:
    """Can any row of this data file satisfy ``col op val``, judging by
    its manifest bounds? Missing/undeserializable/NaN bounds → True (prune
    only on proof). Non-ASCII string bounds are ignored: parquet orders
    stats by unsigned byte, Python by code point — only agree on ASCII."""
    lb = entry["lower_bounds"].get(fid)
    ub = entry["upper_bounds"].get(fid)
    if lb is None or ub is None:
        return True
    lo = _bound_from_bytes(lb, ftype)
    hi = _bound_from_bytes(ub, ftype)
    if lo is None or hi is None:
        return True
    if any(isinstance(v, float) and math.isnan(v) for v in (lo, hi, val)):
        return True  # Spark orders NaN above every number: NaN bounds nothing
    if ftype == "string":
        if not (lo.isascii() and hi.isascii() and str(val).isascii()):
            return True
        val = str(val)
    try:
        if op in ("=", "=="):
            return lo <= val <= hi
        if op == "<":
            return lo < val
        if op == "<=":
            return lo <= val
        if op == ">":
            return hi > val
        if op == ">=":
            return hi >= val
    except TypeError:
        return True
    raise ValueError(f"unsupported filter op {op!r} (use = < <= > >=)")


def _partition_may_match(entry: dict, name: str, ptype: str, op: str, val) -> bool:
    """Identity-partition pruning: the file's partition value is exact,
    so compare it directly (missing/null value → keep)."""
    pv = entry["partition"].get(name)
    if pv is None:
        return True
    if ptype == "date":
        if isinstance(val, _dt.date):
            val = (val - _EPOCH_DATE).days
        val = int(val)
    try:
        return {
            "=": pv == val, "==": pv == val, "<": pv < val,
            "<=": pv <= val, ">": pv > val, ">=": pv >= val,
        }[op]
    except TypeError:
        return True
    except KeyError:
        raise ValueError(f"unsupported filter op {op!r} (use = < <= > >=)")


def _identity_spec(meta: dict) -> list[dict]:
    """The default spec's identity fields (empty for unpartitioned)."""
    spec = next(
        (s for s in meta.get("partition-specs", []) if s["spec-id"] == meta.get("default-spec-id", 0)),
        None,
    )
    if not spec:
        return []
    return [f for f in spec["fields"] if f["transform"] == "identity"]


def _identity_fields(meta: dict) -> list[tuple[str, str]]:
    """(name, iceberg_type) of the default spec's identity fields: the
    partition columns a read restores, and the typing of a delete
    manifest's partition record (values stay null — deletes here are
    table-wide, not partition-scoped)."""
    id_to_field = {f["id"]: f for f in current_schema(meta)["fields"]}
    return [
        (id_to_field[pf["source-id"]]["name"], id_to_field[pf["source-id"]]["type"])
        for pf in _identity_spec(meta)
        if pf["source-id"] in id_to_field
    ]


_ICEBERG_TO_SPARK = {
    "boolean": "boolean", "int": "int", "long": "long",
    "float": "float", "double": "double", "string": "string",
    "binary": "binary", "date": "date", "timestamptz": "timestamp",
    "timestamp": "timestamp_ntz",
}


def _spark_type_str(ice_type: str) -> str:
    return ice_type if ice_type.startswith("decimal") else _ICEBERG_TO_SPARK[ice_type]


def _spark_ddl(ice_schema: dict) -> str:
    """Spark DDL string for an Iceberg schema (inverse of
    :func:`_iceberg_schema` over the types this module emits)."""
    return ", ".join(
        f"`{f['name']}` {_spark_type_str(f['type'])}" for f in ice_schema["fields"]
    )


def snapshot_as_of(location: str, timestamp_ms: int) -> int:
    """The snapshot id current AS OF ``timestamp_ms`` (newest snapshot
    whose commit timestamp is <= the bound — SQL ``TIMESTAMP AS OF``
    resolution over the snapshot history)."""
    meta = load_table_metadata(location)
    eligible = [
        s for s in meta.get("snapshots", []) if s["timestamp-ms"] <= timestamp_ms
    ]
    if not eligible:
        raise ValueError(
            f"no snapshot at or before {timestamp_ms} "
            f"(earliest is {min((s['timestamp-ms'] for s in meta.get('snapshots', [])), default=None)})"
        )
    return max(eligible, key=lambda s: s["sequence-number"])["snapshot-id"]


def _scan_filter(meta: dict, filters: list[tuple] | None):
    """A predicate over data-file entries that is False when the file's
    manifest bounds, identity-partition value or transform-partition
    value prove that no row can satisfy every ``(column, op, value)``
    of ``filters`` (prune only on proof)."""
    by_name = {f["name"]: f for f in current_schema(meta)["fields"]}
    part_types = dict(_identity_fields(meta))
    tspec = {t["source"]: t for t in _transform_spec_from_meta(meta)}
    checks = []
    for col, op, val in filters or []:
        if col not in by_name:
            raise ValueError(f"filter column {col!r} not in table schema")
        t = tspec.get(col)
        tval = t and _transform_literal(t["transform"], t["param"], val, t["src_type"])
        checks.append((col, op, val, by_name[col], t, tval))

    def keep(e: dict) -> bool:
        for col, op, val, f, t, tval in checks:
            if col in part_types:
                ok = _partition_may_match(e, col, part_types[col], op, val)
            else:
                ok = _file_may_match(e, f["id"], f["type"], op, val)
            if ok and t:
                ok = _transform_partition_may_match(e, t["name"], op, tval, tr=t["transform"])
            if not ok:
                return False
        return True

    return keep


def plan_scan(
    location: str,
    filters: list[tuple] | None = None,
    snapshot_id: int | None = None,
    metadata_file: str | None = None,
) -> dict:
    """Metadata-only scan plan: which data files survive bounds pruning
    for ``filters`` (same semantics as :func:`read_iceberg_table`).
    Returns ``{"kept": [paths], "skipped": [paths]}`` — the EXPLAIN
    counterpart of the reference's files-scanned/skipped accounting."""
    keep = _scan_filter(load_table_metadata(location, metadata_file), filters)
    kept, skipped = [], []
    for e in snapshot_file_entries(location, snapshot_id, metadata_file):
        if e["content"] == 0:
            (kept if keep(e) else skipped).append(e["path"])
    return {"kept": kept, "skipped": skipped}


def read_iceberg_table(
    spark: SparkSession,
    location: str,
    snapshot_id: int | None = None,
    metadata_file: str | None = None,
    filters: list[tuple] | None = None,
    as_of_timestamp_ms: int | None = None,
    ref: str | None = None,
) -> DataFrame:
    """Scan an external Iceberg v1/v2 table snapshot as a DataFrame.

    ``as_of_timestamp_ms`` resolves the snapshot current at that commit
    time (``TIMESTAMP AS OF``); mutually exclusive with ``snapshot_id``
    (``VERSION AS OF``).

    ``filters`` — optional list of ``(column, op, value)`` with op in
    ``= < <= > >=`` — is applied twice, the way any Iceberg client
    plans a scan: data files whose manifest lower/upper bounds (or
    exact identity-partition values) prove no row can match are dropped
    BEFORE Spark ever sees them (metadata-only pruning, the complement
    of parquet row-group pushdown which still applies within the
    surviving files), and the residual predicate is applied to the
    returned DataFrame for exactness.

    Identity-partitioned tables (see :func:`export_iceberg_snapshot`)
    are read hidden-partitioning style: partition columns are restored
    from the manifests' typed partition tuples, never re-inferred from
    directory names.

    Merge-on-read deletes are applied Spark-side, no row-level Python.
    Every data and delete file is named once, by the URI Spark reports
    as ``_metadata.file_path`` (``tombstones.spark_uri`` of its manifest
    path), and each join reads that column raw, as the LakeTable and
    Delta readers do:

    - Position deletes: an anti-join on (file, row position) through
      ``tombstones.drop_positions`` — held on the driver within
      ``tombstones.DRIVER_ROWS`` (the delete entries' ``record_count``
      sum), else read by Spark with each manifest path mapped to its
      URI once per file.
    - Equality deletes: per equality-id set, a null-safe broadcast
      anti-join on the equality columns, restricted to data files whose
      data sequence number is STRICTLY lower than the delete file's
      (Iceberg v2 sequence semantics — rows re-appended after the
      delete survive).
    """
    if ref is not None:
        if snapshot_id is not None or as_of_timestamp_ms is not None:
            raise ValueError("ref is exclusive with snapshot_id/timestamp")
        snapshot_id = resolve_ref(location, ref)
    if as_of_timestamp_ms is not None:
        if snapshot_id is not None:
            raise ValueError("snapshot_id and as_of_timestamp_ms are exclusive")
        snapshot_id = snapshot_as_of(location, as_of_timestamp_ms)
    entries = snapshot_file_entries(
        location, snapshot_id, metadata_file, spark=spark
    )
    meta0 = load_table_metadata(location, metadata_file)
    ice_schema = current_schema(meta0)
    keep = _scan_filter(meta0, filters)
    data = [e for e in entries if e["content"] == 0 and keep(e)]
    pos_del = [e for e in entries if e["content"] == 1]
    eq_del = [e for e in entries if e["content"] == 2]
    if not data:
        # a zero-data-file snapshot is a legitimate state (a COW
        # delete/overwrite that removed every row) — an empty typed
        # scan, not an error (r15 concurrent-fuzzer find: a truncate
        # racing other writers left readers crashing on the winner)
        return local_frame(spark, [], _spark_ddl(ice_schema))
    # mergeSchema: files written before a schema evolution lack the
    # added columns — the merged scan surfaces them as nulls (footer
    # reads only, distributed)
    df = spark.read.option("mergeSchema", "true").parquet(
        *[_local(e["path"]) for e in data]
    )

    def _residual(out: DataFrame) -> DataFrame:
        # project to the table's CURRENT schema FIRST (Iceberg read
        # semantics): declared order, with columns no data file carries
        # yet materialized as typed nulls — so the residual predicate
        # can reference a just-added column
        cols = []
        for f in ice_schema["fields"]:
            if f["name"] in out.columns:
                cols.append(F.col(f["name"]))
            else:
                cols.append(
                    F.lit(None).cast(_spark_type_str(f["type"])).alias(f["name"])
                )
        out = out.select(*cols)
        for col, op, val in filters or []:
            c = F.col(col)
            out = out.filter(
                {"=": c == val, "==": c == val, "<": c < val,
                 "<=": c <= val, ">": c > val, ">=": c >= val}[op]
            )
        return out

    missing_parts = [(n, t) for n, t in _identity_fields(meta0) if n not in df.columns]
    if not (missing_parts or pos_del or eq_del):
        return _residual(df)
    # the joins and the partition restore below name each file by its
    # Spark URI, which only a local file has here; under any other
    # scheme rows would silently be lost or mis-attributed — fail loud
    for e in entries:
        p = e["path"]
        if "://" in p and not p.startswith("file://"):
            raise NotImplementedError(
                f"path normalization supports only local file URIs, got {p!r}"
            )
    keys = [e["path"] for e in data]
    uris = [tombstones.spark_uri(k) for k in keys]
    # the hidden _metadata columns are captured ONCE on the raw scan
    # (they are not resolvable after a projection/join)
    df = df.selectExpr("*", "_metadata.file_path AS __file", "_metadata.row_index AS __pos")

    # identity-partition columns live in the MANIFESTS, not the data
    # files — restore any that the parquet scan lacks via a per-file
    # literal map on the file URI (typed, never path-inferred)
    for n, t in missing_parts:
        pairs = [
            x
            for e, u in zip(data, uris)
            if e["partition"].get(n) is not None
            for x in (F.lit(u), F.lit(e["partition"][n]))
        ]
        col = F.element_at(F.create_map(*pairs), F.col("__file")) if pairs else F.lit(None)
        if t == "date":
            col = F.date_from_unix_date(col)
        elif t == "boolean":
            col = col.cast("boolean")
        elif t == "int":
            col = col.cast("int")
        df = df.withColumn(n, col)

    if pos_del:
        dels = [_local(e["path"]) for e in pos_del]
        held = tombstones.hold(keys, dels, sum(e["rows"] for e in pos_del))
        df = tombstones.drop_positions(df, keys, uris, dels, held)

    if eq_del:
        id_to_name = {f["id"]: f["name"] for f in ice_schema["fields"]}
        # per-data-file sequence number, attached via a literal map —
        # O(files) metadata, evaluated JVM-side, no extra join
        seq_map = F.create_map(
            *[x for e, u in zip(data, uris) for x in (F.lit(u), F.lit(e["seq"]))]
        )
        df = df.withColumn("__seq", F.element_at(seq_map, F.col("__file")))
        # group delete files by their equality-id set; each group is one
        # null-safe anti-join (equality columns + strict seq ordering)
        groups: dict[tuple[int, ...], list[dict]] = {}
        for e in eq_del:
            ids = e.get("equality_ids")
            if not ids:
                raise ValueError(
                    f"equality-delete file {e['path']!r} has no equality_ids"
                )
            groups.setdefault(tuple(ids), []).append(e)
        for ids, files in sorted(groups.items()):
            try:
                cols = [id_to_name[i] for i in ids]
            except KeyError as exc:
                raise ValueError(
                    f"equality_ids {list(ids)} reference unknown schema field "
                    f"ids (have {sorted(id_to_name)})"
                ) from exc
            del_seq_map = F.create_map(
                *[
                    x
                    for e in files
                    for x in (F.lit(tombstones.spark_uri(e["path"])), F.lit(e["seq"]))
                ]
            )
            del_df = (
                spark.read.parquet(*[_local(e["path"]) for e in files])
                .select(
                    *[F.col(c).alias(f"__eq_{c}") for c in cols],
                    F.element_at(del_seq_map, F.col("_metadata.file_path")).alias(
                        "__del_seq"
                    ),
                )
                .groupBy(*[f"__eq_{c}" for c in cols])
                .agg(F.max("__del_seq").alias("__del_seq"))
            )
            cond = F.col("__seq") < F.col("__del_seq")
            for c in cols:
                cond = cond & F.col(c).eqNullSafe(F.col(f"__eq_{c}"))
            df = df.join(F.broadcast(del_df), cond, "left_anti")
    return _residual(df)


# ---------------------------------------------------------------------------
# write half
# ---------------------------------------------------------------------------

_SPARK_TO_ICEBERG = {
    T.BooleanType: "boolean",
    T.IntegerType: "int",
    T.ShortType: "int",
    T.ByteType: "int",
    T.LongType: "long",
    T.FloatType: "float",
    T.DoubleType: "double",
    T.StringType: "string",
    T.BinaryType: "binary",
    T.DateType: "date",
    T.TimestampType: "timestamptz",
    T.TimestampNTZType: "timestamp",
}


def _iceberg_type(dt: T.DataType) -> str:
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision}, {dt.scale})"
    for cls, name in _SPARK_TO_ICEBERG.items():
        if isinstance(dt, cls):
            return name
    raise ValueError(f"no Iceberg mapping for Spark type {dt.simpleString()}")


def _iceberg_schema(schema: T.StructType) -> dict:
    return {
        "type": "struct",
        "schema-id": 0,
        "fields": [
            {
                "id": i + 1,
                "name": f.name,
                "required": not f.nullable,
                "type": _iceberg_type(f.dataType),
            }
            for i, f in enumerate(schema.fields)
        ],
    }


# Avro schemas per the Iceberg spec (field-id annotations included for
# external readers; this codec itself matches by name).


def _kv_array(name: str, fid: int, kid: int, vid: int, vtype: str) -> dict:
    """Iceberg stores per-column stats as arrays of (key=field_id,
    value) records (the spec's map-with-int-keys encoding)."""
    return {
        "name": name,
        "type": [
            "null",
            {
                "type": "array",
                "items": {
                    "type": "record",
                    "name": f"k{kid}_v{vid}",
                    "fields": [
                        {"name": "key", "type": "int", "field-id": kid},
                        {"name": "value", "type": vtype, "field-id": vid},
                    ],
                },
            },
        ],
        "field-id": fid,
        "default": None,
    }


_DATA_FILE_SCHEMA = {
    "type": "record",
    "name": "r2",
    "fields": [
        {"name": "content", "type": "int", "field-id": 134},
        {"name": "file_path", "type": "string", "field-id": 100},
        {"name": "file_format", "type": "string", "field-id": 101},
        {
            "name": "partition",
            "type": {"type": "record", "name": "r102", "fields": []},
            "field-id": 102,
        },
        {"name": "record_count", "type": "long", "field-id": 103},
        {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
        _kv_array("null_value_counts", 110, 121, 122, "long"),
        _kv_array("lower_bounds", 125, 126, 127, "bytes"),
        _kv_array("upper_bounds", 128, 129, 130, "bytes"),
        {
            "name": "equality_ids",
            "type": ["null", {"type": "array", "items": "int", "element-id": 136}],
            "field-id": 135,
            "default": None,
        },
    ],
}

_MANIFEST_ENTRY_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"], "field-id": 1},
        {"name": "sequence_number", "type": ["null", "long"], "field-id": 3},
        {"name": "file_sequence_number", "type": ["null", "long"], "field-id": 4},
        {"name": "data_file", "type": _DATA_FILE_SCHEMA, "field-id": 2},
    ],
}

# identity-partition support: partition values are typed fields of the
# r102 partition record (spec: the partition tuple's Avro schema follows
# the partition spec), so each manifest embeds a schema matching its
# table's spec. Avro types per Iceberg source type:
_PARTITION_AVRO_TYPES = {
    "int": "int",
    "long": "long",
    "string": "string",
    "date": {"type": "int", "logicalType": "date"},
    "boolean": "boolean",
}


def _manifest_entry_schema(partition_fields: list[tuple[str, str]]) -> dict:
    """Manifest-entry Avro schema with a typed partition record for the
    given identity-partition (name, iceberg_type) fields (empty list →
    the spec-less unpartitioned schema)."""
    if not partition_fields:
        return _MANIFEST_ENTRY_SCHEMA
    part_rec = {
        "type": "record",
        "name": "r102",
        "fields": [
            {"name": n, "type": ["null", _PARTITION_AVRO_TYPES[t]], "field-id": 1000 + i}
            for i, (n, t) in enumerate(partition_fields)
        ],
    }
    data_file = json.loads(json.dumps(_DATA_FILE_SCHEMA))  # deep copy
    for f in data_file["fields"]:
        if f["name"] == "partition":
            f["type"] = part_rec
    entry = json.loads(json.dumps(_MANIFEST_ENTRY_SCHEMA))
    for f in entry["fields"]:
        if f["name"] == "data_file":
            f["type"] = data_file
    return entry

_MANIFEST_FILE_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
    ],
}


def _parquet_stats(path: str) -> tuple[int, int]:
    """(num_rows, file_size) from the parquet footer — driver-side,
    O(files), no data read."""
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows, os.path.getsize(path)


# ---------------------------------------------------------------------------
# Iceberg single-value binary serialization (spec appendix D) for the
# manifest lower/upper bounds — the subset of types this exporter emits.
# ---------------------------------------------------------------------------

import datetime as _dt
import struct as _struct

_EPOCH_DATE = _dt.date(1970, 1, 1)


def _bound_to_bytes(v, ice_type: str) -> bytes | None:
    """Serialize one bound per the Iceberg spec: little-endian for
    numerics, days/micros since epoch for date/timestamps, raw UTF-8
    for strings. Returns None for types we don't serialize (the bound
    is simply omitted — always safe, pruning is best-effort)."""
    if v is None:
        return None
    if ice_type == "int":
        return _struct.pack("<i", int(v))
    if ice_type == "long":
        return _struct.pack("<q", int(v))
    if ice_type == "float":
        return _struct.pack("<f", float(v))
    if ice_type == "double":
        return _struct.pack("<d", float(v))
    if ice_type == "string":
        return str(v).encode("utf-8")
    if ice_type == "date":
        if isinstance(v, _dt.date):
            v = (v - _EPOCH_DATE).days
        return _struct.pack("<i", int(v))
    if ice_type in ("timestamp", "timestamptz"):
        if isinstance(v, _dt.datetime):
            # exact integer micros — float64 total_seconds() loses ~1µs
            # for modern epochs, enough to flip an exact-boundary
            # equality filter's pruning decision
            base = _dt.datetime(1970, 1, 1, tzinfo=v.tzinfo)
            v = (v - base) // _dt.timedelta(microseconds=1)
        return _struct.pack("<q", int(v))
    return None  # boolean/binary/decimal bounds: omitted


def _bound_from_bytes(b: bytes, ice_type: str):
    """Inverse of :func:`_bound_to_bytes`; None if not deserializable."""
    if b is None:
        return None
    if ice_type == "int":
        return _struct.unpack("<i", b)[0]
    if ice_type == "long":
        return _struct.unpack("<q", b)[0]
    if ice_type == "float":
        return _struct.unpack("<f", b)[0]
    if ice_type == "double":
        return _struct.unpack("<d", b)[0]
    if ice_type == "string":
        return b.decode("utf-8")
    if ice_type == "date":
        return _EPOCH_DATE + _dt.timedelta(days=_struct.unpack("<i", b)[0])
    if ice_type in ("timestamp", "timestamptz"):
        return _struct.unpack("<q", b)[0]
    return None


def _column_bounds(path: str, ice_schema: dict) -> tuple[list, list, list]:
    """(null_value_counts, lower_bounds, upper_bounds) for one parquet
    file, as Iceberg key-value record lists keyed by field id. Bounds
    aggregate across row groups from footer statistics — no data read.
    A NaN bound is omitted: the Iceberg spec keeps NaN out of bounds."""
    import pyarrow.parquet as pq

    from pg_datalake_spark.tables.footer import column_bounds

    found = column_bounds(pq.ParquetFile(path).metadata)
    nulls, lowers, uppers = [], [], []
    for f in ice_schema["fields"]:
        col, bounds = found.get(f["name"], (None, None))
        if bounds is None:
            continue
        lo, hi, nn = bounds
        nulls.append({"key": f["id"], "value": nn})
        if lo is None or any(isinstance(v, float) and math.isnan(v) for v in (lo, hi)):
            continue
        if f["type"] == "string":
            lo, hi = lo.decode("utf-8"), hi.decode("utf-8")
        elif f["type"] in ("timestamp", "timestamptz") and (
            col.logical_type.type != "TIMESTAMP"
            or json.loads(col.logical_type.to_json())["timeUnit"] != "microseconds"
        ):
            continue  # raw values are micros only for a micros column
        lob = _bound_to_bytes(lo, f["type"])
        hib = _bound_to_bytes(hi, f["type"])
        if lob is not None and hib is not None:
            lowers.append({"key": f["id"], "value": lob})
            uppers.append({"key": f["id"], "value": hib})
    return nulls, lowers, uppers


def _walk_parquet(data_dir: str) -> list[str]:
    """All *.parquet under ``data_dir`` (recursive — partitioned writes
    nest files under col=value directories), sorted for determinism."""
    out = []
    for root, _, names in os.walk(data_dir):
        out.extend(os.path.join(root, n) for n in names if n.endswith(".parquet"))
    return sorted(out)


def _parse_partition_values(
    path: str, data_dir: str, partition_fields: list[tuple[str, str]]
) -> dict:
    """Typed partition values from the hive-style ``col=value`` path
    segments Spark's partitionBy writes (dates stored as epoch days per
    the Avro date logical type)."""
    from urllib.parse import unquote

    vals: dict = {}
    segs = os.path.relpath(os.path.dirname(path), data_dir).split(os.sep)
    raw = dict(s.split("=", 1) for s in segs if "=" in s)
    for name, ice_type in partition_fields:
        if name not in raw:
            # a data file outside the partition layout is malformed —
            # recording None here would silently misfile its rows
            raise ValueError(
                f"data file {path!r} lacks a {name}= path segment for "
                f"the table's partition spec"
            )
        v = raw[name]
        if v == "__HIVE_DEFAULT_PARTITION__":
            vals[name] = None
            continue
        v = unquote(v)
        if ice_type in ("int", "long"):
            vals[name] = int(v)
        elif ice_type == "date":
            vals[name] = (_dt.date.fromisoformat(v) - _EPOCH_DATE).days
        elif ice_type == "boolean":
            vals[name] = v.lower() == "true"
        else:
            vals[name] = v
    return vals


_TIME_TRANSFORMS = ("year", "month", "day", "hour")


def _parse_transform_spec(item: str) -> tuple[str, str, int | None]:
    """Parse a ``partition_by`` entry: ``col`` (identity),
    ``year(col)`` / ``month(col)`` / ``day(col)`` / ``hour(col)``,
    or ``truncate(W, col)`` → (transform, col, param).

    or ``bucket(N, col)`` (SPEC bucket, bit-exact murmur3_x86_32 —
    tables/spec_bucket.py, verified against the Iceberg spec's
    published test vectors; supported since r7 — before that it failed
    loud because a non-exact hash would make external readers silently
    drop rows)."""
    m = re.match(r"^(\w+)\(\s*(?:(\d+)\s*,\s*)?([\w.]+)\s*\)$", item)
    if not m:
        return ("identity", item, None)
    tr, param, col = m.group(1), m.group(2), m.group(3)
    if tr not in _TIME_TRANSFORMS and tr not in ("truncate", "bucket"):
        raise ValueError(f"unknown partition transform {tr!r} in {item!r}")
    if tr in ("truncate", "bucket") and param is None:
        raise ValueError(f"{tr} transform needs a parameter: {tr}(N, col)")
    return (tr, col, int(param) if param else None)


def _parse_metadata_transform(transform: str) -> tuple[str, int | None]:
    """Inverse of the spec-string encoding: 'month' → ('month', None),
    'truncate[4]' → ('truncate', 4)."""
    m = re.match(r"^(\w+)(?:\[(\d+)\])?$", transform)
    if not m:
        raise ValueError(f"unparseable transform {transform!r}")
    return m.group(1), int(m.group(2)) if m.group(2) else None


def _resolve_partition_spec(ice_schema: dict, partition_by: list[str]) -> list[dict]:
    """Resolve ``partition_by`` entries (identity or transform syntax)
    against the schema → field dicts with the partition-VALUE type and
    the Iceberg metadata transform string. Derived values use the SPEC
    encodings (year/month/day/hour = units since epoch, truncate =
    width-floor), not calendar fields — external readers compute the
    same encodings when pruning."""
    by_name = {f["name"]: f for f in ice_schema["fields"]}
    out = []
    for item in partition_by:
        tr, col, param = _parse_transform_spec(item)
        if col not in by_name:
            raise ValueError(f"partition column {col!r} not in schema")
        src_type = by_name[col]["type"]
        if tr == "identity":
            if src_type not in _PARTITION_AVRO_TYPES:
                raise ValueError(
                    f"identity partitioning on type {src_type!r} not supported "
                    f"(supported: {sorted(_PARTITION_AVRO_TYPES)})"
                )
            name, ptype, spec_tr = col, src_type, "identity"
        elif tr in _TIME_TRANSFORMS:
            if src_type not in ("date", "timestamp", "timestamptz"):
                raise ValueError(f"{tr}() needs a date/timestamp column, got {src_type!r}")
            if tr == "hour" and src_type == "date":
                raise ValueError("hour() is not defined for date columns")
            name, ptype, spec_tr = f"{col}_{tr}", "int", tr
        elif tr == "bucket":
            if src_type not in ("int", "long", "date", "timestamp",
                                "timestamptz", "string"):
                raise ValueError(
                    f"bucket() needs int/long/date/timestamp/string, got {src_type!r}"
                )
            name, ptype, spec_tr = f"{col}_bucket", "int", f"bucket[{param}]"
        else:  # truncate
            if src_type not in ("int", "long", "string"):
                raise ValueError(f"truncate() needs int/long/string, got {src_type!r}")
            name, ptype, spec_tr = f"{col}_trunc", src_type, f"truncate[{param}]"
        out.append(
            {
                "name": name,
                "transform": tr,
                "spec_transform": spec_tr,
                "source": col,
                "source_id": by_name[col]["id"],
                "param": param,
                "ptype": ptype,
                "src_type": src_type,
            }
        )
    return out


def _transform_write_column(field: dict) -> "F.Column":
    """Spark Column computing the partition value per the Iceberg spec
    (pure Column algebra — the derived column rides the normal
    partitionBy write, source column stays in the data files)."""
    c = F.col(field["source"])
    tr, param = field["transform"], field["param"]
    if tr == "year":
        return (F.year(c) - 1970).cast("int")
    if tr == "month":
        return ((F.year(c) - 1970) * 12 + F.month(c) - 1).cast("int")
    if tr == "day":
        return F.unix_date(c.cast("date")).cast("int")
    if tr == "hour":
        return F.floor(
            F.unix_micros(c.cast("timestamp")) / F.lit(3_600_000_000)
        ).cast("int")
    if tr == "truncate":
        if field["ptype"] == "string":
            return F.substring(c, 1, param)
        return c - F.pmod(c, F.lit(param))
    if tr == "bucket":
        from pg_datalake_spark.tables.spec_bucket import iceberg_bucket

        return iceberg_bucket(c, param, field["src_type"])
    raise ValueError(f"no write column for transform {tr!r}")


def _transform_literal(tr: str, param: int | None, v, src_type: str):
    """Apply a partition transform to a FILTER literal driver-side, so
    transform-partition values can prune (monotone transforms: the
    comparison relaxes to non-strict on the partition value)."""
    if tr == "identity":
        return v
    if tr in _TIME_TRANSFORMS:
        if isinstance(v, str):
            v = (
                _dt.datetime.fromisoformat(v)
                if len(v) > 10
                else _dt.date.fromisoformat(v)
            )
        if isinstance(v, _dt.datetime):
            d, dtv = v.date(), v
        elif isinstance(v, _dt.date):
            d, dtv = v, _dt.datetime(v.year, v.month, v.day)
        else:
            return None  # unprunable literal → no transform pruning
        if tr == "year":
            return d.year - 1970
        if tr == "month":
            return (d.year - 1970) * 12 + d.month - 1
        if tr == "day":
            return (d - _EPOCH_DATE).days
        if tr == "hour":
            base = _dt.datetime(1970, 1, 1, tzinfo=dtv.tzinfo)
            return (dtv - base) // _dt.timedelta(hours=1)
    if tr == "truncate":
        if src_type == "string":
            return str(v)[:param]
        return int(v) - (int(v) % param)
    if tr == "bucket":
        from pg_datalake_spark.tables.spec_bucket import bucket_literal

        return bucket_literal(v, param, src_type)
    return None


def _transform_partition_may_match(
    entry: dict, name: str, op: str, tval, tr: str = "truncate"
) -> bool:
    """Pruning against a TRANSFORMED partition value: many source
    values share one partition, so range ops relax to non-strict
    comparisons on the transform output (sound for the monotone
    year/month/day/hour/truncate family). Bucket is NOT monotone —
    only equality prunes; every range op keeps the file."""
    pv = entry["partition"].get(name)
    if pv is None or tval is None:
        return True
    if tr == "bucket":
        return pv == tval if op in ("=", "==") else True
    try:
        if op in ("=", "=="):
            return pv == tval
        if op in ("<", "<="):
            return pv <= tval
        if op in (">", ">="):
            return pv >= tval
    except TypeError:
        return True
    raise ValueError(f"unsupported filter op {op!r} (use = < <= > >=)")


def _resolve_recorded_spec(spec: dict, ice_schema: dict) -> list[dict]:
    """Resolve a RECORDED partition spec for writing (append/
    overwrite): keep the recorded field names (they must match the
    table's existing manifests — a genuinely external writer may not
    follow our naming convention), parse the transform strings, and
    type the partition values (spec-bucket included since r7 — the
    bit-exact murmur3 in tables/spec_bucket.py)."""
    id_to_field = {f["id"]: f for f in ice_schema["fields"]}
    out = []
    for pf in spec["fields"]:
        src = id_to_field[pf["source-id"]]
        tr, param = _parse_metadata_transform(pf["transform"])
        if tr in _TIME_TRANSFORMS or tr == "bucket":
            ptype = "int"
        elif tr in ("identity", "truncate"):
            ptype = src["type"]
        else:
            raise NotImplementedError(f"write with transform {tr!r} unsupported")
        out.append(
            {
                "name": pf["name"],
                "transform": tr,
                "spec_transform": pf["transform"],
                "source": src["name"],
                "source_id": src["id"],
                "param": param,
                "ptype": ptype,
                "src_type": src["type"],
            }
        )
    return out


def _transform_spec_from_meta(meta: dict) -> list[dict]:
    """Non-identity fields of the default spec, with parsed transform,
    source column name/type — the read side's pruning map."""
    spec = next(
        (
            s
            for s in meta.get("partition-specs", [])
            if s["spec-id"] == meta.get("default-spec-id", 0)
        ),
        None,
    )
    if not spec:
        return []
    id_to_field = {f["id"]: f for f in current_schema(meta)["fields"]}
    out = []
    for pf in spec["fields"]:
        if pf["transform"] == "identity" or pf["source-id"] not in id_to_field:
            continue
        tr, param = _parse_metadata_transform(pf["transform"])
        src = id_to_field[pf["source-id"]]
        out.append(
            {
                "name": pf["name"],
                "transform": tr,
                "param": param,
                "source": src["name"],
                "src_type": src["type"],
            }
        )
    return out


def export_iceberg_snapshot(
    df: DataFrame,
    location: str,
    partition_by: list[str] | None = None,
    extra_summary: dict | None = None,
) -> int:
    """Write ``df`` as a new Iceberg v2 table at ``location``; returns
    the snapshot id. ``partition_by`` entries are identity columns
    (``"col"``) or hidden transforms (``"year(col)"``, ``"month(col)"``,
    ``"day(col)"``, ``"hour(col)"``, ``"truncate(W, col)"`` — encoded
    per the Iceberg spec: units since epoch / width-floor, so external
    readers prune correctly). Data lands under name=value directories,
    manifests record the typed partition tuple per file (the read side
    restores IDENTITY columns FROM THE MANIFESTS and prunes on all of
    them — hidden partitioning, values never re-inferred from paths;
    transform partitions keep the source column in the data files).
    Use :func:`add_position_deletes` / :func:`add_equality_deletes` for
    follow-up merge-on-read delete snapshots."""
    location = _local(location)
    data_dir = os.path.join(location, "data")
    meta_dir = os.path.join(location, "metadata")
    os.makedirs(meta_dir, exist_ok=True)
    ice_schema = _iceberg_schema(df.schema)
    spec_fields = _resolve_partition_spec(ice_schema, partition_by or [])
    part_fields = [(f["name"], f["ptype"]) for f in spec_fields]
    out_df = df
    for f in spec_fields:
        if f["transform"] != "identity":
            out_df = out_df.withColumn(f["name"], _transform_write_column(f))
    writer = out_df.write.mode("error")
    if spec_fields:
        writer = writer.partitionBy(*[f["name"] for f in spec_fields])
    writer.parquet(data_dir)
    snapshot_id = int(uuid.uuid4().int % (1 << 62))
    now_ms = int(time.time() * 1000)

    files = _walk_parquet(data_dir)
    partitions = {
        p: _parse_partition_values(p, data_dir, part_fields) for p in files
    }
    entries, total_rows = _data_file_entries(
        files, snapshot_id, 1, ice_schema, partitions
    )

    manifests = []
    data_manifest = os.path.join(meta_dir, f"{uuid.uuid4()}-m0.avro")
    mlen = write_avro(data_manifest, _manifest_entry_schema(part_fields), entries)
    manifests.append(
        {
            "manifest_path": f"file://{data_manifest}",
            "manifest_length": mlen,
            "partition_spec_id": 0,
            "content": 0,
            "sequence_number": 1,
            "min_sequence_number": 1,
            "added_snapshot_id": snapshot_id,
            "added_files_count": len(entries),
            "existing_files_count": 0,
            "deleted_files_count": 0,
            "added_rows_count": total_rows,
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
        }
    )

    manifest_list = os.path.join(meta_dir, f"snap-{snapshot_id}-1-{uuid.uuid4()}.avro")
    write_avro(manifest_list, _MANIFEST_FILE_SCHEMA, manifests)

    metadata = {
        "format-version": 2,
        "table-uuid": str(uuid.uuid4()),
        "location": location,
        "last-sequence-number": 1,
        "last-updated-ms": now_ms,
        "last-column-id": len(df.schema.fields),
        "current-schema-id": 0,
        "schemas": [_iceberg_schema(df.schema)],
        "default-spec-id": 0,
        "partition-specs": [
            {
                "spec-id": 0,
                "fields": [
                    {
                        "name": f["name"],
                        "transform": f["spec_transform"],
                        "source-id": f["source_id"],
                        "field-id": 1000 + i,
                    }
                    for i, f in enumerate(spec_fields)
                ],
            }
        ],
        "last-partition-id": 999 + len(spec_fields),
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {"write.format.default": "parquet"},
        "current-snapshot-id": snapshot_id,
        "snapshots": [
            {
                "snapshot-id": snapshot_id,
                "sequence-number": 1,
                "timestamp-ms": now_ms,
                "manifest-list": f"file://{manifest_list}",
                "summary": {"operation": "append", **(extra_summary or {})},
                "schema-id": 0,
            }
        ],
        "snapshot-log": [{"snapshot-id": snapshot_id, "timestamp-ms": now_ms}],
        "metadata-log": [],
    }
    _write_version_file(meta_dir, 1, metadata)
    return snapshot_id


def _data_file_entries(
    files: list[str],
    snapshot_id: int,
    seq: int,
    ice_schema: dict | None = None,
    partitions: dict[str, dict] | None = None,
) -> tuple[list[dict], int]:
    """ADDED manifest entries for parquet data files (with per-column
    null counts and lower/upper bounds harvested from the parquet
    footers when ``ice_schema`` is given, and typed partition tuples
    from ``partitions``); returns (entries, total_rows)."""
    entries, total_rows = [], 0
    for p in files:
        nrows, fsize = _parquet_stats(p)
        total_rows += nrows
        nulls, lowers, uppers = (
            _column_bounds(p, ice_schema) if ice_schema else ([], [], [])
        )
        entries.append(
            {
                "status": 1,  # ADDED
                "snapshot_id": snapshot_id,
                "sequence_number": seq,
                "file_sequence_number": seq,
                "data_file": {
                    "content": 0,
                    "file_path": f"file://{p}",
                    "file_format": "PARQUET",
                    "partition": (partitions or {}).get(p, {}),
                    "record_count": nrows,
                    "file_size_in_bytes": fsize,
                    "null_value_counts": nulls or None,
                    "lower_bounds": lowers or None,
                    "upper_bounds": uppers or None,
                    "equality_ids": None,
                },
            }
        )
    return entries, total_rows


def _commit_new_version(
    location: str,
    meta: dict,
    snapshot_id: int,
    seq: int,
    manifests: list[dict],
    operation: str,
    extra_summary: dict | None = None,
) -> int:
    """Write a new manifest list + metadata version advancing the
    version-hint; returns the snapshot id."""
    meta_dir = os.path.join(_local(location), "metadata")
    now_ms = int(time.time() * 1000)
    manifest_list = os.path.join(meta_dir, f"snap-{snapshot_id}-1-{uuid.uuid4()}.avro")
    write_avro(manifest_list, _MANIFEST_FILE_SCHEMA, manifests)

    version = _commit_version_slot(meta_dir, meta)
    meta["last-sequence-number"] = seq
    meta["last-updated-ms"] = now_ms
    meta["current-snapshot-id"] = snapshot_id
    meta["snapshots"] = meta["snapshots"] + [
        {
            "snapshot-id": snapshot_id,
            "sequence-number": seq,
            "timestamp-ms": now_ms,
            "manifest-list": f"file://{manifest_list}",
            "summary": {"operation": operation, **(extra_summary or {})},
            "schema-id": 0,
        }
    ]
    meta["snapshot-log"] = meta.get("snapshot-log", []) + [
        {"snapshot-id": snapshot_id, "timestamp-ms": now_ms}
    ]
    _write_version_file(meta_dir, version, meta)
    return snapshot_id


def append_snapshot(
    df: DataFrame, location: str, extra_summary: dict | None = None
) -> int:
    """Commit an APPEND snapshot to an existing exported Iceberg
    table: new parquet files land in their own subdirectory of data/,
    a new data manifest joins the previous snapshot's manifests, and a
    new metadata version is written (prior snapshots stay
    pinned-readable)."""
    meta = load_table_metadata(location)
    prev = {s["snapshot-id"]: s for s in meta["snapshots"]}[meta["current-snapshot-id"]]
    _, manifests = read_avro(_local(prev["manifest-list"]))

    expected = [f["name"] for f in current_schema(meta)["fields"]]
    if [f.name for f in df.schema.fields] != expected:
        raise ValueError(
            f"schema mismatch: table has columns {expected}, "
            f"append has {[f.name for f in df.schema.fields]}"
        )

    ice_schema = current_schema(meta)
    spec = next(
        s for s in meta["partition-specs"] if s["spec-id"] == meta["default-spec-id"]
    )
    spec_fields = _resolve_recorded_spec(spec, ice_schema)
    part_fields = [(f["name"], f["ptype"]) for f in spec_fields]

    data_dir = os.path.join(_local(location), "data", f"append-{uuid.uuid4()}")
    out_df = df
    for f in spec_fields:
        if f["transform"] != "identity":
            out_df = out_df.withColumn(f["name"], _transform_write_column(f))
    writer = out_df.write.mode("error")
    if spec_fields:
        writer = writer.partitionBy(*[f["name"] for f in spec_fields])
    writer.parquet(data_dir)
    snapshot_id = int(uuid.uuid4().int % (1 << 62))
    seq = meta["last-sequence-number"] + 1
    files = _walk_parquet(data_dir)
    partitions = {p: _parse_partition_values(p, data_dir, part_fields) for p in files}
    entries, total_rows = _data_file_entries(
        files, snapshot_id, seq, ice_schema, partitions
    )
    meta_dir = os.path.join(_local(location), "metadata")
    new_manifest = os.path.join(meta_dir, f"{uuid.uuid4()}-m0.avro")
    mlen = write_avro(new_manifest, _manifest_entry_schema(part_fields), entries)
    manifests = list(manifests) + [
        {
            "manifest_path": f"file://{new_manifest}",
            "manifest_length": mlen,
            "partition_spec_id": 0,
            "content": 0,
            "sequence_number": seq,
            "min_sequence_number": seq,
            "added_snapshot_id": snapshot_id,
            "added_files_count": len(entries),
            "existing_files_count": 0,
            "deleted_files_count": 0,
            "added_rows_count": total_rows,
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
        }
    ]
    return _commit_new_version(
        location, meta, snapshot_id, seq, manifests, "append", extra_summary
    )


def _commit_delete_files(location: str, meta: dict, delete_paths: list[str]) -> int:
    """Commit already-written position-delete parquet files as a MOR
    delete snapshot: one manifest entry per file, manifest joins the
    previous snapshot's manifests in a fresh manifest list, new
    metadata version. Driver-side work is METADATA ONLY (file list +
    footer stats) — never the delete rows themselves."""
    prev = {s["snapshot-id"]: s for s in meta["snapshots"]}[meta["current-snapshot-id"]]
    _, manifests = read_avro(_local(prev["manifest-list"]))

    snapshot_id = int(uuid.uuid4().int % (1 << 62))
    seq = meta["last-sequence-number"] + 1
    # on identity-partitioned tables the manifest's partition tuple must
    # match the spec it claims (real Iceberg readers validate this);
    # path-wide position deletes carry a null tuple for each spec field
    part_fields = _identity_fields(meta)
    entries, total_rows = [], 0
    for p in delete_paths:
        nrows, fsize = _parquet_stats(p)
        total_rows += nrows
        entries.append(
            {
                "status": 1,
                "snapshot_id": snapshot_id,
                "sequence_number": seq,
                "file_sequence_number": seq,
                "data_file": {
                    "content": 1,  # position deletes
                    "file_path": f"file://{p}",
                    "file_format": "PARQUET",
                    "partition": {n: None for n, _ in part_fields},
                    "record_count": nrows,
                    "file_size_in_bytes": fsize,
                    "equality_ids": None,
                },
            }
        )
    meta_dir = os.path.join(_local(location), "metadata")
    del_manifest = os.path.join(meta_dir, f"{uuid.uuid4()}-m0.avro")
    dlen = write_avro(del_manifest, _manifest_entry_schema(part_fields), entries)
    manifests = list(manifests) + [
        {
            "manifest_path": f"file://{del_manifest}",
            "manifest_length": dlen,
            "partition_spec_id": meta.get("default-spec-id", 0),
            "content": 1,
            "sequence_number": seq,
            "min_sequence_number": seq,
            "added_snapshot_id": snapshot_id,
            "added_files_count": len(entries),
            "existing_files_count": 0,
            "deleted_files_count": 0,
            "added_rows_count": total_rows,
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
        }
    ]
    return _commit_new_version(location, meta, snapshot_id, seq, manifests, "delete")


def _data_file_names(location: str, meta: dict) -> dict[str, str]:
    """Each spelling a caller may give for a data file of the loaded
    snapshot (its manifest ``file_path``, its plain local path, and the
    URI Spark reports as ``_metadata.file_path``) → the manifest
    ``file_path``, which the Iceberg spec says a position delete must
    equal exactly. One entry per file and spelling."""
    names: dict[str, str] = {}
    for d in _live_entries(location, metadata_file=meta["_metadata-file"]):
        if not d.get("content"):
            m = d["file_path"]
            names.update({_local(m): m, tombstones.spark_uri(m): m, m: m})
    return names


def add_position_deletes(
    location: str, delete_entries: list[tuple[str, int]]
) -> int:
    """Commit a merge-on-read position-delete snapshot from an
    in-memory ``(data_file_path, row_position)`` list — the convenience
    path for SMALL, driver-known delete sets (a manual correction, a
    test fixture). For predicate-shaped deletes use
    :func:`add_position_deletes_df`: at 100 TB a predicate can match
    billions of positions, and a Python list of them is a driver OOM
    (reference writes delete files engine-side for the same reason:
    pg_lake_table/src/fdw/position_delete_dest.c).

    A data file may be named by ``_metadata.file_path``, its manifest
    path or its plain local path; each row is written with the manifest
    spelling, the one the reader keys on for every table format. A
    position in a file the current snapshot does not hold raises."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    meta = load_table_metadata(location)
    names = _data_file_names(location, meta)
    rows = []
    for p, pos in delete_entries:
        if p not in names:
            raise ValueError(f"{p!r} is not a data file of the current snapshot")
        rows.append((names[p], int(pos)))
    rows.sort()  # spec ordering: by file_path, then pos
    schema = pa.schema(
        [
            pa.field("file_path", pa.string(), metadata={"PARQUET:field_id": "2147483546"}),
            pa.field("pos", pa.int64(), metadata={"PARQUET:field_id": "2147483545"}),
        ]
    )
    del_path = os.path.join(_local(location), "data", f"{uuid.uuid4()}-deletes.parquet")
    table = pa.Table.from_pylist([{"file_path": p, "pos": pos} for p, pos in rows], schema)
    pq.write_table(table, del_path)
    return _commit_delete_files(location, meta, [del_path])


def add_position_deletes_df(location: str, deletes: DataFrame) -> int:
    """Commit a MOR position-delete snapshot from a DataFrame with
    columns ``(file_path, pos)`` — the scale path: delete rows are
    written to parquet BY THE EXECUTORS (hash-partitioned on
    ``file_path`` so each data file's tombstones co-locate in one
    delete file, sorted (file_path, pos) within files per the Iceberg
    spec), and only the resulting FILE LIST is registered driver-side.
    No delete row ever transits the driver.

    ``file_path`` is spelled as :func:`add_position_deletes` accepts it
    and written as the manifest path, through a broadcast join with one
    row per data file and spelling; a row naming a file the current
    snapshot does not hold fails the write job (``raise_error``)."""
    meta = load_table_metadata(location)
    del_dir = os.path.join(_local(location), "data", f"posdel-{uuid.uuid4()}")

    spark = deletes.sparkSession
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    names = local_frame(
        spark,
        list(_data_file_names(location, meta).items()),
        "__given string, __manifest string",
    )
    unknown = F.raise_error(
        F.format_string("%s is not a data file of the current snapshot", "file_path")
    )
    named = deletes.join(F.broadcast(names), F.col("file_path") == F.col("__given"), "left")
    (
        named.select(
            # the given path is never reached (raise_error throws first);
            # it gives the column the input's nullability, as before
            F.coalesce("__manifest", unknown, "file_path").alias("file_path"),
            F.col("pos").cast("long").alias("pos"),
        )
        .repartition("file_path")
        .sortWithinPartitions("file_path", "pos")
        .withMetadata("file_path", {"parquet.field.id": 2147483546})
        .withMetadata("pos", {"parquet.field.id": 2147483545})
        .write.mode("error")
        .parquet(del_dir)
    )
    files = [
        os.path.join(del_dir, f)
        for f in sorted(os.listdir(del_dir))
        if f.endswith(".parquet")
    ]
    return _commit_delete_files(location, meta, files)


def _pinned_cow_read(spark: SparkSession, location: str):
    """Load table metadata ONCE and scan exactly that version.

    Every copy-on-write verb must transform the SAME snapshot its
    commit slot is based on: loading metadata inside the verb for the
    read and again inside :func:`overwrite_snapshot` for the commit
    opens a lost-update window — a concurrent append that lands
    between the two loads is silently overwritten by the rewrite,
    because the put-if-absent CAS targets the FRESH load's version
    + 1 (r15 concurrent-writer fuzzer class; same shape as the r12
    version-hint re-read bug at :func:`_commit_version_slot`).
    Returns ``(meta, df)`` — pass ``meta`` to ``overwrite_snapshot``'s
    ``base_meta`` so the commit conflicts (and the caller retries)
    instead of dropping the concurrent writer's rows."""
    meta = load_table_metadata(location)
    return meta, read_iceberg_table(
        spark, location, metadata_file=meta["_metadata-file"]
    )


def overwrite_snapshot(
    df: DataFrame, location: str, base_meta: dict | None = None
) -> int:
    """Commit an OVERWRITE snapshot: the table's contents are replaced
    by ``df`` (new data files in a fresh manifest list that references
    no prior manifest). Prior snapshots stay pinned-readable until
    :func:`expire_snapshots` reclaims them. Honors the table's
    partition spec (identity and time/truncate transforms), like
    :func:`append_snapshot`.

    ``base_meta`` — the metadata dict the OVERWRITE's input was READ
    from (see :func:`_pinned_cow_read`). The commit slot is computed
    from it, so a concurrent commit since that read makes this commit
    raise :class:`CommitConflictError` instead of silently dropping
    the concurrent writer's changes. Callers that pass a standalone
    ``df`` (replacing the table with externally-computed contents)
    may omit it — then the current metadata is loaded here and the
    overwrite is last-writer-wins over the tip."""
    meta = base_meta if base_meta is not None else load_table_metadata(location)
    ice_schema = current_schema(meta)
    expected = [f["name"] for f in ice_schema["fields"]]
    if [f.name for f in df.schema.fields] != expected:
        raise ValueError(
            f"schema mismatch: table has columns {expected}, "
            f"overwrite has {[f.name for f in df.schema.fields]}"
        )
    spec = next(
        s for s in meta["partition-specs"] if s["spec-id"] == meta["default-spec-id"]
    )
    spec_fields = _resolve_recorded_spec(spec, ice_schema)
    part_fields = [(f["name"], f["ptype"]) for f in spec_fields]

    data_dir = os.path.join(_local(location), "data", f"overwrite-{uuid.uuid4()}")
    out_df = df
    for f in spec_fields:
        if f["transform"] != "identity":
            out_df = out_df.withColumn(f["name"], _transform_write_column(f))
    writer = out_df.write.mode("error")
    if spec_fields:
        writer = writer.partitionBy(*[f["name"] for f in spec_fields])
    writer.parquet(data_dir)
    snapshot_id = int(uuid.uuid4().int % (1 << 62))
    seq = meta["last-sequence-number"] + 1
    files = _walk_parquet(data_dir)
    partitions = {p: _parse_partition_values(p, data_dir, part_fields) for p in files}
    entries, total_rows = _data_file_entries(
        files, snapshot_id, seq, ice_schema, partitions
    )
    meta_dir = os.path.join(_local(location), "metadata")
    new_manifest = os.path.join(meta_dir, f"{uuid.uuid4()}-m0.avro")
    mlen = write_avro(new_manifest, _manifest_entry_schema(part_fields), entries)
    manifests = [
        {
            "manifest_path": f"file://{new_manifest}",
            "manifest_length": mlen,
            "partition_spec_id": 0,
            "content": 0,
            "sequence_number": seq,
            "min_sequence_number": seq,
            "added_snapshot_id": snapshot_id,
            "added_files_count": len(entries),
            "existing_files_count": 0,
            "deleted_files_count": 0,
            "added_rows_count": total_rows,
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
        }
    ]
    return _commit_new_version(location, meta, snapshot_id, seq, manifests, "overwrite")


def evolve_add_column(
    location: str, name: str, ice_type: str, required: bool = False
) -> int:
    """Schema evolution: add an optional column (new schema-id, fresh
    field id — ids are never reused, per the Iceberg spec). Existing
    data files are untouched; reads surface the column as typed nulls
    until appends populate it. Returns the new schema id."""
    if ice_type not in _ICEBERG_TO_SPARK and not ice_type.startswith("decimal"):
        raise ValueError(f"unsupported column type {ice_type!r}")
    if required:
        raise ValueError(
            "a required column cannot be added to a table with existing "
            "rows (they would all violate it); add it as optional"
        )
    meta = load_table_metadata(location)
    cur = current_schema(meta)
    if any(f["name"] == name for f in cur["fields"]):
        raise ValueError(f"column {name!r} already exists")
    new_id = meta["last-column-id"] + 1
    schema_id = max(s["schema-id"] for s in meta["schemas"]) + 1
    new_schema = {
        "type": "struct",
        "schema-id": schema_id,
        "fields": cur["fields"]
        + [{"id": new_id, "name": name, "required": False, "type": ice_type}],
    }
    meta["schemas"] = meta["schemas"] + [new_schema]
    meta["current-schema-id"] = schema_id
    meta["last-column-id"] = new_id
    meta["last-updated-ms"] = int(time.time() * 1000)
    meta_dir = os.path.join(_local(location), "metadata")
    version = _commit_version_slot(meta_dir, meta)
    _write_version_file(meta_dir, version, meta)
    return schema_id


def evolve_drop_column(location: str, name: str) -> int:
    """Schema evolution: drop a column (metadata-only — data files are
    untouched; reads simply stop projecting it). The field id is
    retired, never reused. Partition source columns cannot be dropped.
    Returns the new schema id."""
    meta = load_table_metadata(location)
    cur = current_schema(meta)
    field = next((f for f in cur["fields"] if f["name"] == name), None)
    if field is None:
        raise ValueError(f"column {name!r} does not exist")
    part_sources = {pf["source-id"] for pf in _identity_spec(meta)}
    if field["id"] in part_sources:
        raise ValueError(f"column {name!r} is a partition source — cannot drop")
    schema_id = max(s["schema-id"] for s in meta["schemas"]) + 1
    new_schema = {
        "type": "struct",
        "schema-id": schema_id,
        "fields": [f for f in cur["fields"] if f["name"] != name],
    }
    meta["schemas"] = meta["schemas"] + [new_schema]
    meta["current-schema-id"] = schema_id
    meta["last-updated-ms"] = int(time.time() * 1000)
    meta_dir = os.path.join(_local(location), "metadata")
    version = _commit_version_slot(meta_dir, meta)
    _write_version_file(meta_dir, version, meta)
    return schema_id


def iceberg_changelog(
    spark: SparkSession, location: str, from_snapshot: int, to_snapshot: int
) -> DataFrame:
    """Row-level diff between two snapshots: the current-schema rows
    with a ``_change`` column ('insert' / 'delete'). Computed as two
    exceptAll set differences over the resolved snapshot reads — MOR
    deletes and schema projection apply on both sides, so the diff is
    exactly what a consumer of the table observed changing."""
    before = read_iceberg_table(spark, location, snapshot_id=from_snapshot)
    after = read_iceberg_table(spark, location, snapshot_id=to_snapshot)
    inserted = after.exceptAll(before).withColumn("_change", F.lit("insert"))
    deleted = before.exceptAll(after).withColumn("_change", F.lit("delete"))
    return inserted.unionByName(deleted)


def rollback_to_snapshot(location: str, snapshot_id: int) -> int:
    """Roll the table back so ``snapshot_id`` is current again (a new
    metadata version — history is preserved, nothing is deleted; the
    reference's snapshot-rollback maintenance op). Later snapshots
    remain pinned-readable until :func:`expire_snapshots`."""
    meta = load_table_metadata(location)
    if snapshot_id not in {s["snapshot-id"] for s in meta.get("snapshots", [])}:
        raise ValueError(
            f"snapshot {snapshot_id} not found "
            f"(have {sorted(s['snapshot-id'] for s in meta['snapshots'])})"
        )
    meta_dir = os.path.join(_local(location), "metadata")
    version = _commit_version_slot(meta_dir, meta)
    now_ms = int(time.time() * 1000)
    meta["current-snapshot-id"] = snapshot_id
    meta["last-updated-ms"] = now_ms
    meta["snapshot-log"] = meta.get("snapshot-log", []) + [
        {"snapshot-id": snapshot_id, "timestamp-ms": now_ms}
    ]
    _write_version_file(meta_dir, version, meta)
    return snapshot_id


def set_ref(
    location: str,
    name: str,
    snapshot_id: int | None = None,
    ref_type: str = "tag",
) -> int:
    """Create or move a named REF (Iceberg spec ``refs`` map: TAG = an
    immutable-by-convention bookmark, BRANCH = a movable head) pointing
    at ``snapshot_id`` (default: current). Refs RETAIN their snapshots
    through :func:`expire_snapshots`, per the spec's ref-retention
    rules. A new metadata version is written; returns the snapshot id."""
    if ref_type not in ("tag", "branch"):
        raise ValueError(f"ref_type must be 'tag' or 'branch', got {ref_type!r}")
    meta = load_table_metadata(location)
    sid = snapshot_id if snapshot_id is not None else meta.get("current-snapshot-id")
    if sid not in {s["snapshot-id"] for s in meta.get("snapshots", [])}:
        raise ValueError(f"snapshot {sid} not found on {location}")
    refs = dict(meta.get("refs") or {})
    refs[name] = {"snapshot-id": sid, "type": ref_type}
    meta["refs"] = refs
    meta_dir = os.path.join(_local(location), "metadata")
    version = _commit_version_slot(meta_dir, meta)
    meta["last-updated-ms"] = int(time.time() * 1000)
    _write_version_file(meta_dir, version, meta)
    return sid


def drop_ref(location: str, name: str) -> None:
    """Remove a named ref (missing name fails loud). The snapshot it
    pinned becomes expirable again."""
    meta = load_table_metadata(location)
    refs = dict(meta.get("refs") or {})
    if name not in refs:
        raise ValueError(f"no ref {name!r} on {location} (have {sorted(refs)})")
    del refs[name]
    meta["refs"] = refs
    meta_dir = os.path.join(_local(location), "metadata")
    version = _commit_version_slot(meta_dir, meta)
    meta["last-updated-ms"] = int(time.time() * 1000)
    _write_version_file(meta_dir, version, meta)


def resolve_ref(location: str, name: str) -> int:
    """Ref name → snapshot id. ``main`` resolves to the current
    snapshot when no explicit ref shadows it (the spec's default
    branch convention)."""
    meta = load_table_metadata(location)
    refs = meta.get("refs") or {}
    if name in refs:
        return refs[name]["snapshot-id"]
    if name == "main" and meta.get("current-snapshot-id") is not None:
        return meta["current-snapshot-id"]
    raise ValueError(f"no ref {name!r} on {location} (have {sorted(refs)})")


def delete_where(spark: SparkSession, location: str, predicate: str) -> int:
    """Row-level DELETE on an external Iceberg table, copy-on-write:
    read the current snapshot, drop matching rows, commit an OVERWRITE.
    For large tables with small deletes prefer the merge-on-read
    :func:`add_position_deletes` / :func:`add_equality_deletes` — this
    is the full-rewrite path (the reference's COW mode)."""
    meta, cur = _pinned_cow_read(spark, location)
    # NOT(pred) is NULL for NULL-predicate rows — those rows did NOT
    # match the delete and must be kept (the r14 delta COW fuzzer find,
    # delta_log.py delete_where_delta; same form here)
    kept = cur.filter(F.coalesce(F.expr(f"NOT ({predicate})"), F.lit(True)))
    return overwrite_snapshot(kept, location, base_meta=meta)


def update_where(
    spark: SparkSession, location: str, set_exprs: dict[str, str], predicate: str
) -> int:
    """Row-level UPDATE (copy-on-write): rows matching ``predicate``
    get each column in ``set_exprs`` replaced by its SQL expression;
    everything else is rewritten unchanged in the same OVERWRITE
    commit (single-snapshot atomicity, like the reference's COW
    update)."""
    meta, cur = _pinned_cow_read(spark, location)
    types = {f.name: f.dataType for f in cur.schema.fields}
    cols = [
        F.when(F.expr(predicate), F.expr(set_exprs[c]).cast(types[c]))
        .otherwise(F.col(c))
        .alias(c)
        if c in set_exprs
        else F.col(c)
        for c in cur.columns
    ]
    return overwrite_snapshot(cur.select(*cols), location, base_meta=meta)


def expire_snapshots(location: str, keep_last: int = 1) -> dict:
    """Expire all but the newest ``keep_last`` snapshots (the current
    snapshot is always kept) and delete files no surviving snapshot
    references — manifest lists, manifests, data and delete files
    (orphan cleanup, the reference's snapshot-expiry maintenance).
    Returns ``{"expired_snapshot_ids": [...], "deleted_files": [...]}``.
    """
    meta = load_table_metadata(location)
    snaps = sorted(meta.get("snapshots", []), key=lambda s: s["sequence-number"])
    keep_last = max(1, keep_last)
    kept, expired = snaps[-keep_last:], snaps[:-keep_last]
    # spec ref-retention: snapshots pinned by a tag/branch ref never
    # expire, regardless of keep_last
    ref_ids = {
        r["snapshot-id"] for r in (meta.get("refs") or {}).values()
    }
    if ref_ids:
        kept = kept + [s for s in expired if s["snapshot-id"] in ref_ids]
        expired = [s for s in expired if s["snapshot-id"] not in ref_ids]
    current = meta.get("current-snapshot-id")
    if current is not None and current not in {s["snapshot-id"] for s in kept}:
        raise ValueError("keep_last would expire the current snapshot")
    if not expired:
        return {"expired_snapshot_ids": [], "deleted_files": []}

    def _referenced(snapshots: list[dict]) -> set[str]:
        refs: set[str] = set()
        for s in snapshots:
            ml = _local(s["manifest-list"])
            refs.add(ml)
            _, manifests = read_avro(ml)
            for m in manifests:
                mp = _local(m["manifest_path"])
                refs.add(mp)
                _, entries = read_avro(mp)
                for e in entries:
                    refs.add(_local(e["data_file"]["file_path"]))
        return refs

    keep_refs = _referenced(kept)
    drop_refs = _referenced(expired)
    doomed = sorted(drop_refs - keep_refs)

    kept_ids = {s["snapshot-id"] for s in kept}
    meta["snapshots"] = [s for s in meta["snapshots"] if s["snapshot-id"] in kept_ids]
    meta["snapshot-log"] = [
        e for e in meta.get("snapshot-log", []) if e["snapshot-id"] in kept_ids
    ]
    meta_dir = os.path.join(_local(location), "metadata")
    version = _commit_version_slot(meta_dir, meta)
    meta["last-updated-ms"] = int(time.time() * 1000)
    _write_version_file(meta_dir, version, meta)
    for p in doomed:
        if os.path.exists(p):
            os.unlink(p)
    return {
        "expired_snapshot_ids": sorted(s["snapshot-id"] for s in expired),
        "deleted_files": doomed,
    }


def add_equality_deletes(location: str, df: DataFrame, columns: list[str] | None = None) -> int:
    """Commit a merge-on-read EQUALITY-delete snapshot (Iceberg v2
    content=2): every table row whose ``columns`` values null-safe
    match a row of ``df`` — and whose data file predates this commit
    (strictly lower sequence number) — is deleted. Rows appended after
    this commit are untouched, per the Iceberg spec's sequence-number
    scoping. ``df`` needs only the equality columns."""
    columns = columns or df.columns
    meta = load_table_metadata(location)
    prev = {s["snapshot-id"]: s for s in meta["snapshots"]}[meta["current-snapshot-id"]]
    _, manifests = read_avro(_local(prev["manifest-list"]))

    schema_fields = current_schema(meta)["fields"]
    name_to_id = {f["name"]: f["id"] for f in schema_fields}
    missing = [c for c in columns if c not in name_to_id]
    if missing:
        raise ValueError(
            f"equality columns {missing} not in table schema "
            f"(have {sorted(name_to_id)})"
        )
    eq_ids = [name_to_id[c] for c in columns]

    del_dir = os.path.join(_local(location), "data", f"eqdel-{uuid.uuid4()}")
    df.select(*columns).write.mode("error").parquet(del_dir)
    files = [
        os.path.join(del_dir, f)
        for f in sorted(os.listdir(del_dir))
        if f.endswith(".parquet")
    ]

    snapshot_id = int(uuid.uuid4().int % (1 << 62))
    seq = meta["last-sequence-number"] + 1
    part_fields = _identity_fields(meta)
    entries, total_rows = [], 0
    for p in files:
        nrows, fsize = _parquet_stats(p)
        total_rows += nrows
        entries.append(
            {
                "status": 1,
                "snapshot_id": snapshot_id,
                "sequence_number": seq,
                "file_sequence_number": seq,
                "data_file": {
                    "content": 2,  # equality deletes
                    "file_path": f"file://{p}",
                    "file_format": "PARQUET",
                    "partition": {n: None for n, _ in part_fields},
                    "record_count": nrows,
                    "file_size_in_bytes": fsize,
                    "equality_ids": eq_ids,
                },
            }
        )
    meta_dir = os.path.join(_local(location), "metadata")
    del_manifest = os.path.join(meta_dir, f"{uuid.uuid4()}-m0.avro")
    dlen = write_avro(del_manifest, _manifest_entry_schema(part_fields), entries)
    manifests = list(manifests) + [
        {
            "manifest_path": f"file://{del_manifest}",
            "manifest_length": dlen,
            "partition_spec_id": meta.get("default-spec-id", 0),
            "content": 1,  # deletes manifest
            "sequence_number": seq,
            "min_sequence_number": seq,
            "added_snapshot_id": snapshot_id,
            "added_files_count": len(entries),
            "existing_files_count": 0,
            "deleted_files_count": 0,
            "added_rows_count": total_rows,
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
        }
    ]
    return _commit_new_version(location, meta, snapshot_id, seq, manifests, "delete")


# ---------------------------------------------------------------------------
# introspection (the external half of the reference's lake_iceberg.*
# functions: metadata(url) / snapshots(url) / files(url) /
# table_size(url) / data_file_stats(url) —
# pg_lake_iceberg/src/iceberg/iceberg_functions.c:36-38,
# pg_lake_iceberg/pg_lake_iceberg--3.0.sql:18-73)
# ---------------------------------------------------------------------------


def iceberg_metadata(spark: SparkSession, location: str) -> DataFrame:
    """One-row summary of the table's current metadata."""
    meta = load_table_metadata(location)
    schema = current_schema(meta)
    return local_frame(
        spark,
        [
            (
                meta["table-uuid"],
                meta["format-version"],
                meta["location"],
                meta.get("current-snapshot-id"),
                meta["last-sequence-number"],
                len(meta.get("snapshots", [])),
                len(schema["fields"]),
            )
        ],
        "table_uuid string, format_version int, location string, "
        "current_snapshot_id long, last_sequence_number long, "
        "n_snapshots int, n_columns int",
    )


def iceberg_snapshots(spark: SparkSession, location: str) -> DataFrame:
    """Snapshot history (id, sequence number, timestamp, operation)."""
    meta = load_table_metadata(location)
    rows = [
        (
            s["snapshot-id"],
            s["sequence-number"],
            s["timestamp-ms"],
            s.get("summary", {}).get("operation"),
            s["snapshot-id"] == meta.get("current-snapshot-id"),
        )
        for s in meta.get("snapshots", [])
    ]
    return local_frame(
        spark,
        rows,
        "snapshot_id long, sequence_number long, timestamp_ms long, "
        "operation string, is_current boolean",
    )


def iceberg_files(
    spark: SparkSession, location: str, snapshot_id: int | None = None
) -> DataFrame:
    """Live files of a snapshot with content code (0=data, 1=position
    deletes, 2=equality deletes), record counts and sizes."""
    rows = [
        (
            d["file_path"],
            d.get("content", 0) or 0,
            d.get("file_format"),
            d.get("record_count"),
            d.get("file_size_in_bytes"),
        )
        for d in _live_entries(location, snapshot_id)
    ]
    return local_frame(
        spark,
        rows,
        "file_path string, content int, file_format string, "
        "record_count long, file_size_in_bytes long",
    )


def iceberg_table_size(location: str, snapshot_id: int | None = None) -> int:
    """Total bytes of the snapshot's live files (data + deletes)."""
    return sum(
        d.get("file_size_in_bytes") or 0
        for d in _live_entries(location, snapshot_id)
    )


def iceberg_data_file_stats(
    spark: SparkSession, location: str, snapshot_id: int | None = None
) -> DataFrame:
    """Per-data-file parquet footer stats (row count, size, row groups,
    compressed/uncompressed bytes) — driver-side footer reads only, no
    data scan (reference: data_file_stats.c harvesting write stats)."""
    import pyarrow.parquet as pq

    rows = []
    for d in _live_entries(location, snapshot_id):
        if (d.get("content", 0) or 0) != 0:
            continue
        p = _local(d["file_path"])
        md = pq.ParquetFile(p).metadata
        comp = sum(md.row_group(i).total_byte_size for i in range(md.num_row_groups))
        rows.append(
            (d["file_path"], md.num_rows, os.path.getsize(p), md.num_row_groups, comp)
        )
    return local_frame(
        spark,
        rows,
        "file_path string, num_rows long, file_size_bytes long, "
        "num_row_groups int, total_uncompressed_bytes long",
    )


def iceberg_partitions(
    spark: SparkSession, location: str, snapshot_id: int | None = None
) -> DataFrame:
    """Per-partition rollup of a snapshot's data files (the
    ``partitions`` metadata-table every Iceberg engine exposes): one
    row per distinct partition tuple with file/row/byte totals —
    metadata-only, no data read. The partition tuple renders as JSON
    text (tuples vary in shape across specs)."""
    import json as _json

    agg: dict[str, list] = {}
    for d in _live_entries(location, snapshot_id):
        if (d.get("content", 0) or 0) != 0:
            continue
        key = _json.dumps(d.get("partition") or {}, sort_keys=True, default=str)
        slot = agg.setdefault(key, [0, 0, 0])
        slot[0] += 1
        slot[1] += d.get("record_count") or 0
        slot[2] += d.get("file_size_in_bytes") or 0
    rows = [(k, v[0], v[1], v[2]) for k, v in sorted(agg.items())]
    return local_frame(
        spark,
        rows, "partition string, file_count long, record_count long, total_bytes long"
    )


def merge_into(
    spark: SparkSession,
    location: str,
    source: DataFrame,
    on: list[str],
    when_matched_update: dict[str, str] | None = None,
    when_matched_delete: str | None = None,
    insert_not_matched: bool = True,
) -> int:
    """MERGE INTO an external Iceberg table, copy-on-write: one
    OVERWRITE snapshot carries updates, deletes and inserts together
    (the same single-commit atomicity the internal LakeTable.merge and
    the reference's writable-table MERGE provide —
    pg_lake_table/src/fdw/writable_table.c). Semantics:

    - rows matching a source row on ``on``: updated with
      ``when_matched_update`` SQL expressions (source columns
      available as ``src.<col>``), or deleted when
      ``when_matched_delete`` (a predicate over target+src) holds;
    - source rows matching no target row: inserted when
      ``insert_not_matched`` (source must carry the full schema).

    Duplicate source keys are rejected (ANSI MERGE's cardinality
    rule) — a nondeterministic multi-update must fail loud."""
    base_meta, cur = _pinned_cow_read(spark, location)
    tgt_cols = cur.columns
    dup = source.groupBy(*on).count().filter(F.col("count") > 1).limit(1).collect()
    if dup:
        raise ValueError(f"MERGE source has duplicate key {dup[0]}: ANSI cardinality violation")
    src = source.select([F.col(c).alias(f"__src_{c}") for c in source.columns])
    cond = None
    for k in on:
        c = F.col(k).eqNullSafe(F.col(f"__src_{k}"))
        cond = c if cond is None else (cond & c)
    # presence flags survive the outer join explicitly (key columns may
    # legitimately hold NULLs — eqNullSafe matches them)
    cur_flagged = cur.withColumn("__tgt_present", F.lit(True))
    src = src.withColumn("__src_present", F.lit(True))
    joined = cur_flagged.join(src, cond, "full_outer")
    tgt_present = F.col("__tgt_present").isNotNull()
    src_present = F.col("__src_present").isNotNull()
    matched = tgt_present & src_present

    # expression environment: src.<col> refers to the source side
    def _rewrite(expr: str) -> F.Column:
        out = expr
        for c in source.columns:
            out = out.replace(f"src.{c}", f"__src_{c}")
        return F.expr(out)

    types = {f.name: f.dataType for f in cur.schema.fields}
    keep_pred = F.lit(True)
    if when_matched_delete is not None:
        # ANSI MERGE: a NULL condition is NOT satisfied — the row is
        # kept. Without the coalesce, ~(matched & NULL) is NULL and
        # filter() would silently delete rows whose predicate touches
        # nullable columns.
        keep_pred = ~F.coalesce(matched & _rewrite(when_matched_delete), F.lit(False))
    out_cols = []
    for c in tgt_cols:
        col = F.col(c)
        if when_matched_update and c in when_matched_update:
            col = F.when(matched, _rewrite(when_matched_update[c]).cast(types[c])).otherwise(col)
        if insert_not_matched:
            col = F.when(
                ~tgt_present & src_present,
                F.col(f"__src_{c}").cast(types[c]) if c in source.columns else F.lit(None).cast(types[c]),
            ).otherwise(col)
        out_cols.append(col.alias(c))
    result = (
        joined.filter(keep_pred)
        .filter(tgt_present | (src_present & F.lit(insert_not_matched)))
        .select(*out_cols)
    )
    return overwrite_snapshot(result, location, base_meta=base_meta)


def compact_files(
    spark: SparkSession, location: str, target_file_mb: int = 512
) -> dict:
    """Compaction for an external Iceberg table: rewrite the current
    snapshot's data files into ~``target_file_mb`` outputs (folding
    any MOR position/equality deletes into the rewrite) and commit
    ONE OVERWRITE snapshot — the reference's OPTIMIZE maintenance.
    Prior snapshots stay pinned-readable until expire_snapshots.
    Returns {"files_before", "files_after", "snapshot_id"}."""
    meta = load_table_metadata(location)
    mf = meta["_metadata-file"]
    data_files = [
        d["file_path"]
        for d in _live_entries(location, None, mf, spark=spark)
        if (d.get("content", 0) or 0) == 0
    ]
    n_before = len(data_files)
    total_bytes = sum(os.path.getsize(_local(p)) for p in data_files)
    n_out = max(1, round(total_bytes / (target_file_mb * 1024 * 1024)))
    # pinned to the SAME metadata version the commit slot is based on
    # (deletes applied here) — see _pinned_cow_read
    cur = read_iceberg_table(spark, location, metadata_file=mf)
    snap_id = overwrite_snapshot(
        cur.repartition(n_out), location, base_meta=meta
    )
    after, _ = snapshot_files(location)
    return {
        "files_before": n_before,
        "files_after": len(after),
        "snapshot_id": snap_id,
    }


def uniform_export_iceberg(spark: SparkSession, delta_location: str) -> int:
    """UniForm analog (delta-io "Universal Format"): generate Iceberg
    v2 metadata UNDER THE DELTA TABLE ROOT (``<table>/metadata``, the
    real UniForm layout) whose manifests reference the Delta snapshot's
    live parquet files by absolute path — the SAME bytes become
    readable through :func:`read_iceberg_table` (and any Iceberg
    client) with zero data copied. Per-column null counts and bounds
    are harvested from the parquet footers, identity partition tuples
    from the Delta log's ``add.partitionValues`` (typed, never
    re-inferred from paths).

    Parity limits, both fail-loud and both matching real UniForm's
    documented preconditions: deletion vectors must be absent
    (delta-spark requires DVs disabled for UniForm; materialize them
    first with ``optimize_delta``) and column mapping must be "none"
    here (real UniForm instead REQUIRES mapping — an artifact of field
    IDs; this minimal writer binds by name). Re-running after new Delta
    commits writes the next metadata version with a fresh snapshot."""
    from pg_datalake_spark.tables import delta_log as dl

    state = dl._snapshot_state(spark, delta_location, None)
    meta = state["metaData"] or {}
    if dl._cm_mode(meta) != "none":
        raise NotImplementedError(
            "uniform_export_iceberg supports unmapped Delta tables only "
            "(column mapping changes the physical parquet names)"
        )
    if any(a.get("deletionVector") for a in state["adds"].values()):
        raise NotImplementedError(
            "deletion vectors present: UniForm requires DVs disabled — "
            "run optimize_delta() to materialize them, then re-export"
        )
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    ice_schema = _iceberg_schema(schema)
    part_cols = list(meta.get("partitionColumns") or [])
    by_name = {f["name"]: f["type"] for f in ice_schema["fields"]}
    part_fields = [(c, by_name[c]) for c in part_cols]
    _abs = dl._make_abs(delta_location)

    def typed(name: str, ice_type: str, raw: str | None):
        if raw is None or raw == "__HIVE_DEFAULT_PARTITION__":
            return None
        if ice_type in ("int", "long"):
            return int(raw)
        if ice_type == "double":
            return float(raw)
        if ice_type == "boolean":
            return raw.lower() == "true"
        if ice_type == "date":
            import datetime as _dt

            return (_dt.date.fromisoformat(raw) - _dt.date(1970, 1, 1)).days
        return raw

    files, partitions = [], {}
    for a in state["adds"].values():
        p = _abs(a["path"])
        files.append(p)
        pv = a.get("partitionValues") or {}
        partitions[p] = {
            name: typed(name, t, pv.get(name)) for name, t in part_fields
        }
    snapshot_id = int(uuid.uuid4().int % (1 << 62))
    now_ms = int(time.time() * 1000)
    meta_dir = os.path.join(_local(delta_location), "metadata")
    os.makedirs(meta_dir, exist_ok=True)
    hint = os.path.join(meta_dir, "version-hint.text")
    prev = (
        load_table_metadata(delta_location) if os.path.exists(hint) else None
    )
    version = _commit_version_slot(meta_dir, prev) if prev else 1
    seq = (prev.get("last-sequence-number", 0) + 1) if prev else 1

    entries, total_rows = _data_file_entries(
        sorted(files), snapshot_id, seq, ice_schema, partitions
    )
    data_manifest = os.path.join(meta_dir, f"{uuid.uuid4()}-m0.avro")
    mlen = write_avro(data_manifest, _manifest_entry_schema(part_fields), entries)
    manifests = [
        {
            "manifest_path": f"file://{data_manifest}",
            "manifest_length": mlen,
            "partition_spec_id": 0,
            "content": 0,
            "sequence_number": seq,
            "min_sequence_number": seq,
            "added_snapshot_id": snapshot_id,
            "added_files_count": len(entries),
            "existing_files_count": 0,
            "deleted_files_count": 0,
            "added_rows_count": total_rows,
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
        }
    ]
    manifest_list = os.path.join(
        meta_dir, f"snap-{snapshot_id}-1-{uuid.uuid4()}.avro"
    )
    write_avro(manifest_list, _MANIFEST_FILE_SCHEMA, manifests)
    snapshot = {
        "snapshot-id": snapshot_id,
        "sequence-number": seq,
        "timestamp-ms": now_ms,
        "manifest-list": f"file://{manifest_list}",
        "summary": {
            "operation": "append",
            "delta-version": str(state["version"]),
        },
        "schema-id": 0,
    }
    if prev:
        prev["snapshots"] = prev.get("snapshots", []) + [snapshot]
        prev["snapshot-log"] = prev.get("snapshot-log", []) + [
            {"snapshot-id": snapshot_id, "timestamp-ms": now_ms}
        ]
        prev["current-snapshot-id"] = snapshot_id
        prev["last-sequence-number"] = seq
        prev["last-updated-ms"] = now_ms
        metadata = prev
    else:
        metadata = {
            "format-version": 2,
            "table-uuid": str(uuid.uuid4()),
            "location": delta_location,
            "last-sequence-number": seq,
            "last-updated-ms": now_ms,
            "last-column-id": len(schema.fields),
            "current-schema-id": 0,
            "schemas": [ice_schema],
            "default-spec-id": 0,
            "partition-specs": [
                {
                    "spec-id": 0,
                    "fields": [
                        {
                            "name": c,
                            "transform": "identity",
                            "source-id": next(
                                f["id"] for f in ice_schema["fields"]
                                if f["name"] == c
                            ),
                            "field-id": 1000 + i,
                        }
                        for i, c in enumerate(part_cols)
                    ],
                }
            ],
            "last-partition-id": 999 + len(part_cols),
            "default-sort-order-id": 0,
            "sort-orders": [{"order-id": 0, "fields": []}],
            "properties": {
                "write.format.default": "parquet",
                "delta.universalFormat.enabledFormats": "iceberg",
            },
            "current-snapshot-id": snapshot_id,
            "snapshots": [snapshot],
            "snapshot-log": [
                {"snapshot-id": snapshot_id, "timestamp-ms": now_ms}
            ],
            "metadata-log": [],
        }
    _write_version_file(meta_dir, version, metadata)
    return snapshot_id
