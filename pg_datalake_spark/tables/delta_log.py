"""Delta Lake transaction-log interop (pure-Python metadata layer).

The reference engine reads Delta tables natively
(pg_lake_engine/src/pgduck/read_data.c:286,
docs/file-formats-reference.md:33-37). Spark's first-class path is the
delta-spark DataSourceV2 (jars), which this offline runtime lacks — so,
exactly like the Iceberg layer (iceberg_external.py / avro_codec.py),
the table FORMAT is handled by a small pure-Python reader of the public
Delta transaction-log protocol (delta-io/delta PROTOCOL.md):

- ``_delta_log/%020d.json`` commits hold newline-delimited actions
  (``protocol`` / ``metaData`` / ``add`` / ``remove`` / ``commitInfo``);
- ``_delta_log/%020d.checkpoint.parquet`` + ``_last_checkpoint``
  compact the log so readers replay only the tail;
- snapshot state = checkpoint adds + replayed tail, last-writer-wins
  per file path; ``remove`` tombstones drop the path;
- ``metaData.schemaString`` is Spark StructType JSON; partition-column
  values live in ``add.partitionValues`` (NOT in the data files) and
  are restored as typed literal columns.

:func:`read_delta_table` reconstructs the active file set (optionally
pinned with ``version_as_of``) and hands it to ``spark.read.parquet`` —
the scan itself is a plain distributed parquet read with full pushdown
and pruning. Snapshot replay follows ONE byte rule
(:data:`_TAIL_DRIVER_BYTES`, 4 MiB — the Iceberg reader's
``_MANIFEST_DRIVER_BYTES`` split): when the checkpoint files (every
part and V2 sidecar) plus the JSON tail total at most that, the whole
replay runs on the driver — the checkpoint is read with
``pyarrow.parquet`` and no Spark job starts. Larger logs replay in
Spark: the checkpoint adds stay JVM-side until the tail is
reconciled, and a tail that alone exceeds the rule reconciles in
Spark too (:func:`_replay_tail_distributed`).

DELETION VECTORS (r8; PROTOCOL.md "Deletion Vectors" — the default
row-delete mechanism of modern Delta writers) are fully applied on
read: descriptors (inline ``"i"``, UUID sidecar
``"u"``, absolute ``"p"``) are decoded from their Z85 / portable-
roaring-bitmap encoding (tables/dv_codec.py) and anti-joined on the
raw ``(_metadata.file_path, _metadata.row_index)`` — the same
merge-on-read shape as Iceberg position deletes. Each tombstone names
its file as the URI Spark reports, so no row has its path decoded.
Where the decode runs follows the join strategy: tombstones within
:data:`~pg_datalake_spark.tables.tombstones.DRIVER_ROWS` are broadcast,
so the driver decodes them and hands Spark one Arrow table; larger (or
unknown) ones are decoded executor-side (``mapInPandas``) and shuffled.
A DV delete follows the same bound on its write side. Rows the driver holds
(descriptor frames, checkpoint actions, empty frames) reach Spark
through :func:`~pg_datalake_spark.session.local_frame`, never a
Python-worker RDD. Still-unsupported reader features (column mapping,
reader protocol > 3) fail loud rather than silently dropping or
duplicating rows.

The writer half (:func:`write_delta_table` / :func:`append_delta` /
:func:`delete_where_delta` — copy-on-write or ``mode="dv"`` — /
:func:`write_delta_checkpoint` / :func:`vacuum_delta`) exists so the
read path can be exercised and oracle-checked offline end-to-end
against multi-commit histories; the reference itself is read-only on
Delta, so the writer is deliberately minimal (no
optimistic-concurrency loop beyond put-if-absent, no CDC emission).
"""

from __future__ import annotations

import json
import os
import time
import urllib.parse
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pg_datalake_spark.session import local_frame, sql_ident, sql_literal
from pg_datalake_spark.tables import tombstones
from pg_datalake_spark.tables.commit import CommitConflictError, put_if_absent

_LOG_DIR = "_delta_log"
# Reader versions this implementation understands. 2 adds column
# mapping (supported only in mode "none"); 3 switches to explicit
# readerFeatures, of which we support none beyond the implicit base.
_MAX_READER_VERSION = 2


def _log_dir(location: str) -> str:
    return os.path.join(location, _LOG_DIR)


def _commit_path(location: str, version: int) -> str:
    return os.path.join(_log_dir(location), f"{version:020d}.json")


def _checkpoint_path(location: str, version: int) -> str:
    return os.path.join(_log_dir(location), f"{version:020d}.checkpoint.parquet")


def _list_commit_versions(location: str) -> list[int]:
    d = _log_dir(location)
    if not os.path.isdir(d):
        raise FileNotFoundError(f"not a Delta table (no {_LOG_DIR}): {location}")
    out = []
    for name in os.listdir(d):
        if name.endswith(".json") and name[:-5].isdigit():
            out.append(int(name[:-5]))
    return sorted(out)


def _write_commit(location: str, version: int, actions: list[dict]) -> int:
    """Publish the commit file whole — its put-if-absent IS the
    check-and-swap of Delta's commit protocol."""
    os.makedirs(_log_dir(location), exist_ok=True)
    text = "".join(json.dumps(a, separators=(",", ":")) + "\n" for a in actions)
    put_if_absent(_commit_path(location, version), text)
    return version


# ---------------------------------------------------------------------------
# Snapshot reconstruction
# ---------------------------------------------------------------------------


def _replay_json_commit(path: str, state: dict) -> None:
    """Apply ONE commit with Delta's per-version reconciliation: within
    a single commit an ``add`` of a path wins over a ``remove`` of the
    SAME path regardless of their order in the file (PROTOCOL.md
    "Action Reconciliation"). DV commits from external writers are
    exactly this remove+add-same-path pair, sometimes serialized
    add-first — file-order replay would silently drop the whole file.
    Two passes per commit: removes, then adds."""
    adds: list[dict] = []
    removes: list[dict] = []
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if not line:
                continue
            action = json.loads(line)
            if "metaData" in action:
                state["metaData"] = action["metaData"]
            elif "protocol" in action:
                state["protocol"] = action["protocol"]
            elif "add" in action:
                adds.append(action["add"])
            elif "remove" in action:
                removes.append(action["remove"])
            elif "txn" in action:
                # application transaction watermarks (PROTOCOL.md
                # "Transaction Identifiers") — the idempotence handle
                # streaming sinks key their batch replays on
                t = action["txn"]
                state["txns"][t["appId"]] = max(
                    state["txns"].get(t["appId"], -1), int(t["version"])
                )
            # commitInfo / cdc: no effect on the active file set
    # "_touched" is seeded (by _replay_tail_touched) ONLY when a
    # checkpoint's adds are reconciled against the tail afterwards; the
    # no-checkpoint replay skips the bookkeeping entirely
    touched = state.get("_touched")
    for r in removes:
        state["adds"].pop(r["path"], None)
        if touched is not None:
            touched.add(r["path"])
    for a in adds:
        # snapshot add contract (r14): BOTH replay paths — this driver
        # loop and _replay_tail_distributed's _TAIL_ACTION_DDL read —
        # keep exactly the _CP_ADD_FIELDS set, so a tail is replayed
        # identically whichever path its size routes it to. Foreign
        # writers' extra fields (tags, baseRowId,
        # defaultRowCommitVersion, clusteringProvider, …) are NOT part
        # of snapshot state; write_delta_checkpoint re-serializes from
        # this contract on every path.
        state["adds"][a["path"]] = {
            k: v for k, v in a.items()
            if k in _CP_ADD_FIELDS and v is not None
        }
        if touched is not None:
            touched.add(a["path"])


def _checkpoint_files(location: str, version: int) -> list[str] | None:
    """The parquet file(s) making up a COMPLETE checkpoint for
    ``version``, or None (so the caller's contiguity guard fails loud
    rather than seeding partial add-state). Three public layouts
    (PROTOCOL.md "Checkpoints"):

    - classic single file ``%020d.checkpoint.parquet``;
    - V1 multi-part ``%020d.checkpoint.%010d.%010d.parquet`` (part i
      of n) — ALL n parts are required, each holding a slice of the
      actions;
    - V2 UUID-named manifest ``%020d.checkpoint.<uuid>.parquet`` —
      recognized ONLY when the middle token parses as a UUID, never by
      the bare glob (a multi-part part would otherwise be mistaken for
      a complete manifest and silently drop adds).
    """
    classic = _checkpoint_path(location, version)
    if os.path.exists(classic):
        return [classic]
    import glob as _g

    prefix = f"{version:020d}.checkpoint."
    hits = sorted(_g.glob(os.path.join(_log_dir(location), prefix + "*.parquet")))
    multi: dict[int, dict[int, str]] = {}
    for p in hits:
        mid = os.path.basename(p)[len(prefix) : -len(".parquet")]
        try:
            uuid.UUID(mid)
            return [p]  # V2 manifest (its sidecars are resolved on replay)
        except ValueError:
            pass
        part = mid.split(".")
        if len(part) == 2 and all(s.isdigit() for s in part):
            multi.setdefault(int(part[1]), {})[int(part[0])] = p
    for total, got in sorted(multi.items()):
        if set(got) == set(range(1, total + 1)):
            return [got[i] for i in range(1, total + 1)]
    return None


def _apply_checkpoint_rows(rows, state: dict) -> None:
    """Apply a checkpoint's non-add action rows — plain dicts, MAPs as
    dicts — to replay state. Both checkpoint routes feed it."""
    for d in rows:  # bounded metadata: a handful of singleton actions
        if d.get("metaData") and d["metaData"].get("id"):
            state["metaData"] = d["metaData"]
        elif d.get("protocol") and d["protocol"].get("minReaderVersion") is not None:
            state["protocol"] = d["protocol"]
        elif d.get("txn") and d["txn"].get("appId"):
            t = d["txn"]
            state["txns"][t["appId"]] = max(
                state["txns"].get(t["appId"], -1), int(t["version"])
            )


# add-struct fields snapshot state actually consumes. Everything else —
# above all the per-file `stats` JSON string, which on a real 100 TB
# table (~200k adds at 512 MB/file, fat column stats) is GBs — is
# pruned OUT of the checkpoint read so it never reaches the driver.
_CP_ADD_FIELDS = (
    "path",
    "partitionValues",
    "size",
    "modificationTime",
    "dataChange",
    "stats",
    "deletionVector",
)


def _pruned_cp_schema(file_schema: T.StructType, need_stats: bool) -> T.StructType:
    """Read schema for a checkpoint parquet: only the action columns
    replay consumes (add/metaData/protocol(+sidecar)), and within
    ``add`` only :data:`_CP_ADD_FIELDS` — ``stats`` kept only when the
    caller re-serializes actions (checkpoint rewrite must not drop the
    stats.numRecords that DV adds are required to carry). Field types
    are taken from the FILE footer so foreign writers' extra fields
    are skipped without a type-mismatch."""
    keep_add = set(_CP_ADD_FIELDS) - (set() if need_stats else {"stats"})
    out = []
    for f in file_schema.fields:
        if f.name == "add" and isinstance(f.dataType, T.StructType):
            sub = [sf for sf in f.dataType.fields if sf.name in keep_add]
            out.append(T.StructField("add", T.StructType(sub), f.nullable))
        elif f.name in ("metaData", "protocol", "txn", "sidecar", "checkpointMetadata"):
            out.append(f)
    return T.StructType(out)


def _maps_as_dicts(value, typ):
    """One pyarrow value in the shape ``Row.asDict(recursive=True)``
    gives the Spark route: a MAP becomes a dict, not pyarrow's list of
    (key, value) pairs."""
    import pyarrow as pa

    if value is None:
        return None
    if pa.types.is_map(typ):
        return {k: _maps_as_dicts(v, typ.item_type) for k, v in value}
    if pa.types.is_struct(typ):
        return {f.name: _maps_as_dicts(value[f.name], f.type) for f in typ}
    return value  # Delta actions nest no MAP inside a list


def _arrow_pylist(arr) -> list:
    """``arr.to_pylist()`` with MAPs as dicts (:func:`_maps_as_dicts`).
    Strings, null-free integers/booleans and maps of those convert in
    bulk through numpy: ``to_pylist`` builds one scalar per element,
    which made a 500k-add checkpoint's read about 10x slower."""
    import pyarrow as pa

    t = arr.type
    if arr.null_count == len(arr):
        return [None] * len(arr)
    if pa.types.is_string(t) or pa.types.is_large_string(t) or (
        arr.null_count == 0 and (pa.types.is_integer(t) or pa.types.is_boolean(t))
    ):
        return arr.to_numpy(zero_copy_only=False).tolist()
    if pa.types.is_map(t) and not pa.types.is_nested(t.item_type):
        # offsets index the whole keys/items children, sliced or not
        offs = arr.offsets.to_numpy().tolist()
        keys, items = _arrow_pylist(arr.keys), _arrow_pylist(arr.items)
        valid = arr.is_valid().to_numpy(zero_copy_only=False).tolist()
        return [
            dict(zip(keys[a:b], items[a:b])) if ok else None
            for a, b, ok in zip(offs, offs[1:], valid)
        ]
    vals = arr.to_pylist()
    if pa.types.is_nested(t):
        vals = [_maps_as_dicts(v, t) for v in vals]
    return vals


def _driver_checkpoint_files(
    location: str, cp_files: list[str], tail_paths: list[str]
) -> list[str] | None:
    """The byte rule: every parquet file of the checkpoint — its parts,
    then the sidecars a V2 manifest names — when those files plus the
    JSON tail total at most :data:`_TAIL_DRIVER_BYTES`; None routes the
    replay to Spark. Sidecar names are read (one column) only once the
    parts and the tail already fit. A stat failure routes to Spark too:
    a multi-GB log must never reach the driver on a stat hiccup (the
    r14 getsize lesson)."""
    import pyarrow.parquet as pq

    try:
        room = _TAIL_DRIVER_BYTES - sum(
            os.path.getsize(p) for p in [*cp_files, *tail_paths]
        )
        if room < 0:
            return None
        sidecars = []
        for p in cp_files:
            with pq.ParquetFile(p) as pf:
                if "sidecar" not in pf.schema_arrow.names:
                    continue
                col = pf.read(columns=["sidecar.path"]).column("sidecar")
            sidecars += [
                os.path.join(_log_dir(location), "_sidecars", s["path"])
                for s in col.to_pylist()
                if s and s["path"]
            ]
        if sum(os.path.getsize(s) for s in sidecars) > room:
            return None
    except OSError:
        return None
    return [*cp_files, *sidecars]


def _read_checkpoint_driver(
    files: list[str], state: dict, need_stats: bool
) -> dict:
    """Driver route of the checkpoint read (logs within the byte rule):
    ``pyarrow.parquet`` in record batches, projected to the columns the
    Spark route's :func:`_pruned_cp_schema` keeps — ``add`` narrowed to
    :data:`_CP_ADD_FIELDS`, ``stats`` only with ``need_stats``.
    metaData/protocol/txn rows apply to ``state``; the adds are
    returned keyed by path in file order (parts, then sidecars), shaped
    exactly like the Spark route's (MAPs as dicts, null fields
    dropped)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    keep_add = set(_CP_ADD_FIELDS) - (set() if need_stats else {"stats"})
    adds: dict = {}
    for path in files:
        with pq.ParquetFile(path) as pf:
            cols = []
            for f in pf.schema_arrow:
                if f.name == "add" and pa.types.is_struct(f.type):
                    cols += [f"add.{sf.name}" for sf in f.type if sf.name in keep_add]
                elif f.name in ("metaData", "protocol", "txn"):
                    cols.append(f.name)
            for batch in pf.iter_batches(columns=cols):
                rest = batch
                if "add" in batch.schema.names:
                    is_add = pc.is_valid(batch.column("add"))
                    add_rows = batch.column("add").filter(is_add)
                    fields = [f.name for f in add_rows.type]
                    for vals in zip(*map(_arrow_pylist, add_rows.flatten())):
                        a = {k: v for k, v in zip(fields, vals) if v is not None}
                        if "path" in a:
                            adds[a["path"]] = a
                    rest = batch.filter(pc.invert(is_add))
                others = [n for n in rest.schema.names if n != "add"]
                columns = [_arrow_pylist(rest.column(n)) for n in others]
                _apply_checkpoint_rows(
                    (dict(zip(others, vals)) for vals in zip(*columns)), state
                )
    return adds


def _load_checkpoint(
    spark: SparkSession,
    location: str,
    paths: list[str],
    state: dict,
    need_stats: bool = False,
) -> list[DataFrame]:
    """Spark route of the checkpoint read, for logs past the byte rule
    (:func:`_driver_checkpoint_files`). One row per action, struct
    columns ``add`` / ``metaData`` / ``protocol`` (removes are vacuum
    tombstones — irrelevant to the active set at the checkpoint
    version, so ignored). V2 (UUID-named) checkpoints are supported
    since r8: the manifest's own action rows are applied, then every
    ``sidecar`` row's parquet under ``_delta_log/_sidecars/`` is read
    the same way — the sidecars hold the add/remove batches the
    manifest spilled out (PROTOCOL.md "V2 Checkpoint Spec"). V1
    multi-part checkpoints (every part a slice of the actions) are
    read part by part.

    A checkpoint this large can hold millions of add actions, so the
    ADD set stays JVM-side on this route: only the singleton non-add
    actions (metaData/protocol/txn + sidecar pointers — a handful of
    rows, filtered JVM-side) are collected, and the adds are returned
    as pruned, FLATTENED DataFrames for :func:`_replay_checkpoint_spark`
    to reconcile distributively, collecting only the LIVE file list at
    the end."""
    add_dfs: list[DataFrame] = []

    def _flat_adds(df: DataFrame) -> DataFrame:
        names = [f.name for f in df.schema["add"].dataType.fields]
        return df.filter(F.col("add.path").isNotNull()).select(
            *[F.col(f"add.{n}").alias(n) for n in names]
        )

    for path in paths:
        full_schema = spark.read.parquet(path).schema  # footer-only read
        pruned = _pruned_cp_schema(full_schema, need_stats)
        df = spark.read.schema(pruned).parquet(path)
        small = df
        if "add" in df.columns:
            # non-add action rows only; vacuum remove-tombstone rows
            # (all kept columns null after pruning) stay out too
            others = [c for c in df.columns if c != "add"]
            any_other = F.lit(False)
            for c in others:
                any_other = any_other | F.col(c).isNotNull()
            small = df.filter(F.col("add").isNull() & any_other)
        rows = small.collect()
        _apply_checkpoint_rows((r.asDict(recursive=True) for r in rows), state)
        if "add" in df.columns:
            add_dfs.append(_flat_adds(df))
        if "sidecar" in df.columns:
            sidecars = [
                r.asDict(recursive=True)["sidecar"]["path"]
                for r in rows
                if r["sidecar"] is not None
            ]
            for rel in sidecars:
                sc = os.path.join(_log_dir(location), "_sidecars", rel)
                sc_schema = _pruned_cp_schema(
                    spark.read.parquet(sc).schema, need_stats
                )
                scdf = spark.read.schema(sc_schema).parquet(sc)
                if "add" in scdf.columns:
                    add_dfs.append(_flat_adds(scdf))
    return add_dfs


def _replay_tail_touched(tail_paths: list[str], state: dict) -> tuple[dict, set]:
    """Driver replay of a tail whose checkpoint adds are held apart:
    returns (the tail's net adds, every path the tail removed or
    added). Of the checkpoint adds only the untouched paths survive."""
    state["_touched"] = set()
    for p in tail_paths:
        _replay_json_commit(p, state)
    return state["adds"], state.pop("_touched")


def _snapshot_state(
    spark: SparkSession,
    location: str,
    version_as_of: int | None,
    need_stats: bool = False,
) -> dict:
    versions = _list_commit_versions(location)
    cp_version: int | None = None
    last_cp = os.path.join(_log_dir(location), "_last_checkpoint")
    if os.path.exists(last_cp):
        with open(last_cp) as fh:
            cp_version = json.load(fh)["version"]
    if not versions and cp_version is None:
        raise FileNotFoundError(f"empty Delta log under {location}")
    # a fully-cleaned log (every JSON commit vacuumed) is legal when the
    # checkpoint alone covers the newest version
    newest = max([*versions, *( [cp_version] if cp_version is not None else [] )])
    target = newest if version_as_of is None else version_as_of
    if target not in versions and _checkpoint_files(location, target) is None:
        if cp_version is not None and target == cp_version:
            raise NotImplementedError(
                f"Delta checkpoint for version {target} under {location} is "
                "incomplete (multi-part checkpoint with missing parts?) and "
                "its JSON commit is cleaned; restore the checkpoint files"
            )
        raise ValueError(
            f"version {target} not in Delta log (have checkpoints/commits "
            f"up to {newest})"
        )
    state: dict = {
        "adds": {},
        "metaData": None,
        "protocol": None,
        "version": target,
        "txns": {},
    }

    start = 0
    cp_files = None
    if cp_version is not None and cp_version <= target:
        cp_files = _checkpoint_files(location, cp_version)
        if cp_files is not None:
            start = cp_version + 1

    # The replay is only sound over a CONTIGUOUS commit range: if the
    # earliest surviving JSON commit is newer than where the replay
    # must begin (log cleaned up past the last CLASSIC checkpoint —
    # e.g. the table's real checkpoint is a v2/UUID one this reader
    # cannot load), a silent partial replay would drop adds. Fail
    # loud instead (r8 guard).
    tail = [v for v in versions if start <= v <= target]
    if tail != list(range(start, target + 1)):
        missing = sorted(set(range(start, target + 1)) - set(tail))
        raise NotImplementedError(
            f"Delta log under {location} is missing commits {missing} "
            "(log truncated/cleaned past the last readable checkpoint); "
            "use the delta-spark jars or restore the checkpoint files"
        )
    tail_paths = [_commit_path(location, v) for v in tail]
    if cp_files is None:
        # no checkpoint: plain driver replay (the tail IS the table)
        for p in tail_paths:
            _replay_json_commit(p, state)
    elif (files := _driver_checkpoint_files(location, cp_files, tail_paths)) is None:
        _replay_checkpoint_spark(
            spark, location, cp_files, tail_paths, state, need_stats
        )
    else:
        # small log: the whole replay on the driver, no Spark job
        cp_adds = _read_checkpoint_driver(files, state, need_stats)
        tail_adds, touched = _replay_tail_touched(tail_paths, state)
        adds = {p: a for p, a in cp_adds.items() if p not in touched}
        adds.update(tail_adds)
        state["adds"] = adds

    if state["metaData"] is None:
        raise ValueError(f"no metaData action found replaying {location} to v{target}")
    _check_protocol(state)
    return state


def _replay_checkpoint_spark(
    spark: SparkSession,
    location: str,
    cp_files: list[str],
    tail_paths: list[str],
    state: dict,
    need_stats: bool,
) -> None:
    """Replay a checkpoint plus tail past the byte rule: the checkpoint
    adds stay JVM-side and are anti-joined against the paths the tail
    touched — a tail within :data:`_TAIL_DRIVER_BYTES` on its own is
    replayed on the driver and broadcast, a bigger one reconciles in
    Spark (:func:`_replay_tail_distributed`)."""
    cp_dfs = _load_checkpoint(spark, location, cp_files, state, need_stats)
    if not cp_dfs:
        # no checkpoint adds: plain driver replay (tail IS the table;
        # nothing seeds "_touched" on this path)
        for p in tail_paths:
            _replay_json_commit(p, state)
        return
    cp_df = cp_dfs[0]
    for extra in cp_dfs[1:]:
        cp_df = cp_df.unionByName(extra, allowMissingColumns=True)
    try:
        tail_bytes = sum(os.path.getsize(p) for p in tail_paths)
    except OSError:
        # a transient getsize failure must not route a multi-GB
        # tail to the driver replay — default to the scalable
        # path; a genuinely unreadable commit fails loud in the
        # JVM read exactly like the driver open() would
        tail_bytes = _TAIL_DRIVER_BYTES + 1
    winners = None
    if tail_bytes <= _TAIL_DRIVER_BYTES:
        tail_adds, touched = _replay_tail_touched(tail_paths, state)
        if touched:
            tdf = local_frame(spark, [(p,) for p in sorted(touched)], "path string")
            cp_df = cp_df.join(F.broadcast(tdf), "path", "left_anti")
    else:
        tail_adds, winners = _replay_tail_distributed(
            spark, tail_paths, state
        )
        cp_df = cp_df.join(
            winners.select(F.col("__p").alias("path")),
            "path", "left_anti",
        )
    try:
        adds: dict = {}
        # the live add list must exist driver-side (the scan
        # contract: spark.read.parquet(paths) — the reference's
        # planner materializes its file list the same way), but
        # stream it in partition batches instead of collect() so
        # the driver never holds the full Row list AND the dict
        # set simultaneously (r14; at 20M badly-compacted live
        # files that is several GB of duplicate materialization)
        for r in cp_df.toLocalIterator(prefetchPartitions=True):
            d = r.asDict(recursive=True)
            adds[d["path"]] = {
                k: v for k, v in d.items() if v is not None
            }
    finally:
        if winners is not None:
            winners.unpersist()
    adds.update(tail_adds)
    state["adds"] = adds


# The one byte rule of snapshot replay. A checkpoint (all parts and V2
# sidecars) plus JSON tail totalling at most this many bytes replays
# entirely on the driver (the common case: a small table, or a handful
# of commits since a checkpoint) — the same 4 MiB split as the Iceberg
# reader's _MANIFEST_DRIVER_BYTES. Past it the checkpoint adds stay in
# Spark; a tail still within it on its own replays on the driver, and a
# bigger one — e.g. one giant DELETE's million remove actions —
# reconciles in Spark (:func:`_replay_tail_distributed`). Tests pin it
# to 0 to force the Spark route.
_TAIL_DRIVER_BYTES = 4 * 1024 * 1024

# Explicit read schema for JVM-side tail replay: the add fields replay
# consumes (the same pruned set as _CP_ADD_FIELDS, stats included —
# tail adds carry their stats forward, matching the driver replay) and
# the remove path. Unknown action types / extra fields parse to NULL
# and drop out.
_TAIL_ACTION_DDL = (
    "add struct<path:string,partitionValues:map<string,string>,"
    "size:bigint,modificationTime:bigint,dataChange:boolean,stats:string,"
    "deletionVector:struct<storageType:string,pathOrInlineDv:string,"
    "offset:bigint,sizeInBytes:bigint,cardinality:bigint,"
    "maxRowIndex:bigint>>, "
    "remove struct<path:string>"
)


def _replay_tail_distributed(
    spark: SparkSession, tail_paths: list[str], state: dict
):
    """Reconcile a LARGE commit tail (millions of add/remove actions)
    without materializing per-action Python dicts: Delta's action
    reconciliation — later commits win, and within one commit an add
    of a path beats a remove of the same path — is a per-path
    ``row_number`` over (version DESC, is_add DESC), a PARTITIONED
    window (never the global kind the plan lock forbids). Returns
    (winning tail adds as a dict, the PERSISTED one-row-per-touched-
    path winners DataFrame) — the caller anti-joins the checkpoint
    adds against the winners and unpersists them; persisting means the
    multi-hundred-MB tail JSON is parsed ONCE, not once per action.

    metaData / protocol / txn actions still apply driver-side — they
    are singletons/watermarks, found by a cheap substring pre-filter
    so the million add/remove lines are never json-parsed in Python.
    The JSON read is FAILFAST: a malformed action line raises, exactly
    like the driver replay's json.loads would — never a silently
    dropped add/remove.
    """
    from pyspark.sql import Window as W

    for p in tail_paths:  # version order — later files override
        with open(p) as fh:
            for line in fh:
                if (
                    '"metaData"' not in line
                    and '"protocol"' not in line
                    and '"txn"' not in line
                ):
                    continue
                action = json.loads(line)
                if "metaData" in action:
                    state["metaData"] = action["metaData"]
                elif "protocol" in action:
                    state["protocol"] = action["protocol"]
                elif "txn" in action:
                    t = action["txn"]
                    state["txns"][t["appId"]] = max(
                        state["txns"].get(t["appId"], -1), int(t["version"])
                    )
    acts = (
        spark.read.schema(_TAIL_ACTION_DDL)
        .option("mode", "FAILFAST")
        .json(tail_paths)
        .select(
            F.coalesce(F.col("add.path"), F.col("remove.path")).alias("__p"),
            F.col("add").isNotNull().alias("__is_add"),
            # anchored to the basename: an ancestor directory that
            # happens to match 20-digits.json must not win the extract
            F.regexp_extract(
                F.col("_metadata.file_path"), r"(\d{20})\.json$", 1
            ).cast("long").alias("__v"),
            "add",
        )
        .filter(F.col("__p").isNotNull())
    )
    w = W.partitionBy("__p").orderBy(F.desc("__v"), F.desc("__is_add"))
    winners = (
        acts.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .persist()
    )
    try:
        tail_adds: dict = {}
        for r in winners.filter(F.col("__is_add")).select("add").collect():
            d = r.asDict(recursive=True)["add"]
            add = {k: v for k, v in d.items() if v is not None}
            if "deletionVector" in add:
                # mirror json.loads: absent optional DV fields have no
                # key (the schema-based read materializes them as None)
                add["deletionVector"] = {
                    k: v
                    for k, v in add["deletionVector"].items()
                    if v is not None
                }
            tail_adds[add["path"]] = add
    except BaseException:
        # the caller's unpersist only covers the post-return window —
        # don't leak cached blocks when the collect itself fails
        # (e.g. the FAILFAST malformed-line path)
        winners.unpersist()
        raise
    return tail_adds, winners


def _check_protocol(state: dict) -> None:
    proto = state["protocol"] or {"minReaderVersion": 1}
    reader = proto.get("minReaderVersion", 1)
    features = set(proto.get("readerFeatures") or [])
    supported = {
        "columnMapping",
        "timestampNtz",
        "v2Checkpoint",
        "deletionVectors",
    } & features
    if reader > 3 or (reader == 3 and features - supported):
        raise NotImplementedError(
            f"Delta reader protocol {reader} with features {sorted(features)} "
            "is not supported by the pure-Python log reader; use the "
            "delta-spark jars (spark.jars.packages=io.delta:delta-spark_2.13:...)"
        )
    cm = _cm_mode(state["metaData"] or {})
    if cm not in ("none", "name", "id"):
        raise NotImplementedError(
            f"unknown Delta column mapping mode {cm!r} (PROTOCOL.md defines "
            "none/name/id)"
        )


def _cm_mode(meta: dict) -> str:
    return (meta.get("configuration") or {}).get("delta.columnMapping.mode", "none")


def _norm_location(location: str) -> str:
    """Absolute table root for local paths — a relative ``location``
    would otherwise never match the absolute paths that
    ``_metadata.file_path`` reports, and Spark would resolve it against
    the JVM's working directory, not the Python process's. Every entry
    point that writes through Spark or reads ``_metadata`` calls it."""
    return location if "://" in location else os.path.abspath(location)


def _make_abs(location: str):
    """add.path → absolute filesystem path (PROTOCOL.md: add paths are
    RFC-2396-encoded, relative to the table root unless absolute)."""
    location = _norm_location(location)

    def _abs(p: str) -> str:
        p = urllib.parse.unquote(p)
        if "://" in p:
            return p
        return p if p.startswith("/") else os.path.join(location, p)

    return _abs


def _scan_plan(meta: dict):
    """Shared scan planning for the reader and the DV-delete scan:
    logical schema, partition columns, and — under COLUMN MAPPING
    (PROTOCOL.md "Column Mapping") — the PHYSICAL read schema plus the
    one projection that maps back (a cast-by-position renames nested
    struct fields for free). Mode "name" (r8) matches data-file
    columns by their per-field ``physicalName`` col-<uuid>; mode "id"
    (r9) matches by PARQUET FIELD ID instead: every physical field in
    the read schema carries ``parquet.field.id`` metadata from
    ``delta.columnMapping.id``, and the reader enables
    ``spark.sql.parquet.fieldId.read.enabled`` so the scan binds by id
    even when file column names differ from the log's physicalName
    (the point of id mode — renames never rewrite data). Returns
    (schema, part_cols, by_type, phys, data_schema, out_cols):
    ``out_cols`` holds each data column's projection, in schema order,
    as SQL text when the table has no column mapping (one
    ``selectExpr`` call projects them all) and as a Column under it;
    partition columns hold None (:func:`_scan_files` fills them)."""
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    part_cols = list(meta.get("partitionColumns") or [])
    by_type = {f.name: f.dataType for f in schema.fields}
    cm_mode = _cm_mode(meta)

    def _phys_of(f: T.StructField) -> str:
        if cm_mode == "none":
            return f.name
        pn = (f.metadata or {}).get("delta.columnMapping.physicalName")
        if not pn:
            raise ValueError(
                f"column mapping mode {cm_mode!r} but field {f.name!r} has no "
                "delta.columnMapping.physicalName metadata"
            )
        return pn

    def _field_id_meta(f: T.StructField) -> dict | None:
        if cm_mode != "id":
            return None
        fid = (f.metadata or {}).get("delta.columnMapping.id")
        if fid is None:
            raise ValueError(
                f"column mapping mode 'id' but field {f.name!r} has no "
                "delta.columnMapping.id metadata"
            )
        return {"parquet.field.id": int(fid)}

    def _physicalize(dt: T.DataType) -> T.DataType:
        if isinstance(dt, T.StructType):
            return T.StructType(
                [
                    T.StructField(
                        _phys_of(f), _physicalize(f.dataType), f.nullable,
                        _field_id_meta(f),
                    )
                    for f in dt.fields
                ]
            )
        if isinstance(dt, T.ArrayType):
            return T.ArrayType(_physicalize(dt.elementType), dt.containsNull)
        if isinstance(dt, T.MapType):
            return T.MapType(
                _physicalize(dt.keyType), _physicalize(dt.valueType),
                dt.valueContainsNull,
            )
        return dt

    phys = {f.name: _phys_of(f) for f in schema.fields}
    data_schema = T.StructType(
        [
            T.StructField(
                phys[f.name], _physicalize(f.dataType), f.nullable, _field_id_meta(f)
            )
            for f in schema.fields
            if f.name not in part_cols
        ]
    )
    out_cols = [
        None
        if f.name in part_cols
        else sql_ident(f.name)
        if cm_mode == "none"
        else F.col(phys[f.name]).cast(f.dataType).alias(f.name)
        for f in schema.fields
    ]
    return schema, part_cols, by_type, phys, data_schema, out_cols


# a scan's raw file coordinates: the DV anti-join key and a delete's
# matched positions
_FILE_POS = ["_metadata.file_path AS __file", "_metadata.row_index AS __pos"]


def _scan_adds(
    spark: SparkSession, plan: tuple, adds: list[dict], _abs, extra: list[str]
) -> DataFrame:
    """The union of :func:`_scan_files` over ``adds`` grouped by
    partition tuple (keys are PHYSICAL names under column mapping):
    one read per distinct tuple, the same fan-out the delta-spark
    reader plans internally."""
    _schema, part_cols, _by_type, phys, _data_schema, _out_cols = plan
    groups: dict[tuple, list[str]] = {}
    for a in adds:
        pv = a.get("partitionValues") or {}
        key = tuple(pv.get(phys[c], pv.get(c)) for c in part_cols)
        groups.setdefault(key, []).append(_abs(a["path"]))
    parts = [
        _scan_files(spark, plan, files, key, extra)
        for key, files in sorted(groups.items(), key=lambda kv: str(kv[0]))
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _scan_files(
    spark: SparkSession, plan: tuple, files: list[str], key: tuple, extra: list[str]
) -> DataFrame:
    """One parquet read of ``files``, whose partition values are
    ``key``, projected to the table's columns (partition columns as
    typed literals of the log's values) and then the SQL expressions
    ``extra``: one ``selectExpr`` call when the table has no column
    mapping."""
    schema, part_cols, by_type, _phys, data_schema, out_cols = plan
    df = spark.read.schema(data_schema).parquet(*files)
    # partition values are log metadata, not file content; their
    # strings cast per the Delta serialization rules, which match
    # Spark's CAST for all primitive types
    lits = {
        c: f"CAST({sql_literal(v)} AS {by_type[c].simpleString()})"
        for c, v in zip(part_cols, key)
    }
    if all(isinstance(c, str) for c in out_cols if c is not None):
        return df.selectExpr(
            *[
                c if c is not None else f"{lits[f.name]} AS {sql_ident(f.name)}"
                for f, c in zip(schema.fields, out_cols)
            ],
            *extra,
        )
    return df.select(
        *[
            c if c is not None else F.expr(lits[f.name]).alias(f.name)
            for f, c in zip(schema.fields, out_cols)
        ],
        *[F.expr(e) for e in extra],
    )


def read_delta_table(
    spark: SparkSession,
    location: str,
    version_as_of: int | None = None,
    timestamp_as_of_ms: int | None = None,
) -> DataFrame:
    """Read a Delta table by replaying its transaction log (public
    PROTOCOL.md semantics): checkpoint seed + JSON tail, last-add-wins
    per path, remove tombstones drop paths, partition columns restored
    from ``add.partitionValues`` as typed literals.

    ``version_as_of`` pins time travel (VERSION AS OF);
    ``timestamp_as_of_ms`` resolves TIMESTAMP AS OF to the newest
    commit at or before the instant (commitInfo timestamp, falling
    back to the commit file's mtime). The returned
    plan is a plain parquet scan — pushdown/pruning/AQE all apply; the
    per-partition union is bounded by |distinct partition tuples|, the
    same fan-out the delta-spark reader plans internally.
    """
    if timestamp_as_of_ms is not None:
        if version_as_of is not None:
            raise ValueError("pass version_as_of OR timestamp_as_of_ms, not both")
        version_as_of = version_at_timestamp(spark, location, timestamp_as_of_ms)
    location = _norm_location(location)
    state = _snapshot_state(spark, location, version_as_of)
    return _dataframe_for_adds(
        spark, location, state["metaData"], list(state["adds"].values())
    )


def _dataframe_for_adds(
    spark: SparkSession,
    location: str,
    meta: dict,
    adds: list[dict],
    with_position: bool = False,
) -> DataFrame:
    """The scan plan for an explicit add-list (shared by the full-table
    read, OPTIMIZE's candidate-subset rewrite, and the change feed):
    per-partition-tuple parquet groups with typed literal partition
    columns, DV anti-join when any add carries a descriptor.
    ``with_position=True`` keeps each row's raw file coordinates
    (``__file``, the URI Spark reports, and ``__pos``) in the output —
    they must be selected AT the scan (``_metadata`` does not survive a
    projection), so callers that need positions cannot bolt them on
    afterwards."""
    plan = _scan_plan(meta)
    if _cm_mode(meta) == "id":
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    if not adds:
        return local_frame(spark, [], plan[0])

    _abs = _make_abs(location)
    has_dv = any(a.get("deletionVector") for a in adds)
    out = _scan_adds(spark, plan, adds, _abs, _FILE_POS if has_dv or with_position else [])
    if has_dv:
        out = _apply_deletion_vectors(spark, out, adds, location, _abs)
        if not with_position:
            out = out.drop("__file", "__pos")
    return out


def _apply_deletion_vectors(
    spark: SparkSession, df: DataFrame, adds: list[dict], location: str, _abs
) -> DataFrame:
    """Filter DV-deleted rows: every ``deletionVector`` descriptor
    becomes (data-file URI, row position) tombstones, anti-joined on the
    raw ``(_metadata.file_path, _metadata.row_index)`` that ``df``
    carries as ``__file``/``__pos`` — the same merge-on-read shape as
    the LakeTable's and Iceberg's position deletes. Each file's URI is
    spelled on the driver as Spark reports it
    (:func:`~pg_datalake_spark.tables.tombstones.spark_uri`), so no row
    has its path decoded. The total deleted cardinality is known
    exactly from the descriptors: when it is within
    :data:`~pg_datalake_spark.tables.tombstones.DRIVER_ROWS` the
    driver decodes the bitmaps (an inline ``"i"`` DV is log bytes
    there already) and broadcasts them as one Arrow table — no Python
    worker starts. Past the bound, or when a descriptor carries no
    ``cardinality``, the descriptors go to the executors, which decode
    the bitmaps (``mapInPandas``) so the driver never holds the
    position list, and the anti-join shuffles."""
    from pg_datalake_spark.tables import dv_codec

    descs = [
        (tombstones.spark_uri(_abs(a["path"])), a["deletionVector"])
        for a in adds
        if a.get("deletionVector")
    ]
    cards = [d.get("cardinality") for _, d in descs]
    if None not in cards and sum(cards) <= tombstones.DRIVER_ROWS:
        deletes = F.broadcast(
            tombstones.frame(
                spark,
                [u for u, _ in descs],
                [dv_codec.decode_descriptor_positions(d, location) for _, d in descs],
            )
        )
    else:
        deletes = _executor_tombstones(spark, descs, location)
    return tombstones.anti_join(df, deletes)


def _executor_tombstones(
    spark: SparkSession, descs: list[tuple[str, dict]], location: str
) -> DataFrame:
    """The (file URI, position) tombstones of ``descs``, decoded on the
    executors: the driver ships only the descriptors."""
    rows = [
        (p, d["storageType"], d["pathOrInlineDv"], d.get("offset"), d["sizeInBytes"])
        for p, d in descs
    ]
    desc_df = local_frame(
        spark,
        rows,
        "path string, storageType string, pathOrInlineDv string, "
        "offset long, sizeInBytes long",
    )
    if len(rows) > 1:
        desc_df = desc_df.repartition(min(len(rows), 32))

    def decode(batches):
        import pandas as pd

        from pg_datalake_spark.tables import dv_codec

        for pdf in batches:
            for r in pdf.itertuples(index=False):
                pos = dv_codec.decode_descriptor_positions(
                    {
                        "storageType": r.storageType,
                        "pathOrInlineDv": r.pathOrInlineDv,
                        "offset": r.offset,
                        "sizeInBytes": r.sizeInBytes,
                    },
                    location,
                )
                yield pd.DataFrame(
                    {"__del_path": [r.path] * len(pos), "__del_pos": pos}
                )

    return desc_df.mapInPandas(decode, tombstones.SCHEMA)


def delta_table_version(location: str) -> int:
    """Current (latest) version of the table's log."""
    return _list_commit_versions(location)[-1]


# ---------------------------------------------------------------------------
# Minimal writer (fixtures + offline end-to-end verification)
# ---------------------------------------------------------------------------


def _hive_partition_values(rel_path: str, part_cols: list[str]) -> dict[str, str | None]:
    out: dict[str, str | None] = {}
    for seg in rel_path.split("/")[:-1]:
        if "=" not in seg:
            continue
        k, _, v = seg.partition("=")
        if k in part_cols:
            out[k] = None if v == "__HIVE_DEFAULT_PARTITION__" else urllib.parse.unquote(v)
    return out


def _stage_data_files(
    df: DataFrame, location: str, partition_by: list[str] | None
) -> list[dict]:
    """Write df's data files under ``location`` (hive layout when
    partitioned — partition columns stay OUT of the data files, per the
    Delta convention) and return their ``add`` actions."""
    stage = os.path.join(location, f"_stage_{uuid.uuid4().hex[:12]}")
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(stage)
    now_ms = int(time.time() * 1000)
    adds = []
    for root, _dirs, files in os.walk(stage):
        for name in sorted(files):
            if not name.endswith(".parquet"):
                continue
            src = os.path.join(root, name)
            rel_dir = os.path.relpath(root, stage)
            dest_rel = name if rel_dir == "." else os.path.join(rel_dir, name)
            dest = os.path.join(location, dest_rel)
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            os.rename(src, dest)
            import pyarrow.parquet as _pq

            # stats.numRecords from the footer (delta writers always
            # stamp it; DESCRIBE DETAIL and DV adds both consume it) —
            # footer-only read, no data bytes
            n_records = _pq.ParquetFile(dest).metadata.num_rows
            adds.append(
                {
                    "add": {
                        "path": urllib.parse.quote(dest_rel),
                        "partitionValues": _hive_partition_values(
                            dest_rel, partition_by or []
                        ),
                        "size": os.path.getsize(dest),
                        "modificationTime": now_ms,
                        "dataChange": True,
                        "stats": json.dumps({"numRecords": n_records}),
                    }
                }
            )
    # drop the emptied staging tree (only marker/dir skeletons remain)
    for root, dirs, files in os.walk(stage, topdown=False):
        for name in files:
            os.remove(os.path.join(root, name))
        for name in dirs:
            os.rmdir(os.path.join(root, name))
    os.rmdir(stage)
    return adds


def _generation_map(meta: dict) -> dict[str, str]:
    """column → generation expression, from the schemaString field
    metadata (PROTOCOL.md generated columns:
    ``delta.generationExpression`` metadata key)."""
    out: dict[str, str] = {}
    for f in json.loads(meta["schemaString"]).get("fields", []):
        expr = (f.get("metadata") or {}).get("delta.generationExpression")
        if expr:
            out[f["name"]] = expr
    return out


def _apply_generated_columns(df: DataFrame, gen: dict[str, str], location: str):
    """Generated-column write semantics (delta-spark): a column NOT
    provided by the writer is COMPUTED from its expression; a provided
    column is VALIDATED against it (null-safe) — a mismatch aborts
    before staging."""
    for col, expr in sorted(gen.items()):
        if col not in df.columns:
            df = df.withColumn(col, F.expr(expr))
        else:
            bad = df.filter(f"NOT ({col} <=> ({expr}))").limit(1).collect()
            if bad:
                raise ValueError(
                    f"generated column {col!r} = {expr} violated writing to "
                    f"{location}; example row: {bad[0].asDict()}"
                )
    return df


def _check_constraint_map(configuration: dict) -> dict[str, str]:
    pre = "delta.constraints."
    return {
        k[len(pre):]: v for k, v in (configuration or {}).items()
        if k.startswith(pre)
    }


def _enforce_check_constraints(
    df: DataFrame, configuration: dict, location: str
) -> None:
    """PROTOCOL.md CHECK constraints: incoming rows must not evaluate
    any ``delta.constraints.<name>`` expression to FALSE (NULL passes,
    SQL-standard). One filter pass per constraint over the incoming
    frame BEFORE staging — a violation aborts with the constraint name
    and a sample row, and nothing is written."""
    for cname, expr in sorted(_check_constraint_map(configuration).items()):
        bad = df.filter(f"NOT ({expr})").limit(1).collect()
        if bad:
            raise ValueError(
                f"CHECK constraint {cname!r} ({expr}) violated writing to "
                f"{location}; example row: {bad[0].asDict()}"
            )


def add_check_constraint(
    spark: SparkSession, location: str, name: str, expr: str
) -> int:
    """ALTER TABLE ... ADD CONSTRAINT ... CHECK (expr): verifies the
    EXISTING data first (delta-spark semantics — adding a constraint
    the current rows violate fails), then commits the updated metaData
    (configuration key ``delta.constraints.<name>``) with a protocol
    upgrade to the checkConstraints writer requirement when needed.
    Subsequent write_delta_table/append_delta calls (and therefore the
    streaming Delta sink) enforce it on every incoming row."""
    location = _norm_location(location)
    state = _snapshot_state(spark, location, None)
    meta = dict(state["metaData"] or {})
    cfg = dict(meta.get("configuration") or {})
    key = f"delta.constraints.{name}"
    if key in cfg:
        raise ValueError(f"constraint {name!r} already exists on {location}")
    existing = _dataframe_for_adds(
        spark, location, state["metaData"], list(state["adds"].values())
    )
    bad = existing.filter(f"NOT ({expr})").limit(1).collect()
    if bad:
        raise ValueError(
            f"cannot add CHECK constraint {name!r} ({expr}): existing row "
            f"violates it: {bad[0].asDict()}"
        )
    cfg[key] = expr
    meta["configuration"] = cfg
    actions: list[dict] = [
        {
            "commitInfo": {
                "operation": "ADD CONSTRAINT",
                "timestamp": int(time.time() * 1000),
            }
        }
    ]
    proto = state["protocol"] or {}
    wv = proto.get("minWriterVersion", 2)
    if "writerFeatures" in proto:
        feats = set(proto.get("writerFeatures") or [])
        if "checkConstraints" not in feats:
            actions.append(
                {
                    "protocol": {
                        **proto,
                        "writerFeatures": sorted(feats | {"checkConstraints"}),
                    }
                }
            )
    elif wv < 3:
        actions.append(
            {
                "protocol": {
                    "minReaderVersion": proto.get("minReaderVersion", 1),
                    "minWriterVersion": 3,
                }
            }
        )
    actions.append({"metaData": meta})
    return _write_commit(location, state["version"] + 1, actions)


def drop_check_constraint(spark: SparkSession, location: str, name: str) -> int:
    """ALTER TABLE ... DROP CONSTRAINT: removes the configuration key
    (missing name fails loud, mirroring delta-spark without IF EXISTS)."""
    location = _norm_location(location)
    state = _snapshot_state(spark, location, None)
    meta = dict(state["metaData"] or {})
    cfg = dict(meta.get("configuration") or {})
    key = f"delta.constraints.{name}"
    if key not in cfg:
        raise ValueError(f"no CHECK constraint {name!r} on {location}")
    del cfg[key]
    meta["configuration"] = cfg
    return _write_commit(
        location,
        state["version"] + 1,
        [
            {
                "commitInfo": {
                    "operation": "DROP CONSTRAINT",
                    "timestamp": int(time.time() * 1000),
                }
            },
            {"metaData": meta},
        ],
    )


def _commit_new_meta(
    spark: SparkSession, location: str, meta: dict, operation: str
) -> int:
    state = _snapshot_state(spark, location, None)
    return _write_commit(
        location,
        state["version"] + 1,
        [
            {
                "commitInfo": {
                    "operation": operation,
                    "timestamp": int(time.time() * 1000),
                }
            },
            {"metaData": meta},
        ],
    )


def _expr_references(meta: dict, col: str) -> list[str]:
    """Names of CHECK constraints / generated columns whose expression
    mentions ``col`` (word-boundary match) — renames/drops must not
    silently break them."""
    import re as _re

    rx = _re.compile(rf"\b{_re.escape(col)}\b")
    hits = [
        f"constraint {n}"
        for n, e in _check_constraint_map(meta.get("configuration") or {}).items()
        if rx.search(e)
    ]
    hits += [
        f"generated column {c}"
        for c, e in _generation_map(meta).items()
        if c != col and rx.search(e)
    ]
    return hits


def add_column_delta(
    spark: SparkSession, location: str, name: str, dtype: str
) -> int:
    """ALTER TABLE ... ADD COLUMN (nullable): a pure metaData commit —
    the scan binds files with the table schema, so rows written before
    the change read the new column as NULL, exactly delta-spark. Under
    column mapping the new field gets a fresh columnMapping.id /
    physicalName and maxColumnId advances — so a column re-added after
    a drop does NOT resurrect the dropped column's stored values."""
    location = _norm_location(location)
    state = _snapshot_state(spark, location, None)
    meta = dict(state["metaData"] or {})
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    if name in {f.name for f in schema.fields}:
        raise ValueError(f"column {name!r} already exists on {location}")
    new_meta: dict = {}
    cfg = dict(meta.get("configuration") or {})
    if _cm_mode(meta) != "none":
        next_id = int(cfg.get("delta.columnMapping.maxColumnId", "0")) + 1
        new_meta = {
            "delta.columnMapping.id": next_id,
            "delta.columnMapping.physicalName": f"col-{uuid.uuid4().hex[:12]}",
        }
        cfg["delta.columnMapping.maxColumnId"] = str(next_id)
        meta["configuration"] = cfg
    schema = T.StructType(
        [*schema.fields,
         T.StructField(name, T._parse_datatype_string(dtype), True, new_meta)]
    )
    meta["schemaString"] = schema.json()
    return _commit_new_meta(spark, location, meta, "ADD COLUMNS")


def rename_column_delta(
    spark: SparkSession, location: str, old: str, new: str
) -> int:
    """ALTER TABLE ... RENAME COLUMN — metadata-only, and therefore
    REQUIRES column mapping (without it parquet files bind by name and
    a rename would orphan every stored value; delta-spark refuses for
    the same reason). The physicalName stays, so existing data reads
    under the new logical name unchanged. Partition columns rename in
    the spec; renames breaking a CHECK constraint or generation
    expression fail loud."""
    location = _norm_location(location)
    state = _snapshot_state(spark, location, None)
    meta = dict(state["metaData"] or {})
    if _cm_mode(meta) == "none":
        raise PermissionError(
            f"RENAME COLUMN on {location} requires column mapping "
            "(create the table with column_mapping='name'/'id')"
        )
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    names = {f.name for f in schema.fields}
    if old not in names:
        raise ValueError(f"no column {old!r} on {location}")
    if new in names:
        raise ValueError(f"column {new!r} already exists on {location}")
    refs = _expr_references(meta, old)
    if refs:
        raise ValueError(
            f"cannot rename {old!r}: referenced by {', '.join(refs)}"
        )
    schema = T.StructType(
        [
            T.StructField(new if f.name == old else f.name, f.dataType,
                          f.nullable, f.metadata)
            for f in schema.fields
        ]
    )
    meta["schemaString"] = schema.json()
    meta["partitionColumns"] = [
        new if c == old else c for c in (meta.get("partitionColumns") or [])
    ]
    return _commit_new_meta(spark, location, meta, "RENAME COLUMN")


def drop_column_delta(spark: SparkSession, location: str, name: str) -> int:
    """ALTER TABLE ... DROP COLUMN — metadata-only, REQUIRES column
    mapping (delta-spark's columnMapping precondition: the stored
    values stay in the files, unreachable once unmapped). Partition
    columns and columns referenced by constraints / generation
    expressions refuse to drop."""
    location = _norm_location(location)
    state = _snapshot_state(spark, location, None)
    meta = dict(state["metaData"] or {})
    if _cm_mode(meta) == "none":
        raise PermissionError(
            f"DROP COLUMN on {location} requires column mapping "
            "(create the table with column_mapping='name'/'id')"
        )
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    if name not in {f.name for f in schema.fields}:
        raise ValueError(f"no column {name!r} on {location}")
    if name in (meta.get("partitionColumns") or []):
        raise ValueError(f"cannot drop partition column {name!r}")
    refs = _expr_references(meta, name)
    if refs:
        raise ValueError(
            f"cannot drop {name!r}: referenced by {', '.join(refs)}"
        )
    schema = T.StructType([f for f in schema.fields if f.name != name])
    meta["schemaString"] = schema.json()
    return _commit_new_meta(spark, location, meta, "DROP COLUMNS")


def write_delta_table(
    df: DataFrame,
    location: str,
    partition_by: list[str] | None = None,
    column_mapping: bool | str = False,
    configuration: dict[str, str] | None = None,
    generated_columns: dict[str, str] | None = None,
) -> int:
    """Create a Delta table at ``location`` (commit 0: protocol +
    metaData + adds). Returns the committed version.

    ``column_mapping`` ``True``/``"name"`` (r8) creates the table in
    column-mapping mode "name": every field gets
    ``delta.columnMapping.id`` / ``physicalName`` (col-<hex>) metadata,
    the DATA FILES are written under the physical names (hive partition
    dirs included), and the protocol advances to reader 2 / writer 5 —
    the exact shape modern writers emit, so the reader's
    logical↔physical projection is exercised end-to-end offline.
    ``"id"`` (r9) additionally stamps ``parquet.field.id`` into the
    data files (``spark.sql.parquet.fieldId.write.enabled``) and sets
    mode "id" — the reader then binds by field id, not name."""
    location = _norm_location(location)
    os.makedirs(location, exist_ok=True)
    configuration = dict(configuration or {})
    proto_ver = {"minReaderVersion": 1, "minWriterVersion": 2}
    if any(k.startswith("delta.constraints.") for k in configuration):
        # CHECK constraints present at create time: the initial data
        # must satisfy them, and the protocol must advertise the
        # checkConstraints writer requirement (PROTOCOL.md: legacy
        # minWriterVersion 3).
        _enforce_check_constraints(df, configuration, location)
        proto_ver = {"minReaderVersion": 1, "minWriterVersion": 3}
    gen_meta: dict[str, dict] = {}
    if generated_columns:
        # PROTOCOL.md generated columns: expression stored as the
        # delta.generationExpression metadata key; legacy writer
        # requirement is minWriterVersion 4.
        df = _apply_generated_columns(df, generated_columns, location)
        gen_meta = {
            c: {"delta.generationExpression": e}
            for c, e in generated_columns.items()
        }
        proto_ver = {
            "minReaderVersion": proto_ver["minReaderVersion"],
            "minWriterVersion": max(4, proto_ver["minWriterVersion"]),
        }
    schema = df.schema
    if gen_meta:
        schema = T.StructType(
            [
                T.StructField(
                    f.name, f.dataType, f.nullable,
                    {**(f.metadata or {}), **gen_meta.get(f.name, {})},
                )
                for f in schema.fields
            ]
        )
    if column_mapping:
        cm_mode = "name" if column_mapping is True else str(column_mapping)
        if cm_mode not in ("name", "id"):
            raise ValueError(f"column_mapping must be 'name' or 'id', got {cm_mode!r}")
        phys = {f.name: f"col-{uuid.uuid4().hex[:12]}" for f in schema.fields}
        schema = T.StructType(
            [
                T.StructField(
                    f.name,
                    f.dataType,
                    f.nullable,
                    {
                        **(f.metadata or {}),  # keep e.g. generationExpression
                        "delta.columnMapping.id": i + 1,
                        "delta.columnMapping.physicalName": phys[f.name],
                    },
                )
                for i, f in enumerate(schema.fields)
            ]
        )
        configuration.update(
            {
                "delta.columnMapping.mode": cm_mode,
                "delta.columnMapping.maxColumnId": str(len(schema.fields)),
            }
        )
        proto_ver = {"minReaderVersion": 2, "minWriterVersion": 5}
        id_meta = (
            {f.name: {"parquet.field.id": i + 1} for i, f in enumerate(df.schema.fields)}
            if cm_mode == "id"
            else {}
        )
        if cm_mode == "id":
            df.sparkSession.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
        df = df.select(
            *[
                F.col(f.name).alias(phys[f.name], metadata=id_meta.get(f.name))
                for f in df.schema.fields
            ]
        )
        stage_partition_by = [phys[c] for c in (partition_by or [])]
    else:
        stage_partition_by = list(partition_by or [])
    meta = {
        "metaData": {
            "id": str(uuid.uuid4()),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema.json(),
            "partitionColumns": partition_by or [],
            "configuration": configuration,
            "createdTime": int(time.time() * 1000),
        }
    }
    proto = {"protocol": proto_ver}
    adds = _stage_data_files(df, location, stage_partition_by)
    return _write_commit(location, 0, [proto, meta, *adds])


def _physical_stage_args(meta: dict, df: DataFrame) -> tuple[DataFrame, list[str]]:
    """Rename ``df`` to physical column names and return the physical
    partition list — identity when the table has no column mapping.

    Under column-mapping mode "id" every staged field ALSO carries its
    ``parquet.field.id`` metadata (and the session enables
    ``spark.sql.parquet.fieldId.write.enabled``), exactly like the
    create path in :func:`write_delta_table` — the id-mode reader
    binds by field id, so a writer verb staging id-less files breaks
    every subsequent scan (r15 combo-fuzzer find, seed 20002: append /
    COW delete / update / merge / optimize all stage through here)."""
    cm = _cm_mode(meta)
    if cm == "none":
        return df, list(meta.get("partitionColumns") or [])
    schema, part_cols, _bt, phys, _ds, _oc = _scan_plan(meta)
    id_meta: dict[str, dict] = {}
    if cm == "id":
        id_meta = {
            f.name: {
                "parquet.field.id": int(
                    (f.metadata or {})["delta.columnMapping.id"]
                )
            }
            for f in schema.fields
        }
        df.sparkSession.conf.set(
            "spark.sql.parquet.fieldId.write.enabled", "true"
        )
    return (
        df.select(
            *[
                F.col(c).alias(
                    phys[c],
                    **({"metadata": id_meta[c]} if c in id_meta else {}),
                )
                for c in df.columns
            ]
        ),
        [phys[c] for c in part_cols],
    )


def append_delta(
    df: DataFrame,
    location: str,
    max_retries: int = 10,
    txn_app_id: str | None = None,
    txn_version: int | None = None,
) -> int:
    """Append commit: new add actions only. Blind appends COMMUTE, so
    losing the put-if-absent race to a concurrent writer is not a
    conflict — the commit retries at the next version with the same
    staged files (Delta's optimistic-concurrency happy path; r9). Data
    files are staged once; only the metadata commit retries.

    ``txn_app_id``/``txn_version`` make the append IDEMPOTENT
    (PROTOCOL.md "Transaction Identifiers" — the contract Delta
    streaming sinks key micro-batch replays on): the commit carries a
    ``txn`` watermark action, and an append whose version is at or
    below the table's recorded watermark for that appId is SKIPPED
    (returns the current table version, writes nothing) — so a
    foreachBatch retry or a crash-replayed micro-batch never
    double-appends. The watermark survives checkpointing. A skip
    detected only after staging (a concurrent instance won the race
    mid-flight) leaves orphan data files that vacuum_delta reclaims."""
    if (txn_app_id is None) != (txn_version is None):
        raise ValueError("pass txn_app_id AND txn_version together")
    location = _norm_location(location)
    spark = df.sparkSession
    state = _snapshot_state(spark, location, None)
    if (
        txn_app_id is not None
        and state["txns"].get(txn_app_id, -1) >= txn_version
    ):
        return state["version"]  # replayed batch: already committed
    meta0 = state["metaData"]
    gen = _generation_map(meta0 or {"schemaString": "{}"})
    if gen:
        df = _apply_generated_columns(df, gen, location)
    _enforce_check_constraints(
        df, (meta0 or {}).get("configuration") or {}, location
    )
    staged, part_phys = _physical_stage_args(meta0, df)
    adds = _stage_data_files(staged, location, part_phys)
    if txn_app_id is not None:
        adds = [
            {
                "txn": {
                    "appId": txn_app_id,
                    "version": int(txn_version),
                    "lastUpdated": int(time.time() * 1000),
                }
            }
        ] + adds
    version = state["version"] + 1
    for _ in range(max_retries):
        try:
            return _write_commit(location, version, adds)
        except CommitConflictError:
            # Rebasing over the winner is only sound when the staged
            # files still match the table: blind appends commute, but a
            # concurrent metaData change (schema evolution, column-
            # mapping flip) means our files were written under a stale
            # physical schema — committing across it would corrupt the
            # table. Re-load the snapshot and verify before retrying.
            cur = _snapshot_state(spark, location, None)
            if (
                txn_app_id is not None
                and cur["txns"].get(txn_app_id, -1) >= txn_version
            ):
                # a concurrent instance committed this very batch while
                # we were staging: drop out idempotently (our staged
                # files are orphans until vacuum)
                return cur["version"]
            m = cur["metaData"] or {}
            if (
                m.get("id") != meta0.get("id")
                or m.get("schemaString") != meta0.get("schemaString")
                or (m.get("configuration") or {})
                != ((meta0 or {}).get("configuration") or {})
            ):
                # configuration counts too: a concurrent ADD CONSTRAINT
                # (or appendOnly flip) must not be blind-appended across
                raise CommitConflictError(
                    f"append to {location} conflicts with a concurrent "
                    "metaData change (schema/column-mapping/configuration "
                    "changed since staging); re-stage the append against "
                    "the new snapshot"
                )
            version = cur["version"] + 1
    raise CommitConflictError(
        f"append to {location} lost the commit race {max_retries} times"
    )


def delete_where_delta(
    spark: SparkSession,
    location: str,
    predicate: str,
    mode: str = "cow",
    inline_threshold: int = 512,
) -> int:
    """DELETE matching rows.

    ``mode="cow"`` — copy-on-write: rewrite the active data minus
    matching rows, commit remove tombstones for every replaced file
    plus the rewritten adds. (The jar-based writer rewrites only files
    whose stats overlap the predicate; this minimal writer rewrites the
    active set — correctness-identical, and exactly what the READ path
    must replay either way.)

    ``mode="dv"`` — merge-on-read via DELETION VECTORS (PROTOCOL.md
    "Deletion Vectors"): no data file is rewritten; each touched file's
    ``add`` is re-committed with a ``deletionVector`` descriptor whose
    roaring bitmap holds ALL its deleted row positions (existing DV
    positions unioned in — descriptors replace, they don't stack).
    Blobs ≤ ``inline_threshold`` bytes are stored inline (``"i"``,
    Z85); larger ones go to UUID-named sidecar files (``"u"``), one per
    touched data file. Where the bitmaps are built follows
    :data:`~pg_datalake_spark.tables.tombstones.DRIVER_ROWS`, checked
    against the adds' ``stats.numRecords`` before any job runs: within
    it, the matched positions come to the driver in one collect and the
    driver builds each bitmap; past it, or when an add has no count,
    matched positions are hash-partitioned per data file and each
    file's bitmap is built + serialized inside ``applyInPandas``, so no
    row position transits the driver, which only registers the O(files)
    descriptor list (same scale shape as
    iceberg_external.add_position_deletes_df). The commit also upgrades
    the protocol to readerVersion 3 / writerVersion 7 with the
    deletionVectors feature when needed, re-adds each touched file with
    ``stats.numRecords`` (mandatory on DV adds per PROTOCOL.md's writer
    requirements), and carries the PRIOR deletionVector on the paired
    remove so vacuum can reclaim superseded sidecars."""
    location = _norm_location(location)
    # a DV delete sizes its route by the adds' stats.numRecords
    state = _snapshot_state(spark, location, None, need_stats=mode == "dv")
    cfg = (state["metaData"] or {}).get("configuration") or {}
    if cfg.get("delta.appendOnly", "").lower() == "true":
        # PROTOCOL.md table property: appendOnly tables reject DELETE /
        # UPDATE (OPTIMIZE's dataChange=false rearrangements stay legal)
        raise PermissionError(
            f"table {location} has delta.appendOnly=true: DELETE is not "
            "allowed (unset the property to mutate)"
        )
    if mode == "dv":
        return _delete_where_dv(spark, location, state, predicate, inline_threshold)
    if mode != "cow":
        raise ValueError(f"mode must be 'cow' or 'dv', got {mode!r}")
    # NOT(pred) is NULL for NULL-predicate rows — those rows did NOT
    # match the delete and must survive (PG/Delta: DELETE removes only
    # rows where the predicate is TRUE). A bare filter would drop
    # them; found by the r14 DML differential fuzzer (seed 1:
    # DELETE WHERE qty < 22 silently removed every NULL-qty row).
    survivors = _dataframe_for_adds(
        spark, location, state["metaData"], list(state["adds"].values())
    ).filter(F.coalesce(F.expr(f"NOT ({predicate})"), F.lit(True)))
    staged, part_phys = _physical_stage_args(state["metaData"], survivors)
    adds = _stage_data_files(staged, location, part_phys)
    now_ms = int(time.time() * 1000)
    removes = [
        {
            "remove": {
                "path": p,
                "deletionTimestamp": now_ms,
                "dataChange": True,
                "partitionValues": a.get("partitionValues") or {},
            }
        }
        for p, a in sorted(state["adds"].items())
    ]
    return _write_commit(location, state["version"] + 1, removes + adds)


def update_delta(
    spark: SparkSession,
    location: str,
    assignments: dict[str, str],
    where: str = "true",
) -> int:
    """UPDATE ... SET col = expr [WHERE ...] — copy-on-write: the
    active set is rewritten with matching rows transformed (the same
    minimal-writer COW contract as delete mode='cow': the jar-based
    writer narrows the rewrite to stats-overlapping files; rewriting
    the active set is correctness-identical). Generated columns
    recompute from the updated row; CHECK constraints and appendOnly
    are enforced like any write."""
    location = _norm_location(location)
    state = _snapshot_state(spark, location, None)
    meta = state["metaData"] or {}
    cfg = meta.get("configuration") or {}
    if cfg.get("delta.appendOnly", "").lower() == "true":
        raise PermissionError(
            f"table {location} has delta.appendOnly=true: UPDATE is not "
            "allowed (unset the property to mutate)"
        )
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    gen = _generation_map(meta)
    bad = set(assignments) - {f.name for f in schema.fields}
    if bad:
        raise ValueError(f"UPDATE {location}: unknown column(s) {sorted(bad)}")
    if set(assignments) & set(gen):
        raise ValueError(
            f"UPDATE {location}: {sorted(set(assignments) & set(gen))} are "
            "generated columns — they recompute automatically"
        )
    current = _dataframe_for_adds(
        spark, location, meta, list(state["adds"].values())
    )
    cond = F.expr(where)
    cols = []
    for f in schema.fields:
        if f.name in gen:
            continue  # recomputed below from the updated row
        if f.name in assignments:
            cols.append(
                F.when(cond, F.expr(assignments[f.name]))
                .otherwise(F.col(f.name))
                .cast(f.dataType)
                .alias(f.name)
            )
        else:
            cols.append(F.col(f.name))
    updated = current.select(*cols)
    if gen:
        updated = _apply_generated_columns(updated, gen, location)
    _enforce_check_constraints(updated, cfg, location)
    staged, part_phys = _physical_stage_args(meta, updated)
    adds = _stage_data_files(staged, location, part_phys)
    now_ms = int(time.time() * 1000)
    removes = [
        {
            "remove": {
                "path": p,
                "deletionTimestamp": now_ms,
                "dataChange": True,
                "partitionValues": a.get("partitionValues") or {},
                **(
                    {"deletionVector": a["deletionVector"]}
                    if a.get("deletionVector") else {}
                ),
            }
        }
        for p, a in sorted(state["adds"].items())
    ]
    return _write_commit(
        location,
        state["version"] + 1,
        [{"commitInfo": {"operation": "UPDATE", "timestamp": now_ms}}]
        + removes + adds,
    )


def merge_delta(
    spark: SparkSession,
    location: str,
    source: DataFrame,
    on: str,
    when_matched_update: dict[str, str] | None = None,
    when_matched_delete: str | None = None,
    when_not_matched_insert: bool = True,
) -> int:
    """MERGE INTO target USING source ON <cond> — copy-on-write. The
    merged result is computed relationally (one outer join, Catalyst
    plans it), then committed as a full rewrite:

    - matched + ``when_matched_delete`` predicate (or 'true') → row
      dropped;
    - matched otherwise → ``when_matched_update`` assignments applied
      (``s.col`` / ``t.col`` reference source/target);
    - unmatched source rows → inserted when ``when_not_matched_insert``
      (source must carry the target's non-generated columns);
    - unmatched target rows → kept.

    Duplicate source matches fail loud (the Delta MERGE cardinality
    rule: a target row matching >1 source row is ambiguous)."""
    location = _norm_location(location)
    state = _snapshot_state(spark, location, None)
    meta = state["metaData"] or {}
    cfg = meta.get("configuration") or {}
    if cfg.get("delta.appendOnly", "").lower() == "true":
        raise PermissionError(
            f"table {location} has delta.appendOnly=true: MERGE is not allowed"
        )
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    gen = _generation_map(meta)
    data_cols = [f.name for f in schema.fields if f.name not in gen]
    # target and cardinality probe both scan the replayed snapshot, so
    # the rewritten rows and the commit's removes share one version
    current = _dataframe_for_adds(
        spark, location, meta, list(state["adds"].values())
    )
    target = current.withColumn("__t_present", F.lit(True)).alias("t")
    src = source.withColumn("__s_present", F.lit(True)).alias("s")
    # cardinality check: each target row may match at most one source row
    probe = (
        current.withColumn("__tid", F.monotonically_increasing_id())
        .alias("t")
        .join(src, F.expr(on), "inner")
    )
    dup = probe.groupBy("__tid").count().filter("count > 1").limit(1).collect()
    if dup:
        raise ValueError(
            f"MERGE into {location}: a target row matches multiple source "
            "rows (ambiguous per the Delta MERGE cardinality rule)"
        )
    joined = target.join(src, F.expr(on), "full_outer")
    has_t = F.coalesce(F.col("t.__t_present"), F.lit(False))
    has_s = F.coalesce(F.col("s.__s_present"), F.lit(False))
    is_match = has_t & has_s
    # the delete predicate sees t./s. (pre-update values), like Delta.
    # Delta treats a NULL predicate as NOT satisfied: coalesce to FALSE so
    # ~drop_row keeps (updates) the row instead of silently deleting it.
    drop_row = (
        is_match & F.coalesce(F.expr(when_matched_delete), F.lit(False))
        if when_matched_delete is not None
        else F.lit(False)
    )
    upd = when_matched_update or {}
    dtypes = {f.name: f.dataType for f in schema.fields}
    out_cols = []
    for c in data_cols:
        t_c = F.col(f"t.{c}")
        upd_expr = F.expr(upd[c]) if c in upd else t_c
        insert_val = F.col(f"s.{c}") if c in source.columns else F.lit(None)
        out_cols.append(
            F.when(is_match, upd_expr)                 # matched → update
            .when(has_t, t_c)                          # target-only → keep
            .otherwise(insert_val)                     # source-only → insert
            .cast(dtypes[c])
            .alias(c)
        )
    merged = (
        joined.filter(~drop_row)
        .filter(has_t | F.lit(when_not_matched_insert))
        .select(*out_cols)
    )
    if gen:
        merged = _apply_generated_columns(merged, gen, location)
    _enforce_check_constraints(merged, cfg, location)
    staged, part_phys = _physical_stage_args(meta, merged)
    adds = _stage_data_files(staged, location, part_phys)
    now_ms = int(time.time() * 1000)
    removes = [
        {
            "remove": {
                "path": p,
                "deletionTimestamp": now_ms,
                "dataChange": True,
                "partitionValues": a.get("partitionValues") or {},
                **(
                    {"deletionVector": a["deletionVector"]}
                    if a.get("deletionVector") else {}
                ),
            }
        }
        for p, a in sorted(state["adds"].items())
    ]
    return _write_commit(
        location,
        state["version"] + 1,
        [{"commitInfo": {"operation": "MERGE", "timestamp": now_ms}}]
        + removes + adds,
    )


def _delete_where_dv(
    spark: SparkSession,
    location: str,
    state: dict,
    predicate: str,
    inline_threshold: int,
) -> int:
    meta = state["metaData"]
    if not state["adds"]:
        # DELETE on a zero-file table (e.g. a PARTITIONED table right
        # after a truncating COW delete — empty staged writes produce
        # no partition dirs, hence no adds) is a no-op, not a plan
        # over zero files — r14 DML fuzzer find (delta seed 157:
        # truncate → DV delete raised IndexError building the scan
        # union). No commit; the current version is returned.
        return state["version"]
    if _cm_mode(meta) == "id":
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    _abs = _make_abs(location)
    # the raw files (NO existing-DV filtering: already-deleted rows may
    # re-match; the per-file bitmap union of _serialize_file_dv absorbs
    # them)
    scan = _scan_adds(spark, _scan_plan(meta), state["adds"].values(), _abs, _FILE_POS)
    matched = scan.filter(predicate).select("__file", "__pos")

    abs_to_add = {_abs(a["path"]): a for a in state["adds"].values()}
    if (rows := _physical_rows(state["adds"].values())) is not None and (
        rows <= tombstones.DRIVER_ROWS
    ):
        descs = _driver_dvs(matched, abs_to_add, location, inline_threshold)
    else:
        descs = _executor_dvs(spark, matched, abs_to_add, location, inline_threshold)
    now_ms = int(time.time() * 1000)
    if not descs:
        return _write_commit(
            location,
            state["version"] + 1,
            [{"commitInfo": {"operation": "DELETE", "timestamp": now_ms}}],
        )

    actions: list[dict] = [
        {"commitInfo": {"operation": "DELETE", "timestamp": now_ms}}
    ]
    proto = state["protocol"] or {}
    if "deletionVectors" not in set(proto.get("readerFeatures") or []):
        actions.append(
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["deletionVectors"],
                    "writerFeatures": ["deletionVectors"],
                }
            }
        )
    for path in sorted(descs):
        add = abs_to_add[path]
        remove = {
            "path": add["path"],
            "deletionTimestamp": now_ms,
            "dataChange": True,
            "partitionValues": add.get("partitionValues") or {},
        }
        if add.get("deletionVector"):
            # superseded DV rides the tombstone so VACUUM can reclaim it
            remove["deletionVector"] = add["deletionVector"]
        actions.append({"remove": remove})
        new_add = {
            k: v
            for k, v in add.items()
            if k in ("path", "partitionValues", "size", "modificationTime", "stats")
        }
        if "stats" not in new_add:
            # PROTOCOL.md: adds carrying a deletionVector MUST have
            # stats.numRecords — synthesize from the parquet footer
            # (O(1) metadata read per touched file)
            import pyarrow.parquet as pq

            new_add["stats"] = json.dumps(
                {"numRecords": pq.ParquetFile(path).metadata.num_rows}
            )
        new_add.update(dataChange=True, deletionVector=descs[path])
        actions.append({"add": new_add})
    return _write_commit(location, state["version"] + 1, actions)


def _physical_rows(adds) -> int | None:
    """Rows in the data files of ``adds``, deleted ones included, from
    each add's ``stats.numRecords``; None when an add has no count."""
    total = 0
    for a in adds:
        try:
            total += int(json.loads(a.get("stats") or "{}")["numRecords"])
        except (KeyError, TypeError, ValueError):
            return None
    return total


def _serialize_file_dv(
    positions, prior: dict | None, location: str, inline_threshold: int
) -> dict:
    """The deletion-vector descriptor of one data file: ``positions``
    unioned with those of its ``prior`` descriptor (descriptors
    replace, they do not stack), as a roaring bitmap stored inline when
    it fits ``inline_threshold`` bytes, else in a UUID-named sidecar
    file of its own. Both delete routes call it, the driver for the
    positions it holds and the executors per file group."""
    import numpy as np

    from pg_datalake_spark.tables import dv_codec

    positions = np.unique(np.asarray(positions, dtype=np.int64))
    if prior is not None:
        positions = np.union1d(
            positions, dv_codec.decode_descriptor_positions(prior, location)
        )
    blob = dv_codec.serialize_dv(positions)
    desc = {"sizeInBytes": len(blob), "cardinality": int(len(positions))}
    if len(blob) <= inline_threshold:
        return {
            "storageType": "i",
            "pathOrInlineDv": dv_codec.z85_encode(blob),
            "offset": None,
            **desc,
        }
    u = uuid.uuid4()
    [off] = dv_codec.write_dv_file(
        os.path.join(location, f"deletion_vector_{u}.bin"), [blob]
    )
    return {
        "storageType": "u",
        "pathOrInlineDv": dv_codec.make_uuid_descriptor_path(u),
        "offset": off,
        **desc,
    }


def _driver_dvs(
    matched: DataFrame, abs_to_add: dict, location: str, inline_threshold: int
) -> dict[str, dict]:
    """The new descriptor of each file ``matched`` touches, keyed by
    its absolute path: the matched positions come to the driver in one
    collect, which builds every bitmap and sidecar itself."""
    paths = sorted(abs_to_add)
    positions = tombstones._held_positions(
        matched, [tombstones.spark_uri(p) for p in paths]
    )
    out = {}
    for path, pos in zip(paths, positions):
        if len(pos):
            desc = _serialize_file_dv(
                pos, abs_to_add[path].get("deletionVector"), location, inline_threshold
            )
            out[path] = {k: v for k, v in desc.items() if v is not None}
    return out


def _executor_dvs(
    spark: SparkSession,
    matched: DataFrame,
    abs_to_add: dict,
    location: str,
    inline_threshold: int,
) -> dict[str, dict]:
    """:func:`_driver_dvs` with the bitmaps built by the executors:
    matched positions are hash-partitioned per data file, and each
    file's bitmap is built and serialized inside ``applyInPandas`` — no
    row position reaches the driver, which collects only the
    O(touched files) descriptors (the same scale shape as
    iceberg_external.add_position_deletes_df)."""
    # prior descriptors: O(files) driver metadata, joined in so each
    # executor can union already-deleted positions into its bitmap
    by_uri = {tombstones.spark_uri(p): p for p in abs_to_add}
    old_rows = [
        (u, d["storageType"], d["pathOrInlineDv"], d.get("offset"), d["sizeInBytes"])
        for u, p in sorted(by_uri.items())
        if (d := abs_to_add[p].get("deletionVector"))
    ]
    old_schema = (
        "__file string, o_st string, o_dv string, o_off long, o_size long"
    )
    old_df = local_frame(spark, old_rows, old_schema)
    keyed = matched.join(F.broadcast(old_df), "__file", "left")

    def serialize(key, pdf):
        import numpy as np
        import pandas as pd

        uri, o_st, o_dv, o_off, o_size = key
        prior = None
        if o_st is not None:
            # Null LONG group keys arrive as float NaN (Arrow null int64
            # -> pandas float64): an inline ("i") prior descriptor has
            # offset=null, so NaN here is the COMMON case when stacking a
            # second DV delete on a file whose first blob fit inline.
            prior = {
                "storageType": o_st,
                "pathOrInlineDv": o_dv,
                "offset": None if o_off is None or pd.isna(o_off) else int(o_off),
                "sizeInBytes": 0 if o_size is None or pd.isna(o_size) else int(o_size),
            }
        desc = _serialize_file_dv(
            pdf["__pos"].to_numpy(dtype=np.int64), prior, location, inline_threshold
        )
        return pd.DataFrame([{"uri": uri, **desc}])

    desc_schema = (
        "uri string, storageType string, pathOrInlineDv string, "
        "offset long, sizeInBytes long, cardinality long"
    )
    desc_rows = (
        keyed.groupBy("__file", "o_st", "o_dv", "o_off", "o_size")
        .applyInPandas(serialize, desc_schema)
        .collect()  # O(touched files) descriptors — never row positions
    )
    return {
        by_uri[r["uri"]]: {
            k: r[k]
            for k in (
                "storageType", "pathOrInlineDv", "offset", "sizeInBytes", "cardinality"
            )
            if r[k] is not None
        }
        for r in desc_rows
    }


def write_delta_checkpoint(
    spark: SparkSession,
    location: str,
    v2: bool = False,
    n_sidecars: int = 2,
    multipart: int | None = None,
) -> int:
    """Materialize a checkpoint for the current version and advance
    ``_last_checkpoint`` — subsequent reads replay only the commit
    tail after it.

    Default: the classic single-file form (one row per action; struct
    columns add/metaData/protocol). ``v2=True`` (r8) writes the V2
    spec shape instead — a UUID-named manifest
    (``%020d.checkpoint.<uuid>.parquet``) holding protocol/metaData
    plus ``sidecar`` reference rows, with the add actions spilled
    across ``n_sidecars`` parquet files under
    ``_delta_log/_sidecars/`` — the layout modern writers emit for
    large tables, which the reader must reassemble. ``multipart=N``
    (r9) writes the legacy V1 MULTI-PART layout instead
    (``%020d.checkpoint.%010d.%010d.parquet``, part i of N, action
    rows sliced across parts) — the shape whose parts must never be
    mistaken for complete V2 manifests on read."""
    # need_stats: re-serializing actions must carry `stats` forward —
    # a checkpoint that drops stats.numRecords from DV adds violates
    # the writer requirement the JSON log upholds.
    location = _norm_location(location)
    state = _snapshot_state(spark, location, None, need_stats=True)
    version = state["version"]
    proto = state["protocol"] or {"minReaderVersion": 1, "minWriterVersion": 2}
    meta = state["metaData"]

    dv_type = T.StructType(
        [
            T.StructField("storageType", T.StringType()),
            T.StructField("pathOrInlineDv", T.StringType()),
            T.StructField("offset", T.LongType()),
            T.StructField("sizeInBytes", T.LongType()),
            T.StructField("cardinality", T.LongType()),
        ]
    )
    add_type = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("partitionValues", T.MapType(T.StringType(), T.StringType())),
            T.StructField("size", T.LongType()),
            T.StructField("modificationTime", T.LongType()),
            T.StructField("dataChange", T.BooleanType()),
            # stats MUST survive checkpointing: DV-carrying adds are
            # required to have stats.numRecords (PROTOCOL.md writer
            # requirements), and that guarantee has to hold in the
            # checkpoint, not just the JSON log.
            T.StructField("stats", T.StringType()),
            T.StructField("deletionVector", dv_type),
        ]
    )
    meta_type = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField(
                "format",
                T.StructType(
                    [
                        T.StructField("provider", T.StringType()),
                        T.StructField(
                            "options", T.MapType(T.StringType(), T.StringType())
                        ),
                    ]
                ),
            ),
            T.StructField("schemaString", T.StringType()),
            T.StructField("partitionColumns", T.ArrayType(T.StringType())),
            T.StructField("configuration", T.MapType(T.StringType(), T.StringType())),
            T.StructField("createdTime", T.LongType()),
        ]
    )
    proto_type = T.StructType(
        [
            T.StructField("minReaderVersion", T.IntegerType()),
            T.StructField("minWriterVersion", T.IntegerType()),
            T.StructField("readerFeatures", T.ArrayType(T.StringType())),
            T.StructField("writerFeatures", T.ArrayType(T.StringType())),
        ]
    )
    txn_type = T.StructType(
        [
            T.StructField("appId", T.StringType()),
            T.StructField("version", T.LongType()),
            T.StructField("lastUpdated", T.LongType()),
        ]
    )
    cp_schema = T.StructType(
        [
            T.StructField("add", add_type),
            T.StructField("metaData", meta_type),
            T.StructField("protocol", proto_type),
            T.StructField("txn", txn_type),
        ]
    )
    rows: list[tuple] = [
        (
            None,
            None,
            (
                proto.get("minReaderVersion", 1),
                proto.get("minWriterVersion", 2),
                proto.get("readerFeatures"),
                proto.get("writerFeatures"),
            ),
            None,
        ),
        (
            None,
            (
                meta["id"],
                (meta["format"]["provider"], meta["format"].get("options") or {}),
                meta["schemaString"],
                list(meta.get("partitionColumns") or []),
                meta.get("configuration") or {},
                meta.get("createdTime"),
            ),
            None,
            None,
        ),
    ]
    # txn watermarks MUST survive checkpointing (PROTOCOL.md: readers
    # recover appId versions from the checkpoint) — a dropped watermark
    # would let a replayed streaming batch double-append
    for app_id in sorted(state.get("txns") or {}):
        rows.append((None, None, None, (app_id, state["txns"][app_id], None)))
    n_head = len(rows)
    for path in sorted(state["adds"]):
        a = state["adds"][path]
        dv = a.get("deletionVector")
        rows.append(
            (
                (
                    a["path"],
                    a.get("partitionValues") or {},
                    a.get("size"),
                    a.get("modificationTime"),
                    bool(a.get("dataChange", True)),
                    a.get("stats"),
                    (
                        dv["storageType"],
                        dv["pathOrInlineDv"],
                        dv.get("offset"),
                        dv["sizeInBytes"],
                        dv.get("cardinality"),
                    )
                    if dv
                    else None,
                ),
                None,
                None,
                None,
            )
        )
    def _write_single(df, dest: str) -> None:
        tmp = os.path.join(_log_dir(location), f"_cp_stage_{uuid.uuid4().hex[:8]}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(
            os.path.join(tmp, n)
            for n in sorted(os.listdir(tmp))
            if n.endswith(".parquet")
        )
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        os.replace(part, dest)
        for name in os.listdir(tmp):
            os.remove(os.path.join(tmp, name))
        os.rmdir(tmp)

    if multipart is not None:
        if v2:
            raise ValueError("pass v2=True OR multipart=N, not both")
        n = max(1, min(int(multipart), len(rows)))
        for i in range(n):
            chunk = rows[i::n]
            _write_single(
                local_frame(spark, chunk, cp_schema),
                os.path.join(
                    _log_dir(location),
                    f"{version:020d}.checkpoint.{i + 1:010d}.{n:010d}.parquet",
                ),
            )
    elif not v2:
        _write_single(
            local_frame(spark, rows, cp_schema),
            _checkpoint_path(location, version),
        )
    else:
        sidecar_type = T.StructType(
            [
                T.StructField("path", T.StringType()),
                T.StructField("sizeInBytes", T.LongType()),
                T.StructField("modificationTime", T.LongType()),
            ]
        )
        cpmeta_type = T.StructType([T.StructField("version", T.LongType())])
        v2_schema = T.StructType(
            cp_schema.fields
            + [
                T.StructField("sidecar", sidecar_type),
                T.StructField("checkpointMetadata", cpmeta_type),
            ]
        )
        # protocol/metaData/txn stay in the manifest; only file actions
        # spill to sidecars (V2 spec)
        head, adds_rows = rows[:n_head], rows[n_head:]
        n = max(1, min(n_sidecars, len(adds_rows) or 1))
        chunks = [adds_rows[i::n] for i in range(n)]
        sidecar_rows = []
        for chunk in chunks:
            name = f"{uuid.uuid4()}.parquet"
            dest = os.path.join(_log_dir(location), "_sidecars", name)
            _write_single(local_frame(spark, chunk, cp_schema), dest)
            sidecar_rows.append(
                (
                    None,
                    None,
                    None,
                    None,
                    (name, os.path.getsize(dest), int(time.time() * 1000)),
                    None,
                )
            )
        manifest_rows = [r + (None, None) for r in head] + sidecar_rows + [
            (None, None, None, None, None, (version,))
        ]
        _write_single(
            local_frame(spark, manifest_rows, v2_schema),
            os.path.join(
                _log_dir(location),
                f"{version:020d}.checkpoint.{uuid.uuid4()}.parquet",
            ),
        )
    with open(os.path.join(_log_dir(location), "_last_checkpoint"), "w") as fh:
        json.dump({"version": version, "size": len(rows)}, fh)
    return version


def _zorder_column(df: DataFrame, cols: list[str], bits: int = 8):
    """Z-value Column: each clustering column is range-binned into
    2^bits uniform buckets between its global min/max (driver reads
    2·|cols| scalars — the same metadata-scale collect every z-order
    writer performs), then the bucket bits are interleaved so rows
    close in EVERY dimension land close in the sort order. Uniform
    binning (width_bucket-style), not quantile: monotone per column,
    which is all min/max file-skipping needs; a quantile variant is a
    drop-in (approxQuantile the probe row instead)."""
    stats = df.agg(
        *[F.min(c).alias(f"mn_{i}") for i, c in enumerate(cols)],
        *[F.max(c).alias(f"mx_{i}") for i, c in enumerate(cols)],
    ).first()
    n_buckets = 1 << bits
    z = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        mn = float(stats[f"mn_{i}"]) if stats[f"mn_{i}"] is not None else 0.0
        mx = float(stats[f"mx_{i}"]) if stats[f"mx_{i}"] is not None else 0.0
        span = (mx - mn) or 1.0
        bucket = F.least(
            F.lit(n_buckets - 1),
            F.floor(
                (F.coalesce(F.col(c).cast("double"), F.lit(mn)) - mn)
                / span * n_buckets
            ).cast("long"),
        )
        for b in range(bits):
            # bit b of this column's bucket → bit (b*len(cols) + i) of z
            z = z + (F.shiftright(bucket, b) % 2) * F.lit(
                1 << (b * len(cols) + i)
            )
    return z


def optimize_delta(
    spark: SparkSession,
    location: str,
    target_file_mb: int = 128,
    zorder_by: list[str] | None = None,
    n_output_files: int | None = None,
) -> int:
    """Delta OPTIMIZE analog: bin-pack small data files (size <
    ``target_file_mb``) into consolidated ones, MATERIALIZING any
    deletion vectors on the way (the rewritten files physically drop
    DV-deleted rows, and the new adds carry no descriptor) — committed
    as remove+add pairs with ``dataChange: false``, the marker that
    tells incremental consumers the logical table content is unchanged
    (delta-io PROTOCOL.md; commitInfo operation OPTIMIZE). Prior
    versions stay time-travelable until :func:`vacuum_delta` reclaims
    the compacted-away files (superseded DVs ride the removes exactly
    as in the delete path).

    ``zorder_by`` additionally CLUSTERS the rewritten rows by an
    interleaved-bit z-value over the given columns
    (:func:`_zorder_column`), so min/max file skipping works on every
    clustered dimension, not just the leading sort key. Returns the
    committed version (the current one when nothing qualifies)."""
    location = _norm_location(location)
    state = _snapshot_state(spark, location, None)
    meta = state["metaData"]
    threshold = int(target_file_mb) << 20
    candidates = [
        a
        for a in state["adds"].values()
        if (a.get("size") or 0) < threshold or a.get("deletionVector")
    ]
    if len(candidates) < 2 and not any(a.get("deletionVector") for a in candidates):
        return state["version"]  # nothing to compact
    df = _dataframe_for_adds(spark, location, meta, candidates)
    total = sum(a.get("size") or 0 for a in candidates)
    # size-derived by default; explicit override for operational control
    n_out = n_output_files or max(1, -(-total // max(threshold, 1)))
    _schema, part_cols, *_rest = _scan_plan(meta)
    if zorder_by:
        zv = _zorder_column(df, list(zorder_by))
        df = (
            df.withColumn("__z", zv)
            .repartitionByRange(n_out, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
        )
    elif part_cols:
        df = df.repartition(n_out, *part_cols)
    else:
        df = df.repartition(n_out)
    staged, part_phys = _physical_stage_args(meta, df)
    adds = _stage_data_files(staged, location, part_phys)
    now_ms = int(time.time() * 1000)
    actions: list[dict] = [
        {"commitInfo": {"operation": "OPTIMIZE", "timestamp": now_ms}}
    ]
    for a in sorted(candidates, key=lambda a: a["path"]):
        remove = {
            "path": a["path"],
            "deletionTimestamp": now_ms,
            "dataChange": False,
            "partitionValues": a.get("partitionValues") or {},
        }
        if a.get("deletionVector"):
            remove["deletionVector"] = a["deletionVector"]
        actions.append({"remove": remove})
    for add in adds:
        add["add"]["dataChange"] = False
        actions.append(add)
    return _write_commit(location, state["version"] + 1, actions)


def vacuum_delta(
    spark: SparkSession,
    location: str,
    retain_last: int = 1,
    retention_ms: int | None = None,
) -> dict:
    """Delta VACUUM analog: delete data files and DV sidecars no
    longer referenced by the last ``retain_last`` versions (r9 — the
    natural consumer of the deletionVector now carried on remove
    actions: a superseded sidecar becomes reclaimable the moment no
    retained snapshot's adds reference it). The transaction log itself
    is never touched; time travel BEHIND the retained range fails on
    missing files afterwards, exactly like Delta's own VACUUM.

    ``retention_ms`` (delta-spark's RETAIN duration, translated to the
    version axis): additionally retain every version whose commit
    timestamp is within the horizon — the effective keep-set is the
    UNION of both rules, and the newest version always stays.

    Returns {"removed": n, "retained": n}. The referenced-set
    computation is O(files) driver metadata per retained version —
    the same scale class as snapshot replay."""
    from pg_datalake_spark.tables import dv_codec

    location = _norm_location(location)
    if retain_last < 1:
        raise ValueError("retain_last must be >= 1")
    versions = _list_commit_versions(location)
    # Mirror _snapshot_state: a fully-cleaned log (every JSON commit
    # vacuumed, checkpoint-only) is legal, and the checkpoint version
    # must count as a retained snapshot — otherwise keep=[] and the
    # walk below would delete every live data file in the table.
    last_cp = os.path.join(_log_dir(location), "_last_checkpoint")
    if os.path.exists(last_cp):
        with open(last_cp) as fh:
            cp_version = json.load(fh)["version"]
        if cp_version not in versions:
            versions = sorted([*versions, cp_version])
    if not versions:
        raise FileNotFoundError(
            f"empty Delta log under {location}: refusing to vacuum "
            "(no commit or checkpoint version to retain)"
        )
    keep = versions[-retain_last:]
    if retention_ms is not None:
        horizon = int(time.time() * 1000) - retention_ms
        recent = {
            e["version"]
            for e in delta_history(spark, location)
            if e["timestamp_ms"] >= horizon
        }
        keep = sorted(set(keep) | (recent & set(versions)))
    _abs = _make_abs(location)
    referenced: set[str] = set()
    for v in keep:
        state = _snapshot_state(spark, location, v)
        for a in state["adds"].values():
            referenced.add(os.path.abspath(_abs(a["path"])))
            dv = a.get("deletionVector")
            if dv and dv.get("storageType") == "u":
                referenced.add(
                    os.path.abspath(
                        os.path.join(
                            location, dv_codec.dv_relative_path(dv["pathOrInlineDv"])
                        )
                    )
                )
    log_dir = os.path.abspath(_log_dir(location))
    removed = 0
    for root, dirs, files in os.walk(location):
        if os.path.abspath(root).startswith(log_dir):
            dirs[:] = []
            continue
        dirs[:] = [d for d in dirs if d != _LOG_DIR]
        for name in files:
            p = os.path.abspath(os.path.join(root, name))
            if p in referenced:
                continue
            if name.endswith(".parquet") or name.startswith("deletion_vector_"):
                os.remove(p)
                removed += 1
    return {"removed": removed, "retained": len(referenced)}


def describe_detail(spark: SparkSession, location: str) -> dict:
    """DESCRIBE DETAIL analog: one dict with the table's identity and
    physical footprint — format, id, createdTime, lastModified (newest
    commit), numFiles / sizeInBytes / numRows of the CURRENT snapshot
    (rows from add.stats when present; files carrying no stats count
    as null-contributing, surfaced via ``numRowsUnknownFiles``),
    partitionColumns, properties, and the protocol versions."""
    location = _norm_location(location)
    state = _snapshot_state(spark, location, None, need_stats=True)
    meta = state["metaData"] or {}
    num_rows, unknown = 0, 0
    size = 0
    for a in state["adds"].values():
        size += int(a.get("size") or 0)
        stats = a.get("stats")
        if isinstance(stats, str):
            try:
                stats = json.loads(stats)
            except ValueError:
                stats = None
        if stats and stats.get("numRecords") is not None:
            num_rows += int(stats["numRecords"])
        else:
            unknown += 1
    versions = _list_commit_versions(location)
    last_modified = (
        int(os.path.getmtime(_commit_path(location, versions[-1])) * 1000)
        if versions
        else None
    )
    proto = state["protocol"] or {}
    return {
        "format": "delta",
        "id": meta.get("id"),
        "location": location,
        "createdAt": meta.get("createdTime"),
        "lastModified": last_modified,
        "partitionColumns": list(meta.get("partitionColumns") or []),
        "numFiles": len(state["adds"]),
        "sizeInBytes": size,
        "numRows": num_rows if unknown == 0 else None,
        "numRowsUnknownFiles": unknown,
        "properties": dict(meta.get("configuration") or {}),
        "minReaderVersion": proto.get("minReaderVersion"),
        "minWriterVersion": proto.get("minWriterVersion"),
        "version": state["version"],
    }


def delta_history(spark: SparkSession, location: str) -> list[dict]:
    """DESCRIBE HISTORY analog: one entry per commit, newest first —
    version, timestamp (ms, from commitInfo when present else the
    commit file's mtime, the same fallback the delta-spark reader
    uses for timestamp time travel), operation, and action counts."""
    out = []
    for v in _list_commit_versions(location):
        path = _commit_path(location, v)
        ts_ms = int(os.path.getmtime(path) * 1000)
        op = None
        n_add = n_remove = 0
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                a = json.loads(line)
                if "commitInfo" in a:
                    op = a["commitInfo"].get("operation", op)
                    if a["commitInfo"].get("timestamp"):
                        ts_ms = a["commitInfo"]["timestamp"]
                elif "add" in a:
                    n_add += 1
                elif "remove" in a:
                    n_remove += 1
        if op is None:
            op = (
                "WRITE" if n_remove == 0 and v == 0
                else "DELETE" if n_remove and n_add
                else "WRITE"
            )
        out.append(
            {
                "version": v,
                "timestamp_ms": ts_ms,
                "operation": op,
                "n_added_files": n_add,
                "n_removed_files": n_remove,
            }
        )
    return sorted(out, key=lambda e: -e["version"])


def version_at_timestamp(spark: SparkSession, location: str, ts_ms: int) -> int:
    """The newest version committed at or before ``ts_ms`` (TIMESTAMP
    AS OF resolution). Raises if the timestamp predates the table."""
    candidates = [
        e["version"] for e in delta_history(spark, location)
        if e["timestamp_ms"] <= ts_ms
    ]
    if not candidates:
        raise ValueError(
            f"no Delta commit at or before timestamp {ts_ms} under {location}"
        )
    return max(candidates)


def convert_to_delta(
    spark: SparkSession,
    location: str,
    partition_by: list[str] | None = None,
) -> int:
    """CONVERT TO DELTA (delta-spark's in-place conversion): register a
    plain parquet directory's files as commit 0 of a Delta table — no
    data is rewritten or moved. The schema is inferred by Spark from
    the files; ``partition_by`` names the hive ``col=value`` layout
    columns — entries are ``"col"`` (type from Spark's partition
    inference) or ``"col type"`` (the explicit partition schema
    delta-spark's CONVERT takes, overriding inference — path values
    are strings, so inference guesses int for numeric-looking values).
    Values go from the paths into ``add.partitionValues``, exactly
    like the converter. Fails loud if a ``_delta_log`` already exists
    or a file lies outside the declared partition layout."""
    import pyarrow.parquet as _pq

    location = _norm_location(location)
    if os.path.exists(_log_dir(location)):
        raise FileExistsError(f"{location} is already a Delta table")
    part_types: dict[str, str] = {}
    part_cols = []
    for entry in partition_by or []:
        parts = entry.split(None, 1)
        part_cols.append(parts[0])
        if len(parts) == 2:
            part_types[parts[0]] = parts[1]
    files = []
    for root, dirs, names in os.walk(location):
        dirs[:] = [d for d in dirs if not d.startswith("_")]
        files += [
            os.path.join(root, n) for n in sorted(names)
            if n.endswith(".parquet")
        ]
    if not files:
        raise FileNotFoundError(f"no parquet files under {location}")
    reader = spark.read
    if not part_cols:
        # basePath keeps Spark from inferring partition columns we did
        # not declare
        reader = reader.option("recursiveFileLookup", "true")
    schema = reader.parquet(location).schema
    if part_types:
        schema = T.StructType(
            [
                T.StructField(
                    f.name,
                    T._parse_datatype_string(part_types[f.name])
                    if f.name in part_types
                    else f.dataType,
                    f.nullable,
                    f.metadata,
                )
                for f in schema.fields
            ]
        )
    now_ms = int(time.time() * 1000)
    adds = []
    for p in sorted(files):
        rel = os.path.relpath(p, location)
        pv = _hive_partition_values(rel, part_cols)
        missing = [c for c in part_cols if c not in pv]
        if missing:
            raise ValueError(
                f"{rel} lacks {missing} path segment(s) for the declared "
                "partition layout"
            )
        adds.append(
            {
                "add": {
                    "path": urllib.parse.quote(rel),
                    "partitionValues": pv,
                    "size": os.path.getsize(p),
                    "modificationTime": now_ms,
                    "dataChange": True,
                    "stats": json.dumps(
                        {"numRecords": _pq.ParquetFile(p).metadata.num_rows}
                    ),
                }
            }
        )
    meta = {
        "metaData": {
            "id": str(uuid.uuid4()),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema.json(),
            "partitionColumns": part_cols,
            "configuration": {},
            "createdTime": now_ms,
        }
    }
    proto = {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
    return _write_commit(
        location,
        0,
        [
            {"commitInfo": {"operation": "CONVERT", "timestamp": now_ms}},
            proto,
            meta,
            *adds,
        ],
    )


def cleanup_delta_log(
    spark: SparkSession, location: str, retention_ms: int = 0
) -> dict:
    """Log-retention cleanup (delta.logRetentionDuration's mechanism):
    delete JSON commit files already COVERED BY A CHECKPOINT and older
    than ``retention_ms`` — the table stays fully readable (snapshot
    replay starts at the checkpoint; the r9 reader explicitly supports
    a checkpoint-only log), but time travel and the change feed lose
    the cleaned versions, exactly like delta-spark. Refuses to run
    without a checkpoint. Returns {"removed_commits": [...]}."""
    location = _norm_location(location)
    last_cp = os.path.join(_log_dir(location), "_last_checkpoint")
    if not os.path.exists(last_cp):
        raise FileNotFoundError(
            f"no checkpoint under {location}: write_delta_checkpoint first "
            "(cleaning the only copy of the log would destroy the table)"
        )
    with open(last_cp) as fh:
        cp_version = json.load(fh)["version"]
    horizon = int(time.time() * 1000) - retention_ms
    removed = []
    for v in _list_commit_versions(location):
        if v > cp_version:
            continue  # the tail after the checkpoint must stay
        path = _commit_path(location, v)
        if os.path.getmtime(path) * 1000 <= horizon:
            os.remove(path)
            removed.append(v)
    return {"removed_commits": removed}


def clone_delta(
    spark: SparkSession,
    source: str,
    target: str,
    version: int | None = None,
) -> int:
    """SHALLOW CLONE (delta-spark's CREATE TABLE ... SHALLOW CLONE):
    commit 0 of a NEW table whose adds reference the source's data
    files by ABSOLUTE path — zero data copied, optionally at a pinned
    source ``version``. The clone gets a fresh table id; schema,
    partitioning, configuration (constraints included) and protocol
    carry over. Sidecar deletion vectors are re-referenced with
    storageType "p" (absolute path), which the DV decode path already
    understands.

    Independence: writes to the clone commit only to the clone's log;
    ``vacuum_delta`` on the clone walks only the CLONE's directory, so
    the source's files are never reclaimed from the clone side (the
    flip side also holds — vacuuming the SOURCE can orphan a clone's
    referenced files, the same caveat delta-spark documents)."""
    from pg_datalake_spark.tables import dv_codec

    source = _norm_location(source)
    target = _norm_location(target)
    if os.path.exists(os.path.join(target, _LOG_DIR)):
        raise FileExistsError(f"target {target} is already a Delta table")
    state = _snapshot_state(spark, source, version)
    _abs = _make_abs(source)
    now_ms = int(time.time() * 1000)
    meta = dict(state["metaData"] or {})
    meta["id"] = str(uuid.uuid4())
    meta["createdTime"] = now_ms
    actions: list[dict] = [
        {
            "commitInfo": {
                "operation": "CLONE",
                "timestamp": now_ms,
                "operationParameters": {
                    "source": source,
                    "sourceVersion": state["version"],
                },
            }
        },
        {"protocol": state["protocol"] or {"minReaderVersion": 1,
                                           "minWriterVersion": 2}},
        {"metaData": meta},
    ]
    for _p, a in sorted(state["adds"].items()):
        add = dict(a)
        add["path"] = urllib.parse.quote(_abs(a["path"]), safe="/")
        add["modificationTime"] = now_ms
        add["dataChange"] = True
        dv = a.get("deletionVector")
        if dv and dv.get("storageType") == "u":
            add["deletionVector"] = {
                **dv,
                "storageType": "p",
                "pathOrInlineDv": os.path.join(
                    source, dv_codec.dv_relative_path(dv["pathOrInlineDv"])
                ),
            }
        actions.append({"add": add})
    os.makedirs(target, exist_ok=True)
    return _write_commit(target, 0, actions)


def restore_delta(
    spark: SparkSession,
    location: str,
    version: int | None = None,
    timestamp_ms: int | None = None,
) -> int:
    """RESTORE TABLE ... TO VERSION/TIMESTAMP AS OF (delta-spark's
    RestoreTableCommand semantics, minimal writer analog): commit a NEW
    version whose active file set (and metadata) equals the target
    snapshot's. The diff is computed per file identified by (path,
    deletionVector): files only in the current snapshot get remove
    tombstones (carrying their prior DV descriptor so vacuum can
    reclaim superseded sidecars), files only in the target are
    re-added with ``dataChange=true`` — so the change feed sees the
    restore as inserts/deletes, exactly like delta-spark. History is
    PRESERVED (restore is a forward commit, not a rollback): time
    travel to the pre-restore version still works.

    Fail-loud guards: a target data file or DV sidecar already
    reclaimed by vacuum aborts with FileNotFoundError before any
    commit (delta-spark's missing-file check); appendOnly tables
    reject restore (it writes removes); restoring to the current or a
    future version is a no-op / error respectively."""
    from pg_datalake_spark.tables import dv_codec

    location = _norm_location(location)
    if (version is None) == (timestamp_ms is None):
        raise ValueError("pass exactly one of version / timestamp_ms")
    if timestamp_ms is not None:
        version = version_at_timestamp(spark, location, timestamp_ms)
    cur = _snapshot_state(spark, location, None)
    if version == cur["version"]:
        return cur["version"]
    if version > cur["version"]:
        raise ValueError(
            f"cannot RESTORE {location} to v{version}: newest is v{cur['version']}"
        )
    cfg = (cur["metaData"] or {}).get("configuration") or {}
    if cfg.get("delta.appendOnly", "").lower() == "true":
        raise PermissionError(
            f"table {location} has delta.appendOnly=true: RESTORE writes "
            "remove tombstones and is not allowed"
        )
    tgt = _snapshot_state(spark, location, version)
    _abs = _make_abs(location)
    missing = []
    for a in tgt["adds"].values():
        if not os.path.exists(_abs(a["path"])):
            missing.append(a["path"])
        dv = a.get("deletionVector")
        if dv and dv.get("storageType") == "u":
            sp = os.path.join(
                location, dv_codec.dv_relative_path(dv["pathOrInlineDv"])
            )
            if not os.path.exists(sp):
                missing.append(sp)
    if missing:
        raise FileNotFoundError(
            f"cannot RESTORE {location} to v{version}: {len(missing)} "
            f"file(s) no longer exist (vacuumed?), e.g. {missing[:3]}"
        )

    def ident(a: dict) -> tuple:
        return (a["path"], json.dumps(a.get("deletionVector"), sort_keys=True))

    cur_ids = {ident(a) for a in cur["adds"].values()}
    tgt_ids = {ident(a) for a in tgt["adds"].values()}
    now_ms = int(time.time() * 1000)
    actions: list[dict] = [
        {
            "commitInfo": {
                "operation": "RESTORE",
                "timestamp": now_ms,
                "operationParameters": {"version": version},
            }
        }
    ]
    if json.dumps(tgt["metaData"], sort_keys=True) != json.dumps(
        cur["metaData"], sort_keys=True
    ):
        actions.append({"metaData": tgt["metaData"]})
    for p, a in sorted(cur["adds"].items()):
        if ident(a) in tgt_ids:
            continue
        rm = {
            "path": p,
            "deletionTimestamp": now_ms,
            "dataChange": True,
            "partitionValues": a.get("partitionValues") or {},
        }
        if a.get("deletionVector"):
            rm["deletionVector"] = a["deletionVector"]
        actions.append({"remove": rm})
    for p, a in sorted(tgt["adds"].items()):
        if ident(a) in cur_ids:
            continue
        actions.append(
            {"add": {**a, "dataChange": True, "modificationTime": now_ms}}
        )
    return _write_commit(location, cur["version"] + 1, actions)


def delta_changes(
    spark: SparkSession,
    location: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Row-level change feed between versions — the ``table_changes``
    / CDF surface reconstructed from the transaction log (no
    ``_change_data`` files needed; delta-io PROTOCOL.md "Change Data
    Files" is writer-optional and absent from most tables). For every
    version in ``(from_version, to_version]`` the changes are derived
    by the cheapest exact method the commit's shape allows:

    - commits whose actions all carry ``dataChange: false`` (OPTIMIZE,
      checkpoint-era rearrangements) contribute NOTHING — that is the
      flag's entire purpose;
    - append-only commits (adds, no removes): the added files' rows
      are the inserts — a direct scan of just those files;
    - DV-transition commits (every add re-adds an existing path with a
      deletionVector): the deleted rows are the file positions newly
      present in the descriptor — per-file position-set difference,
      no snapshot diff;
    - anything else (COW delete/update/merge): exact multiset snapshot
      diff — ``read(v).exceptAll(read(v-1))`` as inserts and the
      reverse as deletes. Heavier (two snapshot scans) but correct for
      arbitrary rewrites, and fully distributed.

    Returns the table columns plus ``_change_type`` ('insert' /
    'delete'), ``_commit_version``, ``_commit_timestamp`` (ms).
    Updates surface as delete+insert pairs, exactly like Delta CDF
    with no row tracking."""
    location = _norm_location(location)
    versions = _list_commit_versions(location)
    last = versions[-1]
    to_version = last if to_version is None else to_version
    if from_version > to_version or to_version > last:
        raise ValueError(
            f"invalid change range ({from_version}, {to_version}] for a log "
            f"at version {last}"
        )
    ts_by_version = {
        e["version"]: e["timestamp_ms"] for e in delta_history(spark, location)
    }
    out: DataFrame | None = None
    prev_state = _snapshot_state(spark, location, from_version)
    for v in range(from_version + 1, to_version + 1):
        state = _snapshot_state(spark, location, v)
        meta = state["metaData"]
        adds_actions: list[dict] = []
        removes_actions: list[dict] = []
        any_data_change = False
        with open(_commit_path(location, v)) as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                action = json.loads(line)
                if "add" in action:
                    adds_actions.append(action["add"])
                    any_data_change |= bool(action["add"].get("dataChange", True))
                elif "remove" in action:
                    removes_actions.append(action["remove"])
                    any_data_change |= bool(
                        action["remove"].get("dataChange", True)
                    )
        chunk = None
        if not any_data_change:
            prev_state = state
            continue
        removed_paths = {r["path"] for r in removes_actions}
        re_adds_with_dv = [
            a for a in adds_actions
            if a["path"] in prev_state["adds"] and a.get("deletionVector")
        ]
        if adds_actions and not removes_actions and not re_adds_with_dv:
            inserted = _dataframe_for_adds(spark, location, meta, adds_actions)
            chunk = inserted.select("*", F.lit("insert").alias("_change_type"))
        elif (
            re_adds_with_dv
            and len(re_adds_with_dv) == len(adds_actions)
            and removed_paths == {a["path"] for a in adds_actions}
        ):
            # per-file NEW positions = DV(v) minus DV(v-1): scan only the
            # touched files and keep rows whose position joined the DV
            from pg_datalake_spark.tables import dv_codec

            _abs = _make_abs(location)
            new_pos = []
            for a in re_adds_with_dv:
                old_dv = (prev_state["adds"].get(a["path"]) or {}).get(
                    "deletionVector"
                )
                old = set(
                    dv_codec.decode_descriptor_positions(old_dv, location)
                ) if old_dv else set()
                new = set(
                    dv_codec.decode_descriptor_positions(
                        a["deletionVector"], location
                    )
                )
                uri = tombstones.spark_uri(_abs(a["path"]))
                new_pos += [(uri, int(p)) for p in sorted(new - old)]
            # strip the DV so the scan yields ALL rows (positions must
            # be selected AT the scan), then keep newly-deleted ones
            bare = [
                {k: vv for k, vv in a.items() if k != "deletionVector"}
                for a in re_adds_with_dv
            ]
            scan = _dataframe_for_adds(
                spark, location, meta, bare, with_position=True
            )
            pos_df = local_frame(spark, new_pos, "__file string, __pos long")
            chunk = (
                scan.join(F.broadcast(pos_df), ["__file", "__pos"])
                .drop("__file", "__pos")
                .select("*", F.lit("delete").alias("_change_type"))
            )
        else:
            prev_df = _dataframe_for_adds(
                spark, location, meta, list(prev_state["adds"].values())
            )
            cur_df = _dataframe_for_adds(
                spark, location, meta, list(state["adds"].values())
            )
            chunk = (
                cur_df.exceptAll(prev_df)
                .select("*", F.lit("insert").alias("_change_type"))
                .unionByName(
                    prev_df.exceptAll(cur_df)
                    .select("*", F.lit("delete").alias("_change_type"))
                )
            )
        chunk = chunk.select(
            "*",
            F.lit(v).cast("long").alias("_commit_version"),
            F.lit(ts_by_version.get(v)).cast("long").alias("_commit_timestamp"),
        )
        out = chunk if out is None else out.unionByName(chunk)
        prev_state = state
    if out is None:
        meta = prev_state["metaData"]
        schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
        schema = T.StructType(
            schema.fields
            + [
                T.StructField("_change_type", T.StringType()),
                T.StructField("_commit_version", T.LongType()),
                T.StructField("_commit_timestamp", T.LongType()),
            ]
        )
        return local_frame(spark, [], schema)
    return out
