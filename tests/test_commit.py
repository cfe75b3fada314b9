"""The commit primitive shared by the four metadata writers
(``tables/commit.py``): the LakeTable's ``_commit``, Delta's
``_write_commit``, Iceberg's ``_write_version_file`` and the catalog's
``_try_commit_manifest``.

A commit that fails before it publishes leaves nothing in the log
directory, a commit that loses its version slot raises
:class:`CommitConflictError` in every format, and no other module
claims a slot on its own.
"""

from __future__ import annotations

import ast
import os
from pathlib import Path

import pytest
from pyspark.sql import types as T

import pg_datalake_spark
from pg_datalake_spark.tables import LakeTable
from pg_datalake_spark.tables import delta_log as dl
from pg_datalake_spark.tables import iceberg_external as ie
from pg_datalake_spark.tables.catalog_store import ObjectStoreCatalog
from pg_datalake_spark.tables.commit import CommitConflictError

UNSERIALISABLE = object()  # json.dumps raises on it


def _lake(spark, root):
    t = LakeTable.create(spark, root, T.StructType([T.StructField("k", T.LongType())]))
    meta = t._load()
    v = meta["_version"]
    return (
        t._meta_dir,
        t._meta_path(v + 1),
        lambda: t._commit({**meta, "bad": UNSERIALISABLE}, v),
        lambda: t._commit(meta, v),
        lambda: LakeTable(spark, root)._load()["_version"] == v + 1,
    )


def _delta(spark, root):
    dl.write_delta_table(spark.range(3).selectExpr("id AS k").coalesce(1), root)
    [path] = dl._snapshot_state(spark, root, None)["adds"]
    remove = {"remove": {"path": path, "deletionTimestamp": 0, "dataChange": True}}
    return (
        dl._log_dir(root),
        dl._commit_path(root, 1),
        # the remove serialises, the add after it does not
        lambda: dl._write_commit(root, 1, [remove, {"add": {"path": UNSERIALISABLE}}]),
        lambda: dl._write_commit(root, 1, [{"commitInfo": {"operation": "WRITE"}}]),
        lambda: dl._list_commit_versions(root) == [0, 1]
        and dl.read_delta_table(spark, root).count() == 3,
    )


def _iceberg(spark, root):
    ie.export_iceberg_snapshot(spark.range(3).selectExpr("id AS k"), root)
    meta_dir = os.path.join(root, "metadata")

    def hint():
        with open(os.path.join(meta_dir, "version-hint.text")) as fh:
            return fh.read().strip()

    return (
        meta_dir,
        os.path.join(meta_dir, "v2.metadata.json"),
        lambda: ie._write_version_file(
            meta_dir, 2, {**ie.load_table_metadata(root), "bad": UNSERIALISABLE}
        ),
        lambda: ie.append_snapshot(spark.range(3, 5).selectExpr("id AS k"), root),
        lambda: hint() == "2" and ie.read_iceberg_table(spark, root).count() == 5,
    )


def _catalog(spark, root):
    cat = ObjectStoreCatalog(root)
    entry = {"name": "t", "format": "lake", "location": "/nowhere"}
    return (
        cat._manifest_dir,
        cat._manifest_path(1),
        lambda: cat._try_commit_manifest(0, {"t": {**entry, "bad": UNSERIALISABLE}}),
        lambda: cat._try_commit_manifest(0, {"t": entry}),
        lambda: cat.current_version() == 1 and cat.list_tables() == ["t"],
    )


WRITERS = {"lake": _lake, "delta": _delta, "iceberg": _iceberg, "catalog": _catalog}


@pytest.mark.parametrize("writer", sorted(WRITERS))
def test_a_failed_commit_leaves_no_trace(spark, tmp_path, writer):
    """A commit whose payload does not serialise raises before anything
    is published: no file at the version slot, no temp file beside it,
    and the next commit claims the same version and leaves no temp file
    either."""
    log_dir, slot, fail, succeed, committed = WRITERS[writer](spark, str(tmp_path / "t"))
    before = sorted(os.listdir(log_dir))
    with pytest.raises((TypeError, ValueError)):
        fail()
    assert not os.path.exists(slot)
    assert sorted(os.listdir(log_dir)) == before
    if writer == "delta":
        assert dl._list_commit_versions(str(tmp_path / "t")) == [0]
    succeed()
    assert committed()
    assert [f for f in os.listdir(log_dir) if f.endswith(".tmp")] == []


def _lose_lake(spark, root, monkeypatch):
    t = LakeTable.create(spark, root, T.StructType([T.StructField("k", T.LongType())]))
    orig = LakeTable._commit

    def racing(self, meta, expected_version):
        orig(self, dict(meta), expected_version)  # the winner
        orig(self, meta, expected_version)

    monkeypatch.setattr(LakeTable, "_commit", racing)
    return lambda: t.append(spark.range(2).selectExpr("id AS k"))


def _lose_delta(spark, root, monkeypatch):
    dl.write_delta_table(spark.range(4).selectExpr("id AS k"), root)
    orig = dl._write_commit

    def racing(location, version, actions):
        orig(location, version, [{"commitInfo": {"operation": "WRITE"}}])
        return orig(location, version, actions)

    monkeypatch.setattr(dl, "_write_commit", racing)
    return lambda: dl.delete_where_delta(spark, root, "k < 2")


def _lose_iceberg(spark, root, monkeypatch):
    ie.export_iceberg_snapshot(spark.range(4).selectExpr("id AS k"), root)
    orig = ie._write_version_file

    def racing(meta_dir, version, meta):
        orig(meta_dir, version, dict(meta))
        orig(meta_dir, version, meta)

    monkeypatch.setattr(ie, "_write_version_file", racing)
    return lambda: ie.append_snapshot(spark.range(4, 6).selectExpr("id AS k"), root)


def _lose_catalog(spark, root, monkeypatch):
    cat = ObjectStoreCatalog(root)
    txn = cat.transaction().stage_lake("t", "/nowhere")
    cat.register_lake("t", "/elsewhere")  # the winner
    return txn.commit


LOSERS = {
    "lake append": _lose_lake,
    "delta delete_where_delta": _lose_delta,
    "iceberg append_snapshot": _lose_iceberg,
    "catalog commit": _lose_catalog,
}


@pytest.mark.parametrize("verb", sorted(LOSERS))
def test_every_lost_race_raises_commit_conflict(spark, tmp_path, monkeypatch, verb):
    """A writer whose version slot another writer claimed first raises
    the one conflict type, with the one message, in every format."""
    commit = LOSERS[verb](spark, str(tmp_path / "t"), monkeypatch)
    with pytest.raises(CommitConflictError, match="concurrent commit"):
        commit()


def _exclusive(open_call: ast.Call) -> bool:
    modes = [k.value for k in open_call.keywords if k.arg == "mode"] + open_call.args[1:2]
    return any(
        isinstance(m, ast.Constant) and isinstance(m.value, str) and "x" in m.value
        for m in modes
    )


def test_only_the_commit_module_claims_a_version_slot():
    """No module but ``tables/commit.py`` calls ``os.link`` or opens a
    file with mode ``"x"``: every exclusive create goes through the one
    primitive, so no writer publishes a half-written log entry."""
    from source_ast import calls

    pkg = Path(pg_datalake_spark.__file__).parent
    found = []
    for path in sorted(pkg.rglob("*.py")):
        if path == pkg / "tables" / "commit.py":
            continue
        tree = ast.parse(path.read_text(), str(path))
        claims = calls(tree, "link") + [c for c in calls(tree, "open") if _exclusive(c)]
        found += [f"{path.relative_to(pkg)}:{c.lineno}" for c in claims]
    assert found == []
