"""How reads apply tombstones, for all three table formats.

Within ``tombstones.DRIVER_ROWS`` the driver holds a read's tombstones
(decoded deletion vectors, position-delete files read with pyarrow) and
broadcasts them as one Arrow table; past it the executors decode or
read them. Every route spells each data file as Spark reports
``_metadata.file_path`` and joins on that raw column, so they must read
the same rows from files whose paths Spark %-escapes, and no plan
decodes or rewrites a path.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pg_datalake_spark.tables import LakeTable, tombstones
from pg_datalake_spark.tables import delta_log as dl
from pg_datalake_spark.tables import iceberg_external as ie
from pg_datalake_spark.tables.format import PartitionField
from tests.spark_jobs import spark_work
from tests.test_laketable import KV_SCHEMA

# identity partition values that Spark's file URIs %-escape
VALUES = ["a b", "c+d", "e%f", "g%20h"]
N = 240
# each 60-row partition file loses 10 rows to the first delete (MOR on
# the LakeTable) and the "c+d" file 5 more to the second
DELETES = ("key % 24 < 4", "key % 48 = 5")
EXPECTED = sorted(
    (k, VALUES[k % 4], k % 5) for k in range(N) if k % 24 >= 4 and k % 48 != 5
)


def _batch(spark):
    return spark.range(N).coalesce(1).select(
        F.col("id").alias("key"),
        F.element_at(F.array(*[F.lit(v) for v in VALUES]), (F.col("id") % 4 + 1).cast("int"))
        .alias("value"),
        (F.col("id") % 5).cast("int").alias("grp"),
    )


def _lake(spark, root: str) -> LakeTable:
    t = LakeTable.create(spark, root, KV_SCHEMA, partition_by=[PartitionField("value")])
    t.append(_batch(spark))
    for pred in DELETES:
        assert t.delete(pred)["cow"] == 0
    assert len(t._current_snapshot(t._load()).delete_files) == 2
    return t


def _delta(spark, loc: str) -> str:
    dl.write_delta_table(_batch(spark), loc, partition_by=["value"])
    dl.delete_where_delta(spark, loc, DELETES[0], mode="dv")  # inline DVs
    dl.delete_where_delta(spark, loc, DELETES[1], mode="dv", inline_threshold=0)  # a sidecar
    return loc


def _rows(df) -> list[tuple]:
    return sorted((r.key, r.value, r.grp) for r in df.collect())


def test_routes_read_the_same_rows(spark, tmp_path, monkeypatch, request):
    """Tables under relative, non-normalised roots with %-escaped
    partition paths read the same rows with the bound at its default
    and pinned to 0."""
    monkeypatch.chdir(tmp_path)
    lake = _lake(spark, "./x/../lake dir")
    _delta(spark, str(tmp_path / "delta dir"))
    delta = "delta dir"
    driver = (_rows(lake.scan()), _rows(dl.read_delta_table(spark, delta)))
    request.getfixturevalue("executor_route")
    executor = (_rows(lake.scan()), _rows(dl.read_delta_table(spark, delta)))
    assert driver == executor == (EXPECTED, EXPECTED)


def _plans(spark, df_fn) -> tuple[list, list[str]]:
    work = spark_work(spark, lambda: _rows(df_fn()))
    assert work.plans
    return work.result, work.plans


def test_dv_read_within_the_bound_decodes_no_path(spark, tmp_path, monkeypatch):
    """Within the bound a DV read joins the held tombstones on the raw
    ``_metadata.file_path``: no plan it runs decodes a path."""
    loc = _delta(spark, str(tmp_path / "delta"))
    rows, plans = _plans(spark, lambda: dl.read_delta_table(spark, loc))
    assert rows == EXPECTED
    text = "\n".join(plans).lower()
    assert "url_decode" not in text and "regexp_replace" not in text
    assert "localtablescan" in text  # the broadcast tombstones
    # past the bound the executors decode the bitmaps, on the same key
    monkeypatch.setattr(tombstones, "DRIVER_ROWS", 0)
    rows, plans = _plans(spark, lambda: dl.read_delta_table(spark, loc))
    assert rows == EXPECTED
    text = "\n".join(plans).lower()
    assert "mapinpandas" in text
    assert "url_decode" not in text and "regexp_replace" not in text


def test_lake_read_within_the_bound_reads_no_delete_file(spark, tmp_path, monkeypatch):
    """Within the bound a LakeTable read takes its tombstones from the
    delete files on the driver: no plan it runs scans ``deletes/``.
    Past it (the control) Spark reads them."""
    t = _lake(spark, str(tmp_path / "lake"))
    rows, plans = _plans(spark, t.scan)
    assert rows == EXPECTED
    assert not any("/deletes/" in p for p in plans)
    monkeypatch.setattr(tombstones, "DRIVER_ROWS", 0)
    rows, plans = _plans(spark, t.scan)
    assert rows == EXPECTED
    assert any("/deletes/" in p for p in plans)


@pytest.mark.parametrize("route", ["driver", "executor"])
def test_tombstones_of_unread_files_are_not_joined(spark, tmp_path, request, route):
    """A read joins only the tombstones of the files it reads: a scan
    the partition filter prunes to a file without deletes plans no
    anti-join at all."""
    if route == "executor":
        request.getfixturevalue("executor_route")
    t = LakeTable.create(
        spark, str(tmp_path / "lake"), KV_SCHEMA, partition_by=[PartitionField("value")]
    )
    t.append(_batch(spark))
    t.delete("key = 1")  # in the "c+d" file only
    df = t.scan(filters=[("value", "=", "a b")])
    assert "LeftAnti" not in df._jdf.queryExecution().executedPlan().toString()
    assert _rows(df) == sorted((k, "a b", k % 5) for k in range(0, N, 4))


# the external Iceberg table also loses two keys to an equality delete
ICE_EQ_KEYS = (6, 7)
ICE_EXPECTED = [r for r in EXPECTED if r[0] not in ICE_EQ_KEYS]


def _raw_positions(spark, loc: str, predicate: str):
    """``(file_path, pos)`` of the rows matching ``predicate`` in the
    current snapshot's data files, spelled as ``_metadata`` reports."""
    data, _ = ie.snapshot_files(loc)
    return (
        spark.read.parquet(*[ie._local(p) for p in data])
        .filter(predicate)
        .selectExpr("_metadata.file_path AS file_path", "_metadata.row_index AS pos")
    )


def _iceberg(spark, loc: str) -> str:
    """An identity-partitioned external Iceberg table with position
    deletes through both writers and one equality delete."""
    ie.export_iceberg_snapshot(_batch(spark), loc, partition_by=["value"])
    first = _raw_positions(spark, loc, DELETES[0]).collect()
    ie.add_position_deletes(loc, [(r.file_path, r.pos) for r in first])
    ie.add_position_deletes_df(loc, _raw_positions(spark, loc, DELETES[1]))
    keys = spark.createDataFrame([(k,) for k in ICE_EQ_KEYS], "key long")
    ie.add_equality_deletes(loc, keys)
    return loc


def test_iceberg_routes_read_the_same_rows(spark, tmp_path, request):
    """An external Iceberg table whose partition paths Spark %-escapes
    reads its position and equality deletes, and its identity partition
    column, on both routes."""
    loc = _iceberg(spark, str(tmp_path / "ice dir"))
    driver = _rows(ie.read_iceberg_table(spark, loc))
    request.getfixturevalue("executor_route")
    executor = _rows(ie.read_iceberg_table(spark, loc))
    assert driver == executor == ICE_EXPECTED


@pytest.mark.parametrize("route", ["driver", "executor"])
def test_iceberg_read_rewrites_no_path(spark, tmp_path, request, route):
    """An Iceberg read joins its deletes and restores its partition
    column on the raw ``_metadata.file_path``: no plan it runs decodes
    or rewrites a path."""
    loc = _iceberg(spark, str(tmp_path / "ice dir"))
    if route == "executor":
        request.getfixturevalue("executor_route")
    rows, plans = _plans(spark, lambda: ie.read_iceberg_table(spark, loc))
    text = "\n".join(plans).lower()
    assert "url_decode" not in text and "regexp_replace" not in text
    assert rows == ICE_EXPECTED


def test_iceberg_delete_files_name_manifest_paths(spark, tmp_path):
    """Both position-delete writers spell each row's ``file_path`` as
    the data file's manifest ``file_path``, as the Iceberg spec asks."""
    import pyarrow.parquet as pq

    loc = _iceberg(spark, str(tmp_path / "ice dir"))
    entries = ie.snapshot_file_entries(loc)
    manifest = {e["path"] for e in entries if e["content"] == 0}
    dels = [ie._local(e["path"]) for e in entries if e["content"] == 1]
    assert len(dels) >= 2
    written = {p for d in dels for p in pq.read_table(d).column("file_path").to_pylist()}
    assert written and written <= manifest


def test_iceberg_position_outside_the_snapshot_raises(spark, tmp_path):
    """A position delete naming a file the current snapshot does not
    hold fails on both writers and commits nothing."""
    loc = str(tmp_path / "ice dir")
    ie.export_iceberg_snapshot(_batch(spark), loc, partition_by=["value"])
    before = ie.load_table_metadata(loc)["current-snapshot-id"]
    stray = "file:" + str(tmp_path / "elsewhere.parquet")
    with pytest.raises(ValueError, match="not a data file"):
        ie.add_position_deletes(loc, [(stray, 0)])
    frame = spark.createDataFrame([(stray, 0)], "file_path string, pos long")
    with pytest.raises(Exception, match="not a data file"):
        ie.add_position_deletes_df(loc, frame)
    assert ie.load_table_metadata(loc)["current-snapshot-id"] == before


def test_no_table_module_rewrites_a_file_path():
    """No module under ``tables/`` rewrites or decodes a file path per
    row: every format joins on the raw ``_metadata.file_path`` and names
    its files once per file (``tombstones.spark_uri``)."""
    import ast
    from pathlib import Path

    from source_ast import calls, mentions, sql_calls

    import pg_datalake_spark.tables as tables

    modules = sorted(Path(tables.__file__).parent.glob("*.py"))
    assert len(modules) > 5
    for path in modules:
        tree = ast.parse(path.read_text(), str(path))
        for fn in ("regexp_replace", "url_decode"):
            bad = [c for c in calls(tree, fn) if mentions(c, "file_path")]
            bad += [t for t in sql_calls(tree, fn) if "file_path" in t]
            assert not bad, f"{path.name} calls {fn} on a file path"
