"""How reads apply tombstones, for both table formats.

Within ``tombstones.DRIVER_ROWS`` the driver holds a read's tombstones
(decoded deletion vectors, position-delete files read with pyarrow) and
broadcasts them as one Arrow table; past it the executors decode or
read them. Both routes spell each data file as Spark reports
``_metadata.file_path`` and join on that raw column, so they must read
the same rows from files whose paths Spark %-escapes, and no plan
decodes a path.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pg_datalake_spark.tables import LakeTable, tombstones
from pg_datalake_spark.tables import delta_log as dl
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
