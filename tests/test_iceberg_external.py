"""External-Iceberg interop + Avro codec tests.

Covers the full interop surface (reference behavior:
docs/file-formats-reference.md:140-152 pinned metadata.json reads;
pg_lake_iceberg/src/avro/avro_reader.c / read_manifest.c; Spark
reading pg_lake tables in
pg_lake_iceberg/tests/pytests/test_iceberg_metadata_via_spark.py):
export → read roundtrip, merge-on-read position deletes, pinned
snapshot time travel, equality-delete rejection, metadata version
resolution, and the pure-Python Avro container codec (null + deflate,
namespaced named types, multi-branch unions, property-based encode →
decode identity).
"""

from __future__ import annotations

import glob
import json
import os
import tempfile

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pg_datalake_spark.catalog import load_tables
from pg_datalake_spark.tables import LakeTable
from pg_datalake_spark.tables.avro_codec import read_avro, write_avro
from pg_datalake_spark.tables.iceberg_external import (
    _local,
    add_equality_deletes,
    add_position_deletes,
    append_snapshot,
    export_iceberg_snapshot,
    load_table_metadata,
    plan_scan,
    read_iceberg_table,
    snapshot_files,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# Avro codec
# ---------------------------------------------------------------------------

NESTED_SCHEMA = {
    "type": "record",
    "name": "top",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "name", "type": ["null", "string"]},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "props", "type": {"type": "map", "values": "long"}},
        {
            "name": "inner",
            "type": {
                "type": "record",
                "name": "inner_rec",
                "fields": [{"name": "x", "type": "double"}],
            },
        },
        {"name": "color", "type": {"type": "enum", "name": "col", "symbols": ["R", "G"]}},
        {"name": "blob", "type": "bytes"},
        {"name": "flag", "type": "boolean"},
    ],
}

NESTED_RECORDS = [
    {
        "id": i,
        "name": None if i % 2 else f"n{i}",
        "tags": [f"t{i}", "z"],
        "props": {"a": i, "b": i * 2},
        "inner": {"x": i * 0.5},
        "color": "R" if i % 2 else "G",
        "blob": bytes([i % 256, 255]),
        "flag": i % 3 == 0,
    }
    for i in range(20)
]


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_avro_container_roundtrip(codec):
    path = tempfile.mktemp(suffix=".avro")
    write_avro(path, NESTED_SCHEMA, NESTED_RECORDS, codec=codec)
    schema, records = read_avro(path)
    assert schema["name"] == "top"
    assert records == NESTED_RECORDS


def test_avro_union_two_nonnull_branches():
    """Union branch selection must match the datum's type, not just
    pick the first non-null branch (ADVICE round 3)."""
    schema = {
        "type": "record",
        "name": "u",
        "fields": [{"name": "v", "type": ["null", "string", "long"]}],
    }
    recs = [{"v": None}, {"v": "s"}, {"v": 7}, {"v": "8"}, {"v": -3}]
    path = tempfile.mktemp(suffix=".avro")
    write_avro(path, schema, recs)
    _, back = read_avro(path)
    assert back == recs  # 7 stays int, "8" stays str


def test_avro_namespaced_fullname_reference():
    """External writers reference named types by fullname (e.g.
    ``org.apache.iceberg.r102``); both short and full names must
    resolve (ADVICE round 3)."""
    schema = {
        "type": "record",
        "name": "outer",
        "namespace": "org.apache.iceberg",
        "fields": [
            {
                "name": "first",
                "type": {
                    "type": "record",
                    "name": "r102",
                    "fields": [{"name": "k", "type": "long"}],
                },
            },
            # fullname reference to the type defined above
            {"name": "second", "type": "org.apache.iceberg.r102"},
            # short-name reference (inherits the enclosing namespace)
            {"name": "third", "type": "r102"},
        ],
    }
    recs = [{"first": {"k": 1}, "second": {"k": 2}, "third": {"k": 3}}]
    path = tempfile.mktemp(suffix=".avro")
    write_avro(path, schema, recs)
    _, back = read_avro(path)
    assert back == recs


# property-based: encode → decode identity over random schemas/values
_PRIMS = {
    "boolean": st.booleans(),
    "long": st.integers(min_value=-(2**63), max_value=2**63 - 1),
    "int": st.integers(min_value=-(2**31), max_value=2**31 - 1),
    "double": st.floats(allow_nan=False, allow_infinity=False),
    "float": st.floats(allow_nan=False, allow_infinity=False, width=32),
    "string": st.text(max_size=20),
    "bytes": st.binary(max_size=20),
}


@st.composite
def _schema_and_records(draw):
    """A random record schema from the supported type set + matching
    rows. Unions are kept type-unambiguous (null + one concrete) so
    the roundtrip is an exact identity."""
    fields, row_strats = [], {}
    for i in range(draw(st.integers(min_value=1, max_value=5))):
        name = f"f{i}"
        kind = draw(
            st.sampled_from(
                ["prim", "nullable", "array", "map", "nested", "enum", "fixed"]
            )
        )
        if kind == "prim":
            t = draw(st.sampled_from(sorted(_PRIMS)))
            fields.append({"name": name, "type": t})
            row_strats[name] = _PRIMS[t]
        elif kind == "nullable":
            t = draw(st.sampled_from(sorted(_PRIMS)))
            fields.append({"name": name, "type": ["null", t]})
            row_strats[name] = st.one_of(st.none(), _PRIMS[t])
        elif kind == "array":
            t = draw(st.sampled_from(sorted(_PRIMS)))
            fields.append({"name": name, "type": {"type": "array", "items": t}})
            row_strats[name] = st.lists(_PRIMS[t], max_size=5)
        elif kind == "map":
            t = draw(st.sampled_from(sorted(_PRIMS)))
            fields.append({"name": name, "type": {"type": "map", "values": t}})
            row_strats[name] = st.dictionaries(st.text(max_size=8), _PRIMS[t], max_size=4)
        elif kind == "nested":
            t = draw(st.sampled_from(sorted(_PRIMS)))
            fields.append(
                {
                    "name": name,
                    "type": {
                        "type": "record",
                        "name": f"rec_{name}",
                        "fields": [{"name": "v", "type": t}],
                    },
                }
            )
            row_strats[name] = st.fixed_dictionaries({"v": _PRIMS[t]})
        elif kind == "enum":
            fields.append(
                {
                    "name": name,
                    "type": {"type": "enum", "name": f"e_{name}", "symbols": ["A", "B", "C"]},
                }
            )
            row_strats[name] = st.sampled_from(["A", "B", "C"])
        else:  # fixed
            fields.append(
                {"name": name, "type": {"type": "fixed", "name": f"fx_{name}", "size": 4}}
            )
            row_strats[name] = st.binary(min_size=4, max_size=4)
    schema = {"type": "record", "name": "fuzz", "fields": fields}
    records = draw(st.lists(st.fixed_dictionaries(row_strats), max_size=8))
    codec = draw(st.sampled_from(["null", "deflate"]))
    return schema, records, codec


@settings(max_examples=60, deadline=None)
@given(_schema_and_records())
def test_avro_codec_property_roundtrip(case):
    schema, records, codec = case
    path = tempfile.mktemp(suffix=".avro")
    try:
        write_avro(path, schema, records, codec=codec)
        _, back = read_avro(path)
        assert back == records
    finally:
        if os.path.exists(path):
            os.unlink(path)


# ---------------------------------------------------------------------------
# Iceberg export / read
# ---------------------------------------------------------------------------


def _export_orders(spark, prefix="icetest_"):
    orders = load_tables(spark, SF_DIR, ["orders"])["orders"]
    loc = tempfile.mkdtemp(prefix=prefix) + "/t"
    snap = export_iceberg_snapshot(orders, loc)
    return orders, loc, snap


def test_export_read_roundtrip(spark):
    orders, loc, _ = _export_orders(spark)
    back = read_iceberg_table(spark, loc)
    assert back.count() == orders.count()
    a = orders.agg(F.sum("o_orderkey"), F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))).collect()[0]
    b = back.agg(F.sum("o_orderkey"), F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))).collect()[0]
    assert tuple(a) == tuple(b)
    # schema survives (names + types)
    assert back.schema == orders.schema


def test_mor_position_delete_and_time_travel(spark):
    orders, loc, snap1 = _export_orders(spark)
    n = orders.count()
    data_files, _ = snapshot_files(loc)
    doomed = (
        spark.read.parquet(*[_local(p) for p in data_files])
        .select(
            F.col("_metadata.file_path").alias("fp"),
            F.col("_metadata.row_index").alias("pos"),
            "o_orderkey",
        )
        .filter((F.col("o_orderkey") % 10) == 0)
        .collect()
    )
    assert doomed, "delete predicate must hit at this SF"
    snap2 = add_position_deletes(loc, [(r.fp, r.pos) for r in doomed])
    assert snap2 != snap1

    current = read_iceberg_table(spark, loc)
    assert current.count() == n - len(doomed)
    assert current.filter((F.col("o_orderkey") % 10) == 0).count() == 0
    # pinned pre-delete snapshot still sees every row (time travel)
    pinned = read_iceberg_table(spark, loc, snapshot_id=snap1)
    assert pinned.count() == n
    # and version-hint now points at v2 metadata with both snapshots
    meta = load_table_metadata(loc)
    assert meta["current-snapshot-id"] == snap2
    assert {s["snapshot-id"] for s in meta["snapshots"]} == {snap1, snap2}


def _manifests_for(loc: str, content: int) -> list[str]:
    """Manifest avro files under loc/metadata whose entries carry the
    given content code (0=data, 1=position deletes)."""
    out = []
    for p in glob.glob(os.path.join(loc, "metadata", "*-m0.avro")):
        _, entries = read_avro(p)
        if entries and any((e["data_file"].get("content") or 0) == content for e in entries):
            out.append(p)
    return out


def test_equality_delete_flat_list_rejected(spark):
    """snapshot_files (the flat two-list API) cannot represent
    sequence-scoped equality deletes — it must fail loud and point at
    read_iceberg_table, which handles them."""
    _, loc, _ = _export_orders(spark)
    [mpath] = _manifests_for(loc, 0)
    schema, entries = read_avro(mpath)
    for e in entries:
        e["data_file"]["content"] = 2  # equality deletes
    write_avro(mpath, schema, entries)
    with pytest.raises(NotImplementedError, match="equality-delete"):
        snapshot_files(loc)


def test_equality_delete_basic_and_time_travel(spark):
    """content=2 deletes: rows matching the delete keys disappear from
    the current snapshot; the pinned pre-delete snapshot is intact."""
    orders, loc, snap1 = _export_orders(spark)
    n = orders.count()
    n_f = orders.filter(F.col("o_orderstatus") == "F").count()
    assert 0 < n_f < n
    snap2 = add_equality_deletes(
        loc, spark.createDataFrame([("F",)], "o_orderstatus string")
    )
    cur = read_iceberg_table(spark, loc)
    assert cur.count() == n - n_f
    assert cur.filter(F.col("o_orderstatus") == "F").count() == 0
    assert read_iceberg_table(spark, loc, snapshot_id=snap1).count() == n
    meta = load_table_metadata(loc)
    assert meta["current-snapshot-id"] == snap2


def test_equality_delete_sequence_scoping(spark):
    """An equality delete applies only to data files with STRICTLY
    lower sequence numbers: re-appending deleted keys after the delete
    commit makes them visible again (Iceberg v2 spec)."""
    orders = load_tables(spark, SF_DIR, ["orders"])["orders"]
    loc = tempfile.mkdtemp(prefix="iceeq_") + "/t"
    export_iceberg_snapshot(orders, loc)  # seq 1
    doomed = orders.filter(F.col("o_orderstatus") == "P")
    n_doomed = doomed.count()
    assert n_doomed > 0
    add_equality_deletes(
        loc, spark.createDataFrame([("P",)], "o_orderstatus string")
    )  # seq 2
    assert read_iceberg_table(spark, loc).count() == orders.count() - n_doomed
    # re-append the deleted rows: seq 3 > delete seq 2 → visible
    append_snapshot(doomed, loc)
    back = read_iceberg_table(spark, loc)
    assert back.count() == orders.count()
    assert back.filter(F.col("o_orderstatus") == "P").count() == n_doomed


def test_equality_delete_multi_column_and_null(spark):
    """Multi-column equality ids + null-safe matching: a null in the
    delete row matches rows where that column IS NULL."""
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, None, 20.0), (3, "a", 30.0), (4, None, 40.0), (5, "b", 50.0)],
        "id long, k string, v double",
    )
    loc = tempfile.mkdtemp(prefix="icenull_") + "/t"
    export_iceberg_snapshot(df, loc)
    # delete (1,'a') and (2,null) on (id, k) — row 3 shares k='a' but
    # not id; row 4 shares k=null but not id: both must survive
    add_equality_deletes(
        loc,
        spark.createDataFrame([(1, "a"), (2, None)], "id long, k string"),
        columns=["id", "k"],
    )
    left = {r.id for r in read_iceberg_table(spark, loc).collect()}
    assert left == {3, 4, 5}
    # single-column null delete: k=null matches rows 4 (2 already gone)
    add_equality_deletes(
        loc, spark.createDataFrame([(None,)], "k string"), columns=["k"]
    )
    assert {r.id for r in read_iceberg_table(spark, loc).collect()} == {3, 5}


def test_equality_and_position_deletes_combined(spark):
    """Both MOR delete kinds in one table apply independently."""
    orders, loc, _ = _export_orders(spark)
    n = orders.count()
    data_files, _ = snapshot_files(loc)
    doomed = (
        spark.read.parquet(*[_local(p) for p in data_files])
        .select(
            F.col("_metadata.file_path").alias("fp"),
            F.col("_metadata.row_index").alias("pos"),
            "o_orderkey",
            "o_orderstatus",
        )
        .filter((F.col("o_orderkey") % 7 == 0) & (F.col("o_orderstatus") != "F"))
        .collect()
    )
    assert doomed
    add_position_deletes(loc, [(r.fp, r.pos) for r in doomed])
    add_equality_deletes(
        loc, spark.createDataFrame([("F",)], "o_orderstatus string")
    )
    expected = orders.filter(
        ~((F.col("o_orderkey") % 7 == 0) & (F.col("o_orderstatus") != "F"))
        & (F.col("o_orderstatus") != "F")
    ).count()
    assert read_iceberg_table(spark, loc).count() == expected


def test_equality_delete_unknown_column_rejected(spark):
    _, loc, _ = _export_orders(spark)
    with pytest.raises(ValueError, match="not in table schema"):
        add_equality_deletes(loc, spark.createDataFrame([(1,)], "nope long"))


def test_nonlocal_scheme_rejected(spark):
    orders, loc, _ = _export_orders(spark)
    data_files, _ = snapshot_files(loc)
    one = spark.read.parquet(_local(data_files[0])).select(
        F.col("_metadata.file_path").alias("fp"),
        F.col("_metadata.row_index").alias("pos"),
    ).limit(1).collect()[0]
    add_position_deletes(loc, [(one.fp, one.pos)])
    [dpath] = _manifests_for(loc, 1)
    schema, entries = read_avro(dpath)
    entries[0]["data_file"]["file_path"] = "s3://bucket/deletes.parquet"
    write_avro(dpath, schema, entries)
    with pytest.raises(NotImplementedError, match="file URIs"):
        read_iceberg_table(spark, loc)


def test_metadata_version_numeric_sort(spark):
    """v9 vs v10 without a version-hint: numeric sort must win
    (lexicographic picks v9) — ADVICE round 3."""
    _, loc, _ = _export_orders(spark)
    meta_dir = os.path.join(loc, "metadata")
    with open(os.path.join(meta_dir, "v1.metadata.json")) as fh:
        meta = json.load(fh)
    for v, marker in ((9, "old"), (10, "new")):
        meta["properties"] = {"marker": marker}
        with open(os.path.join(meta_dir, f"v{v}.metadata.json"), "w") as fh:
            json.dump(meta, fh)
    os.unlink(os.path.join(meta_dir, "version-hint.text"))
    assert load_table_metadata(loc)["properties"]["marker"] == "new"


def test_file_uri_location(spark):
    """A file:// table location must work end-to-end (ADVICE round 3:
    load_table_metadata used the raw location)."""
    orders, loc, _ = _export_orders(spark)
    assert load_table_metadata("file://" + loc)["format-version"] == 2
    assert read_iceberg_table(spark, "file://" + loc).count() == orders.count()


def test_append_snapshot(spark):
    """APPEND commit: new files join the table; the pre-append
    snapshot stays pinned-readable; schema mismatches are rejected."""
    orders = load_tables(spark, SF_DIR, ["orders"])["orders"]
    half_a = orders.filter(F.col("o_orderkey") % 2 == 0)
    half_b = orders.filter(F.col("o_orderkey") % 2 == 1)
    loc = tempfile.mkdtemp(prefix="iceapp_") + "/t"
    snap1 = export_iceberg_snapshot(half_a, loc)
    snap2 = append_snapshot(half_b, loc)
    assert snap2 != snap1
    assert read_iceberg_table(spark, loc).count() == orders.count()
    assert read_iceberg_table(spark, loc, snapshot_id=snap1).count() == half_a.count()
    # appended rows participate in later MOR deletes too
    data_files, _ = snapshot_files(loc)
    one = (
        spark.read.parquet(*[_local(p) for p in data_files])
        .select(
            F.col("_metadata.file_path").alias("fp"),
            F.col("_metadata.row_index").alias("pos"),
            "o_orderkey",
        )
        .filter(F.col("o_orderkey") % 2 == 1)
        .limit(3)
        .collect()
    )
    add_position_deletes(loc, [(r.fp, r.pos) for r in one])
    assert read_iceberg_table(spark, loc).count() == orders.count() - 3
    with pytest.raises(ValueError, match="schema mismatch"):
        append_snapshot(half_b.drop("o_totalprice"), loc)


def test_introspection_functions(spark):
    """lake_iceberg.metadata/snapshots/files/table_size/data_file_stats
    analogs over an exported table with append + delete history."""
    from pg_datalake_spark.tables.iceberg_external import (
        iceberg_data_file_stats,
        iceberg_files,
        iceberg_metadata,
        iceberg_snapshots,
        iceberg_table_size,
    )

    orders, loc, snap1 = _export_orders(spark)
    append_snapshot(orders.limit(50), loc)
    data_files, _ = snapshot_files(loc)
    one = (
        spark.read.parquet(_local(data_files[0]))
        .select(
            F.col("_metadata.file_path").alias("fp"),
            F.col("_metadata.row_index").alias("pos"),
        )
        .limit(2)
        .collect()
    )
    add_position_deletes(loc, [(r.fp, r.pos) for r in one])

    md = iceberg_metadata(spark, loc).collect()[0]
    assert md.format_version == 2 and md.n_snapshots == 3

    snaps = iceberg_snapshots(spark, loc).orderBy("sequence_number").collect()
    assert [s.operation for s in snaps] == ["append", "append", "delete"]
    assert [s.is_current for s in snaps] == [False, False, True]
    assert snaps[0].snapshot_id == snap1

    files = iceberg_files(spark, loc).collect()
    by_content = {0: 0, 1: 0}
    for f in files:
        by_content[f.content] += 1
        assert f.record_count > 0 and f.file_size_in_bytes > 0
    assert by_content[0] >= 2 and by_content[1] == 1
    # pinned listing excludes the delete file
    assert all(f.content == 0 for f in iceberg_files(spark, loc, snapshot_id=snap1).collect())

    assert iceberg_table_size(loc) == sum(f.file_size_in_bytes for f in files)

    stats = iceberg_data_file_stats(spark, loc).collect()
    assert sum(s.num_rows for s in stats) == orders.count() + 50
    assert all(s.num_row_groups >= 1 and s.total_uncompressed_bytes > 0 for s in stats)


def test_bounds_roundtrip_serialization():
    """Spec single-value serialization: encode → decode identity for
    every type the exporter emits bounds for."""
    import datetime as dt

    from pg_datalake_spark.tables.iceberg_external import (
        _bound_from_bytes,
        _bound_to_bytes,
    )

    cases = [
        (42, "int"), (-7, "int"), (1 << 40, "long"), (-(1 << 40), "long"),
        (1.5, "float"), (-2.25e10, "double"), ("abc", "string"), ("", "string"),
        (dt.date(2024, 2, 29), "date"), (1700000000123456, "timestamp"),
    ]
    for v, t in cases:
        assert _bound_from_bytes(_bound_to_bytes(v, t), t) == v
    assert _bound_to_bytes(object(), "decimal(15, 2)") is None  # omitted type


def test_scan_pruning_by_bounds(spark):
    """Manifest lower/upper bounds prune data files before Spark sees
    them; the filtered read stays exact."""
    from pg_datalake_spark.tables.iceberg_external import plan_scan

    orders = load_tables(spark, SF_DIR, ["orders"])["orders"]
    loc = tempfile.mkdtemp(prefix="iceprune_") + "/t"
    # range-partitioned write → files with disjoint o_orderkey ranges
    export_iceberg_snapshot(orders.repartitionByRange(4, "o_orderkey"), loc)

    lo_key = orders.agg(F.expr("percentile(o_orderkey, 0.1)")).first()[0]
    plan = plan_scan(loc, [("o_orderkey", "<=", int(lo_key))])
    assert len(plan["kept"]) + len(plan["skipped"]) == 4
    assert plan["skipped"], "disjoint ranges must prune at least one file"

    got = read_iceberg_table(spark, loc, filters=[("o_orderkey", "<=", int(lo_key))])
    want = orders.filter(F.col("o_orderkey") <= int(lo_key))
    assert got.count() == want.count()
    a = got.agg(F.sum("o_orderkey").alias("s")).first()["s"]
    b = want.agg(F.sum("o_orderkey").alias("s")).first()["s"]
    assert a == b

    # unsatisfiable predicate: every file pruned, empty result, schema kept
    none = read_iceberg_table(spark, loc, filters=[("o_orderkey", "<", -1)])
    assert none.count() == 0
    assert none.columns == orders.columns

    # date-typed filter is exact too (bounds may or may not prune here)
    import datetime as dt

    cutoff = dt.date(1995, 1, 1)
    got_d = read_iceberg_table(spark, loc, filters=[("o_orderdate", ">=", cutoff)])
    assert got_d.count() == orders.filter(F.col("o_orderdate") >= cutoff).count()


def test_scan_pruning_string_bounds(spark):
    """ASCII string bounds prune; the reader never prunes on non-ASCII
    bounds (parquet unsigned-byte vs Python code-point ordering)."""
    from pg_datalake_spark.tables.iceberg_external import plan_scan

    df = spark.createDataFrame(
        [(i, chr(ord("a") + i // 10) * 3) for i in range(40)], "id long, k string"
    )
    loc = tempfile.mkdtemp(prefix="icestr_") + "/t"
    export_iceberg_snapshot(df.repartitionByRange(4, "k"), loc)
    plan = plan_scan(loc, [("k", "=", "aaa")])
    assert plan["skipped"], "k ranges are disjoint — must prune"
    got = read_iceberg_table(spark, loc, filters=[("k", "=", "aaa")])
    assert got.count() == 10


def test_scan_pruning_with_mor_deletes(spark):
    """Pruned reads compose with MOR position deletes."""
    orders, loc0, _ = _export_orders(spark)
    loc = tempfile.mkdtemp(prefix="iceprune2_") + "/t"
    export_iceberg_snapshot(orders.repartitionByRange(4, "o_orderkey"), loc)
    data_files, _ = snapshot_files(loc)
    doomed = (
        spark.read.parquet(*[_local(p) for p in data_files])
        .select(
            F.col("_metadata.file_path").alias("fp"),
            F.col("_metadata.row_index").alias("pos"),
            "o_orderkey",
        )
        .filter(F.col("o_orderkey") % 3 == 0)
        .collect()
    )
    add_position_deletes(loc, [(r.fp, r.pos) for r in doomed])
    med = orders.agg(F.expr("percentile(o_orderkey, 0.5)")).first()[0]
    got = read_iceberg_table(spark, loc, filters=[("o_orderkey", ">", int(med))])
    want = orders.filter(
        (F.col("o_orderkey") > int(med)) & (F.col("o_orderkey") % 3 != 0)
    )
    assert got.count() == want.count()


def test_null_value_counts_recorded(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, None), (4, "d")], "id long, k string"
    )
    loc = tempfile.mkdtemp(prefix="icenvc_") + "/t"
    export_iceberg_snapshot(df.coalesce(1), loc)
    from pg_datalake_spark.tables.iceberg_external import snapshot_file_entries

    [e] = snapshot_file_entries(loc)
    # field ids: id=1, k=2 (schema order)
    assert e["null_value_counts"][1] == 0
    assert e["null_value_counts"][2] == 2


def test_partitioned_export_roundtrip_and_pruning(spark):
    """Identity-partitioned export: manifests carry typed partition
    tuples, the read restores the partition column from metadata (not
    path inference), and partition predicates prune whole files."""
    from pg_datalake_spark.tables.iceberg_external import plan_scan, snapshot_file_entries

    orders = load_tables(spark, SF_DIR, ["orders"])["orders"]
    loc = tempfile.mkdtemp(prefix="icepart_") + "/t"
    export_iceberg_snapshot(orders, loc, partition_by=["o_orderstatus"])

    entries = snapshot_file_entries(loc)
    statuses = {e["partition"].get("o_orderstatus") for e in entries}
    assert statuses == {"O", "F", "P"}

    back = read_iceberg_table(spark, loc)
    assert back.count() == orders.count()
    # partition column restored with the right type and values
    a = sorted(r.o_orderstatus for r in back.select("o_orderstatus").distinct().collect())
    assert a == ["F", "O", "P"]
    s1 = back.groupBy("o_orderstatus").count().orderBy("o_orderstatus").collect()
    s2 = orders.groupBy("o_orderstatus").count().orderBy("o_orderstatus").collect()
    assert [(r.o_orderstatus, r["count"]) for r in s1] == [
        (r.o_orderstatus, r["count"]) for r in s2
    ]

    plan = plan_scan(loc, [("o_orderstatus", "=", "P")])
    assert plan["kept"] and plan["skipped"], "partition predicate must prune"
    got = read_iceberg_table(spark, loc, filters=[("o_orderstatus", "=", "P")])
    assert got.count() == orders.filter(F.col("o_orderstatus") == "P").count()


def test_partitioned_date_and_append_and_deletes(spark):
    """Date-typed identity partitions (epoch-days in manifests →
    restored as DATE), appends inherit the spec, and MOR deletes
    compose with partition pruning."""
    import datetime as dt

    from pg_datalake_spark.tables.iceberg_external import plan_scan

    df = spark.createDataFrame(
        [(i, dt.date(2024, 1 + i % 3, 1 + i % 28), float(i)) for i in range(60)],
        "id long, d date, v double",
    )
    loc = tempfile.mkdtemp(prefix="icedate_") + "/t"
    export_iceberg_snapshot(df, loc, partition_by=["d"])
    back = read_iceberg_table(spark, loc)
    assert dict(back.dtypes)["d"] == "date"
    assert back.count() == 60
    assert (
        back.agg(F.sum(F.unix_date("d")).alias("s")).first()["s"]
        == df.agg(F.sum(F.unix_date("d")).alias("s")).first()["s"]
    )

    # append inherits the partition spec
    extra = spark.createDataFrame(
        [(100 + i, dt.date(2024, 4, 1), 0.0) for i in range(5)],
        "id long, d date, v double",
    )
    append_snapshot(extra, loc)
    assert read_iceberg_table(spark, loc).count() == 65
    plan = plan_scan(loc, [("d", ">=", dt.date(2024, 4, 1))])
    assert plan["skipped"], "date partition predicate must prune older partitions"
    got = read_iceberg_table(spark, loc, filters=[("d", ">=", dt.date(2024, 4, 1))])
    assert got.count() == 5

    # equality delete on the partition column (restored column joins)
    add_equality_deletes(
        loc, spark.createDataFrame([(dt.date(2024, 4, 1),)], "d date"), columns=["d"]
    )
    assert read_iceberg_table(spark, loc).count() == 60


def test_overwrite_and_expire(spark):
    """OVERWRITE replaces contents (prior snapshots pinned-readable);
    expire_snapshots reclaims unreferenced metadata AND data files."""
    from pg_datalake_spark.tables.iceberg_external import (
        expire_snapshots,
        overwrite_snapshot,
    )

    orders = load_tables(spark, SF_DIR, ["orders"])["orders"]
    half = orders.filter(F.col("o_orderkey") % 2 == 0)
    loc = tempfile.mkdtemp(prefix="iceow_") + "/t"
    snap1 = export_iceberg_snapshot(orders, loc)
    snap2 = overwrite_snapshot(half, loc)
    assert read_iceberg_table(spark, loc).count() == half.count()
    assert read_iceberg_table(spark, loc, snapshot_id=snap1).count() == orders.count()

    v1_files, _ = snapshot_files(loc, snapshot_id=snap1)
    res = expire_snapshots(loc, keep_last=1)
    assert res["expired_snapshot_ids"] == [snap1]
    # v1-only data files are gone from disk; current snapshot unharmed
    assert all(not os.path.exists(_local(p)) for p in v1_files)
    assert read_iceberg_table(spark, loc).count() == half.count()
    meta = load_table_metadata(loc)
    assert [s["snapshot-id"] for s in meta["snapshots"]] == [snap2]
    with pytest.raises(ValueError, match="not found"):
        read_iceberg_table(spark, loc, snapshot_id=snap1)


def test_expire_keeps_shared_files(spark):
    """Append chains share data files across snapshots — expiry must
    not delete files the surviving snapshot still references."""
    from pg_datalake_spark.tables.iceberg_external import expire_snapshots

    orders = load_tables(spark, SF_DIR, ["orders"])["orders"]
    loc = tempfile.mkdtemp(prefix="iceexp_") + "/t"
    export_iceberg_snapshot(orders.limit(100), loc)
    append_snapshot(orders.limit(50), loc)
    n = read_iceberg_table(spark, loc).count()
    res = expire_snapshots(loc, keep_last=1)
    assert len(res["expired_snapshot_ids"]) == 1
    assert read_iceberg_table(spark, loc).count() == n  # shared files intact
    assert expire_snapshots(loc, keep_last=5) == {
        "expired_snapshot_ids": [],
        "deleted_files": [],
    }


def test_rollback_to_snapshot(spark):
    """Rollback re-points current; later snapshots stay readable;
    commits after a rollback fork from the restored state."""
    from pg_datalake_spark.tables.iceberg_external import rollback_to_snapshot

    orders, loc, snap1 = _export_orders(spark)
    n = orders.count()
    snap2 = append_snapshot(orders.limit(10), loc)
    assert read_iceberg_table(spark, loc).count() == n + 10

    assert rollback_to_snapshot(loc, snap1) == snap1
    assert read_iceberg_table(spark, loc).count() == n  # current = snap1 again
    assert read_iceberg_table(spark, loc, snapshot_id=snap2).count() == n + 10
    with pytest.raises(ValueError, match="not found"):
        rollback_to_snapshot(loc, 12345)
    # a new append now builds on the rolled-back state
    append_snapshot(orders.limit(5), loc)
    assert read_iceberg_table(spark, loc).count() == n + 5


@given(
    st.lists(
        st.tuples(st.integers(-50, 50), st.integers(0, 40)).map(
            lambda t: (t[0], t[0] + t[1])
        ),
        min_size=1,
        max_size=8,
    ),
    st.integers(-60, 60),
    st.sampled_from(["=", "<", "<=", ">", ">="]),
)
@settings(max_examples=200, deadline=None)
def test_file_may_match_property(bounds, val, op):
    """_file_may_match may keep too much but must NEVER prune a file
    that contains a matching value (soundness, hypothesis-checked
    against brute-force evaluation over the bound range)."""
    from pg_datalake_spark.tables.iceberg_external import (
        _bound_to_bytes,
        _file_may_match,
    )

    ops = {
        "=": lambda x: x == val,
        "<": lambda x: x < val,
        "<=": lambda x: x <= val,
        ">": lambda x: x > val,
        ">=": lambda x: x >= val,
    }
    for lo, hi in bounds:
        entry = {
            "lower_bounds": {1: _bound_to_bytes(lo, "long")},
            "upper_bounds": {1: _bound_to_bytes(hi, "long")},
        }
        keep = _file_may_match(entry, 1, "long", op, val)
        has_match = any(ops[op](x) for x in range(lo, hi + 1))
        if has_match:
            assert keep, f"pruned a file with matches: [{lo},{hi}] {op} {val}"


def test_laketable_export_iceberg_method(spark):
    """LakeTable.export_iceberg: the first-class crosswalk — current
    MOR state lands as a real Iceberg table, partitionable."""
    orders = load_tables(spark, SF_DIR, ["orders"])["orders"]
    root = tempfile.mkdtemp(prefix="ltexp_") + "/lt"
    lt = LakeTable.create(spark, root, orders.schema)
    lt.append(orders)
    lt.delete("o_orderkey % 4 = 0")
    expected = lt.scan()

    loc = tempfile.mkdtemp(prefix="ltexp_ice_") + "/t"
    lt.export_iceberg(loc, partition_by=["o_orderstatus"])
    back = read_iceberg_table(spark, loc)
    assert back.count() == expected.count()
    assert sorted(back.columns) == sorted(expected.columns)
    a = expected.agg(F.sum("o_orderkey").alias("k")).first()["k"]
    b = back.agg(F.sum("o_orderkey").alias("k")).first()["k"]
    assert a == b
    got = read_iceberg_table(spark, loc, filters=[("o_orderstatus", "=", "F")])
    assert got.count() == expected.filter("o_orderstatus = 'F'").count()


def test_schema_evolution_add_column(spark):
    """Add-column evolution: old files read as typed nulls, appends
    populate the new column, field ids are never reused, and filters
    on the new column work (including on pre-evolution rows)."""
    from pg_datalake_spark.tables.iceberg_external import evolve_add_column

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, k string")
    loc = tempfile.mkdtemp(prefix="iceevo_") + "/t"
    export_iceberg_snapshot(df, loc)

    sid = evolve_add_column(loc, "score", "double")
    meta = load_table_metadata(loc)
    assert meta["current-schema-id"] == sid
    assert meta["last-column-id"] == 3

    # old rows surface the column as nulls, in declared order
    back = read_iceberg_table(spark, loc)
    assert back.columns == ["id", "k", "score"]
    assert dict(back.dtypes)["score"] == "double"
    assert back.filter(F.col("score").isNull()).count() == 2

    # appends carry the new column; mixed-schema reads merge
    append_snapshot(
        spark.createDataFrame([(3, "c", 1.5)], "id long, k string, score double"), loc
    )
    all_rows = {(r.id, r.score) for r in read_iceberg_table(spark, loc).collect()}
    assert all_rows == {(1, None), (2, None), (3, 1.5)}
    got = read_iceberg_table(spark, loc, filters=[("score", ">=", 1.0)])
    assert {r.id for r in got.collect()} == {3}

    with pytest.raises(ValueError, match="already exists"):
        evolve_add_column(loc, "score", "double")
    with pytest.raises(ValueError, match="optional"):
        evolve_add_column(loc, "x", "long", required=True)
    with pytest.raises(ValueError, match="unsupported column type"):
        evolve_add_column(loc, "y", "uuid")


def test_schema_evolution_drop_column_and_changelog(spark):
    from pg_datalake_spark.tables.iceberg_external import (
        evolve_drop_column,
        iceberg_changelog,
    )

    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "id long, k string, v double"
    )
    loc = tempfile.mkdtemp(prefix="icedrop_") + "/t"
    snap1 = export_iceberg_snapshot(df, loc)
    evolve_drop_column(loc, "v")
    back = read_iceberg_table(spark, loc)
    assert back.columns == ["id", "k"]

    snap2 = append_snapshot(
        spark.createDataFrame([(3, "c")], "id long, k string"), loc
    )
    add_equality_deletes(loc, spark.createDataFrame([(1,)], "id long"), ["id"])
    meta = load_table_metadata(loc)
    snap3 = meta["current-snapshot-id"]

    # changelog from snap1 (pre-append) to snap3 (post-append+delete):
    # id 3 inserted, id 1 deleted (schema projection applies both sides)
    log = {(r.id, r._change) for r in iceberg_changelog(spark, loc, snap1, snap3).collect()}
    assert log == {(3, "insert"), (1, "delete")}
    assert iceberg_changelog(spark, loc, snap2, snap2).count() == 0

    with pytest.raises(ValueError, match="does not exist"):
        evolve_drop_column(loc, "nope")
    # partition sources are protected
    loc2 = tempfile.mkdtemp(prefix="icedrop2_") + "/t"
    export_iceberg_snapshot(df, loc2, partition_by=["k"])
    with pytest.raises(ValueError, match="partition source"):
        evolve_drop_column(loc2, "k")


def test_concurrent_commit_conflict(spark):
    """Optimistic concurrency: a commit whose metadata version was
    claimed by another writer fails with CommitConflictError instead of
    clobbering (the version-file exclusive-create is the CAS)."""
    from pg_datalake_spark.tables.iceberg_external import CommitConflictError

    orders, loc, _ = _export_orders(spark)
    # another writer claims v2 first
    with open(os.path.join(loc, "metadata", "v2.metadata.json"), "w") as fh:
        fh.write("{}")
    with pytest.raises(CommitConflictError, match="concurrent commit"):
        append_snapshot(orders.limit(5), loc)
    # the losing commit left the version hint untouched
    with open(os.path.join(loc, "metadata", "version-hint.text")) as fh:
        assert fh.read().strip() == "1"


def test_timestamp_as_of(spark):
    """TIMESTAMP AS OF resolution over the snapshot history."""
    import time as _time

    from pg_datalake_spark.tables.iceberg_external import snapshot_as_of

    orders, loc, snap1 = _export_orders(spark)
    n = orders.count()
    _time.sleep(0.05)
    snap2 = append_snapshot(orders.limit(7), loc)
    meta = load_table_metadata(loc)
    ts = {s["snapshot-id"]: s["timestamp-ms"] for s in meta["snapshots"]}

    assert snapshot_as_of(loc, ts[snap1]) == snap1
    assert snapshot_as_of(loc, ts[snap2] - 1) == snap1
    assert snapshot_as_of(loc, ts[snap2] + 1000) == snap2
    got = read_iceberg_table(spark, loc, as_of_timestamp_ms=ts[snap1])
    assert got.count() == n
    with pytest.raises(ValueError, match="no snapshot at or before"):
        snapshot_as_of(loc, ts[snap1] - 10_000)
    with pytest.raises(ValueError, match="exclusive"):
        read_iceberg_table(
            spark, loc, snapshot_id=snap1, as_of_timestamp_ms=ts[snap1]
        )


def test_cow_update_delete(spark):
    """COW DML on external tables: update_where rewrites matching rows
    in one OVERWRITE commit (types preserved); delete_where drops them;
    both leave prior snapshots pinned-readable."""
    from pg_datalake_spark.tables.iceberg_external import (
        delete_where,
        update_where,
    )

    orders, loc, snap1 = _export_orders(spark)
    n = orders.count()
    n_f = orders.filter("o_orderstatus = 'F'").count()

    update_where(
        spark, loc, {"o_totalprice": "o_totalprice * 2"}, "o_orderstatus = 'F'"
    )
    cur = read_iceberg_table(spark, loc)
    assert cur.count() == n
    assert cur.schema == orders.schema  # types survived the rewrite
    cents = lambda df: df.agg(  # noqa: E731
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("c")
    ).first()["c"]
    doubled = orders.withColumn(
        "o_totalprice",
        F.when(F.expr("o_orderstatus = 'F'"), F.col("o_totalprice") * 2).otherwise(
            F.col("o_totalprice")
        ),
    )
    assert cents(cur) == cents(doubled)

    delete_where(spark, loc, "o_orderstatus = 'F'")
    assert read_iceberg_table(spark, loc).count() == n - n_f
    # pre-DML snapshot untouched
    assert read_iceberg_table(spark, loc, snapshot_id=snap1).count() == n
    assert cents(read_iceberg_table(spark, loc, snapshot_id=snap1)) == cents(orders)


def test_laketable_iceberg_crosswalk(spark):
    """LakeTable data exported to Iceberg reads back equal — the
    interop crosswalk (reference: Spark reading pg_lake-written tables,
    test_iceberg_metadata_via_spark.py)."""
    orders = load_tables(spark, SF_DIR, ["orders"])["orders"]
    root = tempfile.mkdtemp(prefix="xwalk_") + "/lt"
    lt = LakeTable.create(spark, root, orders.schema)
    lt.append(orders)
    lt.delete("o_orderstatus = 'F'")
    expected = lt.scan()

    loc = tempfile.mkdtemp(prefix="xwalk_ice_") + "/t"
    export_iceberg_snapshot(expected.select(*orders.columns), loc)
    back = read_iceberg_table(spark, loc)
    assert back.count() == expected.count()
    a = expected.agg(F.sum("o_orderkey").alias("k")).collect()[0]["k"]
    b = back.agg(F.sum("o_orderkey").alias("k")).collect()[0]["k"]
    assert a == b


def test_position_deletes_df_distributed_path(spark):
    """add_position_deletes_df: executors write the delete parquet,
    the driver registers only the file list. Result must match the
    list-based path's semantics exactly, and the source must carry no
    collect() of delete rows (the plan is a pure write job)."""
    from pg_datalake_spark.tables.iceberg_external import add_position_deletes_df

    orders, loc, snap1 = _export_orders(spark, prefix="icedfdel_")
    n = orders.count()
    data_files, _ = snapshot_files(loc)
    doomed = (
        spark.read.parquet(*[_local(p) for p in data_files])
        .select(
            F.col("_metadata.file_path").alias("file_path"),
            F.col("_metadata.row_index").alias("pos"),
            "o_orderkey",
        )
        .filter((F.col("o_orderkey") % 7) == 0)
    )
    n_doomed = doomed.count()
    assert n_doomed > 0
    snap2 = add_position_deletes_df(loc, doomed.select("file_path", "pos"))
    assert snap2 != snap1

    current = read_iceberg_table(spark, loc)
    assert current.count() == n - n_doomed
    assert current.filter((F.col("o_orderkey") % 7) == 0).count() == 0
    # time travel still sees every row
    assert read_iceberg_table(spark, loc, snapshot_id=snap1).count() == n

    # the delete parquet was written by Spark executors with the
    # Iceberg field ids, under data/posdel-*
    import glob as _glob

    del_files = _glob.glob(os.path.join(loc, "data", "posdel-*", "*.parquet"))
    assert del_files
    import pyarrow.parquet as pq

    sch = pq.read_schema(del_files[0])
    ids = {
        f.name: (f.metadata or {}).get(b"PARQUET:field_id") for f in sch
    }
    assert ids["file_path"] == b"2147483546"
    assert ids["pos"] == b"2147483545"
    # spec ordering within each delete file: (file_path, pos) ascending
    t = pq.read_table(del_files[0]).to_pydict()
    pairs = list(zip(t["file_path"], t["pos"]))
    assert pairs == sorted(pairs)


def test_position_deletes_source_has_no_row_collect():
    """Guard the scale property in code: the DataFrame delete path and
    its commit helper never materialize delete rows on the driver."""
    from source_ast import function_def, mentions, method_calls

    from pg_datalake_spark.tables import iceberg_external as ie

    for fn in (ie.add_position_deletes_df, ie._commit_delete_files):
        node = function_def(fn)
        assert not method_calls(node, "collect"), fn.__name__
        assert not mentions(node, "toPandas"), fn.__name__


# -- hidden transform partitions (round 5) ------------------------------


def test_export_month_transform_roundtrip_and_pruning(spark):
    """month(col) exports an Iceberg-spec month partition (months since
    1970-01), reads back losslessly (source column stays in data
    files), and prunes on the transformed partition values from the
    manifests alone."""
    orders = load_tables(spark, SF_DIR, ["orders"])["orders"]
    loc = tempfile.mkdtemp(prefix="icemonth_") + "/t"
    export_iceberg_snapshot(orders, loc, partition_by=["month(o_orderdate)"])
    meta = load_table_metadata(loc)
    [pf] = meta["partition-specs"][0]["fields"]
    assert pf["transform"] == "month" and pf["name"] == "o_orderdate_month"

    back = read_iceberg_table(spark, loc)
    assert back.count() == orders.count()
    assert back.schema == orders.schema  # source column restored from files

    # spec encoding: months since 1970-01 (not calendar month)
    from pg_datalake_spark.tables.iceberg_external import snapshot_file_entries

    vals = {
        e["partition"]["o_orderdate_month"]
        for e in snapshot_file_entries(loc)
        if e["content"] == 0
    }
    lo = orders.agg(F.min("o_orderdate")).first()[0]
    assert (lo.year - 1970) * 12 + lo.month - 1 in vals

    plan = plan_scan(
        loc,
        filters=[("o_orderdate", ">=", "1995-06-01"), ("o_orderdate", "<", "1995-07-01")],
    )
    assert plan["skipped"] and len(plan["kept"]) <= 2  # one month ± boundary
    got = read_iceberg_table(
        spark, loc, filters=[("o_orderdate", ">=", "1995-06-01")]
    ).count()
    assert got == orders.filter(F.col("o_orderdate") >= "1995-06-01").count()


def test_export_truncate_transform_and_append(spark):
    """truncate(W, string): width-floor partition values; appends honor
    the RECORDED spec (names included) and land in the same layout."""
    orders = load_tables(spark, SF_DIR, ["orders"])["orders"]
    loc = tempfile.mkdtemp(prefix="icetrunc_") + "/t"
    export_iceberg_snapshot(orders, loc, partition_by=["truncate(4, o_orderpriority)"])
    meta = load_table_metadata(loc)
    [pf] = meta["partition-specs"][0]["fields"]
    assert pf["transform"] == "truncate[4]" and pf["name"] == "o_orderpriority_trunc"

    extra = orders.filter(F.col("o_orderkey") <= 200)
    n, n_extra = orders.count(), extra.count()
    assert read_iceberg_table(spark, loc).count() == n
    append_snapshot(extra, loc)
    assert read_iceberg_table(spark, loc).count() == n + n_extra
    # equality filter on the source prunes via the truncated value
    plan = plan_scan(loc, filters=[("o_orderpriority", "=", "1-URGENT")])
    assert plan["skipped"]
    got = read_iceberg_table(
        spark, loc, filters=[("o_orderpriority", "=", "1-URGENT")]
    ).count()
    urgent = F.col("o_orderpriority") == "1-URGENT"
    assert got == orders.filter(urgent).count() + extra.filter(urgent).count()


def test_bucket_transform_spec_exact(spark):
    """Spec-bucket is REAL since r7 (bit-exact murmur3, verified
    against the spec's published vectors in test_spec_bucket.py): an
    export with bucket(16, o_custkey) records partition values an
    equality filter prunes by, losing no row. An unparameterized
    bucket still refuses."""
    orders = load_tables(spark, SF_DIR, ["orders"])["orders"]
    loc = tempfile.mkdtemp(prefix="icebucket_") + "/t"
    export_iceberg_snapshot(orders, loc, partition_by=["bucket(16, o_custkey)"])
    key = orders.select("o_custkey").first()[0]
    got = read_iceberg_table(spark, loc, filters=[("o_custkey", "=", key)])
    assert got.count() == orders.filter(F.col("o_custkey") == key).count() > 0
    assert plan_scan(loc, [("o_custkey", "=", key)])["skipped"]
    with pytest.raises(ValueError, match="needs a parameter"):
        export_iceberg_snapshot(orders, loc + "2", partition_by=["bucket(o_custkey)"])


def test_hour_transform_on_events(spark):
    """hour(ts): hours since epoch over the timestamp_ntz events."""
    events = load_tables(spark, SF_DIR, ["events"])["events"]
    sub = events.filter(F.col("event_id") <= 500).select("event_id", "ts", "value")
    loc = tempfile.mkdtemp(prefix="icehour_") + "/t"
    export_iceberg_snapshot(sub, loc, partition_by=["hour(ts)"])
    back = read_iceberg_table(spark, loc)
    assert back.count() == sub.count()
    agg_a = back.agg(F.sum(F.round(F.col("value") * 100).cast("long"))).first()[0]
    agg_b = sub.agg(F.sum(F.round(F.col("value") * 100).cast("long"))).first()[0]
    assert agg_a == agg_b


def test_iceberg_partitions_view(spark):
    """partitions(): one row per partition tuple, totals equal the
    table's row count — for identity and transform specs alike."""
    from pg_datalake_spark.tables.iceberg_external import iceberg_partitions

    orders = load_tables(spark, SF_DIR, ["orders"])["orders"]
    loc = tempfile.mkdtemp(prefix="iceparts_") + "/t"
    export_iceberg_snapshot(orders, loc, partition_by=["month(o_orderdate)"])
    parts = iceberg_partitions(spark, loc)
    rows = parts.collect()
    assert len(rows) > 1  # multiple months at this SF
    assert sum(r.record_count for r in rows) == orders.count()
    assert all("o_orderdate_month" in r.partition for r in rows)
    # unpartitioned: a single empty-tuple row
    loc2 = tempfile.mkdtemp(prefix="icepartsu_") + "/t"
    export_iceberg_snapshot(orders, loc2)
    [only] = iceberg_partitions(spark, loc2).collect()
    assert only.partition == "{}" and only.record_count == orders.count()


def test_equality_delete_internal_external_crosswalk(spark, tmp_path):
    """Equality-delete interop crosswalk (round-5 advisor #5): the
    internal LakeTable's ``delete_equality`` and the external Iceberg
    writer's ``add_equality_deletes`` must express the SAME semantics
    (null-safe multi-column match, strictly-lower-sequence scoping —
    reference: pg_lake_table/src/fdw/writable_table.c:478-650). Build
    one dataset, apply the same keys through both paths, and assert
    the internal scan() and the external read_iceberg_table() land on
    identical rows — the write↔read crosswalk the position-delete path
    already has."""
    from pg_datalake_spark.tables import LakeTable

    base = spark.range(500).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), (F.col("id") % 7)).alias("cat"),
        (F.col("id") % 50).cast("int").alias("bucket"),
    )
    keys = spark.createDataFrame(
        [("v3", 11), ("v5", 24), ("v0", 0)], "cat string, bucket int"
    )

    # internal path: LakeTable MOR equality delete
    lt = LakeTable.create(spark, str(tmp_path / "internal"), base.schema)
    lt.append(base)
    lt.delete_equality(keys, ["cat", "bucket"])
    # post-delete appends must be untouched (sequence scoping)
    late = spark.createDataFrame([(9001, "v3", 11)], "k long, cat string, bucket int")
    lt.append(late)
    internal = lt.scan().orderBy("k")

    # external path: export the BASE data, then the same equality keys
    loc = str(tmp_path / "external")
    export_iceberg_snapshot(base, loc)
    add_equality_deletes(loc, keys, ["cat", "bucket"])
    append_snapshot(late, loc)
    external = read_iceberg_table(spark, loc).orderBy("k")

    assert [r.asDict() for r in internal.collect()] == [
        r.asDict() for r in external.collect()
    ]
    # both must have dropped the matching pre-delete rows but kept the
    # post-delete append that matches the keys
    kept = {r.k for r in internal.collect()}
    assert 9001 in kept
    assert not base.filter(
        (F.col("cat") == "v3") & (F.col("bucket") == 11)
    ).filter(F.col("k").isin(list(kept))).count()


def test_external_merge_into_cow(spark, tmp_path):
    """External-Iceberg MERGE (COW): update + delete + insert in ONE
    OVERWRITE snapshot; duplicate source keys rejected (ANSI
    cardinality rule); the pre-merge snapshot stays time-travelable."""
    from pg_datalake_spark.tables.iceberg_external import merge_into

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0)],
        "k long, name string, v double",
    )
    loc = str(tmp_path / "m")
    snap0 = export_iceberg_snapshot(base, loc)
    source = spark.createDataFrame(
        [(2, "b2", 21.0), (3, "c", 0.0), (9, "z", 90.0)],
        "k long, name string, v double",
    )
    merge_into(
        spark, loc, source, on=["k"],
        when_matched_update={"name": "src.name", "v": "src.v + 1"},
        when_matched_delete="src.v = 0.0",   # k=3 deleted
        insert_not_matched=True,             # k=9 inserted as-is
    )
    rows = {r.k: (r.name, r.v) for r in read_iceberg_table(spark, loc).collect()}
    assert rows == {
        1: ("a", 10.0),      # untouched
        2: ("b2", 22.0),     # updated (v+1)
        4: ("d", 40.0),      # untouched
        9: ("z", 90.0),      # inserted
    }
    # pre-merge snapshot pinned-readable
    assert read_iceberg_table(spark, loc, snapshot_id=snap0).count() == 4
    # ANSI cardinality: duplicate source keys fail loud
    dup = spark.createDataFrame([(2, "x", 1.0), (2, "y", 2.0)],
                                "k long, name string, v double")
    with pytest.raises(ValueError, match="cardinality"):
        merge_into(spark, loc, dup, on=["k"])


def test_external_compact_files(spark, tmp_path):
    """External compaction: many small files + a MOR delete fold into
    few files in one OVERWRITE snapshot with identical contents."""
    from pg_datalake_spark.tables.iceberg_external import compact_files

    df = spark.range(2000).select(F.col("id").alias("k"), (F.col("id") % 7).alias("g"))
    loc = str(tmp_path / "c")
    export_iceberg_snapshot(df.repartition(16), loc)
    add_equality_deletes(loc, spark.createDataFrame([(3,)], "g long"))
    expected = read_iceberg_table(spark, loc).orderBy("k").collect()
    stats = compact_files(spark, loc, target_file_mb=512)
    assert stats["files_before"] == 16
    assert stats["files_after"] < 16
    got = read_iceberg_table(spark, loc).orderBy("k").collect()
    assert [r.asDict() for r in got] == [r.asDict() for r in expected]


def test_merge_internal_external_crosswalk(spark, tmp_path):
    """MERGE crosswalk (mirrors the equality-delete crosswalk): the
    SAME source applied through the internal LakeTable.merge and the
    external merge_into must land on identical tables — update,
    insert, and untouched rows alike."""
    from pg_datalake_spark.tables.iceberg_external import merge_into

    base = spark.createDataFrame(
        [(i, f"n{i}", float(i * 10)) for i in range(1, 31)],
        "k long, name string, v double",
    )
    source = spark.createDataFrame(
        [(5, "u5", 1.5), (17, "u17", 2.5), (99, "new99", 3.5)],
        "k long, name string, v double",
    )

    lt = LakeTable.create(spark, str(tmp_path / "internal"), base.schema)
    lt.append(base)
    lt.merge(source, on="k",
             when_matched_update={"name": "src.name", "v": "src.v * 2"})
    internal = [r.asDict() for r in lt.scan().orderBy("k").collect()]

    loc = str(tmp_path / "external")
    export_iceberg_snapshot(base, loc)
    merge_into(spark, loc, source, on=["k"],
               when_matched_update={"name": "src.name", "v": "src.v * 2"})
    external = [
        r.asDict() for r in read_iceberg_table(spark, loc).orderBy("k").collect()
    ]

    assert internal == external
    by_k = {r["k"]: r for r in internal}
    assert by_k[5] == {"k": 5, "name": "u5", "v": 3.0}
    assert by_k[99] == {"k": 99, "name": "new99", "v": 3.5}
    assert by_k[10] == {"k": 10, "name": "n10", "v": 100.0}


def test_refs_tag_branch_and_ref_retention(spark, tmp_path):
    """Iceberg refs (r10 tail, spec `refs` map): tag/branch creation,
    ref= reads, main fallback, and the spec's ref-retention rule —
    expire_snapshots keeps a tagged snapshot alive (and readable) that
    keep_last alone would reclaim; dropping the tag makes it expirable."""
    from pg_datalake_spark.tables import iceberg_external as ie

    loc = str(tmp_path / "t")
    df1 = spark.range(10).select(F.col("id").alias("k"))
    ie.export_iceberg_snapshot(df1, loc)                      # snap 1
    s1 = ie.load_table_metadata(loc)["current-snapshot-id"]
    ie.set_ref(loc, "v1.0", ref_type="tag")                   # tag snap 1
    ie.append_snapshot(
        spark.range(10, 25).select(F.col("id").alias("k")), loc
    )                                                          # snap 2
    ie.append_snapshot(
        spark.range(25, 30).select(F.col("id").alias("k")), loc
    )                                                          # snap 3
    ie.set_ref(loc, "dev", ref_type="branch")                 # branch snap 3

    assert ie.resolve_ref(loc, "v1.0") == s1
    assert sorted(
        r.k for r in ie.read_iceberg_table(spark, loc, ref="v1.0").collect()
    ) == list(range(10))
    assert ie.read_iceberg_table(spark, loc, ref="main").count() == 30
    with pytest.raises(ValueError, match="no ref"):
        ie.resolve_ref(loc, "nope")
    with pytest.raises(ValueError, match="exclusive"):
        ie.read_iceberg_table(spark, loc, ref="v1.0", snapshot_id=s1)
    with pytest.raises(ValueError, match="tag"):
        ie.set_ref(loc, "x", ref_type="weird")

    # keep_last=1 would expire snaps 1+2; the tag retains snap 1
    out = ie.expire_snapshots(loc, keep_last=1)
    metas = ie.load_table_metadata(loc)
    assert s1 in {s["snapshot-id"] for s in metas["snapshots"]}
    assert ie.read_iceberg_table(spark, loc, ref="v1.0").count() == 10
    assert len(out["expired_snapshot_ids"]) == 1  # only snap 2 went

    # drop the tag: the snapshot becomes expirable and files reclaim
    ie.drop_ref(loc, "v1.0")
    out2 = ie.expire_snapshots(loc, keep_last=1)
    assert out2["expired_snapshot_ids"] == [s1]
    with pytest.raises(ValueError, match="no ref"):
        ie.drop_ref(loc, "v1.0")


def test_uniform_delta_as_iceberg(spark, tmp_path):
    """UniForm analog (r10 tail): Iceberg metadata generated under a
    Delta table's root — the SAME parquet files readable through
    read_iceberg_table, partition tuples typed from the Delta log,
    bounds-based pruning working against the Delta files, re-export
    after a new Delta commit advancing the snapshot; DV and
    column-mapped tables fail loud (real UniForm's preconditions)."""
    from pg_datalake_spark.tables import delta_log as dl
    from pg_datalake_spark.tables import iceberg_external as ie

    loc = str(tmp_path / "t")
    df = spark.range(100).select(
        F.col("id").alias("k"),
        (F.col("id") * 2).alias("v"),
        (F.col("id") % 3).cast("string").alias("grp"),
    )
    dl.write_delta_table(df.repartition(2), loc, partition_by=["grp"])
    sid = ie.uniform_export_iceberg(spark, loc)
    ice = ie.read_iceberg_table(spark, loc)
    assert sorted(r.k for r in ice.collect()) == list(range(100))
    # identity partition column restored from manifests, typed
    assert {r.grp for r in ice.collect()} == {"0", "1", "2"}
    # identity-partition pruning works against the Delta layout
    plan = ie.plan_scan(loc, [("grp", "=", "1")])
    assert len(plan["skipped"]) >= 1 and len(plan["kept"]) >= 1
    # a new Delta commit -> re-export -> new snapshot sees the rows
    dl.append_delta(
        spark.range(100, 120).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v"),
            (F.col("id") % 3).cast("string").alias("grp"),
        ),
        loc,
    )
    sid2 = ie.uniform_export_iceberg(spark, loc)
    assert sid2 != sid
    assert ie.read_iceberg_table(spark, loc).count() == 120
    assert ie.read_iceberg_table(spark, loc, snapshot_id=sid).count() == 100

    # preconditions fail loud
    dl.delete_where_delta(spark, loc, "k < 5", mode="dv")
    with pytest.raises(NotImplementedError, match="deletion vectors"):
        ie.uniform_export_iceberg(spark, loc)
    loc2 = str(tmp_path / "cm")
    dl.write_delta_table(df, loc2, column_mapping="name")
    with pytest.raises(NotImplementedError, match="column mapping"):
        ie.uniform_export_iceberg(spark, loc2)


# ---------------------------------------------------------------------------
# r15 (VERDICT item 3): distributed manifest decode — the Delta-style
# contract-vs-bottleneck split applied to the external-Iceberg reader.
# ---------------------------------------------------------------------------


def test_manifest_decode_distributed_matches_driver(spark, tmp_path,
                                                    monkeypatch):
    """The executor-side manifest decode must produce EXACTLY the
    driver path's live entries (same records, same inherited sequence
    numbers) — one shared decode function, two routes."""
    from pg_datalake_spark.tables import iceberg_external as ie

    loc = str(tmp_path / "dist_eq")
    export_iceberg_snapshot(
        spark.range(10).selectExpr("id as k", "id * 2 as v"), loc
    )
    for lo in (10, 20, 30):
        ie.append_snapshot(
            spark.range(lo, lo + 10).selectExpr("id as k", "id * 2 as v"),
            loc,
        )
    ie.delete_where(spark, loc, "k >= 35")

    driver = ie._live_entries_with_seq(loc)  # no spark → driver decode
    monkeypatch.setattr(ie, "_MANIFEST_DRIVER_BYTES", 0)
    dist = ie._live_entries_with_seq(loc, spark=spark)
    monkeypatch.undo()

    key = lambda t: (t[0]["file_path"], t[1])  # noqa: E731
    assert sorted(dist, key=key) == sorted(driver, key=key)
    assert len(dist) >= 1
    # and the full read over the distributed route matches
    monkeypatch.setattr(ie, "_MANIFEST_DRIVER_BYTES", 0)
    got = sorted(r.k for r in ie.read_iceberg_table(spark, loc).collect())
    monkeypatch.undo()
    assert got == list(range(35))


@pytest.mark.slow
def test_1m_entry_manifest_chain_decodes_distributed_within_budget(
    spark, tmp_path, monkeypatch
):
    """A 1M-entry manifest chain (64 manifests × 16384 entries — a
    badly compacted 100 TB table) must decode on the EXECUTORS: the
    driver-side decode function is patched to raise, so any driver
    fallback fails the test; the live-entry list itself is the scan
    contract and exists driver-side, budget-pinned by retained RSS and
    a generous wall cap (pure-Python decode is ~77k entries/s on one
    core — the executor fan-out is what keeps a multi-million-entry
    chain out of driver wall-clock)."""
    import copy
    import gc
    import shutil
    import time as _time

    from pg_datalake_spark.tables import iceberg_external as ie
    from pg_datalake_spark.tables.avro_codec import read_avro, write_avro

    def _vmrss() -> int:
        with open("/proc/self/status") as fh:
            for ln in fh:
                if ln.startswith("VmRSS"):
                    return int(ln.split()[1]) * 1024
        raise RuntimeError("no VmRSS")

    loc = str(tmp_path / "m1chain")
    export_iceberg_snapshot(
        spark.range(2).selectExpr("id as k", "id * 2 as v"), loc
    )
    meta = load_table_metadata(loc)
    snap = {s["snapshot-id"]: s for s in meta["snapshots"]}[
        meta["current-snapshot-id"]
    ]
    ml_path = ie._local(snap["manifest-list"])
    ml_schema, [m0] = read_avro(ml_path)
    mf_schema, entries0 = read_avro(ie._local(m0["manifest_path"]))

    per, parts = 16_384, 64
    proto = copy.deepcopy(entries0[0])
    big = []
    for i in range(per):
        e = copy.deepcopy(proto)
        e["data_file"]["file_path"] = f"file:///synth/f{i:07d}.parquet"
        big.append(e)
    meta_dir = os.path.join(loc, "metadata")
    first = os.path.join(meta_dir, "big-0000-m0.avro")
    write_avro(first, mf_schema, big)
    refs = []
    for j in range(parts):
        p = os.path.join(meta_dir, f"big-{j:04d}-m0.avro")
        if j:
            shutil.copy(first, p)
        m = dict(m0)
        m["manifest_path"] = f"file://{p}"
        m["added_files_count"] = per
        refs.append(m)
    write_avro(ml_path, ml_schema, refs)

    # cloudpickle captures the patched module global BY VALUE into the
    # RDD lambda, so this spy runs wherever the decode runs — and must
    # only ever run in executor worker processes, never the driver
    real_decode = ie._decode_manifest_batch
    driver_pid = os.getpid()

    def _assert_worker_side(infos):
        assert os.getpid() != driver_pid, (
            "driver-side manifest decode engaged for a chain past the "
            "byte threshold"
        )
        return real_decode(infos)

    monkeypatch.setattr(ie, "_decode_manifest_batch", _assert_worker_side)
    gc.collect()
    rss0 = _vmrss()
    t0 = _time.time()
    entries = ie._live_entries_with_seq(loc, spark=spark)
    wall = _time.time() - t0
    gc.collect()
    rss_delta = _vmrss() - rss0
    monkeypatch.undo()

    assert len(entries) == per * parts
    assert all(seq == int(m0.get("sequence_number", 0) or 0)
               for _, seq in entries[:1000])
    # contract list: ~1M pruned entry dicts; allow 2 KiB/entry +
    # 512 MiB fixed for partition-batch overhead
    assert rss_delta < per * parts * 2048 + (512 << 20), (
        f"retained {rss_delta / 1e9:.2f} GB for {per * parts} entries"
    )
    assert wall < 120, f"distributed decode took {wall:.1f}s"


def test_read_empty_snapshot_returns_typed_empty_scan(spark, tmp_path):
    """r15 concurrent-fuzzer find (iceberg seed 0): a COW delete that
    removes every row leaves a zero-data-file snapshot — reading it
    must yield an EMPTY typed DataFrame, not ValueError (concurrent
    readers crashed mid-race on the truncate winner)."""
    from pg_datalake_spark.tables import iceberg_external as ie

    loc = str(tmp_path / "emptied")
    export_iceberg_snapshot(
        spark.range(5).selectExpr("id as k", "id * 2 as v"), loc
    )
    ie.delete_where(spark, loc, "true")
    got = read_iceberg_table(spark, loc)
    assert got.count() == 0
    assert [f.name for f in got.schema.fields] == ["k", "v"]
    # and the table is writable again after the wipe
    ie.append_snapshot(
        spark.range(7, 9).selectExpr("id as k", "id * 2 as v"), loc
    )
    assert sorted(r.k for r in read_iceberg_table(spark, loc).collect()) \
        == [7, 8]


def test_nan_bound_never_prunes(spark, tmp_path):
    """A NaN bound bounds nothing (Spark orders NaN above every
    number): the manifest writer omits it, as the Iceberg spec asks,
    and the filter keeps a file whose stored bound is NaN."""
    from pg_datalake_spark.tables.iceberg_external import (
        _bound_to_bytes,
        _column_bounds,
        _file_may_match,
    )

    out = str(tmp_path / "nan")
    spark.createDataFrame([(1.0,), (10.0,), (float("nan"),)], "x double").coalesce(1).write.parquet(out)
    [path] = [os.path.join(out, n) for n in os.listdir(out) if n.endswith(".parquet")]
    schema = {"fields": [{"id": 1, "name": "x", "type": "double"}]}
    nulls, lowers, uppers = _column_bounds(path, schema)
    assert nulls == [{"key": 1, "value": 0}] and lowers == [] and uppers == []
    entry = {
        "lower_bounds": {1: _bound_to_bytes(1.0, "double")},
        "upper_bounds": {1: _bound_to_bytes(float("nan"), "double")},
    }
    assert _file_may_match(entry, 1, "double", ">", 5)
    assert _file_may_match(entry, 1, "double", "=", 20.0)


def test_writes_under_a_relative_location(spark, tmp_path, monkeypatch):
    """A relative location names the same table to Spark and to the
    driver: the data files Spark writes and the metadata the driver
    writes both resolve it against the Python process's working
    directory, so the table reads back by either spelling."""
    monkeypatch.chdir(tmp_path)
    export_iceberg_snapshot(spark.range(5).selectExpr("id AS k"), "./ice")
    append_snapshot(spark.range(5, 8).selectExpr("id AS k"), "./ice")
    assert (tmp_path / "ice" / "data").is_dir()
    assert load_table_metadata("./ice")["location"] == os.path.join(os.getcwd(), "ice")
    for read_at in ("./ice", str(tmp_path / "ice")):
        got = sorted(r.k for r in read_iceberg_table(spark, read_at).collect())
        assert got == list(range(8))
