"""``session.local_frame``: rows the driver holds reach Spark as one
Arrow table. It must build the same frame as ``spark.createDataFrame``
for every type the engine passes, and it is the engine's only route
for driver rows."""

from __future__ import annotations

import ast
import pathlib

import pytest
from pyspark.sql import Row

from pg_datalake_spark.session import local_frame

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "pg_datalake_spark"

SCHEMA = (
    "s string, i int, l long, b boolean, d double, "
    "st struct<path: string, n: long, dv: struct<kind: string, off: int>>, "
    "m map<string, string>, a array<long>, ns struct<x: long>"
)
ROWS = [
    (
        "x",
        1,
        2**40,
        True,
        1.5,
        ("p", 3, ("i", None)),
        {"k": "v", "nullv": None},
        [1, None, 3],
        (7,),
    ),
    (None, None, None, None, None, None, None, None, None),
    ("", -1, -(2**40), False, float("-inf"), ("q", None, None), {}, [], None),
]


@pytest.mark.parametrize("rows", [ROWS, [], [Row(*ROWS[0])]], ids=["rows", "empty", "Row"])
def test_local_frame_matches_create_dataframe(spark, rows):
    want = spark.createDataFrame(rows, SCHEMA)
    got = local_frame(spark, rows, SCHEMA)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    # a StructType schema as well as a DDL string
    got = local_frame(spark, rows, want.schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_local_frame_takes_an_arrow_table(spark):
    import pyarrow as pa

    table = pa.table({"p": ["a", "b"], "n": pa.array([1, 2], pa.int32())})
    df = local_frame(spark, table, "p string, n long")
    assert df.dtypes == [("p", "string"), ("n", "bigint")]
    assert [tuple(r) for r in df.collect()] == [("a", 1), ("b", 2)]


def _create_dataframe_calls(path: pathlib.Path) -> list[str]:
    """``<file>:<line> in <function>`` of every ``.createDataFrame(``
    call outside ``session.local_frame``."""
    tree = ast.parse(path.read_text(), str(path))
    found = []

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
            and not (path.name == "session.py" and func == "local_frame")
        ):
            found.append(f"{path.relative_to(PACKAGE)}:{node.lineno} in {func}")
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, None)
    return found


def test_engine_builds_driver_rows_only_through_local_frame():
    """No ``createDataFrame`` call in the package outside the helper:
    one of a Python list pickles its rows through a Python worker. The
    randomized ``fuzz*.py`` harnesses are exempt."""
    files = [p for p in PACKAGE.rglob("*.py") if not p.name.startswith("fuzz")]
    assert (PACKAGE / "session.py") in files
    calls = [c for p in sorted(files) for c in _create_dataframe_calls(p)]
    assert calls == []
