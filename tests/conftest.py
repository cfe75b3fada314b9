"""Shared fixtures: one SparkSession per test session + DuckDB oracle.

Replicates the driver's correctness gate locally (SURVEY §5: the
reference runs every query against a lake table AND an identically
loaded heap table and diffs — here the heap side is DuckDB over the
same parquet files).
"""

from __future__ import annotations

import math
import os

import duckdb
import numpy as np
import pandas as pd
import pytest

from pg_datalake_spark.catalog import TABLE_NAMES, table_path
from pg_datalake_spark.session import build_session

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = build_session("pg_datalake_spark-tests", cpus=8)
    yield s
    s.stop()


@pytest.fixture
def executor_route(monkeypatch):
    """Row-level deletes and tombstone reads take the executor route: the
    tombstone bound is pinned to 0, and holding positions on the driver
    fails the test."""
    from pg_datalake_spark.tables import tombstones

    def held(*_args):
        raise AssertionError("a delete held its positions past the bound")

    monkeypatch.setattr(tombstones, "DRIVER_ROWS", 0)
    monkeypatch.setattr(tombstones, "_held_positions", held)


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    for t in TABLE_NAMES:
        p = table_path(SF_DIR, t)
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Canonicalize a result frame: sort columns by name, normalize types."""
    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            s = pd.to_datetime(s).dt.tz_localize(None)
        elif s.dtype == object:
            # decimals / dates / lists / None mixtures
            import datetime as _dt
            import decimal as _dec

            def _norm(v):
                if isinstance(v, _dec.Decimal):
                    return float(v)
                if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
                    return pd.Timestamp(v)
                if isinstance(v, (list, np.ndarray)):
                    return tuple(v)
                return v

            s = s.map(_norm)
        elif pd.api.types.is_float_dtype(s):
            s = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            s = s.astype("Int64")
        elif pd.api.types.is_bool_dtype(s):
            s = s.astype("boolean")
        out[c] = s
    res = pd.DataFrame(out)
    if len(res):
        def _key(v):
            if v is None or (isinstance(v, float) and math.isnan(v)):
                return "\0NULL"
            if isinstance(v, float):
                # engines render the same value with different float
                # reprs; a rounded key keeps row order engine-agnostic
                return f"{v + 0.0:.6g}"  # +0.0 folds -0.0 into 0.0
            return str(v)

        # value-level keys in sorted-column order: dtype-driven column
        # reordering would diverge when the engines type the same
        # column differently (e.g. DuckDB sign() is integer, Spark's
        # is double); rounded float keys make the order noise-proof
        sort_key = res.apply(lambda row: tuple(_key(v) for v in row), axis=1)
        res = res.iloc[np.argsort(sort_key.values, kind="stable")].reset_index(drop=True)
    return res


def assert_frames_match(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str = "") -> None:
    a, b = _canon(spark_pdf), _canon(oracle_pdf)
    assert list(a.columns) == list(b.columns), f"{name}: columns {list(a.columns)} != {list(b.columns)}"
    assert len(a) == len(b), f"{name}: row count {len(a)} != {len(b)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
            af = av.astype("float64").to_numpy()
            bf = bv.astype("float64").to_numpy()
            ok = np.isclose(af, bf, rtol=1e-6, atol=1e-9, equal_nan=True)
            assert ok.all(), f"{name}: float col {c} mismatch at rows {np.where(~ok)[0][:5]}: {af[~ok][:3]} vs {bf[~ok][:3]}"
        else:
            an = av.isna()
            bn = bv.isna()
            assert (an.values == bn.values).all(), f"{name}: null mask mismatch in {c}"
            mask = ~an
            assert (av[mask].values == bv[mask].values).all(), (
                f"{name}: col {c} mismatch: "
                f"{av[mask][(av[mask].values != bv[mask].values)].head(3).tolist()} vs "
                f"{bv[mask][(av[mask].values != bv[mask].values)].head(3).tolist()}"
            )


def run_parity(spark, ddb, fn, oracle: str | None, name: str, sf_dir: str = SF_DIR) -> None:
    sdf = fn(spark, sf_dir)
    spark_pdf = sdf.toPandas()
    if oracle is None:
        # rows-only check mirrors the driver's rows>0 smoke criterion
        assert len(spark_pdf) > 0, f"{name}: rows-only query returned no rows"
        return
    oracle_pdf = ddb.execute(oracle).df()
    assert_frames_match(spark_pdf, oracle_pdf, name)
