"""Registry of named queries and their DuckDB oracle SQL.

Each query is a ``Callable[[SparkSession, str], DataFrame]`` taking the
session and a scale-factor directory. The oracle is equivalent ANSI SQL
that DuckDB runs over the same parquet tables (views pre-registered with
the bare table names). Column names/types are aligned on both sides —
the driver's comparator sorts columns by name and hashes values.

Queries with no SQL-expressible oracle (custom stateful streaming,
iterative algorithms) register with ``oracle=None`` and get a
rows-only check.

An oracle may also be a zero-arg callable returning the SQL string.
Merged driver-window suites use this to compose the oracle SQL of
feeder queries that register LATER in the load order (suites load
first so they land inside the verified window); the callable is
resolved — and cached — on first read, after ``load_all()`` has
registered everything.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]
OracleSrc = str | Callable[[], str]


class _OracleDict(dict):
    """dict[str, str] whose values may be registered lazily.

    Callable values are resolved (and cached) on read, so suite
    oracles can reference feeder oracles registered after them.
    """

    def __getitem__(self, key: str) -> str:
        val = super().__getitem__(key)
        if callable(val):
            val = val()
            super().__setitem__(key, val)
        return val

    def get(self, key: str, default: str | None = None) -> str | None:
        return self[key] if key in self else default

    def resolved(self) -> dict[str, str]:
        return {k: self[k] for k in self}


QUERIES: dict[str, QueryFn] = {}
ORACLES: _OracleDict = _OracleDict()

# Central contract for partition-merge-order sensitivity (r15 ADVICE
# item 2): queries that aggregate RAW IEEE doubles (plain sum/avg, no
# decimal widening) hash-match the single-threaded DuckDB oracle only
# over the file's native single-partition scan order. Every name here
# MUST call load_tables(..., spread=False) — pinned by
# tests/test_catalog_memo.py::test_order_sensitive_opt_outs_pinned —
# and any new raw-double aggregate query must be added here. Everything
# else defaults to spread=True and must use order-independent
# accumulation (decimal sums / rounded outputs).
ORDER_SENSITIVE = {
    "a03_agg_modifiers",
    "g03_cube",
    "c01_chained_cte",
    "u01_pandas_udf",
}

# Plan-construction memo (r16, VERDICT r15 item 3 "memoize the
# DataFrame construction per query where legal, not results"): a
# registered query fn is a pure plan builder for these modules — no
# writes, no tempdirs, no streaming state — so the DataFrame it
# returns for a given (session, sf_dir) is the same immutable plan
# every time the table files it reads are unchanged, and rebuilding it
# only re-pays the py4j expression chatter (~0.1-0.65 s per query).
# Modules whose fns have construction-time side effects (fixture
# writes, DML, streaming checkpoints: delta_q, lakeops, sources_*,
# streaming_*) and the merged suites that may invoke them are NOT
# memoized. Only plan objects are memoized — never query results;
# execution recomputes from the parquet inputs every time.
_PURE_PLAN_MODULES = {
    "clickbench",
    "funcs_coverage",
    "geo",
    "llmops",
    "multimodal_q",
    "relational",
    "tpcds",
    "tpch",
    "window_rotation",
}


def _memoized(name: str, fn: QueryFn) -> QueryFn:
    import functools

    @functools.wraps(fn)
    def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pg_datalake_spark import catalog

        st = catalog._session_state(spark)
        # the floor constant participates in the key so tests (and
        # callers) that toggle it get a freshly-planned variant
        key = (name, sf_dir, catalog._PAR_FLOOR_MIN_BYTES)
        memo = st.setdefault("qplans", {})
        # the tables an enclosing memoized build reads, if any
        outer = st["reads"]
        hit = memo.get(key)
        # a plan is reused only over the table files it was built on: a
        # rewritten table replaces the entry with a fresh plan
        if hit is not None and all(catalog._sig_or_none(p) == s for p, s in hit[0].items()):
            reads, df, advisory_key = hit
            if outer is not None:
                outer.update(reads)
            # a memo hit skips load_tables, which is what pins the
            # AQE advisory this plan was built under — re-pin it so
            # execution behaves identically to a fresh construction
            catalog.reapply_advisory(spark, advisory_key)
            return df
        # load_tables records here each table it resolves for the plan
        st["reads"] = reads = {}
        try:
            df = fn(spark, sf_dir)
        finally:
            st["reads"] = outer
        if outer is not None:
            outer.update(reads)
        memo[key] = (reads, df, st.get("advisory_key"))
        return df

    return wrapper


def register(name: str, oracle: OracleSrc | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        mod = fn.__module__.rsplit(".", 1)[-1]
        QUERIES[name] = _memoized(name, fn) if mod in _PURE_PLAN_MODULES else fn
        if oracle is not None:
            dict.__setitem__(ORACLES, name, oracle)
        return fn

    return deco
