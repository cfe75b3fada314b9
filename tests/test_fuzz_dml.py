"""Write-path differential fuzzing: random DML sequences vs a DuckDB twin.

r14 (VERDICT item 2): the SELECT fuzzer (test_fuzz_differential.py)
covers reads; this gate replays seeded random mutation sequences —
append / predicate delete (all strategy tiers incl. the 20%
COW_THRESHOLD boundary) / equality delete / update / merge
(upsert, matched-delete, insert-only) / truncate / compact / expire —
against a LakeTable AND a DuckDB-maintained twin, diffing the FULL
table state with the driver-fidelity exact comparator after EVERY
step. Behavioral reference: the reference's writable-table suites
(pg_lake_table/tests/pytests/test_update_delete_iceberg.py,
writable_table.c:478-650).

Any sequence that ever diverged is pinned in DML_REGRESSION_SEEDS
forever (none found yet — generator extensions must go at a new seed
base to keep pinned seeds byte-stable, same rule as fuzz.py).
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "scripts"))
from check_exact import compare_exact  # noqa: E402

from pg_datalake_spark.fuzz_dml import DmlSequenceGen, run_sequence

# r16: randomized differential sweeps and stress probes run in the
# explicit fuzz tier (pytest -m fuzz) — the default `pytest tests/`
# must finish inside the driver's verify budget (VERDICT r15 item 6).
pytestmark = pytest.mark.fuzz

N_SEQ = int(os.environ.get("SPARK_GRAFT_FUZZ_DML_N", "200"))
N_SEQ_DELTA = int(os.environ.get("SPARK_GRAFT_FUZZ_DML_DELTA_N", "60"))

# Seeds that ever produced a state divergence, pinned forever.
DML_REGRESSION_SEEDS: list[int] = []
# Delta-runner pins: seed 1 found delete_where_delta(mode=cow)
# silently deleting NULL-predicate rows (filter(NOT pred) drops the
# NULL rows; PG/Delta keep them) — fixed via coalesce(..., TRUE);
# minimal repro pinned in
# test_delta_log.py::test_delete_cow_keeps_null_predicate_rows.
# Seed 157 found _delete_where_dv raising IndexError on an EMPTY
# table (truncate → DV delete; DELETE on empty must be a no-op) —
# fixed with an early return, minimal repro pinned in
# test_delta_log.py::test_dv_delete_on_empty_table_is_noop.
DELTA_DML_REGRESSION_SEEDS: list[int] = [1, 157]


@pytest.fixture(scope="module")
def dml_con():
    con = duckdb.connect()
    yield con
    con.close()


@pytest.mark.slow
def test_dml_fuzz_sweep(spark, dml_con, tmp_path_factory):
    """N_SEQ random mutation sequences, full-state exact diff per step.

    Coverage assertions keep the sweep honest: across the sweep the
    delete strategy space must hit metadata-only drops, MOR tombstones
    AND COW rewrites (both sides of the 20% threshold), and every op
    kind must have run — a generator drifting into no-op predicates
    would 'pass' while proving nothing."""
    base = tmp_path_factory.mktemp("dml_fuzz")
    failures: list[str] = []
    agg = {"mor": 0, "cow": 0, "dropped": 0}
    op_counts: dict[str, int] = {}
    for seed in range(N_SEQ):
        root = str(base / f"t{seed}")
        try:
            problems, cov = run_sequence(
                spark, dml_con, seed, root, compare_exact
            )
        except Exception as e:  # noqa: BLE001 - engine error = failure
            failures.append(f"seed {seed}: ENGINE ERROR {e}")
            continue
        failures.extend(problems)
        for k in agg:
            agg[k] += cov[k]
        for k, v in cov["ops"].items():
            op_counts[k] = op_counts.get(k, 0) + v
        import shutil

        shutil.rmtree(root, ignore_errors=True)
    assert not failures, "\n".join(failures[:10])
    assert agg["mor"] > 0, "no MOR position-delete was ever taken"
    assert agg["cow"] > 0, "no COW rewrite was ever taken"
    assert agg["dropped"] > 0, "no metadata-only file drop was ever taken"
    for kind in ("append", "delete", "delete_eq", "update", "merge",
                 "compact", "expire"):
        assert op_counts.get(kind, 0) > 0, f"op {kind} never exercised"


@pytest.mark.slow
def test_dml_fuzz_sweep_delta(spark, dml_con, tmp_path_factory):
    """The SAME generated sequences replayed through the DELTA writer
    verb surface (append_delta / delete_where_delta with dv AND cow /
    update_delta / merge_delta / optimize_delta / vacuum_delta) — the
    repo's second write path. First sweep found a REAL bug: COW
    delete dropped NULL-predicate rows (seed 1, pinned)."""
    from pg_datalake_spark.fuzz_dml import run_sequence_delta

    base = tmp_path_factory.mktemp("dml_fuzz_delta")
    failures: list[str] = []
    modes: set[str] = set()
    op_counts: dict[str, int] = {}
    for seed in range(N_SEQ_DELTA):
        root = str(base / f"t{seed}")
        try:
            problems, cov = run_sequence_delta(
                spark, dml_con, seed, root, compare_exact
            )
        except Exception as e:  # noqa: BLE001
            failures.append(f"delta seed {seed}: ENGINE ERROR {e}")
            continue
        failures.extend(problems)
        modes.update(cov["modes"])
        for k, v in cov["ops"].items():
            op_counts[k] = op_counts.get(k, 0) + v
        import shutil

        shutil.rmtree(root, ignore_errors=True)
    assert not failures, "\n".join(failures[:10])
    assert modes == {"dv", "cow"}, f"delete modes exercised: {modes}"
    for kind in ("append", "delete", "update", "merge", "compact"):
        assert op_counts.get(kind, 0) > 0, f"op {kind} never exercised"


@pytest.mark.slow
def test_dml_fuzz_sweep_schema_evo(spark, dml_con, tmp_path_factory):
    """Schema-evolution tier (seeds >= SCHEMA_EVO_BASE): sequences mix
    add_column (with constant defaults old files must surface via
    field-id mapping), rename_column, drop_column AND partition-spec
    evolution (repartition among none/identity/bucket — mixed layouts
    must prune correctly under later deletes, twin-invisible) in with
    the DML ops; appends/updates cover the live extra columns and the
    state diff follows the evolving visible-column set. The DuckDB
    twin mirrors with ALTER TABLE."""
    from pg_datalake_spark.fuzz_dml import SCHEMA_EVO_BASE, DmlSequenceGen

    n = int(os.environ.get("SPARK_GRAFT_FUZZ_DML_EVO_N", "40"))
    base = tmp_path_factory.mktemp("dml_fuzz_evo")
    failures: list[str] = []
    evo_ops: dict[str, int] = {}
    for seed in range(SCHEMA_EVO_BASE, SCHEMA_EVO_BASE + n):
        root = str(base / f"t{seed}")
        for op in DmlSequenceGen(seed).generate()["ops"]:
            if op["op"] in ("add_column", "rename_column", "drop_column",
                            "repartition"):
                evo_ops[op["op"]] = evo_ops.get(op["op"], 0) + 1
        try:
            problems, _ = run_sequence(
                spark, dml_con, seed, root, compare_exact
            )
        except Exception as e:  # noqa: BLE001
            failures.append(f"evo seed {seed}: ENGINE ERROR {e}")
            continue
        failures.extend(problems)
        import shutil

        shutil.rmtree(root, ignore_errors=True)
    assert not failures, "\n".join(failures[:10])
    for kind in ("add_column", "rename_column", "drop_column",
                 "repartition"):
        assert evo_ops.get(kind, 0) > 0, f"{kind} never generated: {evo_ops}"


@pytest.mark.parametrize("route", ["driver", "executor"])
def test_dml_fuzz_regression_seeds(spark, dml_con, tmp_path_factory, request, route):
    """The pinned seeds on both tombstone routes: the driver holds the
    matched positions (these tables are far within the bound), or the
    executors build the tombstones (the bound pinned to 0)."""
    from pg_datalake_spark.fuzz_dml import run_sequence_delta

    if route == "executor":
        request.getfixturevalue("executor_route")
    base = tmp_path_factory.mktemp("dml_fuzz_pinned")
    for seed in DML_REGRESSION_SEEDS:
        problems, _ = run_sequence(
            spark, dml_con, seed, str(base / f"t{seed}"), compare_exact
        )
        assert not problems, problems
    for seed in DELTA_DML_REGRESSION_SEEDS:
        problems, _ = run_sequence_delta(
            spark, dml_con, seed, str(base / f"d{seed}"), compare_exact
        )
        assert not problems, problems


def test_concat_null_semantics_documented(spark, dml_con):
    """Why the update-expression pool uses `note || '!'` and never
    concat(): Spark's concat is NULL-if-any-argument-NULL, while
    DuckDB (and PG's concat) SKIP null arguments — a guaranteed
    false-positive divergence for the differential gate (r14
    code-review find; seed 100's `update note = concat(note,'!')
    WHERE note IS NULL` proved it). `||` NULL-propagates identically
    on both engines. If either engine changes, this canary fails and
    the generator pool can be revisited."""
    s = spark.sql("SELECT concat(CAST(NULL AS STRING), '!') AS c, "
                  "CAST(NULL AS STRING) || '!' AS p").collect()[0]
    d = dml_con.execute(
        "SELECT concat(CAST(NULL AS VARCHAR), '!') AS c, "
        "CAST(NULL AS VARCHAR) || '!' AS p"
    ).fetchone()
    assert s.c is None and d[0] == "!"   # concat diverges
    assert s.p is None and d[1] is None  # || agrees


def test_dml_generator_deterministic():
    a = DmlSequenceGen(77).generate()
    b = DmlSequenceGen(77).generate()
    assert a == b


def test_dml_generator_reaches_all_ops_and_partitions():
    """The first 120 seeds must cover every op kind, every merge mode
    and every partition layout — the seed budget the default sweep
    actually runs."""
    kinds: set[str] = set()
    modes: set[str] = set()
    parts: set[object] = set()
    for seed in range(120):
        g = DmlSequenceGen(seed).generate()
        parts.add(g["partition"][0] if g["partition"] else None)
        for op in g["ops"]:
            kinds.add(op["op"])
            if op["op"] == "merge":
                modes.add(op["mode"])
    assert kinds >= {"append", "delete", "delete_eq", "update", "merge",
                     "compact", "expire"}
    assert modes == {"upsert", "delete", "insert_only"}
    assert parts == {None, "identity", "bucket"}


# Combo-tier pins: the FIRST combo smoke found _physical_stage_args
# staging id-less parquet under column-mapping mode 'id' — every
# writer verb (append/COW delete/update/merge/optimize) broke every
# subsequent id-bound scan (seeds 20002/20004 crashed FAILED_READ,
# 20007 diverged null-masks). Fixed by stamping parquet.field.id in
# the shared staging path; minimal repro pinned in
# test_delta_log.py::test_id_mode_writer_verbs_stamp_field_ids.
DELTA_COMBO_REGRESSION_SEEDS: list[int] = [20002, 20004, 20007]


@pytest.mark.slow
def test_dml_fuzz_sweep_delta_combo(spark, tmp_path_factory):
    """r15 cross-feature COMBO tier (seeds >= DELTA_COMBO_BASE):
    column mapping (name/id) × schema evolution (add/rename/drop,
    which REQUIRE mapping) × dv/cow deletes × merges over evolved
    schemas × mid-sequence checkpoint rewrites in all three layouts —
    the r14 finds were two-feature interactions; this generates the
    deeper ones deliberately. Sequences run on a small thread pool
    (independent roots, per-thread DuckDB connections; session confs
    pinned by the shared fixture's values are unchanged by the
    runner)."""
    import shutil
    import threading
    from concurrent.futures import ThreadPoolExecutor

    import duckdb as _duckdb

    from pg_datalake_spark.fuzz_dml import (
        DELTA_COMBO_BASE,
        run_sequence_delta_combo,
    )

    n = int(os.environ.get("SPARK_GRAFT_FUZZ_DML_COMBO_N", "100"))
    base = tmp_path_factory.mktemp("dml_fuzz_combo")
    seeds = sorted(
        set(range(DELTA_COMBO_BASE, DELTA_COMBO_BASE + n))
        | set(DELTA_COMBO_REGRESSION_SEEDS)
    )
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    failures: list[str] = []
    cms: set[str] = set()
    styles: set[str] = set()
    modes: set[str] = set()
    op_counts: dict[str, int] = {}
    lock = threading.Lock()
    tls = threading.local()

    def one(seed: int) -> None:
        con = getattr(tls, "con", None)
        if con is None:
            con = tls.con = _duckdb.connect()
        root = str(base / f"t{seed}")
        try:
            problems, cov = run_sequence_delta_combo(
                spark, con, seed, root, compare_exact
            )
        except Exception as e:  # noqa: BLE001
            problems, cov = [f"combo seed {seed}: ENGINE ERROR {e}"], {}
        shutil.rmtree(root, ignore_errors=True)
        with lock:
            failures.extend(problems)
            cms.add(cov.get("cm"))
            styles.update(cov.get("styles", []))
            modes.update(cov.get("modes", []))
            for k, v in cov.get("ops", {}).items():
                op_counts[k] = op_counts.get(k, 0) + v

    try:
        with ThreadPoolExecutor(max_workers=3) as pool:
            list(pool.map(one, seeds))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
    assert not failures, "\n".join(failures[:10])
    # every combo axis must actually have fuzzed (axis coverage only
    # holds statistically — skip for env-shrunk iteration runs)
    if len(seeds) >= 50:
        assert cms >= {"name", "id"}, f"column-mapping modes: {cms}"
        assert styles == {"classic", "v2", "multipart"}, (
            f"checkpoint styles: {styles}"
        )
        assert modes == {"dv", "cow"}, f"delete modes: {modes}"
        for kind in ("add_column", "rename_column", "drop_column",
                     "checkpoint", "merge", "update"):
            assert op_counts.get(kind, 0) > 0, f"{kind} never exercised"
