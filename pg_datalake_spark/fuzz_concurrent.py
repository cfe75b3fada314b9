"""Concurrent-writer interleaving fuzzing vs a serial DuckDB twin.

The single-writer DML fuzzer (:mod:`pg_datalake_spark.fuzz_dml`)
diffs every mutation against a lockstep twin; this module points the
same differential idea at the CONCURRENCY axis — the reference's
isolation-tester specs drive overlapping sessions against one table
(behavioral reference: pg_lake_table/tests/isolation/specs,
isolation_schedule), which the repo previously matched only with
hand-written stress cases (tests/test_isolation_stress.py).

One seeded interleaving =

- 2–3 writers, each with its own seeded op list (append / predicate
  delete / equality delete / update / merge / truncate / compact),
  released together through a barrier against ONE table;
- every writer retries an op on the backend's optimistic-commit
  conflict (fresh table handle per attempt, so the retry recomputes
  against the new snapshot — the documented loser-retry contract);
- the backend's commit primitive is instrumented to (a) inject a
  seeded pre-commit jitter that widens the read→commit race window,
  and (b) record ``(version, writer, op_idx)`` for every SUCCESSFUL
  commit (the put-if-absent CAS admits exactly one winner per
  version slot, so the record is the committed history).

The invariant is SERIALIZABILITY of the committed history: because
every commit's CAS base is the snapshot it was computed from, the
final state must equal a serial replay of the ops in COMMIT order —
so the twin replays ``apply_twin`` in recorded commit order, and the
table state AT EVERY COMMITTED VERSION (time travel) must exactly
match the twin after the corresponding prefix. A lost update (a
writer overwriting a concurrent commit it never saw), a double-apply,
or a retry that kept stale state shows up as a per-version diff.

Three backends share the skeleton through a small adapter:

- ``lake``     :class:`~pg_datalake_spark.tables.format.LakeTable`
               (``_commit``);
- ``delta``    the pure-Python Delta writer verbs (``_write_commit``;
               append rebases internally);
- ``iceberg``  the external-Iceberg verbs (``_write_version_file``;
               the r15 ``_pinned_cow_read`` fix is exactly what makes
               the COW verbs pass here).

All three commit through ``tables/commit.py``: a lost race is a
:class:`CommitConflictError` on every backend.

Ops that legitimately commit nothing (a compact with nothing to do, a
delta delete matching zero rows) are skipped in the replay — their
no-op-ness is covered by the single-writer fuzzer's lockstep diff.
"""

from __future__ import annotations

import json
import os
import random
import threading
import time
from typing import Any, Callable

from pyspark.sql import SparkSession

from pg_datalake_spark.fuzz_dml import (
    _BASE_COLS,
    _TWIN_COLS,
    SCHEMA,
    DmlSequenceGen,
    apply_twin,
)
from pg_datalake_spark.tables.commit import CommitConflictError
from pg_datalake_spark.tables.format import LakeTable, PartitionField

_MAX_ATTEMPTS = 80


# ---------------------------------------------------------------------------
# plan generation
# ---------------------------------------------------------------------------


class ConcurrentPlanGen:
    """Seeded plan: initial rows + per-writer op lists. Reuses the
    single-writer generator's row/predicate/SET-expression pools (same
    determinism rules: exact quarters, ``||`` not concat) but at its
    own seed base — op dicts are backend-agnostic; the delta runner
    additionally consumes the per-op ``dmode`` (dv/cow alternation)."""

    KINDS = ["append", "delete", "delete_eq", "update", "merge",
             "compact", "truncate"]
    WEIGHTS = [3.0, 2.5, 1.5, 2.5, 2.0, 0.8, 0.2]

    def __init__(self, seed: int):
        self.seed = seed
        self._g = DmlSequenceGen(seed)
        self.rng = self._g.rng  # one stream — plan follows the helpers

    def _one_op(self) -> dict[str, Any]:
        rng = self.rng
        kind = rng.choices(self.KINDS, self.WEIGHTS)[0]
        op: dict[str, Any]
        if kind == "append":
            op = {"op": "append", "rows": self._g._rows(rng.randint(40, 120))}
        elif kind == "delete":
            op = {"op": "delete", "predicate": self._g._predicate(),
                  "dmode": rng.choice(["dv", "cow"])}
        elif kind == "delete_eq":
            ks = sorted({rng.randint(1, 400)
                         for _ in range(rng.randint(3, 20))})
            op = {"op": "delete_eq", "keys": ks,
                  "dmode": rng.choice(["dv", "cow"])}
        elif kind == "update":
            op = {"op": "update", "set": self._g._set_exprs(),
                  "predicate": self._g._predicate()}
        elif kind == "merge":
            op = {"op": "merge",
                  "mode": rng.choice(["upsert", "delete", "insert_only"]),
                  "rows": self._g._unique_key_rows(rng.randint(15, 50))}
        else:
            op = {"op": kind}
        return op

    def generate(self) -> dict[str, Any]:
        rng = self.rng
        n_writers = rng.choice([2, 2, 3])
        return {
            "partition": rng.choice([None, ("identity", "seg")]),
            "init_rows": self._g._rows(rng.randint(150, 300)),
            "writers": [
                [self._one_op() for _ in range(rng.randint(2, 4))]
                for _ in range(n_writers)
            ],
        }


# ---------------------------------------------------------------------------
# instrumented run
# ---------------------------------------------------------------------------


class _Recorder:
    """Commit log + per-thread attribution context."""

    def __init__(self, seed: int):
        self.seed = seed
        self.lock = threading.Lock()
        self.commits: list[tuple[int, int, int]] = []  # (version, w, oi)
        self.conflicts: list[int] = []
        self.ctx = threading.local()

    def jitter(self) -> None:
        rng = getattr(self.ctx, "rng", None)
        if rng is not None:
            time.sleep(rng.random() * 0.004)

    def record(self, version: int) -> None:
        w = getattr(self.ctx, "writer", None)
        if w is None:
            return  # setup commit from the main thread
        with self.lock:
            self.commits.append((int(version), w, self.ctx.op_idx))


def _run_writers(plan: dict, rec: _Recorder,
                 apply_one: Callable[[dict], None],
                 problems: list[str]) -> None:
    """Release every writer through a barrier; per-op retry on a lost
    commit race (:class:`CommitConflictError`); starvation and other
    exceptions are reported as problems."""
    writers = plan["writers"]
    barrier = threading.Barrier(len(writers))
    seed = rec.seed

    def body(w: int) -> None:
        rec.ctx.writer = w
        rec.ctx.rng = random.Random(0xCC0 + seed * 97 + w)
        barrier.wait()
        for oi, op in enumerate(writers[w]):
            rec.ctx.op_idx = oi
            for _ in range(_MAX_ATTEMPTS):
                try:
                    apply_one(op)
                    break
                except BaseException as e:  # noqa: BLE001
                    if isinstance(e, CommitConflictError):
                        rec.conflicts.append(w)
                        time.sleep(rec.ctx.rng.random() * 0.003)
                        continue
                    problems.append(
                        f"seed {seed} writer {w} op {oi} [{op['op']}]: "
                        f"ENGINE ERROR {type(e).__name__}: {e}"
                    )
                    return
            else:
                problems.append(
                    f"seed {seed} writer {w} op {oi} [{op['op']}]: "
                    f"starved after {_MAX_ATTEMPTS} conflict retries"
                )
                return

    threads = [threading.Thread(target=body, args=(w,), daemon=True)
               for w in range(len(writers))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def _replay_and_diff(spark, con, twin: str, plan: dict, rec: _Recorder,
                     state_at: Callable[[int], Any],
                     compare, problems: list[str],
                     allowed_noop: set[str]) -> dict:
    """Serial twin replay in commit order + per-version exact diff.
    Returns coverage counters."""
    with rec.lock:
        commits = sorted(rec.commits)
    versions = [v for v, _, _ in commits]
    cov = {
        "ops": {}, "conflicts": len(rec.conflicts),
        "commits": len(versions), "noop_ops": 0,
        "writers": len(plan["writers"]),
    }
    if problems:
        # a writer died mid-run (engine error / starvation) — its
        # remaining ops never ran, so the no-op and replay checks
        # below would only pile noise onto the real report
        return cov
    if len(set(versions)) != len(versions):
        problems.append(
            f"seed {rec.seed}: version slot double-claimed: {versions}"
        )
        return cov
    # an op's effect lands at its LAST commit (a dv delete may commit
    # a protocol feature-enable first — data never moves there)
    last_ver: dict[tuple[int, int], int] = {}
    for v, w, oi in commits:
        last_ver[(w, oi)] = max(v, last_ver.get((w, oi), -1))
    for w, ops in enumerate(plan["writers"]):
        for oi, op in enumerate(ops):
            cov["ops"][op["op"]] = cov["ops"].get(op["op"], 0) + 1
            if (w, oi) not in last_ver:
                cov["noop_ops"] += 1
                if op["op"] not in allowed_noop:
                    problems.append(
                        f"seed {rec.seed} writer {w} op {oi} "
                        f"[{op['op']}]: committed nothing but is not a "
                        f"permitted no-op kind"
                    )
    if problems:
        return cov
    ordered = sorted(last_ver.items(), key=lambda kv: kv[1])
    for (w, oi), v in ordered:
        op = plan["writers"][w][oi]
        apply_twin(con, twin, op)
        got = state_at(v)
        want = con.execute(f"SELECT {_TWIN_COLS} FROM {twin}").df()
        step = compare(got, want)
        if step:
            problems.append(
                f"seed {rec.seed} @v{v} writer {w} op {oi} [{op['op']}]: "
                f"{step[:2]} (op={str(op)[:140]})"
            )
            break
    return cov


def _mk_twin(con, twin: str, init_rows: list[tuple]) -> None:
    con.execute(f"DROP TABLE IF EXISTS {twin}")
    con.execute(
        f"CREATE TABLE {twin} "
        "(k BIGINT, seg VARCHAR, qty BIGINT, price DOUBLE, note VARCHAR)"
    )
    ph = ", ".join("?" for _ in _BASE_COLS)
    con.executemany(f"INSERT INTO {twin} VALUES ({ph})", init_rows)


def _quiet_confs(spark):
    prev = (spark.conf.get("spark.sql.shuffle.partitions"),
            spark.conf.get("spark.sql.adaptive.enabled"))
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    return prev


def _restore_confs(spark, prev) -> None:
    spark.conf.set("spark.sql.shuffle.partitions", prev[0])
    spark.conf.set("spark.sql.adaptive.enabled", prev[1])


# ---------------------------------------------------------------------------
# lake backend
# ---------------------------------------------------------------------------


def run_concurrent_lake(spark: SparkSession, con, seed: int, root: str,
                        compare) -> tuple[list[str], dict]:
    plan = ConcurrentPlanGen(seed).generate()
    part = plan["partition"]
    partition_by = (
        [PartitionField(part[1])] if part and part[0] == "identity" else None
    )
    table = LakeTable.create(spark, root, SCHEMA, partition_by=partition_by)
    table.append(spark.createDataFrame(plan["init_rows"], SCHEMA).coalesce(4))
    twin = f"conc_twin_l{seed}"
    _mk_twin(con, twin, plan["init_rows"])

    rec = _Recorder(seed)
    problems: list[str] = []
    orig_commit = LakeTable._commit

    def patched_commit(self, meta, expected_version):
        rec.jitter()
        orig_commit(self, meta, expected_version)
        rec.record(expected_version + 1)

    def apply_one(op: dict) -> None:
        t = LakeTable(spark, root)  # fresh handle: retry sees new state
        kind = op["op"]
        if kind == "append":
            t.append(spark.createDataFrame(op["rows"], SCHEMA).coalesce(2))
        elif kind == "delete":
            t.delete(op["predicate"])
        elif kind == "delete_eq":
            t.delete_equality(
                spark.createDataFrame([(k,) for k in op["keys"]], "k long"),
                ["k"],
            )
        elif kind == "update":
            t.update(op["set"], op["predicate"])
        elif kind == "merge":
            src = spark.createDataFrame(op["rows"], SCHEMA)
            t.merge(
                src, on="k",
                when_matched_update=(
                    {"seg": "src.seg", "qty": "src.qty",
                     "price": "src.price", "note": "src.note"}
                    if op["mode"] == "upsert" else None
                ),
                when_matched_delete=(op["mode"] == "delete"),
                when_not_matched_insert=True,
            )
        elif kind == "truncate":
            t.truncate()
        elif kind == "compact":
            t.compact(min_input_files=2)
        else:  # pragma: no cover
            raise ValueError(f"unknown op {kind}")

    def state_at(version: int):
        with open(os.path.join(root, "metadata", f"v{version}.json")) as fh:
            sid = json.load(fh).get("current_snapshot_id")
        return (
            LakeTable(spark, root).scan(snapshot_id=sid)
            .select(*_BASE_COLS).toPandas()
        )

    prev = _quiet_confs(spark)
    LakeTable._commit = patched_commit
    try:
        _run_writers(plan, rec, apply_one, problems)
    finally:
        LakeTable._commit = orig_commit
        _restore_confs(spark, prev)

    # update/delete_eq return without committing on an EMPTY table
    # (possible after a concurrent truncate wins the race first)
    cov = _replay_and_diff(
        spark, con, twin, plan, rec, state_at, compare, problems,
        allowed_noop={"compact", "update", "delete_eq"},
    )
    con.execute(f"DROP TABLE IF EXISTS {twin}")
    return problems, cov


# ---------------------------------------------------------------------------
# delta backend
# ---------------------------------------------------------------------------


def run_concurrent_delta(spark: SparkSession, con, seed: int, root: str,
                         compare) -> tuple[list[str], dict]:
    from pg_datalake_spark.tables import delta_log as dl

    plan = ConcurrentPlanGen(seed).generate()
    part = plan["partition"]
    partition_by = [part[1]] if part and part[0] == "identity" else None
    dl.write_delta_table(
        spark.createDataFrame(plan["init_rows"], SCHEMA).coalesce(4),
        root, partition_by=partition_by,
    )
    twin = f"conc_twin_d{seed}"
    _mk_twin(con, twin, plan["init_rows"])

    rec = _Recorder(seed)
    problems: list[str] = []
    orig_commit = dl._write_commit

    def patched_commit(location: str, version: int, actions: list) -> int:
        rec.jitter()
        out = orig_commit(location, version, actions)
        rec.record(out)
        return out

    def apply_one(op: dict) -> None:
        kind = op["op"]
        if kind == "append":
            dl.append_delta(
                spark.createDataFrame(op["rows"], SCHEMA).coalesce(2), root
            )
        elif kind == "delete":
            dl.delete_where_delta(
                spark, root, op["predicate"], mode=op["dmode"]
            )
        elif kind == "delete_eq":
            ks = ", ".join(str(k) for k in op["keys"])
            dl.delete_where_delta(
                spark, root, f"k IN ({ks})", mode=op["dmode"]
            )
        elif kind == "update":
            dl.update_delta(spark, root, op["set"], where=op["predicate"])
        elif kind == "merge":
            src = spark.createDataFrame(op["rows"], SCHEMA)
            dl.merge_delta(
                spark, root, src, on="t.k = s.k",
                when_matched_update=(
                    {"seg": "s.seg", "qty": "s.qty", "price": "s.price",
                     "note": "s.note"}
                    if op["mode"] == "upsert" else None
                ),
                when_matched_delete=(
                    "true" if op["mode"] == "delete" else None
                ),
                when_not_matched_insert=True,
            )
        elif kind == "truncate":
            dl.delete_where_delta(spark, root, "true", mode="cow")
        elif kind == "compact":
            dl.optimize_delta(spark, root)
        else:  # pragma: no cover
            raise ValueError(f"unknown op {kind}")

    def state_at(version: int):
        return (
            dl.read_delta_table(spark, root, version_as_of=version)
            .select(*_BASE_COLS).toPandas()
        )

    prev = _quiet_confs(spark)
    dl._write_commit = patched_commit
    try:
        _run_writers(plan, rec, apply_one, problems)
    finally:
        dl._write_commit = orig_commit
        _restore_confs(spark, prev)

    # delete/update/merge/truncate legitimately skip the commit when
    # nothing matches (verb returns the current version unchanged)
    cov = _replay_and_diff(
        spark, con, twin, plan, rec, state_at, compare, problems,
        allowed_noop={"compact", "delete", "delete_eq", "update", "merge",
                      "truncate"},
    )
    con.execute(f"DROP TABLE IF EXISTS {twin}")
    return problems, cov


# ---------------------------------------------------------------------------
# external-Iceberg backend
# ---------------------------------------------------------------------------


def run_concurrent_iceberg(spark: SparkSession, con, seed: int, root: str,
                           compare) -> tuple[list[str], dict]:
    from pg_datalake_spark.tables import iceberg_external as ie

    plan = ConcurrentPlanGen(seed).generate()
    part = plan["partition"]
    partition_by = [part[1]] if part and part[0] == "identity" else None
    ie.export_iceberg_snapshot(
        spark.createDataFrame(plan["init_rows"], SCHEMA).coalesce(4),
        root, partition_by=partition_by,
    )
    twin = f"conc_twin_i{seed}"
    _mk_twin(con, twin, plan["init_rows"])

    rec = _Recorder(seed)
    problems: list[str] = []
    orig_write = ie._write_version_file

    def patched_write(meta_dir: str, version: int, meta: dict) -> None:
        rec.jitter()
        orig_write(meta_dir, version, meta)
        rec.record(version)

    def apply_one(op: dict) -> None:
        kind = op["op"]
        if kind == "append":
            ie.append_snapshot(
                spark.createDataFrame(op["rows"], SCHEMA).coalesce(2), root
            )
        elif kind == "delete":
            ie.delete_where(spark, root, op["predicate"])
        elif kind == "delete_eq":
            ie.add_equality_deletes(
                root,
                spark.createDataFrame([(k,) for k in op["keys"]], "k long"),
                ["k"],
            )
        elif kind == "update":
            ie.update_where(spark, root, op["set"], op["predicate"])
        elif kind == "merge":
            src = spark.createDataFrame(op["rows"], SCHEMA)
            ie.merge_into(
                spark, root, src, on=["k"],
                when_matched_update=(
                    {"seg": "src.seg", "qty": "src.qty",
                     "price": "src.price", "note": "src.note"}
                    if op["mode"] == "upsert" else None
                ),
                when_matched_delete=(
                    "true" if op["mode"] == "delete" else None
                ),
                insert_not_matched=True,
            )
        elif kind == "truncate":
            ie.delete_where(spark, root, "true")
        elif kind == "compact":
            ie.compact_files(spark, root)
        else:  # pragma: no cover
            raise ValueError(f"unknown op {kind}")

    def state_at(version: int):
        mf = os.path.join(root, "metadata", f"v{version}.metadata.json")
        return (
            ie.read_iceberg_table(spark, root, metadata_file=mf)
            .select(*_BASE_COLS).toPandas()
        )

    prev = _quiet_confs(spark)
    ie._write_version_file = patched_write
    try:
        _run_writers(plan, rec, apply_one, problems)
    finally:
        ie._write_version_file = orig_write
        _restore_confs(spark, prev)

    cov = _replay_and_diff(
        spark, con, twin, plan, rec, state_at, compare, problems,
        allowed_noop={"compact"},
    )
    con.execute(f"DROP TABLE IF EXISTS {twin}")
    return problems, cov


RUNNERS = {
    "lake": run_concurrent_lake,
    "delta": run_concurrent_delta,
    "iceberg": run_concurrent_iceberg,
}
