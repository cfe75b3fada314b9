"""``lake_dml``: one seeded stream of writes against a ``LakeTable`` and
a Delta table, both created at set-up from the generated ``orders``.

A cycle runs, on each table in turn, a batch append, a key-range delete
(merge-on-read: position-delete files on the LakeTable, deletion
vectors on Delta), an UPDATE and a MERGE upsert, with a scan-aggregate
after every write. Every ``MAINTAIN_EVERY`` cycles, and after the last,
the LakeTable is compacted and the Delta table optimized and
checkpointed. One untimed cycle warms every write and scan path; the
timed cycles follow.

The stream is generated up front from the seed together with a pandas
model of the table, so every input is known before the engine sees it:
each delete, update and merge is drawn to touch at least one live row.
Every scan must return the model's aggregate, and the scan after a
write must differ from the engine's previous scan of that table, so a
write that touched no row fails. At the end both tables must hold the
same rows (count and row-hash digest), as many as the model.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from metrics import Op, end_to_end, medians_by_kind

NOMINAL_CYCLE_S = 23.0  # typical timed cycle on 4 cores; sets the cycle count
MAINTAIN_EVERY = 2
SETUP_REPS = 3
APPEND_ROWS = 600
RANGE_KEYS = 150  # width of a delete / update key range
MERGE_ROWS = 300  # half matched, half new
UPDATE_SET = "o_totalprice + 1"
WRITES = ("append", "delete", "update", "merge")  # each must change the table
META_DIRS = (os.sep + "metadata" + os.sep, os.sep + "_delta_log" + os.sep)
# Delta checkpoints embed file modification times in compressed parquet,
# so their size drifts by a few bytes between identical runs; they are
# counted apart so that the other byte counts repeat exactly per seed.
CHECKPOINT = ".checkpoint."


class Model:
    """The expected table content, advanced by the same operations."""

    def __init__(self, orders: pd.DataFrame, rng: np.random.Generator) -> None:
        self.df = orders.set_index("o_orderkey", drop=False)
        self.rng = rng
        self.next_key = int(self.df.index.max()) + 1

    def _live_range(self) -> tuple[int, int]:
        """A key range that starts at a live key."""
        lo = int(self.rng.choice(self.df.index.values))
        return lo, lo + RANGE_KEYS - 1

    def append(self, n_cust: int) -> pd.DataFrame:
        import datagen

        batch = datagen.orders_table(self.rng, APPEND_ROWS, n_cust, self.next_key).to_pandas()
        self.next_key += APPEND_ROWS
        self.df = pd.concat([self.df, batch.set_index("o_orderkey", drop=False)])
        return batch

    def delete(self) -> str:
        lo, hi = self._live_range()
        self.df = self.df[(self.df.index < lo) | (self.df.index > hi)]
        return f"o_orderkey >= {lo} AND o_orderkey <= {hi}"

    def update(self) -> tuple[str, pd.DataFrame]:
        lo, hi = self._live_range()
        hit = (self.df.index >= lo) & (self.df.index <= hi)
        self.df.loc[hit, "o_totalprice"] = self.df.loc[hit, "o_totalprice"] + 1
        return f"o_orderkey >= {lo} AND o_orderkey <= {hi}", self.df[hit]

    def merge(self, n_cust: int) -> pd.DataFrame:
        import datagen

        half = MERGE_ROWS // 2
        old = self.rng.choice(self.df.index.values, half, replace=False)
        src = datagen.orders_table(self.rng, MERGE_ROWS, n_cust, self.next_key).to_pandas()
        src.loc[: half - 1, "o_orderkey"] = np.sort(old)
        src.loc[: half - 1, "o_orderstatus"] = "M"
        self.next_key += MERGE_ROWS - half
        matched = src.iloc[:half].set_index("o_orderkey", drop=False)
        self.df.loc[matched.index, ["o_orderstatus", "o_totalprice"]] = matched[
            ["o_orderstatus", "o_totalprice"]
        ]
        self.df = pd.concat([self.df, src.iloc[half:].set_index("o_orderkey", drop=False)])
        return src

    def aggregate(self) -> list[tuple]:
        return _agg_rows(self.df)


def _agg_rows(df: pd.DataFrame) -> list[tuple]:
    cents = np.round(df["o_totalprice"].to_numpy() * 100).astype(np.int64)
    g = pd.DataFrame(
        {"s": df["o_orderstatus"].to_numpy(), "k": df["o_orderkey"].to_numpy(), "c": cents}
    ).groupby("s")
    out = pd.DataFrame({"n": g.size(), "k": g["k"].sum(), "c": g["c"].sum()})
    return sorted((s, int(r.n), int(r.k), int(r.c)) for s, r in out.iterrows())


def _scan_agg(df) -> list[tuple]:
    from pyspark.sql import functions as F

    rows = (
        df.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_orderkey").alias("k"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("c"),
        )
        .collect()
    )
    return sorted((r[0], int(r[1]), int(r[2]), int(r[3])) for r in rows)


def _digest(df) -> tuple[int, int]:
    """(rows, order-independent hash of all rows)."""
    from pyspark.sql import functions as F

    row = df.agg(F.count(F.lit(1)), F.bit_xor(F.xxhash64(F.struct(*df.columns)))).collect()[0]
    return int(row[0]), int(row[1])


def _plan_stream(run, orders: pa.Table, n_cust: int, cycles: int):
    """``(plan, model)``: per cycle, the list of ``(step, payload,
    expected aggregate)``; a payload is ``(predicate or staged input
    path, bytes of user rows)``. Inputs are staged as
    parquet files under the run's input directory."""
    rng = np.random.default_rng(run.seed + 1)
    model = Model(orders.to_pandas(), rng)
    in_dir = os.path.join(run.work_dir, "inputs")
    os.makedirs(in_dir)

    def stage(name: str, rows: pd.DataFrame) -> tuple[str, int]:
        tab = pa.Table.from_pandas(rows, schema=orders.schema, preserve_index=False)
        path = os.path.join(in_dir, f"{name}.parquet")
        pq.write_table(tab, path)
        return path, tab.nbytes

    plan = []
    for c in range(cycles):
        steps = [("append", stage(f"append-{c}", model.append(n_cust)), model.aggregate())]
        steps.append(("delete", (model.delete(), 0), model.aggregate()))
        pred, rows = model.update()
        nbytes = pa.Table.from_pandas(rows, schema=orders.schema, preserve_index=False).nbytes
        steps.append(("update", (pred, nbytes), model.aggregate()))
        steps.append(("merge", stage(f"merge-{c}", model.merge(n_cust)), model.aggregate()))
        if c % MAINTAIN_EVERY == 0 or c == cycles - 1:
            steps.append(("maintain", None, model.aggregate()))
        plan.append(steps)
    return plan, model


class Tables:
    """The two tables under test and the calls that write and read them."""

    def __init__(self, spark, root: str) -> None:
        self.spark = spark
        self.lake_root = os.path.join(root, "lake")
        self.delta_root = os.path.join(root, "delta")
        self.lake = None

    def create(self, orders_df, tr) -> None:
        from pg_datalake_spark.tables.delta_log import write_delta_table
        from pg_datalake_spark.tables.format import LakeTable

        with tr.span("tables.lake.create"):
            self.lake = LakeTable.create(self.spark, self.lake_root, orders_df.schema)
            self.lake.append(orders_df)
        with tr.span("tables.delta.create"):
            write_delta_table(orders_df, self.delta_root)

    def lake_scan(self):
        return self.lake.scan()

    def delta_scan(self):
        from pg_datalake_spark.tables.delta_log import read_delta_table

        return read_delta_table(self.spark, self.delta_root)

    def calls(self, step: str, payload, source):
        """``[(op_kind, thunk), ...]`` for one logical step, LakeTable first."""
        from pg_datalake_spark.tables import delta_log as D

        lake, sp, droot = self.lake, self.spark, self.delta_root
        if step == "append":
            return [
                ("lake.append", lambda: lake.append(source)),
                ("delta.append", lambda: D.append_delta(source, droot)),
            ]
        if step == "delete":
            pred = payload[0]
            return [
                ("lake.delete", lambda: lake.delete(pred)),
                ("delta.delete", lambda: D.delete_where_delta(sp, droot, pred, mode="dv")),
            ]
        if step == "update":
            pred = payload[0]
            return [
                ("lake.update", lambda: lake.update({"o_totalprice": UPDATE_SET}, pred)),
                ("delta.update", lambda: D.update_delta(sp, droot, {"o_totalprice": UPDATE_SET}, pred)),
            ]
        if step == "merge":
            cols = {"o_orderstatus": "{p}.o_orderstatus", "o_totalprice": "{p}.o_totalprice"}
            return [
                ("lake.merge", lambda: lake.merge(
                    source, "o_orderkey",
                    when_matched_update={k: v.format(p="src") for k, v in cols.items()})),
                ("delta.merge", lambda: D.merge_delta(
                    sp, droot, source, "t.o_orderkey = s.o_orderkey",
                    when_matched_update={k: v.format(p="s") for k, v in cols.items()})),
            ]
        if step == "maintain":
            return [
                ("lake.compact", lambda: lake.compact()),
                ("delta.optimize", lambda: D.optimize_delta(sp, droot)),
                ("delta.checkpoint", lambda: D.write_delta_checkpoint(sp, droot)),
            ]
        raise ValueError(step)

    def _lake_snapshot(self) -> dict:
        """The LakeTable's current snapshot, read from its metadata files."""
        meta_dir = os.path.join(self.lake_root, "metadata")
        with open(os.path.join(meta_dir, "current")) as f:
            version = f.read().strip()
        with open(os.path.join(meta_dir, f"v{version}.json")) as f:
            meta = json.load(f)
        return next(s for s in meta["snapshots"] if s["snapshot_id"] == meta["current_snapshot_id"])

    def _delta_adds(self) -> list[dict]:
        """The ``add`` actions of the Delta table's current version,
        replayed from its JSON commits (every commit is kept; within a
        commit an add wins over a remove of the same path)."""
        log = os.path.join(self.delta_root, "_delta_log")
        live: dict[str, dict] = {}
        for name in sorted(n for n in os.listdir(log) if n.endswith(".json")):
            with open(os.path.join(log, name)) as f:
                actions = [json.loads(line) for line in f if line.strip()]
            for a in actions:
                if "remove" in a:
                    live.pop(a["remove"]["path"], None)
            for a in actions:
                if "add" in a:
                    live[a["add"]["path"]] = a["add"]
        return list(live.values())

    def file_counts(self) -> tuple[int, int]:
        """(live data files, merge-on-read delete artifacts) of both
        tables: LakeTable position-delete files and Delta files carrying
        a deletion vector. Read from the metadata files alone, so that
        sampling runs no engine work between operations."""
        snap = self._lake_snapshot()
        adds = self._delta_adds()
        live = len(snap["data_files"]) + len(adds)
        return live, len(snap["delete_files"]) + sum(bool(a.get("deletionVector")) for a in adds)

    def referenced_bytes(self) -> int:
        """Bytes of the data files the two current snapshots reference."""
        lake = sum(f["bytes"] for f in self._lake_snapshot()["data_files"])
        return lake + sum(int(a["size"]) for a in self._delta_adds())


def _tree(root: str) -> dict[str, int]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def run(run, t_start: float) -> dict:
    import datagen
    from pg_datalake_spark import plans
    from pg_datalake_spark.catalog import load_tables
    from pg_datalake_spark.session import build_session

    tr = run.tracer
    with tr.span("session.build"):
        spark = build_session("perfbench")
    run.spark = spark
    with tr.span("plans.load_all"):
        plans.load_all()
    fixed_s = time.perf_counter() - t_start
    reps = []
    tables = None
    for i in range(SETUP_REPS):
        if tables is not None:  # fresh session; keep only the last tables
            shutil.rmtree(os.path.dirname(tables.lake_root))
            spark = spark.newSession()
            run.fresh_inputs(i)  # so that loading orders is a first call
        t0 = time.perf_counter()
        with tr.span("setup", rep=i):
            with tr.span("catalog.load_tables"):
                orders_df = load_tables(spark, run.data_dir, ["orders"])["orders"]
            tables = Tables(spark, os.path.join(run.tables_dir, f"rep{i}"))
            tables.create(orders_df, tr)
        reps.append(time.perf_counter() - t0)
    run.spark = spark
    setup_s = fixed_s + statistics.median(reps)
    run.log(f"set-up: start-up {fixed_s:.2f}s, engine set-ups {[round(r, 2) for r in reps]}")

    orders = pq.read_table(os.path.join(run.data_dir, "orders.parquet"))
    n_cust = datagen.row_counts(run.sf)["customer"]
    plan, model = _plan_stream(run, orders, n_cust, 1 + run.cycles(NOMINAL_CYCLE_S))

    ops: list[Op] = []
    checks: list[str] = []
    check_failures: list[str] = []
    bytes_written = files_written = checkpoint_bytes = user_bytes = 0
    samples = []  # (live files, delete files) at each timed scan, traced runs

    def call(op_id: str, kind: str, fn):
        t0 = time.perf_counter()
        run.job_group(op_id)
        try:
            with tr.span("op", kind=kind):
                out = fn()
        except Exception as e:  # noqa: BLE001 — a failed operation is a result
            return time.perf_counter() - t0, None, f"{type(e).__name__}: {e}"
        return time.perf_counter() - t0, out, None

    def sources(step, payload):
        if step in ("append", "merge"):
            return spark.read.schema(orders_df.schema).parquet(payload[0])
        return None

    last = {}  # scan kind -> the engine's previous scan of that table

    def scan_checked(op_id, scan_kind, after_kind, expected):
        scan = tables.lake_scan if scan_kind == "lake.scan" else tables.delta_scan
        dt, got, err = call(op_id, scan_kind, lambda: _scan_agg(scan()))
        if err is None and got != expected:
            err = f"after {after_kind}: {got} != {expected}"
        elif err is None and after_kind.split(".")[1] in WRITES and got == last[scan_kind]:
            err = f"{after_kind} changed no row"
        if err is None:
            last[scan_kind] = got
        return dt, err

    # Warm-up cycle, untimed: every write path and the scan after it,
    # the LakeTable's and the Delta table's streams on two client threads.
    warm, *timed_plan = plan
    initial = _agg_rows(orders.to_pandas())

    def warm_stream(prefix):
        errs = []
        checks.append(f"{prefix}create")
        err = scan_checked(f"w.{prefix}scan", f"{prefix}scan", f"{prefix}create", initial)[1]
        if err:
            errs.append(f"created {prefix[:-1]} table: {err}")
        for step, payload, expected in warm:
            for kind, fn in tables.calls(step, payload, sources(step, payload)):
                if not kind.startswith(prefix):
                    continue
                err = call(f"w.{kind}", kind, fn)[2]
                if err is None and kind != "delta.optimize":
                    err = scan_checked(f"w.{prefix}scan", f"{prefix}scan", kind, expected)[1]
                if err:
                    errs.append(f"warm-up {kind}: {err}")
        return errs

    with ThreadPoolExecutor(max_workers=2) as pool:
        for errs in pool.map(warm_stream, ("lake.", "delta.")):
            check_failures += errs
    run.log("warm-up cycle done")

    before = _tree(tables.lake_root) | _tree(tables.delta_root)
    for c, steps in enumerate(timed_plan, start=1):
        for step, payload, expected in steps:
            for kind, fn in tables.calls(step, payload, sources(step, payload)):
                dt, _, err = call(f"c{c}.{kind}", kind, fn)
                ops.append(Op(kind, dt, err is None, err, c))
                if kind == "delta.optimize":
                    continue  # its scan follows the checkpoint
                # scan-aggregate of the table just written, against the model
                scan_kind = kind.split(".")[0] + ".scan"
                dt, err = scan_checked(f"c{c}.{scan_kind}", scan_kind, kind, expected)
                ops.append(Op(scan_kind, dt, err is None, err, c))
                if tr.enabled:
                    samples.append(tables.file_counts())
            after = _tree(tables.lake_root) | _tree(tables.delta_root)
            if step != "maintain":
                user_bytes += 2 * int(payload[1])  # written to both tables
            new = [p for p, size in after.items() if before.get(p) != size]
            files_written += len(new)
            for p in new:
                if CHECKPOINT in os.path.basename(p):
                    checkpoint_bytes += after[p]
                else:
                    bytes_written += after[p]
            before = after
    tr.op = None
    run.log(f"timed {len(ops)} operations in {sum(op.seconds for op in ops):.2f}s")

    # Final state: both tables hold the same rows (each already matched
    # the model's aggregate after every write).
    checks.append("final content")
    digests = [_digest(tables.lake_scan()), _digest(tables.delta_scan())]
    if digests[0] != digests[1] or digests[0][0] != len(model.df):
        check_failures.append(f"final content differs: lake, delta, model rows = {digests}, {len(model.df)}")

    e2e, info = end_to_end(ops)
    e2e = {"setup_s": (setup_s, "s"), **e2e}
    end_tree = _tree(tables.lake_root) | _tree(tables.delta_root)
    total_bytes = sum(end_tree.values())
    write_amp = bytes_written / user_bytes if user_bytes else 0.0
    space_amp = total_bytes / tables.referenced_bytes()
    report = {
        "error_rate": (info["error_rate"], "ratio"),
        "write_amp": (write_amp, "ratio"),
        "space_amp": (space_amp, "ratio"),
    }
    per_layer = {}
    if tr.enabled:
        per_layer = _per_layer(tr, ops)
        meta_bytes = sum(
            size
            for p, size in end_tree.items()
            if any(m in p for m in META_DIRS) and CHECKPOINT not in os.path.basename(p)
        )
        per_layer.update(
            {
                "tables.bytes_written": (bytes_written, "B"),
                "tables.files_written": (files_written, "count"),
                "tables.metadata_bytes": (meta_bytes, "B"),
                "tables.checkpoint_bytes": (checkpoint_bytes, "B"),
                "tables.live_files": (statistics.mean(s[0] for s in samples), "count"),
                "tables.delete_files": (statistics.mean(s[1] for s in samples), "count"),
                "tables.write_amp": report["write_amp"],
                "tables.space_amp": report["space_amp"],
                "trace.ops_per_s": e2e["ops_per_s"],
            }
        )
    return {
        "ops": ops,
        "checks": checks,
        "check_failures": check_failures,
        "end_to_end": e2e,
        "info": info,
        "per_layer": per_layer,
        "report_only": report,
    }


def _per_layer(tr, ops) -> dict:
    out = tr.layer_metrics("session.build", "plans.load_all", "catalog.load_tables")
    for kind, median_s in medians_by_kind(ops).items():
        out[f"tables.{kind}_s"] = (median_s, "s")
    return out
