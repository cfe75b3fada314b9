"""``olap_warm`` and ``olap_cold``: the 20 headline keys of ``bench.py``.

Set-up builds the session, loads the registry and the catalog and, for
``olap_warm``, caches every table. Each key is then run once, untimed,
and its full result checked against its DuckDB oracle; that pass also
fills the plan memo and the JIT. One more untimed pass runs serially,
then the timed passes, each over all keys in an order shuffled from the
seed. An operation is the plan build
(``QUERIES[key](spark, sf_dir)``) plus the action that fetches the
whole result to the client; its result must equal the verified one.
"""

from __future__ import annotations

import hashlib
import os
import random
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

from metrics import Op, end_to_end

NOMINAL_PASS_S = 1.9  # typical timed pass on 4 cores; sets the pass count
SETUP_REPS = 3
VERIFY_THREADS = 3
WARM_PASSES = 1  # serial untimed passes after the threaded verification pass

# Layer that does most of a key's work: its plan module, or for the
# operator-backed keys the operator module.
OPERATOR_FAMILY = {
    "d01_exact_dedup": "operators.dedup",
    "d02_minhash_lsh_neardup": "operators.dedup",
    "d03_simhash": "operators.dedup",
    "d09_exact_substring_spans": "operators.dedup",
    "v01_cosine_topk": "operators.similarity",
    "t01_text_quality": "operators.textstats",
}
FAMILIES = (
    "plans.tpch",
    "plans.tpcds",
    "plans.relational",
    "operators.dedup",
    "operators.similarity",
    "operators.textstats",
)


def _no_span(*_args, **_attrs):
    return nullcontext()


def family(key: str, module: str) -> str:
    return OPERATOR_FAMILY.get(key, "plans." + module.rsplit(".", 1)[-1])


def digest(pdf) -> str:
    """Order-independent digest of a result frame (exact values)."""
    rows = sorted(repr(r) for r in pdf.itertuples(index=False, name=None))
    h = hashlib.sha256(repr(list(pdf.columns)).encode())
    for r in rows:
        h.update(r.encode())
    return h.hexdigest()


def _oracles(run, keys, oracles, pool) -> dict:
    """``{key: future of the oracle's result}``, computed one after the
    other by single-threaded DuckDB on ``pool``, so that they overlap
    with the engine's verification pass."""
    import duckdb

    from pg_datalake_spark.catalog import TABLE_NAMES, table_path

    con = duckdb.connect()
    con.execute(f"SET temp_directory='{run.work_dir}/tmp'")
    con.execute("SET threads=1")
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{table_path(run.data_dir, name)}')"
        )
    out = {k: pool.submit(lambda q: con.sql(q).df(), oracles[k]) for k in keys}
    pool.submit(con.close)
    return out


def _setup_once(run, spark, warm: bool) -> dict:
    from pg_datalake_spark.catalog import load_tables

    tr = run.tracer
    with tr.span("catalog.load_tables"):
        tabs = load_tables(spark, run.data_dir)
    if warm:
        with tr.span("catalog.cache"):
            # independent jobs, overlapped like bench.py's warm-up
            with ThreadPoolExecutor(max_workers=3) as pool:
                list(pool.map(lambda n: tabs[n].cache().count(), tabs))
    return tabs


def _stage_counts(sc, group: str) -> tuple[int, int, int, int]:
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            si = st.getStageInfo(s)
            if si is not None:
                stages += 1
                tasks += si.numTasks
                failed += si.numFailedTasks
    return len(jobs), stages, tasks, failed


def run(run, t_start: float) -> dict:
    import bench
    from check_exact import compare_exact
    from pg_datalake_spark import plans
    from pg_datalake_spark.catalog import load_tables
    from pg_datalake_spark.plans.registry import ORACLES, QUERIES
    from pg_datalake_spark.session import (
        build_session,
        cpu_count,
        shuffle_partitions_for,
    )

    tr = run.tracer
    warm = run.workload == "olap_warm"
    keys = list(bench.HEADLINE)
    data_bytes = sum(
        os.path.getsize(os.path.join(run.data_dir, f)) for f in os.listdir(run.data_dir)
    )
    with tr.span("session.build"):
        spark = build_session(
            "perfbench", shuffle_partitions=shuffle_partitions_for(data_bytes, cpu_count())
        )
    run.spark = spark
    with tr.span("plans.load_all"):
        plans.load_all()

    # Engine set-up, repeated on fresh sessions (cache dropped), each on
    # its own copy of the inputs so that every load is a first call;
    # set-up time = fixed start-up + median repetition.
    fixed_s = time.perf_counter() - t_start
    reps = []
    for i in range(SETUP_REPS):
        if i:
            spark.catalog.clearCache()
            spark = spark.newSession()
            run.fresh_inputs(i)
        t0 = time.perf_counter()
        with tr.span("setup", rep=i):
            _setup_once(run, spark, warm)
        reps.append(time.perf_counter() - t0)
    run.spark = spark
    setup_s = fixed_s + statistics.median(reps)
    run.log(f"set-up: start-up {fixed_s:.2f}s, engine set-ups {[round(r, 2) for r in reps]}")

    # Untimed verification pass: exact oracle check of every key; it
    # also fills the plan memo and compiles each query's code. Keys run
    # on a few client threads at once, since first executions are
    # dominated by driver-side planning and code generation.
    oracle_pool = ThreadPoolExecutor(max_workers=1)
    oracle = _oracles(run, keys, ORACLES, oracle_pool)

    def verify(k) -> tuple[str | None, str | None]:
        """(digest of the verified result, None) or (None, failure)."""
        try:
            pdf = QUERIES[k](spark, run.data_dir).toPandas()
        except Exception as e:  # noqa: BLE001 — a failing key is a result
            return None, f"{k}: verify raised {type(e).__name__}: {e}"
        try:
            want = oracle[k].result()
        except Exception as e:  # noqa: BLE001
            return None, f"{k}: oracle raised {type(e).__name__}: {e}"
        problems = compare_exact(pdf, want)
        if not len(pdf):
            problems.append("empty result")
        if problems:
            return None, f"{k}: oracle mismatch: {problems[:3]}"
        return digest(pdf), None

    with ThreadPoolExecutor(max_workers=VERIFY_THREADS) as pool:
        outcome = dict(zip(keys, pool.map(verify, keys)))
    oracle_pool.shutdown()
    checks = list(keys)
    ref = {k: d for k, (d, _) in outcome.items() if d is not None}
    check_failures = [e for _, e in outcome.values() if e is not None]
    run.log(f"verified {len(ref)}/{len(keys)} keys")

    # Timed passes, closed loop, seeded order.
    rng = random.Random(run.seed)
    sc = spark.sparkContext
    ops: list[Op] = []
    results = []
    op_ids = []
    passes = run.cycles(NOMINAL_PASS_S)
    for p in range(-WARM_PASSES, passes):
        timed = p >= 0  # the first pass runs serially once more, untimed
        for k in rng.sample(keys, len(keys)):
            op_id = f"p{p}.{k}"
            t0 = time.perf_counter()
            if timed:
                run.job_group(op_id)
            span = tr.span if timed else _no_span
            try:
                with span("op", key=k, family=family(k, QUERIES[k].__module__)):
                    with span("plans.build"):
                        df = QUERIES[k](spark, run.data_dir)
                    with span("plans.exec"):
                        pdf = df.toPandas()
                op = Op(k, time.perf_counter() - t0, batch=p)
                results.append((op, timed, pdf))
            except Exception as e:  # noqa: BLE001
                op = Op(k, time.perf_counter() - t0, False, f"{type(e).__name__}: {e}", p)
            if timed:
                ops.append(op)
                op_ids.append(op_id)
            else:
                checks.append(f"{k}: warm pass")
                if not op.ok:
                    check_failures.append(f"{k}: warm pass: {op.error}")
    tr.op = None
    run.log(f"timed {len(ops)} operations in {sum(op.seconds for op in ops):.2f}s")
    for op, timed, pdf in results:
        if op.kind not in ref or digest(pdf) != ref[op.kind]:
            op.ok = False
            op.error = "result differs from the verified result"
            if not timed:
                check_failures.append(f"{op.kind}: warm pass: {op.error}")

    e2e, info = end_to_end(ops)
    e2e = {"setup_s": (setup_s, "s"), **e2e}
    per_layer = {}
    if tr.enabled:
        # read after the loop: calls between operations would give the
        # engine idle time that the untraced run does not have
        counts = [_stage_counts(sc, op_id) for op_id in op_ids]
        for _ in range(5):
            with tr.span("catalog.load_tables_hit"):
                load_tables(spark, run.data_dir)
        per_layer = _per_layer(tr, keys, counts, passes)
        per_layer["trace.ops_per_s"] = e2e["ops_per_s"]
    return {
        "ops": ops,
        "checks": checks,
        "check_failures": check_failures,
        "end_to_end": e2e,
        "info": info,
        "per_layer": per_layer,
        "report_only": {"error_rate": (info["error_rate"], "ratio")},
    }


def _per_layer(tr, keys, counts, passes) -> dict:
    out = tr.layer_metrics(
        "session.build",
        "plans.load_all",
        "catalog.load_tables",
        "catalog.cache",
        "catalog.load_tables_hit",
    )
    # per key: durations of the op spans and of their build / exec children
    by_id = {s["id"]: s for s in tr.spans}
    per_key: dict[str, dict] = {}
    for s in tr.spans:
        if s["name"] in ("op", "plans.build", "plans.exec"):
            op = s if s["name"] == "op" else by_id[s["parent"]]
            d = per_key.setdefault(
                op["key"], {"family": op["family"], "op": [], "plans.build": [], "plans.exec": []}
            )
            d[s["name"]].append(s["end"] - s["start"])
    med = statistics.median
    out["plans.build_s"] = (sum(med(d["plans.build"]) for d in per_key.values()), "s")
    out["plans.exec_s"] = (sum(med(d["plans.exec"]) for d in per_key.values()), "s")
    for fam in FAMILIES:
        fam_s = sum(med(d["plans.exec"]) for d in per_key.values() if d["family"] == fam)
        out[f"{fam}.exec_s"] = (fam_s, "s")
    for k in keys:
        out[f"query.{k}.s"] = (med(per_key[k]["op"]) if k in per_key else 0.0, "s")
    for i, name in enumerate(("jobs", "stages", "tasks", "failed_tasks")):
        out[f"spark.{name}"] = (sum(c[i] for c in counts) / max(passes, 1), "count")
    return out
