"""Benchmark of the lake engine: one client, closed loop, fixed operation
counts. Run from the root of a checkout:

    python3 perfbench/run.py --workload olap_warm --seed 1 --seconds 15 --trace 0

Workloads (see perfbench/README.md): ``olap_warm``, ``olap_cold`` and
``lake_dml``. Inputs are generated from ``--seed`` into a run
directory under ``.perfbench/`` in the working directory, which is
removed when the run ends. ``--seconds`` sets the number of timed
passes (or DML cycles) as ``ceil(seconds / nominal_pass_s)``, so the
operation count is a fixed function of the arguments, never of the
machine's speed.

The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics derived from
in-memory spans (also written to ``.perfbench/traces/``). A human
readable report and the run environment go to stderr. The exit code is
non-zero when any output is wrong or any operation fails.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # noqa: E402  (set-up is timed from here)

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("olap_warm", "olap_cold", "lake_dml")

# Pinned engine resources: one core stays free for this client process
# and the JVM's GC and JIT threads; driver memory far below host RAM.
CPUS = 3
DRIVER_MEM = "2g"
# Input size: rows = TPC-H sf × 6M lineitem rows etc. (perfbench/datagen.py).
SF = 0.02


class Run:
    """Everything a workload needs: arguments, directories, tracer."""

    def __init__(self, args, work_dir: str) -> None:
        from tracer import Tracer

        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.work_dir = work_dir
        self.data_dir = os.path.join(work_dir, "data")
        self.tables_dir = os.path.join(work_dir, "tables")
        self.tracer = Tracer(bool(args.trace))
        self.spark = None
        self.sf = SF

    def log(self, msg: str) -> None:
        print(f"perfbench: [{time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr)

    def cycles(self, nominal_s: float) -> int:
        """The fewest whole passes that fill ``--seconds`` at the nominal
        pass length: a function of the arguments, not of the machine."""
        return max(1, math.ceil(self.seconds / nominal_s))

    def fresh_inputs(self, rep: int) -> None:
        """Point the run at a new copy of the inputs: the catalog has
        never seen its paths, so loading it is a first call again."""
        copy = os.path.join(self.work_dir, f"data-rep{rep}")
        shutil.copytree(os.path.join(self.work_dir, "data"), copy)
        self.data_dir = copy

    def job_group(self, op_id: str) -> None:
        """Tag the next Spark jobs with the operation id (traced runs)."""
        self.tracer.op = op_id
        if self.tracer.enabled:
            self.spark.sparkContext.setJobGroup(op_id, op_id)


def _pin_environment(work_dir: str) -> None:
    cpus = min(CPUS, os.cpu_count() or CPUS)
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_GRAFT_SF_DIR": os.path.join(work_dir, "data"),
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": tmp,
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_SUBMIT_ARGS": (
                f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
                "--conf spark.ui.showConsoleProgress=false pyspark-shell"
            ),
        }
    )


def _commit() -> str:
    """The git commit, or outside a git checkout a digest of the engine's
    sources."""
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
        if out.returncode == 0 and out.stdout.strip():
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    h = hashlib.sha256()
    for d, dirs, files in os.walk(os.path.join(ROOT, "pg_datalake_spark")):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return "sources-sha256:" + h.hexdigest()[:16]


def _stop_engine(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is None:
        return
    if proc.stdin:
        proc.stdin.close()  # the JVM exits on EOF from its parent
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _cpu_ticks() -> list[int]:
    """Aggregate CPU tick counters from /proc/stat (empty off Linux)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return []


def _steal_pct(before: list[int], after: list[int]) -> float | None:
    """Share of CPU time the hypervisor gave to other guests."""
    if len(before) < 8 or len(after) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    return round(100.0 * d[7] / max(sum(d), 1), 1)


def _format(v: float) -> str:
    return f"{v:.6g}"


def main() -> int:
    ap = argparse.ArgumentParser(description="lake engine benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # The engine and the headline key list come from the checkout.
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "scripts")]
    for need in ("BENCHMARK.json", "bench.py", "pg_datalake_spark/__init__.py",
                 "scripts/check_exact.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}", file=sys.stderr)
            return 2

    # on SIGTERM, unwind through the finally below: stop the JVM, clean up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    base = os.path.join(os.getcwd(), ".perfbench")
    work_dir = os.path.join(base, f"run-{args.workload}-s{args.seed}")
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    t_harness = time.perf_counter()  # harness work below is not set-up
    env = {
        "commit": _commit(),
        "nproc": os.cpu_count(),
        "loadavg_before": os.getloadavg(),
        "cpus": min(CPUS, os.cpu_count() or CPUS),
        "driver_mem": DRIVER_MEM,
        "sf": SF,
    }
    run = Run(args, work_dir)
    ticks = _cpu_ticks()
    result = None
    try:
        _pin_environment(work_dir)
        import datagen

        datagen.write(datagen.generate(args.seed, SF), run.data_dir)
        harness_s = time.perf_counter() - t_harness
        run.log(f"inputs generated in {harness_s:.2f}s (not set-up)")
        if args.workload == "lake_dml":
            import dml as workload
        else:
            import olap as workload
        # set-up starts at process start, less the harness's own work
        result = workload.run(run, T_START + harness_s)
    finally:
        if run.spark is not None:
            import pyspark

            env["spark_version"] = pyspark.__version__
            _stop_engine(run.spark)
        shutil.rmtree(work_dir, ignore_errors=True)
        if not os.listdir(base):
            os.rmdir(base)
    env["loadavg_after"] = os.getloadavg()
    env["cpu_steal_pct"] = _steal_pct(ticks, _cpu_ticks())

    ops = result["ops"]
    failed = sum(not op.ok for op in ops) + len(result["check_failures"])
    attempted = len(ops) + len(result["checks"])
    correct = failed == 0
    for msg in result["check_failures"] + [
        f"{op.kind}: {op.error}" for op in ops if not op.ok
    ]:
        print(f"perfbench: FAILED {msg}", file=sys.stderr)

    e2e, info = result["end_to_end"], result["info"]
    layer = result["per_layer"]
    print(f"perfbench: env {json.dumps(env)}", file=sys.stderr)
    print(f"perfbench: {args.workload} seed={args.seed} ops={len(ops)} "
          f"error_rate={info['error_rate']:.4g} "
          f"op_tail=p{info.get('op_tail_p', 0):.4g} of n={info.get('op_tail_n', 0)}",
          file=sys.stderr)
    for name, (value, unit) in {**e2e, **result["report_only"]}.items():
        print(f"perfbench:   {name:<14} {_format(value):>12} {unit}", file=sys.stderr)

    if args.trace:
        trace_dir = os.path.join(base, "traces")
        os.makedirs(trace_dir, exist_ok=True)  # kept: the trace outlives the run
        run.tracer.write(
            os.path.join(trace_dir, f"{args.workload}-s{args.seed}.json"),
            {**env, "workload": args.workload, "seed": args.seed, "info": info},
        )
        # the per-layer metrics BENCHMARK.json lists; a layer the
        # workload does not reach reads 0
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            listed = json.load(f)["per_layer"]
        shown = {m["name"]: layer.get(m["name"], (0.0, m["unit"])) for m in listed}
        for name in sorted(set(layer) - {m["name"] for m in listed}):
            print(f"perfbench:   {name:<32} {_format(layer[name][0]):>12} {layer[name][1]}",
                  file=sys.stderr)
    else:
        shown = e2e
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
