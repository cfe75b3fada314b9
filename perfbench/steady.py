"""Steadiness self-check: run each workload repeatedly on one commit and
print, for every end-to-end metric, the median and quartiles of the runs
next to the bound ``BENCHMARK.json`` fixes for it.

    python3 perfbench/steady.py                      # every workload, 10 seeds
    python3 perfbench/steady.py --workload lake_dml --runs 5
    python3 perfbench/steady.py --repeat-check       # traced runs, fixed seed

The spread is the distance between the first and third quartile as a
share of the median (``statistics.quantiles(values, n=4)``); a metric is
steady when its spread is below its bound (``setup_s`` is exempt: only
its median is compared between commits). ``--repeat-check`` runs each
workload traced, twice on one seed: the byte and file counts must repeat
exactly, and the run reports the tracing overhead as the difference of
its ``ops_per_s`` from the untraced median. Every run is a fresh
process; exits non-zero when any run is incorrect or a check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EXACT = ("tables.bytes_written", "tables.files_written", "tables.metadata_bytes")


def _run(spec: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = list(spec["command"]) + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]), "--trace", str(trace),
    ]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = out.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if lines else {"correct": False, "metrics": {}}
    if out.returncode != 0 or not res.get("correct"):
        sys.stderr.write(out.stderr[-4000:])
        res["correct"] = False
    return res


def _spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", action="append")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--repeat-check", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    ok = True
    for wl in workloads:
        if args.repeat_check:
            ok &= _repeat_check(spec, wl, args.first_seed)
            continue
        runs = []
        for i in range(args.runs):
            res = _run(spec, wl, args.first_seed + i, 0)
            ok &= bool(res["correct"])
            runs.append(res["metrics"])
            print(f"{wl} seed={args.first_seed + i} correct={res['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  flush=True)
        print(f"\n{wl}: {args.runs} runs")
        print(f"  {'metric':<14} {'median':>10} {'q1':>10} {'q3':>10} {'spread':>8} {'bound':>7}")
        for m in spec["end_to_end"]:
            values = [r[m["name"]]["value"] for r in runs if m["name"] in r]
            if len(values) < 2:
                print(f"  {m['name']:<14} missing")
                ok = False
                continue
            med, q1, q3, spread = _spread(values)
            # setup_s: only its median is compared between commits
            gated = m["name"] != "setup_s"
            steady = spread < m["bound"]
            ok &= steady or not gated
            mark = "" if steady else "TOO NOISY" + ("" if gated else " (not gated)")
            print(f"  {m['name']:<14} {med:>10.4g} {q1:>10.4g} {q3:>10.4g} "
                  f"{spread:>8.3f} {m['bound']:>7.3f} {mark}")
        print(flush=True)
    return 0 if ok else 1


def _repeat_check(spec: dict, wl: str, seed: int) -> bool:
    untraced = _run(spec, wl, seed, 0)
    traced = [_run(spec, wl, seed, 1) for _ in range(2)]
    ok = untraced["correct"] and all(t["correct"] for t in traced)
    for name in EXACT:
        vals = [t["metrics"].get(name, {}).get("value") for t in traced]
        same = vals[0] == vals[1]
        ok &= same
        print(f"{wl} {name}: {vals} {'repeats' if same else 'DIFFERS'}")
    base = untraced["metrics"]["ops_per_s"]["value"]
    for t in traced:
        v = t["metrics"]["trace.ops_per_s"]["value"]
        print(f"{wl} tracing overhead: ops_per_s {base:.4g} untraced, {v:.4g} traced "
              f"({(base - v) / base:+.1%})")
    return ok


if __name__ == "__main__":
    sys.exit(main())
