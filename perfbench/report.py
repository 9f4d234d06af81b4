#!/usr/bin/env python3
"""Tracing overhead and deterministic-count report for one workload.

    python3 perfbench/report.py --workload manifest_ingest --seed 1 --seconds 45

Runs the workload once untraced and twice traced with the same seed, one
run at a time.  Reports the tracing overhead (each traced run's wall time
of every operation against the untraced run's, from the ``run_info``
line) and, for every per-layer count or byte metric, whether the two
traced runs read exactly the same.  Only counts that repeat exactly can
carry a count-based claim.  The last stdout line is the report as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict, list]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900, check=True,
    )
    lines = p.stdout.splitlines()
    res, info = json.loads(lines[-1]), json.loads(lines[-2])["run_info"]
    if not res["correct"]:
        raise SystemExit(f"{workload} trace {trace} run incorrect: {res}")
    values = {k: v["value"] for k, v in res["metrics"].items()}
    units = {k: v["unit"] for k, v in res["metrics"].items()}
    return values, units, info["ops"]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=45)
    a = ap.parse_args()
    _, _, plain = _run(a.workload, a.seed, a.seconds, 0)
    t1, units, ops1 = _run(a.workload, a.seed, a.seconds, 1)
    t2, _, ops2 = _run(a.workload, a.seed, a.seconds, 1)
    untraced = sum(op[1] for op in plain)
    overhead = {
        "untraced_ops_s": untraced,
        "traced_ops_s": [sum(op[1] for op in ops) for ops in (ops1, ops2)],
        "per_op": [(u[0], u[1], x[1], y[1]) for u, x, y in zip(plain, ops1, ops2)],
    }
    counts = {
        n: {"run1": t1[n], "run2": t2[n], "exact": t1[n] == t2[n]}
        for n in t1
        if units[n] in ("count", "bytes") and not n.startswith("trace.")
    }
    print(f"overhead: operations took {untraced:.2f} s untraced, "
          f"{overhead['traced_ops_s'][0]:.2f} s and {overhead['traced_ops_s'][1]:.2f} s traced")
    for name, u, x, y in overhead["per_op"]:
        print(f"  {name}: {u:.3f} / {x:.3f} / {y:.3f} s")
    for n, c in counts.items():
        print(f"{'exact ' if c['exact'] else 'varies'} {n}: {c['run1']:g} / {c['run2']:g}")
    print(json.dumps({"workload": a.workload, "seed": a.seed, "overhead": overhead, "counts": counts}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
