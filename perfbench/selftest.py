#!/usr/bin/env python3
"""Self-test of the benchmark at toy size.

    python3 perfbench/selftest.py

Checks, for every workload in BENCHMARK.json:

* an untraced toy run is correct and emits every end-to-end metric, with
  the unit BENCHMARK.json gives it;
* a traced toy run emits every per-layer metric with its unit, and with
  each output check's expectation off by one (``--break``) every one of
  those checks fails and the run reports itself incorrect;

and that in a directory holding only BENCHMARK.json and the benchmark's
files, ``run.py`` exits non-zero without printing a result.  Takes a few
minutes on four cores; exits 1 on the first failure list it prints.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import CHECKS  # noqa: E402


def _run(args: list[str], cwd: str = ROOT) -> tuple[int, list[dict]]:
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )
    lines = []
    for line in p.stdout.splitlines():
        try:
            lines.append(json.loads(line))
        except ValueError:
            pass
    return p.returncode, lines


def _metrics_ok(result: dict, spec: list[dict], where: str) -> list[str]:
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v.get("unit") for k, v in result.get("metrics", {}).items()}
    errs = [f"{where}: missing {n}" for n in want if n not in got]
    errs += [f"{where}: unexpected {n}" for n in got if n not in want]
    errs += [f"{where}: {n} unit {got[n]!r} != {u!r}" for n, u in want.items() if n in got and got[n] != u]
    return errs


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    errors: list[str] = []
    for w in (x["name"] for x in spec["workloads"]):
        n_before = len(errors)
        base = ["--workload", w, "--seed", "7", "--seconds", "1", "--toy"]
        rc, lines = _run([*base, "--trace", "0"])
        res = lines[-1] if lines else {}
        if rc != 0 or not res.get("correct") or res.get("failed") != 0:
            errors.append(f"{w} trace 0: rc={rc} result={res} info={lines[:-1]}")
        errors += _metrics_ok(res, spec["end_to_end"], f"{w} trace 0")

        broken = CHECKS[w]
        rc, lines = _run([*base, "--trace", "1", "--break", ",".join(broken)])
        res = lines[-1] if lines else {}
        info = next((x["run_info"] for x in lines if "run_info" in x), {})
        errors += _metrics_ok(res, spec["per_layer"], f"{w} trace 1")
        for c in broken:
            if info.get("checks", {}).get(c) is not False:
                errors.append(f"{w}: check {c} did not fail when broken ({info.get('checks')})")
        if res.get("correct") is not False or res.get("failed", 0) < len(broken):
            errors.append(f"{w}: broken run not reported incorrect: {res.get('correct')}, failed={res.get('failed')}")
        print(f"selftest {w}: {'ok' if len(errors) == n_before else 'FAILED'}", flush=True)

    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
    rc, lines = _run(["--workload", spec["workloads"][0]["name"], "--seed", "1",
                      "--seconds", "1", "--trace", "0"], cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    if rc == 0 or any("correct" in x for x in lines):
        errors.append(f"bare directory: rc={rc}, printed {lines}")
    print(f"selftest bare directory: rc={rc}", flush=True)

    for e in errors:
        print("FAIL", e)
    print(json.dumps({"selftest_ok": not errors, "failures": len(errors)}))
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
