#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload manifest_ingest --seed 1 --seconds 45 --trace 0

Run from the repository root.  It starts a local Spark session on every
CPU the process may use, generates the workload's inputs from ``--seed``,
runs the workload against the engine's public functions, checks every
output, and prints as its last stdout line one JSON object:

    {"correct": bool, "attempted": n, "failed": n, "metrics": {name: {"value", "unit"}}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
same workload with spans around each call into the engine and reports the
per-layer metrics instead.  Each workload runs a fixed number of
operations, sized to take about 45 s on four cores; ``--seconds`` is
recorded in the run's info line but does not change the work, so that a
faster or slower phase never changes how many samples another metric
gets.  All scratch files live under ``.perfbench_work/`` in the
repository root and are removed at exit.

Self-test options (not used for measurement): ``--toy`` shrinks every
input; ``--break a,b`` offsets the named output checks' expectations by
one, so those checks must fail.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _args(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--toy", action="store_true")
    ap.add_argument("--break", dest="breaks", default="")
    return ap.parse_args(argv)


def _environment(work: str) -> None:
    """Everything the session and its workers write stays under ``work``;
    Python workers import the engine from the repository root."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [ROOT, HERE]


def _session(work: str):
    from agf_data_ingestion_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
            ),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # the tracer reads every job and stage of the run from the
            # status store after the timed phase
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and so its Python workers)
    to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def main(argv=None) -> int:
    a = _args(argv)
    missing = [
        p for p in ("agf_data_ingestion_spark", "fixtures/generate.py")
        if not os.path.exists(os.path.join(ROOT, p))
    ]
    if missing:
        print(f"perfbench: engine sources not found under {ROOT}: {missing}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    import measure
    import workloads as W

    if a.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}; one of {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    info = measure.run_info()
    b = None
    try:
        spark = _session(work)
        # the JVM's cold start happens once per process and is recorded, not
        # reported: set-up time is measured on warm restarts (Bench.setup)
        info["session_cold_s"] = time.time() - T_START
        b = W.Bench(
            spark, lambda: _session(work), bool(a.trace), work, a.seed, a.toy,
            frozenset(x for x in a.breaks.split(",") if x),
        )
        try:
            W.WORKLOADS[a.workload](b)
        except Exception as exc:  # noqa: BLE001 - report the run, do not lose it
            traceback.print_exc()
            b.attempted += 1
            b.failed += 1
            b.errors.append(f"workload aborted: {type(exc).__name__}: {exc}")
        b.layer["spark.cached_bytes_after"] = measure.cached_bytes(b.spark)
        tracer = b.tracer
        if tracer is not None and tracer.enabled:
            tracer.harvest()
            b.layer["trace.spans"] = len(tracer.spans)
        for name in W.MUST_FIRE[a.workload] if a.trace else ():
            b.attempted += 1
            if tracer is None or not tracer.fired(name):
                b.failed += 1
                b.checks["span_fired"] = False
                b.errors.append(f"span {name} never fired")
    finally:
        t_stop = time.time()
        if b is not None:
            _stop(b.spark)
        shutil.rmtree(work, ignore_errors=True)
        info["stop_s"] = time.time() - t_stop
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    names = W.PER_LAYER if a.trace else W.END_TO_END
    values = b.layer if a.trace else b.e2e
    metrics = {
        n: {"value": float(values.get(n, 0.0)), "unit": W.unit_of(n)} for n in names
    }
    info.update(
        wall_s=time.time() - T_START,
        # CPU the machine spent during the run, and how much of it was
        # this run's own process tree (the rest is other tenants' load)
        box_cpu_s=measure.box_cpu_s() - info["box_cpu_s"],
        own_cpu_s=measure.tree_cpu_s(),
        loadavg_after=list(os.getloadavg()),
        workload=a.workload, seed=a.seed, trace=a.trace,
        seconds=a.seconds, ops=b.timeline, samples=b.samples, checks=b.checks, errors=b.errors,
    )
    print(json.dumps({"run_info": info}))
    result = {
        "correct": b.failed == 0 and all(b.checks.values()),
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
