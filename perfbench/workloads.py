"""The benchmark's workloads.  Each is a closed loop with one client that
calls the engine's public functions on seeded inputs, runs a fixed number
of operations, checks every output, and records its end-to-end and
per-layer metrics on the ``Bench``.

``manifest_ingest``  the reference's traffic: bulk backfill of a manifest
                     history, a zero-insert replay, a trickle of small
                     landings through the two streaming queries, and a
                     repeated storage/table audit after planted drift;
                     then the catalog's star-schema queries.
``curate_release``   the LLM-curation extension: publish a release, append
                     a new document batch, verify the release and diff it
                     against the first publish; then the catalog's
                     document and embedding queries.

Both report the same end-to-end names (METRICS.md maps them per workload)
and the same per-layer names; a layer a workload never calls reads 0.
"""

from __future__ import annotations

import collections
import datetime as dt
import os
import random
import time
from dataclasses import dataclass, field

import inputs
from measure import Tracer, median, tree_cpu_s

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NOW = dt.datetime(2024, 6, 1)
SETUP_REPS = 3
#: fixed operation counts, small to fit the run budget (METRICS.md).  The
#: first trigger and the first audit are warm-ups: they pay first-use costs
#: in the process and are checked like the others, but left out of the
#: metrics.  An append shows no first-use cost at this size.
TRIGGERS, AUDITS, APPENDS = 1 + 1, 1 + 1, 1
#: each workload's share of the catalog mix: the star-schema queries, and
#: the document and embedding queries next to the curation they serve
MIX = {
    "manifest_ingest": ("q9_product_profit", "q18_large_orders"),
    "curate_release": ("emb_ivf_topk", "docs_bpe_train"),
}
MIX_MODULES = {
    "q9_product_profit": "tpch_more",
    "q18_large_orders": "tpch_extra",
    "emb_ivf_topk": "similarity",
    "docs_bpe_train": "lm",
}
INGEST_TABLES = ("sync_runs", "experiments", "file_inventory")
FULL_STAGES = (
    "input", "rule_gate", "exact_dedup", "neardup", "decontam", "quality_cut",
    "doremi_weights", "wfq_shards", "publish", "txn_read_verify",
)
APPEND_STAGES = (
    "batch_input", "rule_gate", "exact_dedup", "neardup", "decontam",
    "quality_cut", "wfq_shards", "publish",
)

#: walls swing with other tenants' load on a shared box, so the operations'
#: end-to-end figures are CPU seconds and their walls are per-layer
#: (METRICS.md, "Why CPU seconds")
END_TO_END = ("setup_s", "bulk_cpu_s", "trigger_cpu_s", "audit_cpu_s", "mix_cpu_s")
PER_LAYER = (
    "streaming.ingest_stream.backfill_wall_s",
    "streaming.ingest_stream.backfill_jobs",
    "streaming.ingest_stream.backfill_shuffle_bytes",
    "streaming.ingest_stream.backfill_input_bytes",
    "streaming.ingest_stream.replay_s",
    "streaming.ingest_stream.replay_jobs",
    "streaming.ingest_stream.replay_shuffle_bytes",
    "streaming.ingest_stream.replay_input_bytes",
    "streaming.ingest_stream.trigger_jobs",
    "streaming.ingest_stream.trigger_tasks",
    "streaming.ingest_stream.trigger_driver_s",
    "streaming.ingest_stream.trigger_wall_s",
    "sources.snapshots.commit_calls",
    "sources.snapshots.commit_s",
    "sources.snapshots.commit_jobs",
    "sources.snapshots.commit_growth",
    "sources.snapshots.commit_first_quarter_s",
    "sources.snapshots.commit_last_quarter_s",
    "sources.snapshots.publish_calls",
    "sources.snapshots.publish_s",
    "sources.snapshots.publish_jobs",
    "sources.snapshots.read_calls",
    "sources.snapshots.metadata_files",
    "sources.snapshots.metadata_bytes",
    "sources.snapshots.data_files",
    "operators.ingest.rows_out.sync_runs",
    "operators.ingest.rows_out.experiments",
    "operators.ingest.rows_out.file_inventory",
    "operators.ingest.quarantined_rows",
    *(f"operators.ingest.collision_keys.{t}" for t in INGEST_TABLES),
    "operators.reconcile.wall_s",
    "operators.reconcile.jobs",
    "operators.reconcile.keys_listed",
    "operators.reconcile.shuffle_bytes",
    "operators.curation.full.wall_s",
    "operators.curation.full.jobs",
    "operators.curation.full.tasks",
    "operators.curation.full.shuffle_bytes",
    "operators.curation.full.exec_cpu_s",
    "operators.curation.full.driver_s",
    *(f"operators.curation.full.stage.{s}.wall_s" for s in FULL_STAGES),
    "operators.curation.append.jobs",
    "operators.curation.append.tasks",
    "operators.curation.append.shuffle_bytes",
    "operators.curation.append.driver_s",
    "operators.curation.append.wall_s",
    "operators.curation.append.rows_in",
    "operators.curation.append.rows_published",
    *(f"operators.curation.append.stage.{s}.wall_s" for s in APPEND_STAGES),
    "operators.curation.release_diff.wall_s",
    "operators.curation.release_diff.jobs",
    "operators.curation.verify.wall_s",
    "operators.curation.verify.jobs",
    *(
        f"plans.{m}.{q}.{k}"
        for q, m in MIX_MODULES.items()
        for k in ("wall_s", "jobs", "shuffle_bytes", "exec_cpu_s")
    ),
    "spark.cached_bytes_after",
    "trace.spans",
)


def unit_of(name: str) -> str:
    if name.endswith("_bytes") or name.endswith("bytes_after"):
        return "bytes"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_growth"):
        return "ratio"
    return "count"


class CheckFailed(Exception):
    pass


@dataclass
class Bench:
    """One run's context: the session and how to start a fresh one, the
    tracer, scratch space, seed and sizes, plus what the result line
    reports: the operation/check ledger and the metrics, filled in as the
    workload goes."""

    spark: object
    new_session: object
    trace: bool
    work: str
    seed: int
    toy: bool
    breaks: frozenset
    tracer: Tracer | None = None
    attempted: int = 0
    failed: int = 0
    checks: dict = field(default_factory=dict)
    errors: list = field(default_factory=list)
    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    timeline: list = field(default_factory=list)
    samples: dict = field(default_factory=dict)

    def setup(self, make_inputs):
        """Set up ``SETUP_REPS`` times: stop the session, start a fresh one
        in the running JVM, then ``make_inputs()`` generates the inputs.
        ``setup_s`` is the median; the last set-up's session and inputs are
        the ones the workload uses."""
        walls = []
        for _ in range(SETUP_REPS):
            self.spark.stop()
            t0 = time.time()
            self.spark = self.new_session()
            out = make_inputs()
            walls.append(time.time() - t0)
        self.e2e["setup_s"] = median(walls)
        self.samples["setup_s"] = walls
        self.tracer = Tracer(self.spark, self.trace)
        return out

    def dir(self, name: str) -> str:
        return inputs.fresh_dir(os.path.join(self.work, name))

    def op(self, name: str):
        return _Op(self, name)

    def off(self, check: str) -> int:
        """1 when the self-test asked this check's expectation to be off by
        one (``--break``), else 0."""
        return 1 if check in self.breaks else 0

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks[name] = self.checks.get(name, True) and bool(ok)
        if not ok:
            raise CheckFailed(f"{name}: {detail}")


class _Op:
    """One attempted operation: an exception or a failed check inside it
    counts it as failed; the run goes on."""

    def __init__(self, bench: Bench, name: str):
        self.bench, self.name = bench, name

    def __enter__(self):
        self.bench.attempted += 1
        self.t0, self.cpu0 = time.time(), tree_cpu_s()
        return self

    def __exit__(self, exc_type, exc, tb):
        self.wall_s = time.time() - self.t0
        self.cpu_s = tree_cpu_s() - self.cpu0
        self.bench.timeline.append((self.name, round(self.wall_s, 3), round(self.cpu_s, 2)))
        if exc_type is None:
            return False
        if not issubclass(exc_type, Exception):
            return False
        import traceback

        self.bench.failed += 1
        self.bench.errors.append(f"{self.name}: {exc_type.__name__}: {exc}")
        traceback.print_exception(exc_type, exc, tb, limit=4)
        return True


def _span_costs(tr: Tracer, name: str) -> list[dict]:
    return [tr.cost(s) for s in tr.named(name)]


def _med(costs: list[dict], key: str) -> float:
    return median([c[key] for c in costs]) if costs else 0.0


def _table_files(tables: list[str]) -> dict:
    meta_files = meta_bytes = data_files = 0
    for t in tables:
        for dirpath, _, files in os.walk(t):
            for f in files:
                if f.startswith(".") or f.endswith(".crc"):
                    continue
                if "_snapshots" in dirpath.split(os.sep):
                    meta_files += 1
                    meta_bytes += os.path.getsize(os.path.join(dirpath, f))
                elif f.endswith(".parquet"):
                    data_files += 1
    return {
        "sources.snapshots.metadata_files": meta_files,
        "sources.snapshots.metadata_bytes": meta_bytes,
        "sources.snapshots.data_files": data_files,
    }


def _commit_layer(tr: Tracer, upserts: list[dict], trickle_ids: set) -> dict:
    """Per-call cost of ``snapshot_upsert``, and how the trickle's commit
    time grew: median of its last quarter of calls over its first."""
    costs = [tr.cost(s) for s in upserts]
    trickle = [c["wall_s"] for s, c in zip(upserts, costs) if s["id"] in trickle_ids]
    q = max(1, len(trickle) // 4)
    first, last = median(trickle[:q]), median(trickle[-q:])
    return {
        "sources.snapshots.commit_calls": len(upserts),
        "sources.snapshots.commit_s": _med(costs, "wall_s"),
        "sources.snapshots.commit_jobs": _med(costs, "jobs"),
        "sources.snapshots.commit_first_quarter_s": first,
        "sources.snapshots.commit_last_quarter_s": last,
        "sources.snapshots.commit_growth": last / first,
    }


def _embedding_dim() -> int:
    """The embedding length the similarity queries and their oracles are
    built for (read from the engine's testdata when present, else 64)."""
    from agf_data_ingestion_spark.plans.similarity import _DIM

    return _DIM


def catalog_mix(b: Bench, sf: str, queries: tuple[str, ...]) -> None:
    """One pass over ``queries`` of the engine's catalog on the generated
    tables in ``sf``.  Each query runs with the cache cleared and its result
    collected; the collect is timed.  Outside the timer the result is
    compared with the query's DuckDB oracle (``__spark_entry__.oracle_sql()``)
    in the canonical form of ``scripts/check_oracle.py``.  ``mix_cpu_s`` is
    the process tree's CPU over the timed parts."""
    import importlib.util

    import duckdb

    import __spark_entry__ as E

    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "scripts", "check_oracle.py")
    )
    check_oracle = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check_oracle)
    fns, oracles = E.queries(), E.oracle_sql()
    con = duckdb.connect()
    for t in inputs.CATALOG_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    tr, wall, cpu = b.tracer, 0.0, 0.0
    for q in queries:
        with b.op("query"):
            b.spark.catalog.clearCache()
            with tr.span(f"plans.{MIX_MODULES[q]}.{q}"):
                t0, c0 = time.time(), tree_cpu_s()
                got = fns[q](b.spark, sf).toPandas()
                wall += time.time() - t0
                cpu += tree_cpu_s() - c0
            want = con.execute(oracles[q]).fetchdf()
            n_want = len(want) + b.off("catalog_oracle")
            same = (
                len(got) == n_want
                and sorted(got.columns) == sorted(want.columns)
                and check_oracle._canon(got).equals(check_oracle._canon(want))
            )
            b.check("catalog_oracle", same, f"{q}: {len(got)} rows vs {n_want} from the oracle")
    con.close()
    b.e2e["mix_cpu_s"] = cpu
    b.samples["mix_pass_s"] = wall
    if tr.enabled:
        for q in queries:
            name = f"plans.{MIX_MODULES[q]}.{q}"
            c = tr.cost(tr.named(name)[0])
            for k in ("wall_s", "jobs", "shuffle_bytes", "exec_cpu_s"):
                b.layer[f"{name}.{k}"] = c[k]


# ---------------------------------------------------------------------------
# manifest_ingest
# ---------------------------------------------------------------------------


def _canon_rows(df) -> list[tuple]:
    """Order-insensitive, type-faithful row multiset of a small table (maps
    as sorted item lists, so equal maps compare equal)."""
    def canon(v):
        if isinstance(v, dict):
            return tuple(sorted((k, canon(x)) for k, x in v.items()))
        if isinstance(v, (list, tuple)):  # arrays, and structs (Row)
            return tuple(canon(x) for x in v)
        return (type(v).__name__, repr(v))

    cols = sorted(df.columns)
    return sorted(tuple(canon(r[c]) for c in cols) for r in df.select(*cols).collect())


def _candidate_rows(spark, lake: str) -> dict:
    """Every row the lake's valid manifests produce per table, before the
    keyed sink picks one row per key (the engine's batch functions)."""
    from agf_data_ingestion_spark.operators import ingest as I
    from agf_data_ingestion_spark.sources.manifests import (
        read_experiment_manifests,
        read_run_manifests,
    )
    from agf_data_ingestion_spark.streaming.ingest_stream import EXP_REQUIRED, RUN_REQUIRED

    runs, _ = I.split_valid(read_run_manifests(spark, lake), required=RUN_REQUIRED)
    exps, _ = I.split_valid(read_experiment_manifests(spark, lake), required=EXP_REQUIRED)
    inv_r, _ = I.quarantine_bad_checksums(I.file_inventory_from_run_manifests(runs, now=NOW))
    inv_e, _ = I.quarantine_bad_checksums(I.file_inventory_from_experiment_manifests(exps, now=NOW))
    return {
        "sync_runs": I.sync_runs_from_run_manifests(runs, now=NOW),
        "experiments": I.experiments_from_manifests(exps, now=NOW),
        "file_inventory": inv_r.unionByName(inv_e),
    }


def manifest_ingest(b: Bench) -> None:
    from agf_data_ingestion_spark import schemas
    from agf_data_ingestion_spark.operators import reconcile as R
    from agf_data_ingestion_spark.sources import snapshots
    from agf_data_ingestion_spark.streaming import ingest_stream as S

    # 3 instruments x 12 days x 2 runs: days 1-6 are the history (36 runs,
    # 72 manifests); the trickle lands some of the rest
    inst, days, per_day, batch = (2, 6, 2, 2) if b.toy else (3, 12, 2, 3)
    n_loose, n_orders = (40, 300) if b.toy else (1000, 1500)

    def make_inputs():
        stage, lake, sf = b.dir("stage"), b.dir("lake"), b.dir("catalog")
        runs = inputs.manifest_lake(stage, b.seed, inst, days, per_day)
        for r in runs[: len(runs) // 2]:
            inputs.land(r, stage, lake)
        inputs.catalog_tables(sf, b.seed, n_orders, _embedding_dim())
        return stage, lake, runs, sf

    stage, lake, runs, sf = b.setup(make_inputs)
    spark, tr = b.spark, b.tracer
    split = len(runs) // 2
    pool = runs[split:]
    rng = random.Random(b.seed)
    wh, ck = b.dir("wh"), b.dir("ck")
    tables = [os.path.join(wh, t) for t in INGEST_TABLES]
    restore = tr.wrap_module(
        snapshots, ["snapshot_upsert", "snapshot_read"], "sources.snapshots"
    )
    e2e, layer = b.e2e, b.layer
    try:
        # 1. bulk backfill of the history
        with b.op("bulk") as op:
            with tr.window("streaming.ingest_stream.backfill"):
                S.backfill(spark, lake, wh, ck, now=NOW, sink="snapshot")
        e2e["bulk_cpu_s"] = op.cpu_s
        layer["streaming.ingest_stream.backfill_wall_s"] = op.wall_s

        # 2. replay of the same history with a fresh checkpoint: no inserts
        before = {t: snapshots.current_version(t) for t in tables}
        with b.op("replay") as op:
            with tr.window("streaming.ingest_stream.replay"):
                S.backfill(spark, lake, wh, b.dir("ck_replay"), now=NOW, sink="snapshot")
            after = {t: snapshots.current_version(t) for t in tables}
            moved = sum(after[t] != before[t] for t in tables)
            b.check("replay_inserts_nothing", moved == b.off("replay_inserts_nothing"),
                    f"{moved} tables gained a version")
        layer["streaming.ingest_stream.replay_s"] = op.wall_s

        # 3. trickle: each trigger lands `batch` new runs plus one
        # byte-identical re-delivery, then runs both queries to completion
        # (Trigger.AvailableNow, one after the other, as backfill does) on
        # the bulk step's checkpoint.  See METRICS.md ("Trickle") for why
        # the queries do not run continuously.
        landed = [inputs.lake_path(r, stage, lake) for r in runs[:split]]
        fresh, cpu, windows = [], [], []
        for i in range(TRIGGERS):
            new = pool[i * batch : (i + 1) * batch]
            again = rng.choice(landed)
            with b.op("trigger") as op:
                with tr.window("streaming.ingest_stream.trigger") as w:
                    for r in new:
                        inputs.land(r, stage, lake)
                    inputs.redeliver(again)
                    for start in (S.start_run_ingest, S.start_experiment_ingest):
                        start(
                            spark, lake, wh, ck, available_now=True, now=NOW, sink="snapshot"
                        ).awaitTermination()
            landed += [inputs.lake_path(r, stage, lake) for r in new]
            if w is not None:
                windows.append(w)
            fresh.append(op.wall_s)
            cpu.append(op.cpu_s)
        e2e["trigger_cpu_s"] = median(cpu[1:])
        layer["streaming.ingest_stream.trigger_wall_s"] = median(fresh[1:])
        b.samples["freshness_s"] = fresh
        for t in INGEST_TABLES:
            layer[f"operators.ingest.rows_out.{t}"] = snapshots.snapshot_rowcount(
                os.path.join(wh, t)
            )
        layer["operators.ingest.quarantined_rows"] = _parquet_rows(os.path.join(wh, "quarantine"))

        # every trickled row is one the lake's valid manifests produce, and
        # the tables hold exactly one row for each key those manifests
        # produce.  A key two manifests produce with different rows keeps
        # the first writer's row, so which row wins depends on landing order;
        # those keys are counted (collision_keys), not compared by value.
        with b.op("check_trickle"):
            cands = _candidate_rows(spark, lake)
            sink_keys = {
                "sync_runs": schemas.SYNC_RUNS_KEYS,
                "experiments": schemas.EXPERIMENTS_KEYS,
                "file_inventory": schemas.FILE_INVENTORY_KEYS,
            }
            for t, keys in sink_keys.items():
                got_df = snapshots.snapshot_read(spark, os.path.join(wh, t))
                cols = sorted(got_df.columns)
                got = _canon_rows(got_df)
                cand = set(_canon_rows(cands[t].select(*cols)))
                kix = [cols.index(k) for k in keys]
                per_key = collections.Counter(tuple(r[i] for i in kix) for r in cand)
                layer[f"operators.ingest.collision_keys.{t}"] = sum(n > 1 for n in per_key.values())
                got_keys = {tuple(r[i] for i in kix) for r in got}
                n_want = len(per_key) - b.off("trickle_matches_manifests")
                stray = [r for r in got if r not in cand]
                b.check(
                    "trickle_matches_manifests",
                    len(got_keys) == len(got) == n_want and got_keys <= set(per_key) and not stray,
                    f"{t}: {len(got)} rows, {len(got_keys)} keys, {n_want} manifest keys, "
                    f"{len(stray)} rows no manifest produces",
                )

        # 4. audit after planted drift, repeated.  Loose files nobody tracks
        # give the listing and the anti-joins bulk.  The expected counts
        # come from the lake's files and the tables' tracked keys, read here
        # directly: before the drift they are the baseline, after it they
        # must have moved by exactly the planted drift.
        def audit():
            tabs = {t: snapshots.snapshot_read(spark, os.path.join(wh, t)) for t in INGEST_TABLES}
            return R.reconcile(R.list_storage_keys(spark, lake), R.tracked_keys(tabs))

        tracked = _tracked_keys(spark, snapshots, wh)
        tracked_runs = sorted(
            k for k in tracked if k.endswith("/run.json") and os.path.exists(os.path.join(lake, k))
        )
        for i in range(n_loose):
            run_dir = os.path.dirname(rng.choice(tracked_runs))
            with open(os.path.join(lake, run_dir, f"loose_{i}.dat"), "wb") as fh:
                fh.write(b"x")
        base = _orphans(lake, tracked)
        k_storage, k_db = 3, 2
        for i, key in enumerate(rng.sample(tracked_runs, k_storage)):
            with open(os.path.join(lake, os.path.dirname(key), f"stray_{i}.bin"), "wb") as fh:
                fh.write(b"x")
        for key in rng.sample(tracked_runs, k_db):
            os.remove(os.path.join(lake, key))
        want = _orphans(lake, tracked)
        if (want["only_storage"], want["only_db"]) != (
            base["only_storage"] + k_storage, base["only_db"] + k_db
        ):
            raise RuntimeError(f"planted drift not as intended: {base} -> {want}")
        walls, cpus, costs = [], [], []
        for _ in range(AUDITS):
            with b.op("audit") as op:
                with tr.span("operators.reconcile.audit") as s:
                    res = audit()
                got = (res.storage_count, res.tracked_count, res.orphaned_in_storage, res.orphaned_in_db)
                exp = (want["storage"], len(tracked),
                       want["only_storage"] + b.off("audit_drift"), want["only_db"])
                b.check("audit_drift", got == exp,
                        f"(listed, tracked, storage-only, table-only) {got} vs {exp}")
            walls.append(op.wall_s)
            cpus.append(op.cpu_s)
            if s is not None:
                costs.append(s)
        e2e["audit_cpu_s"] = median(cpus[1:])
        b.samples["audit_s"] = walls
        layer["operators.reconcile.keys_listed"] = res.storage_count
    finally:
        restore()

    # 5. the catalog's star-schema queries
    catalog_mix(b, sf, MIX["manifest_ingest"])

    if tr.enabled:
        bf = tr.cost(tr.named("streaming.ingest_stream.backfill")[0])
        rp = tr.cost(tr.named("streaming.ingest_stream.replay")[0])
        for tag, c in (("backfill", bf), ("replay", rp)):
            layer[f"streaming.ingest_stream.{tag}_jobs"] = c["jobs"]
            layer[f"streaming.ingest_stream.{tag}_shuffle_bytes"] = c["shuffle_bytes"]
            layer[f"streaming.ingest_stream.{tag}_input_bytes"] = c["input_bytes"]
        tc = [tr.cost(w) for w in windows[1:]]
        layer["streaming.ingest_stream.trigger_jobs"] = _med(tc, "jobs")
        layer["streaming.ingest_stream.trigger_tasks"] = _med(tc, "tasks")
        layer["streaming.ingest_stream.trigger_driver_s"] = _med(tc, "driver_s")
        upserts = tr.named("sources.snapshots.snapshot_upsert")
        in_trickle = {
            s["id"] for s in upserts
            if any(w["start"] <= s["start"] <= w["end"] for w in windows)
        }
        layer.update(_commit_layer(tr, upserts, in_trickle))
        layer["sources.snapshots.read_calls"] = tr.fired("sources.snapshots.snapshot_read")
        rc = [tr.cost(s) for s in costs[1:]]
        layer["operators.reconcile.wall_s"] = _med(rc, "wall_s")
        layer["operators.reconcile.jobs"] = _med(rc, "jobs")
        layer["operators.reconcile.shuffle_bytes"] = _med(rc, "shuffle_bytes")
    layer.update(_table_files(tables))


def _tracked_keys(spark, snapshots, wh: str) -> set[str]:
    from agf_data_ingestion_spark.operators.reconcile import TRACKED_KEY_SOURCES

    keys: set[str] = set()
    for t, (col, _) in TRACKED_KEY_SOURCES.items():
        rows = snapshots.snapshot_read(spark, os.path.join(wh, t)).select(col).collect()
        keys.update(r[0] for r in rows if r[0] is not None)
    return keys


def _orphans(lake: str, tracked: set[str]) -> dict:
    """Storage keys under ``raw/`` (Spark's listing skips names starting
    with '.' or '_') against the tracked keys, counted both ways."""
    stored = set()
    for dirpath, _, files in os.walk(os.path.join(lake, "raw")):
        stored.update(
            os.path.relpath(os.path.join(dirpath, f), lake)
            for f in files
            if not f.startswith((".", "_"))
        )
    return {
        "storage": len(stored),
        "only_storage": len(stored - tracked),
        "only_db": len(tracked - stored),
    }


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    if not os.path.isdir(path):
        return 0
    return sum(
        pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


# ---------------------------------------------------------------------------
# curate_release
# ---------------------------------------------------------------------------


def curate_release(b: Bench) -> None:
    from pyspark.sql import functions as F

    from agf_data_ingestion_spark.operators import curation as C
    from agf_data_ingestion_spark.sources import snapshots

    n_docs, n_batch, n_windows, n_orders = (200, 100, 8, 300) if b.toy else (600, 250, 8, 1500)

    # the release corpus, the document stream appends draw from, and the
    # catalog's tables
    def make_inputs():
        sf, cat = b.dir("sf"), b.dir("catalog")
        inputs.write_documents(sf, b.seed, n_docs)
        stream = inputs.write_documents(b.dir("stream"), b.seed + 1, n_batch * n_windows)
        inputs.catalog_tables(cat, b.seed, n_orders, _embedding_dim())
        return sf, stream, cat

    sf, stream_path, cat = b.setup(make_inputs)
    spark, tr = b.spark, b.tracer
    # the seed picks each append's window of the stream; ids are shifted
    # past the release's, as bench.py does
    windows = random.Random(b.seed).sample(range(n_windows), APPENDS)
    docs = spark.read.parquet(stream_path)

    def batch(w: int):
        return docs.filter(
            (F.col("doc_id") >= w * n_batch) & (F.col("doc_id") < (w + 1) * n_batch)
        ).withColumn("doc_id", F.col("doc_id") + F.lit(10_000_000))

    out = os.path.join(b.work, "release")
    restore = tr.wrap_module(
        snapshots, ["snapshot_multi_write", "snapshot_read"], "sources.snapshots"
    )
    e2e, layer = b.e2e, b.layer
    reps: list = []
    try:
        with b.op("bulk") as op:
            with tr.span("operators.curation.curate_full"):
                full = C.curate_full(spark, sf, out, budget_tokens=4000)
        e2e["bulk_cpu_s"] = op.cpu_s
        layer["operators.curation.full.wall_s"] = op.wall_s
        n_published = next(s["rows_out"] for s in full["stages"] if s["name"] == "publish")

        walls, cpu = [], []
        for i, w in enumerate(windows):
            with b.op("append") as op:
                with tr.span("operators.curation.curate_incremental"):
                    reps.append(C.curate_incremental(spark, batch(w), out, batch_label=f"b{i}"))
            walls.append(op.wall_s)
            cpu.append(op.cpu_s)
        e2e["trigger_cpu_s"] = median(cpu)
        layer["operators.curation.append.wall_s"] = median(walls)
        b.samples["append_s"] = walls

        with b.op("verify") as op:
            with tr.span("operators.curation.verify_release"):
                v = C.verify_release(spark, out)
            ok = v["ok"] and v["counts"]["docs"] == reps[-1]["total_rows"]
            b.check("verify_release", ok != bool(b.off("verify_release")),
                    f"{v['checks']} docs={v['counts']['docs']}")
        e2e["audit_cpu_s"] = op.cpu_s

        with b.op("diff"):
            with tr.span("operators.curation.release_diff"):
                diff = C.release_diff(spark, out, full["txn"]["id"], reps[-1]["txn"]["id"]).collect()
            got = {(r["section"], r["key"]): r["delta"] for r in diff}
            want = reps[-1]["total_rows"] - n_published + b.off("release_diff_total")
            b.check("release_diff_total", got.get(("total", "docs")) == want,
                    f"diff docs delta {got.get(('total', 'docs'))} vs {want}")
    finally:
        restore()

    # the catalog's document and embedding queries
    catalog_mix(b, cat, MIX["curate_release"])

    layer["operators.curation.append.rows_in"] = n_batch
    if reps:
        layer["operators.curation.append.rows_published"] = median(
            [r["total_rows"] - p for r, p in zip(reps, [n_published] + [x["total_rows"] for x in reps])]
        )
    if tr.enabled:
        fc = tr.cost(tr.named("operators.curation.curate_full")[0])
        for k in ("jobs", "tasks", "shuffle_bytes", "exec_cpu_s", "driver_s"):
            layer[f"operators.curation.full.{k}"] = fc[k]
        for s in full["stages"]:
            layer[f"operators.curation.full.stage.{s['name']}.wall_s"] = s["wall_s"]
        ac = _span_costs(tr, "operators.curation.curate_incremental")
        for k in ("jobs", "tasks", "shuffle_bytes", "driver_s"):
            layer[f"operators.curation.append.{k}"] = _med(ac, k)
        for name in APPEND_STAGES:
            layer[f"operators.curation.append.stage.{name}.wall_s"] = median(
                [next((s["wall_s"] for s in r["stages"] if s["name"] == name), 0.0) for r in reps]
            )
        pc = _span_costs(tr, "sources.snapshots.snapshot_multi_write")
        layer["sources.snapshots.publish_calls"] = len(pc)
        layer["sources.snapshots.publish_s"] = _med(pc, "wall_s")
        layer["sources.snapshots.publish_jobs"] = _med(pc, "jobs")
        layer["sources.snapshots.read_calls"] = tr.fired("sources.snapshots.snapshot_read")
        dc = tr.cost(tr.named("operators.curation.release_diff")[0])
        layer["operators.curation.release_diff.wall_s"] = dc["wall_s"]
        layer["operators.curation.release_diff.jobs"] = dc["jobs"]
        vc = _span_costs(tr, "operators.curation.verify_release")
        layer["operators.curation.verify.wall_s"] = _med(vc, "wall_s")
        layer["operators.curation.verify.jobs"] = _med(vc, "jobs")
    layer.update(_table_files([os.path.join(out, d) for d in sorted(os.listdir(out))] if os.path.isdir(out) else []))


WORKLOADS = {"manifest_ingest": manifest_ingest, "curate_release": curate_release}

#: the output checks of each workload (the self-test breaks each one)
CHECKS = {
    "manifest_ingest": (
        "replay_inserts_nothing", "trickle_matches_manifests", "audit_drift", "catalog_oracle",
    ),
    "curate_release": ("verify_release", "release_diff_total", "catalog_oracle"),
}

#: spans the traced run must see fire at least once, per workload: the
#: wrapped module attributes plus the benchmark's own call spans
MUST_FIRE = {
    "manifest_ingest": (
        "sources.snapshots.snapshot_upsert",
        "sources.snapshots.snapshot_read",
        "streaming.ingest_stream.backfill",
        "streaming.ingest_stream.replay",
        "streaming.ingest_stream.trigger",
        "operators.reconcile.audit",
        *(f"plans.{MIX_MODULES[q]}.{q}" for q in MIX["manifest_ingest"]),
    ),
    "curate_release": (
        "sources.snapshots.snapshot_multi_write",
        "sources.snapshots.snapshot_read",
        "operators.curation.curate_full",
        "operators.curation.curate_incremental",
        "operators.curation.verify_release",
        "operators.curation.release_diff",
        *(f"plans.{MIX_MODULES[q]}.{q}" for q in MIX["curate_release"]),
    ),
}
