"""Reconciliation invariants (SURVEY.md §5: after a clean ingest both
anti-joins are empty; injected discrepancies surface both ways)."""

from __future__ import annotations

import datetime as dt
import random

import pytest
from pyspark.sql import functions as F

from agf_data_ingestion_spark.operators.reconcile import (
    ReconciliationResult,
    _audit,
    format_report,
    list_storage_keys,
    reconcile,
    tracked_keys,
)


def _tables(spark, file_keys, run_keys, exp_keys, ts):
    mk = lambda keys, kcol, tcol: spark.createDataFrame(
        [(k, ts) for k in keys], f"{kcol} string, {tcol} timestamp"
    )
    return {
        "file_inventory": mk(file_keys, "s3_key", "uploaded_at"),
        "sync_runs": mk(run_keys, "s3_key", "processed_at"),
        "experiments": mk(exp_keys, "s3_experiment_json_key", "last_updated"),
    }


def test_clean_state_in_sync(spark):
    storage = spark.createDataFrame(
        [("raw/a/f1", dt.datetime(2024, 1, 2)), ("raw/a/run.json", dt.datetime(2024, 1, 2))],
        ["key", "modified_at"],
    )
    tables = _tables(spark, ["raw/a/f1"], ["raw/a/run.json"], [], dt.datetime(2024, 1, 2))
    res = reconcile(storage, tracked_keys(tables))
    assert res.status == "in_sync"
    assert res.orphaned_in_storage == 0 and res.orphaned_in_db == 0


def test_discrepancies_both_ways_and_report(spark):
    storage = spark.createDataFrame(
        [("raw/a/f1", dt.datetime(2024, 1, 2)), ("raw/a/untracked", dt.datetime(2024, 1, 2))],
        ["key", "modified_at"],
    )
    tables = _tables(
        spark, ["raw/a/f1", "raw/a/deleted"], [], [], dt.datetime(2024, 1, 2)
    )
    res = reconcile(storage, tracked_keys(tables))
    assert res.status == "discrepancies_found"
    assert res.orphaned_in_storage == 1 and res.sample_storage == ["raw/a/untracked"]
    assert res.orphaned_in_db == 1 and res.sample_db == ["raw/a/deleted"]
    rep = format_report(res, "2024-01-02T00:00:00")
    assert "raw/a/untracked" in rep and "raw/a/deleted" in rep


def test_time_window_excludes_old_records(spark):
    """Records older than the incremental window are out of scope
    (reference :38-40, :113-124)."""
    cutoff = dt.datetime(2024, 1, 10)
    storage = spark.createDataFrame(
        [("raw/a/new", dt.datetime(2024, 1, 12)), ("raw/a/old", dt.datetime(2024, 1, 1))],
        ["key", "modified_at"],
    ).filter(F.col("modified_at") >= F.lit(cutoff))
    tables = _tables(spark, ["raw/a/old-rec"], [], [], dt.datetime(2024, 1, 1))
    res = reconcile(storage, tracked_keys(tables, cutoff=cutoff))
    # the old record on each side is excluded entirely
    assert res.storage_count == 1 and res.tracked_count == 0
    assert res.orphaned_in_storage == 1  # new file is untracked within window


def test_listing_source_filters_junk(spark, tmp_path):
    root = tmp_path
    d = root / "raw" / "inst" / "2024" / "01" / "01" / "r1"
    d.mkdir(parents=True)
    (d / "run.json").write_text("{}")
    (d / ".DS_Store").write_text("junk")
    keys = [r["key"] for r in list_storage_keys(spark, str(root)).collect()]
    assert keys == ["raw/inst/2024/01/01/r1/run.json"]


def test_end_to_end_against_ingested_lake(spark, lake, tmp_path):
    """Ingest the fixture lake, then reconciliation over manifest keys
    finds: tracked manifests in sync; data files (never uploaded in the
    fixture) orphaned in DB exactly as expected."""
    import datetime as dt

    from agf_data_ingestion_spark.operators.ingest import (
        split_valid,
        sync_runs_from_run_manifests,
    )
    from agf_data_ingestion_spark.sources.manifests import read_run_manifests

    now = dt.datetime(2024, 6, 1)
    runs, _ = split_valid(
        read_run_manifests(spark, lake["root"]), required=["computer_name", "files_in_batch"]
    )
    sync_runs = sync_runs_from_run_manifests(runs, now=now)
    storage = list_storage_keys(spark, lake["root"])
    tracked = tracked_keys({"sync_runs": sync_runs})
    res = reconcile(storage, tracked)
    # every tracked run.json exists in storage
    assert res.orphaned_in_db == 0
    # storage also holds experiment.json files → orphans on storage side
    assert res.orphaned_in_storage == lake["n_exps"]


def _anti_join_reference(s, t, sample=20, match=None):
    """The two-anti-join formulation the keyed pass replaced, kept here as
    the reference: a count per side, a count and a sorted sample of each
    ``left_anti`` orphan set."""
    m = t if match is None else match
    orphan_s = s.join(m, "key", "left_anti")
    orphan_t = t.join(s, "key", "left_anti")
    return ReconciliationResult(
        storage_count=s.count(),
        tracked_count=t.count(),
        orphaned_in_storage=orphan_s.count(),
        orphaned_in_db=orphan_t.count(),
        sample_storage=[r["key"] for r in orphan_s.orderBy("key").limit(sample).collect()],
        sample_db=[r["key"] for r in orphan_t.orderBy("key").limit(sample).collect()],
    )


def _keys(spark, rng, n, pool, p_null=0.1):
    keys = [None if rng.random() < p_null else f"raw/k{rng.randrange(pool):03d}" for _ in range(n)]
    return spark.createDataFrame([(k,) for k in keys], "key string")


@pytest.mark.parametrize(
    "seed, n_s, n_t, n_m",
    [
        (0, 0, 0, None),  # both sides empty
        (1, 30, 0, None),  # no tracked keys: every listed key is an orphan
        (2, 0, 25, None),  # nothing listed: every tracked key is an orphan
        (3, 80, 60, None),  # > 20 orphans both ways: the samples overflow
        (4, 70, 40, 90),  # incremental shape: storage matched by a third set
    ],
)
def test_keyed_pass_equals_anti_joins(spark, seed, n_s, n_t, n_m):
    """Counts, overflow counts and samples match the anti-join reference
    with duplicate and NULL keys on both sides."""
    rng = random.Random(seed)
    pool = max(n_s, n_t, n_m or 0, 1)
    s = _keys(spark, rng, n_s, pool)
    t = _keys(spark, rng, n_t, pool)
    m = None if n_m is None else _keys(spark, rng, n_m, pool)
    want = _anti_join_reference(s, t, 20, m)
    assert _audit(s, t, 20, match=m) == want
    # a shorter sample is the prefix of the longer one
    want.sample_storage, want.sample_db = want.sample_storage[:3], want.sample_db[:3]
    assert _audit(s, t, 3, match=m) == want


def test_reconcile_job_budget(spark):
    """Deterministic performance budget: one audit runs the counting
    aggregate over the cached keyed frame plus one job per non-empty
    sample.  The anti-join formulation ran 17 jobs on this input (two
    counts, two samples and an overflow count, each re-running the
    scans and a join)."""
    storage = spark.createDataFrame(
        [(f"raw/k{i:03d}",) for i in range(40)] + [(None,), ("raw/k001",)], "key string"
    )
    tracked = spark.createDataFrame(
        [(f"raw/k{i:03d}",) for i in range(10, 60)] + [(None,)], "key string"
    )
    sc = spark.sparkContext
    props = ("spark.jobGroup.id", "spark.job.description")
    prev = [sc.getLocalProperty(k) for k in props]
    group = "test-reconcile-job-budget"
    cm = spark._jsparkSession.sharedState().cacheManager()
    cached = cm.numCachedEntries()
    sc.setJobGroup(group, "reconcile job budget")
    try:
        res = reconcile(storage, tracked)
    finally:
        for k, v in zip(props, prev):
            sc.setLocalProperty(k, v)
    assert (res.orphaned_in_storage, res.orphaned_in_db) == (12, 21)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 6
    assert cm.numCachedEntries() == cached, "the keyed frame stayed cached"
