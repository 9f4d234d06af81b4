"""Streaming ingest tests (SURVEY.md §5.5): micro-batch processing of new
files, checkpoint-based exactly-once effect, and batch/stream unification
(backfill produces identical tables)."""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest

from agf_data_ingestion_spark.streaming.ingest_stream import backfill, start_run_ingest

NOW = dt.datetime(2024, 6, 1)


def _write_run(root, inst, day, run_id, n_files=2):
    d = os.path.join(root, "raw", inst, "2024", "03", f"{day:02d}", run_id)
    os.makedirs(d, exist_ok=True)
    doc = {
        "sync_timestamp": f"2024-03-{day:02d}T10:00:00Z",
        "computer_name": f"PC-{inst}",
        "files_in_batch": n_files,
        "files_by_staff": {"Staff_A": n_files},
        # paths unique per run: the file_inventory key is
        # (experiment_id, file_path), so identical paths across runs would
        # (correctly) dedup in the idempotent sink
        "file_manifest": [
            {
                "path": f"Staff_A/EXP1/{run_id}_f{i}.csv",
                "size": 100 + i,
                "checksum": "ab" * 32,
            }
            for i in range(n_files)
        ],
    }
    with open(os.path.join(d, "run.json"), "w") as fh:
        json.dump(doc, fh)


def test_stream_ingests_new_files_incrementally(spark, tmp_path):
    lake = str(tmp_path / "lake")
    wh = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    _write_run(lake, "instA", 1, "r1")

    q = start_run_ingest(spark, lake, wh, ckpt, available_now=True, now=NOW)
    q.awaitTermination()
    assert spark.read.parquet(os.path.join(wh, "sync_runs")).count() == 1

    # new file arrives; a new availableNow run picks up ONLY the new file
    _write_run(lake, "instA", 2, "r2")
    q = start_run_ingest(spark, lake, wh, ckpt, available_now=True, now=NOW)
    q.awaitTermination()
    runs = spark.read.parquet(os.path.join(wh, "sync_runs"))
    assert runs.count() == 2
    assert spark.read.parquet(os.path.join(wh, "file_inventory")).count() == 4

    # replaying from a FRESH checkpoint re-reads everything; the idempotent
    # sink still keeps table state unchanged (OP-STRM-STATE)
    q = start_run_ingest(spark, lake, wh, str(tmp_path / "ckpt2"), available_now=True, now=NOW)
    q.awaitTermination()
    assert spark.read.parquet(os.path.join(wh, "sync_runs")).count() == 2
    assert spark.read.parquet(os.path.join(wh, "file_inventory")).count() == 4


def test_failing_then_retried_batch_yields_identical_tables(spark, tmp_path, monkeypatch):
    """OP-STRM-RETRY evidence (reference ``backfill_s3_data.py:24-39`` retry
    loop; delegated here to Spark's task/epoch retries): a foreachBatch
    invocation that crashes partway through — after one table's write
    completed and after PART of the next table's rows landed — and is then
    re-delivered must leave tables identical to a clean single run: the
    idempotent first-writer-wins sink absorbs the partial first attempt."""
    import agf_data_ingestion_spark.streaming.ingest_stream as mod
    from agf_data_ingestion_spark.sources.manifests import read_run_manifests

    lake = str(tmp_path / "lake")
    for day, rid in [(1, "r1"), (2, "r2"), (3, "r3")]:
        _write_run(lake, "instA", day, rid)
    batch = read_run_manifests(spark, lake)  # the frame a micro-batch sees

    wh_flaky = str(tmp_path / "wh_flaky")
    wh_clean = str(tmp_path / "wh_clean")
    real_upsert = mod.upsert_append
    calls = {"n": 0}

    def flaky_upsert(df, path, keys, **kw):
        calls["n"] += 1
        if calls["n"] == 2:  # 1st call = sync_runs (completes); 2nd = file_inventory
            real_upsert(df.limit(2), path, keys, **kw)  # partial rows committed…
            raise RuntimeError("injected failure mid-write")  # …then the task dies
        return real_upsert(df, path, keys, **kw)

    monkeypatch.setattr(mod, "upsert_append", flaky_upsert)
    with pytest.raises(RuntimeError, match="injected"):
        mod.run_ingest_batch_fn(wh_flaky, now=NOW)(batch, 0)
    monkeypatch.setattr(mod, "upsert_append", real_upsert)
    mod.run_ingest_batch_fn(wh_flaky, now=NOW)(batch, 0)  # at-least-once re-delivery

    mod.run_ingest_batch_fn(wh_clean, now=NOW)(batch, 0)  # clean reference run

    for table in ("sync_runs", "file_inventory"):
        got = sorted(
            tuple(r) for r in spark.read.parquet(os.path.join(wh_flaky, table)).collect()
        )
        want = sorted(
            tuple(r) for r in spark.read.parquet(os.path.join(wh_clean, table)).collect()
        )
        assert got == want, table


def test_backfill_equals_streaming(spark, lake, tmp_path):
    """Same input ⇒ identical tables whether ingested as a stream of events
    or replayed as a backfill (Structured Streaming unification, §3.3)."""
    wh_a = str(tmp_path / "wh_stream")
    wh_b = str(tmp_path / "wh_backfill")

    q = start_run_ingest(
        spark, lake["root"], wh_a, str(tmp_path / "ck_a"), available_now=True,
        max_files_per_trigger=7, now=NOW,
    )
    q.awaitTermination()
    backfill(spark, lake["root"], wh_b, str(tmp_path / "ck_b"), now=NOW, file_type="run")

    a = sorted(tuple(r) for r in spark.read.parquet(os.path.join(wh_a, "sync_runs")).collect())
    b = sorted(tuple(r) for r in spark.read.parquet(os.path.join(wh_b, "sync_runs")).collect())
    assert a == b and len(a) == lake["n_runs"]

    # file_inventory: the fixture lake contains colliding
    # (experiment_id, file_path) keys across runs; which duplicate wins is
    # arrival-order dependent in BOTH the reference (first delivered event's
    # conditional write wins) and this engine (first batch wins), so the
    # stream/backfill invariant is over the KEY SET, not winner payloads.
    fa = spark.read.parquet(os.path.join(wh_a, "file_inventory"))
    fb = spark.read.parquet(os.path.join(wh_b, "file_inventory"))
    ka = sorted(map(tuple, fa.select("experiment_id", "file_path").collect()))
    kb = sorted(map(tuple, fb.select("experiment_id", "file_path").collect()))
    assert ka == kb
    assert fa.count() == fb.count() == len(ka)


def test_full_backfill_both_types_and_quarantine(spark, lake, tmp_path):
    wh = str(tmp_path / "wh")
    backfill(spark, lake["root"], wh, str(tmp_path / "ck"), now=NOW)
    for t in ("sync_runs", "experiments", "file_inventory"):
        assert spark.read.parquet(os.path.join(wh, t)).count() > 0
    # fixture injects ~5% invalid checksums → quarantine is non-empty
    q = spark.read.parquet(os.path.join(wh, "quarantine"))
    assert q.count() > 0
    assert set(q.select("source").distinct().toPandas()["source"]) <= {
        "run.json", "run.json/file_manifest", "experiment.json", "experiment.json/files",
    }



def test_quarantine_write_spares_concurrent_attempt_files(spark, tmp_path):
    """The run and experiment queries quarantine into one directory.  A
    write must not delete another job's in-flight attempt files under
    ``quarantine/_temporary`` (a shared append committed and cleaned that
    directory up), and its rows still land in top-level part files."""
    import pyarrow.parquet as pq

    from agf_data_ingestion_spark.streaming.ingest_stream import _write_quarantine

    wh = str(tmp_path / "wh")
    q = os.path.join(wh, "quarantine")
    attempt = os.path.join(
        q, "_temporary", "0", "_temporary", "attempt_202403010000_0007_m_000000_0"
    )
    os.makedirs(attempt)
    inflight = os.path.join(attempt, "part-00000-inflight.snappy.parquet")
    with open(inflight, "wb") as fh:
        fh.write(b"in flight")
    bad = spark.createDataFrame(
        [("raw/a/run.json", 1), ("raw/b/run.json", 2)], "s3_key string, n int"
    )
    _write_quarantine(bad, wh, "run.json")
    _write_quarantine(bad.limit(1), wh, "experiment.json")
    assert os.path.exists(inflight)
    parts = [f for f in os.listdir(q) if f.endswith(".parquet")]
    assert sum(pq.ParquetFile(os.path.join(q, f)).metadata.num_rows for f in parts) == 3
    assert spark.read.parquet(q).count() == 3

def test_snapshot_replace_sink_updates_changed_resync(spark, tmp_path):
    """put_item parity (reference agf_ingestion_lambda.py:227): a re-sync
    whose manifest CONTENT changed must UPDATE the tracked row under the
    snapshot_replace sink, while the default first-writer-wins sinks keep
    the original — both behaviors deterministic and version-auditable."""
    from agf_data_ingestion_spark.sources.snapshots import snapshot_read

    lake = str(tmp_path / "lake")
    _write_run(lake, "instA", 1, "r1", n_files=2)
    wh_ins = str(tmp_path / "wh_insert_only")
    wh_rep = str(tmp_path / "wh_replace")
    backfill(spark, lake, wh_ins, str(tmp_path / "c1"), now=NOW, sink="snapshot")
    backfill(spark, lake, wh_rep, str(tmp_path / "c2"), now=NOW, sink="snapshot_replace")

    # the instrument re-syncs the same run with MORE files (content change)
    _write_run(lake, "instA", 1, "r1", n_files=3)
    backfill(spark, lake, wh_ins, str(tmp_path / "c3"), now=NOW, sink="snapshot")
    backfill(spark, lake, wh_rep, str(tmp_path / "c4"), now=NOW, sink="snapshot_replace")

    ins = snapshot_read(spark, os.path.join(wh_ins, "sync_runs")).collect()
    rep = snapshot_read(spark, os.path.join(wh_rep, "sync_runs")).collect()
    assert len(ins) == 1 and len(rep) == 1
    assert ins[0]["files_count"] == 2  # insert-only: first write stands
    assert rep[0]["files_count"] == 3  # replace: updated to the re-sync
    # replaying the identical lake again is a no-op for BOTH (idempotent)
    backfill(spark, lake, wh_rep, str(tmp_path / "c5"), now=NOW, sink="snapshot_replace")
    rep2 = snapshot_read(spark, os.path.join(wh_rep, "sync_runs")).collect()
    assert len(rep2) == 1 and rep2[0]["files_count"] == 3
