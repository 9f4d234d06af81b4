"""Streaming ingest — the event-driven path (SURVEY.md §3.1).

The reference's topology ``S3 → EventBridge(suffix rule) → Lambda →
DynamoDB`` maps to one Structured Streaming query per manifest type:

    readStream(json, pathGlobFilter)        # OP-SRC-EVENT: new-file discovery
      → split_valid                         # OP-FIL-PATH + DLQ quarantine
      → ingest transforms (operators/ingest)# identical code to batch
      → foreachBatch(upsert_append)         # OP-SINK-UPSERT idempotency

Checkpointing replaces EventBridge delivery tracking (OP-STRM-TRIGGER);
``Trigger.AvailableNow`` turns the same query into the backfill job
(reference ``scripts/backfill_s3_data.py`` — SURVEY.md §3.3: backfill is
*the same code* with a bounded trigger). Idempotent upsert makes replays
safe, which is exactly the guarantee the reference derives from conditional
writes on at-least-once delivery (OP-STRM-STATE).

At scale: each micro-batch only shuffles for the sink anti-join; state
stores are unused (ingest is stateless per file, like the reference), so
there is no streaming-state growth to manage. ``maxFilesPerTrigger``
bounds batch size the way the Lambda concurrency cap bounded fan-out.
"""

from __future__ import annotations

import datetime as _dt
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from agf_data_ingestion_spark.operators.ingest import (
    experiments_from_manifests,
    file_inventory_from_experiment_manifests,
    file_inventory_from_run_manifests,
    quarantine_bad_checksums,
    split_valid,
    sync_runs_from_run_manifests,
)
from agf_data_ingestion_spark.operators.upsert import upsert_append
from agf_data_ingestion_spark.schemas import (
    EXPERIMENTS_KEYS,
    FILE_INVENTORY_KEYS,
    SYNC_RUNS_KEYS,
)
from agf_data_ingestion_spark.sources.manifests import (
    stream_experiment_manifests,
    stream_run_manifests,
)

RUN_REQUIRED = ["computer_name", "files_in_batch"]
EXP_REQUIRED = ["experiment_id", "experiment_folder", "staff_name", "instrument", "computer"]


def _quarantine_path(warehouse: str) -> str:
    return os.path.join(warehouse, "quarantine")


def _write_quarantine(bad: DataFrame, warehouse: str, source: str) -> None:
    """Append ``bad`` to the quarantine directory.

    Each write commits into its own hidden ``_staging/<uuid>`` directory and
    then moves its part files (and their checksums) up into ``quarantine/``.
    Appending straight into ``quarantine/`` made the run and experiment
    queries share ``quarantine/_temporary``, where one job's commit deletes
    the other's in-flight attempt files.  Part file names carry the write
    job's UUID, so the moves never collide."""
    if bad.isEmpty():
        return
    qdir = _quarantine_path(warehouse)
    staging = os.path.join(qdir, "_staging", uuid.uuid4().hex)
    try:
        bad.select(
            F.lit(source).alias("source"),
            F.col("s3_key"),
            F.to_json(F.struct(*[c for c in bad.columns])).alias("record"),
            F.current_timestamp().alias("quarantined_at"),
        ).write.parquet(staging)
        for f in os.listdir(staging):
            if f.startswith(("part-", ".part-")):
                os.replace(os.path.join(staging, f), os.path.join(qdir, f))
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def keep_greatest_per_key(df: DataFrame, keys: list[str]) -> DataFrame:
    """Within-batch key-collision resolution for the put_item-parity
    sink: keep the greatest non-key tuple per key (deterministic on any
    cluster).  Unorderable columns (maps anywhere in the type)
    participate only through the canonical-JSON hash tiebreaker.
    Extracted from the ``snapshot_replace`` write closure for the
    structural sweep (plan_registry, r12); partitions on the tracked-row
    key — table cardinality at any scale."""
    from pyspark.sql import Window
    from pyspark.sql.types import ArrayType, MapType, StructType

    def _orderable(dt) -> bool:
        # a map ANYWHERE in the type (incl. inside arrays/structs)
        # makes the column unorderable
        if isinstance(dt, MapType):
            return False
        if isinstance(dt, ArrayType):
            return _orderable(dt.elementType)
        if isinstance(dt, StructType):
            return all(_orderable(f.dataType) for f in dt.fields)
        return True

    others = [c for c in df.columns if c not in keys]
    if not others:
        return df.dropDuplicates(keys)
    # unorderable columns participate via the canonical-JSON hash
    # tiebreaker instead
    types = {f.name: f.dataType for f in df.schema.fields}
    orderable = [c for c in others if _orderable(types[c])]
    tiebreak = F.desc(F.md5(F.to_json(F.struct(*[F.col(c) for c in others]))))
    w = Window.partitionBy(*keys).orderBy(
        *[F.desc(c) for c in orderable], tiebreak
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _sink_for(sink: str):
    """Dispatch the keyed idempotent write: ``parquet`` = plain-Parquet
    upsert (lock-serialized where two queries share a table), ``snapshot``
    = the manifest table format (sources/snapshots.py) where the anti-join
    + append is ONE atomic commit and readers only ever see committed
    manifests — the lock is built into every snapshot writer, so the
    shared-table flag disappears; ``snapshot_replace`` = put_item-parity
    last-writer-wins merge (changed re-syncs UPDATE the tracked row)."""
    if sink == "parquet":
        def write(df, path, keys, shared=False):
            upsert_append(df, path, keys, lock=shared, lock_wait_s=600.0)
    elif sink == "snapshot":
        from agf_data_ingestion_spark.sources.snapshots import snapshot_upsert

        def write(df, path, keys, shared=False):
            snapshot_upsert(df, path, keys)
    elif sink == "snapshot_replace":
        # Reference parity for DynamoDB put_item semantics (REPLACE on key
        # collision — agf_ingestion_lambda.py:227,301,335): a re-sync whose
        # manifest CONTENT changed updates the tracked row instead of being
        # ignored.  Within-batch key collisions are resolved by the
        # greatest non-key tuple (deterministic on any cluster; the
        # reference's own winner is arrival-order nondeterministic).
        from agf_data_ingestion_spark.sources.snapshots import snapshot_merge

        def write(df, path, keys, shared=False):
            snapshot_merge(keep_greatest_per_key(df, keys), path, keys)
    else:
        raise ValueError(
            f"sink must be parquet|snapshot|snapshot_replace, got {sink!r}"
        )
    return write


def run_ingest_batch_fn(
    warehouse: str, *, now: _dt.datetime | None = None, sink: str = "parquet"
):
    """foreachBatch function for run.json manifests → sync_runs +
    file_inventory, with DLQ quarantine (OP-SINK-DLQ)."""
    write = _sink_for(sink)

    def fn(batch: DataFrame, batch_id: int) -> None:
        valid, bad = split_valid(batch, required=RUN_REQUIRED)
        valid = valid.persist()
        try:
            _write_quarantine(bad, warehouse, "run.json")
            write(
                sync_runs_from_run_manifests(valid, now=now),
                os.path.join(warehouse, "sync_runs"),
                SYNC_RUNS_KEYS,
            )
            inv, bad_ck = quarantine_bad_checksums(
                file_inventory_from_run_manifests(valid, now=now)
            )
            _write_quarantine(bad_ck, warehouse, "run.json/file_manifest")
            # Keyed on (experiment_id, file_path) = the table's primary key
            # (reference :333-341). Divergence note: the reference writes
            # run-manifest file rows unconditionally (:247-252), i.e.
            # last-writer-wins on re-delivery; the default sinks are
            # first-writer-wins, identical for byte-identical re-deliveries
            # (the idempotency case that actually occurs).  For exact
            # put_item replace semantics use sink="snapshot_replace".
            # shared=True: file_inventory is also written by the experiment
            # stream — two concurrent foreachBatch cycles must serialize.
            write(
                inv,
                os.path.join(warehouse, "file_inventory"),
                FILE_INVENTORY_KEYS,
                shared=True,
            )
        finally:
            valid.unpersist()

    return fn


def experiment_ingest_batch_fn(
    warehouse: str, *, now: _dt.datetime | None = None, sink: str = "parquet"
):
    """foreachBatch function for experiment.json manifests → experiments +
    file_inventory."""
    write = _sink_for(sink)

    def fn(batch: DataFrame, batch_id: int) -> None:
        valid, bad = split_valid(batch, required=EXP_REQUIRED)
        valid = valid.persist()
        try:
            _write_quarantine(bad, warehouse, "experiment.json")
            write(
                experiments_from_manifests(valid, now=now),
                os.path.join(warehouse, "experiments"),
                EXPERIMENTS_KEYS,
            )
            inv, bad_ck = quarantine_bad_checksums(
                file_inventory_from_experiment_manifests(valid, now=now)
            )
            _write_quarantine(bad_ck, warehouse, "experiment.json/files")
            # shared=True: shared with the run stream's file_inventory sink
            write(
                inv,
                os.path.join(warehouse, "file_inventory"),
                FILE_INVENTORY_KEYS,
                shared=True,
            )
        finally:
            valid.unpersist()

    return fn


def start_run_ingest(
    spark: SparkSession,
    lake_root: str,
    warehouse: str,
    checkpoint: str,
    *,
    available_now: bool = False,
    max_files_per_trigger: int | None = None,
    now: _dt.datetime | None = None,
    sink: str = "parquet",
) -> StreamingQuery:
    stream = stream_run_manifests(spark, lake_root, max_files_per_trigger=max_files_per_trigger)
    writer = (
        stream.writeStream.foreachBatch(run_ingest_batch_fn(warehouse, now=now, sink=sink))
        .option("checkpointLocation", os.path.join(checkpoint, "runs"))
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_experiment_ingest(
    spark: SparkSession,
    lake_root: str,
    warehouse: str,
    checkpoint: str,
    *,
    available_now: bool = False,
    max_files_per_trigger: int | None = None,
    now: _dt.datetime | None = None,
    sink: str = "parquet",
) -> StreamingQuery:
    stream = stream_experiment_manifests(
        spark, lake_root, max_files_per_trigger=max_files_per_trigger
    )
    writer = (
        stream.writeStream.foreachBatch(experiment_ingest_batch_fn(warehouse, now=now, sink=sink))
        .option("checkpointLocation", os.path.join(checkpoint, "experiments"))
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def backfill(
    spark: SparkSession,
    lake_root: str,
    warehouse: str,
    checkpoint: str,
    *,
    now: _dt.datetime | None = None,
    file_type: str = "all",
    sink: str = "parquet",
) -> None:
    """Batch replay of the whole lake (reference ``backfill_s3_data.py``).

    Same transforms, ``availableNow`` trigger; ``file_type`` mirrors the
    reference's ``--file-type {all,run,experiment}`` choice filter
    (OP-FIL-CHOICE, :159-160).

    The two queries run sequentially: both sink into ``file_inventory`` and
    the plain-Parquet idempotent sink is single-writer (operators/upsert.py
    scale notes) — with a transactional table format they could overlap.
    """
    if file_type in ("all", "run"):
        start_run_ingest(
            spark, lake_root, warehouse, checkpoint, available_now=True, now=now, sink=sink
        ).awaitTermination()
    if file_type in ("all", "experiment"):
        start_experiment_ingest(
            spark, lake_root, warehouse, checkpoint, available_now=True, now=now, sink=sink
        ).awaitTermination()
