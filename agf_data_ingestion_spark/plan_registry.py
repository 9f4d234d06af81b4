"""Registry of PRODUCTION frame-builders for the structural window sweep
(r12, VERDICT r11 ask #1 — "extend the sweep beyond the catalog").

The whole-partition corpus-window class recurred three rounds in a row,
and its third recurrence (`stage_quality_cut`, r11) was a site the
catalog sweep could not see: a Window built inside an OPERATOR, reached
only through `curate_full`, never through `__spark_entry__.queries()`.
This registry closes that blind spot structurally, the same way
tests/test_plan_sweep.py closed it for the 170 catalog queries:

1. **Completeness** — tests/test_plan_sweep.py AST-scans every module
   under ``operators/``, ``streaming/``, ``functions/`` and ``sources/``
   for top-level functions that build a ``Window.partitionBy``; each
   must appear in some builder's ``covers`` set here or in
   ``ALLOW_UNREGISTERED`` with a written reason.  A NEW production
   window site fails the suite until it registers.
2. **Scale shape** — every registered builder returns the frame(s) a
   real invocation computes; the sweep builds them with the skew rule
   (operators/skew.py ``route_salted``) forced onto the at-scale salted
   plan, the same forcing the catalog sweep applies, and walks their
   optimized plans with the identical BAD_KEYS / WindowGroupLimit /
   salt-cell rules.

Builders take ``(spark, sf_dir)`` and return a list of DataFrames.  They
must be PLAN-ONLY where possible; the one exception is
``assign_shards`` whose eager ``localCheckpoint`` materializes at
sf0.001 (the pre-checkpoint plan is additionally registered raw via
``shuffle_order_plan``, covering the truncation blind spot the r11
sweep docstring named).

Reference analog for why operator-internal plans need their own guard:
the reference hides its scale hack inside a handler, not the query
surface (agf_ingestion_lambda.py:213 GSI fan-in).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: name -> {"build": (spark, sf_dir) -> list[DataFrame], "covers": frozenset}
FRAME_BUILDERS: dict[str, dict] = {}

#: (module path under agf_data_ingestion_spark/, function) -> reason a
#: window-bearing function is deliberately NOT plan-walked here.  Keep
#: SHORT — every entry is a scale judgment someone must re-check.
ALLOW_UNREGISTERED: dict[tuple[str, str], str] = {
    # The skew-decomposition primitives themselves: their windows
    # partition on (part, _salt) cells / the tiny cell table by
    # construction, are property-pinned against the engine windows in
    # tests/test_skew.py, and appear INSIDE every registered consumer's
    # plan (weighted_interleave, stage_quality_cut, ...), where the
    # sweep walks them anyway.
    ("operators/skew.py", "salted_prefix_sum"): "decomposition primitive",
    ("operators/skew.py", "salted_prefix_sum_intkey"): "decomposition primitive",
    ("operators/skew.py", "salted_rank_hexkey"): "decomposition primitive",
    ("operators/skew.py", "salted_rank_dblkey"): "decomposition primitive",
    ("operators/skew.py", "salted_rank_intkey"): "decomposition primitive",
}


def register(name: str, *, covers: set[tuple[str, str]]) -> Callable:
    """Register a frame-builder; ``covers`` lists the window-bearing
    (module, function) sites whose plans the builder exercises."""

    def deco(fn: Callable[[SparkSession, str], list[DataFrame]]):
        FRAME_BUILDERS[name] = {"build": fn, "covers": frozenset(covers)}
        return fn

    return deco


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@register(
    "curation_batch_stages",
    covers={
        ("operators/curation.py", "stage_exact_dedup"),
        ("operators/curation.py", "stage_neardup"),
        ("operators/curation.py", "stage_quality_cut"),
        ("operators/curation.py", "batch_exact_dedup"),
    },
)
def _curation_frames(spark: SparkSession, sf_dir: str) -> list[DataFrame]:
    from agf_data_ingestion_spark.operators.curation import (
        batch_exact_dedup,
        stage_exact_dedup,
        stage_neardup,
        stage_quality_cut,
    )

    docs = _docs(spark, sf_dir)
    survivors, thresholds = stage_quality_cut(spark, sf_dir, docs, cut_tile=10)
    return [
        stage_exact_dedup(docs),
        stage_neardup(spark, sf_dir, docs),
        survivors,
        thresholds,
        batch_exact_dedup(
            docs.withColumn("_h", F.md5(F.lower(F.col("text"))))
        ),
    ]


@register(
    "fused_store_probe",
    covers={
        ("operators/curation.py", "_fused_probe_frame"),
        ("operators/curation.py", "_probe_stores_fused"),
    },
)
def _fused_probe_frames(spark: SparkSession, sf_dir: str) -> list[DataFrame]:
    from agf_data_ingestion_spark.operators.curation import _fused_probe_frame

    docs = _docs(spark, sf_dir)
    specs = [
        ("h", docs.select(F.md5(F.lower(F.col("text"))).alias("_h")), "", ""),
        ("s", docs.select(F.md5(F.col("doc_id").cast("string")).alias("sh")), "", ""),
    ]
    # the row_number ≤ lim+1 filter must optimize to a WindowGroupLimit
    # (per-partition top-k) — the sweep's rule #1 — so the tag window is
    # bounded map-side at any batch size
    return [_fused_probe_frame(specs, 4096)]


@register(
    "shards_interleave",
    covers={
        ("operators/shards.py", "weighted_interleave"),
        ("operators/shards.py", "shuffle_order_plan"),
        ("operators/shards.py", "assign_shards"),
    },
)
def _shards_frames(spark: SparkSession, sf_dir: str) -> list[DataFrame]:
    from agf_data_ingestion_spark.operators.shards import (
        assign_shards,
        shuffle_order_plan,
        weighted_interleave,
    )

    docs = _docs(spark, sf_dir)
    weights = (
        docs.select("source").distinct().withColumn("weight_ppm", F.lit(100_000))
    )
    return [
        weighted_interleave(docs, weights),
        # the PRE-checkpoint plan assign_shards truncates (r11 blind spot)
        shuffle_order_plan(docs),
        # the post-checkpoint per-physical-partition windows (_part ≈
        # cluster parallelism by design — materializes at sweep scale)
        assign_shards(docs, num_partitions=4),
    ]


@register(
    "streaming_sketches",
    covers={
        ("streaming/sketches.py", "kmv_sketch"),
        ("streaming/sketches.py", "merge_kmv"),
        ("streaming/sketches.py", "_mg_group_compress"),
    },
)
def _sketch_frames(spark: SparkSession, sf_dir: str) -> list[DataFrame]:
    from agf_data_ingestion_spark.plans.base import t
    from agf_data_ingestion_spark.streaming.sketches import (
        kmv_sketch,
        merge_kmv,
        mg_group_summary,
    )

    ev = t(spark, sf_dir, "events")
    s1 = kmv_sketch(ev, group_col="event_type", key_col="user_id")
    s2 = kmv_sketch(ev, group_col="event_type", key_col="event_id")
    kept, err = mg_group_summary(ev, group_col="event_type", key_col="user_id")
    return [s1, merge_kmv(s1, s2), kept, err]


@register(
    "streaming_dedup",
    covers={
        ("streaming/neardup_stream.py", "best_dup_rows"),
        ("streaming/ingest_stream.py", "keep_greatest_per_key"),
        ("streaming/upsert_stream.py", "net_last_change_per_key"),
    },
)
def _stream_dedup_frames(spark: SparkSession, sf_dir: str) -> list[DataFrame]:
    from agf_data_ingestion_spark.plans.base import t
    from agf_data_ingestion_spark.streaming.ingest_stream import (
        keep_greatest_per_key,
    )
    from agf_data_ingestion_spark.streaming.neardup_stream import best_dup_rows

    docs = _docs(spark, sf_dir)
    dups = docs.select(
        F.col("doc_id").alias("new_id"),
        ((F.col("doc_id") % 100) / F.lit(100.0)).alias("jaccard"),
        (F.col("doc_id") + 1).alias("dup_of"),
    )
    from agf_data_ingestion_spark.streaming.upsert_stream import (
        net_last_change_per_key,
    )

    ev = t(spark, sf_dir, "events")
    # a map column exercises the unorderable -> hash-tiebreak path
    tracked = ev.select(
        "user_id",
        "event_type",
        "ts_us",
        F.create_map(F.lit("et"), F.col("event_type")).alias("attrs"),
    )
    return [
        best_dup_rows(dups),
        keep_greatest_per_key(tracked, ["user_id"]),
        net_last_change_per_key(
            ev.select("user_id", "event_type", "ts_us"), ["user_id"], "ts_us"
        ),
    ]


@register(
    "keyed_operators",
    covers={
        ("operators/scd2.py", "scd2_intervals"),
        ("operators/asof.py", "asof_join"),
        ("operators/upsert.py", "latest_versions"),
        ("operators/ann_index.py", "rank_topk_per_query"),
        ("functions/udtfs.py", "segment_sentences_native"),
    },
)
def _keyed_op_frames(spark: SparkSession, sf_dir: str) -> list[DataFrame]:
    from agf_data_ingestion_spark.functions.udtfs import segment_sentences_native
    from agf_data_ingestion_spark.operators.ann_index import rank_topk_per_query
    from agf_data_ingestion_spark.operators.asof import asof_join
    from agf_data_ingestion_spark.operators.scd2 import scd2_intervals
    from agf_data_ingestion_spark.operators.upsert import latest_versions
    from agf_data_ingestion_spark.plans.base import t

    ev = t(spark, sf_dir, "events")
    left = ev.select("user_id", "event_id", "ts_us")
    right = ev.select("user_id", "event_id", "ts_us", "value")
    scored = ev.select(
        F.col("user_id").alias("query_id"),
        F.col("event_id").alias("neighbor_id"),
        F.col("ts_us").alias("ascore"),
    )
    docs = _docs(spark, sf_dir)
    return [
        scd2_intervals(ev),
        asof_join(
            left,
            right,
            on=["user_id"],
            left_time="ts_us",
            right_time="ts_us",
            tiebreak="event_id",
        ),
        latest_versions(
            ev.select("user_id", "event_type", "ts_us"), ["user_id"], "ts_us"
        ),
        rank_topk_per_query(scored, 10),
        segment_sentences_native(docs),
    ]
