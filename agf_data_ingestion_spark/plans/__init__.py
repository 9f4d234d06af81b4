"""Query-plan catalog: every engine capability as a (Spark plan, SQL oracle) pair.

``QUERIES`` maps a stable query name → QuerySpec.  The driver contract
(``__spark_entry__.py``) re-exports these; ``scripts/check_oracle.py`` runs
the Spark plan and the DuckDB oracle side by side exactly like the driver
does (row count + schema + order-insensitive value hash).

Cross-engine determinism rules used throughout (see plans/base.py):
* Sums over floating columns go through an exact DECIMAL cast so the result
  is independent of accumulation order (Spark partial aggs vs DuckDB), then
  back to DOUBLE for a stable output type.
* Every LIMIT / row_number has a unique total-order tiebreaker.
* No current_timestamp / rand in oracle-checked plans — "now" is a pinned
  literal.
"""

from __future__ import annotations

import dataclasses as _dc

from agf_data_ingestion_spark.plans.base import QuerySpec
from agf_data_ingestion_spark.plans import (
    analytics,
    behavior,
    entity,
    pii,
    ingest_queries,
    iterative,
    langid,
    lm,
    media,
    mixing,
    packing,
    quality_model,
    similarity,
    sketches,
    text,
    tpch_extra,
    tpch_more,
    training_data,
    urls,
    windows,
)


def _pinned_session(fn):
    """Wrap a catalog query so it behaves identically under ANY caller's
    SparkSession (the driver builds its own): timestamps must render/parse
    in UTC to match the DuckDB oracle's naive timestamps."""

    def wrapped(spark, sf_dir):
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        return fn(spark, sf_dir)

    wrapped.__name__ = getattr(fn, "__name__", "query")
    wrapped.__doc__ = fn.__doc__
    wrapped.__wrapped__ = fn
    return wrapped


_ALL: dict[str, QuerySpec] = {}
for _mod in (
    analytics,
    tpch_extra,
    tpch_more,
    text,
    similarity,
    ingest_queries,
    media,
    windows,
    training_data,
    sketches,
    behavior,
    iterative,
    lm,
    entity,
    langid,
    pii,
    urls,
    quality_model,
    mixing,
    packing,
):
    for _name, _spec in _mod.QUERIES.items():
        _ALL[_name] = _dc.replace(_spec, fn=_pinned_session(_spec.fn))

# The driver records correctness for only the first ~50 catalog entries, so
# dict order is the witness budget (VERDICT.md r1 "Next round" #2).  Front-load
# (a) the 13 round-2 additions the driver has never recorded (VERDICT.md r2
# "Next round" #2), then (b) queries whose plans changed this round so the
# driver re-certifies them.  Everything else was driver-green in r01/r02 and
# keeps local-replica coverage via scripts/check_oracle.py.
_PRIORITY = [
    # round-9 additions — need first driver certification — plus the two
    # r9 plan changes (codegen decontam scan; broadcast-pinned sketch pair
    # table) listed at their existing positions below
    "emb_ann_recall_curve",
    "docs_source_overlap_auto",
    "docs_packed_sequences",
    "docs_preference_pairs",
    "docs_mixture_anneal",
    # round-7 additions — need first driver certification
    "docs_quality_train",
    "docs_quality_apply",
    "docs_domain_reweight",
    "docs_source_overlap",
    # Stage-warming order within the witness window: the MinHash/cluster
    # family runs base-first (sigs cache → cluster-label cache → consumers)
    # so each query's bench time reflects ITS stage, not whichever family
    # member happens to run first absorbing the whole shared build
    # (BENCH r3: docs_best_of_cluster cold = 12-14 s vs 5.6 warm).
    "docs_minhash_lsh",  # r5 plan change (band-bucket skew cap) — re-certify
    "docs_dup_clusters",
    # (docs_deduped_corpus consumes the cluster-label cache built above and
    # is driver-green since r01 — it rides the unlisted tail, which still
    # orders it after the two base builders)
    "docs_best_of_cluster",
    "docs_incremental_neardup",
    # round-6 additions — need first driver certification
    "docs_langid_train",
    "docs_langid_apply",  # r7 plan change (single-exchange apply) — re-certify
    "docs_pii_redaction",  # r6 plan change (new planted kinds) — re-certify
    "customers_entity_resolution",  # r6 plan change (hot-block cap)
    # late-r6 additions that missed the r6 witness window (r6 ADVICE: new
    # queries MUST land in-window) + the r7 skew-safe cap plan change
    "docs_url_curation",
    "docs_decontam_spans",
    # round-5 additions with no driver CORRECTNESS row yet — these MUST land
    # inside the ~50-row sample this round
    "docs_bpe_train",
    "docs_bpe_tokens",
    "docs_repetition_signals",
    "emb_ivfpq_topk",
    "docs_export_zip_manifest",
    # round-5 plan changes outside the head — re-certify under the driver
    "docs_fingerprint",
    "docs_simhash",
    # round-2 additions (first driver-certified r3; keep in-window)
    "emb_kmeans_train",
    "emb_pca_power",
    "graph_pagerank",
    "events_scd2_intervals",
    "events_session_window_native",
    "events_zorder_layout",
    "events_mad_outliers",
    "events_kmv_setops",
    "events_asof_next_purchase",
    "docs_bpe_pairs",
    "docs_domain_caps",
    "docs_weighted_sample",
    # plans changed this round (round 3) — re-certify under the driver
    "emb_ivf_topk",
    "ingest_sync_runs",
    "ingest_experiments",
    "ingest_quarantine_stats",
    # round-3 additions — need first driver certification (kept ahead of the
    # long-green tail)
    "docs_quality_gate",
    "emb_sq_adc_topk",
    "emb_pq_adc_topk",
    "q8_national_market_share",
    "q11_important_parts",
    "docs_bloom_contamination",
    "docs_dataset_split",
    "docs_pmi_bigrams",
    "events_countmin_err",
    "docs_editdist_neardup",
    "events_value_corr",
    "orders_profile",
    "emb_semdedup",
    "events_pit_enrich",
    "events_gap_fill",
    "emb_hard_negatives",
    "docs_epoch_order",
    "graph_triangles",
    "graph_kcore",
    "docs_datacard",
    "docs_bigram_lm_score",
    "docs_dsir_weights",
    "docs_dup_span_extract",
    "docs_quality_calibrated",
    "emb_matryoshka_topk",
    "docs_lm_buckets",
    "docs_shard_plan",
    "docs_winnowing",
    "docs_hybrid_rrf",
    "media_phash_neardup",
    "orders_expectations",
    # reference-parity ingest path (agf_ingestion_lambda.py semantics)
    "ingest_file_inventory_run",
    "ingest_file_inventory_exp",
    "ingest_enriched_inventory",
    "ingest_reconcile_orphans",
    # driver-green r01/r02 rotation: similarity + training-data family
    "emb_ann_lsh_topk",
    "emb_neardup_by_label",
    "emb_quantize_int8",
    "emb_cosine_topk",
    "emb_array_fold",
    "docs_neardup_verified",
    "docs_ngram_jaccard",
    "docs_stratified_sample",
    "docs_token_packing",
    "docs_contamination",
    "docs_mix_weights",
    "docs_chunked",
    "docs_span_dedup",
    "docs_boilerplate_ratio",
    "docs_bm25_search",
    "docs_multimodal_meta",
    "docs_media_features",
    "docs_frame_samples",
    "docs_presigned_urls",
    "docs_export_zip_manifest",
    # driver-green rotation: events / sketches / windows
    "events_kmv_distinct",
    "events_kmv_merged",
    "events_quantile_sketch",
    "events_funnel_stages",
    "events_retention_cohorts",
    "events_alarm_transitions",
    "events_sessionize",
    "events_tumbling_windows",
    "events_window_funcs",
    "events_asof_click",
    "events_interval_join",
    "events_median_value",
    # (the rest of the r01/r02-driver-green suite stays local-replica-covered;
    # q1 is additionally smoke-checked every round via entry())
]

QUERIES: dict[str, QuerySpec] = {}
for _name in _PRIORITY:
    if _name in _ALL:
        QUERIES[_name] = _ALL[_name]
for _name, _spec in _ALL.items():
    QUERIES.setdefault(_name, _spec)

__all__ = ["QUERIES", "QuerySpec"]
