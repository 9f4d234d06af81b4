"""Plan-shape evidence for the relational suite (SCALE.md "Relational
suite" claims): dimension joins broadcast, predicates reach the parquet
scan, and semi/anti shapes stay semi/anti — regression guards so a future
edit can't silently trade a broadcast for a full shuffle."""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    from agf_data_ingestion_spark.plans import QUERIES

    df = QUERIES[name].fn(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "name",
    ["q9_product_profit", "q10_returned_revenue", "q20_bulk_suppliers"],
)
def test_dimension_joins_broadcast(spark, name):
    plan = _plan(spark, name)
    assert "BroadcastHashJoin" in plan, plan
    # none of these queries may sort-merge-join a dimension table
    assert "SortMergeJoin" not in plan, plan


def test_q4_exists_is_semi_join(spark):
    plan = _plan(spark, "q4_priority_late_ship")
    assert "LeftSemi" in plan, plan


def test_q22_not_exists_is_anti_join(spark):
    plan = _plan(spark, "q22_idle_rich_customers")
    assert "LeftAnti" in plan, plan


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(spark, "q20_bulk_suppliers")
    # the p_name LIKE 'small%' prefix filter must be pushed to the part scan
    assert "PushedFilters" in plan and "StringStartsWith(p_name,small)" in plan, plan


def test_grouping_sets_single_expand(spark):
    plan = _plan(spark, "lineitem_grouping_sets")
    # one Expand feeding hash aggregation — not one pass per grouping set
    assert plan.count("Expand") >= 1, plan
    assert plan.count("Scan parquet") == 1, plan


def test_kmv_sketch_truncates_before_exchange(spark):
    # the two-level k-min must plan WindowGroupLimit with a Partial phase —
    # map tasks truncate to their local top-k BEFORE the shuffle, which is
    # what bounds the exchange at any key cardinality (SCALE.md "Sketches")
    plan = _plan(spark, "events_kmv_distinct")
    assert "WindowGroupLimit" in plan, plan
    assert "Partial" in plan, plan
    # only the two narrow columns may be read
    assert "ReadSchema: struct<user_id:bigint,event_type:string>" in plan, plan


def test_chunking_is_shuffle_free(spark):
    plan = _plan(spark, "docs_chunked")
    assert "Exchange" not in plan, plan


def test_bm25_single_scan_shape(spark):
    plan = _plan(spark, "docs_bm25_search")
    # r4: ONE tokenize pass feeds a checkpointed per-doc frame; the
    # returned plan reads the checkpoint (no parquet re-scan — the r3
    # shape re-inlined the token stream 4x) and joins only the broadcast
    # one-row stats
    assert "FileScan" not in plan and "Scan parquet" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    # no corpus-sized shuffle join remains: scoring is map-only over the
    # checkpoint
    assert "ShuffledHashJoin" not in plan, plan
    # top-k must be TakeOrderedAndProject, not a global Sort + Limit
    assert "TakeOrderedAndProject" in plan, plan


def test_funnel_joins_stay_on_user_id(spark):
    plan = _plan(spark, "events_funnel_stages")
    # per-user stage tables are corpus-sized: no broadcast anywhere, and
    # every exchange in the chain is hash-partitioning on user_id
    assert "BroadcastHashJoin" not in plan, plan
    for line in plan.splitlines():
        if "Exchange" in line and "hashpartitioning" in line:
            assert "user_id" in line, line


def test_retention_first_touch_is_shuffle_join(spark):
    plan = _plan(spark, "events_retention_cohorts")
    assert "ShuffledHashJoin" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan


def test_domain_caps_truncates_before_exchange(spark):
    # per-source rank-K must plan a Partial WindowGroupLimit: map tasks keep
    # their local top-K per source BEFORE the shuffle, bounding the exchange
    # at K rows per source per task even under a mega-domain
    plan = _plan(spark, "docs_domain_caps")
    assert "WindowGroupLimit" in plan and "Partial" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    # column pruning: the window needs only (doc_id, text, source)
    assert "lang" not in plan.split("ReadSchema")[1].splitlines()[0], plan


def test_kmeans_broadcasts_centroids_not_corpus(spark):
    # the final assignment pass is ONE map-only Arrow stage: the K×d
    # centroid matrix rides in the UDF closure, so the plan has NO join of
    # any kind, no window, and no exchange between the scan and the argmin
    # (r3 rewrite: the previous crossJoin+window shape shipped every vector
    # K times through Arrow and sorted N·K rows per round)
    plan = _plan(spark, "emb_kmeans_train")
    assert "MapInPandas" in plan or "mapInPandas" in plan.lower(), plan
    for node in ("Join", "Window", "Exchange"):
        assert node not in plan, plan


def test_scd2_single_exchange(spark):
    # lag-change-capture + version sum + closing lead must share ONE
    # (user_id) exchange — three windows, one shuffle
    plan = _plan(spark, "events_scd2_intervals")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_best_of_cluster_shuffle_joins_corpus_side(spark):
    # the quality join onto cluster labels is corpus-sized on both sides —
    # must stay a shuffle join (broadcast would OOM at 1e9 docs)
    plan = _plan(spark, "docs_best_of_cluster")
    assert "ShuffledHashJoin" in plan, plan


def test_runtime_bloom_filter_injects_on_selective_shuffle_join(spark):
    # with broadcasts off (both sides "big"), a selective filter on one
    # join side must inject a runtime bloom filter into the other side's
    # scan — the 100 TB fact-scan pruner when nothing broadcasts; thresholds
    # lowered because testdata is tiny (session.py enables the feature)
    from pyspark.sql import functions as F

    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_scan = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        o = spark.read.parquet(f"{SF}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        l = spark.read.parquet(f"{SF}/lineitem.parquet")
        j = l.join(o, l.l_orderkey == o.o_orderkey).groupBy("o_orderpriority").count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, plan
        assert "might_contain" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            old_scan,
        )


def test_profile_scans_column_prune_and_avoid_expand(spark):
    # per-column branches: each scan reads exactly ONE column, and the
    # multi-distinct Expand/global-SortAggregate shape must not return
    # (r3 rewrite: 5x; SCALE.md "Late round-3 additions")
    plan = _plan(spark, "orders_profile")
    assert "Expand" not in plan, plan
    import re

    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas and all(s.count(":") == 1 for s in schemas), schemas


def test_pit_enrich_never_broadcasts_and_keys_on_user(spark):
    # dimension side is corpus-derived (per-user change history) — must
    # stay a shuffle join with the interval test as residual
    plan = _plan(spark, "events_pit_enrich")
    assert "BroadcastHashJoin" not in plan, plan
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan, plan


def test_bloom_broadcasts_filter_not_corpus(spark):
    # exactly one broadcast join, and its build side is the 2048-row words
    # table (the filter) — the corpus side is probed map-side
    plan = _plan(spark, "docs_bloom_contamination")
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert "BuildRight" in plan, plan


def test_gap_fill_has_no_cartesian(spark):
    plan = _plan(spark, "events_gap_fill")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan


def test_bpe_tokens_vocab_join_never_broadcast(spark):
    # the (word -> symbol count) table grows with vocabulary — it must
    # shuffle-hash join against corpus words, never broadcast (r5)
    plan = _plan(spark, "docs_bpe_tokens")
    assert "ShuffledHashJoin" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan


def test_fingerprint_single_exchange_and_window_limit(spark):
    # one explicit doc_id repartition carries every downstream doc-keyed
    # op; the bottom-4 filter must reach the sort as a WindowGroupLimit
    # (bounded per-group state, not a full sort+filter)
    plan = _plan(spark, "docs_fingerprint")
    assert plan.count("Exchange") == 1, plan
    assert "WindowGroupLimit" in plan, plan


def test_simhash_gram_dedup_is_aggregate_not_array_distinct(spark):
    # r5: the per-doc word dedup is a post-explode hash aggregate (codegen,
    # exchange-free under the doc_id repartition), not the interpreted
    # O(n^2)-per-array array_distinct
    plan = _plan(spark, "docs_simhash")
    assert "array_distinct" not in plan, plan


def test_bdim_is_size_guarded(spark, monkeypatch):
    """VERDICT r5 finding #2: scaling-dimension broadcasts (part /
    customer / supplier) go through base.bdim — hinted at bench scale
    (estimates ~KBs), UNHINTED when the optimizer estimate exceeds the
    guard, so AQE can pick a shuffle join at 1000× instead of a forced
    driver-OOM broadcast."""
    import agf_data_ingestion_spark.plans.base as base

    df = spark.read.parquet(f"{SF}/part.parquet")
    hinted = base.bdim(df)
    assert hinted is not df  # under the guard: hint applied
    assert "broadcast" in hinted._jdf.queryExecution().logical().toString().lower()

    monkeypatch.setattr(base, "_BDIM_MAX_BYTES", -1)
    assert base.bdim(df) is df  # oversized: no forced hint


def test_oversized_dim_falls_back_to_shuffle_join(spark, monkeypatch):
    """With the guard tripped AND auto-broadcast off (emulating a dim too
    big to broadcast), the dimension joins plan as shuffle joins and the
    result is unchanged — graceful degradation, not an OOM."""
    import agf_data_ingestion_spark.plans.base as base
    from agf_data_ingestion_spark.plans import QUERIES

    want = sorted(map(tuple, QUERIES["q9_product_profit"].fn(spark, SF).collect()))
    monkeypatch.setattr(base, "_BDIM_MAX_BYTES", -1)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = QUERIES["q9_product_profit"].fn(spark, SF)
        got = sorted(map(tuple, df.collect()))
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert got == want
    # the SCALING dims (part on p_partkey, supplier on s_suppkey) must not
    # be broadcast; the constant-size nation join legitimately keeps its
    # unconditional F.broadcast
    import re

    for bhj in re.findall(r"BroadcastHashJoin \[[^\]]*\], \[[^\]]*\]", plan):
        assert "p_partkey" not in bhj and "s_suppkey" not in bhj, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan


def test_langid_apply_single_corpus_exchange(spark):
    # r7 (VERDICT r6 finding #4): the held-out corpus is shuffled ONCE on
    # doc_id — per-language scores are conditional sums in one groupBy,
    # argmin runs in the projection, and the r6 preds-to-corpus
    # SortMergeJoin (two doc_id exchanges) is gone; the only other
    # exchanges are the constant-size model aggregations
    plan = _plan(spark, "docs_langid_apply")
    doc_ex = [
        l
        for l in plan.splitlines()
        if "Exchange hashpartitioning" in l and "doc_id" in l
    ]
    assert len(doc_ex) == 1, plan
    assert "SortMergeJoin" not in plan, plan
    assert " Window " not in plan, plan


def test_recall_curve_corpus_never_broadcast(spark):
    # r9: both candidate passes keep the corpus off the broadcast path —
    # the LSH bucket join broadcasts the QUERY side only, the IVF-PQ
    # candidates come from a map-only Arrow pass, and the better-count
    # join broadcasts the gt-sized side.  A corpus-side broadcast here
    # would OOM at 1e9 vectors (the CLAUDE.md ban).
    plan = _plan(spark, "emb_ann_recall_curve")
    for line in plan.splitlines():
        if "BroadcastExchange" not in line:
            continue
        assert "neighbor_id" not in line, line


def test_packing_single_bucket_exchange(spark):
    # r9: ONE corpus exchange (the bucket groupBy feeding applyInPandas);
    # the per-bucket fold adds no further shuffle
    plan = _plan(spark, "docs_packed_sequences")
    ex = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(ex) == 1, plan
    assert "bucket" in ex[0], ex[0]


def test_reweighted_shards_no_single_partition_window(spark, monkeypatch):
    """r10 (VERDICT r9 ask #1 'Done'): the WFQ stream's running sums are
    exchange-safe — the executed row-stream plan carries NO
    ``Window.partitionBy(lit(1))``-shaped single-partition sort (the one
    legitimate ``Exchange SinglePartition`` is the 1-row horizon
    aggregate), every window is keyed, the salted decomposition actually
    engages when the skew rule is forced, and the salted plan produces
    cumsums and shard assignments bit-identical to the default plan."""
    from agf_data_ingestion_spark.operators import skew
    from agf_data_ingestion_spark.plans.mixing import _rws_stream, _rws_ts

    cols = ["doc_id", "shard_id", "global_pos"]
    plain = sorted(
        (r["doc_id"], r["cum"])
        for r in _rws_ts(spark, SF).select("doc_id", "cum").collect()
    )
    plain_shards = sorted(map(tuple, _rws_stream(spark, SF).select(cols).collect()))

    monkeypatch.setattr(skew, "route_salted", lambda corpus: True)
    ts = _rws_ts(spark, SF)
    dec = sorted((r["doc_id"], r["cum"]) for r in ts.collect())
    plan = ts._jdf.queryExecution().executedPlan().toString()
    # every CORPUS-shaped window (the n_tokens running sums) must be
    # keyed — the r9 shape was `Window [sum(n_tokens) ...
    # windowspecdefinition(1, t ASC ...)]`, a single-partition sort of
    # every surviving doc.  The K-row DoReMi weight windows are
    # legitimately un-keyed (20-row table) and don't touch n_tokens.
    for line in plan.splitlines():
        if "windowspecdefinition" in line and "n_tokens" in line:
            assert "source" in line, line
    assert "windowspecdefinition(1," not in plan, plan
    assert "_salt" in plan, plan  # the decomposition engaged
    assert dec == plain

    # end-to-end: the two-pass prefix sum gives identical shard ids and
    # positions through both per-source plans
    salted_shards = sorted(map(tuple, _rws_stream(spark, SF).select(cols).collect()))
    assert salted_shards == plain_shards


def test_curriculum_decomposed_plan_keyed(spark, salted):
    """r10 (VERDICT r9 ask #2): the forced-decomposed curriculum plan
    carries only KEYED windows — the per-source percentile runs in
    (source, difficulty-range salt) cells, never one whole-source
    partition — and the salt actually engages."""
    from agf_data_ingestion_spark.plans.lm import docs_curriculum_order

    df = docs_curriculum_order(spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    spark.catalog.clearCache()  # the salted plan caches its per-doc frame
    assert "_salt" in plan, plan  # the decomposition engaged
    for line in plan.splitlines():
        if "windowspecdefinition" in line and "difficulty" in line:
            assert "source" in line, line
    assert "windowspecdefinition(1," not in plan, plan


def test_preference_pairs_model_broadcast_only(spark):
    # r9: the trained model rides a broadcast; the corpus collapses to
    # 1 row/doc before any window — score rows shuffle, text never does
    plan = _plan(spark, "docs_preference_pairs")
    assert "BroadcastHashJoin" in plan
    # windows partition on source over doc-count rows, never on raw text
    # (r10: the old form list-membership-tested whole lines, vacuously true)
    assert all(
        "text" not in l
        for l in plan.splitlines()
        if "Exchange hashpartitioning" in l
    ), plan
