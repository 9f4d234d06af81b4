"""End-to-end curation pipeline (operators/curation.py, OP-X-CURATE).

Pins the VERDICT r8 ask #1 contract:

* the composed ``curate_full`` run is BIT-IDENTICAL to executing the
  stages one at a time with parquet materialization between them (no
  hidden dependence on partitioning, caching, or plan fusion);
* all ten published tables land as ONE multi-table transaction and
  ``snapshot_read_txn`` keeps resolving that publish even after later
  unrelated single-table commits;
* the release datacard carries the funnel (one row per stage) and the
  funnel counts agree with the report.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from agf_data_ingestion_spark.operators.curation import (
    _DOC_COLS,
    curate_full,
    pick_cut_tile,
    stage_decontam,
    stage_exact_dedup,
    stage_neardup,
    stage_quality_cut,
    stage_rule_gate,
)
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def release(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("curate_release"))
    rep = curate_full(spark, SF_SMOKE, out, budget_tokens=2000, seed="0")
    return rep


def _shard_key_rows(df):
    return sorted(
        (r["doc_id"], r["shard_id"], r["global_pos"], r["n_tokens"])
        for r in df.select("doc_id", "shard_id", "global_pos", "n_tokens").collect()
    )


def test_stage_by_stage_bit_identical(spark, release, tmp_path):
    """Manual stage-at-a-time execution with a parquet round-trip between
    EVERY stage reproduces the published shard assignment exactly."""
    from agf_data_ingestion_spark.operators.shards import (
        assign_shards,
        weighted_interleave,
    )
    from agf_data_ingestion_spark.plans.base import t
    from agf_data_ingestion_spark.plans.mixing import domain_reweight_frame
    from agf_data_ingestion_spark.sources.snapshots import snapshot_read

    # each stage's rows_out is the count the datacard funnel publishes:
    # it must equal the rows the stage really produced
    rows_out = {s["name"]: s["rows_out"] for s in release["stages"]}

    def roundtrip(df, name):
        p = str(tmp_path / name)
        df.select(*_DOC_COLS).write.mode("overwrite").parquet(p)
        back = spark.read.parquet(p)
        assert back.count() == rows_out[name], name
        return back

    docs = roundtrip(t(spark, SF_SMOKE, "documents"), "input")
    docs = roundtrip(stage_rule_gate(spark, SF_SMOKE, docs), "rule_gate")
    docs = roundtrip(stage_exact_dedup(docs), "exact_dedup")
    docs = roundtrip(stage_neardup(spark, SF_SMOKE, docs), "neardup")
    docs = roundtrip(stage_decontam(spark, SF_SMOKE, docs), "decontam")
    cut = pick_cut_tile(spark, SF_SMOKE)
    assert cut == release["cut_tile"]
    cut_docs, thresholds = stage_quality_cut(spark, SF_SMOKE, docs, cut)
    assert {
        r["lang"]: r["value"] for r in thresholds.collect()
    } == release["quality_thresholds"]
    docs = roundtrip(cut_docs, "quality_cut")

    weights = spark.createDataFrame(
        sorted(
            (r["source"], int(r["weight_ppm"]))
            for r in domain_reweight_frame(docs).collect()
        ),
        "source string, weight_ppm long",
    )
    assigned = assign_shards(
        weighted_interleave(docs, weights, seed="0"),
        budget_tokens=2000,
        seed="0",
        order_key="_wfq",
    )

    published = snapshot_read(spark, release["tables"]["shards"])
    assert _shard_key_rows(assigned) == _shard_key_rows(published)
    assert len(_shard_key_rows(assigned)) == rows_out["wfq_shards"]
    # weights recorded in the report match the stage-by-stage recompute
    assert release["weights"] == {r["source"]: r["weight_ppm"] for r in weights.collect()}


def test_stage_walls_add_up_to_the_run(release):
    """Each stage's wall runs from the end of the previous stage, so the
    work of building a stage frame (the neardup stage's connected
    components run before its checkpoint) is counted: the stage walls sum
    to the run's wall_s, less only the report tail."""
    walls = sum(s["wall_s"] for s in release["stages"])
    rounding = 0.001 * len(release["stages"])  # each wall is rounded to 1 ms
    assert release["wall_s"] - 0.25 <= walls <= release["wall_s"] + rounding


def test_curate_full_releases_its_caches(spark, release, tmp_path):
    """The quality-cut caches are unpersisted once their consumers ran:
    a further release in the same session leaves the CacheManager no
    larger (a long-lived session does not grow by a release per call)."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    before = cm.numCachedEntries()
    curate_full(spark, SF_SMOKE, str(tmp_path / "again"), budget_tokens=2000, seed="0")
    assert cm.numCachedEntries() <= before


def test_txn_alignment_survives_later_commits(spark, release):
    """All ten tables resolve to the SAME txn, and a later unrelated
    single-table commit does not break (or silently retarget) the
    txn-aligned read."""
    from agf_data_ingestion_spark.sources.snapshots import (
        snapshot_read_txn,
        snapshot_txn_versions,
        snapshot_write,
    )

    tables = sorted(release["tables"].values())  # all ten release tables
    versions, txn_id = snapshot_txn_versions(tables)
    assert txn_id == release["txn"]["id"]
    assert versions == release["txn"]["versions"]

    # unrelated later commit on one member table
    extra = spark.createDataFrame(
        [("note", "post_release", 1)], "section string, key string, value long"
    )
    snapshot_write(extra, release["tables"]["datacard"], mode="append", op="note")

    aligned = snapshot_read_txn(spark, tables, txn_id=release["txn"]["id"])
    n_docs = aligned[release["tables"]["shards"]].count()
    assert n_docs == release["stages"][-1]["rows_out"]
    # the txn-pinned datacard does NOT contain the later append
    assert (
        aligned[release["tables"]["datacard"]]
        .filter(F.col("section") == "note")
        .count()
        == 0
    )


def test_datacard_funnel_matches_report(spark, release):
    from agf_data_ingestion_spark.sources.snapshots import snapshot_read_txn

    aligned = snapshot_read_txn(
        spark,
        [release["tables"]["datacard"], release["tables"]["shards"]],
        txn_id=release["txn"]["id"],
    )
    card = aligned[release["tables"]["datacard"]]
    funnel = {
        r["key"]: r["value"]
        for r in card.filter(F.col("section") == "funnel").collect()
    }
    expect = {
        s["name"]: s["rows_out"]
        for s in release["stages"]
        if s["name"] not in ("publish", "txn_read_verify")
    }
    assert funnel == expect
    # monotone non-increasing through the document gates
    gates = ["input", "rule_gate", "exact_dedup", "neardup", "decontam", "quality_cut"]
    vals = [funnel[g] for g in gates]
    assert vals == sorted(vals, reverse=True)
    # datacard totals describe the FINAL corpus (docs == shard rows)
    total_docs = (
        card.filter((F.col("section") == "total") & (F.col("key") == "docs"))
        .collect()[0]["value"]
    )
    assert total_docs == funnel["wfq_shards"]


def test_lineage_and_index_cover_exactly_the_release(spark, release):
    """Lineage, postings, and stats all describe exactly the published
    corpus — no orphan doc ids in either direction, stats fold equals the
    shard token totals' document count."""
    from agf_data_ingestion_spark.sources.snapshots import snapshot_read_txn

    tabs = release["tables"]
    aligned = snapshot_read_txn(
        spark,
        [tabs["shards"], tabs["lineage"], tabs["postings"], tabs["stats"]],
        txn_id=release["txn"]["id"],
    )
    shard_ids = {r["doc_id"] for r in aligned[tabs["shards"]].select("doc_id").collect()}
    lin_ids = {r["doc_id"] for r in aligned[tabs["lineage"]].select("doc_id").collect()}
    post_ids = {
        r["doc_id"]
        for r in aligned[tabs["postings"]].select("doc_id").distinct().collect()
    }
    assert shard_ids == lin_ids == post_ids
    srow = aligned[tabs["stats"]].agg(
        F.sum("n_docs").alias("n"), F.sum("tot_dl").alias("t")
    ).collect()[0]
    assert int(srow["n"]) == len(shard_ids)
    tok = aligned[tabs["shards"]].agg(F.sum("n_tokens")).collect()[0][0]
    assert int(srow["t"]) == int(tok)


def test_verify_release_audit(spark, release):
    """The production release audit passes on a fresh publish, pins the
    txn id, and reports exact counts."""
    import os

    from agf_data_ingestion_spark.operators.curation import verify_release

    root = os.path.dirname(release["tables"]["shards"])
    rep = verify_release(spark, root, txn_id=release["txn"]["id"])
    assert rep["ok"], rep["checks"]
    assert rep["txn_id"] == release["txn"]["id"]
    assert rep["counts"]["docs"] == release["stages"][-1]["rows_out"]
    assert rep["counts"]["tokens"] == release["total_tokens"]


def test_deep_audit_catches_contaminated_append(spark, release):
    """r10 ``deep=True``: the content-level decontamination claim.  A
    fresh publish audits clean; a benchmark-text document appended
    AROUND the gates (a raw snapshot append, as a buggy side-writer
    would) is invisible to every metadata check but fails
    ``decontam_clean``.  Runs LAST in this module: it mutates the
    shared release's current state (txn-pinned tests are unaffected)."""
    import os

    from agf_data_ingestion_spark.operators.curation import verify_release
    from agf_data_ingestion_spark.plans.base import t
    from agf_data_ingestion_spark.sources.snapshots import snapshot_write

    root = os.path.dirname(release["tables"]["shards"])
    clean = verify_release(spark, root, txn_id=release["txn"]["id"], deep=True)
    assert clean["ok"] and clean["checks"]["decontam_clean"] is True

    bench_doc = (
        t(spark, SF_SMOKE, "documents")
        .filter(F.col("doc_id") < 10)
        .orderBy("doc_id")
        .limit(1)
        .collect()[0]
    )
    from agf_data_ingestion_spark.sources.snapshots import snapshot_read

    schema = snapshot_read(spark, release["tables"]["shards"]).schema
    vals = {
        "doc_id": 9_000_000,
        "text": bench_doc["text"],
        "lang": bench_doc["lang"],
        "source": bench_doc["source"],
        "n_chars": len(bench_doc["text"]),
        "shard_id": 0,
        "global_pos": 9_000_000,
        "n_tokens": len(bench_doc["text"].split()),
    }
    dirty = spark.createDataFrame(
        [tuple(vals[f.name] for f in schema.fields)], schema
    )
    snapshot_write(dirty, release["tables"]["shards"], mode="append", op="rogue")

    audited = verify_release(spark, root, current=True, deep=True)
    assert audited["checks"]["decontam_clean"] is False
    assert not audited["ok"]
