"""Incremental curation (operators/curation.py `curate_incremental`):
the O(batch) delta path of the r9 pipeline.  Pins the frozen-policy
contract — a batch is gated by the PUBLISHED thresholds/weights and
deduped against the release's probe stores — plus shard continuation,
store/index coverage of exactly the union corpus, ten-table txn
atomicity, and time travel back to the base release.
"""

from __future__ import annotations

import hashlib
import itertools

import pytest
from pyspark.sql import functions as F

from agf_data_ingestion_spark.operators.curation import (
    _DOC_COLS,
    curate_full,
    curate_incremental,
    pick_cut_tile,
    stage_decontam,
    stage_exact_dedup,
    stage_neardup,
    stage_quality_cut,
    stage_rule_gate,
)
from tests.conftest import SF_SMOKE


def _py_shingles(text):
    """``plans/text._shingles`` in Python: distinct space-split 3-word
    shingles."""
    w = text.split(" ")
    return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}


def _py_perm_hashes(shingle):
    """The permuted md5 hashes ``plans/text._sigs_of`` takes minima of."""
    from agf_data_ingestion_spark.plans.text import _MOD, _N_PERMS

    h = hashlib.md5(shingle.encode()).hexdigest()
    h1, h2 = int(h[:10], 16), int(h[10:20], 16)
    return [(h1 + p * h2) % _MOD for p in range(_N_PERMS)]


def _py_bands(text):
    """``plans/text._lsh_bands`` in Python: {(band, bsig)}."""
    from agf_data_ingestion_spark.plans.text import _BAND_ROWS, _N_PERMS

    hs = [_py_perm_hashes(sh) for sh in _py_shingles(text)]
    sig = [min(h[p] for h in hs) for p in range(_N_PERMS)]
    return {
        (b // _BAND_ROWS, "|".join(map(str, sig[b : b + _BAND_ROWS])))
        for b in range(0, _N_PERMS, _BAND_ROWS)
    }


def _jaccard(a, b):
    sa, sb = _py_shingles(a), _py_shingles(b)
    return len(sa & sb) / len(sa | sb)


def _reused_id_plant(spark, published, batch_texts, thresholds, skip):
    """Find published docs P, Q and a text N such that N shares an LSH band
    with P's published text at a Jaccard under the near-dup floor, reaches
    the floor against Q's text, shares no band with any other published or
    batch text, and passes the rule gate and the frozen quality cut.

    A batch row that reuses P's id with Q's text is dropped at exact dedup.
    Scored against P's PUBLISHED set, N is no near-dup and appends; scored
    against that dropped batch row, it would be flagged."""
    from agf_data_ingestion_spark.operators.curation import (
        quality_model_weights,
        score_quality,
    )
    from agf_data_ingestion_spark.plans.text import (
        _BAND_ROWS,
        _INC_JACCARD_MIN,
        _N_PERMS,
        quality_gate_frame,
    )

    pub = [r for _, r in sorted(published.items()) if r["doc_id"] not in skip]
    taken = {r["doc_id"]: _py_bands(r["text"]) for r in published.values()}
    taken_batch = set().union(*map(_py_bands, batch_texts))
    found = []
    for P, Q in itertools.permutations(pub, 2):
        if P["lang"] != Q["lang"]:
            continue
        wp, wq = P["text"].split(" "), Q["text"].split(" ")
        hs = [_py_perm_hashes(" ".join(wp[i : i + 3])) for i in range(len(wp) - 2)]
        for b in range(0, _N_PERMS, _BAND_ROWS):
            # the shingles holding P's minima in band b
            pos = {
                min(range(len(hs)), key=lambda i: hs[i][p]) for p in range(b, b + _BAND_ROWS)
            }
            core = [w for i in sorted(pos) for w in wp[i : i + 3]]
            for frac, off in itertools.product((0.45, 0.55, 0.65), (0, 5, 10)):
                n = " ".join(wq[off : off + int(len(wq) * frac)] + core)
                nb = _py_bands(n)
                if (
                    nb & taken[P["doc_id"]]
                    and _jaccard(n, P["text"]) < _INC_JACCARD_MIN <= _jaccard(n, Q["text"])
                    and not nb & taken_batch
                    and not any(nb & v for k, v in taken.items() if k != P["doc_id"])
                ):
                    found.append((P, Q, n))
    cand = spark.createDataFrame(
        [(i, n) for i, (_, _, n) in enumerate(found)], "doc_id long, text string"
    )
    scores = score_quality(quality_model_weights(spark, SF_SMOKE), cand)
    ok = {
        r["doc_id"]: r["_score"]
        for r in quality_gate_frame(cand).filter(F.col("keep")).join(scores, "doc_id").collect()
    }
    for i, (P, Q, n) in enumerate(found):
        if i in ok and ok[i] >= thresholds[P["lang"]]:
            return P, Q, n
    raise AssertionError("no reused-id near-dup plant in this fixture")


@pytest.fixture(scope="module")
def setup(spark, tmp_path_factory):
    """A published release + a crafted batch with planted cases."""
    out = str(tmp_path_factory.mktemp("inc_release"))
    rel = curate_full(spark, SF_SMOKE, out, budget_tokens=2000, seed="0")

    # recompute the quality-cut survivor set: docs that passed EVERY gate
    # but may have been cut by the WFQ horizon — ideal "good" batch docs
    # (they provably score above the frozen thresholds and are not
    # near-dups of anything published)
    from agf_data_ingestion_spark.plans.base import t

    docs = t(spark, SF_SMOKE, "documents")
    docs = stage_rule_gate(spark, SF_SMOKE, docs)
    docs = stage_exact_dedup(docs)
    docs = stage_neardup(spark, SF_SMOKE, docs)
    docs = stage_decontam(spark, SF_SMOKE, docs)
    cut = pick_cut_tile(spark, SF_SMOKE)
    survivors, _ = stage_quality_cut(spark, SF_SMOKE, docs, cut)
    survivors = {r["doc_id"]: r for r in survivors.collect()}

    from agf_data_ingestion_spark.sources.snapshots import snapshot_read

    published = {
        r["doc_id"]: r
        for r in snapshot_read(spark, rel["tables"]["shards"])
        .select(*_DOC_COLS)
        .collect()
    }
    unpublished = {k: v for k, v in survivors.items() if k not in published}
    assert unpublished, "need WFQ-cut survivors to build the batch"
    good = sorted(unpublished.values(), key=lambda r: r["doc_id"])[:10]
    some_pub = sorted(published.values(), key=lambda r: r["doc_id"])[0]

    base = 1_000_000
    rows = []
    # good docs re-labeled with fresh ids (keeps "batch arrives later")
    good_ids = []
    for i, g in enumerate(good):
        rows.append((base + i, g["text"], g["lang"], g["source"], len(g["text"])))
        good_ids.append(base + i)
    # planted: exact dup of a published doc
    exact_dup_id = base + 100
    rows.append(
        (
            exact_dup_id,
            some_pub["text"],
            some_pub["lang"],
            some_pub["source"],
            len(some_pub["text"]),
        )
    )
    # planted: near-dup of a published doc (perturb ~1/5 of the words)
    words = some_pub["text"].split()
    for j in range(0, len(words), 5):
        words[j] = f"zq{j}"
    near_text = " ".join(words)
    near_dup_id = base + 101
    rows.append(
        (
            near_dup_id,
            near_text,
            some_pub["lang"],
            some_pub["source"],
            len(near_text),
        )
    )
    # planted: batch-internal exact dup of the first good doc (higher id)
    internal_dup_id = base + 102
    g0 = good[0]
    rows.append(
        (internal_dup_id, g0["text"], g0["lang"], g0["source"], len(g0["text"]))
    )
    # planted: fails the rule gate (too short)
    gate_fail_id = base + 103
    rows.append((gate_fail_id, "a a a a", "en", "src0", 7))
    # planted (r10, ADVICE r9): shares 4-gram shingles with the held-out
    # benchmark set — must be dropped by the NEW incremental decontam
    # stage probing the published bench store.  Built like the near-dup
    # plant (perturb every 5th word) but from GATE-PASSING benchmark
    # docs, which are never published, so the bands store cannot flag
    # them first and the drop is attributable to decontam.
    from agf_data_ingestion_spark.plans.text import quality_gate_frame

    bench_raw = t(spark, SF_SMOKE, "documents").filter(F.col("doc_id") < 10)
    bench_keep = {
        r["doc_id"]
        for r in quality_gate_frame(bench_raw)
        .filter(F.col("keep"))
        .select("doc_id")
        .collect()
    }
    bench_rows = sorted(
        (r for r in bench_raw.collect() if r["doc_id"] in bench_keep),
        key=lambda r: r["doc_id"],
    )
    assert len(bench_rows) >= 2, "need two gate-passing benchmark docs"

    def _perturb(text, tag):
        # leave stopwords intact: replacing them pushed stopword_ratio
        # under the 0.05 gate and the drop mis-attributed to rule_gate
        from agf_data_ingestion_spark.plans.text import _STOPWORDS

        words = text.split()
        for j in range(0, len(words), 5):
            if words[j] not in _STOPWORDS:
                words[j] = f"{tag}{j}"
        return " ".join(words)

    contaminated_id = base + 104
    ctext = _perturb(bench_rows[0]["text"], "zc")
    rows.append(
        (contaminated_id, ctext, bench_rows[0]["lang"], bench_rows[0]["source"], len(ctext))
    )
    # planted (r10): claims a benchmark doc id — the doc_id < _BENCH_DOCS
    # rule curate_full applies must hold for batches too
    bench_id = 5
    btext = _perturb(bench_rows[1]["text"], "zr")
    rows.append(
        (bench_id, btext, bench_rows[1]["lang"], bench_rows[1]["source"], len(btext))
    )
    # planted (dup-side union): a batch doc reusing published id P with
    # the text of published doc Q (so exact dedup drops it), and a fresh
    # doc whose only LSH collision is P's published text, below the
    # near-dup floor — it must append, not be scored against the dropped
    # batch row
    P, Q, reuse_text = _reused_id_plant(
        spark,
        published,
        [r[1] for r in rows],
        rel["quality_thresholds"],
        skip={some_pub["doc_id"]},
    )
    rows.append((P["doc_id"], Q["text"], Q["lang"], Q["source"], len(Q["text"])))
    reuse_near_id = base + 105
    rows.append((reuse_near_id, reuse_text, P["lang"], P["source"], len(reuse_text)))
    batch = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    rep = curate_incremental(
        spark, batch, out, batch_label="t1", seed="0", budget_tokens=2000
    )
    return {
        "rel": rel,
        "rep": rep,
        "good_ids": good_ids,
        "published_ids": set(published),
        "planted": {
            "exact_dup": exact_dup_id,
            "near_dup": near_dup_id,
            "internal_dup": internal_dup_id,
            "gate_fail": gate_fail_id,
            "contaminated": contaminated_id,
            "bench_id": bench_id,
            "reuse_near": reuse_near_id,
        },
    }


def _appended_ids(spark, setup):
    from agf_data_ingestion_spark.sources.snapshots import snapshot_read

    rel = setup["rel"]
    all_ids = {
        r["doc_id"]
        for r in snapshot_read(spark, rel["tables"]["shards"])
        .select("doc_id")
        .collect()
    }
    return all_ids - setup["published_ids"]


def test_planted_cases(spark, setup):
    appended = _appended_ids(spark, setup)
    pl = setup["planted"]
    assert pl["exact_dup"] not in appended  # dropped vs published hashes
    assert pl["near_dup"] not in appended  # dropped vs published bands
    assert pl["internal_dup"] not in appended  # within-batch keep-first
    assert pl["gate_fail"] not in appended  # rule gate
    # every appended doc is one of the crafted good docs or the reused-id
    # plant, and the first good doc (the internal dup's keeper) survived
    assert appended <= set(setup["good_ids"]) | {pl["reuse_near"]}
    assert setup["good_ids"][0] in appended
    assert len(appended) >= len(setup["good_ids"]) // 2


def test_neardup_scores_against_published_set_on_reused_id(spark, setup):
    """ADVICE medium: a batch doc reusing a published id but dropped at
    exact dedup with different text must not stand in for the published
    set on the near-dup dup side — the published row wins."""
    assert setup["planted"]["reuse_near"] in _appended_ids(spark, setup)


def test_incremental_decontam(spark, setup):
    """r10 (ADVICE r9 medium): a batch doc sharing shingles with the
    held-out benchmark set — or claiming a benchmark id — is dropped by
    the decontam stage probing the txn-published bench store; the stage
    delta attributes exactly those two drops to decontamination."""
    appended = _appended_ids(spark, setup)
    pl = setup["planted"]
    assert pl["contaminated"] not in appended
    assert pl["bench_id"] not in appended
    stages = {s["name"]: s["rows_out"] for s in setup["rep"]["stages"]}
    assert stages["neardup"] - stages["decontam"] == 2, stages


def test_shard_continuation_and_lineage(spark, setup):
    from agf_data_ingestion_spark.sources.snapshots import snapshot_read

    rel, rep = setup["rel"], setup["rep"]
    lin = snapshot_read(spark, rel["tables"]["lineage"]).collect()
    old = [r for r in lin if r["doc_id"] in setup["published_ids"]]
    new = [r for r in lin if r["doc_id"] not in setup["published_ids"]]
    assert new
    assert min(r["shard_id"] for r in new) == rep["first_new_shard"]
    assert rep["first_new_shard"] == max(r["shard_id"] for r in old) + 1
    # lineage is a disjoint exact cover of the shards table
    shards_ids = {
        r["doc_id"]
        for r in snapshot_read(spark, rel["tables"]["shards"])
        .select("doc_id")
        .collect()
    }
    assert {r["doc_id"] for r in lin} == shards_ids
    # global_pos continues densely from the published tail
    pos = sorted(r["global_pos"] for r in snapshot_read(
        spark, rel["tables"]["shards"]).select("global_pos").collect())
    assert pos == list(range(1, len(pos) + 1))


def test_index_and_stores_cover_union(spark, setup):
    from agf_data_ingestion_spark.operators.text_index import _encode
    from agf_data_ingestion_spark.sources.snapshots import snapshot_read

    rel = setup["rel"]
    docs = snapshot_read(spark, rel["tables"]["shards"]).select("doc_id", "text")
    fresh = _encode(docs, "text", "doc_id")
    got = snapshot_read(spark, rel["tables"]["postings"])
    assert fresh.count() == got.count()
    assert (
        fresh.agg(F.sum("tf")).collect()[0][0]
        == got.agg(F.sum("tf")).collect()[0][0]
    )
    n_docs = docs.count()
    stats = snapshot_read(spark, rel["tables"]["stats"])
    assert int(stats.agg(F.sum("n_docs")).collect()[0][0]) == n_docs
    doc_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    for store in ("hashes", "sets"):
        ids = {
            r["doc_id"]
            for r in snapshot_read(spark, rel["tables"][store])
            .select("doc_id")
            .collect()
        }
        assert ids == doc_ids, store
    band_ids = {
        r["doc_id"]
        for r in snapshot_read(spark, rel["tables"]["bands"])
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert band_ids == doc_ids


def test_txn_atomicity_and_time_travel(spark, setup):
    from agf_data_ingestion_spark.sources.snapshots import (
        snapshot_read_txn,
        snapshot_txn_versions,
    )

    rel, rep = setup["rel"], setup["rep"]
    tables = sorted(rel["tables"].values())
    versions, tid = snapshot_txn_versions(tables)
    assert tid == rep["txn"]["id"] != rel["txn"]["id"]
    assert rep["base_txn"] == rel["txn"]["id"]
    # the BASE release is still addressable as a coherent txn
    base = snapshot_read_txn(spark, tables, txn_id=rel["txn"]["id"])
    assert base[rel["tables"]["shards"]].count() == len(setup["published_ids"])
    # and published rows are byte-stable across the increment
    now = snapshot_read_txn(spark, tables, txn_id=rep["txn"]["id"])
    pub_now = {
        r["doc_id"]
        for r in now[rel["tables"]["shards"]]
        .filter(F.col("doc_id") < 1_000_000)
        .select("doc_id")
        .collect()
    }
    assert pub_now == setup["published_ids"]


def test_append_stage_walls_add_up(setup):
    """Each append stage's wall runs from the end of the previous stage,
    so building a stage frame (the probes, the candidate joins) counts:
    the stage walls cover the run less the resolve_and_policy and
    verify_and_report segments."""
    rep = setup["rep"]
    assert set(rep["segments"]) == {
        "resolve_and_policy",
        "gates_and_probes",
        "wfq_assign",
        "publish",
        "verify_and_report",
    }
    walls = sum(s["wall_s"] for s in rep["stages"])
    span = (
        rep["wall_s"]
        - rep["segments"]["resolve_and_policy"]
        - rep["segments"]["verify_and_report"]
    )
    assert abs(walls - span) <= 0.1, (walls, span)


# ---------------------------------------------------------------------------
# r11 (VERDICT r10 ask #3): the probe IN-lists are routed — above
# _PROBE_INLIST_MAX distinct keys each store probe becomes a range-pruned
# scan + shuffle-hash semi-join instead of a driver-collected IN-list.
# ---------------------------------------------------------------------------


def test_probe_store_join_branch_equals_inlist(spark, tmp_path):
    """Both probe branches return the same store rows; the flag reports
    which branch ran (callers broadcast only on the IN-list branch)."""
    from agf_data_ingestion_spark.operators.curation import _probe_store
    from agf_data_ingestion_spark.sources.snapshots import snapshot_write

    store = str(tmp_path / "store")
    rows = [(f"k{i:04d}", i) for i in range(200)]
    snapshot_write(
        spark.createDataFrame(rows, "h string, v long"),
        store,
        mode="overwrite",
        cluster_by=["h"],
    )
    keys = spark.createDataFrame(
        [(f"k{i:04d}",) for i in range(50, 120)] + [("absent",)], "h string"
    )
    small, used_inlist = _probe_store(spark, keys, store, "h", limit=1000)
    big, used_join = _probe_store(spark, keys, store, "h", limit=3)
    assert used_inlist is True and used_join is False
    a = sorted(map(tuple, small.collect()))
    b = sorted(map(tuple, big.collect()))
    assert a == b
    assert len(a) == 70  # the 70 present keys, 'absent' matches nothing

    # ADVICE r11: an EMPTY key set must match NOTHING — the old
    # where=None path returned the whole store marked broadcastable.
    none_df, used = _probe_store(
        spark, spark.createDataFrame([], "h string"), store, "h"
    )
    assert used is True
    assert none_df.count() == 0
    assert none_df.columns == ["h", "v"]


def test_incremental_probe_join_fallback_end_to_end(
    spark, setup, monkeypatch
):
    """Force every probe onto the join branch (guard=0) and re-submit the
    already-published good docs as exact dups plus near-dup perturbations
    — the hashes/bands/sets probes must drop ALL of them through the
    semi-join path, appending nothing new (existing O(batch) pins keep
    the IN-list branch covered)."""
    from agf_data_ingestion_spark.operators import curation

    monkeypatch.setattr(curation, "_PROBE_INLIST_MAX", 0)
    before = _appended_ids(spark, setup)
    rel = setup["rel"]

    from agf_data_ingestion_spark.sources.snapshots import snapshot_read

    pub = sorted(
        snapshot_read(spark, rel["tables"]["shards"])
        .select(*_DOC_COLS)
        .collect(),
        key=lambda r: r["doc_id"],
    )[:6]
    rows = []
    for i, g in enumerate(pub):
        # exact dup (hashes probe) ...
        rows.append((2_000_000 + i, g["text"], g["lang"], g["source"], len(g["text"])))
        # ... and a near-dup perturbation (bands + sets probes)
        words = g["text"].split()
        for j in range(0, len(words), 5):
            words[j] = f"zj{j}"
        nt = " ".join(words)
        rows.append((2_000_100 + i, nt, g["lang"], g["source"], len(nt)))
    batch = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    import os

    out_root = os.path.dirname(rel["tables"]["shards"])
    rep = curation.curate_incremental(
        spark, batch, out_root, batch_label="probe_join", seed="0",
        budget_tokens=2000,
    )
    by_name = {s["name"]: s["rows_out"] for s in rep["stages"]}
    assert by_name["exact_dedup"] <= len(pub)  # exact dups dropped via join probe
    after = _appended_ids(spark, setup)
    assert after == before, f"join-branch probes let dups through: {after - before}"
