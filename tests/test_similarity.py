"""Similarity-operator tests: numeric correctness of the fold-based
dot/norm against numpy, and ANN recall against the brute-force baseline."""

from __future__ import annotations

import numpy as np
import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def ground_truth():
    import pyarrow.parquet as pq

    e = pq.read_table(f"{SF}/embeddings.parquet").to_pandas()
    V = np.vstack(e.embedding.values).astype(np.float64)
    ids = e.vec_id.values
    return ids, V


def test_fold_norms_match_numpy(spark, ground_truth):
    from agf_data_ingestion_spark.plans.similarity import emb_array_fold

    ids, V = ground_truth
    got = {r["vec_id"]: r for r in emb_array_fold(spark, SF).collect()}
    norms = np.linalg.norm(V, axis=1)
    sums = V.sum(axis=1)
    for i, vid in enumerate(ids[:50]):
        assert got[vid]["dim"] == V.shape[1]
        assert abs(got[vid]["l2_norm"] - norms[i]) < 1e-9
        assert abs(got[vid]["elem_sum"] - sums[i]) < 1e-9


def test_brute_topk_matches_numpy(spark, ground_truth):
    from agf_data_ingestion_spark.plans.similarity import _N_QUERIES, _TOPK, emb_cosine_topk

    ids, V = ground_truth
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    sims = Vn @ Vn.T
    got = {}
    for r in emb_cosine_topk(spark, SF).collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"], r["cosine"]))
    idx = {v: i for i, v in enumerate(ids)}
    for q in range(_N_QUERIES):
        row = sims[idx[q]].copy()
        row[idx[q]] = -np.inf
        expect = set(np.argsort(-row)[:_TOPK])
        got_n = {idx[n] for _, n, _ in got[q]}
        assert got_n == expect, f"query {q}"
        for _, n, c in got[q]:
            assert abs(c - sims[idx[q], idx[n]]) < 1e-9


def _lsh_recall(spark, sf_dir):
    from agf_data_ingestion_spark.plans.similarity import emb_ann_lsh_topk, emb_cosine_topk

    brute = {}
    for r in emb_cosine_topk(spark, sf_dir).collect():
        brute.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    ann = {}
    for r in emb_ann_lsh_topk(spark, sf_dir).collect():
        ann.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    # every ANN result must be a real vector with sane cosine
    for q, ns in ann.items():
        assert q not in ns
    hits = sum(len(brute[q] & ann.get(q, set())) for q in brute)
    total = sum(len(brute[q]) for q in brute)
    assert total > 0
    return hits, total


def test_ann_recall_vs_brute(spark):
    # multi-probe LSH (2 lowest-margin flips/table): measured 14/15 at
    # sf0.001 (was 11/15 base-bucket-only); pin with headroom for
    # regenerated testdata
    hits, total = _lsh_recall(spark, SF)
    assert hits / total >= 0.6, f"recall {hits}/{total}"


def test_ann_recall_holds_at_scale(spark):
    """The r3 finding was recall DECAY with corpus growth (11/15 at
    sf0.001 -> 8/15 at sf0.01 with base buckets only).  Multi-probe holds
    it: measured 15/15 at sf0.01.  Pinned at the VERDICT bar (>= 12/15)."""
    hits, total = _lsh_recall(spark, "/root/testdata/sf0.01")
    assert hits / total >= 0.8, f"recall {hits}/{total}"


def test_neardup_grid_salt_identical_on_skewed_cells(spark, tmp_path):
    """The grid salt is a physical redistribution only: on a fixture with one
    hot label (well above the salt threshold) the salted plan must return the
    exact same pair set and cosines as the unsalted self-join."""
    import pandas as pd

    from agf_data_ingestion_spark.plans.similarity import emb_neardup_by_label

    rng = np.random.RandomState(7)
    n_hot, n_cold, dim = 240, 30, 16
    base = rng.randn(dim)
    rows = []
    for i in range(n_hot):  # hot label: correlated vectors → many pairs
        rows.append((i, (base + 0.7 * rng.randn(dim)).astype(np.float32), 0))
    for i in range(n_cold):
        rows.append((n_hot + i, rng.randn(dim).astype(np.float32), 1 + i % 3))
    pdf = pd.DataFrame(
        {"vec_id": [r[0] for r in rows],
         "embedding": [r[1].tolist() for r in rows],
         "label": [r[2] for r in rows]}
    )
    sf_dir = str(tmp_path)
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.Table.from_pandas(pdf, schema=pa.schema([
        ("vec_id", pa.int64()),
        ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32()),
    ]))
    pq.write_table(tbl, f"{sf_dir}/embeddings.parquet")

    def rows_of(df):
        return sorted(
            (r["vec_a"], r["vec_b"], r["label"], round(r["cosine"], 12))
            for r in df.collect()
        )

    naive = rows_of(
        emb_neardup_by_label(spark, sf_dir, salt_threshold=10**9, salt_g=1)
    )
    salted = rows_of(
        emb_neardup_by_label(spark, sf_dir, salt_threshold=100, salt_g=4)
    )
    assert len(naive) > 0
    assert salted == naive


def test_ivf_recall_vs_brute(spark):
    from agf_data_ingestion_spark.plans.similarity import emb_cosine_topk, emb_ivf_topk

    brute = {}
    for r in emb_cosine_topk(spark, SF).collect():
        brute.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    ivf = {}
    rows = emb_ivf_topk(spark, SF).collect()
    for r in rows:
        ivf.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    # nprobe=2 of ~10 label cells: most true neighbors share the query's
    # cell (labels correlate with embedding clusters in the testdata)
    hits = sum(len(brute[q] & ivf.get(q, set())) for q in brute)
    total = sum(len(brute[q]) for q in brute)
    assert total > 0
    assert hits / total >= 0.2, f"recall {hits}/{total}"
    for q, ns in ivf.items():
        assert q not in ns
    # ranks are contiguous from 1 per query
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_sq_adc_recall_vs_brute(spark):
    from agf_data_ingestion_spark.plans.similarity import (
        emb_cosine_topk,
        emb_sq_adc_topk,
    )

    brute = {}
    for r in emb_cosine_topk(spark, SF).collect():
        brute.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    adc = {}
    for r in emb_sq_adc_topk(spark, SF).collect():
        adc.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    # int8 codes rank a 4k shortlist, exact cosine re-ranks: near-perfect
    # recall expected (quantization only perturbs the shortlist boundary)
    hits = sum(len(brute[q] & adc.get(q, set())) for q in brute)
    total = sum(len(brute[q]) for q in brute)
    assert total > 0
    assert hits / total >= 0.8, f"recall {hits}/{total}"
    for q, ns in adc.items():
        assert q not in ns


def test_matryoshka_recall_vs_brute(spark):
    from agf_data_ingestion_spark.plans.similarity import (
        emb_cosine_topk,
        emb_matryoshka_topk,
    )

    brute = {}
    for r in emb_cosine_topk(spark, SF).collect():
        brute.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    mat = {}
    rows = emb_matryoshka_topk(spark, SF).collect()
    for r in rows:
        mat.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    # a 20-deep prefix shortlist over a 64-dim space recovers most of the
    # exact top-3 (the prefix carries 1/4 of the variance)
    hits = sum(len(brute[q] & mat.get(q, set())) for q in brute)
    total = sum(len(brute[q]) for q in brute)
    assert total > 0
    assert hits / total >= 0.5, f"recall {hits}/{total}"
    for r in rows:
        assert r["neighbor_id"] != r["query_id"]
        assert -1.0001 <= r["cosine"] <= 1.0001
        assert 1 <= r["rank"] <= 3


def test_matryoshka_corpus_never_broadcast(spark):
    from agf_data_ingestion_spark.plans.similarity import emb_matryoshka_topk

    plan = (
        emb_matryoshka_topk(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # every BroadcastExchange input must be query- or shortlist-sized; the
    # full corpus scan appears only as a streamed (non-broadcast) side.
    # Structural proxy: no SortMergeJoin (all joins broadcast the SMALL
    # side), and the only joins present are broadcast ones.
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_pq_adc_recall_vs_brute(spark):
    """PQ-ADC (seeded codebook + one Lloyd round + MIPS LUT): measured
    12/15 at sf0.001 and 13/15 at sf0.01; pinned with headroom."""
    from agf_data_ingestion_spark.plans.similarity import emb_cosine_topk, emb_pq_adc_topk

    for sf, floor_ in ((SF, 0.6), ("/root/testdata/sf0.01", 0.6)):
        brute = {}
        for r in emb_cosine_topk(spark, sf).collect():
            brute.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        ann = {}
        for r in emb_pq_adc_topk(spark, sf).collect():
            ann.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        for q, ns in ann.items():
            assert q not in ns
        hits = sum(len(brute[q] & ann.get(q, set())) for q in brute)
        total = sum(len(brute[q]) for q in brute)
        assert total > 0
        assert hits / total >= floor_, f"{sf}: recall {hits}/{total}"


def _recall_of(spark, sf_dir, query_fn):
    from agf_data_ingestion_spark.plans.similarity import emb_cosine_topk

    brute = {}
    for r in emb_cosine_topk(spark, sf_dir).collect():
        brute.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    got = {}
    for r in query_fn(spark, sf_dir).collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for q, ns in got.items():
        assert q not in ns
    hits = sum(len(brute[q] & got.get(q, set())) for q in brute)
    total = sum(len(brute[q]) for q in brute)
    assert total > 0
    return hits, total


def test_ivfpq_recall_vs_brute(spark):
    """IVF-PQ composed index (r5): measured 14/15 at sf0.001 and 13/15 at
    sf0.01 AND sf0.1 — at the flat-PQ rung's level while scanning only the
    probed cells' codes.  Pinned with headroom for regenerated testdata
    (the corpus is near-isotropic, so recall here is noise-sensitive; the
    bar matches the multi-probe LSH pin)."""
    from agf_data_ingestion_spark.plans.similarity import emb_ivfpq_topk

    hits, total = _recall_of(spark, SF, emb_ivfpq_topk)
    assert hits / total >= 0.8, f"recall {hits}/{total}"


def test_ivfpq_recall_holds_at_scale(spark):
    """Corpus-growth check (the r3 LSH lesson): recall must not decay with
    corpus size — measured 13/15 at sf0.01 (= the flat PQ rung's 13/15)."""
    from agf_data_ingestion_spark.plans.similarity import emb_ivfpq_topk

    hits, total = _recall_of(spark, "/root/testdata/sf0.01", emb_ivfpq_topk)
    assert hits / total >= 0.8, f"recall {hits}/{total}"


def test_ivfpq_layout_composition(spark, tmp_path):
    """End-to-end composition with the partitioned ANN layout: persist the
    IVF-PQ coarse assignment partitionBy(cell), then scan each query's
    probe list through read_probe_cells — the scan must plan
    PartitionFilters (unprobed cell dirs pruned) and return exactly the
    vectors the in-plan candidate generator uses."""
    from agf_data_ingestion_spark.plans.similarity import (
        _IVFPQ_NPROBE,
        ivfpq_assignments,
        ivfpq_probes,
    )
    from agf_data_ingestion_spark.sources.ann_layout import (
        read_probe_cells,
        write_ivf_layout,
    )

    table = str(tmp_path / "corpus")
    assigned = ivfpq_assignments(spark, SF)
    write_ivf_layout(assigned, table)
    probes = {}
    for r in ivfpq_probes(spark, SF).collect():
        probes.setdefault(r["query_id"], []).append(r["cell"])
    assert probes and all(len(cs) == _IVFPQ_NPROBE for cs in probes.values())
    amap = {}
    for r in assigned.collect():
        amap.setdefault(r["cell"], set()).add(r["vec_id"])
    q, cells = sorted(probes.items())[0]
    df = read_probe_cells(spark, table, cells)
    got = {r["vec_id"] for r in df.select("vec_id").collect()}
    expected = set().union(*(amap[c] for c in cells))
    assert got == expected
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


# ---------------------------------------------------------------------------
# ANN recall-vs-cost operating curve (OP-X-RECALLCURVE, r9)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def recall_curve(spark):
    from agf_data_ingestion_spark.plans.similarity import emb_ann_recall_curve

    return {
        (r["method"], int(r["probes"]), int(r["shortlist"])): (
            int(r["hits"]),
            int(r["n_gt"]),
        )
        for r in emb_ann_recall_curve(spark, SF).collect()
    }


def test_recall_curve_monotone(recall_curve):
    """Recall never decreases along the knobs that only ADD candidates
    without re-ranking: LSH probes (candidate set nests: minlev ≤ p is
    monotone in p) and the IVF-PQ shortlist at fixed probes (bc_np is
    fixed; a larger cutoff only admits more).  Probing MORE CELLS at a
    FIXED shortlist is deliberately NOT asserted: extra cells add ADC
    competitors that can evict a true neighbor from the shortlist, so
    that axis can dip — which is exactly why deployers need the curve
    (observed: lsh-family ivfpq hits dropped 3→2 raising nprobe at
    shortlist=4 on one generated corpus)."""
    from agf_data_ingestion_spark.plans.similarity import (
        _RC_LSH_MAXP,
        _RC_NPROBES,
        _RC_SHORTLISTS,
    )

    for p in range(_RC_LSH_MAXP):
        assert recall_curve[("lsh", p, 0)][0] <= recall_curve[("lsh", p + 1, 0)][0]
    for np_ in _RC_NPROBES:
        for a, b in zip(_RC_SHORTLISTS, _RC_SHORTLISTS[1:]):
            assert (
                recall_curve[("ivfpq", np_, a)][0]
                <= recall_curve[("ivfpq", np_, b)][0]
            )


def test_recall_curve_matches_actual_runs(spark, recall_curve):
    """The membership-shortcut curve agrees with ACTUALLY RUNNING the
    ANN queries at their production settings: hits at the deployed
    setting == |ANN top-k ∩ exact top-k| computed from the real result
    frames.  (LSH deploys probes=_ANN_PROBES; IVF-PQ deploys
    (_IVFPQ_NPROBE, _IVFPQ_SHORTLIST) — both inside the curve grid.)"""
    from agf_data_ingestion_spark.plans.similarity import (
        _ANN_PROBES,
        _IVFPQ_NPROBE,
        _IVFPQ_SHORTLIST,
        emb_ann_lsh_topk,
        emb_cosine_topk,
        emb_ivfpq_topk,
    )

    gt = {
        (r["query_id"], r["neighbor_id"])
        for r in emb_cosine_topk(spark, SF).collect()
    }
    lsh = {
        (r["query_id"], r["neighbor_id"])
        for r in emb_ann_lsh_topk(spark, SF).collect()
    }
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in emb_ivfpq_topk(spark, SF).collect()
    }
    assert recall_curve[("lsh", _ANN_PROBES, 0)][0] == len(gt & lsh)
    assert recall_curve[("ivfpq", _IVFPQ_NPROBE, _IVFPQ_SHORTLIST)][0] == len(
        gt & ivf
    )


def test_recall_curve_n_gt_exact(recall_curve):
    from agf_data_ingestion_spark.plans.similarity import _N_QUERIES, _TOPK

    assert all(n == _N_QUERIES * _TOPK for _h, n in recall_curve.values())


def test_ivfpq_merge_negative_keys_only_as_query_rows():
    """The driver merge of `_ivfpq_grouped_sums` sums partials per key and
    reads a negative key as a query pseudo-row −(vec_id+1) only when the
    scan was asked to carry query rows; otherwise a negative key raises
    instead of being dropped from the merge."""
    from agf_data_ingestion_spark.plans.similarity import _ivfpq_merge_partials

    rows = [
        {"k": 3, "s": [1, 2], "n": 1},
        {"k": 3, "s": [10, 20], "n": 2},
        {"k": 0, "s": [5, 5], "n": 4},
        {"k": -8, "s": [7, 9], "n": -1},
    ]
    merged, queries = _ivfpq_merge_partials(rows, query_ids_below=10)
    assert {k: (v[0].tolist(), v[1]) for k, v in merged.items()} == {
        3: ([11, 22], 3),
        0: ([5, 5], 4),
    }
    assert {k: v.tolist() for k, v in queries.items()} == {7: [7, 9]}
    with pytest.raises(ValueError, match="negative group key -8"):
        _ivfpq_merge_partials(rows, query_ids_below=None)
    merged, queries = _ivfpq_merge_partials(rows[:3], query_ids_below=None)
    assert sorted(merged) == [0, 3] and queries == {}
