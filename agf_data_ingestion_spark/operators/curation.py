"""End-to-end training-corpus curation pipeline (OP-X-CURATE, r9 —
VERDICT r8 ask #1): raw corpus → training shards as ONE measured run,
published atomically.

The reference system's whole point is an end-to-end pipeline (its
CLAUDE.md data-flow diagram: lake → parse → derive → catalog → export,
agf_ingestion_lambda.py:187-454 feeding agf_zip_generator_lambda.py) —
this module is that hand-off re-expressed for LLM training consumers,
composing the already-oracle-checked catalog stages into one artifact:

    rule gate        docs_quality_gate      (plans/text.py)
    exact dedup      md5 keep-first window  (cmd_curate semantics)
    near-dup dedup   docs_dup_clusters      (plans/text.py)
    decontamination  docs_contamination     (plans/training_data.py)
    quality cut      trained model + the docs_quality_pr_curve threshold
    DoReMi weights   domain_reweight_frame  (plans/mixing.py)
    WFQ interleave   weighted_interleave    (operators/shards.py)
    shard assignment assign_shards          (operators/shards.py)

and PUBLISHING {shards, lineage, datacard, index(postings+stats), probe
stores (hashes/bands/sets + the r10 benchmark shingle store), policy}
in a single ``snapshot_multi_write`` transaction — a trainer either sees
the whole release or none of it, and ``snapshot_read_txn`` pins every
consumer to the same publish event.

Determinism: every stage is a pure function of row values (no
partition-id, no sampled boundary leaks — assign_shards' two-pass prefix
sum is bit-deterministic by construction), so the pipeline output is
bit-identical to running the stages one at a time with parquet
materialization between them (pinned in tests/test_curation.py).

Scale shape per stage (the 100 TB story):

* every gate moves only (doc_id)-shaped survivor frames; the corpus
  text rides through semi-joins hash-partitioned on doc_id;
* the quality cut is the single-exchange apply shape (broadcast
  model, map-side partial collapse to 1 row/doc, then a per-language
  window over doc-count score rows — never the corpus text);
* DoReMi touches the corpus once (groupBy(source) with map-side
  partials) and iterates on the K-row domain table;
* WFQ + sharding: one per-source window + the bounded two-pass prefix
  sum (driver traffic ≤ partition count);
* the publish writes the corpus text exactly once (the shards table);
  lineage/datacard/stats are metadata-sized, postings are the usual
  token-clustered index build.

Each stage boundary is ONE Spark job (``_materialize``): an eager
``localCheckpoint`` whose row count rides the same job as an
``Observation``, so no stage's plan is recomputed by downstream actions
and the funnel count costs no job of its own.  Each stage's wall runs
from the end of the previous stage (``_Clock``), so the walls add up to
the run.  The ten-table release layout is declared once (``_RELEASE``).
"""

from __future__ import annotations

import os
import time
from fractions import Fraction

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from agf_data_ingestion_spark.plans.base import t

#: per-language quantile resolution of the quality cut — the PR curve's
#: tile count (plans/quality_model._PR_TILES); the chosen cut_tile c
#: means "keep docs whose per-language ntile > c"
_CUT_TILES = 20

#: canonical documents-table column set carried through every stage
_DOC_COLS = ("doc_id", "text", "lang", "source", "n_chars")

#: the release layout: each of the ten tables' path under the release
#: root, its cluster-by keys and its bloom columns.  The cluster+bloom'd
#: stores are the ones a later batch probes with PRUNED reads
#: (O(batch + collisions), never a corpus scan).  Every reader and writer
#: of a release resolves its paths through ``_release_tables``.
_RELEASE: dict[str, tuple[tuple[str, ...], list[str] | None, list[str] | None]] = {
    "shards": (("shards",), ["shard_id", "global_pos"], None),
    "lineage": (("lineage",), ["doc_id"], ["doc_id"]),
    "datacard": (("datacard",), None, None),
    "postings": (("index", "postings"), ["token"], ["token"]),
    "stats": (("index", "stats"), None, None),
    "hashes": (("stores", "hashes"), ["h"], ["h"]),
    "bands": (("stores", "bands"), ["bsig"], ["bsig"]),
    "sets": (("stores", "sets"), None, None),
    "bench": (("stores", "bench"), ["sh"], ["sh"]),
    "policy": (("policy",), None, None),
}


def _release_tables(out_root: str) -> dict[str, str]:
    """{table key: path} of the release rooted at ``out_root``."""
    return {k: os.path.join(out_root, *p) for k, (p, _, _) in _RELEASE.items()}


def _materialize(df: DataFrame) -> tuple[DataFrame, int]:
    """A stage boundary as ONE Spark job: ``(checkpointed_df, rows)``.
    The row count rides the eager ``localCheckpoint`` as an
    ``Observation`` (the components.py convergence-check pattern); a
    ``.count()`` after the checkpoint would cost two more jobs.  A
    STATICALLY-empty plan is returned as is with 0 rows: the optimizer
    prunes an Observation on it and ``obs.get`` would die with a bare
    Py4J assertion (the CLAUDE.md r4 caveat)."""
    from pyspark.sql import Observation

    from agf_data_ingestion_spark.sources.snapshots import _statically_empty

    if _statically_empty(df):
        return df, 0
    obs = Observation()
    out = df.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
    return out, int(obs.get["n"])


class _Clock:
    """The stage recorder: each ``lap`` records ``{"name", "rows_out",
    "wall_s"}`` with the wall running from the end of the previous lap
    (or the clock's start).  The work of BUILDING a stage frame therefore
    counts too (docs_dup_clusters runs its connected-components jobs
    before the neardup checkpoint starts), and the laps add up to the
    span the clock covers."""

    def __init__(self) -> None:
        self.laps: list[dict] = []
        self._t = time.time()

    def lap(self, name: str, rows_out: int | None = None) -> None:
        now = time.time()
        self.laps.append(
            {"name": name, "rows_out": rows_out, "wall_s": round(now - self._t, 3)}
        )
        self._t = now

    def checkpoint(self, name: str, df: DataFrame) -> DataFrame:
        """A document-stage boundary: materialize the canonical columns
        and record the stage with its surviving row count."""
        out, rows = _materialize(df.select(*_DOC_COLS))
        self.lap(name, rows)
        return out


def _publish_release(
    assigned: DataFrame,
    extra: dict[str, DataFrame],
    tbls: dict[str, str],
    *,
    mode: str,
    op: str,
    cluster_files: dict[str, int] | None = None,
) -> dict[str, int]:
    """Publish a release's ten tables as ONE ``snapshot_multi_write``
    transaction — a trainer either sees the whole release or none of it.
    The shards table is ``assigned`` itself; lineage, index postings and
    stats, and the hashes/bands/sets probe stores are all derived from it
    HERE, so the stores an append probes cannot drift in shape from the
    stores the release wrote.  ``extra`` supplies the datacard, bench and
    policy frames; ``cluster_files`` maps a table key to a file-count
    target.  Returns {table path: committed version}."""
    from agf_data_ingestion_spark.operators.text_index import _batch_stats, _encode
    from agf_data_ingestion_spark.plans.text import _lsh_bands, _shingles, _sigs_of
    from agf_data_ingestion_spark.sources.snapshots import snapshot_multi_write

    postings = _encode(assigned.select("doc_id", "text"), "text", "doc_id")
    frames = {
        "shards": assigned,
        "lineage": assigned.select("doc_id", "shard_id", "n_tokens"),
        "postings": postings,
        "stats": _batch_stats(postings),
        # incremental-probe stores (r9): the published corpus's exact-dup
        # hashes, MinHash band keys and shingle sets, published in the
        # SAME txn so a batch can never probe stores from a different
        # release than the shards it extends (see curate_incremental)
        "hashes": assigned.select("doc_id", F.md5(F.lower(F.col("text"))).alias("h")),
        "bands": _lsh_bands(_sigs_of(assigned.select("doc_id", "text"))),
        "sets": assigned.select("doc_id", _shingles().alias("sset")).withColumn(
            "sz", F.size("sset")
        ),
        **extra,
    }
    return snapshot_multi_write(
        [(frames[k], tbls[k]) for k in _RELEASE],
        mode=mode,
        op=op,
        cluster_by={tbls[k]: c for k, (_, c, _) in _RELEASE.items() if c},
        bloom_cols={tbls[k]: b for k, (_, _, b) in _RELEASE.items() if b},
        cluster_files={tbls[k]: n for k, n in (cluster_files or {}).items()},
    )


def stage_rule_gate(spark: SparkSession, sf_dir: str, docs: DataFrame) -> DataFrame:
    """Gopher-style rule gate: semi-join against the keep set of
    ``docs_quality_gate`` — the gate itself is a map-only projection."""
    from agf_data_ingestion_spark.plans.text import docs_quality_gate

    keep = docs_quality_gate(spark, sf_dir).filter(F.col("keep")).select("doc_id")
    return docs.join(keep, "doc_id", "left_semi")


def stage_exact_dedup(docs: DataFrame) -> DataFrame:
    """Keep the lowest-doc_id copy of each exact (case-folded) text —
    chosen AMONG the current survivors so a group whose global
    representative was gated out keeps its surviving copy (the
    cmd_curate rule).  One shuffle on the md5 hash."""
    w = Window.partitionBy(F.md5(F.lower(F.col("text")))).orderBy(F.asc("doc_id"))
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def batch_exact_dedup(docs: DataFrame) -> DataFrame:
    """Batch-internal exact dedup over a PRECOMPUTED ``_h`` content hash:
    keep the lowest-doc_id row per hash.  The curate_incremental inline
    window, extracted so the structural sweep can walk its plan
    (plan_registry, r12); partitions on the hash — corpus-cardinality at
    any scale."""
    w_exact = Window.partitionBy("_h").orderBy(F.asc("doc_id"))
    return (
        docs.withColumn("_rn", F.row_number().over(w_exact))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def stage_neardup(spark: SparkSession, sf_dir: str, docs: DataFrame) -> DataFrame:
    """Near-duplicate collapse: cluster labels from the FULL-corpus LSH
    graph (edges through gated-out members still connect their surviving
    neighbors); keep the lowest-id SURVIVOR of each cluster."""
    from agf_data_ingestion_spark.plans.text import docs_dup_clusters

    labels = docs_dup_clusters(spark, sf_dir)
    w = Window.partitionBy("cluster_id").orderBy(F.asc("doc_id"))
    return (
        docs.join(labels, "doc_id")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "cluster_id")
    )


def stage_decontam(spark: SparkSession, sf_dir: str, docs: DataFrame) -> DataFrame:
    """Benchmark decontamination: drop documents sharing any shingle with
    the held-out benchmark set AND the benchmark documents themselves
    (a training release must not contain the eval set it was scrubbed
    against).  The contaminated side is (doc_id)-shaped; broadcast."""
    from agf_data_ingestion_spark.plans.training_data import (
        _BENCH_DOCS,
        docs_contamination,
    )

    contaminated = docs_contamination(spark, sf_dir).select("doc_id")
    return docs.filter(F.col("doc_id") >= _BENCH_DOCS).join(
        contaminated, "doc_id", "left_anti"
    )


def pick_cut_tile(spark: SparkSession, sf_dir: str) -> int:
    """Choose the operating threshold from the PR curve: the ``cut_tile``
    maximizing F1 on the planted held-out labels, compared as EXACT
    rationals (F1 = 2tp/(2tp+fp+fn); Fraction avoids any float tie
    ambiguity); ties break toward the smallest (most permissive) cut.
    The curve is ≤ 19 rows — driver-side by design."""
    from agf_data_ingestion_spark.plans.quality_model import docs_quality_pr_curve

    rows = docs_quality_pr_curve(spark, sf_dir).collect()
    if not rows:
        return 0
    best = max(
        rows,
        key=lambda r: (
            Fraction(2 * r["tp"], max(1, 2 * r["tp"] + r["fp"] + r["fn"])),
            -r["cut_tile"],
        ),
    )
    return int(best["cut_tile"])


def score_quality(weights: DataFrame, docs: DataFrame) -> DataFrame:
    """(doc_id, _score): int64 hashed-bigram dot product of each doc's
    REAL text against a (bucket, weight) model frame — the single-
    exchange apply shape (broadcast model, map-side partial collapse)."""
    from agf_data_ingestion_spark.plans.quality_model import _D

    # char-array bigrams (the r10 O(len^2)-substr fix — substr(text, i)
    # scans codepoints from the string start; see quality_model._bigrams)
    bg = (
        docs.filter(F.length("text") >= 2)
        .select("doc_id", F.split("text", "").alias("cs"))
        .select(
            "doc_id",
            "cs",
            F.explode(F.sequence(F.lit(1), F.size("cs") - 1)).alias("i"),
        )
        .select(
            "doc_id",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.element_at("cs", F.col("i")),
                                F.element_at("cs", F.col("i") + 1),
                            )
                        ),
                        1,
                        6,
                    ),
                    16,
                    10,
                ).cast("long")
                % _D
            ).alias("bucket"),
        )
    )
    scores = (
        bg.join(F.broadcast(weights.select("bucket", "weight")), "bucket", "left")
        .groupBy("doc_id")
        .agg(F.coalesce(F.sum("weight"), F.lit(0)).cast("long").alias("_score"))
    )
    return docs.select("doc_id").join(scores, "doc_id", "left").na.fill({"_score": 0})


def quality_model_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained (bucket, weight) model frame (plans/quality_model.py).
    Rides the family's cached bigram frame (r12 `_bg`): inside
    curate_full, pick_cut_tile's pr_curve has already materialized it,
    so training the scoring weights is a cache read, not a third corpus
    explode."""
    from agf_data_ingestion_spark.plans.quality_model import _bg, _weights

    return _weights(_bg(spark, sf_dir)).select("bucket", "weight")


def stage_quality_cut(
    spark: SparkSession,
    sf_dir: str,
    docs: DataFrame,
    cut_tile: int,
    *,
    caches: list[DataFrame] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Trained-quality threshold: score each surviving document's REAL
    text with the planted-corpus model (hashed character-bigram weights,
    plans/quality_model.py) and keep the top ``(N−c)/N`` quantile of
    every language — the exact policy whose operating curve
    ``docs_quality_pr_curve`` sweeps, applied at the curve-chosen cut.

    Returns ``(survivors, thresholds)`` where thresholds is the
    (lang, value) frame of each language's MINIMUM kept score — the
    frozen per-language boundary the INCREMENTAL path gates later
    batches against (quantiles are a release-time decision; a batch is
    scored against the published policy, not re-quantiled).

    Single-exchange shape: bigram rows LEFT-join the broadcast ≤4096-row
    model, ONE groupBy(doc_id) collapses map-side to a row per doc, and
    the per-language cut ranks doc-count score rows (never text) —
    SKEW-ROUTED (r11; operators/skew.py ``route_salted``): at scale the
    per-lang ntile runs through salted_rank_intkey + the exact integer
    ntile replay, bit-identical to the plain window.  This is the
    PRODUCTION twin of the docs_quality_pr_curve routing, inside
    curate_full where the catalog plan sweep cannot see it.

    r13 (VERDICT r12 ask #3): the kept-tile frame is CACHED — it has two
    consumers (the thresholds collect and the survivors semi-join), and
    uncached each replayed the whole real-text bigram scoring pass, i.e.
    the release paid the corpus bigram explode twice.  The cache is the
    narrow (doc_id, lang, _score) per-doc frame (the r4 rule); one
    scoring pass per release.  Every frame this stage caches is appended
    to ``caches`` when given: the caller unpersists them once both
    consumers have run (`curate_full` does)."""
    from agf_data_ingestion_spark.operators.skew import (
        ntile_expr,
        route_salted,
        salted_rank_intkey,
    )

    w = quality_model_weights(spark, sf_dir)
    scores = score_quality(w, docs)
    sd = docs.select("doc_id", "lang").join(scores, "doc_id")
    if route_salted(docs):
        # narrow per-doc frame, multiply consumed by the decomposition
        sd = sd.cache()
        if caches is not None:
            caches.append(sd)
        tiled = salted_rank_intkey(
            sd, ["lang"], "_score", "doc_id"
        ).withColumn("_tile", ntile_expr("dr", "n_part", _CUT_TILES))
    else:
        tiled = sd.withColumn(
            "_tile",
            F.ntile(_CUT_TILES).over(
                Window.partitionBy("lang").orderBy("_score", "doc_id")
            ),
        )
    kept = (
        tiled.filter(F.col("_tile") > cut_tile)
        .select("doc_id", "lang", "_score")
        .cache()
    )
    if caches is not None:
        caches.append(kept)
    thresholds = kept.groupBy("lang").agg(
        F.min("_score").cast("long").alias("value")
    )
    return (
        docs.join(kept.select("doc_id"), "doc_id", "left_semi"),
        thresholds,
    )


def curate_full(
    spark: SparkSession,
    sf_dir: str,
    out_root: str,
    *,
    budget_tokens: int = 4000,
    seed: str = "0",
    index_cluster_files: int | None = None,
) -> dict:
    """Run the whole curation pipeline and publish the release as ONE
    multi-table transaction.  Returns the funnel report:

    ``{"stages": [{"name", "rows_out", "wall_s"}, ...], "cut_tile": c,
      "weights": {source: weight_ppm}, "n_shards": n, "total_tokens": t,
      "txn": {"id": ..., "versions": {table: v}}, "tables": {...},
      "wall_s": total}``
    """
    from agf_data_ingestion_spark.operators.shards import (
        assign_shards,
        weighted_interleave,
    )
    from agf_data_ingestion_spark.plans.mixing import domain_reweight_frame
    from agf_data_ingestion_spark.plans.training_data import datacard_frame
    from agf_data_ingestion_spark.sources.snapshots import (
        snapshot_read_txn,
        snapshot_txn_id,
    )

    t_run = time.time()
    clock = _Clock()

    docs = clock.checkpoint("input", t(spark, sf_dir, "documents"))
    docs = clock.checkpoint("rule_gate", stage_rule_gate(spark, sf_dir, docs))
    docs = clock.checkpoint("exact_dedup", stage_exact_dedup(docs))
    docs = clock.checkpoint("neardup", stage_neardup(spark, sf_dir, docs))
    docs = clock.checkpoint("decontam", stage_decontam(spark, sf_dir, docs))

    cut = pick_cut_tile(spark, sf_dir)
    qcut_caches: list[DataFrame] = []
    cut_docs, thresholds = stage_quality_cut(
        spark, sf_dir, docs, cut, caches=qcut_caches
    )
    thresh_rows = {r["lang"]: int(r["value"]) for r in thresholds.collect()}
    docs = clock.checkpoint("quality_cut", cut_docs)
    # both consumers of the quality-cut caches (the thresholds collect and
    # the survivors checkpoint) have run: release them so a long-lived
    # session's CacheManager does not grow by a release's worth per call
    # (the curate_incremental rule)
    for _c in qcut_caches:
        _c.unpersist()

    weights = domain_reweight_frame(docs).select("source", "weight_ppm")
    wrows = {r["source"]: int(r["weight_ppm"]) for r in weights.collect()}
    weights = spark.createDataFrame(
        sorted(wrows.items()), "source string, weight_ppm long"
    )
    clock.lap("doremi_weights", len(wrows))

    assigned, n_final = _materialize(
        assign_shards(
            weighted_interleave(docs, weights, seed=seed),
            budget_tokens=budget_tokens,
            seed=seed,
            order_key="_wfq",
        ).drop("_wfq", "_t", "weight_ppm")
    )
    clock.lap("wfq_shards", n_final)

    # release datacard: the standard sections over the FINAL corpus plus
    # the funnel itself (one row per stage) — the provenance a release
    # ships with
    funnel = spark.createDataFrame(
        [("funnel", s["name"], s["rows_out"]) for s in clock.laps],
        "section string, key string, value long",
    )
    datacard = datacard_frame(assigned.select(*_DOC_COLS)).unionByName(funnel)

    # benchmark shingle store (r10, ADVICE r9): the held-out set the
    # release was decontaminated against, published IN the txn so an
    # incremental batch gates under the SAME frozen benchmark — without
    # it a batch doc sharing shingles with the eval set would append
    # into a release curate_full scrubbed.  Hash-clustered + bloom'd for
    # batch-bounded IN-list probes (the hashes/bands/sets pattern).
    from agf_data_ingestion_spark.plans.training_data import (
        _BENCH_DOCS as _BD,
        contam_shingles,
    )

    bench_sh = (
        contam_shingles(
            t(spark, sf_dir, "documents").filter(F.col("doc_id") < _BD)
        )
        .select("sh")
        .distinct()
    )
    # frozen release policy: the quality model, the curve-chosen cut, the
    # per-language score thresholds, and the DoReMi mixture weights —
    # everything the incremental path needs to gate a batch under the
    # SAME policy the release was built with
    policy = spark.createDataFrame(
        [("cut", "cut_tile", cut)]
        + [("quality_threshold", lang, v) for lang, v in sorted(thresh_rows.items())]
        + [("mix_weight", s, w) for s, w in sorted(wrows.items())],
        "section string, key string, value long",
    ).unionByName(
        quality_model_weights(spark, sf_dir).select(
            F.lit("qmodel").alias("section"),
            F.col("bucket").cast("string").alias("key"),
            F.col("weight").cast("long").alias("value"),
        )
    )

    tbls = _release_tables(out_root)
    versions = _publish_release(
        assigned,
        {"datacard": datacard, "bench": bench_sh, "policy": policy},
        tbls,
        mode="overwrite",
        op=f"curate_full:{seed}:{budget_tokens}",
        cluster_files=(
            {"postings": index_cluster_files} if index_cluster_files else None
        ),
    )
    clock.lap("publish", n_final)

    # txn-aligned read-back: all ten tables resolve to the SAME publish
    # event, and the shards table round-trips the exact row count — the
    # "did the release land whole" check a consumer would run
    aligned = snapshot_read_txn(spark, list(tbls.values()))
    n_read = aligned[tbls["shards"]].count()
    if n_read != n_final:
        raise AssertionError(
            f"curate_full: published shards read back {n_read} rows, expected {n_final}"
        )
    tok_row = assigned.agg(
        F.max("shard_id").alias("m"), F.sum("n_tokens").alias("t")
    ).collect()[0]
    clock.lap("txn_read_verify", n_read)

    return {
        "stages": clock.laps,
        "cut_tile": cut,
        "weights": wrows,
        "quality_thresholds": thresh_rows,
        "n_shards": (int(tok_row["m"]) + 1) if tok_row["m"] is not None else 0,
        "total_tokens": int(tok_row["t"]) if tok_row["t"] is not None else 0,
        "budget_tokens": budget_tokens,
        "seed": seed,
        "txn": {
            "id": snapshot_txn_id(tbls["shards"], versions[tbls["shards"]]),
            "versions": versions,
        },
        "tables": tbls,
        "wall_s": round(time.time() - t_run, 3),
    }


def _stats_max(table: str, version: int, col: str):
    """MAX of a column from per-file manifest stats — O(metadata), no
    scan; None when any file lacks stats for the column (conservative)."""
    from agf_data_ingestion_spark.sources.snapshots import read_manifest

    m = read_manifest(table, version)
    vals = []
    for f in m["files"]:
        st = (f.get("stats") or {}).get(col)
        if not st:
            return None
        vals.append(st[1])
    return max(vals) if vals else None


#: max distinct probe keys shipped to the driver as an IN-list predicate
#: (r11, VERDICT r10 ask #3): the micro-batch design point is thousands
#: of keys, but the batch size is USER-controlled — a bulk append was
#: the one collect in the repo whose size the caller could blow up.  At
#: or below the guard each probe keeps the exact file-pruned IN-list
#: read; above it the probe flips to a min/max range-pruned store scan
#: + a shuffle-hash LEFT SEMI join — O(1) driver traffic at any batch
#: size (the stores are key-clustered, so the range prune still skips
#: files).  Both branches return the same rows: the IN-list row-filters
#: exactly, the range scan over-reads and the semi-join exact-filters.
#: Threshold MEASURED (SCALE.md r11 probe rung): the IN-list's wall
#: grows with key count on EVERY store shape (a K-literal predicate
#: costs O(K) to analyze and O(K x files) to prune on the driver),
#: crossing the join branch's flat ~1-3 s well below 2k keys (2k: 7.1 s
#: vs 2.7 s; 150k: 108 s vs 0.8 s; an all-join incremental run beat the
#: all-inlist run by ~2.5 s at bench scale).  1024 keeps genuinely tiny
#: probes (per-trigger hash / candidate-id lookups) on the bloom-pruned
#: point-lookup path and sends everything larger to the semi-join.
_PROBE_INLIST_MAX = 1024


def _probe_store(
    spark: SparkSession,
    keys_df: DataFrame,
    store_path: str,
    store_key: str,
    *,
    limit: int | None = None,
) -> tuple[DataFrame, bool]:
    """Store rows whose ``store_key`` is in ``keys_df``'s single column,
    routed by distinct-key count (see ``_PROBE_INLIST_MAX``).  Returns
    (rows, inlist_used) — callers may broadcast the result ONLY when
    ``inlist_used`` (the fallback result is batch-shaped)."""
    from agf_data_ingestion_spark.sources.snapshots import snapshot_read

    lim = _PROBE_INLIST_MAX if limit is None else limit
    kcol = keys_df.columns[0]
    distinct = keys_df.distinct()
    head = distinct.limit(lim + 1).collect()
    if len(head) <= lim:
        vals = [r[0] for r in head]
        if not vals:
            # Empty micro-batch (ADVICE r11): where=None would return the
            # ENTIRE store as "inlist_used" and callers then broadcast a
            # corpus-sized frame.  Probe with no keys matches nothing —
            # return a schema-carrying empty frame on the same store read.
            empty = snapshot_read(spark, store_path).where(F.lit(False))
            return empty, True
        return (
            snapshot_read(spark, store_path, where=[(store_key, "in", vals)]),
            True,
        )
    b = distinct.agg(F.min(kcol).alias("lo"), F.max(kcol).alias("hi")).collect()[0]
    store = snapshot_read(
        spark,
        store_path,
        where=[(store_key, ">=", b["lo"]), (store_key, "<=", b["hi"])],
    )
    keys = distinct.withColumnRenamed(kcol, store_key)
    return store.join(keys.hint("shuffle_hash"), store_key, "left_semi"), False


def _fused_probe_frame(
    specs: list[tuple[str, DataFrame, str, str]], lim: int
) -> DataFrame:
    """The ONE-job probe frame `_probe_stores_fused` collects: per tag,
    the first ``lim + 1`` distinct keys (row_number ≤ k filter → the
    optimizer's WindowGroupLimit bounds every partition map-side; the
    tag window never sees more than (lim+1) × npartitions rows at any
    batch size) unioned with the per-tag min/max stats row.  Plan-only —
    registered with the structural window sweep (plan_registry.py)."""
    tagged = None
    for tag, kdf, _, _ in specs:
        part = kdf.select(
            F.lit(tag).alias("_t"), F.col(kdf.columns[0]).alias("_k")
        )
        tagged = part if tagged is None else tagged.unionByName(part)
    distinct = tagged.distinct()
    w = Window.partitionBy("_t").orderBy("_k")
    head = distinct.withColumn(
        "_rn", F.row_number().over(w)
    ).filter(F.col("_rn") <= lim + 1).select(
        "_t", F.lit("k").alias("_kind"), "_k", F.lit(None).cast("string").alias("_k2")
    )
    stats = distinct.groupBy("_t").agg(
        F.min("_k").alias("_k"), F.max("_k").alias("_k2")
    ).select("_t", F.lit("m").alias("_kind"), "_k", "_k2")
    return head.unionByName(stats)


def _probe_stores_fused(
    spark: SparkSession,
    specs: list[tuple[str, DataFrame, str, str]],
    *,
    limit: int | None = None,
) -> dict[str, tuple[DataFrame, bool]]:
    """Probe SEVERAL stores with ONE driver job (r13, VERDICT r12 ask #5
    — the gates_and_probes floor was 4 sequential `_probe_store`
    limit-collects per trigger).

    ``specs``: (tag, single-column key frame, store_path, store_key).
    All key columns must be STRING-typed (they union into one tagged
    frame).  One job computes, per tag, BOTH the first ``lim+1`` distinct
    keys (a rank-filtered window → Spark's WindowGroupLimit keeps it
    top-k per partition, never a full sort) AND the distinct-count/
    min/max aggregate — encoded as two row kinds of one union so the
    big-key fallback needs no second job.  Per tag the routing contract
    is `_probe_store`'s exactly: ≤ ``lim`` distinct keys → the pruned
    IN-list read (the collected rows ARE the complete distinct set);
    more → min/max range-pruned scan + shuffle-hash LEFT SEMI join,
    O(lim) driver traffic at any batch size.  Returns
    {tag: (rows, inlist_used)}."""
    from agf_data_ingestion_spark.sources.snapshots import snapshot_read

    lim = _PROBE_INLIST_MAX if limit is None else limit
    rows = _fused_probe_frame(specs, lim).collect()
    vals_by_tag: dict[str, list] = {}
    bounds_by_tag: dict[str, tuple] = {}
    for r in rows:
        if r["_kind"] == "k":
            vals_by_tag.setdefault(r["_t"], []).append(r["_k"])
        else:
            bounds_by_tag[r["_t"]] = (r["_k"], r["_k2"])
    out: dict[str, tuple[DataFrame, bool]] = {}
    for tag, kdf, store_path, store_key in specs:
        vals = vals_by_tag.get(tag, [])
        if len(vals) <= lim:
            if not vals:
                # empty key set matches nothing (the ADVICE r11 rule)
                out[tag] = (
                    snapshot_read(spark, store_path).where(F.lit(False)),
                    True,
                )
            else:
                out[tag] = (
                    snapshot_read(
                        spark, store_path, where=[(store_key, "in", vals)]
                    ),
                    True,
                )
        else:
            lo, hi = bounds_by_tag[tag]
            store = snapshot_read(
                spark,
                store_path,
                where=[(store_key, ">=", lo), (store_key, "<=", hi)],
            )
            keys = (
                kdf.select(F.col(kdf.columns[0]).alias(store_key)).distinct()
            )
            out[tag] = (
                store.join(keys.hint("shuffle_hash"), store_key, "left_semi"),
                False,
            )
    return out


def curate_incremental(
    spark: SparkSession,
    batch: DataFrame,
    out_root: str,
    *,
    batch_label: str = "b0",
    seed: str = "0",
    budget_tokens: int = 2000,
    txn_id: str | None = None,
) -> dict:
    """O(batch) curation APPEND (r9): gate a NEW document batch under the
    published release's FROZEN policy, dedup it against the release via
    pruned probe-store reads, and extend the release — new shards,
    lineage, index postings/stats, probe stores, and a datacard funnel
    delta — as ONE ten-table transaction.

    The frozen-policy rule: quantiles and mixture weights are a
    RELEASE-time decision — a batch is scored against the published
    per-language score thresholds and interleaved with the published
    DoReMi weights, never re-quantiled (re-quantiling would silently
    shift the gate as batches arrive).  Languages absent from the
    release policy fall back to the most permissive published threshold.

    Scale shape — nothing corpus-sized moves:

    * exact dedup probes the ``hashes`` store with a batch-bounded IN
      list (hash-clustered + bloom'd files → pruned reads); every probe
      IN-list is ROUTED (r11): above ``_PROBE_INLIST_MAX`` distinct keys
      it becomes a range-pruned scan + shuffle-hash semi-join, so a
      bulk append never pushes a corpus-sized key list through the
      driver;
    * near-dup probes the ``bands`` store by the batch's band
      signatures the same way, then exact-verifies only the collision
      candidates against ``sets`` rows pruned by candidate doc id
      (the docs_incremental_neardup shape over the published release);
    * decontamination (r10, ADVICE r9) probes the ``bench`` shingle
      store — the SAME frozen benchmark set curate_full scrubbed
      against, published in the release txn — with a batch-bounded
      shingle IN-list (sh-clustered + bloom'd reads), and drops batch
      docs claiming a benchmark id;
    * shard continuation ids come from MANIFEST STATS (O(metadata));
    * the batch interleave/pack is batch-sized; every store append is
      O(batch).

    Published documents are never re-gated, re-deduped, or rewritten —
    the increment only ADDS; erasure stays the takedown path.  All ten
    tables advance under one txn marker (the policy table gets an empty
    schema-carrying append), so ``snapshot_read_txn`` keeps resolving a
    single coherent release, and the PRIOR txn remains addressable for
    time travel.

    Pinning split (r9, the forget interaction): the POLICY is read at
    the txn (frozen by definition), but the dedup probes and the shard
    continuation read CURRENT state — ``release_forget`` commits are
    single-table (equality deletes carry no txn marker), and probing
    txn-pinned stores would keep blocking re-ingestion of a FORGOTTEN
    document's text on the basis of erased data, which is exactly what
    erasure must prevent (pinned in tests/test_release_forget.py).
    """
    from agf_data_ingestion_spark.operators.shards import (
        assign_shards,
        weighted_interleave,
    )
    from agf_data_ingestion_spark.plans.text import (
        _lsh_bands,
        _shingles,
        _sigs_of,
        best_jaccard_matches,
        quality_gate_frame,
    )
    from agf_data_ingestion_spark.sources.snapshots import (
        snapshot_read,
        snapshot_read_txn,
        snapshot_txn_id,
        snapshot_txn_versions,
    )

    t_run = time.time()
    # per-trigger segment walls (r11 — the curate_stream latency rung):
    # coarse laps that also catch the cost between the document stages
    # (the txn-version resolve and policy read, the verify and report
    # tail).  Additive report key; the datacard funnel rows are unchanged.
    segs = _Clock()
    tbls = _release_tables(out_root)
    versions, base_txn = snapshot_txn_versions(list(tbls.values()), txn_id)

    # ---- frozen policy ----
    pol = snapshot_read(
        spark, tbls["policy"], version=versions[tbls["policy"]]
    ).collect()
    thresholds = {
        r["key"]: int(r["value"]) for r in pol if r["section"] == "quality_threshold"
    }
    weights = {
        r["key"]: int(r["value"]) for r in pol if r["section"] == "mix_weight"
    }
    qmodel = spark.createDataFrame(
        sorted(
            (int(r["key"]), int(r["value"]))
            for r in pol
            if r["section"] == "qmodel"
        ),
        "bucket long, weight long",
    )
    if not thresholds or not weights:
        raise ValueError("curate_incremental: release policy table is incomplete")
    segs.lap("resolve_and_policy")

    # the stage walls start here, so they add up to the run less the
    # resolve_and_policy and verify_and_report segments
    clock = _Clock()
    docs = clock.checkpoint("batch_input", batch)

    # ---- rule gate (same rules as the release) ----
    keep = quality_gate_frame(docs).filter(F.col("keep")).select("doc_id")
    docs = clock.checkpoint("rule_gate", docs.join(keep, "doc_id", "left_semi"))

    # ---- r13 probe fusion (VERDICT r12 ask #5) ------------------------
    # The hash / band / benchmark-shingle probe KEYS are all derivable
    # from the batch right after the internal dedup, BEFORE the store
    # gates shrink it — later-stage keys are a SUBSET, and a probe key
    # superset only ever over-reads the store (every gate still
    # anti-joins on its own rows, so results are bit-identical; the sets
    # store likewise only answers for ids the candidate join actually
    # probes).  That turns 4 sequential `_probe_store` limit-collects
    # (one of which re-ran the dedup window) into ONE fused job + the
    # dependent sets probe.  The three key frames are .cache()d, not
    # eagerly checkpointed: each is multiply consumed but every consumer
    # runs inside later stage actions, so materialization rides the
    # fused-probe job instead of three extra blocking jobs; all three
    # are explicitly unpersisted after publish (trigger-scoped caches
    # must not accumulate across a long-running stream).
    from agf_data_ingestion_spark.plans.training_data import (
        _BENCH_DOCS,
        contam_shingles,
    )

    docs_bd = batch_exact_dedup(
        docs.withColumn("_h", F.md5(F.lower(F.col("text"))))
    ).localCheckpoint(eager=True)
    bands_all = _lsh_bands(_sigs_of(docs_bd.select("doc_id", "text"))).cache()
    sh_all = contam_shingles(docs_bd.select("doc_id", "text")).cache()
    sets_all = docs_bd.select("doc_id", _shingles().alias("sset")).cache()

    probed = _probe_stores_fused(
        spark,
        [
            ("h", docs_bd.select("_h"), tbls["hashes"], "h"),
            ("b", bands_all.select("bsig"), tbls["bands"], "bsig"),
            ("s", sh_all.select("sh"), tbls["bench"], "sh"),
        ],
    )
    published_h, _small = probed["h"]
    store_bands, _ = probed["b"]
    store_sh, _small_sh = probed["s"]

    # ---- exact dedup: batch-internal + vs the published hash store ----
    published_h = published_h.select(F.col("h").alias("_h"))
    docs = clock.checkpoint(
        "exact_dedup",
        docs_bd.join(
            F.broadcast(published_h)
            if _small
            else published_h.hint("shuffle_hash"),
            "_h",
            "left_anti",
        ),
    )

    # ---- near-dup: batch self-pairs + pruned band-store probe ----
    # bands of the CURRENT survivors = the cached superset semi-filtered
    # (bands are per-doc deterministic, so filtering ≡ recomputing)
    bands = bands_all.join(docs.select("doc_id"), "doc_id", "left_semi")
    nb, wb = bands.alias("n"), bands.alias("c")
    cands = nb.join(
        wb,
        (F.col("n.band") == F.col("c.band"))
        & (F.col("n.bsig") == F.col("c.bsig"))
        & (F.col("n.doc_id") > F.col("c.doc_id")),
    ).select(F.col("n.doc_id").alias("new_id"), F.col("c.doc_id").alias("dup_of"))
    store_bands = store_bands.alias("c")
    cands = cands.unionByName(
        nb.hint("shuffle_hash")
        .join(
            store_bands,
            (F.col("n.band") == F.col("c.band"))
            & (F.col("n.bsig") == F.col("c.bsig")),
        )
        .select(
            F.col("n.doc_id").alias("new_id"), F.col("c.doc_id").alias("dup_of")
        )
    ).distinct()
    # the sets probe stays keyed on cands.dup_of (it depends on the
    # band-store result, so it cannot join the fused job; keying on
    # store ids alone would drop the batch-id rows the old probe
    # fetched when caller ids overlap published ids — re-ingest paths).
    # Its key job now reads the cached bands instead of recomputing
    # signatures.
    store_sets, _ = _probe_store(
        spark, cands.select("dup_of"), tbls["sets"], "doc_id"
    )
    store_sets = store_sets.select("doc_id", "sset")
    # dup side: the published set wins where a batch doc reuses a
    # published id.  Such a doc dropped at exact dedup with different text
    # stays in sets_all, and scoring a candidate against it as well as the
    # published set it was banded against could flag the candidate
    # wrongly.
    dup_sets = store_sets.unionByName(
        sets_all.join(store_sets.select("doc_id"), "doc_id", "left_anti")
    )
    flagged = best_jaccard_matches(cands, sets_all, dup_sets).select(
        F.col("new_id").alias("doc_id")
    )
    docs = clock.checkpoint("neardup", docs.join(flagged, "doc_id", "left_anti"))

    # ---- decontamination vs the PUBLISHED benchmark shingle store ----
    # (r10, ADVICE r9): the same frozen benchmark curate_full scrubbed
    # against, probed via the fused job above (bench store is
    # sh-clustered + bloom'd -> pruned reads, O(batch shingles));
    # batch docs claiming a benchmark id are dropped outright (the
    # doc_id < _BENCH_DOCS fixture rule curate_full applies)
    batch_sh = sh_all.join(docs.select("doc_id"), "doc_id", "left_semi")
    store_sh = store_sh.select("sh")
    contaminated = (
        batch_sh.join(
            F.broadcast(store_sh) if _small_sh else store_sh.hint("shuffle_hash"),
            "sh",
        )
        .select("doc_id")
        .distinct()
    )
    docs = clock.checkpoint(
        "decontam",
        docs.filter(F.col("doc_id") >= _BENCH_DOCS).join(
            contaminated, "doc_id", "left_anti"
        ),
    )

    # ---- quality cut at the FROZEN per-language thresholds ----
    fallback = min(thresholds.values())
    th = spark.createDataFrame(
        sorted(thresholds.items()), "lang string, thr long"
    )
    scored = score_quality(qmodel, docs)
    passing = (
        docs.select("doc_id", "lang")
        .join(scored, "doc_id")
        .join(F.broadcast(th), "lang", "left")
        .filter(F.col("_score") >= F.coalesce(F.col("thr"), F.lit(fallback)))
        .select("doc_id")
    )
    docs = clock.checkpoint("quality_cut", docs.join(passing, "doc_id", "left_semi"))
    segs.lap("gates_and_probes")

    # ---- shard continuation from manifest stats (O(metadata)) ----
    from agf_data_ingestion_spark.sources.snapshots import current_version

    cur_shards = current_version(tbls["shards"])
    base_shard = _stats_max(tbls["shards"], cur_shards, "shard_id")
    base_pos = _stats_max(tbls["shards"], cur_shards, "global_pos")
    if base_shard is None or base_pos is None:  # stats-less fallback: scan
        row = (
            snapshot_read(spark, tbls["shards"])
            .agg(F.max("shard_id").alias("s"), F.max("global_pos").alias("p"))
            .collect()[0]
        )
        base_shard, base_pos = int(row["s"]), int(row["p"])
    base_shard, base_pos = int(base_shard) + 1, int(base_pos)

    wdf = spark.createDataFrame(
        sorted(weights.items()), "source string, weight_ppm long"
    )
    assigned, n_final = _materialize(
        assign_shards(
            # horizon=False: an append extends a release — the one-epoch
            # exhaustion cut would starve a small batch (see shards.py)
            weighted_interleave(docs, wdf, seed=seed, horizon=False),
            budget_tokens=budget_tokens,
            seed=seed,
            order_key="_wfq",
        )
        .drop("_wfq", "_t", "weight_ppm")
        .withColumn("shard_id", F.col("shard_id") + F.lit(base_shard))
        .withColumn("global_pos", F.col("global_pos") + F.lit(base_pos))
    )
    segs.lap("wfq_assign")
    clock.lap("wfq_shards", n_final)

    # ---- one ten-table append txn ----
    funnel = spark.createDataFrame(
        [("funnel_inc:" + batch_label, s["name"], s["rows_out"]) for s in clock.laps],
        "section string, key string, value long",
    )
    # PROVABLY-empty frames (r11, the curate_stream latency rung):
    # empty_frame plans to maxRows=0, so _stage_write skips the Spark
    # write job for both — two fewer jobs per trigger vs the opaque
    # createDataFrame([], ...) LogicalRDD form
    from agf_data_ingestion_spark.sources.snapshots import empty_frame

    empty_policy = empty_frame(spark, "section string, key string, value long")
    # the benchmark set is FROZEN at release time: the append carries an
    # empty schema-bearing frame (the policy-table pattern) so all ten
    # tables advance under one txn marker
    empty_bench = empty_frame(spark, "sh string")
    new_versions = _publish_release(
        assigned,
        {"datacard": funnel, "bench": empty_bench, "policy": empty_policy},
        tbls,
        mode="append",
        op=f"curate_inc:{batch_label}:{seed}:{budget_tokens}",
    )
    clock.lap("publish", n_final)
    segs.lap("publish")
    # trigger-scoped caches released NOW (r13, VERDICT r12 ask #9): every
    # consumer has executed (all stages checkpointed, publish committed),
    # and each trigger's batch frame canonicalizes differently, so
    # leaving them cached would grow the CacheManager without bound
    # across a long-running stream
    for _c in (bands_all, sh_all, sets_all):
        _c.unpersist()

    # alignment check only — all ten tables resolve to THIS txn; the row
    # total comes from manifest metadata (r10: the old full-table count
    # was the one O(release) read in the append path; live eq-delete
    # debt makes the metadata count refuse, so fall back to the scan
    # only then)
    aligned = snapshot_read_txn(spark, list(tbls.values()))
    from agf_data_ingestion_spark.sources.snapshots import snapshot_rowcount

    try:
        total_rows = snapshot_rowcount(tbls["shards"])
    except RuntimeError:
        total_rows = aligned[tbls["shards"]].count()
    inc_txn = snapshot_txn_id(tbls["shards"], new_versions[tbls["shards"]])
    tok_row = assigned.agg(
        F.max("shard_id").alias("m"), F.sum("n_tokens").alias("t")
    ).collect()[0]
    segs.lap("verify_and_report")
    return {
        "stages": clock.laps,
        "segments": {s["name"]: s["wall_s"] for s in segs.laps},
        "base_txn": base_txn,
        "txn": {"id": inc_txn, "versions": new_versions},
        "tables": tbls,
        "first_new_shard": base_shard,
        "n_new_shards": (
            int(tok_row["m"]) - base_shard + 1 if tok_row["m"] is not None else 0
        ),
        "new_tokens": int(tok_row["t"]) if tok_row["t"] is not None else 0,
        "total_rows": total_rows,
        "wall_s": round(time.time() - t_run, 3),
    }


def _stable_current_versions(paths: list[str]) -> dict[str, int]:
    """Repair-aware CURRENT version per table, re-resolved until one full
    pass is stable (r11, ADVICE r10): per-table ``snapshot_read()`` calls
    resolve independently, so a publish landing mid-resolution yields an
    incoherent side (shards from the new txn, datacard from the old) —
    and the raw pointer misses marker-committed-but-unpublished txns
    entirely.  Two identical consecutive passes mean no commit landed in
    between; under a sustained writer storm this raises loudly instead
    of returning a torn version set."""
    from agf_data_ingestion_spark.sources.snapshots import _repair_current

    prev: dict[str, int] | None = None
    for _ in range(10):
        cur = {p: _repair_current(p) for p in paths}
        if cur == prev:
            return cur
        prev = cur
    raise RuntimeError(
        "current versions kept advancing during resolution (10 passes) — "
        "retry at quiescence or pin a txn_id"
    )


def verify_release(
    spark: SparkSession,
    out_root: str,
    *,
    txn_id: str | None = None,
    current: bool = False,
    deep: bool = False,
) -> dict:
    """Release AUDIT (r9): check the cross-table invariants a training
    deployment gates on before consuming a release — the publish-side
    twin of ``snapshot_write_audited``'s row rules, lifted to the
    TEN-table release contract:

    * all ten tables resolve to ONE txn (atomicity actually held);
    * lineage is an exact disjoint cover of the shards table;
    * ``global_pos`` is dense 1..N (no holes unless takedown ran —
      reported, not failed, since takedown legitimately leaves holes);
    * the index stats fold equals the shards token/doc totals;
    * every probe store (hashes / bands / sets) covers exactly the
      published doc set;
    * the benchmark shingle store is present and non-empty (the frozen
      decontamination target incremental batches gate against);
    * the policy table carries a complete frozen policy.

    Two audit modes (r10, ADVICE r9):

    * default — tables pinned to the last (or given) multi-table txn:
      "did the last PUBLISH land whole".  Single-table commits made
      AFTER that txn (``release_forget``'s equality deletes carry no
      txn marker) are intentionally invisible here.
    * ``current=True`` — every table read at its CURRENT version:
      "is the state a consumer reads NOW coherent".  This is the mode
      that detects a TORN ``release_forget`` (some stores erased,
      shards not yet): coverage counts diverge and the audit fails
      until an idempotent re-run completes the erasure (pinned in
      tests/test_release_forget.py).  ``txn_aligned`` is skipped —
      current versions are per-table by definition.

    ``deep=True`` (r10) adds ``decontam_clean``: no published document
    shares a shingle with the release's own benchmark store — the
    content-level claim the metadata checks cannot make (a doc appended
    around the gates, or a benchmark widened after publish, is caught
    here).  Deep mode re-reads the corpus TEXT (one shingle scan,
    bench side shuffle-hash-pinned as the build side) — run it on
    release milestones, not every append.

    Returns ``{"ok": bool, "txn_id": ..., "checks": {name: bool},
    "counts": {...}}`` — the default audit is cheap enough to run after
    every publish (metadata + a few doc-count-sized aggregates; the
    corpus text is never re-read unless ``deep``)."""
    from agf_data_ingestion_spark.sources.snapshots import (
        snapshot_read,
        snapshot_read_txn,
    )

    tbls = _release_tables(out_root)
    if current:
        # one coherent, repair-aware version set (r11 — see
        # _stable_current_versions), then every read pinned to it
        vset = _stable_current_versions(list(tbls.values()))
        aligned = {
            p: snapshot_read(spark, p, version=vset[p]) for p in tbls.values()
        }
        checks: dict[str, bool] = {}
    else:
        aligned = snapshot_read_txn(spark, list(tbls.values()), txn_id=txn_id)
        checks = {"txn_aligned": True}  # read_txn raised otherwise

    sh = aligned[tbls["shards"]].select("doc_id", "global_pos", "n_tokens")
    sh, n_docs = _materialize(sh)  # five consumers below
    tok_total = sh.agg(F.sum("n_tokens")).collect()[0][0] or 0

    lin = aligned[tbls["lineage"]].select("doc_id")
    checks["lineage_exact_cover"] = (
        lin.count() == n_docs
        and sh.join(lin, "doc_id", "left_anti").count() == 0
    )
    pos = sh.agg(
        F.min("global_pos").alias("lo"),
        F.max("global_pos").alias("hi"),
        F.count_distinct("global_pos").alias("d"),
    ).collect()[0]
    dense = (
        n_docs == 0
        or (pos["lo"] == 1 and pos["hi"] == n_docs and pos["d"] == n_docs)
    )
    checks["global_pos_dense"] = bool(dense)  # takedown holes report False

    srow = aligned[tbls["stats"]].agg(
        F.sum("n_docs").alias("n"), F.sum("tot_dl").alias("t")
    ).collect()[0]
    checks["index_stats_match"] = (
        int(srow["n"] or 0) == n_docs and int(srow["t"] or 0) == int(tok_total)
    )

    doc_ids = sh.select("doc_id")
    for store, key in (("hashes", "doc_id"), ("sets", "doc_id")):
        ids = aligned[tbls[store]].select(key)
        checks[f"{store}_cover"] = (
            ids.count() == n_docs
            and doc_ids.join(ids, "doc_id", "left_anti").count() == 0
        )
    band_ids = aligned[tbls["bands"]].select("doc_id").distinct()
    checks["bands_cover"] = (
        band_ids.count() == n_docs
        and doc_ids.join(band_ids, "doc_id", "left_anti").count() == 0
    )

    checks["bench_store_present"] = (
        aligned[tbls["bench"]].limit(1).count() > 0
    )
    if deep:
        from agf_data_ingestion_spark.plans.training_data import contam_shingles

        dirty = (
            contam_shingles(aligned[tbls["shards"]].select("doc_id", "text"))
            .join(
                aligned[tbls["bench"]].select("sh").hint("shuffle_hash"),
                "sh",
                "left_semi",
            )
            .select("doc_id")
            .distinct()
            .count()
        )
        checks["decontam_clean"] = dirty == 0

    pol = {r["section"] for r in aligned[tbls["policy"]].collect()}
    checks["policy_complete"] = {
        "cut",
        "quality_threshold",
        "mix_weight",
        "qmodel",
    } <= pol

    from agf_data_ingestion_spark.sources.snapshots import snapshot_txn_versions

    _versions, tid = snapshot_txn_versions(list(tbls.values()), txn_id)
    # global_pos holes are LEGITIMATE after a takedown (erasure leaves
    # holes, never re-shards) — the check is informational, not a failure
    return {
        "ok": all(v for k, v in checks.items() if k != "global_pos_dense"),
        "txn_id": tid,
        "mode": "current" if current else "txn",
        "checks": checks,
        "counts": {"docs": n_docs, "tokens": int(tok_total)},
    }


def release_forget(
    spark: SparkSession, out_root: str, doc_ids: list[int]
) -> dict:
    """GDPR erasure for a PUBLISHED release (r9): remove the documents
    from EVERY table that derives from their content — shards (the text
    of record), lineage, index postings, and all three probe stores —
    and repair the index stats, leaving ``verify_release`` green with
    only the informational ``global_pos_dense`` flag cleared (erasure
    leaves position holes, never a re-shard: surviving bytes stay
    byte-identical).

    ``takedown_shards`` (operators/shards.py) is the file-layout twin;
    this is the erasure path for the ten-table snapshot release, built
    on the zero-read equality delete (``snapshot_delete_keys``).

    NOT one atomic txn — equality deletes are per-table commits — but
    erasure-MONOTONE and IDEMPOTENT by construction, in a crash-safe
    order:

    1. probe the SHARDS table for the ids actually present (absent ids
       are already-forgotten: full no-op, nothing commits);
    2. eq-delete postings / hashes / bands / sets / lineage — each is
       per-table idempotent (a re-run's delete disproves against stats
       and commits nothing);
    3. OVERWRITE the stats table from the remaining postings — a
       recompute, not a delta, so replays converge instead of
       double-correcting (the one non-idempotent delta this avoids);
    4. append the datacard audit rows (at-least-once by design — a
       crash just before the final step can replay it; an audit log
       tolerates duplicates, silent absence it must not);
    5. eq-delete SHARDS last: once the text of record is gone, a
       re-run short-circuits at step 1.

    A crash anywhere leaves a state a re-run completes; a torn state in
    between is detected by ``verify_release(current=True)`` coverage
    checks — the txn-pinned DEFAULT mode audits the last multi-table
    publish (forget's eq-delete commits carry no txn marker) and would
    read the PRE-forget state green; only the current-state mode (or an
    idempotent re-run of the forget) observes the tear.  Scale
    shape: O(removed docs + eq-key metadata) except the stats recompute,
    one column-pruned postings scan — acceptable for an erasure op."""
    from agf_data_ingestion_spark.operators.text_index import _batch_stats
    from agf_data_ingestion_spark.sources.snapshots import (
        snapshot_delete_keys,
        snapshot_read,
        snapshot_write,
    )

    if not doc_ids:
        return {"found": 0, "erased": 0}
    tbls = _release_tables(out_root)
    ids = sorted(set(int(i) for i in doc_ids))
    found = [
        r["doc_id"]
        for r in snapshot_read(
            spark, tbls["shards"], where=[("doc_id", "in", ids)]
        )
        .select("doc_id")
        .collect()
    ]
    if not found:
        return {"found": 0, "erased": 0}
    keys = spark.createDataFrame([(int(i),) for i in sorted(found)], "doc_id long")

    for t_ in ("postings", "hashes", "bands", "sets", "lineage"):
        snapshot_delete_keys(keys, tbls[t_])
    # stats = recompute from what remains (idempotent overwrite, never a
    # negative delta that a replay could double-apply).  r10 (found by
    # the release-churn soak design): the recompute is VERSION-PINNED
    # against concurrent appends — curate_incremental commits
    # postings+stats atomically, so an overwrite computed from an older
    # postings read would erase that batch's stats rows; re-run until
    # the postings version is stable across read -> commit (quiescence
    # guarantees convergence; the bound guards a writer storm).
    # r11 (ADVICE r10 medium): both the pin and the stability check go
    # through _repair_current, NOT the raw pointer — a multi-table txn
    # whose marker has landed but whose phase-2 pointer bump hasn't is
    # COMMITTED (the marker rename is the atomic point), and the raw
    # pointer is blind to it: the overwrite's own snapshot_write would
    # roll the stats table forward over that txn while the stale-pointer
    # stability check exits "stable", silently erasing the interleaved
    # batch's stats rows.
    from agf_data_ingestion_spark.sources.snapshots import _repair_current

    for _ in range(20):
        v_post = _repair_current(tbls["postings"])
        remaining = snapshot_read(
            spark, tbls["postings"], version=v_post
        ).select("token", "doc_id", "tf", "dl")
        snapshot_write(
            _batch_stats(remaining),
            tbls["stats"],
            mode="overwrite",
            op=f"forget_stats:{len(found)}",
        )
        if _repair_current(tbls["postings"]) == v_post:
            break
    else:  # pragma: no cover
        raise RuntimeError(
            "release_forget: postings kept advancing during the stats "
            "recompute (20 attempts) — retry at quiescence"
        )
    audit = spark.createDataFrame(
        [("takedown", str(i), 1) for i in sorted(found)],
        "section string, key string, value long",
    )
    snapshot_write(audit, tbls["datacard"], mode="append", op="forget_audit")
    snapshot_delete_keys(keys, tbls["shards"])
    return {"found": len(found), "erased": len(found), "doc_ids": sorted(found)}


def release_diff(
    spark: SparkSession,
    out_root: str,
    txn_a: str | None,
    txn_b: str | None = None,
) -> DataFrame:
    """RELEASE-TO-RELEASE DIFF (r10, VERDICT r9 ask #7): the release-notes
    artifact deployers read — what changed between two published txn ids
    of the same release root (``None`` = the CURRENT per-table state,
    which sees marker-less single-table commits like ``release_forget``'s
    eq deletes).  ``verify_release`` audits ONE release; this compares
    TWO:

    * ``composition`` — per-source document counts in a and b;
    * ``tokens`` — per-source token totals;
    * ``lang`` — per-language document counts;
    * ``added`` / ``removed`` — per-source churn (docs present in
      exactly one side: appends add, forgets/takedowns remove);
    * ``policy`` — per-section policy row counts (a frozen policy is
      byte-stable, so any delta here flags a policy change);
    * ``funnel`` — per-stage rows from the datacard (full-run funnel
      plus any ``funnel_inc:*`` batch deltas that landed between the
      two txns);
    * ``total`` — docs / tokens / shards.

    Output: (section, key, a, b, delta) — every column an exact BIGINT
    (delta = b - a).  Scale shape: both sides are time-travel reads of
    the shards table pruned to (doc_id, source, lang, n_tokens,
    shard_id) — no text column is ever read — aggregated per source
    (map-combined) and FULL-OUTER-joined on the K-row section keys; the
    churn counts are doc-id-shaped anti-joins hash-partitioned on
    doc_id.  The datacard/policy sides are metadata-sized.

    The catalog twin ``docs_release_diff`` (plans/training_data.py)
    derives two release compositions in-plan and is hash-checked against
    the DuckDB oracle; this operator applies the same diff algebra to
    real published txns (pinned in tests/test_release_diff.py)."""
    from agf_data_ingestion_spark.sources.snapshots import (
        snapshot_read,
        snapshot_read_txn,
    )

    tbls = {
        k: p
        for k, p in _release_tables(out_root).items()
        if k in ("shards", "datacard", "policy")
    }

    sides = {}
    for label, txn in (("a", txn_a), ("b", txn_b)):
        if txn is None:
            # CURRENT state: sees single-table commits with no txn marker
            # (release_forget's eq deletes) — the "what did erasure/
            # maintenance change since the last publish" diff.  One
            # coherent repair-aware version set per side (r11, ADVICE
            # r10): independent reads could mix a mid-landing publish.
            vset = _stable_current_versions(list(tbls.values()))
            aligned = {
                p: snapshot_read(spark, p, version=vset[p])
                for p in tbls.values()
            }
        else:
            aligned = snapshot_read_txn(spark, list(tbls.values()), txn_id=txn)
        sides[label] = {
            "shards": aligned[tbls["shards"]].select(
                "doc_id", "source", "lang", "n_tokens", "shard_id"
            ),
            "datacard": aligned[tbls["datacard"]],
            "policy": aligned[tbls["policy"]],
        }

    def _counts(df: DataFrame, section: str, key_col, agg) -> DataFrame:
        return df.groupBy(key_col.alias("key")).agg(agg.alias("v")).select(
            F.lit(section).alias("section"), "key", "v"
        )

    def _sections(s: dict) -> DataFrame:
        sh = s["shards"]
        parts = [
            _counts(sh, "composition", F.col("source"), F.count("*").cast("long")),
            _counts(sh, "tokens", F.col("source"), F.sum("n_tokens").cast("long")),
            _counts(sh, "lang", F.col("lang"), F.count("*").cast("long")),
            _counts(
                s["policy"], "policy", F.col("section"), F.count("*").cast("long")
            ),
            s["datacard"]
            .filter(F.col("section").startswith("funnel"))
            .select(
                F.lit("funnel").alias("section"),
                F.concat_ws(":", "section", "key").alias("key"),
                F.col("value").cast("long").alias("v"),
            ),
            sh.agg(
                F.count("*").cast("long").alias("docs"),
                F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("long").alias("tokens"),
                (F.coalesce(F.max("shard_id"), F.lit(-1)) + 1)
                .cast("long")
                .alias("shards"),
            ).selectExpr(
                "stack(3, 'docs', docs, 'tokens', tokens, 'shards', shards)"
                " AS (key, v)"
            ).select(F.lit("total").alias("section"), "key", "v"),
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    a, b = _sections(sides["a"]), _sections(sides["b"])
    diff = (
        a.select("section", "key", F.col("v").alias("a"))
        .join(
            b.select("section", "key", F.col("v").alias("b")),
            ["section", "key"],
            "full_outer",
        )
        .select(
            "section",
            "key",
            F.coalesce("a", F.lit(0)).alias("a"),
            F.coalesce("b", F.lit(0)).alias("b"),
            (F.coalesce("b", F.lit(0)) - F.coalesce("a", F.lit(0))).alias("delta"),
        )
    )
    ids_a = sides["a"]["shards"].select("doc_id", "source")
    ids_b = sides["b"]["shards"].select("doc_id", "source")
    added = (
        ids_b.join(ids_a.select("doc_id"), "doc_id", "left_anti")
        .groupBy(F.col("source").alias("key"))
        .agg(F.count("*").cast("long").alias("b"))
        .select(
            F.lit("added").alias("section"),
            "key",
            F.lit(0).cast("long").alias("a"),
            "b",
            F.col("b").alias("delta"),
        )
    )
    removed = (
        ids_a.join(ids_b.select("doc_id"), "doc_id", "left_anti")
        .groupBy(F.col("source").alias("key"))
        .agg(F.count("*").cast("long").alias("a"))
        .select(
            F.lit("removed").alias("section"),
            "key",
            "a",
            F.lit(0).cast("long").alias("b"),
            (-F.col("a")).cast("long").alias("delta"),
        )
    )
    return diff.unionByName(added).unionByName(removed)
