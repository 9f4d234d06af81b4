"""Training-shard writer: deterministic, token-budgeted shards of a
curated corpus — the delivery end of the pipeline (WebDataset/Megatron
loaders consume fixed-size shards; the reference ships curated exports as
zip batches, agf_zip_generator_lambda.py — this is the same hand-off
re-expressed for training consumers at corpus scale).

The scale problem is the GLOBAL running token sum: a naive
``Window.orderBy(...)`` with no partition key plans a single-reducer sort
— one task sees the whole corpus.  ``assign_shards`` instead uses the
classic two-pass distributed prefix sum:

1. range-repartition on the (md5-salted, unique) order key and sort
   within partitions — a full shuffle, but every partition sorts only
   its slice;
2. per-partition token subtotals → collected to the driver (BOUNDED by
   the partition count, never data-sized) → exclusive prefix offsets
   broadcast back;
3. local running sum + partition offset = exact global running sum,
   computed in parallel by a per-partition window.

Shard identity depends only on the global cumulative sum over the total
order — NOT on where range boundaries land — so results are
bit-deterministic even though ``repartitionByRange`` samples its
boundaries.

Epoch shuffling rides the same order key as ``docs_epoch_order``
(plans/training_data.py): ``md5(seed || ':' || doc_id)`` — change the
seed, get a new deterministic permutation and therefore a new shard
layout; replay the seed, get byte-identical shards on any cluster.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


#: WFQ virtual-time scale (weighted_interleave).  r11 (ADVICE r10): the
#: virtual time is computed as the OVERFLOW-SAFE decomposition
#:   t = (cum DIV w)·S + ((cum % w)·S) DIV w          (w = weight_ppm)
#: which equals (cum·S) DIV w exactly for non-negative integers (write
#: cum = q·w + r: the q·w·S term divides w exactly, and the remainder
#: term is floor(r·S/w)) while every intermediate stays in BIGINT:
#: r·S < w·S ≤ 1e6·1e9 = 1e15, and q·S ≤ t.  The naive form overflowed
#: cum·S at ~9.2e9 cumulative tokens per source under ANSI; the ceiling
#: is now t < 2^63, i.e. cum < ~9.2e9 × weight_ppm tokens per source —
#: a 1000-ppm source holds ~9.2e12 tokens, a 50% source ~4.6e15 (far
#: past 100 TB of text).
_WFQ_SCALE = 1_000_000_000


def _wfq_t_expr(cum_col: str, w_col: str = "weight_ppm") -> str:
    """SQL for the overflow-safe WFQ virtual time (see ``_WFQ_SCALE``) —
    fully parenthesized (the CLAUDE.md generated-expression rule)."""
    return (
        f"(({cum_col} DIV {w_col}) * {_WFQ_SCALE})"
        f" + ((({cum_col} % {w_col}) * {_WFQ_SCALE}) DIV {w_col})"
    )


def weighted_interleave(
    docs: DataFrame,
    weights: DataFrame,
    *,
    seed: str = "0",
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    horizon: bool = True,
) -> DataFrame:
    """Deterministic WEIGHTED interleave of a multi-source corpus (r8,
    VERDICT r7 ask #5 — the consumer of ``docs_domain_reweight``'s
    ``weight_ppm``): weighted-fair-queuing virtual times on exact
    integers.  Within each source, docs are ordered by
    ``md5(seed:doc_id)`` and finish at ``t = cum_tokens × SCALE DIV
    weight_ppm``; the ``_wfq`` sort key (zero-padded t ‖ md5) then makes
    every prefix of the global order carry per-source token shares
    ∝ weight_ppm, within one document of truncation.  Rows past the
    horizon where the FIRST source exhausts are dropped — beyond it the
    mixture is unsatisfiable by construction (start the next epoch with
    a new seed instead).

    ``weights``: a (source, weight_ppm) frame — K rows, broadcast.
    Feed the result to ``assign_shards(..., order_key="_wfq")``; each
    shard's per-source token share then matches the weights
    (tests/test_shards.py pins the tolerance), and the catalog query
    ``docs_reweighted_shards`` (plans/mixing.py) is the single-window
    oracle twin of this two-pass pipeline.

    Scale shape (r10, VERDICT r9 ask #2): the per-source running sum is
    SKEW-ROUTED (operators/skew.py ``route_salted``; real LLM mixes put
    60-80% of tokens in one crawl source) — one keyed window below the
    rule's size, else the salted-cell decomposition
    ``salted_prefix_sum``, bit-identical by the order-free-integer-adds
    rule and pinned in tests/test_skew.py.  Plus a K-row horizon
    aggregate and one broadcast; no corpus collect."""
    from agf_data_ingestion_spark.operators.skew import (
        route_salted,
        salted_prefix_sum,
    )

    d = docs.withColumn(
        "n_tokens", F.size(F.split(F.col(text_col), " ")).cast("long")
    ).withColumn(
        "_h",
        F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string"))),
    )
    d = d.join(
        F.broadcast(weights.select(source_col, "weight_ppm")), source_col
    )
    if route_salted(docs):
        d = salted_prefix_sum(
            d, [source_col], "n_tokens", "_h", id_col, out_col="_cum"
        )
    else:
        sw = (
            Window.partitionBy(source_col)
            .orderBy("_h", id_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        d = d.withColumn("_cum", F.sum("n_tokens").over(sw))
    d = d.withColumn("_t", F.expr(_wfq_t_expr("_cum")))
    if horizon:
        hor = (
            d.groupBy(source_col)
            .agg(F.max("_t").alias("_tm"))
            .agg(F.min("_tm").alias("_hor"))
        )
        d = d.crossJoin(F.broadcast(hor)).filter(
            F.col("_t") <= F.col("_hor")
        )
    # ``horizon=False`` (r9, the incremental-curation append): KEEP every
    # doc, ordered by virtual time — the horizon is an EPOCH-construction
    # rule (past the first exhaustion the mixture is unsatisfiable within
    # one pass), but an append batch extends an existing release, where
    # per-batch shares only approximate the weights to batch granularity
    # anyway; dropping most of a small batch because one source ran short
    # would starve the corpus instead of balancing it.
    return d.withColumn(
        "_wfq",
        F.concat(F.lpad(F.col("_t").cast("string"), 20, "0"), F.col("_h")),
    ).drop("_cum", "_hor", "_h")


def shuffle_order_plan(
    docs: DataFrame,
    *,
    seed: str = "0",
    text_col: str = "text",
    id_col: str = "doc_id",
    num_partitions: int | None = None,
    order_key: str | None = None,
    tokens_col: str | None = None,
) -> DataFrame:
    """The PRE-checkpoint plan of ``assign_shards``: token counts, the
    deterministic shuffle order ``_ord``, range partitioning on it, and
    the physical partition id ``_part``.  Extracted (r12, VERDICT r11
    ask #1) so the structural window sweep can walk the plan the eager
    ``localCheckpoint`` in ``assign_shards`` otherwise truncates —
    registered in ``plan_registry``."""
    n_parts = num_partitions or docs.sparkSession.sparkContext.defaultParallelism
    if tokens_col is None:
        base = docs.withColumn("n_tokens", F.size(F.split(F.col(text_col), " ")))
    elif tokens_col == "n_tokens":
        base = docs
    else:
        base = docs.withColumn("n_tokens", F.col(tokens_col))
    return (
        base
        .withColumn(
            "_ord",
            F.col(order_key)
            if order_key
            else F.md5(
                F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string"))
            ),
        )
        .repartitionByRange(n_parts, "_ord")
        .sortWithinPartitions("_ord")
        .withColumn("_part", F.spark_partition_id())
    )


def assign_shards(
    docs: DataFrame,
    *,
    budget_tokens: int = 4096,
    seed: str = "0",
    text_col: str = "text",
    id_col: str = "doc_id",
    num_partitions: int | None = None,
    order_key: str | None = None,
    tokens_col: str | None = None,
) -> DataFrame:
    """Adds ``n_tokens``, ``global_pos`` (1-based rank in the shuffled
    order) and ``shard_id`` (= floor((cumulative_tokens - 1) / budget))
    to ``docs``.  Deterministic for a given (corpus, seed, budget) —
    independent of cluster size, partition boundaries, or row arrival
    order.  ``order_key`` (r8) replaces the md5 shuffle order with a
    caller-supplied total-order column — the weighted-interleave hook
    (``weighted_interleave``'s ``_wfq`` key).  ``tokens_col`` (r10)
    names a precomputed token-count column instead of splitting
    ``text_col`` — the hook for callers whose rows no longer carry text
    (``docs_reweighted_shards``' catalog twin)."""
    # PIN the materialized partitioning: repartitionByRange samples its
    # boundaries with an rdd.id-seeded reservoir, so re-executing the
    # plan in a second job (the pass-2 join below is a separate action
    # from the pass-1 collect) could land boundary rows in DIFFERENT
    # partitions than the ones whose offsets were collected.  The
    # checkpoint makes both passes read the same physical partitions —
    # the same rule as every other multi-action plan in this repo
    # (plans/iterative.py).
    ordered = shuffle_order_plan(
        docs,
        seed=seed,
        text_col=text_col,
        id_col=id_col,
        num_partitions=num_partitions,
        order_key=order_key,
        tokens_col=tokens_col,
    ).localCheckpoint(eager=True)
    # pass 1: per-partition subtotals — the collect is bounded by the
    # partition count (rows ≤ n_parts), never by data size
    subtotals = {
        r["_part"]: (r["toks"], r["cnt"])
        for r in ordered.groupBy("_part")
        .agg(F.sum("n_tokens").alias("toks"), F.count("*").alias("cnt"))
        .collect()
    }
    tok_off, cnt_off, offsets = 0, 0, {}
    for p in sorted(subtotals):
        offsets[p] = (tok_off, cnt_off)
        tok_off += subtotals[p][0]
        cnt_off += subtotals[p][1]
    off_df = ordered.sparkSession.createDataFrame(
        [(p, int(t), int(c)) for p, (t, c) in offsets.items()],
        "_part int, _tok_off long, _cnt_off long",
    )
    # pass 2: local running sums (parallel per-partition windows) + offset
    w = (
        Window.partitionBy("_part")
        .orderBy("_ord")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ordered.join(F.broadcast(off_df), "_part")
        .withColumn("_cum", F.sum("n_tokens").over(w) + F.col("_tok_off"))
        .withColumn("global_pos", F.row_number().over(w).cast("long") + F.col("_cnt_off"))
        # integer floor division (not double /): _cum values near 2^53
        # with a non-power-of-two budget could round across a shard
        # boundary under float division (r4 ADVICE); `div` truncates
        # toward zero, which equals floor here because _cum >= 1
        .withColumn(
            "shard_id", F.expr(f"(_cum - 1) div {int(budget_tokens)}").cast("long")
        )
        .drop("_ord", "_part", "_tok_off", "_cnt_off", "_cum")
    )


def write_training_shards(
    docs: DataFrame,
    out_dir: str,
    *,
    budget_tokens: int = 4096,
    seed: str = "0",
    text_col: str = "text",
    id_col: str = "doc_id",
    lineage: bool = True,
) -> dict:
    """Materialize token-budgeted shards under ``out_dir``: one parquet
    directory per shard (``shard_id=N/``, single file — each shard's rows
    are co-located by the pre-write repartition on shard_id) plus a
    ``manifest.json`` with per-shard document/token counts for loader
    bookkeeping.  Returns the manifest dict.

    Idempotent overwrite per run; replaying the same (corpus, seed,
    budget) reproduces the identical layout on any cluster."""
    assigned = assign_shards(
        docs,
        budget_tokens=budget_tokens,
        seed=seed,
        text_col=text_col,
        id_col=id_col,
    )
    # one materialization for the three downstream actions (max, write,
    # stats): without it each action would re-run the prefix-sum pipeline
    # and the manifest could be computed from a different materialization
    # than the files on disk
    assigned = assigned.localCheckpoint(eager=True)
    n_shards = assigned.agg(F.max("shard_id")).collect()[0][0]
    n_shards = int(n_shards) + 1 if n_shards is not None else 0
    (
        assigned.repartition(max(n_shards, 1), "shard_id")
        .sortWithinPartitions("global_pos")
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .parquet(os.path.join(out_dir, "shards"))
    )
    stats = (
        assigned.groupBy("shard_id")
        .agg(
            F.count("*").alias("docs"),
            F.sum("n_tokens").alias("tokens"),
            F.min("global_pos").alias("first_pos"),
            F.max("global_pos").alias("last_pos"),
        )
        .collect()
    )
    manifest = {
        "seed": seed,
        "budget_tokens": budget_tokens,
        "n_shards": n_shards,
        "shards": {
            int(r["shard_id"]): {
                "docs": int(r["docs"]),
                "tokens": int(r["tokens"]),
                "first_pos": int(r["first_pos"]),
                "last_pos": int(r["last_pos"]),
                "path": f"shards/shard_id={int(r['shard_id'])}",
            }
            for r in stats
        },
    }
    if lineage:
        # doc → shard lineage as a SNAPSHOT table (r8, takedown support):
        # range-clustered + bloom'd on the doc id so a takedown batch
        # finds its shards from tight per-file stats instead of scanning,
        # and erasure itself is the zero-read equality-delete primitive.
        from agf_data_ingestion_spark.sources.snapshots import snapshot_write

        snapshot_write(
            assigned.select(id_col, "shard_id", "n_tokens"),
            os.path.join(out_dir, "lineage"),
            mode="overwrite",
            cluster_by=[id_col],
            bloom_cols=[id_col],
            op=f"lineage:{seed}:{budget_tokens}",
        )
        manifest["lineage"] = "lineage"
    os.makedirs(out_dir, exist_ok=True)
    tmp = os.path.join(out_dir, "manifest.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(out_dir, "manifest.json"))
    return manifest


def _drop_crc(path: str) -> None:
    """Remove Hadoop's local-FS checksum sidecar for a file whose bytes
    were swapped outside Hadoop — a stale ``.<name>.crc`` fails every
    subsequent read with ChecksumException."""
    crc = os.path.join(
        os.path.dirname(path), "." + os.path.basename(path) + ".crc"
    )
    try:
        os.remove(crc)
    except FileNotFoundError:
        pass


def takedown_shards(
    spark,
    out_dir: str,
    doc_ids,
    *,
    id_col: str = "doc_id",
) -> dict:
    """Surgical takedown (GDPR / rights-holder removal) from MATERIALIZED
    training shards: find the affected shards through the lineage table,
    rewrite ONLY those shard files without the removed documents, leave
    every other shard byte-untouched, erase the lineage rows with a
    zero-read equality delete, and update ``manifest.json`` counts with
    an audit entry.  Idempotent: ids already removed (or never present)
    affect nothing and commit nothing.

    Scale shape: the lineage lookup is one scan pruned by per-file
    min/max + doc-id blooms (the lineage table is range-clustered on the
    id at write time) against a broadcast id batch; the rewrite cost is
    O(affected shards), never O(corpus) — at 100 TB a thousand-doc
    takedown touches a handful of shard files.  Each shard file is
    swapped with ``os.replace`` (atomic; readers holding the old fd keep
    a consistent view).  Positions (``global_pos``) of surviving docs
    are PRESERVED — a takedown leaves holes, it does not re-shard, so
    untouched shards stay bit-identical and loader bookkeeping keyed on
    positions survives.

    The reference's export path ships curated zips and deletes by
    re-export; this is the in-place analog a 100 TB corpus needs."""
    import pyarrow.parquet as pq

    from agf_data_ingestion_spark.sources.snapshots import (
        snapshot_delete_keys,
        snapshot_maintain,
        snapshot_read,
    )

    mpath = os.path.join(out_dir, "manifest.json")
    with open(mpath) as fh:
        manifest = json.load(fh)
    if "lineage" not in manifest:
        raise ValueError(
            f"{out_dir}: shards were written without lineage — "
            f"takedown would need a corpus re-scan; rewrite with "
            f"write_training_shards(lineage=True)"
        )
    lin_tbl = os.path.join(out_dir, manifest["lineage"])
    ids = sorted({int(i) for i in doc_ids})
    key_df = spark.createDataFrame([(i,) for i in ids], f"{id_col} bigint")
    hits = (
        snapshot_read(spark, lin_tbl)
        .join(F.broadcast(key_df), id_col, "inner")
        .select(id_col, "shard_id")
        .collect()  # bounded by the takedown batch, never the corpus
    )
    report = {
        "requested": len(ids),
        "removed_docs": len(hits),
        "affected_shards": sorted({int(r["shard_id"]) for r in hits}),
    }
    if not hits:
        report["untouched"] = True
        return report
    hit_ids = sorted({int(r[id_col]) for r in hits})
    ids_by_shard: dict[int, list[int]] = {}
    for r in hits:
        ids_by_shard.setdefault(int(r["shard_id"]), []).append(int(r[id_col]))
    shards_root = os.path.join(out_dir, "shards")
    for sid in report["affected_shards"]:
        sdir = os.path.join(shards_root, f"shard_id={sid}")
        old_files = sorted(
            os.path.join(sdir, n)
            for n in os.listdir(sdir)
            if n.endswith(".parquet")
        )
        # filter with THIS shard's ids only — a large takedown batch
        # must not evaluate its whole id list against every shard's rows
        kept = spark.read.parquet(sdir).where(
            ~F.col(id_col).isin(ids_by_shard[sid])
        )
        stage = os.path.join(out_dir, f".takedown-{uuid.uuid4().hex}")
        kept.coalesce(1).write.mode("error").parquet(stage)
        new_files = sorted(
            os.path.join(stage, n)
            for n in os.listdir(stage)
            if n.endswith(".parquet")
        )
        stats = {"docs": 0, "tokens": 0, "first_pos": None, "last_pos": None}
        if new_files:
            t0 = pq.read_table(new_files[0], columns=["n_tokens", "global_pos"])
            stats["docs"] = t0.num_rows
            if t0.num_rows:
                import pyarrow.compute as pc

                stats["tokens"] = int(pc.sum(t0["n_tokens"]).as_py())
                stats["first_pos"] = int(pc.min(t0["global_pos"]).as_py())
                stats["last_pos"] = int(pc.max(t0["global_pos"]).as_py())
            # atomic in-place swap onto the FIRST old file; surplus old
            # parts (multi-file shards) are removed after the swap
            os.replace(new_files[0], old_files[0])
            _drop_crc(old_files[0])
        else:
            # every doc of the shard was removed: swap in a 0-row file
            # with the surviving schema so loaders see an empty shard,
            # not a missing one
            schema = pq.read_schema(old_files[0])
            pq.write_table(schema.empty_table(), old_files[0] + ".tmp")
            os.replace(old_files[0] + ".tmp", old_files[0])
            _drop_crc(old_files[0])
        for surplus in old_files[1:]:
            os.remove(surplus)
            _drop_crc(surplus)
        shutil.rmtree(stage, ignore_errors=True)
        ms = manifest["shards"][str(sid)]
        ms.update(stats)
    # zero-read lineage erasure, then policy maintenance compacts the eq
    # debt so metadata-exact rowcount/minmax come back immediately
    hit_df = spark.createDataFrame([(i,) for i in hit_ids], f"{id_col} bigint")
    report["lineage_version"] = snapshot_delete_keys(hit_df, lin_tbl)
    snapshot_maintain(spark, lin_tbl)
    manifest.setdefault("takedowns", []).append(
        {
            "removed_docs": len(hit_ids),
            "affected_shards": report["affected_shards"],
            "lineage_version": report["lineage_version"],
        }
    )
    tmp = mpath + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    os.replace(tmp, mpath)
    return report
