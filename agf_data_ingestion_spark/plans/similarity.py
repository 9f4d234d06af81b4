"""Similarity-search catalog (SURVEY.md §2.9): array folds, brute-force
cosine top-k, label-blocked near-dup, and an LSH-bucketed ANN variant.

Determinism across engines: every floating reduction over the embedding
arrays is a *sequential left fold in DOUBLE* — array order is defined, both
engines fold left-to-right (Spark ``aggregate``, DuckDB ``list_reduce``),
and IEEE-754 addition is deterministic, so results are bit-identical.
(A decimal-cast approach fails here: Spark converts DOUBLE→DECIMAL via the
shortest round-trip string, DuckDB via the exact binary expansion.)

Scale design:
* Brute-force top-k broadcasts the (small) query set against the corpus —
  a map-side-only pass plus a per-query top-k window; this is the exact
  baseline.
* The ANN variant buckets vectors by random-hyperplane LSH signs so only
  same-bucket pairs are scored — the 100 TB path (probes scale with bucket
  size, not corpus size).  Hyperplanes are md5-derived integer vectors and
  sign bits are exact integer dot products (r3), so even the bucketing is
  oracle-checked bit-for-bit; recall vs the brute-force baseline is
  additionally asserted in tests.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from agf_data_ingestion_spark.plans.base import QuerySpec, t

_TOPK = 3
_N_QUERIES = 5


def _detect_dim(default: int = 64) -> int:
    """Embedding dimensionality, read from the smallest testdata slice at
    import (the driver REGENERATES testdata between rounds — a silent dim
    change would otherwise break every hyperplane/fold constant baked
    into the oracle strings).  Falls back to the historical 64 when no
    testdata is reachable (e.g. unit contexts)."""
    try:
        import duckdb

        row = duckdb.sql(
            "SELECT len(embedding) FROM"
            " read_parquet('/root/testdata/sf0.001/embeddings.parquet') LIMIT 1"
        ).fetchone()
        return int(row[0]) if row else default
    except Exception:
        return default


_DIM = _detect_dim()
#: Spark/DuckDB-shared quantization for LSH sign bits: floor(x·64) is exact
_ANN_CODE_SCALE = 64.0


def _seq_fold(arr: Column) -> Column:
    """Sequential left fold (sum) of an array<double> column."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def _vec_fold_dot(a, b):
    """Arrow-batched dot product that PRESERVES sequential-left-fold IEEE
    bit semantics: accumulate dimension-by-dimension in index order with a
    float64 vector across the batch.  Per row this computes exactly
    ``(((0.0 + p0) + p1) + p2)…`` — the same add order as the Spark
    ``aggregate`` fold and DuckDB's ``list_reduce`` — while the batch
    dimension is numpy-vectorized (measured ~6× over the interpreted fold
    on the IVF centroid ranking at sf0.1).  float32→float64 widening is
    exact, and float64 ``*``/``+`` are identical IEEE ops in numpy, the
    JVM, and DuckDB, so results stay bit-identical (verified by every
    emb_* oracle and pinned by tests/test_similarity.py)."""
    if len(a) == 0:  # np.stack rejects empty batches
        return pd.Series([], dtype=np.float64)
    A = np.stack(a.to_numpy()).astype(np.float64)
    B = np.stack(b.to_numpy()).astype(np.float64)
    acc = np.zeros(A.shape[0])
    for i in range(A.shape[1]):
        acc = acc + A[:, i] * B[:, i]
    return pd.Series(acc)


#: lazily-created UDF handle: pandas_udf with a string return type parses
#: DDL against the ACTIVE SparkContext, so creating it at import time
#: fails before any session exists.  (No pd.Series type hints either: this
#: module has ``from __future__ import annotations``, and string hints
#: break pandas_udf signature inference.)
_ADOT_CACHE: list = []


def _adot(a: Column, b: Column) -> Column:
    if not _ADOT_CACHE:
        _ADOT_CACHE.append(F.pandas_udf(_vec_fold_dot, "double"))
    return _ADOT_CACHE[0](a, b)


def _dot(a: Column, b: Column) -> Column:
    """Bit-faithful dot product (left-fold add order; see _vec_fold_dot).

    Note: an unrolled ``0.0 + a[1]*b[1] + …`` chain was tried and is
    WORSE — 2048-node expression trees exceed janino's method limits, fail
    codegen, and the interpreted fallback is slower than the fold; the
    Arrow per-dimension accumulation replaces both while keeping the
    identical IEEE result."""
    return _adot(a, b)


def _jvm_dot(a: Column, b: Column) -> Column:
    """The pure-JVM sequential fold (same bits as _dot); kept for contexts
    where an ArrowEvalPython node is not plannable (e.g. inside join
    conditions) or for A/B timing."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return _seq_fold(prods)


def _sq_norm(a: Column) -> Column:
    return _dot(a, a)


#: DuckDB twin of the sequential fold: 0.0 init keeps parity with Spark's
#: aggregate (0.0 + x0 == x0 bit-for-bit for finite nonzero x0).
def _o_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(0.0, list_transform(range(1, {_DIM} + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), (x, y) -> x + y)"
    )


# ---------------------------------------------------------------------------
# Array fold metrics (OP-ARR-SUM generalized to embeddings)
# ---------------------------------------------------------------------------


def emb_array_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    arr = F.col("embedding")
    return e.select(
        "vec_id",
        F.size(arr).alias("dim"),
        _seq_fold(F.transform(arr, lambda x: x.cast("double"))).alias("elem_sum"),
        F.sqrt(_sq_norm(arr)).alias("l2_norm"),
    )


_ARRAY_FOLD_SQL = f"""
SELECT vec_id,
       CAST(len(embedding) AS INT) AS dim,
       list_reduce(list_prepend(0.0, list_transform(embedding, x -> CAST(x AS DOUBLE))),
                   (a, b) -> a + b) AS elem_sum,
       sqrt({_o_dot('embedding', 'embedding')}) AS l2_norm
FROM embeddings
"""


# ---------------------------------------------------------------------------
# Brute-force cosine top-k (OP-X-SIM-TOPK baseline)
# ---------------------------------------------------------------------------


def emb_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    corpus = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("emb_n"),
        F.sqrt(_sq_norm(F.col("embedding"))).alias("norm_n"),
    )
    queries = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("emb_q"),
        F.sqrt(_sq_norm(F.col("embedding"))).alias("norm_q"),
    )
    sim = _dot(F.col("emb_q"), F.col("emb_n")) / (F.col("norm_q") * F.col("norm_n"))
    scored = (
        corpus.join(F.broadcast(queries))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", sim.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _TOPK)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


_COSINE_TOPK_SQL = f"""
WITH norms AS (
  SELECT vec_id, sqrt({_o_dot('embedding', 'embedding')}) AS nrm FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_o_dot('q.embedding', 'c.embedding')} / (nq.nrm * nc.nrm) AS cosine
  FROM embeddings q
  JOIN embeddings c ON c.vec_id != q.vec_id
  JOIN norms nq ON q.vec_id = nq.vec_id
  JOIN norms nc ON c.vec_id = nc.vec_id
  WHERE q.vec_id < {_N_QUERIES}
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= {_TOPK}
"""


# ---------------------------------------------------------------------------
# Label-blocked embedding near-dup (OP-X-DEDUP-NEAR, embedding-cosine variant)
# ---------------------------------------------------------------------------


#: cells larger than this are grid-salted so no single join task goes
#: quadratic on a skewed label (VERDICT.md r1 "What's wrong" #4)
_NEARDUP_SALT_THRESHOLD = 2000
_NEARDUP_SALT_G = 8


def emb_neardup_by_label(
    spark: SparkSession,
    sf_dir: str,
    *,
    salt_threshold: int = _NEARDUP_SALT_THRESHOLD,
    salt_g: int = _NEARDUP_SALT_G,
) -> DataFrame:
    """Candidate near-duplicate pairs: block on ``label`` (the IVF-style
    coarse partition), score cosine within blocks, keep pairs >= 0.35.

    Skew cap: a single hot label makes the within-block self-join quadratic
    in ONE task.  Cells above ``salt_threshold`` rows are split into a
    ``salt_g`` × ``salt_g`` grid — each row gets a deterministic md5 bucket,
    side A is replicated across the grid's columns and side B across its
    rows, and the join key becomes (label, i, j).  Every pair still meets in
    exactly one grid task (the one keyed by its two buckets), so the result
    set is IDENTICAL to the naive self-join — only the physical task sizes
    change, bounded by (cell/g)².  Small cells keep g=1 (no replication).
    """
    e = t(spark, sf_dir, "embeddings")
    v = e.select(
        F.col("label").alias("cell"),
        F.col("vec_id"),
        F.col("embedding"),
        F.sqrt(_sq_norm(F.col("embedding"))).alias("nrm"),
    )
    pairs = _within_cell_pairs(v, salt_threshold=salt_threshold, salt_g=salt_g)
    return pairs.select(
        "vec_a", "vec_b", F.col("cell").alias("label"), "cosine"
    ).filter(F.col("cosine") >= 0.35)


def _within_cell_pairs(
    v: DataFrame,
    *,
    salt_threshold: int = _NEARDUP_SALT_THRESHOLD,
    salt_g: int = _NEARDUP_SALT_G,
) -> DataFrame:
    """All within-cell pairs (vec_a < vec_b) with exact cosine, grid-salted
    (see emb_neardup_by_label docstring for the salting contract — result
    identical to the naive self-join, only task sizes change).  ``v`` must
    carry (cell, vec_id, embedding, nrm).  Shared by the label-blocked
    near-dup query and the SemDeDup pass."""
    sizes = v.groupBy("cell").agg(F.count("*").alias("cell_n"))
    g = F.when(F.col("cell_n") > salt_threshold, F.lit(salt_g)).otherwise(F.lit(1))
    bucket = (
        F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8), 16, 10).cast("long")
        % g
    ).cast("int")
    vg = v.join(F.broadcast(sizes), "cell").select(
        "cell", "vec_id", "embedding", "nrm", g.alias("g"), bucket.alias("bkt")
    )
    grid = F.explode(F.sequence(F.lit(0), F.col("g") - 1))
    a = vg.select(
        F.col("cell"),
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
        F.col("bkt").alias("gi"),
        grid.alias("gj"),
    )
    b = vg.select(
        F.col("cell").alias("cell_b"),
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
        grid.alias("gi_b"),
        F.col("bkt").alias("gj_b"),
    )
    sim = _dot(F.col("emb_a"), F.col("emb_b")) / (F.col("nrm_a") * F.col("nrm_b"))
    return (
        # both sides are corpus-sized — force the shuffle join on the grid key
        a.join(
            b.hint("shuffle_hash"),
            (F.col("cell") == F.col("cell_b"))
            & (F.col("gi") == F.col("gi_b"))
            & (F.col("gj") == F.col("gj_b"))
            & (F.col("vec_a") < F.col("vec_b")),
        )
        .select("vec_a", "vec_b", "cell", sim.alias("cosine"))
    )


_NEARDUP_SQL = f"""
WITH norms AS (
  SELECT vec_id, label, embedding, sqrt({_o_dot('embedding', 'embedding')}) AS nrm
  FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
         {_o_dot('a.embedding', 'b.embedding')} / (a.nrm * b.nrm) AS cosine
  FROM norms a JOIN norms b ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, label, cosine FROM pairs WHERE cosine >= 0.35
"""


_NEG_K = 4


def emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor, the
    top-``{k}`` most-similar vectors with a DIFFERENT label — the
    near-miss negatives that sharpen a contrastive objective (uniform
    random negatives are mostly trivial; the hard ones live at the
    decision boundary).  Anchors are the standard query slice.

    Scale shape: identical to the brute-force cosine baseline — anchors
    filter-then-broadcast, the corpus is scanned map-only, and the
    per-anchor top-k is a WindowGroupLimit (map-side truncation), so the
    label-inequality residual adds zero extra shuffle.  At 10⁹ vectors
    swap the scan for the LSH/IVF candidate generators (same downstream
    ranking); the label predicate composes with any of them.
    """
    e = t(spark, sf_dir, "embeddings")
    corpus = e.select(
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("neg_label"),
        F.col("embedding").alias("emb_n"),
        F.sqrt(_sq_norm(F.col("embedding"))).alias("norm_n"),
    )
    anchors = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("embedding").alias("emb_q"),
        F.sqrt(_sq_norm(F.col("embedding"))).alias("norm_q"),
    )
    sim = _dot(F.col("emb_q"), F.col("emb_n")) / (F.col("norm_q") * F.col("norm_n"))
    scored = (
        corpus.join(F.broadcast(anchors))
        .filter(F.col("neg_label") != F.col("anchor_label"))
        .select("anchor_id", "neg_id", sim.alias("cosine"))
    )
    w = Window.partitionBy("anchor_id").orderBy(F.desc("cosine"), F.asc("neg_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _NEG_K)
        .select("anchor_id", "neg_id", "rank", "cosine")
    )


emb_hard_negatives.__doc__ = emb_hard_negatives.__doc__.format(k=_NEG_K)


_HARD_NEG_SQL = f"""
WITH norms AS (
  SELECT vec_id, sqrt({_o_dot('embedding', 'embedding')}) AS nrm FROM embeddings
),
scored AS (
  SELECT q.vec_id AS anchor_id, c.vec_id AS neg_id,
         {_o_dot('q.embedding', 'c.embedding')} / (nq.nrm * nc.nrm) AS cosine
  FROM embeddings q
  JOIN embeddings c ON c.label != q.label
  JOIN norms nq ON q.vec_id = nq.vec_id
  JOIN norms nc ON c.vec_id = nc.vec_id
  WHERE q.vec_id < {_N_QUERIES}
)
SELECT anchor_id, neg_id, CAST(rank AS INT) AS rank, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY anchor_id ORDER BY cosine DESC, neg_id ASC) AS rank
  FROM scored
) WHERE rank <= {_NEG_K}
"""


# ---------------------------------------------------------------------------
# SemDeDup: semantic dedup via cluster-blocked cosine (Abbas et al. 2023)
# ---------------------------------------------------------------------------

_SD_MIN_BITS = 6  # floor: 64 cells
_SD_MAX_BITS = 14  # cap: 16k cells (1e6+ vectors at target occupancy)
_SD_TARGET_OCC = 64  # target mean vectors per cell
_SD_TAU = 0.35  # within-cell cosine above which the higher id is dropped


def _sd_bits(n: int) -> int:
    """Cell-bit count for an ``n``-vector corpus: the smallest b in
    [_SD_MIN_BITS, _SD_MAX_BITS] with ``n <= _SD_TARGET_OCC << b`` — mean
    cell occupancy stays ≤ the target as the corpus grows (r5: the 10×
    ladder showed a FIXED bit count steepening the within-cell quadratic
    verify, 3.1× wall at 10× rows).  Integer-only comparisons so the SQL
    twin computes the identical value (log2 would not be engine-exact)."""
    for b in range(_SD_MIN_BITS, _SD_MAX_BITS + 1):
        if n <= _SD_TARGET_OCC << b:
            return b
    return _SD_MAX_BITS


def emb_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication: partition the embedding space
    into cells, and inside each cell drop every vector that has a
    LOWER-id neighbor with cosine ≥ {tau} (keep-first by id — the greedy,
    iteration-free variant: one self-join decides the whole kept set, no
    connected-components rounds).  Returns the SURVIVORS (vec_id, cell).

    Cells here are {bits} md5-derived integer-hyperplane sign bits (the
    data-oblivious stand-in for the paper's k-means clusters — the same
    exact-integer bucketing as emb_ann_lsh_topk, so the cell assignment is
    bit-identical in SQL); swap in emb_kmeans_train's cells for the
    data-dependent variant and nothing downstream changes.  Scale: the
    within-cell self-join rides the shared grid-salted pair generator
    (``_within_cell_pairs``) — quadratic only within (cell/g)² tasks, and
    bits grow with log(corpus) to hold cell sizes flat.  Cosine is the
    module's order-preserving float fold: bit-identical across engines.
    """
    from pyspark.sql.functions import pandas_udf

    import hashlib

    e = t(spark, sf_dir, "embeddings")
    n_bits = _sd_bits(e.count())  # driver scalar, like a centroid count
    planes = np.empty((n_bits, _DIM), dtype=np.int64)
    for b in range(n_bits):
        for d in range(_DIM):
            h = int(hashlib.md5(f"sd:{b}:{d}".encode()).hexdigest()[:10], 16)
            planes[b, d] = h % 2001 - 1000
    plane_mat = planes.T  # (dim, bits)
    bit_weights = 1 << np.arange(n_bits)

    # no pd.Series type hints: this module has `from __future__ import
    # annotations`, under which string hints only resolve by accident
    # (CLAUDE.md trap) — pass the return type explicitly instead
    def _cell_fn(emb):
        V = np.vstack(emb.to_numpy())
        codes = np.floor(V.astype(np.float64) * _ANN_CODE_SCALE).astype(np.int64)
        signs = (codes @ plane_mat) >= 0  # exact int64 dots: order-free
        return pd.Series((signs * bit_weights).sum(axis=1).astype(np.int32))

    cell_of = pandas_udf(_cell_fn, "int")

    # deliberately NOT cached despite three consumers: v carries the raw
    # embedding arrays, and caching corpus-sized array columns costs more
    # in block serialization than recomputing the cell UDF + norm fold
    # (measured r4: v.cache() regressed this query 1.9 -> 3.6 s).  The
    # production shape precomputes cells/norms at ingest instead
    # (sources/ann_layout.py).
    v = e.select(
        cell_of(F.col("embedding")).alias("cell"),
        "vec_id",
        "embedding",
        F.sqrt(_sq_norm(F.col("embedding"))).alias("nrm"),
    )
    dropped = (
        _within_cell_pairs(v)
        .filter(F.col("cosine") >= _SD_TAU)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
    )
    return (
        v.join(dropped.hint("shuffle_hash"), "vec_id", "left_anti")
        .select("vec_id", "cell")
        .orderBy("vec_id")
    )


emb_semdedup.__doc__ = emb_semdedup.__doc__.format(
    tau=_SD_TAU, bits=f"adaptive (floor {_SD_MIN_BITS}, occupancy-targeted)"
)


_SEMDEDUP_SQL = f"""
WITH codes AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * {_ANN_CODE_SCALE}) AS BIGINT)) AS code
  FROM embeddings
),
bb AS (
  -- integer-only twin of _sd_bits(n): smallest b with n <= TARGET << b
  SELECT COALESCE(MIN(b), {_SD_MAX_BITS}) AS bits
  FROM (SELECT unnest(range({_SD_MIN_BITS}, {_SD_MAX_BITS} + 1)) AS b),
       (SELECT COUNT(*) AS n FROM embeddings)
  WHERE n <= {_SD_TARGET_OCC} * (1 << b)
),
planes AS (
  SELECT b, d,
         (('0x' || substr(md5('sd:' || b::VARCHAR || ':' || d::VARCHAR), 1, 10))::BIGINT
          % 2001) - 1000 AS p
  FROM (SELECT unnest(range(0, {_SD_MAX_BITS})) AS b),
       (SELECT unnest(range(0, {_DIM})) AS d)
  WHERE b < (SELECT bits FROM bb)
),
bits AS (
  SELECT c.vec_id, pl.b,
         CASE WHEN SUM(c.code[pl.d + 1] * pl.p) >= 0 THEN 1 ELSE 0 END AS s
  FROM codes c CROSS JOIN planes pl
  GROUP BY c.vec_id, pl.b
),
cells AS (
  SELECT vec_id, CAST(SUM(s * (1 << b)) AS INT) AS cell
  FROM bits GROUP BY vec_id
),
norms AS (
  SELECT e.vec_id, cl.cell, e.embedding,
         sqrt({_o_dot('e.embedding', 'e.embedding')}) AS nrm
  FROM embeddings e JOIN cells cl ON e.vec_id = cl.vec_id
),
dropped AS (
  SELECT DISTINCT a.vec_id
  FROM norms a JOIN norms b ON a.cell = b.cell AND b.vec_id < a.vec_id
  WHERE {_o_dot('a.embedding', 'b.embedding')} / (a.nrm * b.nrm) >= {_SD_TAU}
)
SELECT n.vec_id, n.cell
FROM norms n
WHERE n.vec_id NOT IN (SELECT vec_id FROM dropped)
ORDER BY n.vec_id
"""


# ---------------------------------------------------------------------------
# LSH-bucketed ANN top-k (the scale path; fully oracle-checked)
# ---------------------------------------------------------------------------


_ANN_TABLES = 8
_ANN_BITS = 4
#: multi-probe: per table, queries ALSO probe the buckets reached by
#: flipping each of the _ANN_PROBES lowest-|margin| sign bits (r4 — holds
#: recall as the corpus grows without re-bucketing the corpus side).
_ANN_PROBES = 2


def _md5_planes() -> np.ndarray:
    """Integer hyperplanes derived from md5 — the SAME integers any engine
    derives from the same hex, so the bucketing is SQL-expressible:
    ``p[t,b,d] = int(md5(f"{t}:{b}:{d}")[:10], 16) % 2001 - 1000``."""
    import hashlib

    planes = np.empty((_ANN_TABLES, _ANN_BITS, _DIM), dtype=np.int64)
    for ti in range(_ANN_TABLES):
        for b in range(_ANN_BITS):
            for d in range(_DIM):
                h = int(hashlib.md5(f"{ti}:{b}:{d}".encode()).hexdigest()[:10], 16)
                planes[ti, b, d] = h % 2001 - 1000
    return planes


def emb_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table random-hyperplane LSH ANN: ``_ANN_TABLES`` independent
    hash tables of ``_ANN_BITS`` sign bits each; a (query, vector) pair is
    a candidate if ANY table buckets them together (recall compounds as
    1-(1-p^bits)^tables), candidates are deduped before exact scoring so
    each pair is scored once.

    Fully oracle-checked (r3 — was rows-only): hyperplanes are md5-derived
    INTEGER vectors and embeddings quantize to ``floor(x·64)`` BIGINTs, so
    each sign bit is the sign of an exact integer dot product — identical
    in numpy int64, the JVM, and DuckDB, with no float-rounding ambiguity
    at the sign boundary.  The exact re-rank stays the module's
    bit-faithful float fold.

    Probe cost ~ tables × probes × bucket-size, independent of corpus size
    when bits scale with log(corpus) — the 100 TB path.  The 32 plane dots
    per vector are one int64 numpy matmul inside an Arrow-batched
    pandas_udf (this projection is the query's hot spot: |corpus| × tables
    × bits dot products); tests/test_similarity.py additionally asserts
    recall vs the brute-force baseline.

    Multi-probe (r4): the corpus keeps ONE bucket per table, but each
    QUERY additionally probes the ``_ANN_PROBES`` buckets reached by
    flipping its lowest-margin sign bits (margin = |integer dot| — a near-
    zero dot means the vector sits next to that hyperplane, so its true
    neighbors are likely on the other side).  This is the standard answer
    to recall decay at scale (Lv et al., VLDB'07): probe volume grows on
    the tiny query side only — no extra corpus shuffle, no more tables —
    and because margins are exact integers the probe ranking itself is
    deterministic and oracle-checked (ties broken by bit index).
    """
    from pyspark.sql.functions import pandas_udf

    planes = _md5_planes()
    plane_mat = planes.reshape(_ANN_TABLES * _ANN_BITS, _DIM).T  # (dim, 32)
    bit_weights = 1 << np.arange(_ANN_BITS)
    e = t(spark, sf_dir, "embeddings")

    def _codes_dots(emb):
        V = np.vstack(emb.to_numpy())  # (n, dim) float32
        codes = np.floor(V.astype(np.float64) * _ANN_CODE_SCALE).astype(np.int64)
        return (codes @ plane_mat).reshape(len(V), _ANN_TABLES, _ANN_BITS)

    # explicit returnType, no pd.Series hints (future-annotations trap)
    def _buckets_fn(emb):
        dots = _codes_dots(emb)  # exact int64 dots: order-free
        ints = ((dots >= 0) * bit_weights).sum(axis=2)
        return pd.Series([[f"{ti}:{row[ti]}" for ti in range(_ANN_TABLES)] for row in ints])

    def _probes_fn(emb):
        dots = _codes_dots(emb)
        base = ((dots >= 0) * bit_weights).sum(axis=2)  # (n, tables)
        # stable argsort on |margin|: equal margins keep lower bit first —
        # matches the oracle's ORDER BY abs(dotv), b tiebreak exactly
        order = np.argsort(np.abs(dots), axis=2, kind="stable")
        out = []
        for r in range(dots.shape[0]):
            row = []
            for ti in range(_ANN_TABLES):
                row.append(f"{ti}:{base[r, ti]}")
                for p in range(_ANN_PROBES):
                    row.append(f"{ti}:{base[r, ti] ^ (1 << int(order[r, ti, p]))}")
            out.append(row)
        return pd.Series(out)

    table_buckets = pandas_udf(_buckets_fn, "array<string>")
    probe_buckets = pandas_udf(_probes_fn, "array<string>")

    corpus = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.explode(table_buckets(F.col("embedding"))).alias("bucket"),
    )
    # probe expansion runs on the FILTERED query rows only — the corpus
    # side never pays for multi-probe
    queries = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.explode(probe_buckets(F.col("embedding"))).alias("bucket"),
    )
    cands = (
        corpus.join(F.broadcast(queries), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()  # a pair colliding in several tables is scored once
    )
    emb = e.select(
        F.col("vec_id"),
        F.col("embedding"),
        F.sqrt(_sq_norm(F.col("embedding"))).alias("nrm"),
    )
    # queries: tiny, filtered BEFORE the broadcast.  corpus side: shuffle
    # hash join on neighbor_id — broadcasting every corpus vector would
    # defeat the LSH bucketing at scale (VERDICT.md r1 "What's wrong" #2).
    qe = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("emb_q"),
        F.col("nrm").alias("nrm_q"),
    )
    ne = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("emb_n"),
        F.col("nrm").alias("nrm_n"),
    )
    sim = _dot(F.col("emb_q"), F.col("emb_n")) / (F.col("nrm_q") * F.col("nrm_n"))
    scored = (
        cands.join(F.broadcast(qe), "query_id")
        .join(ne.hint("shuffle_hash"), "neighbor_id")
        .select("query_id", "neighbor_id", sim.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _TOPK)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


_ANN_LSH_SQL = f"""
WITH codes AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * {_ANN_CODE_SCALE}) AS BIGINT)) AS code
  FROM embeddings
),
planes AS (
  SELECT t, b, d,
         (('0x' || substr(md5(t::VARCHAR || ':' || b::VARCHAR || ':' || d::VARCHAR), 1, 10))::BIGINT
          % 2001) - 1000 AS p
  FROM (SELECT unnest(range(0, {_ANN_TABLES})) AS t),
       (SELECT unnest(range(0, {_ANN_BITS})) AS b),
       (SELECT unnest(range(0, {_DIM})) AS d)
),
bits AS (
  SELECT c.vec_id, pl.t, pl.b, SUM(c.code[pl.d + 1] * pl.p) AS dotv
  FROM codes c CROSS JOIN planes pl
  GROUP BY c.vec_id, pl.t, pl.b
),
buckets AS (
  SELECT vec_id, t,
         CAST(SUM(CASE WHEN dotv >= 0 THEN (1 << b) ELSE 0 END) AS BIGINT) AS bkt
  FROM bits GROUP BY vec_id, t
),
qprobes AS (
  -- multi-probe: base bucket plus the {_ANN_PROBES} lowest-|margin|
  -- single-bit flips per table (exact-integer margins; bit-index tiebreak)
  SELECT vec_id, t, bkt FROM buckets WHERE vec_id < {_N_QUERIES}
  UNION ALL
  SELECT r.vec_id, r.t, xor(bk.bkt, (1 << r.b)) AS bkt
  FROM (
    SELECT vec_id, t, b,
           row_number() OVER (PARTITION BY vec_id, t
                              ORDER BY abs(dotv) ASC, b ASC) AS rn
    FROM bits WHERE vec_id < {_N_QUERIES}
  ) r JOIN buckets bk ON r.vec_id = bk.vec_id AND r.t = bk.t
  WHERE r.rn <= {_ANN_PROBES}
),
cands AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM qprobes q JOIN buckets c ON q.t = c.t AND q.bkt = c.bkt AND c.vec_id != q.vec_id
),
v AS (
  SELECT vec_id, embedding, sqrt({_o_dot('embedding', 'embedding')}) AS nrm
  FROM embeddings
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cosine FROM (
  SELECT s.query_id, s.neighbor_id,
         {_o_dot('q.embedding', 'n.embedding')} / (q.nrm * n.nrm) AS cosine,
         row_number() OVER (
           PARTITION BY s.query_id
           ORDER BY {_o_dot('q.embedding', 'n.embedding')} / (q.nrm * n.nrm) DESC,
                    s.neighbor_id ASC
         ) AS rank
  FROM cands s
  JOIN v q ON s.query_id = q.vec_id
  JOIN v n ON s.neighbor_id = n.vec_id
) WHERE rank <= {_TOPK}
"""


# ---------------------------------------------------------------------------
# IVF-style ANN top-k (coarse-quantizer cells + nprobe; full SQL oracle)
# ---------------------------------------------------------------------------


_IVF_NPROBE = 2
#: quantization scale for centroid accumulation (2^20)
_IVF_Q = 1048576.0


def emb_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN: build coarse centroids as the per-``label``
    mean embedding, assign every vector to its nearest centroid cell, probe
    the ``_IVF_NPROBE`` nearest cells per query, and score exactly only
    within probed cells.  Complements emb_ann_lsh_topk: data-dependent cells
    (IVF) vs data-oblivious hyperplanes (LSH).

    At 100 TB the cell assignment is one broadcast-map pass (centroid table
    is tiny), candidate scoring touches nprobe/ncells of the corpus, and the
    only shuffle is the per-query top-k window over candidates.

    Cross-engine determinism: group means over float rows are order-
    dependent in IEEE double, so each component is quantized to an integer
    ``floor(v * 2^20)`` first — BIGINT sums are exact and order-independent,
    and the final ``sum/count`` double division is identical in both
    engines.  Distances then use the module's sequential-fold dot product.
    """
    e = t(spark, sf_dir, "embeddings")

    # centroids: per-label quantized-mean vector (array<double>, length
    # _DIM), built by posexplode → (label, dim) partial sums → ordered
    # array reassembly.  Same integers as a 64-expression groupBy (verified
    # bit-identical) but O(1) analyzed expressions instead of 64 — the
    # 64-agg variant spent ~1.8 s/invocation in driver-side analysis at any
    # data size — and the (label, dim) partials map-side combine, so the
    # exchange carries |labels|·_DIM rows regardless of corpus size.
    ex = e.select(F.col("label"), F.posexplode(F.col("embedding")).alias("i", "x"))
    # divide by ROWS PER LABEL (a one-column count pass, broadcast back) —
    # the oracle's COUNT(*) denominator — not by elements per (label, i):
    # the two only differ if a row's array is short, but parity must not
    # depend on that regularity (testdata layouts change between rounds)
    nrows = e.groupBy("label").agg(F.count("*").alias("n"))
    comp = (
        ex.groupBy("label", "i")
        .agg(F.sum(F.floor(F.col("x").cast("double") * _IVF_Q).cast("long")).alias("s"))
        .join(F.broadcast(nrows), "label")
        .select(
            "label",
            "i",
            (F.col("s").cast("double") / F.col("n") / _IVF_Q).alias("m"),
        )
    )
    cent = comp.groupBy("label").agg(
        F.transform(F.array_sort(F.collect_list(F.struct("i", "m"))), lambda s: s["m"]).alias(
            "cvec"
        )
    )
    cent = cent.select(F.col("label").alias("cell"), "cvec").withColumn(
        "cnrm", F.sqrt(_sq_norm(F.col("cvec")))
    )
    # The centroid table is tiny (one row per label) but aggregates the whole
    # corpus; checkpoint it so both consumers below read the materialized
    # result instead of each re-running the corpus-wide HashAggregate
    # (VERDICT.md r2 "What's wrong" #2).
    cent = cent.localCheckpoint()

    v = e.select(
        "vec_id",
        "embedding",
        F.sqrt(_sq_norm(F.col("embedding"))).alias("nrm"),
    )
    cos_c = _dot(F.col("embedding"), F.col("cvec")) / (F.col("nrm") * F.col("cnrm"))

    def _rank_cells(side: DataFrame) -> DataFrame:
        # broadcast-map centroid pass + a vec_id-partitioned rank; only the
        # (vec_id, cell, cos_c) triple crosses the window shuffle.
        return (
            side.crossJoin(F.broadcast(cent))
            .select("vec_id", "cell", cos_c.alias("cos_c"))
            .withColumn(
                "crank",
                F.row_number().over(
                    Window.partitionBy("vec_id").orderBy(F.desc("cos_c"), F.asc("cell"))
                ),
            )
        )

    assign = (
        _rank_cells(v)
        .filter(F.col("crank") == 1)
        .select(F.col("cell"), F.col("vec_id").alias("neighbor_id"))
    )
    # probes only need cell ranks for the query slice — ranking the full
    # corpus a second time here would double the corpus × centroid pass.
    probes = (
        _rank_cells(v.filter(F.col("vec_id") < _N_QUERIES))
        .filter(F.col("crank") <= _IVF_NPROBE)
        .select(F.col("cell"), F.col("vec_id").alias("query_id"))
    )

    cands = (
        assign.join(F.broadcast(probes), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
    )
    qe = v.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("emb_q"),
        F.col("nrm").alias("nrm_q"),
    )
    ne = v.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("emb_n"),
        F.col("nrm").alias("nrm_n"),
    )
    sim = _dot(F.col("emb_q"), F.col("emb_n")) / (F.col("nrm_q") * F.col("nrm_n"))
    # corpus side must never be broadcast (CLAUDE.md invariant) — shuffle
    # hash join on neighbor_id, mirroring the LSH-ANN scoring join above.
    scored = (
        cands.join(F.broadcast(qe), "query_id")
        .join(ne.hint("shuffle_hash"), "neighbor_id")
        .select("query_id", "neighbor_id", sim.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _TOPK)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


_IVF_COMPS = ",\n         ".join(
    f"CAST(SUM(CAST(floor(CAST(embedding[{i + 1}] AS DOUBLE) * {_IVF_Q}) AS BIGINT)) AS DOUBLE)"
    f" / COUNT(*) / {_IVF_Q} AS m{i}"
    for i in range(_DIM)
)
_IVF_CVEC = "[" + ", ".join(f"m{i}" for i in range(_DIM)) + "]"

_IVF_TOPK_SQL = f"""
WITH cent0 AS (
  SELECT label AS cell,
         {_IVF_COMPS}
  FROM embeddings GROUP BY label
),
cent AS (
  SELECT cell, {_IVF_CVEC} AS cvec FROM cent0
),
centn AS (
  SELECT cell, cvec, sqrt({_o_dot('cvec', 'cvec')}) AS cnrm FROM cent
),
v AS (
  SELECT vec_id, embedding, sqrt({_o_dot('embedding', 'embedding')}) AS nrm
  FROM embeddings
),
ranked AS (
  SELECT vec_id, cell,
         row_number() OVER (
           PARTITION BY vec_id
           ORDER BY {_o_dot('embedding', 'cvec')} / (nrm * cnrm) DESC, cell ASC
         ) AS crank
  FROM v, centn
),
assign AS (
  SELECT cell, vec_id AS neighbor_id FROM ranked WHERE crank = 1
),
probes AS (
  SELECT cell, vec_id AS query_id FROM ranked
  WHERE crank <= {_IVF_NPROBE} AND vec_id < {_N_QUERIES}
),
scored AS (
  SELECT p.query_id, a.neighbor_id,
         {_o_dot('q.embedding', 'n.embedding')} / (q.nrm * n.nrm) AS cosine
  FROM assign a
  JOIN probes p ON a.cell = p.cell AND a.neighbor_id != p.query_id
  JOIN v q ON p.query_id = q.vec_id
  JOIN v n ON a.neighbor_id = n.vec_id
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= {_TOPK}
"""


# ---------------------------------------------------------------------------
# Scalar-quantized ADC top-k (OP-X-SIM-TOPK, int8 shortlist + exact re-rank)
# ---------------------------------------------------------------------------

_SQ_SCALE = 64.0  # power-of-two scale: floor(x * 64) is exact for float x
_SQ_SHORTLIST = 4 * _TOPK


def emb_sq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via scalar quantization: shortlist neighbors by an integer
    dot product over int8-range codes, then re-rank the shortlist with the
    exact float cosine (the IVF-ADC refinement step, Jégou et al. 2011,
    with a scalar codebook).

    Scale story: the quantized corpus is 4× smaller than float32 on the
    wire (codes fit int8; carried as BIGINT in-flight only for the exact
    integer arithmetic), the shortlist pass is pure integer codegen, and
    the expensive float fold runs on ``_SQ_SHORTLIST`` rows per query
    instead of the corpus.  Queries are filtered-then-broadcast; the
    corpus-sided re-rank join keeps ``shuffle_hash`` (CLAUDE.md: corpus
    must never be broadcast).

    Determinism: codes are ``floor(x · 64)`` BIGINTs (exact power-of-two
    scaling), the shortlist score is an exact integer fold, and the
    re-rank cosine is the module's sequential double fold — bit-identical
    in both engines, with (score, id) tiebreakers at every window.
    """
    e = t(spark, sf_dir, "embeddings")
    codes = e.select(
        "vec_id",
        F.transform(
            F.col("embedding"), lambda x: F.floor(x.cast("double") * _SQ_SCALE).cast("long")
        ).alias("code"),
    )
    qc = codes.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("code").alias("code_q")
    )
    nc = codes.select(F.col("vec_id").alias("neighbor_id"), F.col("code").alias("code_n"))
    int_dot = F.aggregate(
        F.zip_with("code_q", "code_n", lambda x, y: x * y), F.lit(0).cast("long"), lambda a, x: a + x
    )
    shortlist = (
        nc.join(F.broadcast(qc))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", int_dot.alias("adc"))
        .withColumn(
            "srank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.desc("adc"), F.asc("neighbor_id"))
            ),
        )
        .filter(F.col("srank") <= _SQ_SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    v = e.select("vec_id", "embedding", F.sqrt(_sq_norm(F.col("embedding"))).alias("nrm"))
    qe = v.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("emb_q"), F.col("nrm").alias("nrm_q")
    )
    ne = v.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("emb_n"), F.col("nrm").alias("nrm_n")
    )
    sim = _dot(F.col("emb_q"), F.col("emb_n")) / (F.col("nrm_q") * F.col("nrm_n"))
    scored = (
        shortlist.join(F.broadcast(qe), "query_id")
        .join(ne.hint("shuffle_hash"), "neighbor_id")
        .select("query_id", "neighbor_id", sim.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _TOPK)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def _o_int_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, {_DIM} + 1), "
        f"i -> {a}[i] * {b}[i])), (x, y) -> x + y)"
    )


_SQ_ADC_SQL = f"""
WITH codes AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * {_SQ_SCALE}) AS BIGINT)) AS code
  FROM embeddings
),
shortlist AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_o_int_dot('q.code', 'c.code')} DESC, c.vec_id ASC
           ) AS srank
    FROM codes q JOIN codes c ON c.vec_id != q.vec_id
    WHERE q.vec_id < {_N_QUERIES}
  ) WHERE srank <= {_SQ_SHORTLIST}
),
v AS (
  SELECT vec_id, embedding, sqrt({_o_dot('embedding', 'embedding')}) AS nrm
  FROM embeddings
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cosine FROM (
  SELECT s.query_id, s.neighbor_id,
         {_o_dot('q.embedding', 'n.embedding')} / (q.nrm * n.nrm) AS cosine,
         row_number() OVER (
           PARTITION BY s.query_id
           ORDER BY {_o_dot('q.embedding', 'n.embedding')} / (q.nrm * n.nrm) DESC,
                    s.neighbor_id ASC
         ) AS rank
  FROM shortlist s
  JOIN v q ON s.query_id = q.vec_id
  JOIN v n ON s.neighbor_id = n.vec_id
) WHERE rank <= {_TOPK}
"""



# ---------------------------------------------------------------------------
# PQ-ADC top-k (OP-X-QUANT + OP-X-ADC): product quantization, the canonical
# 100 TB ANN rung (Jégou et al. 2011) — exact-integer, fully oracle-checked
# ---------------------------------------------------------------------------

#: subspaces: largest of (8, 4, 2, 1) dividing the detected dim
_PQ_M = next(m for m in (8, 4, 2, 1) if _DIM % m == 0)
_PQ_SUBDIM = _DIM // _PQ_M
#: centroid component scale (2^20): |code| ≤ ~40 at floor(x·64), so
#: (Q·code - cv)² ≤ 2^53 per dim and the M-subspace LUT sum stays < 2^59
_PQ_Q = 1 << 20
_PQ_SHORTLIST = 16 * _TOPK  # coarse seed codebook: deep shortlist, exact re-rank pays
#: codebook fan-out: each label seeds 2^bits sub-clusters per subspace
_PQ_SEED_BITS = 2


def _pq_plane(m: int, b: int, j: int) -> int:
    """md5-derived integer hyperplane component for seeding PQ
    sub-clusters — same construction as the LSH planes, namespaced."""
    import hashlib

    h = int(hashlib.md5(f"pq:{m}:{b}:{j}".encode()).hexdigest()[:10], 16)
    return h % 2001 - 1000


def emb_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance (ADC, Jégou et
    al. 2011): split the embedding into ``_PQ_M`` subspaces; learn one
    codebook per subspace — seeded by (label × ``_PQ_SEED_BITS``
    md5-hyperplane sign bits of the subvector, so K = |labels|·2^bits
    sub-clusters, then ONE exact-integer Lloyd round refines the means —
    encode every corpus vector as M sub-centroid ids, and score a query
    against the corpus through an M×K lookup table — then re-rank the
    shortlist with the exact float cosine (same refinement as
    emb_sq_adc_topk).  Codebook ASSIGNMENT is L2 (standard PQ); the query
    LUT is the INNER PRODUCT (MIPS-style ADC — the ground truth is
    cosine, and a dot surrogate ranks it far better than L2 over
    unnormalized vectors; measured 8/15 → 13/15 at sf0.01).

    Why this is THE 100 TB rung: the corpus at rest is M small ints per
    vector (32× smaller than float32 at dim 64 / M 8), the per-query scan
    cost is one LUT gather + M integer adds per vector (no float math,
    no full-dim dot), and the LUT itself is M·K integers built once per
    query against a KiB-sized codebook.  Like the IVF-PQ rung, training
    and the ADC scan use the closure pattern (:func:`_ivfpq_state`
    rationale): each codebook round is ONE map-only Arrow pass whose
    per-code sum-vectors partial-aggregate in-closure, and the scan is a
    single map pass with the M×K LUT in the closure — codes never
    shuffle; the only exchanges left are the top-k windows and the
    re-rank join (r5: 5.7 → ~1.5 s at sf0.1, bit-identical results).

    Cross-engine determinism, every step: codes are ``floor(x·64)``
    BIGINTs; seed bits are signs of exact integer plane dots;
    sub-centroids are ``(2^20·Σcode) div n`` exact truncating division
    (both rounds); sub-distances and the LUT are exact integer sums; the
    per-(vec,m) argmin is first-index over sorted cb ids ≡ the oracle's
    ``min(struct(d2, cb_label))`` (struct MIN compares fields
    lexicographically in BOTH engines); and the re-rank cosine is the
    module's order-preserving float fold.
    """
    e = t(spark, sf_dir, "embeddings")

    # (vec_id, label, c): floor(x·64) integer codes — same elementwise
    # IEEE ops as the oracle's cast/multiply/floor — checkpointed once;
    # every training pass rescans this narrow frame only
    def codes_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            C = np.floor(V * _ANN_CODE_SCALE).astype(np.int64)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "label": pdf["label"],
                    "c": [row.tolist() for row in C],
                }
            )

    codes = (
        e.select("vec_id", "label", "embedding")
        .mapInPandas(codes_batches, "vec_id bigint, label bigint, c array<bigint>")
        .localCheckpoint(eager=True)
    )

    # seed codebook: per-(label × hyperplane-sign-bits) sub-cluster means.
    # label alone gives only K = |labels| sub-centroids — far too coarse
    # (most of a cluster collapses onto one code and ADC ranking degrades
    # to id-tiebreaks); splitting each label by _PQ_SEED_BITS md5-plane
    # sign bits of the SUBVECTOR multiplies K by 2^bits.  Sign bits are
    # exact int64 plane dots (order-free), so the seeding is bit-identical
    # to the oracle's plane-join CTEs.
    P = np.zeros((_DIM, _PQ_M * _PQ_SEED_BITS), dtype=np.int64)
    for m in range(_PQ_M):
        for b in range(_PQ_SEED_BITS):
            for j in range(_PQ_SUBDIM):
                P[m * _PQ_SUBDIM + j, m * _PQ_SEED_BITS + b] = _pq_plane(m, b, j)
    seed_w = 1 << np.arange(_PQ_SEED_BITS, dtype=np.int64)

    def _sub_keys(vid, C, batch):
        """(n·M,) composite (m, cb_label) keys + (n·M, SUBDIM) subvector
        codes for the SEED assignment of one Arrow batch (r13: the codes
        matrix arrives pre-decoded; label rides the raw batch)."""
        lab = batch.column("label").to_numpy(zero_copy_only=False).astype(
            np.int64
        )
        signs = (C @ P) >= 0
        h = (signs.reshape(len(C), _PQ_M, _PQ_SEED_BITS) * seed_w).sum(axis=2)
        cb = lab[:, None] * (1 << _PQ_SEED_BITS) + h
        keys = (
            np.tile(np.arange(_PQ_M, dtype=np.int64), len(C)) * _MKEY
            + cb.reshape(-1)
        )
        return keys, C.reshape(len(C) * _PQ_M, _PQ_SUBDIM)

    def _pq_codebook(merged: dict) -> dict:
        cbk = {}
        for m in range(_PQ_M):
            sub = {k % _MKEY: v for k, v in merged.items() if k // _MKEY == m}
            ids = sorted(sub)
            # sub-centroid = (2^20·Σcode) div n, exact truncating division
            mat = np.stack([_tdiv(_PQ_Q * sub[c][0], sub[c][1]) for c in ids])
            cbk[m] = (ids, mat)
        return cbk

    cdim = _pq_codebook(_ivfpq_grouped_sums(codes, _sub_keys))

    def _pq_assign(C: "np.ndarray", cbk: dict) -> "np.ndarray":
        # per-subspace L2 argmin over vq = c·Q; ties → lowest cb_label
        # (first index over sorted ids = the struct-min rule)
        VQ = (C * _PQ_Q).reshape(C.shape[0], _PQ_M, _PQ_SUBDIM)
        out = np.zeros((C.shape[0], _PQ_M), dtype=np.int64)
        for m in range(_PQ_M):
            ids, mat = cbk[m]
            diff = VQ[:, m, None, :] - mat[None, :, :]
            out[:, m] = np.array(ids, dtype=np.int64)[
                (diff * diff).sum(axis=2).argmin(axis=1)
            ]
        return out

    # one exact-integer Lloyd round: assign to the seed codebook, then
    # recompute each sub-centroid as the quantized mean of its MEMBERS.
    # Empty sub-clusters simply vanish (K shrinks); everything stays
    # BIGINT-exact, so the refined codebook is bit-identical to the
    # oracle's.
    def _lloyd_keys(vid, C, _batch):
        cb = _pq_assign(C, cdim)
        keys = (
            np.tile(np.arange(_PQ_M, dtype=np.int64), len(C)) * _MKEY
            + cb.reshape(-1)
        )
        return keys, C.reshape(len(C) * _PQ_M, _PQ_SUBDIM)

    cdim1 = _pq_codebook(_ivfpq_grouped_sums(codes, _lloyd_keys))

    # query LUT (driver-built, KiB): INNER PRODUCT against each
    # sub-centroid (MIPS-style ADC) — the ground truth is cosine, and a
    # dot surrogate ranks it far better than L2 over unnormalized vectors
    # (measured 8/15 → 13/15 at sf0.01); codebook ASSIGNMENT stays L2,
    # the standard PQ split
    qrows = sorted(
        codes.filter(F.col("vec_id") < _N_QUERIES).collect(),
        key=lambda r: int(r["vec_id"]),
    )
    qids = [int(r["vec_id"]) for r in qrows]
    qvq = np.array([list(r["c"]) for r in qrows], dtype=np.int64) * _PQ_Q
    lut = [
        [qvq[qi].reshape(_PQ_M, _PQ_SUBDIM)[m] @ cdim1[m][1].T for m in range(_PQ_M)]
        for qi in range(len(qids))
    ]

    def score_batches(batches):
        # the ADC scan: ONE map pass — encode each corpus vector against
        # the refined codebook and gather M LUT entries per query
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.stack(pdf["c"].to_numpy()).astype(np.int64)
            vid = pdf["vec_id"].to_numpy().astype(np.int64)
            cb = _pq_assign(C, cdim1)
            pos = np.stack(
                [
                    np.searchsorted(np.array(cdim1[m][0], dtype=np.int64), cb[:, m])
                    for m in range(_PQ_M)
                ],
                axis=1,
            )
            outq, outn, outs = [], [], []
            for qi, q in enumerate(qids):
                mask = vid != q
                score = np.zeros(int(mask.sum()), dtype=np.int64)
                for m in range(_PQ_M):
                    score += lut[qi][m][pos[mask, m]]
                outq.append(np.full(int(mask.sum()), q, dtype=np.int64))
                outn.append(vid[mask])
                outs.append(score)
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(outq),
                    "neighbor_id": np.concatenate(outn),
                    "ascore": np.concatenate(outs),
                }
            )

    approx = codes.mapInPandas(
        score_batches, "query_id bigint, neighbor_id bigint, ascore bigint"
    )
    shortlist = (
        approx.withColumn(
            "srank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("ascore"), F.asc("neighbor_id")
                )
            ),
        )
        .filter(F.col("srank") <= _PQ_SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    v = e.select("vec_id", "embedding", F.sqrt(_sq_norm(F.col("embedding"))).alias("nrm"))
    qe = v.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("emb_q"),
        F.col("nrm").alias("nrm_q"),
    )
    ne = v.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("emb_n"),
        F.col("nrm").alias("nrm_n"),
    )
    sim = _dot(F.col("emb_q"), F.col("emb_n")) / (F.col("nrm_q") * F.col("nrm_n"))
    scored = (
        shortlist.join(F.broadcast(qe), "query_id")
        .join(ne.hint("shuffle_hash"), "neighbor_id")
        .select("query_id", "neighbor_id", sim.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _TOPK)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


_PQ_ADC_SQL = f"""
WITH codes AS (
  SELECT vec_id, label,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * {_ANN_CODE_SCALE}) AS BIGINT)) AS code
  FROM embeddings
),
vdim AS (
  SELECT vec_id, label, t.i - 1 AS i, ((t.i - 1) // {_PQ_SUBDIM}) AS m,
         code[t.i] AS c,
         code[t.i] * {_PQ_Q} AS vq
  FROM codes, unnest(range(1, {_DIM} + 1)) AS t(i)
),
planes AS (
  SELECT m.m * {_PQ_SUBDIM} + j.j AS i, b.b,
         (('0x' || substr(md5('pq:' || m.m::VARCHAR || ':' || b.b::VARCHAR
                               || ':' || j.j::VARCHAR), 1, 10))::BIGINT
          % 2001) - 1000 AS p
  FROM (SELECT unnest(range(0, {_PQ_M})) AS m) m,
       (SELECT unnest(range(0, {_PQ_SEED_BITS})) AS b) b,
       (SELECT unnest(range(0, {_PQ_SUBDIM})) AS j) j
),
hseed AS MATERIALIZED (
  SELECT vec_id, m,
         CAST(SUM(CASE WHEN dv >= 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
              AS BIGINT) AS h
  FROM (
    SELECT v.vec_id, v.m, pl.b, SUM(v.c * pl.p) AS dv
    FROM vdim v JOIN planes pl ON v.i = pl.i
    GROUP BY v.vec_id, v.m, pl.b
  ) GROUP BY vec_id, m
),
cdim AS MATERIALIZED (
  SELECT v.label * {1 << _PQ_SEED_BITS} + h.h AS cb_label, v.i, v.m,
         CAST(({_PQ_Q} * CAST(SUM(v.c) AS BIGINT)) // COUNT(*) AS BIGINT) AS cv
  FROM vdim v JOIN hseed h ON v.vec_id = h.vec_id AND v.m = h.m
  GROUP BY v.label * {1 << _PQ_SEED_BITS} + h.h, v.i, v.m
),
sd0 AS MATERIALIZED (
  SELECT v.vec_id, v.m, c.cb_label,
         CAST(SUM((v.vq - c.cv) * (v.vq - c.cv)) AS BIGINT) AS d2
  FROM vdim v JOIN cdim c ON v.i = c.i AND v.m = c.m
  GROUP BY v.vec_id, v.m, c.cb_label
),
assign0 AS MATERIALIZED (
  SELECT vec_id, m, (MIN({{'d': d2, 'l': cb_label}})).l AS cb_label
  FROM sd0 GROUP BY vec_id, m
),
cdim1 AS MATERIALIZED (
  SELECT a.cb_label, v.i, v.m,
         CAST(({_PQ_Q} * CAST(SUM(v.c) AS BIGINT)) // COUNT(*) AS BIGINT) AS cv
  FROM vdim v JOIN assign0 a ON v.vec_id = a.vec_id AND v.m = a.m
  GROUP BY a.cb_label, v.i, v.m
),
sd AS MATERIALIZED (
  SELECT v.vec_id, v.m, c.cb_label,
         CAST(SUM((v.vq - c.cv) * (v.vq - c.cv)) AS BIGINT) AS d2
  FROM vdim v JOIN cdim1 c ON v.i = c.i AND v.m = c.m
  GROUP BY v.vec_id, v.m, c.cb_label
),
assign AS MATERIALIZED (
  SELECT vec_id AS neighbor_id, m,
         (MIN({{'d': d2, 'l': cb_label}})).l AS cb_label
  FROM sd GROUP BY vec_id, m
),
lut AS (
  SELECT v.vec_id AS query_id, v.m, c.cb_label,
         CAST(SUM(v.vq * c.cv) AS BIGINT) AS dotp
  FROM vdim v JOIN cdim1 c ON v.i = c.i AND v.m = c.m
  WHERE v.vec_id < {_N_QUERIES}
  GROUP BY v.vec_id, v.m, c.cb_label
),
approx AS (
  SELECT l.query_id, a.neighbor_id, CAST(SUM(l.dotp) AS BIGINT) AS ascore
  FROM assign a
  JOIN lut l ON l.m = a.m AND l.cb_label = a.cb_label
  WHERE a.neighbor_id != l.query_id
  GROUP BY l.query_id, a.neighbor_id
  HAVING COUNT(*) = {_PQ_M}
),
shortlist AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (
             PARTITION BY query_id ORDER BY ascore DESC, neighbor_id ASC
           ) AS srank
    FROM approx
  ) WHERE srank <= {_PQ_SHORTLIST}
),
v AS (
  SELECT vec_id, embedding, sqrt({_o_dot('embedding', 'embedding')}) AS nrm
  FROM embeddings
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cosine FROM (
  SELECT s.query_id, s.neighbor_id,
         {_o_dot('q.embedding', 'n.embedding')} / (q.nrm * n.nrm) AS cosine,
         row_number() OVER (
           PARTITION BY s.query_id
           ORDER BY {_o_dot('q.embedding', 'n.embedding')} / (q.nrm * n.nrm) DESC,
                    s.neighbor_id ASC
         ) AS rank
  FROM shortlist s
  JOIN v q ON s.query_id = q.vec_id
  JOIN v n ON s.neighbor_id = n.vec_id
) WHERE rank <= {_TOPK}
"""

# ---------------------------------------------------------------------------
# Matryoshka two-stage top-k (OP-X-SIM-TOPK, truncated-dim prefilter):
# score every candidate with only the first _MAT_PREFIX dimensions, keep a
# _MAT_SHORTLIST-deep shortlist per query, then rerank the shortlist with
# full-dimension cosine.  The production pattern behind MRL embeddings
# (Kusupati et al. 2022): the cheap pass reads 1/4 of the vector bytes, and
# at 100 TB the full vectors are fetched for shortlist×queries rows only.
# ---------------------------------------------------------------------------

#: Half the DETECTED dimensions for the cheap pass (never hard-coded:
#: the driver regenerates testdata between rounds and a fixed prefix
#: longer than a regenerated _DIM would silently fold short arrays in
#: Spark while the oracle's range() indexed out of bounds).  Real MRL
#: embeddings front-load variance, so production uses 1/4 or less; the
#: synthetic test vectors are isotropic (no prefix concentration), so
#: the prefix and shortlist are sized for honest recall on the WORST
#: case.
_MAT_PREFIX = max(1, _DIM // 2)
_MAT_SHORTLIST = 40  # candidates per query surviving to the rerank


def _o_dot_pre(a: str, b: str) -> str:
    """DuckDB twin of the prefix dot (first _MAT_PREFIX dims, same fold)."""
    return (
        f"list_reduce(list_prepend(0.0, list_transform(range(1, {_MAT_PREFIX} + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), (x, y) -> x + y)"
    )


def emb_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN: prefix-cosine shortlist → full-cosine rerank.

    Stage 1 is the brute-force map-only shape of ``emb_cosine_topk`` but
    over ``_MAT_PREFIX``-dim slices (¼ the arithmetic and — with a
    column-pruned prefix table at rest — ¼ the bytes), truncated per
    query by a WindowGroupLimit top-``_MAT_SHORTLIST``.  Stage 2 fetches
    FULL vectors for shortlist rows only: the corpus scan streams through
    a BroadcastHashJoin against the (queries × shortlist)-sized id list —
    the corpus is never broadcast and never re-shuffled, and full-dim dot
    products run on shortlist×queries rows instead of corpus×queries.

    Both stages use the order-preserving Arrow fold (`_vec_fold_dot`), so
    shortlist membership and final ranks are bit-identical to the DuckDB
    oracle.  Approximate by construction: a neighbor whose prefix cosine
    ranks below the shortlist cut is unrecoverable — recall vs the exact
    top-k is pinned in tests/test_similarity.py."""
    e = t(spark, sf_dir, "embeddings")
    pre = F.slice(F.col("embedding"), 1, _MAT_PREFIX)
    corpus_pre = e.select(
        F.col("vec_id").alias("neighbor_id"),
        pre.alias("pre_n"),
    ).withColumn("pre_norm_n", F.sqrt(_dot(F.col("pre_n"), F.col("pre_n"))))
    queries_pre = (
        e.filter(F.col("vec_id") < _N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), pre.alias("pre_q"))
        .withColumn("pre_norm_q", F.sqrt(_dot(F.col("pre_q"), F.col("pre_q"))))
    )
    stage1 = (
        corpus_pre.join(F.broadcast(queries_pre))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                _dot(F.col("pre_q"), F.col("pre_n"))
                / (F.col("pre_norm_q") * F.col("pre_norm_n"))
            ).alias("pre_cosine"),
        )
    )
    w1 = Window.partitionBy("query_id").orderBy(
        F.desc("pre_cosine"), F.asc("neighbor_id")
    )
    shortlist = (
        stage1.withColumn("r", F.row_number().over(w1))
        .filter(F.col("r") <= _MAT_SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    full = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("emb_n")
    ).withColumn("norm_n", F.sqrt(_dot(F.col("emb_n"), F.col("emb_n"))))
    queries_full = (
        e.filter(F.col("vec_id") < _N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("emb_q"))
        .withColumn("norm_q", F.sqrt(_dot(F.col("emb_q"), F.col("emb_q"))))
    )
    rerank = (
        full.join(F.broadcast(shortlist), "neighbor_id")
        .join(F.broadcast(queries_full), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            (
                _dot(F.col("emb_q"), F.col("emb_n"))
                / (F.col("norm_q") * F.col("norm_n"))
            ).alias("cosine"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        rerank.withColumn("rank", F.row_number().over(w2).cast("int"))
        .filter(F.col("rank") <= _TOPK)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


_MATRYOSHKA_SQL = f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_o_dot_pre('q.embedding', 'c.embedding')}
           / (sqrt({_o_dot_pre('q.embedding', 'q.embedding')})
              * sqrt({_o_dot_pre('c.embedding', 'c.embedding')})) AS pre_cosine
  FROM embeddings q
  JOIN embeddings c ON c.vec_id != q.vec_id
  WHERE q.vec_id < {_N_QUERIES}
),
shortlist AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY pre_cosine DESC, neighbor_id ASC) AS rn
    FROM scored
  ) WHERE rn <= {_MAT_SHORTLIST}
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cosine FROM (
  SELECT s.query_id, s.neighbor_id,
         {_o_dot('q.embedding', 'c.embedding')}
           / (sqrt({_o_dot('q.embedding', 'q.embedding')})
              * sqrt({_o_dot('c.embedding', 'c.embedding')})) AS cosine,
         row_number() OVER (
           PARTITION BY s.query_id
           ORDER BY {_o_dot('q.embedding', 'c.embedding')}
                      / (sqrt({_o_dot('q.embedding', 'q.embedding')})
                         * sqrt({_o_dot('c.embedding', 'c.embedding')})) DESC,
                    s.neighbor_id ASC
         ) AS rank
  FROM shortlist s
  JOIN embeddings q ON s.query_id = q.vec_id
  JOIN embeddings c ON s.neighbor_id = c.vec_id
) WHERE rank <= {_TOPK}
"""


# ---------------------------------------------------------------------------
# IVF-PQ composed index (OP-X-SIM-TOPK + OP-X-QUANT + OP-X-ADC + OP-X-PQ):
# coarse cells + RESIDUAL product quantization — the standard 1e9+-vector
# index (Jégou et al. 2011 §IV; FAISS IVFPQ).  The ANN ladder's top rung:
# IVF prunes the corpus to nprobe/ncells, PQ codes shrink what remains
# 32×, and the LUT scan touches only probed cells' codes.
#
# Geometry note (measured): the ground truth is COSINE, and cosine
# neighbors do NOT follow the label column (label-seeded cells gave 6/15
# candidate coverage at sf0.01).  The index therefore runs on NORMALIZED
# codes — floor(S · x/‖x‖) — so integer L2 ≈ angular distance, and coarse
# cells are trained with md5-hyperplane sign-bit seeding + one
# exact-integer Lloyd round (directionally coherent wedges), the same
# construction as the PQ codebook one level down.
# ---------------------------------------------------------------------------

#: probes per query — HIGH for this corpus by design: the synthetic
#: embeddings are near-isotropic (directions are not clustered), so the
#: measured coverage-vs-scan-fraction curve is flat and ~half the cells
#: must be probed for top-3 recall (swept 16/32/64 cells × nprobe 4-16:
#: finer cells LOWER coverage at equal scan fraction).  On a real
#: clustered corpus the same index runs at nprobe/ncells ≪ 1; the knob
#: is data-dependent, the plumbing identical.
_IVFPQ_NPROBE = 8
#: coarse fan-out: up to 2^bits k-means cells, hyperplane-sign seeded
_IVFPQ_COARSE_BITS = 4
#: residual codebook fan-out: 2^bits sub-centroids per subspace, SHARED
#: across cells (residuals pool across cells — the classic arrangement)
_IVFPQ_SEED_BITS = 4
#: normalized-code scale (2^9) and centroid multiplier (2^18):
#: |code| ≤ S, so S·Q = 2^27 keeps Σ_dims (2·S·Q)² < 2^63 exact
_IVFPQ_SCALE = 512.0
_IVFPQ_Q = 1 << 18
#: ADC shortlist depth before the exact re-rank — deeper than the flat
#: PQ rung's because candidates per query are larger under nprobe=8
_IVFPQ_SHORTLIST = 256
#: composite-key radix for (m, cb) pairs in the residual training collect —
#: larger than any cb id (2^_IVFPQ_SEED_BITS), so keys decode exactly
_MKEY = np.int64(1) << 32


def _ivfpq_plane(ns: str, m: int, b: int, j: int) -> int:
    """md5-derived integer hyperplane component — namespaced apart from
    the LSH/PQ planes (``ns`` ∈ {'ivfpqc' coarse, 'ivfpq' residual})."""
    import hashlib

    h = int(hashlib.md5(f"{ns}:{m}:{b}:{j}".encode()).hexdigest()[:10], 16)
    return h % 2001 - 1000


def _ivfpq_planes_mat(ns: str, bits: int) -> "np.ndarray":
    """(dim, bits) int64 hyperplane matrix, row i = m·SUBDIM + j — the
    same md5-derived constants the oracle regenerates in SQL."""
    return np.array(
        [
            [_ivfpq_plane(ns, m, b, j) for b in range(bits)]
            for m in range(_PQ_M)
            for j in range(_PQ_SUBDIM)
        ],
        dtype=np.int64,
    )


def _tdiv(num: "np.ndarray", den: "np.ndarray") -> "np.ndarray":
    """Elementwise BIGINT division truncating toward zero — Spark ``div``
    ≡ DuckDB ``//`` (CLAUDE.md-verified identical); numpy ``//`` floors,
    so negative numerators need the sign·(|a|//b) form."""
    num = np.asarray(num, dtype=np.int64)
    return np.sign(num) * (np.abs(num) // den)


def _ivfpq_codes_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, c): normalized integer codes c_i = floor((x_i/‖x‖)·S) in
    ONE Arrow-batched pass — ‖x‖ is the order-preserving per-dimension
    fold (same bits as _vec_fold_dot), and sqrt / divide / multiply are
    IEEE-correctly-rounded elementwise ops, so every code is bit-identical
    to the oracle's floor(x / sqrt(fold) * S).  Checkpointed eagerly: it
    is the ONLY corpus-sized frame every training pass rescans."""
    return _ivfpq_codes_from(t(spark, sf_dir, "embeddings"))


def _ivfpq_codes_from(e: DataFrame, *, checkpoint: bool = True) -> DataFrame:
    """The codes pass over an arbitrary (vec_id, embedding) frame — shared
    with the persisted index (operators/ann_index.py), which encodes
    append batches under a frozen codebook.

    ``checkpoint=False`` skips the eager localCheckpoint for SINGLE-
    consumer callers (the index encode path): a checkpoint there is a
    pure blocking job per streaming micro-batch with nothing to reuse
    (the r4 rule: checkpoint only multi-consumer corpus aggregates).

    r12 (the committed warm profile, scripts/r12_ivfpq_profile.py): at
    bench scale the embeddings parquet is ONE scan partition, so the
    checkpointed codes kept one partition and every downstream training
    scan (4 per `_ivfpq_train`) + the ADC pass ran as a single task on
    one core — train_4scans was the dominant and most variable term of
    emb_ivfpq_topk's wall (median 2.19 of 3.78 s).  Scale-adaptively
    widen ONLY the checkpointed multi-consumer frame: when the source
    yields fewer partitions than defaultParallelism, repartition up to
    it (a few MB round-robin shuffle at small scale; a no-op at real
    scale where the scan already carries >= cores partitions).  All
    consumers are partition-order-free (integer partial sums merged at
    the driver, per-row scoring, rank by (ascore, id)), and the eager
    checkpoint pins the placement across the multi-action training
    loop.

    r13 (VERDICT r12 ask #7, guide §4.2/§4.3): ``mapInArrow`` instead of
    ``mapInPandas`` — the list<float> column is ONE contiguous values
    buffer + offsets, so the (n × dim) matrix is a reshape instead of a
    per-row pandas object loop, and the output codes go back as one
    Arrow list column built from a flat buffer.  The numeric path is
    UNCHANGED (float32 → float64 is exact, the ‖x‖ fold stays the
    order-preserving per-dimension loop, floor/divide/multiply are the
    same IEEE ops), so every code is still bit-identical to the
    oracle."""

    def codes_batches(batches):
        import pyarrow as pa

        for batch in batches:
            if batch.num_rows == 0:
                continue
            vals = batch.column("embedding").flatten().to_numpy(
                zero_copy_only=False
            )
            V = np.ascontiguousarray(vals, dtype=np.float64).reshape(
                batch.num_rows, -1
            )
            acc = np.zeros(V.shape[0])
            for i in range(V.shape[1]):
                acc = acc + V[:, i] * V[:, i]
            nrm = np.sqrt(acc)
            C = np.floor(V / nrm[:, None] * _IVFPQ_SCALE).astype(np.int64)
            offs = pa.array(
                np.arange(0, (len(C) + 1) * C.shape[1], C.shape[1], dtype=np.int32)
            )
            lst = pa.ListArray.from_arrays(offs, pa.array(C.reshape(-1)))
            yield pa.RecordBatch.from_arrays(
                [batch.column("vec_id"), lst], ["vec_id", "c"]
            )

    src = e.select("vec_id", "embedding")
    if checkpoint:
        dp = src.sparkSession.sparkContext.defaultParallelism
        if src.rdd.getNumPartitions() < dp:
            src = src.repartition(dp)
    codes = src.mapInArrow(codes_batches, "vec_id bigint, c array<bigint>")
    return codes.localCheckpoint(eager=True) if checkpoint else codes


def _ivfpq_grouped_sums(
    codes: DataFrame, group_fn, *, query_ids_below: int | None = None
):
    """ONE map-only global aggregate: ``group_fn(vid, C, batch)`` → (int64 keys,
    int64 row block); per-key sum-vectors partial-aggregate INSIDE the
    Arrow closure (≤ K rows per partition regardless of corpus size),
    then the ≤ K·npartitions collected rows finish merging at the driver.
    Integer sums are order-free (the module's integer-distance rule), so
    the result is bit-identical to an explode + groupBy — without its
    exchange: each training step is a single map stage + a KiB collect.

    r13 (VERDICT r12 ask #7, guide §4.2/§4.3): ``mapInArrow`` — the codes
    matrix decodes by reshaping the list column's contiguous values
    buffer (no per-row pandas object loop), and the partial sums return
    as one Arrow list column.  ``query_ids_below=N`` additionally passes
    the code rows of vec_id < N through the SAME scan as pseudo-keys
    −(vec_id+1) with n = −1 (cell and (m, cb) keys are ≥ 0, so negative
    keys cannot collide) — `_ivfpq_state` then skips its separate
    query-collect job; the transported codes are verbatim int64, so the
    query side is bit-identical to the old collect.  Only valid on a
    scan whose summed rows have the SAME width as the code rows (the
    coarse seed scan).  Returns ``merged`` — or ``(merged, {vec_id:
    code_row})`` when ``query_ids_below`` is set."""
    import pyarrow as pa

    def partial(batches):
        acc: dict = {}
        qrows: dict = {}
        for batch in batches:
            if batch.num_rows == 0:
                continue
            vid = batch.column("vec_id").to_numpy(zero_copy_only=False)
            vals = batch.column("c").flatten().to_numpy(zero_copy_only=False)
            C = np.ascontiguousarray(vals, dtype=np.int64).reshape(len(vid), -1)
            if query_ids_below is not None:
                for j in np.nonzero(vid < query_ids_below)[0]:
                    qrows[int(vid[j])] = C[j]
            keys, V = group_fn(vid, C, batch)
            for k in np.unique(keys):
                mask = keys == k
                s = V[mask].sum(axis=0)
                n = int(mask.sum())
                got = acc.get(int(k))
                if got is None:
                    acc[int(k)] = [s, n]
                else:
                    got[0] += s
                    got[1] += n
        rows = [(k, v[0], v[1]) for k, v in acc.items()]
        rows += [(-(q + 1), c, -1) for q, c in qrows.items()]
        if rows:
            ks = np.array([r[0] for r in rows], dtype=np.int64)
            ns = np.array([r[2] for r in rows], dtype=np.int64)
            S = np.stack([np.asarray(r[1], dtype=np.int64) for r in rows])
            offs = pa.array(
                np.arange(0, (len(rows) + 1) * S.shape[1], S.shape[1], dtype=np.int32)
            )
            lst = pa.ListArray.from_arrays(offs, pa.array(S.reshape(-1)))
            yield pa.RecordBatch.from_arrays(
                [pa.array(ks), lst, pa.array(ns)], ["k", "s", "n"]
            )

    merged, queries = _ivfpq_merge_partials(
        codes.mapInArrow(partial, "k bigint, s array<bigint>, n bigint").collect(),
        query_ids_below,
    )
    if query_ids_below is not None:
        return merged, queries
    return merged


def _ivfpq_merge_partials(rows, query_ids_below: int | None):
    """Driver-side finish of `_ivfpq_grouped_sums`: sum the per-partition
    ``(k, s, n)`` partials per key into ``{k: [Σs, Σn]}``.  A negative key
    is a query pseudo-row ``−(vec_id+1)`` only when ``query_ids_below`` is
    set; otherwise it can only be a key ``group_fn`` should never emit, and
    it raises instead of vanishing from the merge.  Returns ``(merged,
    {vec_id: code_row})``."""
    merged: dict = {}
    queries: dict = {}
    for r in rows:
        k = int(r["k"])
        if k < 0:
            if query_ids_below is None:
                raise ValueError(f"_ivfpq_grouped_sums: negative group key {k}")
            queries[-k - 1] = np.array(list(r["s"]), dtype=np.int64)
            continue
        s = np.array(list(r["s"]), dtype=np.int64)
        got = merged.get(k)
        if got is None:
            merged[k] = [s, int(r["n"])]
        else:
            got[0] += s
            got[1] += int(r["n"])
    return merged, queries


def _ivfpq_codebook_from(merged: dict, scale: int):
    """(ids sorted asc, nid×dim int64 centroid matrix) from a merged
    {id: (Σvec, n)} dict: centroid = (scale·Σc) div n with the truncating
    div — exactly the oracle's expression.  Ids with no members never
    appear (the empty-cell DROP rule)."""
    ids = sorted(merged)
    mat = np.stack([_tdiv(scale * merged[c][0], merged[c][1]) for c in ids])
    return ids, mat


def _ivfpq_assign(C: "np.ndarray", cent: "np.ndarray") -> "np.ndarray":
    """argmin_cell Σ_i (vq − ccv)² over code rows: ties break to the FIRST
    index = lowest cell id (rows sorted asc) — the struct-min argmin rule."""
    VQ = C * _IVFPQ_Q
    diff = VQ[:, None, :] - cent[None, :, :]
    return (diff * diff).sum(axis=2).argmin(axis=1)


def _ivfpq_residuals(C: "np.ndarray", ccv: "np.ndarray") -> "np.ndarray":
    """(n, M, subdim) residual tensor against each row's assigned coarse
    centroid (residuals carry the Q scale)."""
    a = _ivfpq_assign(C, ccv)
    R = C * _IVFPQ_Q - ccv[a]
    return R.reshape(len(C), _PQ_M, _PQ_SUBDIM)


def _ivfpq_rassign(Rs: "np.ndarray", rcb: dict) -> "np.ndarray":
    """Per-subspace argmin_cb Σ_j (r − cv)², ties to lowest cb id."""
    n = Rs.shape[0]
    cb = np.zeros((n, _PQ_M), dtype=np.int64)
    for m in range(_PQ_M):
        ids, mat = rcb[m]
        diff = Rs[:, m, None, :] - mat[None, :, :]
        cb[:, m] = np.array(ids, dtype=np.int64)[
            (diff * diff).sum(axis=2).argmin(axis=1)
        ]
    return cb


def _ivfpq_flat_subspaces(Rs, cb):
    # (m, cb) composite int64 keys + per-subspace residual vectors:
    # _MKEY > any cb id, so keys decode as (k div _MKEY, k mod _MKEY)
    n = Rs.shape[0]
    keys = np.tile(np.arange(_PQ_M, dtype=np.int64), n) * _MKEY + cb.reshape(-1)
    return keys, Rs.reshape(n * _PQ_M, _PQ_SUBDIM)


def _ivfpq_rcb_from(merged: dict) -> dict:
    rcb = {}
    for m in range(_PQ_M):
        sub = {k % _MKEY: v for k, v in merged.items() if k // _MKEY == m}
        ids = sorted(sub)
        # residuals already carry the Q scale — plain truncating mean
        mat = np.stack([_tdiv(sub[c][0], sub[c][1]) for c in ids])
        rcb[m] = (ids, mat)
    return rcb


def _ivfpq_train(codes: DataFrame, *, query_ids_below: int | None = None):
    """(cells, ccv, rcb) from a codes frame — coarse hyperplane seed + one
    exact-integer Lloyd round, then residual PQ seed + one Lloyd round.
    Each step is one Arrow scan + a K·d-bounded collect (the closure
    pattern); shared by the `emb_ivfpq_topk` catalog query and the
    persisted incremental index (operators/ann_index.py).

    ``query_ids_below=N`` (r13): the FIRST scan additionally transports
    the code rows of vec_id < N back to the driver (see
    `_ivfpq_grouped_sums`) and the return becomes
    ``(cells, ccv, rcb, {vec_id: code_row})`` — one fewer Spark job for
    callers that need the query codes (`_ivfpq_state`)."""
    PC = _ivfpq_planes_mat("ivfpqc", _IVFPQ_COARSE_BITS)
    bitsC = np.int64(1) << np.arange(_IVFPQ_COARSE_BITS, dtype=np.int64)

    # ---- coarse quantizer: hyperplane seed cells → one Lloyd round ----
    def seed_group(vid, C, _batch):
        h = (((C @ PC) >= 0).astype(np.int64) * bitsC).sum(axis=1)
        return h, C

    if query_ids_below is not None:
        g0, qmap = _ivfpq_grouped_sums(
            codes, seed_group, query_ids_below=query_ids_below
        )
    else:
        g0, qmap = _ivfpq_grouped_sums(codes, seed_group), None
    cells0, ccv0 = _ivfpq_codebook_from(g0, _IVFPQ_Q)

    def assign_group(vid, C, _batch):
        cell_arr = np.array(cells0, dtype=np.int64)
        return cell_arr[_ivfpq_assign(C, ccv0)], C

    cells, ccv = _ivfpq_codebook_from(
        _ivfpq_grouped_sums(codes, assign_group), _IVFPQ_Q
    )

    # ---- residual PQ: seed bits → codebook → one Lloyd round ----
    PR = _ivfpq_planes_mat("ivfpq", _IVFPQ_SEED_BITS).reshape(
        _PQ_M, _PQ_SUBDIM, _IVFPQ_SEED_BITS
    )
    bitsR = np.int64(1) << np.arange(_IVFPQ_SEED_BITS, dtype=np.int64)

    def rseed_group(vid, C, _batch):
        Rs = _ivfpq_residuals(C, ccv)
        dv = np.einsum("nmj,mjb->nmb", Rs, PR)  # exact int64 dots
        cb = ((dv >= 0).astype(np.int64) * bitsR).sum(axis=2)
        return _ivfpq_flat_subspaces(Rs, cb)

    rcb0 = _ivfpq_rcb_from(_ivfpq_grouped_sums(codes, rseed_group))

    def rassign_group(vid, C, _batch):
        Rs = _ivfpq_residuals(C, ccv)
        return _ivfpq_flat_subspaces(Rs, _ivfpq_rassign(Rs, rcb0))

    rcb = _ivfpq_rcb_from(_ivfpq_grouped_sums(codes, rassign_group))
    if query_ids_below is not None:
        return cells, ccv, rcb, qmap
    return cells, ccv, rcb


def _ivfpq_state(spark: SparkSession, sf_dir: str):
    """Train the IVF-PQ index with the closure pattern (CLAUDE.md /
    emb_kmeans_train precedent: KiB-sized centroid and codebook tables are
    FASTER riding in a mapInPandas closure than as broadcast-join tables —
    measured 3× on k-means, ~4× here vs the r5-draft join formulation).

    Every training step is ONE Arrow scan of the checkpointed codes plus a
    collect bounded by K·d rows (coarse: ≤16×dim; residual: ≤16×dim per
    subspace) — driver state is codebooks only, never corpus rows, so the
    shape holds at 1e9 vectors exactly like k-means.  All quantities are
    exact int64 (integer plane dots, truncating-div means, first-index
    argmin = lowest-id tiebreak), so results are bit-identical to the
    join/groupBy formulation AND to the DuckDB oracle.

    Returns ``(e, codes, st)`` where ``st`` carries: ``cells`` (sorted
    ids), ``ccv`` (ncell×dim), ``rcb`` ({m: (cb ids sorted, ncb×subdim)}),
    ``qids``/``qvq`` (query ids + their vq codes), ``probes``
    ({query_id: [cell, …] by (d2 asc, cell asc)})."""
    e = t(spark, sf_dir, "embeddings")
    codes = _ivfpq_codes_df(spark, sf_dir)
    # r13: the query codes ride back inside the first training scan
    # (`_ivfpq_grouped_sums` query_ids_below) — the separate
    # codes.filter(vec_id < N).collect() job is gone; contents verbatim
    cells, ccv, rcb, qmap = _ivfpq_train(codes, query_ids_below=_N_QUERIES)

    # ---- queries: probe lists from exact integer d2 to every cell ----
    qids = sorted(qmap)
    qC = (
        np.stack([qmap[q] for q in qids])
        if qids
        else np.zeros((0, _DIM), dtype=np.int64)
    )
    qvq = qC * _IVFPQ_Q
    probes = {}
    for qi, q in enumerate(qids):
        diff = qvq[qi][None, :] - ccv
        d2 = (diff * diff).sum(axis=1)
        order = sorted(range(len(cells)), key=lambda ci: (int(d2[ci]), cells[ci]))
        probes[q] = [cells[ci] for ci in order[: _IVFPQ_NPROBE]]

    def _assign(C: "np.ndarray", cent: "np.ndarray") -> "np.ndarray":
        return _ivfpq_assign(C, cent)

    def _residuals(pdf):
        C = np.stack(pdf["c"].to_numpy()).astype(np.int64)
        return _ivfpq_residuals(C, ccv)

    def _rassign(Rs: "np.ndarray", rcb: dict) -> "np.ndarray":
        return _ivfpq_rassign(Rs, rcb)

    st = {
        "cells": cells,
        "ccv": ccv,
        "rcb": rcb,
        "qids": qids,
        "qvq": qvq,
        "probes": probes,
        "_residuals": _residuals,
        "_assign": _assign,
        "_rassign": _rassign,
    }
    return e, codes, st


def ivfpq_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cell, vec_id, embedding): the IVF-PQ coarse assignment in the
    shape ``sources/ann_layout.py`` persists — writing it
    ``partitionBy("cell")`` makes each ADC probe a parquet scan whose
    PartitionFilters prune every unprobed cell directory (composed
    end-to-end in tests/test_similarity.py and EXPLAIN.md)."""
    e, codes, st = _ivfpq_state(spark, sf_dir)
    cells, ccv, assign = st["cells"], st["ccv"], st["_assign"]

    def cell_batches(batches):
        cell_arr = np.array(cells, dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.stack(pdf["c"].to_numpy()).astype(np.int64)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "cell": cell_arr[assign(C, ccv)]}
            )

    assigned = codes.mapInPandas(cell_batches, "vec_id bigint, cell bigint")
    return assigned.join(e.hint("shuffle_hash"), "vec_id").select(
        "cell", "vec_id", "embedding"
    )


def ivfpq_probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, cell): each query's ``_IVFPQ_NPROBE`` nearest coarse
    cells — the probe list a layout-backed reader feeds to
    ``read_probe_cells``."""
    _e, _codes, st = _ivfpq_state(spark, sf_dir)
    rows = [(q, c) for q in st["qids"] for c in st["probes"][q]]
    return spark.createDataFrame(rows, "query_id long, cell long")


def emb_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN over normalized integer codes: hyperplane-seeded +
    Lloyd-refined coarse cells, per-vector RESIDUAL against the assigned
    cell centroid, a residual PQ codebook (md5-plane seeded + one
    exact-integer Lloyd round, shared across cells), and an ADC scan
    restricted to each query's ``_IVFPQ_NPROBE`` nearest cells::

        score(q, x) ≈ q·c_cell(x) + q·r̂(x)
                    = coarse(q, cell) + Σ_m LUT_q[m, code_m(x)]

    then an exact float-cosine re-rank of the shortlist (same refinement
    as the PQ/SQ rungs).  This composes the ladder's IVF rung
    (partition-pruned probes, :func:`emb_ivf_topk`) with its PQ rung
    (:func:`emb_pq_adc_topk`): at rest the corpus is (cell, M codes) per
    vector; physically ``sources/ann_layout.py`` partitions by cell so a
    probe is a parquet scan with PartitionFilters over nprobe
    directories (composed end-to-end in tests/test_similarity.py).

    100 TB shape (the closure pattern — see :func:`_ivfpq_state`): the
    centroid/codebook/LUT tables are KiB-sized by construction and ride
    in the scoring closure, so candidate generation + the ADC scan is ONE
    map-only Arrow pass over the corpus codes — a vector outside every
    probed cell emits nothing (the prune), one inside emits nprobe-bounded
    (query, ascore) rows; the only corpus-sized shuffle left is the
    per-query top-shortlist window and the exact re-rank join
    (shuffle-hash pinned).  Cross-engine determinism: normalized codes
    are ``floor((x/‖x‖)·S)`` where ‖x‖ is the module's order-preserving
    float fold (sqrt/divide are IEEE-correctly-rounded, identical in both
    engines); every ranking quantity before the re-rank is an exact
    BIGINT (truncating-div centroid means, integer plane dots / LUT sums
    / first-index argmins = struct-min tiebreaks), so the whole index —
    coarse AND residual training included — is oracle-checked; the
    re-rank cosine is the same float fold.
    """
    e, codes, st = _ivfpq_state(spark, sf_dir)
    cells, ccv, rcb = st["cells"], st["ccv"], st["rcb"]
    qids, qvq, probes = st["qids"], st["qvq"], st["probes"]
    residuals, assign, rassign = st["_residuals"], st["_assign"], st["_rassign"]

    # ---- per-query ADC tables (driver-built, KiB): LUT + coarse term ----
    # lut[qi][m][k] = Σ_j vq_q[m·sub+j] · rcb[m].mat[k, j]; coarse term
    # indexed by centroid ROW so the scorer looks up by argmin position
    lut = [
        [qvq[qi].reshape(_PQ_M, _PQ_SUBDIM)[m] @ rcb[m][1].T for m in range(_PQ_M)]
        for qi in range(len(qids))
    ]
    coarse = [qvq[qi] @ ccv.T for qi in range(len(qids))]
    cell_pos = {c: ci for ci, c in enumerate(cells)}
    probe_pos = [
        np.array(sorted(cell_pos[c] for c in probes[q]), dtype=np.int64)
        for q in qids
    ]
    rcb_ids = {m: np.array(rcb[m][0], dtype=np.int64) for m in range(_PQ_M)}

    def score_batches(batches):
        # ONE pass: assign → residual-encode → ADC-score each probed query
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.stack(pdf["c"].to_numpy()).astype(np.int64)
            vid = pdf["vec_id"].to_numpy().astype(np.int64)
            a = assign(C, ccv)
            Rs = residuals(pdf)
            cbids = rassign(Rs, rcb)
            pos = np.stack(
                [
                    np.searchsorted(rcb_ids[m], cbids[:, m])
                    for m in range(_PQ_M)
                ],
                axis=1,
            )
            outq, outn, outs = [], [], []
            for qi, q in enumerate(qids):
                mask = np.isin(a, probe_pos[qi]) & (vid != q)
                if not mask.any():
                    continue
                rscore = np.zeros(int(mask.sum()), dtype=np.int64)
                for m in range(_PQ_M):
                    rscore += lut[qi][m][pos[mask, m]]
                outq.append(np.full(int(mask.sum()), q, dtype=np.int64))
                outn.append(vid[mask])
                outs.append(coarse[qi][a[mask]] + rscore)
            if not outq:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(outq),
                    "neighbor_id": np.concatenate(outn),
                    "ascore": np.concatenate(outs),
                }
            )

    approx = codes.mapInPandas(
        score_batches, "query_id bigint, neighbor_id bigint, ascore bigint"
    )
    shortlist = (
        approx.withColumn(
            "srank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("ascore"), F.asc("neighbor_id")
                )
            ),
        )
        .filter(F.col("srank") <= _IVFPQ_SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    v = e.select("vec_id", "embedding", F.sqrt(_sq_norm(F.col("embedding"))).alias("nrm"))
    qe = v.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("emb_q"),
        F.col("nrm").alias("nrm_q"),
    )
    ne = v.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("emb_n"),
        F.col("nrm").alias("nrm_n"),
    )
    sim = _dot(F.col("emb_q"), F.col("emb_n")) / (F.col("nrm_q") * F.col("nrm_n"))
    scored = (
        shortlist.join(F.broadcast(qe), "query_id")
        .join(ne.hint("shuffle_hash"), "neighbor_id")
        .select("query_id", "neighbor_id", sim.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _TOPK)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


# ---------------------------------------------------------------------------
# ANN recall-vs-cost operating curve (OP-X-RECALLCURVE, r9 — VERDICT r8 ask #2)
# ---------------------------------------------------------------------------

#: IVF-PQ grid: cells probed × ADC shortlist kept (the two knobs a
#: deployer trades against recall); LSH sweep: extra flipped-bit probes
#: per table (0 = base buckets only)
_RC_NPROBES = (1, 2, 4, 8)
_RC_SHORTLISTS = (4, 32, 256)
_RC_LSH_MAXP = 3
_RC_PPM = 1_000_000


def emb_ann_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k operating curve for the two ANN families vs the exact
    ``emb_cosine_topk`` ground truth — the retrieval twin of
    ``docs_quality_pr_curve``: a deployer picks probe counts and
    shortlist sizes from THIS table, not from a fixed-setting assertion.

    One row per (method, probes, shortlist): ``hits`` = ground-truth
    neighbors recovered, ``recall_ppm`` = hits·10⁶ DIV n_gt.  Every
    ranking quantity is an exact integer (LSH bucket membership, IVF
    cell ranks by integer d², ADC int64 scores with the neighbor-id
    tiebreak), so the WHOLE curve hash-matches the DuckDB oracle even
    though it measures approximation quality.

    The rank-membership shortcut that makes this cheap: the final
    re-rank is exact cosine, so an ANN run at setting S recovers a
    ground-truth neighbor iff that neighbor survives S's CANDIDATE
    stage (for LSH: shares a probed bucket; for IVF-PQ: its cell is
    probed AND fewer than ``shortlist`` candidates beat its exact-
    integer ADC score).  No per-setting re-execution — the curve
    needs one candidate pass per family at the MAX setting, then
    window math on gt-pair-sized frames:

    * LSH: per ground-truth pair, the MINIMUM probe level that
      buckets it with its query (level 0 = base, p = pth flipped
      bit by |margin| rank); recall at p = #{pairs: minlev ≤ p}.
    * IVF-PQ: per pair, its cell's probe rank and its ADC score;
      ``bc_np`` = candidates in the top-np cells strictly beating it
      (score desc, id asc); recall at (np, s) = #{pairs: cell rank
      ≤ np and bc_np < s}.

    Scale shape: both candidate passes are the families' production
    shapes (map-only Arrow bucketing / scoring; corpus side never
    broadcast); everything after is gt-sized (n_queries × k rows).
    """
    from pyspark.sql.functions import pandas_udf

    gt = (
        emb_cosine_topk(spark, sf_dir)
        .select("query_id", F.col("neighbor_id").alias("gt_id"))
        # reused by both family branches; r12: cache() instead of an
        # eager localCheckpoint — same multi-consumer guarantee for the
        # tiny n_queries x k frame, without re-running the exact-cosine
        # pass on every invocation in a session (the scores.cache rule)
        .cache()
    )

    # ---- LSH branch: min probe level per ground-truth pair ----
    planes = _md5_planes()
    plane_mat = planes.reshape(_ANN_TABLES * _ANN_BITS, _DIM).T
    bit_weights = 1 << np.arange(_ANN_BITS)
    e = t(spark, sf_dir, "embeddings")

    def _codes_dots(emb):
        V = np.vstack(emb.to_numpy())
        codes = np.floor(V.astype(np.float64) * _ANN_CODE_SCALE).astype(np.int64)
        return (codes @ plane_mat).reshape(len(V), _ANN_TABLES, _ANN_BITS)

    def _buckets_fn(emb):
        dots = _codes_dots(emb)
        ints = ((dots >= 0) * bit_weights).sum(axis=2)
        return pd.Series(
            [[f"{ti}:{row[ti]}" for ti in range(_ANN_TABLES)] for row in ints]
        )

    def _probe_lev_fn(emb):
        dots = _codes_dots(emb)
        base = ((dots >= 0) * bit_weights).sum(axis=2)
        order = np.argsort(np.abs(dots), axis=2, kind="stable")
        out = []
        for r in range(dots.shape[0]):
            row = []
            for ti in range(_ANN_TABLES):
                row.append(f"{ti}:{base[r, ti]}|0")
                for p in range(_RC_LSH_MAXP):
                    row.append(
                        f"{ti}:{base[r, ti] ^ (1 << int(order[r, ti, p]))}|{p + 1}"
                    )
            out.append(row)
        return pd.Series(out)

    table_buckets = pandas_udf(_buckets_fn, "array<string>")
    probe_lev_buckets = pandas_udf(_probe_lev_fn, "array<string>")
    corpus_b = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.explode(table_buckets(F.col("embedding"))).alias("bucket"),
    )
    qlev = (
        e.filter(F.col("vec_id") < _N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.explode(probe_lev_buckets(F.col("embedding"))).alias("bl"),
        )
        .select(
            "query_id",
            F.substring_index("bl", "|", 1).alias("bucket"),
            F.substring_index("bl", "|", -1).cast("long").alias("lev"),
        )
    )
    pairlev = (
        corpus_b.join(F.broadcast(qlev), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", F.col("neighbor_id").alias("gt_id"))
        .agg(F.min("lev").alias("minlev"))
    )
    lsh_gt = gt.join(pairlev, ["query_id", "gt_id"], "left")
    lsh_levels = spark.createDataFrame(
        [(p,) for p in range(_RC_LSH_MAXP + 1)], "probes long"
    )
    lsh_curve = (
        lsh_gt.crossJoin(F.broadcast(lsh_levels))
        .groupBy("probes")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_gt"),
            F.sum(
                F.when(F.col("minlev") <= F.col("probes"), 1).otherwise(0)
            )
            .cast("long")
            .alias("hits"),
        )
        .select(
            F.lit("lsh").alias("method"),
            "probes",
            F.lit(0).cast("long").alias("shortlist"),
            "n_gt",
            "hits",
        )
    )

    # ---- IVF-PQ branch: cell rank + ADC better-counts per gt pair ----
    _e2, codes, st = _ivfpq_state(spark, sf_dir)
    cells, ccv, rcb = st["cells"], st["ccv"], st["rcb"]
    qids, qvq = st["qids"], st["qvq"]
    residuals, assign, rassign = st["_residuals"], st["_assign"], st["_rassign"]
    maxnp = max(_RC_NPROBES)
    lut = [
        [qvq[qi].reshape(_PQ_M, _PQ_SUBDIM)[m] @ rcb[m][1].T for m in range(_PQ_M)]
        for qi in range(len(qids))
    ]
    coarse = [qvq[qi] @ ccv.T for qi in range(len(qids))]
    rcb_ids = {m: np.array(rcb[m][0], dtype=np.int64) for m in range(_PQ_M)}
    # per query: centroid ROW position -> probe rank (1-based, (d2, cell)
    # order — the probes-CTE ranking)
    rank_rows = []
    for qi in range(len(qids)):
        diff = qvq[qi][None, :] - ccv
        d2 = (diff * diff).sum(axis=1)
        order = sorted(range(len(cells)), key=lambda ci: (int(d2[ci]), cells[ci]))
        ranks = np.full(len(cells), len(cells) + 1, dtype=np.int64)
        for rk, ci in enumerate(order):
            ranks[ci] = rk + 1
        rank_rows.append(ranks)

    def cand_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.stack(pdf["c"].to_numpy()).astype(np.int64)
            vid = pdf["vec_id"].to_numpy().astype(np.int64)
            a = assign(C, ccv)
            Rs = residuals(pdf)
            cbids = rassign(Rs, rcb)
            pos = np.stack(
                [np.searchsorted(rcb_ids[m], cbids[:, m]) for m in range(_PQ_M)],
                axis=1,
            )
            outq, outn, outc, outs = [], [], [], []
            for qi, q in enumerate(qids):
                crank = rank_rows[qi][a]
                mask = (crank <= maxnp) & (vid != q)
                if not mask.any():
                    continue
                rscore = np.zeros(int(mask.sum()), dtype=np.int64)
                for m in range(_PQ_M):
                    rscore += lut[qi][m][pos[mask, m]]
                outq.append(np.full(int(mask.sum()), q, dtype=np.int64))
                outn.append(vid[mask])
                outc.append(crank[mask])
                outs.append(coarse[qi][a[mask]] + rscore)
            if not outq:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(outq),
                    "neighbor_id": np.concatenate(outn),
                    "crank": np.concatenate(outc),
                    "ascore": np.concatenate(outs),
                }
            )

    cands = codes.mapInPandas(
        cand_batches, "query_id bigint, neighbor_id bigint, crank bigint, ascore bigint"
    ).cache()  # two consumers (gt lookup + better-counts), BOTH inside the
    # final action — cache() materializes during that action instead of
    # the eager checkpoint's separate blocking job (r13; the r12
    # checkpoint→cache rule, one Spark job fewer per invocation)
    g_info = gt.join(
        cands.select(
            "query_id",
            F.col("neighbor_id").alias("gt_id"),
            F.col("crank").alias("g_crank"),
            F.col("ascore").alias("g_ascore"),
        ),
        ["query_id", "gt_id"],
        "left",
    )
    better = (F.col("ascore") > F.col("g_ascore")) | (
        (F.col("ascore") == F.col("g_ascore"))
        & (F.col("neighbor_id") < F.col("gt_id"))
    )
    bc = (
        cands.join(F.broadcast(g_info), "query_id")
        .groupBy("query_id", "gt_id", "g_crank")
        .agg(
            *[
                F.sum(
                    F.when((F.col("crank") <= np_) & better, 1).otherwise(0)
                )
                .cast("long")
                .alias(f"bc{np_}")
                for np_ in _RC_NPROBES
            ]
        )
    )
    # gt pairs whose neighbor fell outside every probed cell emit no
    # cands-join rows — restore them (all-miss) via the left join
    bc = g_info.select("query_id", "gt_id").join(
        bc, ["query_id", "gt_id"], "left"
    )
    settings = spark.createDataFrame(
        [(np_, s) for np_ in _RC_NPROBES for s in _RC_SHORTLISTS],
        "np long, s long",
    )
    bc_at_np = F.coalesce(
        *[
            F.when(F.col("np") == np_, F.col(f"bc{np_}"))
            for np_ in _RC_NPROBES
        ]
    )
    iv_curve = (
        bc.crossJoin(F.broadcast(settings))
        .groupBy("np", "s")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_gt"),
            F.sum(
                F.when(
                    (F.col("g_crank") <= F.col("np")) & (bc_at_np < F.col("s")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("hits"),
        )
        .select(
            F.lit("ivfpq").alias("method"),
            F.col("np").alias("probes"),
            F.col("s").alias("shortlist"),
            "n_gt",
            "hits",
        )
    )
    return lsh_curve.unionByName(iv_curve).select(
        "method",
        "probes",
        "shortlist",
        "n_gt",
        "hits",
        F.expr(f"(hits * {_RC_PPM}) DIV n_gt").alias("recall_ppm"),
    )


def _ivfpq_planes_sql(ns: str, bits: int) -> str:
    return f"""
  SELECT m.m * {_PQ_SUBDIM} + j.j AS i, b.b,
         (('0x' || substr(md5('{ns}:' || m.m::VARCHAR || ':' || b.b::VARCHAR
                               || ':' || j.j::VARCHAR), 1, 10))::BIGINT
          % 2001) - 1000 AS p
  FROM (SELECT unnest(range(0, {_PQ_M})) AS m) m,
       (SELECT unnest(range(0, {bits})) AS b) b,
       (SELECT unnest(range(0, {_PQ_SUBDIM})) AS j) j
"""


#: the IVF-PQ training + ADC-prep CTE chain (codes → coarse/residual
#: codebooks → per-query LUTs), shared verbatim by the top-k oracle and
#: the recall-curve oracle so the two can never train different indexes
_IVFPQ_CORE_CTES = f"""codes AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE)
                                        / sqrt({_o_dot('embedding', 'embedding')})
                                        * {_IVFPQ_SCALE}) AS BIGINT)) AS code
  FROM embeddings
),
vdim AS (
  SELECT vec_id, t.i - 1 AS i, ((t.i - 1) // {_PQ_SUBDIM}) AS m,
         code[t.i] AS c,
         code[t.i] * {_IVFPQ_Q} AS vq
  FROM codes, unnest(range(1, {_DIM} + 1)) AS t(i)
),
planesC AS ({_ivfpq_planes_sql('ivfpqc', _IVFPQ_COARSE_BITS)}),
hc AS MATERIALIZED (
  SELECT vec_id,
         CAST(SUM(CASE WHEN dv >= 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
              AS BIGINT) AS cell
  FROM (
    SELECT v.vec_id, pl.b, SUM(v.c * pl.p) AS dv
    FROM vdim v JOIN planesC pl ON v.i = pl.i
    GROUP BY v.vec_id, pl.b
  ) GROUP BY vec_id
),
ccv0 AS MATERIALIZED (
  SELECT h.cell, v.i,
         CAST(({_IVFPQ_Q} * CAST(SUM(v.c) AS BIGINT)) // COUNT(*) AS BIGINT) AS ccv
  FROM vdim v JOIN hc h ON v.vec_id = h.vec_id
  GROUP BY h.cell, v.i
),
d2c0 AS MATERIALIZED (
  SELECT v.vec_id, c.cell,
         CAST(SUM((v.vq - c.ccv) * (v.vq - c.ccv)) AS BIGINT) AS d2
  FROM vdim v JOIN ccv0 c ON v.i = c.i
  GROUP BY v.vec_id, c.cell
),
cellA AS MATERIALIZED (
  SELECT vec_id, (MIN({{'d': d2, 'l': cell}})).l AS cell FROM d2c0 GROUP BY vec_id
),
ccv AS MATERIALIZED (
  SELECT a.cell, v.i,
         CAST(({_IVFPQ_Q} * CAST(SUM(v.c) AS BIGINT)) // COUNT(*) AS BIGINT) AS ccv
  FROM vdim v JOIN cellA a ON v.vec_id = a.vec_id
  GROUP BY a.cell, v.i
),
d2c AS MATERIALIZED (
  SELECT v.vec_id, c.cell,
         CAST(SUM((v.vq - c.ccv) * (v.vq - c.ccv)) AS BIGINT) AS d2
  FROM vdim v JOIN ccv c ON v.i = c.i
  GROUP BY v.vec_id, c.cell
),
assign_c AS MATERIALIZED (
  SELECT vec_id, (MIN({{'d': d2, 'l': cell}})).l AS cell FROM d2c GROUP BY vec_id
),
rdim AS MATERIALIZED (
  SELECT v.vec_id, v.i, v.m, v.vq - c.ccv AS r
  FROM vdim v
  JOIN assign_c a ON v.vec_id = a.vec_id
  JOIN ccv c ON c.cell = a.cell AND c.i = v.i
),
planesR AS ({_ivfpq_planes_sql('ivfpq', _IVFPQ_SEED_BITS)}),
hseed AS MATERIALIZED (
  SELECT vec_id, m,
         CAST(SUM(CASE WHEN dv >= 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
              AS BIGINT) AS cb
  FROM (
    SELECT r.vec_id, r.m, pl.b, SUM(r.r * pl.p) AS dv
    FROM rdim r JOIN planesR pl ON r.i = pl.i
    GROUP BY r.vec_id, r.m, pl.b
  ) GROUP BY vec_id, m
),
rcb0 AS MATERIALIZED (
  SELECT h.cb, r.i, r.m,
         CAST(CAST(SUM(r.r) AS BIGINT) // COUNT(*) AS BIGINT) AS cv
  FROM rdim r JOIN hseed h ON r.vec_id = h.vec_id AND r.m = h.m
  GROUP BY h.cb, r.i, r.m
),
sd0 AS MATERIALIZED (
  SELECT r.vec_id, r.m, c.cb,
         CAST(SUM((r.r - c.cv) * (r.r - c.cv)) AS BIGINT) AS d2
  FROM rdim r JOIN rcb0 c ON r.i = c.i AND r.m = c.m
  GROUP BY r.vec_id, r.m, c.cb
),
assign0 AS MATERIALIZED (
  SELECT vec_id, m, (MIN({{'d': d2, 'l': cb}})).l AS cb FROM sd0 GROUP BY vec_id, m
),
rcb1 AS MATERIALIZED (
  SELECT a.cb, r.i, r.m,
         CAST(CAST(SUM(r.r) AS BIGINT) // COUNT(*) AS BIGINT) AS cv
  FROM rdim r JOIN assign0 a ON r.vec_id = a.vec_id AND r.m = a.m
  GROUP BY a.cb, r.i, r.m
),
sd1 AS MATERIALIZED (
  SELECT r.vec_id, r.m, c.cb,
         CAST(SUM((r.r - c.cv) * (r.r - c.cv)) AS BIGINT) AS d2
  FROM rdim r JOIN rcb1 c ON r.i = c.i AND r.m = c.m
  GROUP BY r.vec_id, r.m, c.cb
),
assign AS MATERIALIZED (
  SELECT vec_id AS neighbor_id, m, (MIN({{'d': d2, 'l': cb}})).l AS cb
  FROM sd1 GROUP BY vec_id, m
),
lutr AS (
  SELECT v.vec_id AS query_id, v.m, c.cb,
         CAST(SUM(v.vq * c.cv) AS BIGINT) AS dotp
  FROM vdim v JOIN rcb1 c ON v.i = c.i AND v.m = c.m
  WHERE v.vec_id < {_N_QUERIES}
  GROUP BY v.vec_id, v.m, c.cb
),
coarse AS (
  SELECT v.vec_id AS query_id, c.cell,
         CAST(SUM(v.vq * c.ccv) AS BIGINT) AS cdot
  FROM vdim v JOIN ccv c ON v.i = c.i
  WHERE v.vec_id < {_N_QUERIES}
  GROUP BY v.vec_id, c.cell
)"""


_IVFPQ_SQL = f"""
WITH {_IVFPQ_CORE_CTES},
probes AS (
  SELECT vec_id AS query_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS crank
    FROM d2c WHERE vec_id < {_N_QUERIES}
  ) WHERE crank <= {_IVFPQ_NPROBE}
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id, a.cell
  FROM assign_c a JOIN probes p ON a.cell = p.cell AND a.vec_id != p.query_id
),
approx AS (
  SELECT cd.query_id, cd.neighbor_id, cd.cell,
         CAST(SUM(l.dotp) AS BIGINT) AS rscore
  FROM cand cd
  JOIN assign a ON a.neighbor_id = cd.neighbor_id
  JOIN lutr l ON l.query_id = cd.query_id AND l.m = a.m AND l.cb = a.cb
  GROUP BY cd.query_id, cd.neighbor_id, cd.cell
  HAVING COUNT(*) = {_PQ_M}
),
shortlist AS (
  SELECT query_id, neighbor_id FROM (
    SELECT x.query_id, x.neighbor_id,
           row_number() OVER (
             PARTITION BY x.query_id
             ORDER BY (co.cdot + x.rscore) DESC, x.neighbor_id ASC
           ) AS srank
    FROM approx x JOIN coarse co ON co.query_id = x.query_id AND co.cell = x.cell
  ) WHERE srank <= {_IVFPQ_SHORTLIST}
),
v AS (
  SELECT vec_id, embedding, sqrt({_o_dot('embedding', 'embedding')}) AS nrm
  FROM embeddings
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cosine FROM (
  SELECT s.query_id, s.neighbor_id,
         {_o_dot('q.embedding', 'n.embedding')} / (q.nrm * n.nrm) AS cosine,
         row_number() OVER (
           PARTITION BY s.query_id
           ORDER BY {_o_dot('q.embedding', 'n.embedding')} / (q.nrm * n.nrm) DESC,
                    s.neighbor_id ASC
         ) AS rank
  FROM shortlist s
  JOIN v q ON s.query_id = q.vec_id
  JOIN v n ON s.neighbor_id = n.vec_id
) WHERE rank <= {_TOPK}
"""


_RC_NP_VALUES = ", ".join(f"({np_})" for np_ in _RC_NPROBES)
_RC_S_VALUES = ", ".join(f"({s})" for s in _RC_SHORTLISTS)
_RC_BC_COLS = ",\n         ".join(
    f"CAST(SUM(CASE WHEN a.crank <= {np_} AND (a.ascore > g.g_ascore"
    f" OR (a.ascore = g.g_ascore AND a.neighbor_id < g.gt_id))"
    f" THEN 1 ELSE 0 END) AS BIGINT) AS bc{np_}"
    for np_ in _RC_NPROBES
)
_RC_BC_PICK = " ".join(
    f"WHEN {np_} THEN bc{np_}" for np_ in _RC_NPROBES
)

_RECALL_CURVE_SQL = f"""
WITH {_IVFPQ_CORE_CTES},
cranks AS (
  SELECT vec_id AS query_id, cell, crank FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS crank
    FROM d2c WHERE vec_id < {_N_QUERIES}
  ) WHERE crank <= {max(_RC_NPROBES)}
),
candr AS (
  SELECT p.query_id, a.vec_id AS neighbor_id, a.cell, p.crank
  FROM assign_c a JOIN cranks p ON a.cell = p.cell AND a.vec_id != p.query_id
),
approxr AS (
  SELECT cd.query_id, cd.neighbor_id, cd.cell, cd.crank,
         CAST(SUM(l.dotp) AS BIGINT) AS rscore
  FROM candr cd
  JOIN assign a ON a.neighbor_id = cd.neighbor_id
  JOIN lutr l ON l.query_id = cd.query_id AND l.m = a.m AND l.cb = a.cb
  GROUP BY cd.query_id, cd.neighbor_id, cd.cell, cd.crank
  HAVING COUNT(*) = {_PQ_M}
),
scorer AS MATERIALIZED (
  SELECT x.query_id, x.neighbor_id, x.crank,
         CAST(co.cdot + x.rscore AS BIGINT) AS ascore
  FROM approxr x JOIN coarse co ON co.query_id = x.query_id AND co.cell = x.cell
),
normsr AS (
  SELECT vec_id, sqrt({_o_dot('embedding', 'embedding')}) AS nrm FROM embeddings
),
gtc AS MATERIALIZED (
  SELECT query_id, neighbor_id AS gt_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_o_dot('q.embedding', 'c.embedding')} / (nq.nrm * nc.nrm) DESC,
                      c.vec_id ASC
           ) AS rank
    FROM embeddings q
    JOIN embeddings c ON c.vec_id != q.vec_id
    JOIN normsr nq ON q.vec_id = nq.vec_id
    JOIN normsr nc ON c.vec_id = nc.vec_id
    WHERE q.vec_id < {_N_QUERIES}
  ) WHERE rank <= {_TOPK}
),
gts AS (
  SELECT g.query_id, g.gt_id, a.crank AS g_crank, a.ascore AS g_ascore
  FROM gtc g LEFT JOIN scorer a
    ON a.query_id = g.query_id AND a.neighbor_id = g.gt_id
),
bc AS (
  SELECT g.query_id, g.gt_id, g.g_crank,
         {_RC_BC_COLS}
  FROM gts g LEFT JOIN scorer a ON a.query_id = g.query_id
  GROUP BY g.query_id, g.gt_id, g.g_crank
),
ivc AS (
  SELECT 'ivfpq' AS method, CAST(np.np AS BIGINT) AS probes,
         CAST(s.s AS BIGINT) AS shortlist,
         CAST(COUNT(*) AS BIGINT) AS n_gt,
         CAST(SUM(CASE WHEN g_crank IS NOT NULL AND g_crank <= np.np
                        AND (CASE np.np {_RC_BC_PICK} END) < s.s
                   THEN 1 ELSE 0 END) AS BIGINT) AS hits
  FROM bc, (VALUES {_RC_NP_VALUES}) np(np), (VALUES {_RC_S_VALUES}) s(s)
  GROUP BY np.np, s.s
),
codesl AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * {_ANN_CODE_SCALE}) AS BIGINT)) AS code
  FROM embeddings
),
planesl AS (
  SELECT t, b, d,
         (('0x' || substr(md5(t::VARCHAR || ':' || b::VARCHAR || ':' || d::VARCHAR), 1, 10))::BIGINT
          % 2001) - 1000 AS p
  FROM (SELECT unnest(range(0, {_ANN_TABLES})) AS t),
       (SELECT unnest(range(0, {_ANN_BITS})) AS b),
       (SELECT unnest(range(0, {_DIM})) AS d)
),
bitsl AS MATERIALIZED (
  SELECT c.vec_id, pl.t, pl.b, SUM(c.code[pl.d + 1] * pl.p) AS dotv
  FROM codesl c CROSS JOIN planesl pl
  GROUP BY c.vec_id, pl.t, pl.b
),
bucketsl AS MATERIALIZED (
  SELECT vec_id, t,
         CAST(SUM(CASE WHEN dotv >= 0 THEN (1 << b) ELSE 0 END) AS BIGINT) AS bkt
  FROM bitsl GROUP BY vec_id, t
),
qlev AS (
  SELECT vec_id, t, bkt, 0 AS lev FROM bucketsl WHERE vec_id < {_N_QUERIES}
  UNION ALL
  SELECT r.vec_id, r.t, xor(bk.bkt, (1 << r.b)) AS bkt, r.rn AS lev
  FROM (
    SELECT vec_id, t, b,
           row_number() OVER (PARTITION BY vec_id, t
                              ORDER BY abs(dotv) ASC, b ASC) AS rn
    FROM bitsl WHERE vec_id < {_N_QUERIES}
  ) r JOIN bucketsl bk ON r.vec_id = bk.vec_id AND r.t = bk.t
  WHERE r.rn <= {_RC_LSH_MAXP}
),
pairlev AS (
  SELECT q.vec_id AS query_id, c.vec_id AS gt_id, MIN(q.lev) AS minlev
  FROM qlev q JOIN bucketsl c ON q.t = c.t AND q.bkt = c.bkt AND c.vec_id != q.vec_id
  GROUP BY 1, 2
),
lshg AS (
  SELECT g.query_id, g.gt_id, p.minlev
  FROM gtc g LEFT JOIN pairlev p
    ON p.query_id = g.query_id AND p.gt_id = g.gt_id
),
lshc AS (
  SELECT 'lsh' AS method, CAST(p.p AS BIGINT) AS probes,
         CAST(0 AS BIGINT) AS shortlist,
         CAST(COUNT(*) AS BIGINT) AS n_gt,
         CAST(SUM(CASE WHEN minlev IS NOT NULL AND minlev <= p.p
                   THEN 1 ELSE 0 END) AS BIGINT) AS hits
  FROM lshg, (VALUES (0), (1), (2), (3)) p(p)
  GROUP BY p.p
)
SELECT method, probes, shortlist, n_gt, hits,
       (hits * {_RC_PPM}) // n_gt AS recall_ppm
FROM (SELECT * FROM lshc UNION ALL SELECT * FROM ivc)
"""


QUERIES: dict[str, QuerySpec] = {
    "emb_array_fold": QuerySpec(emb_array_fold, _ARRAY_FOLD_SQL, ("OP-ARR-SUM",)),
    "emb_matryoshka_topk": QuerySpec(
        emb_matryoshka_topk, _MATRYOSHKA_SQL, ("OP-X-MRL", "OP-X-SIM-TOPK")
    ),
    "emb_cosine_topk": QuerySpec(emb_cosine_topk, _COSINE_TOPK_SQL, ("OP-X-SIM-TOPK",)),
    "emb_neardup_by_label": QuerySpec(emb_neardup_by_label, _NEARDUP_SQL, ("OP-X-DEDUP-NEAR", "OP-X-SIM-TOPK")),
    "emb_semdedup": QuerySpec(emb_semdedup, _SEMDEDUP_SQL, ("OP-X-SEMDEDUP", "OP-X-DEDUP-NEAR", "OP-X-SIM-TOPK")),
    "emb_hard_negatives": QuerySpec(emb_hard_negatives, _HARD_NEG_SQL, ("OP-X-NEGSAMPLE", "OP-X-SIM-TOPK")),
    "emb_ann_lsh_topk": QuerySpec(emb_ann_lsh_topk, _ANN_LSH_SQL, ("OP-X-SIM-TOPK", "OP-X-MULTIPROBE")),
    "emb_ivf_topk": QuerySpec(emb_ivf_topk, _IVF_TOPK_SQL, ("OP-X-SIM-TOPK",)),
    "emb_sq_adc_topk": QuerySpec(emb_sq_adc_topk, _SQ_ADC_SQL, ("OP-X-SIM-TOPK", "OP-X-QUANT", "OP-X-ADC")),
    "emb_pq_adc_topk": QuerySpec(emb_pq_adc_topk, _PQ_ADC_SQL, ("OP-X-SIM-TOPK", "OP-X-QUANT", "OP-X-ADC", "OP-X-PQ")),
    "emb_ivfpq_topk": QuerySpec(
        emb_ivfpq_topk,
        _IVFPQ_SQL,
        ("OP-X-SIM-TOPK", "OP-X-QUANT", "OP-X-ADC", "OP-X-PQ"),
    ),
    "emb_ann_recall_curve": QuerySpec(
        emb_ann_recall_curve,
        _RECALL_CURVE_SQL,
        ("OP-X-RECALLCURVE", "OP-X-SIM-TOPK", "OP-X-MULTIPROBE", "OP-X-PQ"),
    ),
}
