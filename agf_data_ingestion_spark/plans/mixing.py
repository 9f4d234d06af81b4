"""Corpus mixture design (OP-X-DOREMI, OP-X-OVERLAP): domain-weight
optimization and the exact cross-source overlap matrix — the two
decisions a training-mixture owner makes BEFORE sampling (what share
each source gets, and which sources are secretly the same data).

``docs_domain_reweight`` — DoReMi-style Group-DRO domain reweighting
(Xie et al. 2023, "DoReMi: Optimizing Data Mixtures Speeds Up Language
Model Pretraining").  DoReMi runs multiplicative-weights updates where
domains whose proxy-model EXCESS LOSS exceeds the current mixture's
average gain weight.  The engine-exact analog (the CLAUDE.md no-exp
rule — ``exp`` is not IEEE-correctly-rounded, so Hedge's exponential
update is replaced by its first-order multiplicative form, itself a
standard MW variant):

* per-domain hardness signal = mean chars-per-word in ppm, an exact
  integer corpus statistic (the cheap perplexity stand-in: long-word
  domains are harder; swap in real proxy losses at deployment);
* R rounds over the K-row weight table:
  ``mixavg = Σ(w·excess) DIV Σw`` (the current mixture's average),
  ``factor = max(0.1, 1 + η·(excess − mixavg))`` in ppm arithmetic,
  ``w ← (w·factor) DIV 1e6`` renormalized to total K·1e6 by truncating
  division — every quantity BIGINT, every round bit-identical to the
  DuckDB twin that unrolls the same rounds as chained MATERIALIZED
  CTEs (the plans/iterative.py discipline; ``SUM(...) OVER ()`` is an
  order-free integer sum in both engines).

Scale shape: the corpus is touched ONCE (one groupBy(source) with
map-side partials); the iteration runs on the K-row domain table
(K = distinct sources, enumerable by definition) — rounds cost
nothing at any corpus size.

``docs_source_overlap`` — the exact pairwise shingle-overlap matrix
between sources: |A∩B|, Jaccard, and both containments in ppm, from
distinct 3-word shingles (the plans/text.py shingle convention).  This
is dataset-level contamination triage (RedPajama/Dolma dedup reports):
two "different" sources with high containment are the same crawl twice.

Scale shape: one shingle explode → distinct (source, gram) — the
post-explode ``.distinct()`` rule, never array_distinct — then a
self-join on the gram string whose per-gram cost is bounded by K²
pairs (a constant: sources are enumerable), shuffle-hash pinned (both
sides are corpus-sized — never broadcast); the pair and size
aggregates are map-combined.  Output is the ≤ K(K−1)/2-row matrix.
Pairs with ZERO shared shingles are absent (inner join) — the matrix
reports overlap, not its complement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from agf_data_ingestion_spark.plans.base import QuerySpec, t

#: multiplicative-weights rounds and learning rate (ppm) — small enough
#: that clamped factors stay positive, large enough that the planted
#: hardness spread separates weights in R rounds
_DRM_ROUNDS = 6
_DRM_ETA = 300_000
_PPM = 1_000_000


def docs_domain_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source training-mixture weights after ``_DRM_ROUNDS`` exact-
    integer multiplicative-weights rounds; ``upweighted`` marks domains
    that ended above the uniform share."""
    return domain_reweight_frame(t(spark, sf_dir, "documents"))


def domain_reweight_frame(d: DataFrame) -> DataFrame:
    """The DoReMi core over ANY (source, text) frame — shared by the
    catalog query (full corpus) and the end-to-end curation pipeline
    (operators/curation.py), which reweights only the docs surviving its
    upstream gates.  Same exact-integer rounds, same output schema."""
    d = d.select("source", "text")
    base = (
        d.select(
            "source",
            # bigint BEFORE the multiply: Spark length() is INT and a
            # 2148+-char doc would overflow int32 under ANSI (the DuckDB
            # twin is BIGINT-native)
            F.expr(
                "(cast(length(text) as bigint) * 1000000)"
                " DIV size(split(text, ' '))"
            ).alias("cpw"),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.expr("sum(cpw) DIV count(*)").cast("long").alias("excess_ppm"),
        )
    )
    w = base.select(
        "source", "n_docs", "excess_ppm", F.lit(_PPM).cast("long").alias("w")
    )
    for _ in range(_DRM_ROUNDS):
        w = w.selectExpr(
            "source",
            "n_docs",
            "excess_ppm",
            f"""greatest(
                  100000L,
                  {_PPM}L + ((excess_ppm - (sum(w * excess_ppm) OVER ())
                              DIV (sum(w) OVER ())) * {_DRM_ETA})
                           DIV {_PPM}
                ) AS factor""",
            "w",
        ).selectExpr(
            "source",
            "n_docs",
            "excess_ppm",
            f"(w * factor) DIV {_PPM} AS wn",
        ).selectExpr(
            "source",
            "n_docs",
            "excess_ppm",
            f"(wn * (count(*) OVER ()) * {_PPM}) DIV (sum(wn) OVER ()) AS w",
        )
    return w.select(
        "source",
        "n_docs",
        "excess_ppm",
        F.col("w").alias("weight_ppm"),
        (F.col("w") > _PPM).alias("upweighted"),
    )


def docs_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise source overlap over distinct 3-word shingles:
    intersection size, Jaccard, and both containments, all in ppm."""
    d = t(spark, sf_dir, "documents").select("source", "text")
    words = F.split(F.col("text"), " ")
    # guard short docs: Spark sequence(1, n) with n <= 0 counts DOWN
    # (CLAUDE.md) — emit an empty gram list instead
    idx = F.when(
        F.size(words) >= 3, F.sequence(F.lit(1), F.size(words) - 2)
    ).otherwise(F.array().cast("array<int>"))
    # ONE corpus exchange on gram: the explicit repartition satisfies the
    # distinct (gram ⊆ its keys) AND both self-join sides, so the four
    # consumers (join a/b, sizes ×2) collapse to one executed shuffle +
    # three ReusedExchange reads at runtime (verified: 3 ReusedExchange
    # nodes in the final adaptive plan) instead of each branch planning
    # its own distinct-then-join exchanges — the r5 exchange-reuse rule
    grams = (
        d.select("source", words.alias("w"), F.explode(idx).alias("i"))
        .select(
            "source",
            F.concat_ws(
                " ",
                F.expr("w[i - 1]"),
                F.expr("w[i]"),
                F.expr("w[i + 1]"),
            ).alias("gram"),
        )
        .repartition("gram")
        .distinct()
    )
    sizes = grams.groupBy("source").agg(F.count("*").alias("n"))
    a = grams.select(F.col("source").alias("src_a"), "gram")
    b = grams.select(F.col("source").alias("src_b"), "gram")
    inter = (
        a.join(b.hint("shuffle_hash"), "gram")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("inter"))
    )
    sz = F.broadcast(sizes)  # K rows
    return (
        inter.join(sz.select(F.col("source").alias("src_a"), F.col("n").alias("na")), "src_a")
        .join(sz.select(F.col("source").alias("src_b"), F.col("n").alias("nb")), "src_b")
        .select(
            "src_a",
            "src_b",
            "inter",
            "na",
            "nb",
            F.expr(f"(inter * {_PPM}) DIV (na + nb - inter)").alias("jaccard_ppm"),
            F.expr(f"(inter * {_PPM}) DIV na").alias("contain_a_ppm"),
            F.expr(f"(inter * {_PPM}) DIV nb").alias("contain_b_ppm"),
        )
    )


#: One-permutation-hashing bins for the overlap sketch — relative error
#: ~1/sqrt(S) ≈ 4.4%; 60-bit md5-derived hash space (engine-identical,
#: the plans/sketches.py convention).  S is a power of two so the per-bin
#: rescaled space M = 2^60 / S is exact.
_OVS_BINS = 512
_OV_HEX = 15
_OV_M = (1 << 60) // _OVS_BINS  # per-bin rescaled hash space
_OVU_K = 64  # KMV size over the bin minima (union estimate)


def _source_grams(d: DataFrame) -> DataFrame:
    """(source, 3-word shingle) rows — the shared front half of the exact
    matrix and its sketch twin (the exact path distincts them; the sketch
    aggregates with MIN, which duplicates cannot affect)."""
    words = F.split(F.col("text"), " ")
    idx = F.when(
        F.size(words) >= 3, F.sequence(F.lit(1), F.size(words) - 2)
    ).otherwise(F.array().cast("array<int>"))
    return (
        d.select("source", words.alias("w"), F.explode(idx).alias("i"))
        .select(
            "source",
            F.concat_ws(
                " ",
                F.expr("w[i - 1]"),
                F.expr("w[i]"),
                F.expr("w[i + 1]"),
            ).alias("gram"),
        )
    )


def docs_source_overlap_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ONE-PASS sketch twin of ``docs_source_overlap`` (VERDICT r7 ask
    #2), built as one-permutation hashing (Li/Owen/Zhang 2012) over bucket
    MINIMA: hash every shingle to 60 md5 bits, bin it by ``h mod S``, and
    keep ONE ``min(h)`` per (source, bin).  Duplicates cannot affect a MIN,
    so the corpus pass is a single map-side-combined aggregation — no
    distinct, no window, no corpus shuffle (only partial minima travel,
    ≤ partitions x K x S rows).  The first KMV cut of this query kept the
    exact path's corpus-wide distinct + per-source window and measured
    6.2x at 10x — the same shape the sketch exists to avoid.

    Estimators, all exact integers (full hash-match oracle):

    * per-bin rescale m' = (min h) DIV S is the MIN of n_bin uniform draws
      from [0, M); ``est_union`` = SUM over union bins of
      (M − 1 − m') DIV (m' + 1) — an integer sum, order-free;
    * ``est_jaccard_ppm`` = matched-minima bins x 1e6 DIV union bins (the
      union's minimum in a bin lands in A∩B with probability exactly J);
    * ``est_inter`` = (n_match x est_union) DIV n_union_bins.

    Accuracy vs the exact matrix is pinned at >=4 sigma in
    tests/test_mixing.py; the estimator needs per-source gram counts >> S
    (dense bins), which holds from sf0.001 up.

    Scale shape: the pair stage joins a K²-row pair table to the K·S-row
    bucket-minima table (localCheckpointed — the multi-consumer corpus-
    aggregate rule), so everything after the one corpus aggregation is
    corpus-size constant."""
    d = t(spark, sf_dir, "documents").select("source", "text")
    h = F.conv(
        F.substring(F.md5(F.col("gram")), 1, _OV_HEX), 16, 10
    ).cast("long")
    sig = (
        _source_grams(d)
        .select("source", h.alias("h"))
        .groupBy("source", F.pmod(F.col("h"), F.lit(_OVS_BINS)).alias("c"))
        .agg(F.min("h").alias("mh"))
        # THE multi-consumer corpus aggregate (r4 rule): two pair-side
        # consumers plus the source list would each replan the corpus
        # scan.  r12: cache() instead of localCheckpoint — same physical
        # "corpus touched once" guarantee once materialized (the <= K·S-row
        # table is deterministic, no partition-id dependence), and the
        # CacheManager additionally shares the canonicalized subtree with
        # ``docs_source_overlap_auto``'s sketch branch, so the catalog
        # pays the corpus gram scan once for the two queries instead of
        # twice (a checkpoint is a fresh RDD scan — never shareable).
        .cache()
    )
    srcs = sig.select("source").distinct()
    # K-row × K-row pair table (K = enumerable sources): broadcast BOTH
    # sides explicitly so no future AQE/statistics change can ever plan
    # this cross join wide (VERDICT r8 minor #1)
    pairs = (
        F.broadcast(srcs.select(F.col("source").alias("src_a")))
        .join(F.broadcast(srcs.select(F.col("source").alias("src_b"))))
        .filter(F.col("src_a") < F.col("src_b"))
    )
    tag_a = pairs.join(
        sig.withColumnRenamed("source", "src_a"), "src_a"
    ).select("src_a", "src_b", "c", F.col("mh").alias("ha"), F.lit(None).cast("long").alias("hb"))
    tag_b = pairs.join(
        sig.withColumnRenamed("source", "src_b"), "src_b"
    ).select("src_a", "src_b", "c", F.lit(None).cast("long").alias("ha"), F.col("mh").alias("hb"))
    bins = (
        tag_a.unionByName(tag_b)
        .groupBy("src_a", "src_b", "c")
        .agg(F.min("ha").alias("ha"), F.min("hb").alias("hb"))
    )
    from pyspark.sql import Window

    # rescale each union bin minimum back to the common [0, M) space:
    # h = c (mod S), so m' = mu DIV S is a uniform draw's minimum
    bins = bins.withColumn(
        "mp",
        F.expr(
            f"least(coalesce(ha, hb), coalesce(hb, ha)) DIV {_OVS_BINS}"
        ),
    )
    stats = bins.groupBy("src_a", "src_b").agg(
        F.count("*").alias("n_union_bins"),
        F.sum(F.when(F.col("ha") == F.col("hb"), 1).otherwise(0))
        .cast("long")
        .alias("n_match"),
    )
    # KMV over the bin minima (k smallest of <= S values per pair): the
    # events_kmv estimator (k-1)·M / m'_(k), double division — IEEE-
    # identical in both engines (plans/sketches.py convention)
    w = Window.partitionBy("src_a", "src_b").orderBy("mp")
    kmv = (
        bins.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _OVU_K)
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_kept"), F.max("mp").alias("kth"))
    )
    est_union = F.when(
        F.col("n_kept") < _OVU_K, F.col("n_kept").cast("double")
    ).otherwise(
        F.lit(float(_OVU_K - 1)) * F.lit(float(_OV_M)) / F.col("kth").cast("double")
    )
    return (
        stats.join(kmv, ["src_a", "src_b"])
        .select(
            "src_a",
            "src_b",
            "n_union_bins",
            "n_match",
            "n_kept",
            "kth",
            F.expr(f"(n_match * {_PPM}) DIV n_union_bins").alias(
                "est_jaccard_ppm"
            ),
            est_union.alias("est_union"),
            (
                F.col("n_match").cast("double")
                * est_union
                / F.col("n_union_bins").cast("double")
            ).alias("est_inter"),
        )
    )


_KM1 = float(_OVU_K - 1)
_MF = float(_OV_M)

_OVL_SKETCH_SQL = f"""
WITH g AS (
  SELECT source,
         w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS gram
  FROM (
    SELECT source, string_split(text, ' ') AS w,
           UNNEST(range(1, len(string_split(text, ' ')) - 1)) AS i
    FROM documents
    WHERE len(string_split(text, ' ')) >= 3)
),
h AS (
  SELECT source, ('0x' || substr(md5(gram), 1, {_OV_HEX}))::BIGINT AS h
  FROM g
),
sig AS (
  SELECT source, h % {_OVS_BINS} AS c, MIN(h) AS mh
  FROM h GROUP BY 1, 2
),
prs AS (
  SELECT a.source AS src_a, b.source AS src_b
  FROM (SELECT DISTINCT source FROM sig) a
  JOIN (SELECT DISTINCT source FROM sig) b ON a.source < b.source
),
bins AS (
  SELECT src_a, src_b, c, MIN(ha) AS ha, MIN(hb) AS hb
  FROM (
    SELECT p.src_a, p.src_b, s.c, s.mh AS ha, CAST(NULL AS BIGINT) AS hb
    FROM prs p JOIN sig s ON s.source = p.src_a
    UNION ALL
    SELECT p.src_a, p.src_b, s.c, CAST(NULL AS BIGINT), s.mh
    FROM prs p JOIN sig s ON s.source = p.src_b)
  GROUP BY 1, 2, 3
),
mus AS (
  SELECT src_a, src_b,
         least(coalesce(ha, hb), coalesce(hb, ha)) // {_OVS_BINS} AS mp,
         CASE WHEN ha = hb THEN 1 ELSE 0 END AS m
  FROM bins
),
stats AS (
  SELECT src_a, src_b,
         CAST(COUNT(*) AS BIGINT) AS n_union_bins,
         CAST(SUM(m) AS BIGINT) AS n_match
  FROM mus GROUP BY 1, 2
),
r AS (
  SELECT src_a, src_b, mp,
         row_number() OVER (PARTITION BY src_a, src_b ORDER BY mp) AS rn
  FROM mus
),
kmv AS (
  SELECT src_a, src_b,
         CAST(COUNT(*) AS BIGINT) AS n_kept,
         MAX(mp) AS kth
  FROM r WHERE rn <= {_OVU_K} GROUP BY 1, 2
)
SELECT s.src_a, s.src_b, s.n_union_bins, s.n_match, k.n_kept, k.kth,
       (s.n_match * {_PPM}) // s.n_union_bins AS est_jaccard_ppm,
       CASE WHEN k.n_kept < {_OVU_K} THEN CAST(k.n_kept AS DOUBLE)
            ELSE CAST({_KM1} AS DOUBLE) * CAST({_MF} AS DOUBLE) / CAST(k.kth AS DOUBLE) END AS est_union,
       CAST(s.n_match AS DOUBLE)
         * (CASE WHEN k.n_kept < {_OVU_K} THEN CAST(k.n_kept AS DOUBLE)
                 ELSE CAST({_KM1} AS DOUBLE) * CAST({_MF} AS DOUBLE) / CAST(k.kth AS DOUBLE) END)
         / CAST(s.n_union_bins AS DOUBLE) AS est_inter
FROM stats s JOIN kmv k USING (src_a, src_b)
"""


# ---------------------------------------------------------------------------
# Auto-routed overlap: exact matrix below the corpus-size guard, sketch above
# (OP-X-AUTOROUTE, r9 — VERDICT r8 ask #7)
# ---------------------------------------------------------------------------

#: gram-row guard separating "exact matrix is cheap" from "the all-gram
#: self-join melts" — an INTEGER corpus statistic both engines derive
#: identically (the `_sd_bits` rule: no float log, no row sampling).
#: Calibrated against the measured ladder: the exact matrix is 7.6× at
#: 10× past ~2.6e5 gram rows while the sketch's pair stage is constant,
#: so the boundary sits where the generated corpora actually split
#: (sf0.001/sf0.01 ≈ 2.7e4 → exact; sf0.1 ≈ 2.6e5 → sketch), keeping
#: BOTH branches driver-exercised across the correctness scales.
_OVR_THRESHOLD = 100_000


def _overlap_route(spark: SparkSession, d: DataFrame, threshold: int):
    """(gram_rows, use_sketch): the routing decision — ONE map-combined
    1-row aggregate collected to the driver (corpus-size-independent
    driver traffic, the pick_cut_tile class)."""
    w = F.split(F.col("text"), " ")
    g = (
        d.select(
            F.when(F.size(w) >= 3, (F.size(w) - 2).cast("long"))
            .otherwise(F.lit(0).cast("long"))
            .alias("n")
        )
        .agg(F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("g"))
        .collect()[0]["g"]
    )
    return int(g), int(g) > threshold


def docs_source_overlap_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE entry point for the overlap matrix that routes itself: the
    exact all-gram matrix below ``_OVR_THRESHOLD`` gram rows, the
    constant-shuffle one-permutation sketch above it — the operational
    answer to the exact form's measured 7.6×-at-10× melt (SCALE.md)
    without making callers pick a variant.  Output is branch-agnostic:
    (src_a, src_b, routed, gram_rows, jaccard_ppm) where ``jaccard_ppm``
    is exact on the exact branch and the sketch's hash-match estimate on
    the sketch branch (accuracy separately ≥4σ-pinned in
    tests/test_mixing.py).  The oracle computes the SAME integer guard
    in a CTE and selects the same branch, so the routed result
    hash-matches at every scale — both branches stay oracle-covered
    because the generated corpora fall on opposite sides of the
    boundary (sf0.01 → exact, sf0.1 → sketch).  The routing boundary
    itself is pytest-pinned at exactly ``threshold`` vs ``threshold+1``
    gram rows."""
    d = t(spark, sf_dir, "documents").select("source", "text")
    g, use_sketch = _overlap_route(spark, d, _OVR_THRESHOLD)
    if use_sketch:
        return docs_source_overlap_sketch(spark, sf_dir).select(
            "src_a",
            "src_b",
            F.lit("sketch").alias("routed"),
            F.lit(g).cast("long").alias("gram_rows"),
            F.col("est_jaccard_ppm").alias("jaccard_ppm"),
        )
    return docs_source_overlap(spark, sf_dir).select(
        "src_a",
        "src_b",
        F.lit("exact").alias("routed"),
        F.lit(g).cast("long").alias("gram_rows"),
        "jaccard_ppm",
    )


_OVL_AUTO_SQL = f"""
WITH guardq AS (
  SELECT COALESCE(CAST(SUM(len(string_split(text, ' ')) - 2) AS BIGINT), 0) AS g
  FROM documents WHERE len(string_split(text, ' ')) >= 3
),
ge AS (
  SELECT DISTINCT source,
         w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS gram
  FROM (
    SELECT source, string_split(text, ' ') AS w,
           UNNEST(range(1, len(string_split(text, ' ')) - 1)) AS i
    FROM documents
    WHERE len(string_split(text, ' ')) >= 3)
),
sizese AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM ge GROUP BY 1),
intere AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(COUNT(*) AS BIGINT) AS inter
  FROM ge a JOIN ge b ON a.gram = b.gram AND a.source < b.source
  GROUP BY 1, 2
),
exactf AS (
  SELECT i.src_a, i.src_b,
         (i.inter * {_PPM}) // (sa.n + sb.n - i.inter) AS jaccard_ppm
  FROM intere i
  JOIN sizese sa ON i.src_a = sa.source
  JOIN sizese sb ON i.src_b = sb.source
),
hs AS (
  SELECT source, ('0x' || substr(md5(gram), 1, {_OV_HEX}))::BIGINT AS h
  FROM (
    SELECT source,
           w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS gram
    FROM (
      SELECT source, string_split(text, ' ') AS w,
             UNNEST(range(1, len(string_split(text, ' ')) - 1)) AS i
      FROM documents
      WHERE len(string_split(text, ' ')) >= 3))
),
sigs AS (
  SELECT source, h % {_OVS_BINS} AS c, MIN(h) AS mh
  FROM hs GROUP BY 1, 2
),
prss AS (
  SELECT a.source AS src_a, b.source AS src_b
  FROM (SELECT DISTINCT source FROM sigs) a
  JOIN (SELECT DISTINCT source FROM sigs) b ON a.source < b.source
),
binss AS (
  SELECT src_a, src_b, c, MIN(ha) AS ha, MIN(hb) AS hb
  FROM (
    SELECT p.src_a, p.src_b, s.c, s.mh AS ha, CAST(NULL AS BIGINT) AS hb
    FROM prss p JOIN sigs s ON s.source = p.src_a
    UNION ALL
    SELECT p.src_a, p.src_b, s.c, CAST(NULL AS BIGINT), s.mh
    FROM prss p JOIN sigs s ON s.source = p.src_b)
  GROUP BY 1, 2, 3
),
sketchf AS (
  SELECT src_a, src_b,
         (CAST(SUM(CASE WHEN ha = hb THEN 1 ELSE 0 END) AS BIGINT) * {_PPM})
           // CAST(COUNT(*) AS BIGINT) AS jaccard_ppm
  FROM binss GROUP BY 1, 2
)
SELECT e.src_a, e.src_b, 'exact' AS routed, q.g AS gram_rows, e.jaccard_ppm
FROM exactf e, guardq q WHERE q.g <= {_OVR_THRESHOLD}
UNION ALL
SELECT s.src_a, s.src_b, 'sketch' AS routed, q.g AS gram_rows, s.jaccard_ppm
FROM sketchf s, guardq q WHERE q.g > {_OVR_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# Mixture annealing schedule (OP-X-ANNEAL, r9)
# ---------------------------------------------------------------------------

#: training phases the mixture anneals across (phase 0 = uniform,
#: phase P-1 = the full DoReMi weights — the Llama-3-style practice of
#: ending pretraining on the upweighted-quality mixture)
_ANN_PHASES = 4


def docs_mixture_anneal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phase-wise annealed mixture schedule: per (phase, source), the
    interpolated weight and that phase's per-source token target —
    start training on the UNIFORM mixture, end on the DoReMi-optimized
    one, moving linearly in between (data annealing: final-phase
    quality-upweighting, cf. Llama 3 / MiniCPM reports).

    Exact integers throughout: ``w_p = ((P-1-p)·1e6 + p·w_drm) DIV
    (P-1)`` interpolates in ppm; each phase's token budget is
    ``total_tokens DIV P`` and a source's target is ``budget · w_p DIV
    Σw_p`` (truncating division, engine-identical) — so the whole
    schedule hash-matches the oracle, which unrolls the SAME DRM rounds
    as CTEs and applies the same interpolation arithmetic.

    Scale shape: the corpus is touched once (the DRM groupBy(source) +
    one token-count aggregate); the schedule itself is a K×P-row
    cross join of constants."""
    wts = docs_domain_reweight(spark, sf_dir).select("source", "weight_ppm")
    d = t(spark, sf_dir, "documents").select(
        F.size(F.split("text", " ")).cast("long").alias("n_tok")
    )
    totals = d.agg(F.sum("n_tok").cast("long").alias("total_tokens"))
    phases = spark.range(_ANN_PHASES).select(F.col("id").cast("long").alias("phase"))
    interp = (
        wts.crossJoin(F.broadcast(phases))
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "weight_ppm",
            F.expr(
                f"(({_ANN_PHASES - 1} - phase) * {_PPM}"
                f" + phase * weight_ppm) DIV {_ANN_PHASES - 1}"
            ),
        )
    )
    wsum = Window.partitionBy("phase")
    return interp.select(
        "phase",
        "source",
        "weight_ppm",
        F.expr(
            f"((total_tokens DIV {_ANN_PHASES}) * weight_ppm)"
            f" DIV (sum(weight_ppm) OVER (PARTITION BY phase))"
        ).alias("target_tokens"),
    )


_ANNEAL_SQL = f"""
WITH {{_DRM_CTES}},
wts AS (SELECT source, CAST(w AS BIGINT) AS weight_ppm FROM r{{_DRM_ROUNDS}}),
tot AS (
  SELECT CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
  FROM documents
),
interp AS (
  SELECT p.p AS phase, w.source,
         (({_ANN_PHASES - 1} - p.p) * {_PPM} + p.p * w.weight_ppm)
           // {_ANN_PHASES - 1} AS weight_ppm
  FROM wts w, (SELECT unnest(range(0, {_ANN_PHASES})) AS p) p
)
SELECT i.phase, i.source, i.weight_ppm,
       ((t.total_tokens // {_ANN_PHASES}) * i.weight_ppm)
         // CAST(SUM(i.weight_ppm) OVER (PARTITION BY i.phase) AS BIGINT)
         AS target_tokens
FROM interp i, tot t
"""


def _drm_round_sql(i: int) -> str:
    prev = f"r{i - 1}"
    return f"""
r{i}a AS MATERIALIZED (
  SELECT source, n_docs, excess_ppm, w,
         greatest(
           100000,
           {_PPM} + ((excess_ppm - (SUM(w * excess_ppm) OVER ())
                      // (SUM(w) OVER ())) * {_DRM_ETA}) // {_PPM}
         ) AS factor
  FROM {prev}
),
r{i}b AS MATERIALIZED (
  SELECT source, n_docs, excess_ppm, (w * factor) // {_PPM} AS wn FROM r{i}a
),
r{i} AS MATERIALIZED (
  SELECT source, n_docs, excess_ppm,
         (wn * (COUNT(*) OVER ()) * {_PPM}) // (SUM(wn) OVER ()) AS w
  FROM r{i}b
)"""


_DRM_CTES = f"""base AS MATERIALIZED (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(cpw) AS BIGINT) // COUNT(*) AS excess_ppm
  FROM (
    SELECT source,
           (length(text) * {_PPM}) // len(string_split(text, ' ')) AS cpw
    FROM documents)
  GROUP BY 1
),
r0 AS MATERIALIZED (
  SELECT source, n_docs, excess_ppm, CAST({_PPM} AS BIGINT) AS w FROM base
),{",".join(_drm_round_sql(i) for i in range(1, _DRM_ROUNDS + 1))}"""

_DRM_SQL = f"""
WITH {_DRM_CTES}
SELECT source, n_docs, excess_ppm,
       CAST(w AS BIGINT) AS weight_ppm,
       w > {_PPM} AS upweighted
FROM r{_DRM_ROUNDS}
"""


_OVL_SQL = f"""
WITH g AS (
  SELECT DISTINCT source,
         w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS gram
  FROM (
    SELECT source, string_split(text, ' ') AS w,
           UNNEST(range(1, len(string_split(text, ' ')) - 1)) AS i
    FROM documents
    WHERE len(string_split(text, ' ')) >= 3)
),
sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM g GROUP BY 1),
inter AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(COUNT(*) AS BIGINT) AS inter
  FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
  GROUP BY 1, 2
)
SELECT i.src_a, i.src_b, i.inter, sa.n AS na, sb.n AS nb,
       (i.inter * {_PPM}) // (sa.n + sb.n - i.inter) AS jaccard_ppm,
       (i.inter * {_PPM}) // sa.n AS contain_a_ppm,
       (i.inter * {_PPM}) // sb.n AS contain_b_ppm
FROM inter i
JOIN sizes sa ON i.src_a = sa.source
JOIN sizes sb ON i.src_b = sb.source
"""


#: WFQ virtual-time scale and shard token budget for the reweighted
#: shard stream.  r11 (ADVICE r10): the virtual time uses the
#: overflow-safe decomposition t = (cum DIV w)·S + ((cum % w)·S) DIV w
#: ≡ (cum·S) DIV w exactly (operators/shards.py ``_wfq_t_expr`` — the
#: oracle carries the same decomposition, so both engines stay BIGINT
#: throughout); per-source token ceiling ~9.2e9 × weight_ppm.
_WFQ_SCALE = 1_000_000_000
_SHARD_BUDGET = 4000


def _rws_ts(
    spark: SparkSession, sf_dir: str, _wts: DataFrame | None = None
) -> DataFrame:
    """The horizon-cut WFQ stream (one row per surviving doc, composite
    order key ``_ordk`` attached) — every row-level step of
    ``docs_reweighted_shards`` before the two-pass global prefix sum.
    Factored out so the plan-shape pin can execute exactly the
    pre-checkpoint row stream, where the r9 single-partition window
    lived (tests/test_plan_shapes.py).

    r10 (VERDICT r9 ask #1): the global running token sum is the
    two-pass distributed prefix sum (``assign_shards``,
    operators/shards.py) over the composite order key
    ``lpad(t)||h||lpad(doc_id)`` — fixed-width decimal/hex renderings,
    so string order ≡ (t, h, doc_id) numeric order — replacing the
    single-partition ``Window.partitionBy(lit(1))`` that funneled every
    surviving doc through ONE task.  ``shard_id = (gcum-1) DIV budget``
    comes out of assign_shards bit-identically.

    r10 (ask #2): the per-source cumulative sum routes through
    ``salted_prefix_sum`` (operators/skew.py — rank within (source,
    hex-prefix salt) cells + cell-total offsets ≡ the one keyed window)
    when ``route_salted`` picks it; real LLM mixes
    put 60-80% of tokens in one crawl source, exactly the
    whole-source-in-one-task shape the keyed window plans."""
    from agf_data_ingestion_spark.operators.skew import (
        route_salted,
        salted_prefix_sum,
    )

    d = t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    wts = (
        _wts
        if _wts is not None
        else docs_domain_reweight(spark, sf_dir).select("source", "weight_ppm")
    )
    base = d.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        F.substring(
            F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))),
            1,
            16,
        ).alias("h"),
    ).join(F.broadcast(wts), "source")
    if route_salted(d):
        ts = salted_prefix_sum(
            base, ["source"], "n_tokens", "h", "doc_id", out_col="cum"
        )
    else:
        sw = (
            Window.partitionBy("source")
            .orderBy("h", "doc_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        ts = base.withColumn("cum", F.sum("n_tokens").over(sw))
    from agf_data_ingestion_spark.operators.shards import _wfq_t_expr

    ts = ts.withColumn("t", F.expr(_wfq_t_expr("cum")))
    hor = (
        ts.groupBy("source")
        .agg(F.max("t").alias("tm"))
        .agg(F.min("tm").alias("hor"))
    )
    return (
        ts.crossJoin(F.broadcast(hor))
        .filter(F.col("t") <= F.col("hor"))
        .withColumn(
            "_ordk",
            F.concat(
                F.lpad(F.col("t").cast("string"), 20, "0"),
                F.col("h"),
                # 20 digits covers any BIGINT (19 max): lpad TRUNCATES
                # overlong inputs, so the width must never be reachable
                F.lpad(F.col("doc_id").cast("string"), 20, "0"),
            ),
        )
    )


def _rws_stream(
    spark: SparkSession, sf_dir: str, _wts: DataFrame | None = None
) -> DataFrame:
    """``_rws_ts`` with ``shard_id`` assigned by the two-pass
    distributed prefix sum (operators/shards.py ``assign_shards``)."""
    from agf_data_ingestion_spark.operators.shards import assign_shards

    return assign_shards(
        _rws_ts(spark, sf_dir, _wts),
        budget_tokens=_SHARD_BUDGET,
        order_key="_ordk",
        tokens_col="n_tokens",
    )


def docs_reweighted_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLOSE THE MIXTURE LOOP (VERDICT r7 ask #5): feed the DoReMi
    ``weight_ppm`` into a deterministic weighted interleave and report
    each shard's per-domain token share against its target — the step
    that turns a reweighting decision into the byte order trainers read.

    The interleave is weighted fair queuing on exact integers: within
    each source, docs are ordered by ``md5('mix:'||doc_id)`` (a content-
    stable shuffle) and each doc finishes at virtual time
    ``t = cum_tokens x SCALE DIV weight_ppm`` — a source with twice the
    weight emits tokens twice as fast, so EVERY prefix of the t-ordered
    stream carries token shares ∝ weight_ppm (±one document of
    truncation).  The stream stops at the horizon where the first source
    exhausts (min over sources of its last doc's t) — beyond it shares
    drift by construction, exactly when a real mixture sampler would
    start a new epoch.  Shards cut the stream at ``_SHARD_BUDGET``
    cumulative tokens; the output is per (shard, source): docs, tokens,
    ``share_ppm`` (of the shard), and ``target_ppm`` (weight_ppm over
    the weight total) — every column an exact integer, full hash-match
    oracle.  The per-full-shard |share−target| tolerance is pinned in
    tests/test_shards.py.

    r10: both running sums are now exchange-safe — the global cut rides
    the two-pass distributed prefix sum and the per-source cumsum is
    skew-routed (see ``_rws_stream``); the oracle keeps the two-window
    SQL form, which the decompositions match bit-for-bit."""
    # the DRM weight table is corpus-derived (one text scan): build it
    # ONCE and share the plan between the stream and the total
    wts = docs_domain_reweight(spark, sf_dir).select("source", "weight_ppm")
    assigned = _rws_stream(spark, sf_dir, _wts=wts)
    per = assigned.groupBy("shard_id", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("tokens"),
        F.max("weight_ppm").alias("weight_ppm"),
    )
    total_w = wts.agg(F.sum("weight_ppm").cast("long").alias("total_w"))
    shard_w = Window.partitionBy("shard_id")
    return (
        per.crossJoin(F.broadcast(total_w))
        .withColumn("shard_tokens", F.sum("tokens").over(shard_w))
        .select(
            "shard_id",
            "source",
            "n_docs",
            "tokens",
            F.expr(f"(tokens * {_PPM}) DIV shard_tokens").alias("share_ppm"),
            F.expr(f"(weight_ppm * {_PPM}) DIV total_w").alias("target_ppm"),
        )
    )


_RWS_SQL = f"""
WITH {{_DRM_CTES}},
wts AS (SELECT source, CAST(w AS BIGINT) AS weight_ppm FROM r{{_DRM_ROUNDS}}),
dh AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 16) AS h
  FROM documents
),
cums AS (
  SELECT dh.doc_id, dh.source, dh.n_tokens, dh.h, w.weight_ppm,
         SUM(n_tokens) OVER (PARTITION BY dh.source ORDER BY h, doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM dh JOIN wts w ON dh.source = w.source
),
tss AS (SELECT *,
               ((cum // weight_ppm) * {{_WFQ_SCALE}})
                 + (((cum % weight_ppm) * {{_WFQ_SCALE}}) // weight_ppm) AS t
        FROM cums),
hor AS (
  SELECT MIN(tm) AS hor
  FROM (SELECT source, MAX(t) AS tm FROM tss GROUP BY 1)
),
stream AS (
  SELECT tss.*,
         SUM(n_tokens) OVER (ORDER BY t, h, doc_id
                             ROWS UNBOUNDED PRECEDING) AS gcum
  FROM tss, hor WHERE tss.t <= hor.hor
),
per AS (
  SELECT CAST((gcum - 1) // {{_SHARD_BUDGET}} AS BIGINT) AS shard_id, source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS tokens,
         MAX(weight_ppm) AS weight_ppm
  FROM stream GROUP BY 1, 2
),
tot AS (SELECT CAST(SUM(weight_ppm) AS BIGINT) AS total_w FROM wts)
SELECT shard_id, source, n_docs, tokens,
       (tokens * {{_PPM}})
         // CAST(SUM(tokens) OVER (PARTITION BY shard_id) AS BIGINT)
         AS share_ppm,
       (weight_ppm * {{_PPM}}) // total_w AS target_ppm
FROM per, tot
""".format(
    _DRM_CTES=_DRM_CTES,
    _DRM_ROUNDS=_DRM_ROUNDS,
    _WFQ_SCALE=_WFQ_SCALE,
    _SHARD_BUDGET=_SHARD_BUDGET,
    _PPM=_PPM,
)


QUERIES: dict[str, QuerySpec] = {
    "docs_domain_reweight": QuerySpec(
        docs_domain_reweight, _DRM_SQL, ("OP-X-DOREMI",)
    ),
    "docs_source_overlap": QuerySpec(
        docs_source_overlap, _OVL_SQL, ("OP-X-OVERLAP",)
    ),
    "docs_source_overlap_sketch": QuerySpec(
        docs_source_overlap_sketch,
        _OVL_SKETCH_SQL,
        ("OP-X-OVLSKETCH", "OP-X-OVERLAP", "OP-X-APPROX"),
    ),
    "docs_source_overlap_auto": QuerySpec(
        docs_source_overlap_auto,
        _OVL_AUTO_SQL,
        ("OP-X-AUTOROUTE", "OP-X-OVERLAP", "OP-X-OVLSKETCH"),
    ),
    "docs_mixture_anneal": QuerySpec(
        docs_mixture_anneal,
        _ANNEAL_SQL.format(_DRM_CTES=_DRM_CTES, _DRM_ROUNDS=_DRM_ROUNDS),
        ("OP-X-ANNEAL", "OP-X-DOREMI", "OP-X-MIX"),
    ),
    "docs_reweighted_shards": QuerySpec(
        docs_reweighted_shards,
        _RWS_SQL,
        ("OP-X-WFQ", "OP-X-DOREMI", "OP-X-SHARDS", "OP-X-MIX"),
    ),
}
