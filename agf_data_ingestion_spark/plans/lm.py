"""Corpus language-model statistics for data selection: bigram LM quality
scoring, DSIR-style importance weights, and exact duplicated-substring span
extraction.

These extend the reference's quality-filter surface (SURVEY.md §2.9
OP-X-TEXT / OP-X-SAMPLE; the reference itself filters only on
path/suffix/size — agf_ingestion_lambda.py:61-77) with the three standard
LLM-corpus selection passes:

* ``docs_bigram_lm_score`` — an in-corpus bigram language model (the
  KenLM-filter shape used by CCNet/RedPajama): how predictable is each
  document under the corpus's own bigram statistics.
* ``docs_dsir_weights`` — Data Selection via Importance Resampling
  (Xie et al. 2023): hashed n-gram bucket features, per-bucket
  target/raw probability ratios, per-document importance weight.
* ``docs_dup_span_extract`` — the span-extraction half of exact substring
  deduplication (Lee et al. 2022): merge adjacent duplicated fixed-width
  shingle positions into maximal removable word ranges.

Cross-engine determinism (plans/base.py rules): all ratios are two-stage
scaled-BIGINT floor divisions (Spark ``DIV`` ≡ DuckDB ``//``, both
truncate toward zero) — no ``ln``/``exp`` anywhere, so no float
transcendental drift; final per-doc averages are a single
BIGINT/BIGINT → DOUBLE division, the same IEEE op in both engines;
feature hashing is md5-derived (``conv(substr(md5(x),1,10),16,10)`` ≡
``('0x' || substr(md5(x),1,10))::BIGINT``), never engine ``hash()``.

Scale shapes (100 TB story):
* Token/bigram count tables are corpus-sized → every join against them is
  pinned ``hint("shuffle_hash")`` (never broadcast, CLAUDE.md invariant).
* The DSIR bucket table is bounded by the constant ``_DSIR_BUCKETS`` →
  explicitly ``F.broadcast`` (a few KiB at any corpus size).
* All explodes are map-side; shuffles carry (hash, count) partials or
  (doc_id, token) pairs, never document text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from agf_data_ingestion_spark.plans.base import QuerySpec, t

_LM_SCALE = 1_000_000  # bigram conditional-probability fixed-point scale
_DSIR_BUCKETS = 256  # hashed-feature buckets (production: 10k-100k)
_DSIR_SCALE = 1_000_000  # importance-ratio fixed-point scale
_SPAN_N = 6  # shingle width for substring-dup extraction (matches
#              training_data._SPAN_N so span_dedup ratios and these
#              extracted ranges describe the same shingle stream)


def _words(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.split("text", " ").alias("w")
    )


def _bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, w1, w2) — one row per bigram OCCURRENCE, map-only."""
    d = _words(spark, sf_dir).filter(F.size("w") >= 2)
    pair = F.explode(
        F.zip_with(
            F.slice("w", 1, F.size("w") - 1),
            F.slice("w", 2, F.size("w") - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        )
    )
    return d.select("doc_id", "lang", pair.alias("p")).select(
        "doc_id", "lang", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )


# ---------------------------------------------------------------------------
# docs_bigram_lm_score — in-corpus bigram LM predictability (OP-X-TEXT)
# ---------------------------------------------------------------------------


def docs_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every document by the average corpus bigram conditional
    probability of its own bigrams — the CCNet/RedPajama "LM filter"
    re-expressed with the corpus itself as the model.

    Per bigram type (w1, w2): ``p_micro = (SCALE·c(w1,w2)) div c(w1)``
    where c(·) are corpus occurrence counts — an exact integer, identical
    in both engines.  Per document: occurrence-weighted mean of p_micro
    (high = the doc re-treads common continuations; low = rare/garbled
    transitions).

    Scale: two (token-keyed) count shuffles build the model; the per-doc
    bigram table joins it on (w1, w2) / (w1) with pinned shuffle-hash
    joins — count tables grow with vocabulary, so they are NEVER
    broadcast.  Text never shuffles: the widest shuffled value is one
    bigram string.
    """
    # bg feeds the model counts (uni, bi) AND the per-doc table: cache so
    # the corpus is scanned/tokenized/exploded once, not three times
    bg = _bigrams(spark, sf_dir).cache()
    uni = (
        bg.groupBy(F.col("w1").alias("w"))
        .agg(F.count("*").alias("cu"))
        .withColumnRenamed("w", "w1")
    )
    bi = bg.groupBy("w1", "w2").agg(F.count("*").alias("cb"))
    per_doc = bg.groupBy("doc_id", "w1", "w2").agg(F.count("*").alias("k"))
    scored = (
        per_doc.join(bi.hint("shuffle_hash"), ["w1", "w2"])
        .join(uni.hint("shuffle_hash"), "w1")
        .withColumn("p_micro", F.expr(f"({_LM_SCALE} * cb) div cu"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("k").alias("n_bigrams"),
            F.sum(F.col("k") * F.col("p_micro")).alias("s"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            (F.col("s").cast("double") / F.col("n_bigrams")).alias("lm_score_micro"),
        )
    )


_LM_SQL = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE len(string_split(text, ' ')) >= 2
),
bg AS (
  SELECT doc_id, w[i] AS w1, w[i+1] AS w2
  FROM w, unnest(range(1, len(w))) AS t(i)
),
uni AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS cu FROM bg GROUP BY w1),
bi AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cb FROM bg GROUP BY w1, w2),
per_doc AS (
  SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS k FROM bg GROUP BY doc_id, w1, w2
)
SELECT doc_id,
       CAST(SUM(k) AS BIGINT) AS n_bigrams,
       CAST(CAST(SUM(k * (({_LM_SCALE} * cb) // cu)) AS BIGINT) AS DOUBLE)
         / CAST(SUM(k) AS BIGINT) AS lm_score_micro
FROM per_doc JOIN bi USING (w1, w2) JOIN uni USING (w1)
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# docs_dsir_weights — hashed-ngram importance resampling weights
# (OP-X-SAMPLE + OP-X-TEXT)
# ---------------------------------------------------------------------------


def docs_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weight per document: hashed bigram features, with
    the English subset (``lang = 'en'``) as the target distribution and
    the full corpus as the raw distribution (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling").

    Per bucket b (of ``_DSIR_BUCKETS``, add-one smoothed):
    ``ratio ≈ p_target(b) / p_raw(b)`` computed as TWO chained scaled
    floor divisions — ``r1 = (SCALE·ct) div cr`` then
    ``w_micro = (r1·Nr) div Nt`` — each intermediate bounded well inside
    BIGINT at any realistic corpus size (ct ≤ Nt keeps r1 ≤ SCALE·corpus;
    never one fused product, which would overflow BIGINT in Spark while
    DuckDB silently promotes to HUGEINT).  Per document: the
    occurrence-weighted mean of its buckets' w_micro; resampling keeps
    docs with weight above a caller-chosen quantile.

    Scale: the bucket table is ≤ ``_DSIR_BUCKETS`` rows at ANY corpus
    size → explicitly broadcast; the per-doc feature table shuffles
    (doc_id, bucket, count) only.
    """
    # narrow (doc_id, lang, bucket) rows consumed by the bucket model AND
    # the per-doc table: cache so the corpus is tokenized+hashed once
    feats = _bigrams(spark, sf_dir).select(
        "doc_id",
        "lang",
        (
            F.conv(
                F.substring(F.md5(F.concat_ws(" ", "w1", "w2")), 1, 10), 16, 10
            ).cast("long")
            % _DSIR_BUCKETS
        ).alias("b"),
    ).cache()
    buckets = feats.groupBy("b").agg(
        (F.count("*") + F.lit(1)).alias("cr"),
        (F.count_if(F.col("lang") == "en") + F.lit(1)).alias("ct"),
    )
    # grand totals with the same add-one smoothing mass (+BUCKETS each)
    totals = buckets.agg(
        F.sum("cr").alias("nr"), F.sum("ct").alias("nt")
    )
    weighted = buckets.crossJoin(F.broadcast(totals)).withColumn(
        "w_micro",
        F.expr(f"((({_DSIR_SCALE} * ct) div cr) * nr) div nt"),
    )
    per_doc = feats.groupBy("doc_id", "b").agg(F.count("*").alias("k"))
    return (
        per_doc.join(F.broadcast(weighted.select("b", "w_micro")), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("k").alias("n_feats"),
            F.sum(F.col("k") * F.col("w_micro")).alias("s"),
        )
        .select(
            "doc_id",
            "n_feats",
            (F.col("s").cast("double") / F.col("n_feats")).alias("dsir_weight_micro"),
        )
    )


_DSIR_SQL = f"""
WITH w AS (
  SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
  WHERE len(string_split(text, ' ')) >= 2
),
feats AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5(w[i] || ' ' || w[i+1]), 1, 10))::BIGINT
           % {_DSIR_BUCKETS} AS b
  FROM w, unnest(range(1, len(w))) AS t(i)
),
buckets AS (
  SELECT b,
         CAST(COUNT(*) + 1 AS BIGINT) AS cr,
         CAST(COUNT(*) FILTER (WHERE lang = 'en') + 1 AS BIGINT) AS ct
  FROM feats GROUP BY b
),
totals AS (
  SELECT CAST(SUM(cr) AS BIGINT) AS nr, CAST(SUM(ct) AS BIGINT) AS nt
  FROM buckets
),
weighted AS (
  SELECT b, ((({_DSIR_SCALE} * ct) // cr) * nr) // nt AS w_micro
  FROM buckets CROSS JOIN totals
),
per_doc AS (
  SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS k FROM feats GROUP BY doc_id, b
)
SELECT doc_id,
       CAST(SUM(k) AS BIGINT) AS n_feats,
       CAST(CAST(SUM(k * w_micro) AS BIGINT) AS DOUBLE) / CAST(SUM(k) AS BIGINT)
         AS dsir_weight_micro
FROM per_doc JOIN weighted USING (b)
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# docs_dup_span_extract — maximal duplicated-substring ranges
# (OP-X-DEDUP-EXACT + OP-X-TEXT)
# ---------------------------------------------------------------------------


def docs_dup_span_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The removable ranges of exact substring deduplication (Lee et al.
    2022): every ``_SPAN_N``-word shingle present in ≥ 2 distinct
    documents marks its start position duplicated; duplicated positions
    whose spans overlap or touch (start gap ≤ ``_SPAN_N``) merge into
    one maximal span per document, emitted as inclusive word ranges —
    output spans are pairwise disjoint with ≥ 1 word between them, so a
    substring-remove consumer can apply them independently.

    Complements ``docs_span_dedup`` (which reports only per-doc dup
    *ratios*): this is the operator a scrubber actually consumes —
    ``substring-remove(doc, span_start..span_end)``.

    Scale: identical shuffle profile to ``docs_span_dedup`` (shingle
    hashes, never text, through two shuffles + one shuffle-hash join),
    plus one window partitioned by doc_id over only the *duplicated*
    positions (a small fraction of the corpus; partition = one doc's
    dup positions, bounded by doc length).
    """
    d = _words(spark, sf_dir).filter(F.size("w") >= _SPAN_N)
    idx = F.sequence(F.lit(1), F.size("w") - (_SPAN_N - 1))
    # r12: explode the index sequence FIRST and hash per row in codegen
    # (the posexplode(transform(...)) form ran every md5 interpreted —
    # see docs_winnowing; position p0+1 ≡ the exploded index value)
    pos = d.select("doc_id", "w", F.explode(idx).alias("i")).select(
        "doc_id",
        "i",
        F.substring(
            F.md5(F.expr(f"array_join(slice(w, i, {_SPAN_N}), ' ')")), 1, 16
        ).alias("sh"),
    )
    dup_sh = (
        pos.select("doc_id", "sh")
        .distinct()
        .groupBy("sh")
        .agg(F.count("*").alias("ndocs"))
        .filter(F.col("ndocs") >= 2)
        .select("sh")
    )
    dup_pos = pos.join(dup_sh.hint("shuffle_hash"), "sh").select("doc_id", "i")
    # islands merge positions whose N-word spans OVERLAP OR TOUCH (gap in
    # start positions ≤ N), not just strictly consecutive starts — two
    # duplicated starts 2 apart would otherwise emit overlapping ranges,
    # which a substring-remove consumer would double-apply.  Break = gap
    # > N; group id = running count of breaks.
    win = Window.partitionBy("doc_id").orderBy("i")
    islands = dup_pos.withColumn(
        "brk",
        F.when(
            F.col("i") - F.lag("i").over(win) > _SPAN_N, F.lit(1)
        ).otherwise(F.lit(0)),
    ).withColumn(
        "grp",
        F.sum("brk").over(
            win.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        islands.groupBy("doc_id", "grp")
        .agg(
            F.min("i").alias("span_start"),
            (F.max("i") + F.lit(_SPAN_N - 1)).alias("span_end"),
            F.count("*").alias("n_dup_shingles"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_words"),
            "n_dup_shingles",
        )
    )


_SPAN_EXTRACT_SQL = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE len(string_split(text, ' ')) >= {_SPAN_N}
),
pos AS (
  SELECT doc_id, i,
         substr(md5(array_to_string(w[i:i+{_SPAN_N - 1}], ' ')), 1, 16) AS sh
  FROM w, unnest(range(1, len(w) - {_SPAN_N - 2})) AS t(i)
),
dup_sh AS (
  SELECT sh FROM (SELECT DISTINCT doc_id, sh FROM pos)
  GROUP BY sh HAVING COUNT(*) >= 2
),
dup_pos AS (SELECT doc_id, i FROM pos JOIN dup_sh USING (sh)),
flagged AS (
  SELECT doc_id, i,
         CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i)
                   > {_SPAN_N} THEN 1 ELSE 0 END AS brk
  FROM dup_pos
),
islands AS (
  SELECT doc_id, i,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY i
                        ROWS UNBOUNDED PRECEDING) AS grp
  FROM flagged
)
SELECT doc_id,
       CAST(MIN(i) AS BIGINT) AS span_start,
       CAST(MAX(i) + {_SPAN_N - 1} AS BIGINT) AS span_end,
       CAST(MAX(i) + {_SPAN_N - 1} - MIN(i) + 1 AS BIGINT) AS span_words,
       CAST(COUNT(*) AS BIGINT) AS n_dup_shingles
FROM islands
GROUP BY doc_id, grp
"""


# ---------------------------------------------------------------------------
# docs_winnowing — MOSS winnowing fingerprints (OP-X-WINNOW)
# ---------------------------------------------------------------------------

_WIN_K = 3  # words per k-gram
_WIN_W = 4  # winnowing window (guarantee: any match ≥ w+k-1 grams shares a
#             fingerprint; density ~ 2/(w+1))


def docs_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken 2003 —
    the MOSS algorithm): hash every ``_WIN_K``-word gram, slide a
    ``_WIN_W``-gram window, keep each window's minimum hash (rightmost on
    ties), emit the distinct (position, hash) selections.  The guarantee:
    two documents sharing any run of ≥ ``_WIN_W + _WIN_K - 1`` words share
    at least one fingerprint — robust partial-overlap detection at ~2/(w+1)
    the k-gram volume.

    The per-window argmin-with-rightmost-tie is ONE window expression:
    ``min(struct(h, -pos))`` over a leading row frame — struct ordering is
    lexicographic in both engines, so (min h, then max pos) needs no
    self-join.  Scale: map-side explode, one doc-partitioned window (frame
    bounded by w), one distinct shuffle carrying (doc_id, pos, hash) longs
    — text never shuffles; the fingerprint table is the dedup-join input,
    ~2/(w+1) of the shingle table's size."""
    d = _words(spark, sf_dir).filter(F.size("w") >= _WIN_K)
    idx = F.sequence(F.lit(1), F.size("w") - (_WIN_K - 1))
    # r12: explode the index sequence FIRST and hash per row in codegen
    # (the posexplode(transform(...)) form ran every md5 interpreted —
    # the CLAUDE.md higher-order-fold rule; position p0+1 ≡ the exploded
    # index value for sequence(1, n))
    grams = d.select(
        "doc_id",
        (F.size("w") - (_WIN_K - 1)).cast("long").alias("n_grams"),
        "w",
        F.explode(idx).alias("_gi"),
    ).select(
        "doc_id",
        "n_grams",
        F.col("_gi").cast("long").alias("i"),
        F.conv(
            F.substring(
                F.md5(F.expr(f"array_join(slice(w, _gi, {_WIN_K}), ' ')")),
                1,
                12,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
    )
    win = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.currentRow, _WIN_W - 1)
    )
    sel = grams.withColumn(
        "s", F.min(F.struct(F.col("h"), (-F.col("i")).alias("np"))).over(win)
    )
    return (
        sel.filter(F.col("i") <= F.col("n_grams") - (_WIN_W - 1))
        .select(
            "doc_id",
            (-F.col("s.np")).alias("fp_pos"),
            F.col("s.h").alias("fp_hash"),
        )
        .distinct()
    )


_WINNOW_SQL = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE len(string_split(text, ' ')) >= {_WIN_K}
),
grams AS (
  SELECT doc_id,
         CAST(len(w) - {_WIN_K - 1} AS BIGINT) AS n_grams,
         CAST(i AS BIGINT) AS i,
         ('0x' || substr(md5(array_to_string(w[i:i+{_WIN_K - 1}], ' ')), 1, 12))::BIGINT AS h
  FROM w, unnest(range(1, len(w) - {_WIN_K - 2})) AS t(i)
),
sel AS (
  SELECT doc_id, n_grams, i,
         min({{'h': h, 'np': -i}}) OVER (
           PARTITION BY doc_id ORDER BY i
           ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING) AS s
  FROM grams
)
SELECT DISTINCT doc_id, -s.np AS fp_pos, s.h AS fp_hash
FROM sel WHERE i <= n_grams - {_WIN_W - 1}
"""


# ---------------------------------------------------------------------------
# docs_lm_buckets — CCNet head/middle/tail partition (OP-X-LMBUCKET)
# ---------------------------------------------------------------------------


def docs_lm_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's language-model partition (Wenzek et al. 2020): within each
    language, rank documents by LM score and cut into equal thirds —
    ``head`` (most fluent under the corpus model), ``middle``, ``tail``.
    Downstream pipelines train on head+middle or reweight by bucket.

    ``ntile(3)`` over (score DESC, doc_id) — the unique tiebreaker makes
    the cut deterministic, and both engines assign remainder rows to the
    earlier buckets.  Scale: the LM model build dominates (see
    ``docs_bigram_lm_score``); the bucket pass is SKEW-ROUTED
    (operators/skew.py ``route_salted``): `lang` has 5 values (en ≈
    40%), so at scale the cut runs through the DOUBLE-key salted rank
    (the LM score is a BIGINT/BIGINT→DOUBLE ratio; salted_rank_dblkey
    buckets the binary64 value monotonically) with ntile replayed as
    integer math (ntile_expr).  (score DESC, doc_id ASC) ranks come
    from the REVERSE order (score ASC, doc_id DESC) as n - rw + 1."""
    from agf_data_ingestion_spark.operators.skew import (
        ntile_expr,
        route_salted,
        salted_rank_dblkey,
    )

    scored = docs_bigram_lm_score(spark, sf_dir)
    docs = t(spark, sf_dir, "documents")
    langs = docs.select("doc_id", "lang")
    joined = scored.join(langs, "doc_id")
    if route_salted(docs):
        # narrow (doc_id, lang, score) frame over the EXPENSIVE LM-score
        # build — cache before the decomposition's three consumers
        joined = joined.cache()
        dec = salted_rank_dblkey(
            joined.withColumn("_nid", -F.col("doc_id")),
            ["lang"],
            "lm_score_micro",
            "_nid",
            out_rank="rw",
        )
        tiled = dec.withColumn(
            "tile",
            ntile_expr("(n_part - rw + 1)", "n_part", 3),
        )
    else:
        win = Window.partitionBy("lang").orderBy(
            F.desc("lm_score_micro"), F.asc("doc_id")
        )
        tiled = joined.withColumn("tile", F.ntile(3).over(win))
    return tiled.select(
        "doc_id",
        "lang",
        "lm_score_micro",
        F.when(F.col("tile") == 1, "head")
        .when(F.col("tile") == 2, "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


_LM_BUCKETS_SQL = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE len(string_split(text, ' ')) >= 2
),
bg AS (
  SELECT doc_id, w[i] AS w1, w[i+1] AS w2
  FROM w, unnest(range(1, len(w))) AS t(i)
),
uni AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS cu FROM bg GROUP BY w1),
bi AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cb FROM bg GROUP BY w1, w2),
per_doc AS (
  SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS k FROM bg GROUP BY doc_id, w1, w2
),
scored AS (
  SELECT doc_id,
         CAST(CAST(SUM(k * (({_LM_SCALE} * cb) // cu)) AS BIGINT) AS DOUBLE)
           / CAST(SUM(k) AS BIGINT) AS lm_score_micro
  FROM per_doc JOIN bi USING (w1, w2) JOIN uni USING (w1)
  GROUP BY doc_id
)
SELECT doc_id, lang, lm_score_micro,
       CASE ntile(3) OVER (PARTITION BY lang
                           ORDER BY lm_score_micro DESC, doc_id ASC)
            WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
FROM scored JOIN documents USING (doc_id)
"""


# ---------------------------------------------------------------------------
# docs_hybrid_rrf — hybrid retrieval via reciprocal rank fusion
# (OP-X-HYBRID): the modern search stack's fusion step — a lexical ranker
# (BM25) and a semantic ranker (embedding cosine) merged by RRF
# (Cormack et al. 2009), with the fusion arithmetic exact-integer.
# ---------------------------------------------------------------------------

_RRF_K = 60  # standard RRF smoothing constant
_RRF_DEPTH = 20  # semantic ranker depth feeding the fusion
_RRF_TOPK = 10
_RRF_SCALE = 1_000_000


def docs_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``_RRF_TOPK`` documents fusing BM25 (``docs_bm25_search``'s
    query and scoring) with embedding cosine against query vector 0
    (``vec_id`` aligns 1:1 with ``doc_id`` in this corpus):
    ``rrf = Σ_rankers SCALE div (K + rank)`` — integer floor division,
    identical in both engines; a doc absent from a ranker contributes 0.

    Scale: each ranker keeps its own scale shape (BM25: term-filtered
    explode + broadcast stats + one doc-keyed shuffle; cosine: broadcast
    single query, map-only corpus scan, WindowGroupLimit truncating to
    ``_RRF_DEPTH`` per map task before one tiny reduce).  The fusion
    itself joins two ≤depth-row rank lists — metadata-sized at any corpus
    size."""
    from agf_data_ingestion_spark.plans.similarity import _dot
    from agf_data_ingestion_spark.plans.text import docs_bm25_search

    bm = docs_bm25_search(spark, sf_dir)
    w_bm = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    bmr = bm.select("doc_id", F.row_number().over(w_bm).cast("long").alias("bm25_rank"))

    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("emb_q"))
    cos = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            (
                _dot(F.col("emb_q"), F.col("embedding"))
                / (
                    F.sqrt(_dot(F.col("emb_q"), F.col("emb_q")))
                    * F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
                )
            ).alias("cosine"),
        )
    )
    w_cos = Window.orderBy(F.desc("cosine"), F.asc("doc_id"))
    csr = (
        cos.withColumn("cos_rank", F.row_number().over(w_cos).cast("long"))
        .filter(F.col("cos_rank") <= _RRF_DEPTH)
        .select("doc_id", "cos_rank")
    )
    contrib = lambda r: F.coalesce(  # noqa: E731
        F.expr(f"{_RRF_SCALE} div ({_RRF_K} + {r})"), F.lit(0).cast("long")
    )
    fused = bmr.join(csr, "doc_id", "full_outer").select(
        "doc_id",
        "bm25_rank",
        "cos_rank",
        (contrib("bm25_rank") + contrib("cos_rank")).alias("rrf_score"),
    )
    return fused.orderBy(F.desc("rrf_score"), F.asc("doc_id")).limit(_RRF_TOPK)


def _rrf_sql() -> str:
    from agf_data_ingestion_spark.plans.similarity import _o_dot
    from agf_data_ingestion_spark.plans.text import _BM25_SQL

    return f"""
WITH bm AS ({_BM25_SQL}),
bmr AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT)
           AS bm25_rank
  FROM bm
),
cos AS (
  SELECT c.vec_id AS doc_id,
         {_o_dot('q.embedding', 'c.embedding')}
           / (sqrt({_o_dot('q.embedding', 'q.embedding')})
              * sqrt({_o_dot('c.embedding', 'c.embedding')})) AS cosine
  FROM embeddings c, embeddings q
  WHERE q.vec_id = 0 AND c.vec_id != 0
),
csr AS (
  SELECT doc_id, cos_rank FROM (
    SELECT doc_id, CAST(row_number() OVER (ORDER BY cosine DESC, doc_id ASC) AS BIGINT)
             AS cos_rank
    FROM cos
  ) WHERE cos_rank <= {_RRF_DEPTH}
),
fused AS (
  SELECT doc_id, bm25_rank, cos_rank,
         COALESCE({_RRF_SCALE} // ({_RRF_K} + bm25_rank), 0)
           + COALESCE({_RRF_SCALE} // ({_RRF_K} + cos_rank), 0) AS rrf_score
  FROM bmr FULL OUTER JOIN csr USING (doc_id)
)
SELECT doc_id, bm25_rank, cos_rank, CAST(rrf_score AS BIGINT) AS rrf_score
FROM fused ORDER BY rrf_score DESC, doc_id ASC LIMIT {_RRF_TOPK}
"""


# ---------------------------------------------------------------------------
# docs_bpe_train — iterative BPE tokenizer training (OP-X-BPETRAIN)
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 6
_EOW = "</w>"  # classic end-of-word marker symbol (Sennrich BPE)


def docs_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train ``_BPE_ROUNDS`` BPE merges over the corpus — the full
    iterative tokenizer-training loop (docs_bpe_pairs is one round of the
    pair-count step; this runs count → argmax → greedy merge → repeat).

    Returns one row per round: (round, x, y, merged, pair_count) — the
    merge table a tokenizer ships.

    Exact-integer + deterministic, so bit-identical to the DuckDB oracle
    (the same rounds unrolled as MATERIALIZED CTEs, plans/iterative.py
    pattern): pair counts are integer sums of word frequencies
    (order-free), the argmax is ``min(struct(-count, x, y))`` — the
    engine-identical struct-min argmin with SMALLEST-pair tiebreak — and
    the greedy left-to-right merge is a parity rule, not a fold.

    Scale shape (the Sennrich formulation): the CORPUS is touched once —
    the word-frequency aggregation — and every round runs over the symbol
    table of the DISTINCT-word vocabulary weighted by those counts
    (vocab-sized, corpus-size-independent).  Each round is ONE exchange:
    every window (lead, running candidate count, island-start carry, lag)
    shares the same (word, order i) sort, because greedy merge eligibility
    is computed with RUNNING frames instead of re-partitioning —
    ``crn`` = running count of candidate positions, ``scar`` = the
    candidate count at the current island's first row carried forward with
    ``last(..., ignorenulls)`` (verified engine-identical), and a
    candidate is a merge START iff ``(crn - scar)`` is even (greedy
    left-to-right consumes overlapping candidates in pairs; overlap only
    occurs for x == y runs).  The dropped row is the one following a
    start (``lag(is_start)``).  The pair-count argmax reduces to ONE row;
    driver state is one merge pair per round.
    """
    _, merges = _bpe_fit(spark, sf_dir)
    return spark.createDataFrame(
        merges, "round int, x string, y string, merged string, pair_count bigint"
    )


def _bpe_fit(spark: SparkSession, sf_dir: str):
    """The shared training loop: returns (final per-word symbol rows,
    merge list) — ``docs_bpe_train`` ships the merges, ``docs_bpe_tokens``
    tokenizes with the trained vocabulary state.

    r13 (VERDICT r12 ask #6 — the per-round driver floor): each round's
    merge output is a LAZY localCheckpoint (``eager=False``).  Round r's
    argmax collect is then the action that materializes round r−1's
    merge — one Spark job per round instead of two (the old eager
    checkpoint was a second blocking job that re-ran the same (word, i)
    window sort the argmax had just paid for).  Lineage is still
    truncated at every round (the checkpoint happens at first touch), so
    the fixed-round chain keeps bounded plans; and because
    ``docs_bpe_train`` never consumes the FINAL round's rows, the last
    merge pass is never executed there at all (``docs_bpe_tokens``'s
    vocab aggregation materializes it instead).  Merge results are
    bit-identical: the dataflow per round is unchanged, only the
    materialization points moved."""
    d = t(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    # symbol rows (word, cnt, i, sym): chars 1..len plus the EOW marker
    rows = (
        words.select(
            "word",
            "cnt",
            F.explode(F.sequence(F.lit(1), F.length("word") + 1)).alias("i"),
        )
        .select(
            "word",
            "cnt",
            "i",
            F.when(
                F.col("i") <= F.length("word"), F.expr("substring(word, i, 1)")
            )
            .otherwise(F.lit(_EOW))
            .alias("sym"),
        )
        .repartition("word")
        # r13: lazy for the same reason as the per-round checkpoints —
        # round 1's argmax materializes it; blocks pin the (word) hash
        # placement for every later round exactly like the eager form
        .localCheckpoint(eager=False)
    )
    wd = Window.partitionBy("word").orderBy("i")
    run = wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    merges = []
    for r in range(1, _BPE_ROUNDS + 1):
        withnext = rows.withColumn("nxt", F.lead("sym").over(wd))
        best = (
            withnext.filter(F.col("nxt").isNotNull())
            .groupBy("sym", "nxt")
            .agg(F.sum("cnt").alias("s"))
            .agg(
                F.min(
                    F.struct(
                        (-F.col("s")).alias("negs"),
                        F.col("sym").alias("x"),
                        F.col("nxt").alias("y"),
                    )
                ).alias("b")
            )
            .select("b.x", "b.y", (-F.col("b.negs")).alias("pair_count"))
            .collect()[0]
        )
        x, y = best["x"], best["y"]
        assert x is not None, "BPE round found no pairs (corpus too small)"
        merges.append((r, x, y, x + y, int(best["pair_count"])))
        cand = F.coalesce(
            (F.col("sym") == F.lit(x)) & (F.col("nxt") == F.lit(y)), F.lit(False)
        )
        stepped = (
            withnext.withColumn("cand", cand)
            .withColumn(
                "islstart",
                F.col("cand") & ~F.coalesce(F.lag("cand").over(wd), F.lit(False)),
            )
            .withColumn(
                "crn",
                F.sum(F.when(F.col("cand"), 1).otherwise(0)).over(run),
            )
            .withColumn(
                "scar",
                F.last(
                    F.when(F.col("islstart"), F.col("crn")), ignorenulls=True
                ).over(run),
            )
            .withColumn(
                "is_start",
                F.col("cand") & ((F.col("crn") - F.col("scar")) % 2 == 0),
            )
            .withColumn(
                "drop_row",
                F.coalesce(F.lag("is_start").over(wd), F.lit(False)),
            )
        )
        rows = (
            stepped.filter(~F.col("drop_row"))
            .select(
                "word",
                "cnt",
                "i",
                F.when(F.col("is_start"), F.concat("sym", "nxt"))
                .otherwise(F.col("sym"))
                .alias("sym"),
            )
            .localCheckpoint(eager=False)
        )
    return rows, merges


def docs_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus with the trained tokenizer: per-document word
    and BPE-token counts under the ``_BPE_ROUNDS`` learned merges — the
    apply half of OP-X-BPETRAIN (what a data pipeline runs to budget
    sequence packing / pricing before real tokenization).

    A word's token count is the number of symbols remaining in the final
    training state, so tokenization is a VOCAB-sized aggregation + one
    (word → count) join against the corpus words — the corpus is never
    re-segmented (the trained state IS its segmentation).  The count
    table grows with vocabulary, so the join is shuffle-hash pinned,
    never broadcast."""
    rows, _ = _bpe_fit(spark, sf_dir)
    word_tok = rows.groupBy("word").agg(F.count("*").alias("n_sym"))
    dw = (
        t(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
    )
    return (
        dw.join(word_tok.hint("shuffle_hash"), "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_sym").alias("n_bpe_tokens"),
        )
        .select("doc_id", "n_words", "n_bpe_tokens")
    )


def _bpe_train_sql() -> str:
    unions = "\nUNION ALL\n".join(
        f"SELECT {r} AS round, x, y, x || y AS merged, pair_count FROM best{r}"
        for r in range(1, _BPE_ROUNDS + 1)
    )
    return (
        "WITH "
        + ",\n".join(_bpe_ctes())
        + f"\nSELECT CAST(round AS INT) AS round, x, y, merged,"
        f" CAST(pair_count AS BIGINT) AS pair_count FROM ({unions})"
    )


def _bpe_tokens_sql() -> str:
    return (
        "WITH "
        + ",\n".join(_bpe_ctes())
        + f""",
wt AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n_sym
       FROM v{_BPE_ROUNDS} GROUP BY word),
dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(n_sym) AS BIGINT) AS n_bpe_tokens
FROM (SELECT doc_id, word FROM dw WHERE word <> '') j JOIN wt USING (word)
GROUP BY doc_id"""
    )


def _bpe_ctes() -> list[str]:
    """The ``_BPE_ROUNDS`` training rounds unrolled as chained MATERIALIZED
    CTEs (DuckDB re-inlines un-materialized chains — plans/iterative.py).
    Every construct is from the verified engine-identical set: struct-MIN
    argmin, running-frame SUM, ``last_value IGNORE NULLS``, lead/lag,
    BIGINT-cast sums."""
    ctes = [
        """words AS MATERIALIZED (
  SELECT word, COUNT(*) AS cnt FROM (
    SELECT unnest(string_split(text, ' ')) AS word FROM documents
  ) WHERE word <> '' GROUP BY word
)""",
        f"""v0 AS MATERIALIZED (
  SELECT word, cnt, i,
         CASE WHEN i <= length(word) THEN substr(word, i, 1)
              ELSE '{_EOW}' END AS sym
  FROM words, UNNEST(range(1, length(word) + 2)) AS u(i)
)""",
    ]
    for r in range(1, _BPE_ROUNDS + 1):
        ctes.append(
            f"""p{r} AS (
  SELECT word, cnt, i, sym,
         lead(sym) OVER (PARTITION BY word ORDER BY i) AS nxt
  FROM v{r - 1}
)"""
        )
        ctes.append(
            f"""best{r} AS MATERIALIZED (
  SELECT (MIN({{'negs': -s, 'x': x, 'y': y}})).x AS x,
         (MIN({{'negs': -s, 'x': x, 'y': y}})).y AS y,
         -((MIN({{'negs': -s, 'x': x, 'y': y}})).negs) AS pair_count
  FROM (
    SELECT sym AS x, nxt AS y, CAST(SUM(cnt) AS BIGINT) AS s
    FROM p{r} WHERE nxt IS NOT NULL GROUP BY sym, nxt
  )
)"""
        )
        ctes.append(
            f"""s{r} AS (
  SELECT *,
    COALESCE(sym = (SELECT x FROM best{r})
             AND nxt = (SELECT y FROM best{r}), FALSE) AS cand
  FROM p{r}
)"""
        )
        ctes.append(
            f"""t{r} AS (
  SELECT *,
    cand AND NOT COALESCE(lag(cand) OVER (PARTITION BY word ORDER BY i), FALSE) AS islstart,
    SUM(CASE WHEN cand THEN 1 ELSE 0 END) OVER
      (PARTITION BY word ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS crn
  FROM s{r}
)"""
        )
        ctes.append(
            f"""u{r} AS (
  SELECT *,
    last_value(CASE WHEN islstart THEN crn END IGNORE NULLS) OVER
      (PARTITION BY word ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS scar
  FROM t{r}
)"""
        )
        ctes.append(
            f"""w{r} AS (
  SELECT *, cand AND ((crn - scar) % 2 = 0) AS is_start
  FROM u{r}
)"""
        )
        ctes.append(
            f"""x{r} AS (
  SELECT *,
    COALESCE(lag(is_start) OVER (PARTITION BY word ORDER BY i), FALSE) AS drop_row
  FROM w{r}
)"""
        )
        ctes.append(
            f"""v{r} AS MATERIALIZED (
  SELECT word, cnt, i,
         CASE WHEN is_start THEN sym || nxt ELSE sym END AS sym
  FROM x{r} WHERE NOT drop_row
)"""
        )
    return ctes


# ---------------------------------------------------------------------------
# Competence-based curriculum (OP-X-CURRICULUM)
# ---------------------------------------------------------------------------

#: curriculum schedule length (training steps the competence ramps over)
_CURR_STEPS = 1000


def docs_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Competence-based curriculum (Platanios et al. NAACL'19): each doc
    gets a DIFFICULTY (mean inverse corpus frequency of its words — rare
    words are hard; rarity instead of the paper's log-likelihood because
    ln() is not IEEE-exact cross-engine, and inverse frequency is exact
    integer ppm arithmetic), a per-source difficulty percentile (the
    verified BIGINT/BIGINT percent_rank construct, unique doc_id
    tiebreak), and ``first_step`` — the first training step whose
    competence admits the doc under the sqrt schedule c(t) = √(t/T):
    c(t) ≥ p  ⇔  t ≥ T·p², so first_step = ⌈T·p_ppm²/10¹²⌉ in CLOSED FORM
    — all-integer, no sqrt evaluated (the schedule is inverted instead,
    so the oracle is engine-exact; binary64 sqrt IS correctly rounded,
    but the integer form needs no float at all).

    Scale shape: ONE word explode; the vocab frequency table comes from
    a map-combined groupBy(word) and joins back on the exploded words
    with shuffle_hash pinned on BOTH sides (vocab is corpus-derived —
    never broadcast, the corpus-broadcast ban); per-doc reduce is
    map-combined; the per-source percentile is SKEW-ROUTED (r10;
    operators/skew.py ``route_salted`` — real LLM mixes put 60-80% of
    tokens in ONE crawl source): below the rule's size it is one keyed
    percent_rank window; above, the salted-rank decomposition
    (operators/skew.py ``salted_rank_intkey`` — rank within (source,
    difficulty-range salt) cells + cell-count offsets, value-monotone
    bucketing so (salt, difficulty, doc_id) order ≡ (difficulty,
    doc_id) order) with ``(dr-1)/(n-1)`` computed through the SAME
    binary64 division percent_rank uses, so both branches are
    bit-identical and the oracle keeps the single-window form."""
    docs = t(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("word")
    )
    freq = d.groupBy("word").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("wc")
    )
    tot = freq.agg(F.expr("CAST(SUM(wc) AS BIGINT)").alias("n_tot"))
    # per-word rarity = n_tot div wc, SATURATED at 1e9 (words rarer than
    # 1-in-1e9 are all "maximally hard") — the saturation is what keeps
    # the per-doc SUM inside BIGINT at ANY corpus size: an unscaled
    # 1e6·n_tot/wc term overflows int64 for a hapax word once the corpus
    # passes ~9e12 tokens, and ANSI mode kills the whole query (the
    # length()-ppm overflow class from CLAUDE.md)
    per_doc = (
        d.join(freq.hint("shuffle_hash"), "word")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id", "source")
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_tokens"),
            F.expr(
                "CAST(SUM(LEAST(n_tot div wc, 1000000000)) AS BIGINT)"
            ).alias("inv_sum"),
        )
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.expr("inv_sum div n_tokens").alias("difficulty"),
        )
    )
    from agf_data_ingestion_spark.operators.skew import (
        route_salted,
        salted_rank_intkey,
    )

    if route_salted(docs):
        # per_doc is a NARROW 1-row-per-doc frame consumed by
        # salted_rank_intkey's min/max aggregate AND both decomposition
        # branches — cache it (the r4 multiply-consumed-narrow-frame rule)
        ranked = salted_rank_intkey(
            per_doc.cache(), ["source"], "difficulty", "doc_id"
        )
        scored = ranked.select(
            "doc_id",
            "source",
            "n_tokens",
            "difficulty",
            # the EXACT binary64 arithmetic percent_rank evaluates:
            # (rank-1)/(n-1) as double (0 when n=1), then *1e6, floor —
            # correctly-rounded IEEE ops, identical in both engines
            F.expr(
                "CASE WHEN n_part <= 1 THEN CAST(0 AS BIGINT)"
                " ELSE CAST(floor((CAST(dr - 1 AS DOUBLE)"
                " / CAST(n_part - 1 AS DOUBLE))"
                " * CAST(1000000 AS DOUBLE)) AS BIGINT) END"
            ).alias("p_ppm"),
        )
    else:
        scored = per_doc.select(
            "doc_id",
            "source",
            "n_tokens",
            "difficulty",
            F.expr(
                "CAST(floor(percent_rank() OVER (PARTITION BY source"
                " ORDER BY difficulty, doc_id)"
                " * CAST(1000000 AS DOUBLE)) AS BIGINT)"
            ).alias("p_ppm"),
        )
    return scored.select(
        "doc_id",
        "source",
        "n_tokens",
        "difficulty",
        "p_ppm",
        F.expr(
            f"GREATEST((p_ppm * p_ppm * {_CURR_STEPS} + 999999999999)"
            f" div 1000000000000, 1)"
        ).alias("first_step"),
    )


_CURRICULUM_SQL = f"""
WITH d AS (
  SELECT doc_id, source, unnest(string_split(text, ' ')) AS word
  FROM documents
),
freq AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS wc FROM d GROUP BY 1
),
tot AS (SELECT CAST(SUM(wc) AS BIGINT) AS n_tot FROM freq),
per_doc AS (
  SELECT doc_id, source,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(LEAST(n_tot // wc, 1000000000)) AS BIGINT) AS inv_sum
  FROM d JOIN freq USING (word) CROSS JOIN tot
  GROUP BY 1, 2
),
scored AS (
  SELECT doc_id, source, n_tokens,
         inv_sum // n_tokens AS difficulty
  FROM per_doc
),
ranked AS (
  SELECT doc_id, source, n_tokens, difficulty,
         CAST(floor(percent_rank() OVER (PARTITION BY source
                ORDER BY difficulty, doc_id)
              * CAST(1000000 AS DOUBLE)) AS BIGINT) AS p_ppm
  FROM scored
)
SELECT doc_id, source, n_tokens, difficulty, p_ppm,
       GREATEST(CAST((p_ppm * p_ppm * {_CURR_STEPS} + 999999999999)
                     // 1000000000000 AS BIGINT), 1) AS first_step
FROM ranked
"""


QUERIES: dict[str, QuerySpec] = {
    "docs_curriculum_order": QuerySpec(
        docs_curriculum_order,
        _CURRICULUM_SQL,
        ("OP-X-CURRICULUM", "OP-X-TEXT", "OP-X-SAMPLE"),
    ),
    "docs_bpe_train": QuerySpec(
        docs_bpe_train, _bpe_train_sql(), ("OP-X-BPETRAIN", "OP-X-ITER", "OP-X-TEXT")
    ),
    "docs_bpe_tokens": QuerySpec(
        docs_bpe_tokens, _bpe_tokens_sql(), ("OP-X-BPETRAIN", "OP-X-TEXT")
    ),
    "docs_bigram_lm_score": QuerySpec(
        docs_bigram_lm_score, _LM_SQL, ("OP-X-LMSCORE", "OP-X-TEXT", "OP-AGG-SUM")
    ),
    "docs_dsir_weights": QuerySpec(
        docs_dsir_weights, _DSIR_SQL, ("OP-X-DSIR", "OP-X-SAMPLE", "OP-X-TEXT")
    ),
    "docs_dup_span_extract": QuerySpec(
        docs_dup_span_extract,
        _SPAN_EXTRACT_SQL,
        ("OP-X-DUPSPAN", "OP-X-DEDUP-EXACT", "OP-X-TEXT"),
    ),
    "docs_lm_buckets": QuerySpec(
        docs_lm_buckets, _LM_BUCKETS_SQL, ("OP-X-LMBUCKET", "OP-X-SAMPLE")
    ),
    "docs_winnowing": QuerySpec(
        docs_winnowing, _WINNOW_SQL, ("OP-X-WINNOW", "OP-X-DEDUP-NEAR", "OP-X-TEXT")
    ),
    "docs_hybrid_rrf": QuerySpec(
        docs_hybrid_rrf, _rrf_sql(), ("OP-X-HYBRID", "OP-X-SIM-TOPK", "OP-X-TEXT")
    ),
}
