"""Trained document-quality classifier (OP-X-QUALTRAIN, r7): a binary
hashed-character-bigram linear model, trained and applied as catalog
queries with bit-identical DuckDB oracles, calibrated per-language with
the OP-X-CALIBRATE percent-rank.

Every public corpus pipeline gates on a TRAINED quality score, not just
heuristics: CCNet's wiki-vs-crawl LM, Dolma's fastText quality model,
RefinedWeb's line-level classifiers.  The rule-based rung is
``docs_quality_gate`` (OP-X-QUALITY) and the percentile rung is
``docs_quality_calibrated`` (OP-X-CALIBRATE); this module is the trained
rung, built on the langid machinery (plans/langid.py — the r6 proof that
trained linear models are oracle-able).  The reference system has no
text surface (SURVEY §2.9 extension).

Planted corpus (the langid/entity/pii pattern): md5('qm:'||doc_id)
assigns each document a language ∈ {0,1,2}, an 80/20 train/held-out
split, and a HIGH/LOW quality label; its 12 pseudo-words
translate-map md5 hex digits through the language's alphabet, and LOW
documents additionally route every third word through a junk alphabet
(keyboard-mash bigrams — the boilerplate/gibberish signal real quality
models key on).  Both engines derive the bit-identical corpus, so
training, scoring, AND the planted ground truth are all cross-checked;
accuracy is pytest-pinned ≥ 95%.

Model (exact-integer end-to-end — the CLAUDE.md no-log rule):

* features = character bigrams md5-hashed into ``_D`` buckets;
* ONE closed-form counting pass: weight(bucket) = per-million rate of
  the bucket in HIGH training bigrams − per-million rate in LOW
  training bigrams (truncating integer division, Spark ``DIV`` ≡ DuckDB
  ``//``; the subtraction is exact int64);
* score(doc) = Σ occurrences · weight — a pure int64 sum; predict HIGH
  iff score > 0;
* calibration: ``lang_pctile`` = percent_rank of the score WITHIN the
  document's language (unique doc_id tiebreaker — the verified
  BIGINT/BIGINT→DOUBLE construct of OP-X-CALIBRATE), so a downstream
  gate keeps the same quantile of every language instead of letting the
  score scale of one language starve another.

Scale shape: training is one corpus scan (bigram explode + ONE
map-combining groupBy(bucket) with conditional hi/lo sums + a broadcast
1-row totals cross join) into a CONSTANT ≤ ``_D``-row model.  Apply is
the r7 single-exchange langid shape: broadcast the model, LEFT-join
bigram rows, ONE groupBy(doc_id, ...) whose map-side partials collapse
each doc to one row before the wire, then the percent-rank window over
the 1-row-per-doc scores frame (3 language partitions of doc-count
rows — the same documented cost as docs_quality_calibrated; the CORPUS
is never windowed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from agf_data_ingestion_spark.plans.base import QuerySpec, t
from agf_data_ingestion_spark.plans.langid import _MAPS

#: hashed-feature buckets (shared sizing rationale with plans/langid._D)
_D = 4096
_WORDS = 12
#: junk alphabet for LOW-quality word injection: 16 hex digits map onto
#: keyboard-mash letters whose bigrams barely occur in the language maps
_JUNK = "qxzkqxzkwqxzkqxz"


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, is_train, hi, text): the planted labeled corpus.
    Independent md5-derived bits: lang = b%3, split = (b DIV 3)%5,
    label = (b DIV 15)%2."""
    d = t(spark, sf_dir, "documents").select("doc_id")
    b = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("qm:"), F.col("doc_id").cast("string"))), 1, 10
            ),
            16,
            10,
        )
        .cast("long")
    )
    base = d.select("doc_id", b.alias("b")).select(
        "doc_id",
        (F.col("b") % 3).alias("lang"),
        (F.expr("(b DIV 3) % 5") != 0).alias("is_train"),
        (F.expr("(b DIV 15) % 2") == 0).alias("hi"),
    )
    words = []
    for i in range(1, _WORDS + 1):
        h = F.md5(F.concat(F.lit(f"qm:w{i}:"), F.col("doc_id").cast("string")))
        raw = F.substring(h, 1, 4 + (i % 3))
        by_lang = (
            F.when(F.col("lang") == 0, F.translate(raw, "0123456789abcdef", _MAPS[0]))
            .when(F.col("lang") == 1, F.translate(raw, "0123456789abcdef", _MAPS[1]))
            .otherwise(F.translate(raw, "0123456789abcdef", _MAPS[2]))
        )
        if i % 3 == 0:
            # LOW documents mash every third word through the junk map
            word = F.when(
                F.col("hi"), by_lang
            ).otherwise(F.translate(raw, "0123456789abcdef", _JUNK))
        else:
            word = by_lang
        words.append(word)
    return base.select(
        "doc_id", "lang", "is_train", "hi", F.concat_ws(" ", *words).alias("text")
    )


def _bigrams(c: DataFrame) -> DataFrame:
    """One row per character bigram, md5-hashed into ``_D`` buckets
    (the langid feature pipeline over the quality-labeled corpus).

    r10 (the preference-pairs ladder melt): the bigram is built from a
    per-doc CHAR ARRAY (``split(text, '')`` once, then O(1)
    ``element_at``), not ``substr(text, i, 2)`` — UTF8String substring
    is a codepoint scan from the string START, so the substr form costs
    O(position) per exploded row = O(len^2) per document (measured 3x
    on the 10x corpus).  ``concat`` of two codepoints is byte-identical
    to the 2-codepoint substring, so hashes and the DuckDB oracle are
    unchanged."""
    return (
        c.filter(F.length("text") >= 2)
        .select(
            "doc_id",
            "lang",
            "is_train",
            "hi",
            F.split("text", "").alias("cs"),
        )
        .select(
            "doc_id",
            "lang",
            "is_train",
            "hi",
            "cs",
            F.explode(F.sequence(F.lit(1), F.size("cs") - 1)).alias("i"),
        )
        .select(
            "doc_id",
            "lang",
            "is_train",
            "hi",
            F.concat(
                F.element_at("cs", F.col("i")),
                F.element_at("cs", F.col("i") + 1),
            ).alias("bg"),
        )
        .select(
            "doc_id",
            "lang",
            "is_train",
            "hi",
            (
                F.conv(F.substring(F.md5("bg"), 1, 6), 16, 10).cast("long") % _D
            ).alias("bucket"),
        )
    )


def _weights(bg: DataFrame) -> DataFrame:
    """(bucket, n_hi, n_lo, weight): per-million rate difference between
    HIGH and LOW training bigrams — one groupBy(bucket) with conditional
    sums + a broadcast 1-row totals cross join."""
    train = bg.filter(F.col("is_train"))
    counts = train.groupBy("bucket").agg(
        F.sum(F.when(F.col("hi"), 1).otherwise(0)).cast("long").alias("n_hi"),
        F.sum(F.when(~F.col("hi"), 1).otherwise(0)).cast("long").alias("n_lo"),
    )
    totals = train.agg(
        F.greatest(
            F.lit(1).cast("long"),
            F.sum(F.when(F.col("hi"), 1).otherwise(0)).cast("long"),
        ).alias("tot_hi"),
        F.greatest(
            F.lit(1).cast("long"),
            F.sum(F.when(~F.col("hi"), 1).otherwise(0)).cast("long"),
        ).alias("tot_lo"),
    )
    return counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        "n_hi",
        "n_lo",
        F.expr("(n_hi * 1000000) DIV tot_hi - (n_lo * 1000000) DIV tot_lo").alias(
            "weight"
        ),
    )


def _bg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CACHED labeled bigram rows (doc_id, lang, is_train, hi,
    bucket) — narrow scalar columns only (the r4 cache rule).  Every
    family member consumed this subtree 2-3× per query (the `_weights`
    counts + totals scans plus the held-out side — three parquet scans
    with the full bigram explode in the r12 before-plans), and the
    CacheManager dedupes the canonicalized plan ACROSS the family
    (train/apply/pr_curve/preference_pairs' model + curate_full's
    pick_cut_tile and scoring weights), so the corpus is exploded once
    per session instead of ~10×."""
    return _bigrams(_corpus(spark, sf_dir)).cache()


def docs_quality_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained model table: per feature bucket, the raw HIGH/LOW
    training counts and the integer rate-difference weight."""
    return _weights(_bg(spark, sf_dir)).select(
        "bucket", "n_hi", "n_lo", "weight"
    )


def docs_quality_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score the HELD-OUT 20%: int64 dot product of bucket counts with
    the trained weights, HIGH iff score > 0, per-language percent-rank
    calibration; ``correct`` is the planted self-evaluation (pytest pins
    accuracy ≥ 95%).  Single-exchange corpus shape (see module
    docstring).  The planted ``lang`` has THREE values — each language
    partition is corpus/3 through ONE window task — so the calibration
    window is SKEW-ROUTED (r11; operators/skew.py ``route_salted``)
    through salted_rank_intkey + the exact binary64 replay
    ``pct_rank_expr``, bit-identical to the single-window SQL."""
    from agf_data_ingestion_spark.operators.skew import (
        pct_rank_expr,
        route_salted,
        salted_rank_intkey,
    )

    c = _corpus(spark, sf_dir)
    bg = _bigrams(c).cache()  # r12: the family's shared cache — see _bg
    w = _weights(bg)
    held = bg.filter(~F.col("is_train")).select("doc_id", "lang", "hi", "bucket")
    joined = held.join(
        F.broadcast(w.select("bucket", "weight")), "bucket", "left"
    )
    scores = joined.groupBy("doc_id", "lang", "hi").agg(
        F.coalesce(F.sum("weight"), F.lit(0)).cast("long").alias("score")
    )
    if route_salted(c):
        # the narrow 1-row-per-doc scores frame feeds the decomposition's
        # bounds aggregate AND both salted branches — cache it (the r4 /
        # curriculum multiply-consumed-narrow-frame rule) or the corpus
        # bigram scan upstream replays once per consumer
        scores = scores.cache()
        ranked = salted_rank_intkey(scores, ["lang"], "score", "doc_id")
        pctile = pct_rank_expr("dr", "n_part")
        base = ranked
    else:
        wl = Window.partitionBy("lang").orderBy("score", "doc_id")
        pctile = F.percent_rank().over(wl)
        base = scores
    return base.select(
        "doc_id",
        "lang",
        F.col("hi").alias("true_hi"),
        "score",
        (F.col("score") > 0).alias("pred_hi"),
        ((F.col("score") > 0) == F.col("hi")).alias("correct"),
        pctile.alias("lang_pctile"),
    )


_PR_TILES = 20
_PPM = 1_000_000


def docs_quality_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall SWEEP for the trained gate (r8, VERDICT r7 ask
    #6): a deployer picks a THRESHOLD, not a model — this emits the
    exact-integer confusion counts at every per-language ntile cut of
    the calibrated score, i.e. the operating curve for the policy "keep
    the top (N−c)/N quantile of every language".

    ``cut_tile`` = c means documents whose per-language ntile > c are
    predicted HIGH; TP/FP are suffix sums of per-tile label counts
    (ntile assigns remainder rows to earlier buckets in BOTH engines —
    the verified r3 construct — and the suffix window plus every rate is
    int64, so the whole curve hash-matches the oracle).  Scale shape:
    the corpus collapses to 1 row/doc (the apply shape), then to an
    N-row tile table; the curve is window math on N rows.  The per-lang
    ntile is SKEW-ROUTED (r11; operators/skew.py ``route_salted`` —
    ntile replayed as integer math on the decomposed rank, ntile_expr)."""
    from agf_data_ingestion_spark.operators.skew import (
        ntile_expr,
        route_salted,
        salted_rank_intkey,
    )

    c = _corpus(spark, sf_dir)
    bg = _bigrams(c).cache()  # r12: the family's shared cache — see _bg
    w = _weights(bg)
    held = bg.filter(~F.col("is_train")).select("doc_id", "lang", "hi", "bucket")
    scores = (
        held.join(F.broadcast(w.select("bucket", "weight")), "bucket", "left")
        .groupBy("doc_id", "lang", "hi")
        .agg(F.coalesce(F.sum("weight"), F.lit(0)).cast("long").alias("score"))
    )
    if route_salted(c):
        # cache: see docs_quality_apply (same decomposition fan-out)
        scores = scores.cache()
        tiled = salted_rank_intkey(scores, ["lang"], "score", "doc_id").select(
            "hi", ntile_expr("dr", "n_part", _PR_TILES).alias("tile")
        )
    else:
        tl = Window.partitionBy("lang").orderBy("score", "doc_id")
        tiled = scores.select("hi", F.ntile(_PR_TILES).over(tl).alias("tile"))
    per_tile = (
        tiled.groupBy("tile")
        .agg(
            F.sum(F.when(F.col("hi"), 1).otherwise(0)).cast("long").alias("n_hi"),
            F.sum(F.when(F.col("hi"), 0).otherwise(1)).cast("long").alias("n_lo"),
        )
    )
    suf = Window.orderBy("tile").rowsBetween(1, Window.unboundedFollowing)
    tot = per_tile.agg(
        F.sum("n_hi").cast("long").alias("tot_hi"),
        F.sum("n_lo").cast("long").alias("tot_lo"),
    )
    return (
        per_tile.withColumn(
            "tp", F.coalesce(F.sum("n_hi").over(suf), F.lit(0)).cast("long")
        )
        .withColumn(
            "fp", F.coalesce(F.sum("n_lo").over(suf), F.lit(0)).cast("long")
        )
        .crossJoin(F.broadcast(tot))
        .filter(F.col("tile") < _PR_TILES)
        .select(
            F.col("tile").cast("long").alias("cut_tile"),
            "tp",
            "fp",
            (F.col("tot_hi") - F.col("tp")).alias("fn"),
            (F.col("tot_lo") - F.col("fp")).alias("tn"),
            F.expr(f"(tp * {_PPM}) DIV greatest(1, tp + fp)").alias(
                "precision_ppm"
            ),
            F.expr(f"(tp * {_PPM}) DIV greatest(1, tot_hi)").alias(
                "recall_ppm"
            ),
        )
    )


def _word_sql(i: int) -> str:
    raw = f"substr(md5('qm:w{i}:' || CAST(doc_id AS VARCHAR)), 1, {4 + (i % 3)})"
    by_lang = (
        f"CASE lang WHEN 0 THEN translate({raw}, '0123456789abcdef', '{_MAPS[0]}')"
        f" WHEN 1 THEN translate({raw}, '0123456789abcdef', '{_MAPS[1]}')"
        f" ELSE translate({raw}, '0123456789abcdef', '{_MAPS[2]}') END"
    )
    if i % 3 == 0:
        return (
            f"CASE WHEN hi THEN {by_lang}"
            f" ELSE translate({raw}, '0123456789abcdef', '{_JUNK}') END"
        )
    return by_lang


_CORPUS_CTES = f"""base AS (
  SELECT doc_id,
         ('0x' || substr(md5('qm:' || CAST(doc_id AS VARCHAR)), 1, 10))::BIGINT AS b
  FROM documents
),
labeled AS (
  SELECT doc_id, b % 3 AS lang, ((b // 3) % 5) <> 0 AS is_train,
         ((b // 15) % 2) = 0 AS hi
  FROM base
),
corpus AS (
  SELECT doc_id, lang, is_train, hi,
         concat_ws(' ', {", ".join(_word_sql(i) for i in range(1, _WORDS + 1))}) AS text
  FROM labeled
),
bg AS (
  SELECT doc_id, lang, is_train, hi,
         ('0x' || substr(md5(substr(text, i, 2)), 1, 6))::BIGINT % {_D} AS bucket
  FROM (SELECT *, UNNEST(range(1, length(text))) AS i FROM corpus)
),
w AS (
  SELECT bucket, n_hi, n_lo,
         (n_hi * 1000000) // tot_hi - (n_lo * 1000000) // tot_lo AS weight
  FROM (
    SELECT bucket,
           CAST(SUM(CASE WHEN hi THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
           CAST(SUM(CASE WHEN hi THEN 0 ELSE 1 END) AS BIGINT) AS n_lo
    FROM bg WHERE is_train GROUP BY 1) c
  CROSS JOIN (
    SELECT greatest(1, CAST(SUM(CASE WHEN hi THEN 1 ELSE 0 END) AS BIGINT)) AS tot_hi,
           greatest(1, CAST(SUM(CASE WHEN hi THEN 0 ELSE 1 END) AS BIGINT)) AS tot_lo
    FROM bg WHERE is_train) t
)"""

_TRAIN_SQL = f"""
WITH {_CORPUS_CTES}
SELECT bucket, n_hi, n_lo, weight FROM w
"""

_APPLY_SQL = f"""
WITH {_CORPUS_CTES},
scores AS (
  SELECT b.doc_id, b.lang, b.hi,
         CAST(coalesce(SUM(w.weight), 0) AS BIGINT) AS score
  FROM bg b LEFT JOIN w ON b.bucket = w.bucket
  WHERE NOT b.is_train
  GROUP BY 1, 2, 3
)
SELECT doc_id, lang, hi AS true_hi, score,
       score > 0 AS pred_hi,
       (score > 0) = hi AS correct,
       percent_rank() OVER (PARTITION BY lang ORDER BY score, doc_id)
         AS lang_pctile
FROM scores
"""


_PR_SQL = f"""
WITH {_CORPUS_CTES},
scores AS (
  SELECT b.doc_id, b.lang, b.hi,
         CAST(coalesce(SUM(w.weight), 0) AS BIGINT) AS score
  FROM bg b LEFT JOIN w ON b.bucket = w.bucket
  WHERE NOT b.is_train
  GROUP BY 1, 2, 3
),
tiles AS (
  SELECT lang, hi,
         ntile({_PR_TILES}) OVER (PARTITION BY lang ORDER BY score, doc_id)
           AS tile
  FROM scores
),
per_tile AS (
  SELECT tile,
         CAST(SUM(CASE WHEN hi THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
         CAST(SUM(CASE WHEN hi THEN 0 ELSE 1 END) AS BIGINT) AS n_lo
  FROM tiles GROUP BY 1
),
suf AS (
  SELECT tile,
         CAST(coalesce(SUM(n_hi) OVER wsuf, 0) AS BIGINT) AS tp,
         CAST(coalesce(SUM(n_lo) OVER wsuf, 0) AS BIGINT) AS fp
  FROM per_tile
  WINDOW wsuf AS (ORDER BY tile
                  ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
),
tot AS (
  SELECT CAST(SUM(n_hi) AS BIGINT) AS tot_hi,
         CAST(SUM(n_lo) AS BIGINT) AS tot_lo
  FROM per_tile
)
SELECT CAST(s.tile AS BIGINT) AS cut_tile, s.tp, s.fp,
       t.tot_hi - s.tp AS fn, t.tot_lo - s.fp AS tn,
       (s.tp * {_PPM}) // greatest(1, s.tp + s.fp) AS precision_ppm,
       (s.tp * {_PPM}) // greatest(1, t.tot_hi) AS recall_ppm
FROM suf s, tot t WHERE s.tile < {_PR_TILES}
"""


QUERIES: dict[str, QuerySpec] = {
    "docs_quality_train": QuerySpec(
        docs_quality_train, _TRAIN_SQL, ("OP-X-QUALTRAIN",)
    ),
    "docs_quality_apply": QuerySpec(
        docs_quality_apply, _APPLY_SQL, ("OP-X-QUALTRAIN", "OP-X-CALIBRATE")
    ),
    "docs_quality_pr_curve": QuerySpec(
        docs_quality_pr_curve,
        _PR_SQL,
        ("OP-X-PRCURVE", "OP-X-QUALTRAIN", "OP-X-CALIBRATE"),
    ),
}


# ---------------------------------------------------------------------------
# Preference-pair construction (OP-X-DPOPAIRS, r9): DPO/RLHF data prep
# ---------------------------------------------------------------------------

#: real-text scoring shares the model's feature space
_DP_D = _D


def docs_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference pairs for DPO-style training (Rafailov et al. 2023):
    within each source, rank the REAL documents by their trained quality
    score and pair the k-th best with the k-th worst — the standard
    "chosen vs rejected from the same distribution" construction, with
    the score MARGIN as the pair's strength label.

    Every quantity is an exact integer: scores are the int64
    hashed-bigram dot products of ``docs_quality_apply``'s model applied
    to the real corpus text (the curation pipeline's scoring path,
    operators/curation.py `score_quality`), ranks use the unique
    (score desc, doc_id) tiebreak, pairs keep only a strictly positive
    margin (equal-score pairs carry no preference signal), and pairing
    stops at ``n DIV 2`` so no document appears on both sides.

    Scale shape: ONE corpus bigram scan collapsing map-side to a row per
    doc (broadcast ≤4096-row model), then per-source ranks over
    1-row-per-doc score frames — the corpus text is never windowed, and
    the ranks are SKEW-ROUTED (r11; operators/skew.py ``route_salted``):
    at scale the two row_number windows and the count(*) window become
    ONE salted-rank decomposition — rw (score asc, doc_id desc) from
    salted_rank_intkey and rb = n - rw + 1, because (score DESC, doc_id
    ASC) is the exact REVERSE total order and row numbers over reverse
    orders sum to n+1.
    """
    from agf_data_ingestion_spark.operators.skew import (
        route_salted,
        salted_rank_intkey,
    )

    w = _weights(_bg(spark, sf_dir)).select("bucket", "weight")
    d = t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    # char-array bigrams (the r10 O(len^2)-substr fix — see _bigrams)
    bg = (
        d.filter(F.length("text") >= 2)
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
                % _DP_D
            ).alias("bucket"),
        )
    )
    scores = (
        bg.join(F.broadcast(w), "bucket", "left")
        .groupBy("doc_id")
        .agg(F.coalesce(F.sum("weight"), F.lit(0)).cast("long").alias("score"))
    )
    sd = d.select("doc_id", "source").join(scores, "doc_id", "left").na.fill(
        {"score": 0}
    )
    if route_salted(d):
        # rw = row_number over (score ASC, doc_id DESC) — the integer key
        # decomposition with the NEGATED doc_id as ascending tiebreaker;
        # rb = n - rw + 1 (reverse-order row numbers sum to n+1).  sd is
        # the narrow per-doc score frame multiply consumed by the
        # decomposition — cache it (curriculum per_doc rule)
        sd = sd.cache()
        dec = salted_rank_intkey(
            sd.withColumn("_nid", -F.col("doc_id")),
            ["source"],
            "score",
            "_nid",
            out_rank="rw",
            out_n="n",
        )
        ranked = dec.select(
            "source",
            "doc_id",
            "score",
            (F.col("n") - F.col("rw") + 1).alias("rb"),
            "rw",
            "n",
        )
    else:
        wd = Window.partitionBy("source").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        wa = Window.partitionBy("source").orderBy(
            F.asc("score"), F.desc("doc_id")
        )
        ranked = sd.select(
            "source",
            "doc_id",
            "score",
            F.row_number().over(wd).alias("rb"),
            F.row_number().over(wa).alias("rw"),
            F.count("*").over(Window.partitionBy("source")).alias("n"),
        )
    best = ranked.select(
        "source",
        F.col("rb").alias("pair_rank"),
        F.col("doc_id").alias("chosen_id"),
        F.col("score").alias("chosen_score"),
        "n",
    ).filter(F.col("pair_rank") <= F.expr("n DIV 2"))
    worst = ranked.select(
        "source",
        F.col("rw").alias("pair_rank"),
        F.col("doc_id").alias("rejected_id"),
        F.col("score").alias("rejected_score"),
    )
    return (
        best.join(worst, ["source", "pair_rank"])
        .filter(F.col("chosen_score") > F.col("rejected_score"))
        .select(
            "source",
            F.col("pair_rank").cast("long").alias("pair_rank"),
            "chosen_id",
            "rejected_id",
            (F.col("chosen_score") - F.col("rejected_score")).alias("margin"),
        )
    )


_DPO_SQL = f"""
WITH {_CORPUS_CTES},
rbg AS (
  SELECT doc_id,
         ('0x' || substr(md5(substr(text, i, 2)), 1, 6))::BIGINT % {_D} AS bucket
  FROM (SELECT doc_id, text, UNNEST(range(1, length(text))) AS i
        FROM documents WHERE length(text) >= 2)
),
rscore AS (
  SELECT d.doc_id, d.source,
         CAST(coalesce(s.score, 0) AS BIGINT) AS score
  FROM documents d
  LEFT JOIN (
    SELECT b.doc_id, CAST(coalesce(SUM(w.weight), 0) AS BIGINT) AS score
    FROM rbg b LEFT JOIN w ON b.bucket = w.bucket
    GROUP BY b.doc_id
  ) s ON d.doc_id = s.doc_id
),
ranked AS (
  SELECT source, doc_id, score,
         row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id ASC) AS rb,
         row_number() OVER (PARTITION BY source ORDER BY score ASC, doc_id DESC) AS rw,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM rscore
)
SELECT b.source, CAST(b.rb AS BIGINT) AS pair_rank,
       b.doc_id AS chosen_id, ww.doc_id AS rejected_id,
       b.score - ww.score AS margin
FROM ranked b
JOIN ranked ww ON b.source = ww.source AND b.rb = ww.rw
WHERE b.rb <= b.n // 2 AND b.score > ww.score
"""


QUERIES["docs_preference_pairs"] = QuerySpec(
    docs_preference_pairs,
    _DPO_SQL,
    ("OP-X-DPOPAIRS", "OP-X-QUALTRAIN", "OP-X-SAMPLE"),
)
