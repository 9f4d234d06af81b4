"""Text-analysis and deduplication catalog (SURVEY.md §2.9 extensions).

LLM-training-data operators over the ``documents`` table: exact dedup,
MinHash+LSH and SimHash near-dup, n-gram Jaccard, language ID, quality
scoring, token counting, fingerprinting.  Everything in this module is
built from JVM-side ``pyspark.sql.functions`` (no Python UDFs in the hot
path); each query carries a DuckDB oracle built from the *same* md5-based
hashing so the two engines agree bit-for-bit.

Scale design:
* MinHash signatures are computed in one explode → groupBy pass (map-side
  partial min per permutation); the LSH band self-join only shuffles the
  tiny (doc, band-signature) table, never the corpus text.
* SimHash is a single explode over (word × 64 bits) with an integer-only
  inner expression — whole-stage codegen keeps it in the JVM.
* All pairwise verification joins operate on candidate keys only; at 100 TB
  the band join is the standard LSH cost profile (linear in corpus +
  near-linear in collisions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from agf_data_ingestion_spark.plans.base import QuerySpec, dsum, o_dsum, t

_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")
_N_PERMS = 16
_BAND_ROWS = 4  # 4 bands × 4 rows

# ---------------------------------------------------------------------------
# Shared building blocks
# ---------------------------------------------------------------------------


def _words(col: str = "text") -> F.Column:
    return F.split(F.col(col), " ")


def _shingles(col: str = "text", *, distinct: bool = True) -> F.Column:
    """3-word shingles; empty array for docs under 3 words.

    ``distinct=False`` skips ``array_distinct`` — it is O(n²) per array and
    is a no-op for MinHash (min over a multiset == min over its set); only
    set-cardinality consumers (Jaccard) need truly distinct shingles.
    """
    w = _words(col)
    n = F.size(w)
    gram = lambda i: F.concat_ws(
        " ", F.element_at(w, i), F.element_at(w, i + 1), F.element_at(w, i + 2)
    )
    grams = F.transform(F.sequence(F.lit(1), n - 2), gram)
    if distinct:
        grams = F.array_distinct(grams)
    return F.when(n >= 3, grams).otherwise(F.array().cast("array<string>"))


_SHINGLES_SQL = """
CASE WHEN len(string_split(text, ' ')) >= 3 THEN
  list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
    i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]))
ELSE [] END
"""


# ---------------------------------------------------------------------------
# Exact dedup (OP-X-DEDUP-EXACT, generalizing OP-DEDUP-KEY / OP-FIL-CHECKSUM)
# ---------------------------------------------------------------------------


def docs_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    h = F.md5(F.lower(F.col("text")))
    w = Window.partitionBy("content_hash").orderBy(F.asc("doc_id"))
    return (
        d.select("doc_id", "source", h.alias("content_hash"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "source", "content_hash")
    )


_DEDUP_EXACT_SQL = """
SELECT doc_id, source, content_hash FROM (
  SELECT doc_id, source, md5(lower(text)) AS content_hash,
         row_number() OVER (PARTITION BY md5(lower(text)) ORDER BY doc_id ASC) rn
  FROM documents
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Token analysis (OP-X-TEXT): explode + counts
# ---------------------------------------------------------------------------


def docs_token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(_words()).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(50)
    )


_TOKEN_TOPK_SQL = """
SELECT token, COUNT(*) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
GROUP BY token ORDER BY n DESC, token ASC LIMIT 50
"""


_PMI_MIN_COUNT = 5  # drop noise bigrams before any join


def docs_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations (adjacent word bigrams) ranked by PMI lift — the
    standard phrase-mining signal p(xy)/(p(x)·p(y)) — computed WITHOUT any
    logarithm or float accumulation so both engines agree bit-for-bit:
    ``lift_ppm = (n_xy · N² · 10⁶) div (B · n_x · n_y)`` in exact decimal
    integer arithmetic (Spark ``DIV`` ≡ DuckDB ``//``, both truncate; the
    products stay < 10³⁸).  N = corpus tokens, B = corpus bigrams.

    Scale shape: bigram extraction is one map-only transform+explode per
    doc (no self-join on position); counts reduce map-side.  The two
    vocabulary joins are keyed shuffles — the vocabulary is corpus-derived
    and therefore NEVER broadcast (CLAUDE.md invariant) — and the ≥{min}
    count filter shrinks the bigram side before either join.  The 1-row
    totals frame broadcasts.
    """
    d = t(spark, sf_dir, "documents")
    # uni feeds three consumers (totals, both vocab join sides): cache the
    # VOCAB-SIZED counts so the aggregation runs once.  The word-array
    # frame w itself stays uncached: caching corpus-sized array columns
    # costs more in block serialization than the map-side recompute saves
    # (measured r4: w.cache() regressed this query 0.96 -> 1.88 s)
    w = d.select(_words().alias("w"))
    uni = (
        w.select(F.explode("w").alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .cache()
    )
    bg = (
        w.filter(F.size("w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(w) - 2),"
                    " i -> named_struct('w1', w[i], 'w2', w[i+1]))"
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("n_xy"))
        .filter(F.col("n_xy") >= _PMI_MIN_COUNT)
    )
    totals = uni.agg(
        F.sum("n").alias("n_tokens"),
        # bigrams per doc = words - 1; summing over uni would overcount, so
        # derive B from the doc-level sizes in one extra tiny aggregate
    ).crossJoin(
        w.agg(
            F.sum(
                F.when(F.size("w") >= 2, F.size("w") - 1).otherwise(F.lit(0))
            ).alias("n_bigrams")
        )
    )
    u1 = uni.select(F.col("word").alias("w1"), F.col("n").alias("n_w1"))
    u2 = uni.select(F.col("word").alias("w2"), F.col("n").alias("n_w2"))
    lift = F.expr(
        "CAST((CAST(n_xy AS DECIMAL(38,0)) * n_tokens * n_tokens * 1000000)"
        " DIV (CAST(n_bigrams AS DECIMAL(38,0)) * n_w1 * n_w2) AS BIGINT)"
    )
    return (
        bg.join(u1.hint("shuffle_hash"), "w1")
        .join(u2.hint("shuffle_hash"), "w2")
        .join(F.broadcast(totals))
        .select("w1", "w2", "n_xy", "n_w1", "n_w2", lift.alias("lift_ppm"))
        .orderBy(F.desc("lift_ppm"), F.asc("w1"), F.asc("w2"))
        .limit(30)
    )


docs_pmi_bigrams.__doc__ = docs_pmi_bigrams.__doc__.format(min=_PMI_MIN_COUNT)


_PMI_SQL = f"""
WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
uni AS (
  SELECT u.word, COUNT(*) AS n
  FROM w, unnest(w.w) AS u(word) GROUP BY u.word
),
bg AS (
  SELECT w.w[i] AS w1, w.w[i+1] AS w2, COUNT(*) AS n_xy
  FROM w, unnest(range(1, len(w.w))) AS t(i)
  WHERE len(w.w) >= 2
  GROUP BY w.w[i], w.w[i+1]
  HAVING COUNT(*) >= {_PMI_MIN_COUNT}
),
tot AS (
  SELECT (SELECT CAST(SUM(n) AS BIGINT) FROM uni) AS n_tokens,
         (SELECT CAST(SUM(len(w.w) - 1) AS BIGINT) FROM w WHERE len(w.w) >= 2) AS n_bigrams
)
SELECT w1, w2, n_xy, u1.n AS n_w1, u2.n AS n_w2,
       CAST((CAST(n_xy AS HUGEINT) * n_tokens * n_tokens * 1000000)
            // (CAST(n_bigrams AS HUGEINT) * u1.n * u2.n) AS BIGINT) AS lift_ppm
FROM bg
JOIN uni u1 ON bg.w1 = u1.word
JOIN uni u2 ON bg.w2 = u2.word, tot
ORDER BY lift_ppm DESC, w1 ASC, w2 ASC LIMIT 30
"""


def docs_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality metrics: word/token counts, word length, stopword & alpha
    ratios, and a composite quality score — all integer-derived doubles so
    both engines compute identical IEEE results."""
    d = t(spark, sf_dir, "documents")
    w = _words()
    n_words = F.size(w)
    n_stop = F.size(F.filter(w, lambda x: x.isin(*_STOPWORDS)))
    n_chars = F.length("text")
    n_alpha = F.length(F.regexp_replace("text", "[^a-z]", ""))
    # BPE-ish tokenization: letter runs, digit runs, single punctuation
    n_tokens = F.size(F.expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
    avg_word_len = (n_chars - (n_words - 1)).cast("double") / n_words
    stop_ratio = n_stop.cast("double") / n_words
    alpha_ratio = n_alpha.cast("double") / n_chars
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        n_tokens.alias("n_tokens"),
        avg_word_len.alias("avg_word_len"),
        stop_ratio.alias("stopword_ratio"),
        alpha_ratio.alias("alpha_ratio"),
        ((n_words >= 20) & (stop_ratio > 0.01)).alias("passes_quality"),
    )


_TEXT_STATS_SQL = f"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INT) AS n_words,
       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)) AS INT) AS n_tokens,
       CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE) / len(string_split(text, ' ')) AS avg_word_len,
       CAST(len(list_filter(string_split(text, ' '), x -> x IN {tuple(_STOPWORDS)!r})) AS DOUBLE)
         / len(string_split(text, ' ')) AS stopword_ratio,
       CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / length(text) AS alpha_ratio,
       len(string_split(text, ' ')) >= 20
         AND CAST(len(list_filter(string_split(text, ' '), x -> x IN {tuple(_STOPWORDS)!r})) AS DOUBLE)
             / len(string_split(text, ' ')) > 0.01 AS passes_quality
FROM documents
"""


def docs_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: stopword-hit ratio over an English function-word
    list → 'en' / 'und', compared against the labeled ``lang`` column."""
    d = t(spark, sf_dir, "documents")
    w = _words()
    ratio = F.size(F.filter(w, lambda x: x.isin(*_STOPWORDS))).cast("double") / F.size(w)
    pred = F.when(ratio >= 0.02, "en").otherwise("und")
    return d.select(
        "doc_id",
        ratio.alias("en_score"),
        pred.alias("lang_pred"),
        (pred == F.col("lang")).alias("pred_correct"),
    )


_LANG_ID_SQL = f"""
SELECT doc_id,
       CAST(len(list_filter(string_split(text, ' '), x -> x IN {tuple(_STOPWORDS)!r})) AS DOUBLE)
         / len(string_split(text, ' ')) AS en_score,
       CASE WHEN CAST(len(list_filter(string_split(text, ' '), x -> x IN {tuple(_STOPWORDS)!r})) AS DOUBLE)
                 / len(string_split(text, ' ')) >= 0.02 THEN 'en' ELSE 'und' END AS lang_pred,
       (CASE WHEN CAST(len(list_filter(string_split(text, ' '), x -> x IN {tuple(_STOPWORDS)!r})) AS DOUBLE)
                  / len(string_split(text, ' ')) >= 0.02 THEN 'en' ELSE 'und' END) = lang AS pred_correct
FROM documents
"""


def docs_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-document fingerprint: md5 of whitespace-normalized lowercase
    text, plus a bottom-4 sketch of 8-char-gram hashes (winnowing-style).

    Shape: the per-gram md5 runs over EXPLODED rows (whole-stage codegen)
    — inside the original `transform` lambda it was interpreted
    expression-tree evaluation, ~300 interpreted md5 calls per document
    (the CLAUDE.md higher-order-fold rule).  Shuffle economy (r4): ONE
    explicit doc_id repartition of the RAW documents (corpus bytes, one
    row/doc) happens before the explode — a HashPartitioning(doc_id) is
    preserved through Generate and satisfies the ClusteredDistribution of
    every downstream operator keyed on a superset (the gram dedup, the
    bottom-4 window, the final per-doc fold), so the plan's only exchange
    moves the documents once instead of every gram hash (≈40 bytes ×
    grams-per-doc × corpus — 40× the text itself).  doc_hash rides the
    exploded rows and folds back with first() (constant per doc), so the
    whole query is scan → repartition → map/agg with no further exchange
    and no self-join.

    r5: the per-doc DISTINCT runs on the raw 8-char gram BEFORE md5 —
    distinct-then-hash ≡ hash-then-distinct (same hash set), but natural
    text repeats grams heavily, so the md5 count drops to the distinct
    gram count and the aggregated rows shrink 32→8 chars (measured 2.4×
    at sf0.1×3).

    r12: the gram is rebuilt from a per-doc CHAR ARRAY (``split(nt, '')``
    once, then eight O(1) ``get`` lookups) instead of
    ``substring(nt, i, 8)`` — UTF8String substring scans codepoints from
    the string START, so the substr form cost O(position) per exploded
    row = O(len²) per document (the r10 preference-pairs rule, CLAUDE.md).
    ``concat_ws('', ...)`` skips the NULLs that ``get`` returns past the
    array end, so the tail grams of a short document come out exactly as
    ``substring``'s truncated slices — byte-identical, oracle unchanged
    (equivalence pinned in tests/test_r12_rewrites.py; measured
    6.05 → 1.78 s median at sf0.1).

    r13 (both ADVICE r12 items): (1) a NULL text must yield g = NULL
    (md5(NULL) = NULL, the pre-r12 and oracle behavior) — concat_ws over
    the all-NULL gets of a NULL char array would instead produce '' →
    md5('') — so the gram is gated on ``cs`` being non-null; (2) the
    char-array split now happens AFTER the doc_id repartition — the
    per-character array (per-element offsets + 1-char UTF8Strings,
    several × the raw string bytes) stays out of the corpus exchange and
    the compact normalized string ships instead.  Byte-identical output
    either way."""
    d = t(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.regexp_replace("text", "\\s+", " ")))
    base = d.select("doc_id", F.md5(norm).alias("doc_hash"), norm.alias("nt"))
    rep = base.repartition("doc_id").select(
        "doc_id", "doc_hash", F.split("nt", "").alias("cs")
    )
    grams = (
        rep.select(
            "doc_id",
            "doc_hash",
            "cs",
            F.explode(
                F.sequence(F.lit(1), F.greatest(F.size("cs") - 7, F.lit(1)))
            ).alias("i"),
        )
        .select(
            "doc_id",
            "doc_hash",
            F.when(
                F.col("cs").isNull(), F.lit(None).cast("string")
            )
            .otherwise(
                F.concat_ws(
                    "", *[F.get("cs", F.col("i") + k - 2) for k in range(1, 9)]
                )
            )
            .alias("g"),
        )
        .distinct()
        .select("doc_id", "doc_hash", F.md5("g").alias("h"))
    )
    w = Window.partitionBy("doc_id").orderBy("h")
    return (
        grams.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 4)
        .groupBy("doc_id")
        .agg(
            F.first("doc_hash").alias("doc_hash"),
            F.array_join(F.array_sort(F.collect_list("h")), "|").alias("sketch"),
        )
        .select("doc_id", "doc_hash", "sketch")
    )


_FINGERPRINT_SQL = """
WITH n AS (SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS nt FROM documents)
SELECT doc_id, md5(nt) AS doc_hash,
       array_to_string(list_sort(list_distinct(
         list_transform(range(1, greatest(length(nt) - 7, 1) + 1), i -> md5(substr(nt, i, 8)))
       ))[1:4], '|') AS sketch
FROM n
"""


# ---------------------------------------------------------------------------
# n-gram Jaccard pairs (OP-X-DEDUP-NEAR exact-verify path)
# ---------------------------------------------------------------------------


def docs_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard for candidate pairs within a doc_id block.

    At scale the candidate set comes from LSH (see minhash query); the
    block filter here keeps the demonstration O(k²) not O(n²).
    """
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    sh = d.select("doc_id", F.explode(_shingles()).alias("s"))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("inter").cast("double")
                / (F.col("sa.sz") + F.col("sb.sz") - F.col("inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.1)
    )


_NGRAM_JACCARD_SQL = f"""
WITH sh AS (
  SELECT doc_id, unnest({_SHINGLES_SQL}) AS s
  FROM documents WHERE doc_id < 40
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.1
"""


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup (OP-X-DEDUP-NEAR)
# ---------------------------------------------------------------------------


_MOD = 1 << 40  # 40-bit hash space: p*h2 (p<16) cannot overflow int64


def _minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sig: array<bigint>[16]): the full MinHash signature in ONE
    narrow pass — no shuffle.

    Permutation hashing uses the Kirsch-Mitzenmacher construction: one md5
    per shingle yields two 40-bit integers (h1, h2); permutation p's hash
    is (h1 + p·h2) mod 2^40.  Both engines derive the identical integers
    from the identical md5 hex.

    Plan shape: explode shingles once, then ONE groupBy with 16 plain
    ``min`` aggregates — every expression stays inside whole-stage codegen
    and the partial (map-side) aggregation reduces each partition to ≤16
    values per doc before the exchange, so the shuffle carries ~|docs|×16
    longs regardless of corpus size.  (Measured end-to-end at sf0.1:
    interpreted higher-order array fold ≈ 8.5 s, shingle×perm explode with
    per-perm md5 ≈ 11 s, this shape ≈ 5 s.)
    """
    # A single-file small corpus scans as one partition — spread rows so the
    # hash work parallelizes.  At scale the scan already yields >=cores
    # partitions (spark.sql.files.maxPartitionBytes splits big inputs), and
    # round-robining the raw text through an exchange would be pure waste —
    # so only repartition when the scan is narrower than the parallelism.
    d = t(spark, sf_dir, "documents")
    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if d.rdd.getNumPartitions() < target:
        d = d.repartition(target)
    return _sigs_of(d)


def _sigs_of(d: DataFrame) -> DataFrame:
    """MinHash signatures of an arbitrary (doc_id, text) frame — the
    building block the incremental path hashes a NEW batch with, without
    touching the corpus."""
    h = F.md5("s")
    hashed = d.select("doc_id", F.explode(_shingles(distinct=False)).alias("s")).select(
        "doc_id",
        F.conv(F.substring(h, 1, 10), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring(h, 11, 10), 16, 10).cast("long").alias("h2"),
    )
    mins = [
        F.min((F.col("h1") + p * F.col("h2")) % _MOD).alias(f"m{p}") for p in range(_N_PERMS)
    ]
    return (
        hashed.groupBy("doc_id")
        .agg(*mins)
        .select("doc_id", F.array(*[f"m{p}" for p in range(_N_PERMS)]).alias("sig"))
    )


def _lsh_bands(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, bsig): each signature cut into ``_N_PERMS/_BAND_ROWS``
    bands, the band's minhashes joined into one string key.  This tiny
    projection (4 short rows/doc) is the ONLY thing LSH ever shuffles."""
    return sigs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(_N_PERMS // _BAND_ROWS - 1)),
                lambda b: F.struct(
                    b.cast("int").alias("band"),
                    F.array_join(
                        F.transform(
                            F.slice(F.col("sig"), b * _BAND_ROWS + 1, _BAND_ROWS),
                            lambda v: v.cast("string"),
                        ),
                        "|",
                    ).alias("bsig"),
                ),
            )
        ).alias("e"),
    ).select("doc_id", "e.band", "e.bsig")


#: adversarial-skew guard (VERDICT r4 #3): real corpora carry boilerplate —
#: one band bucket with 50k near-identical docs makes the within-band join
#: quadratic.  Bucket members are ranked by doc_id and a pair is admitted
#: only when the ranks are within the cap, so a B-member bucket emits
#: ≤ B·cap pairs (not B²/2) while adjacent ranks keep the bucket CONNECTED
#: for downstream clustering.  Honest buckets are untouched: measured max
#: bucket size in the synthetic corpus is 4 at every sf (cap = 8× headroom),
#: and any bucket with ≤ cap+1 members still emits its full clique.
_LSH_BUCKET_CAP = 32


def docs_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs with MinHash-estimated Jaccard.

    16 permutations in 4 bands × 4 rows; docs sharing any full band
    signature become candidates; estimate = fraction of matching minhashes.
    Only the tiny (doc_id, band, sig) projection is ever shuffled; the
    estimate comes from comparing the two signature arrays directly.  The
    signature table is consumed three times (banding + both sides of the
    estimate join) → cache it so the hash fold runs once.

    The estimate join is a SHUFFLE hash join on doc_id, never a broadcast:
    the signature table is one row per *document* (corpus-sized — >100 GB at
    10^9 docs), so broadcasting it would OOM the driver at scale, while
    shuffling 16 longs/doc is cheap (VERDICT.md r1 "What's wrong" #1).

    Oversized buckets are rank-capped (``_LSH_BUCKET_CAP``): the window
    ranks on the SAME (band, bsig) key the bucket-join shuffles on, so the
    guard adds no exchange (the join reuses the window's partitioning) —
    and the identical row_number rule runs in the oracle, so results stay
    bit-identical at any bucket size (tests/test_text.py plants a
    5k-doc identical-shingle corpus to pin the O(n·cap) bound).
    """
    sigs = _minhash_sigs(spark, sf_dir).cache()
    wb = Window.partitionBy("band", "bsig").orderBy("doc_id")
    bands = _lsh_bands(sigs).withColumn("rk", F.row_number().over(wb))
    # the band bucket-join is corpus-sized on BOTH sides (4 rows/doc) —
    # force the shuffle plan; small-sf size estimates would statically
    # pick a broadcast that cannot exist at 10^9 docs
    a, b = bands.alias("a"), bands.hint("shuffle_hash").alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bsig") == F.col("b.bsig"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.rk") - F.col("a.rk") <= _LSH_BUCKET_CAP),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    n_equal = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v)
    )
    return (
        cands.join(sa.hint("shuffle_hash"), "doc_a")
        .join(sb.hint("shuffle_hash"), "doc_b")
        .select("doc_a", "doc_b", (n_equal.cast("double") / _N_PERMS).alias("est_jaccard"))
    )


#: documents → shingles → KM hashes → signatures → LSH bands (shared by the
#: within-corpus queries below AND the incremental new-batch-vs-corpus query)
_SIG_CTES = f"""sh AS (
  SELECT doc_id, unnest({_SHINGLES_SQL}) AS s FROM documents
),
hashed AS (
  SELECT doc_id,
         ('0x' || substr(md5(s), 1, 10))::BIGINT AS h1,
         ('0x' || substr(md5(s), 11, 10))::BIGINT AS h2
  FROM sh
),
sigs AS (
  SELECT doc_id, p, min((h1 + p * h2) % {_MOD}) AS mh
  FROM hashed CROSS JOIN (SELECT unnest(range(0, {_N_PERMS})) AS p)
  GROUP BY doc_id, p
),
bands AS (
  SELECT doc_id, CAST(floor(p / {_BAND_ROWS}) AS INT) AS band,
         string_agg(CAST(mh AS VARCHAR), '|' ORDER BY p) AS sig
  FROM sigs GROUP BY doc_id, CAST(floor(p / {_BAND_ROWS}) AS INT)
)"""

#: shared CTE block: documents → shingles → KM hashes → signatures → LSH
#: bands → candidate pairs → estimated jaccard (composed by the minhash
#: query and the connected-components cluster oracle)
_MINHASH_CTES = f"""{_SIG_CTES},
rb AS (
  SELECT doc_id, band, sig,
         row_number() OVER (PARTITION BY band, sig ORDER BY doc_id) AS rk
  FROM bands
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM rb a JOIN rb b ON a.band = b.band AND a.sig = b.sig
   AND a.doc_id < b.doc_id AND b.rk - a.rk <= {_LSH_BUCKET_CAP}
),
est AS (
  SELECT doc_a, doc_b,
         CAST(SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS DOUBLE) / {_N_PERMS} AS est_jaccard
  FROM cands
  JOIN sigs sa ON doc_a = sa.doc_id
  JOIN sigs sb ON doc_b = sb.doc_id AND sa.p = sb.p
  GROUP BY doc_a, doc_b
)"""

_MINHASH_SQL = f"WITH {_MINHASH_CTES} SELECT * FROM est"


def docs_neardup_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH → exact-verify end to end over the FULL corpus (the scale path
    for n-gram Jaccard; VERDICT.md r1 "Next round" #6).

    MinHash-LSH proposes candidate pairs; each candidate is then re-scored
    with exact 3-gram Jaccard.  Each document's DISTINCT shingle set is one
    array row (no explode), so verification is two shuffle hash joins of
    the candidate pairs against a one-row-per-doc table plus a codegen'd
    ``array_intersect`` — cost O(|candidates| × shingles/doc), never O(n²),
    and nothing corpus-sized is broadcast.  A zero-overlap candidate (band
    collision) keeps a row with jaccard 0.0 (intersect of disjoint sets).
    """
    est = docs_minhash_lsh(spark, sf_dir)
    # the shingle-set table is consumed by BOTH join sides — cache so the
    # corpus is tokenized once, not twice (CacheManager also shares this
    # plan with any other catalog query deriving the same sets)
    sets = (
        t(spark, sf_dir, "documents")
        .select("doc_id", _shingles().alias("sset"))
        .cache()
    )
    seta = sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sset").alias("set_a"),
        F.size("sset").alias("sz_a"),
    )
    setb = sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sset").alias("set_b"),
        F.size("sset").alias("sz_b"),
    )
    inter = F.size(F.array_intersect("set_a", "set_b"))
    return (
        est.join(seta.hint("shuffle_hash"), "doc_a")
        .join(setb.hint("shuffle_hash"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "est_jaccard",
            (
                inter.cast("double") / (F.col("sz_a") + F.col("sz_b") - inter)
            ).alias("jaccard"),
        )
    )


_NEARDUP_VERIFIED_SQL = f"""
WITH {_MINHASH_CTES},
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT est.doc_a, est.doc_b, COUNT(sb2.s) AS inter
  FROM est
  JOIN sh sa2 ON est.doc_a = sa2.doc_id
  LEFT JOIN sh sb2 ON est.doc_b = sb2.doc_id AND sa2.s = sb2.s
  GROUP BY est.doc_a, est.doc_b
)
SELECT i.doc_a, i.doc_b, est.est_jaccard,
       CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter) AS jaccard
FROM inter i
JOIN est ON i.doc_a = est.doc_a AND i.doc_b = est.doc_b
JOIN sizes sa ON i.doc_a = sa.doc_id
JOIN sizes sb ON i.doc_b = sb.doc_id
"""


_EDIT_PREFIX = 256  # chars compared — bounds the O(n²) DP per pair
_EDIT_MIN_EST = 0.25  # LSH-estimate prefilter before the quadratic verifier


def docs_editdist_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-dup verification: LSH candidates whose MinHash
    estimate clears {min_est} are re-scored with Levenshtein edit distance
    over the first {prefix} (ASCII-sanitized) characters — the
    fuzzy-match verifier for templated/boilerplate text where token-set
    Jaccard (:func:`docs_neardup_verified`) is blind to ordering.

    Scale shape: the O(len²) DP never runs on the corpus cross-product —
    candidates come from LSH bands, the estimate prefilter shrinks them
    again, and the per-pair cost is capped by the {prefix}-char prefix.
    Text joins in are shuffle-hash (corpus-sized side never broadcast).
    Cross-engine note: Spark's levenshtein counts codepoints, DuckDB's
    counts bytes — identical on ASCII, so non-ASCII is stripped BEFORE
    comparing (the sanitize also makes the metric printable-text-stable).
    ``sim = 1 - dist/max(len)`` is a single IEEE division.
    """
    est = docs_minhash_lsh(spark, sf_dir).filter(
        F.col("est_jaccard") >= _EDIT_MIN_EST
    )
    pref = F.substring(
        F.regexp_replace(F.col("text"), "[^ -~]", ""), 1, _EDIT_PREFIX
    )
    # consumed by both join sides: cache so the sanitize scan runs once
    texts = (
        t(spark, sf_dir, "documents").select("doc_id", pref.alias("pref")).cache()
    )
    ta = texts.select(F.col("doc_id").alias("doc_a"), F.col("pref").alias("pref_a"))
    tb = texts.select(F.col("doc_id").alias("doc_b"), F.col("pref").alias("pref_b"))
    dist = F.levenshtein("pref_a", "pref_b")
    longest = F.greatest(F.length("pref_a"), F.length("pref_b"))
    sim = F.when(longest == 0, F.lit(1.0)).otherwise(
        F.lit(1.0) - dist.cast("double") / longest.cast("double")
    )
    return (
        est.join(ta.hint("shuffle_hash"), "doc_a")
        .join(tb.hint("shuffle_hash"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "est_jaccard",
            dist.alias("edit_dist"),
            sim.alias("edit_sim"),
        )
    )


docs_editdist_neardup.__doc__ = docs_editdist_neardup.__doc__.format(
    min_est=_EDIT_MIN_EST, prefix=_EDIT_PREFIX
)


_EDITDIST_SQL = f"""
WITH {_MINHASH_CTES},
flt AS (SELECT * FROM est WHERE est_jaccard >= {_EDIT_MIN_EST}),
pref AS (
  SELECT doc_id,
         substr(regexp_replace(text, '[^ -~]', '', 'g'), 1, {_EDIT_PREFIX}) AS pref
  FROM documents
)
SELECT f.doc_a, f.doc_b, f.est_jaccard,
       levenshtein(pa.pref, pb.pref) AS edit_dist,
       CASE WHEN greatest(len(pa.pref), len(pb.pref)) = 0 THEN 1.0
            ELSE 1.0 - CAST(levenshtein(pa.pref, pb.pref) AS DOUBLE)
                       / CAST(greatest(len(pa.pref), len(pb.pref)) AS DOUBLE)
       END AS edit_sim
FROM flt f
JOIN pref pa ON f.doc_a = pa.doc_id
JOIN pref pb ON f.doc_b = pb.doc_id
"""


def docs_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by tf·(N/df) — the rational
    (log-free) TF-IDF variant so both engines compute exact integer-derived
    doubles (ln() is not correctly-rounded and differs across libms)."""
    d = t(spark, sf_dir, "documents")
    n_docs = d.count()  # tiny driver-side scalar, pinned into the plan
    tokens = d.select("doc_id", F.explode(_words()).alias("token"))
    tf = tokens.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_ = tokens.distinct().groupBy("token").agg(F.count("*").alias("df"))
    scored = tf.join(F.broadcast(df_), "token").select(
        "doc_id",
        "token",
        (F.col("tf") * F.lit(n_docs).cast("double") / F.col("df")).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "token", "tfidf", F.col("rn").cast("int").alias("term_rank"))
    )


_TFIDF_SQL = """
WITH tokens AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tokens GROUP BY doc_id, token),
df AS (SELECT token, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, token FROM tokens) GROUP BY token),
scored AS (
  SELECT doc_id, tf.token AS token,
         tf * CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) / df AS tfidf
  FROM tf JOIN df ON tf.token = df.token
)
SELECT doc_id, token, tfidf, CAST(rn AS INT) AS term_rank FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token ASC) AS rn
  FROM scored
) WHERE rn <= 3
"""


# ---------------------------------------------------------------------------
# BM25 ranked retrieval (OP-X-TEXT + OP-SORT-LIMIT): full-text search
# ---------------------------------------------------------------------------

_BM25_TERMS = ("spark", "merge", "window")  # the "user query"
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 15


def docs_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``_BM25_TOPK`` documents for a term query under BM25 scoring with
    the rational (log-free) idf ``(N - df + 0.5)/(df + 0.5)`` — same reason
    as docs_tfidf_topterms: ln() is libm-dependent, every operation here is
    IEEE-identical across engines.  Term scores are summed through exact
    decimal arithmetic so per-doc totals are accumulation-order-independent.

    Single-scan shape (r4 — the r3 plan re-inlined the token stream into
    dl/stats/tf/df and scanned ``documents`` 4×, EXPLAIN.md): ONE pass
    tokenizes and aggregates everything per-document — doc length plus a
    conditional tf counter per query term (the query is a small constant,
    so per-term columns beat per-term rows: no second shuffle, no df
    join).  That narrow frame (doc_id, dl, tf×|terms| ≈ 40 bytes/row) is
    localCheckpointed; corpus stats (N, Σdl, per-term df = docs with
    tf>0) are one cheap one-row agg over it, broadcast back by the
    cross-join, and scoring is a map-only projection over the checkpoint.
    At 10⁹ docs the checkpoint is ~40 GB spread across executors — far
    smaller than re-tokenizing 100 TB of text three extra times.  The
    final top-k is TakeOrderedAndProject (per-partition heads, no global
    sort).  Decimal note: the old per-term-row ``dsum`` summed
    CAST(ts AS DECIMAL(25,9)) in arbitrary row order; the fixed-order
    chain here adds the exact same decimals, so scores are bit-identical.
    """
    k1p1 = _BM25_K1 + 1.0
    omb = 1.0 - _BM25_B
    d = t(spark, sf_dir, "documents")
    tokens = d.select("doc_id", F.explode(_words()).alias("token"))
    per_doc = (
        tokens.groupBy("doc_id")
        .agg(
            F.count("*").alias("dl"),
            *[
                F.sum((F.col("token") == term).cast("long")).alias(f"tf_{i}")
                for i, term in enumerate(_BM25_TERMS)
            ],
        )
        .localCheckpoint(eager=True)
    )
    stats = per_doc.agg(
        F.sum("dl").alias("tot_dl"),
        F.count("*").alias("n_docs"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    avgdl = F.col("tot_dl").cast("double") / F.col("n_docs")

    def term_score(i: int):
        tf = F.col(f"tf_{i}")
        idf = (F.col("n_docs") - F.col(f"df_{i}") + F.lit(0.5)) / (
            F.col(f"df_{i}") + F.lit(0.5)
        )
        ts = (
            idf
            * (tf * F.lit(k1p1))
            / (tf + F.lit(_BM25_K1) * (F.lit(omb) + F.lit(_BM25_B) * F.col("dl") / avgdl))
        )
        return F.when(tf > 0, ts.cast("decimal(25,9)")).otherwise(
            F.lit(0).cast("decimal(25,9)")
        )

    matched = sum(
        ((F.col(f"tf_{i}") > 0).cast("long") for i in range(len(_BM25_TERMS))),
        F.lit(0).cast("long"),
    )
    score = sum(
        (term_score(i) for i in range(1, len(_BM25_TERMS))), term_score(0)
    ).cast("double")
    return (
        per_doc.crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            matched.alias("n_terms_matched"),
            score.alias("score"),
        )
        .filter(F.col("n_terms_matched") > 0)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(_BM25_TOPK)
    )


def _bm25_sql() -> str:
    tf_cols = ",\n         ".join(
        f"CAST(SUM(CASE WHEN token = '{term}' THEN 1 ELSE 0 END) AS BIGINT) AS tf_{i}"
        for i, term in enumerate(_BM25_TERMS)
    )
    df_cols = ",\n         ".join(
        f"CAST(SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_{i}"
        for i in range(len(_BM25_TERMS))
    )

    def ts(i: int) -> str:
        return (
            f"(CASE WHEN tf_{i} > 0 THEN CAST("
            f"((n_docs - df_{i} + 0.5) / (df_{i} + 0.5))"
            f" * (tf_{i} * {_BM25_K1 + 1.0!r})"
            f" / (tf_{i} + {_BM25_K1!r} * ({1.0 - _BM25_B!r} + {_BM25_B!r} * dl"
            f" / (CAST(tot_dl AS DOUBLE) / n_docs)))"
            f" AS DECIMAL(25,9)) ELSE CAST(0 AS DECIMAL(25,9)) END)"
        )

    matched = " + ".join(
        f"(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END)" for i in range(len(_BM25_TERMS))
    )
    score = " + ".join(ts(i) for i in range(len(_BM25_TERMS)))
    return f"""
WITH per_doc AS MATERIALIZED (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS dl,
         {tf_cols}
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
  GROUP BY doc_id
),
stats AS (
  SELECT CAST(SUM(dl) AS BIGINT) AS tot_dl, COUNT(*) AS n_docs,
         {df_cols}
  FROM per_doc
)
SELECT doc_id, n_terms_matched, score FROM (
  SELECT doc_id,
         CAST({matched} AS BIGINT) AS n_terms_matched,
         CAST({score} AS DOUBLE) AS score
  FROM per_doc CROSS JOIN stats
) WHERE n_terms_matched > 0
ORDER BY score DESC, doc_id ASC LIMIT {_BM25_TOPK}
"""


_BM25_SQL = _bm25_sql()


# ---------------------------------------------------------------------------
# Near-dup clusters: connected components over the LSH candidate graph
# ---------------------------------------------------------------------------

_CLUSTER_THRESHOLD = 0.25

#: cluster labels per (applicationId, sf_dir): the LSH → connected-components
#: pipeline is consumed by THREE catalog queries (docs_dup_clusters,
#: docs_deduped_corpus, docs_best_of_cluster) — compute it once per session
#: and hand each consumer the same localCheckpointed (doc_id, cluster_id)
#: frame.  The checkpoint is |docs| (long, long) pairs — tiny relative to
#: the corpus at any scale, and already the iterative-operator state shape.
_CLUSTER_LABEL_CACHE: dict = {}


def _cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _CLUSTER_LABEL_CACHE.get(key)
    if cached is not None:
        return cached
    from agf_data_ingestion_spark.operators.components import connected_components_star

    pairs = docs_minhash_lsh(spark, sf_dir).filter(
        F.col("est_jaccard") >= _CLUSTER_THRESHOLD
    )
    vertices = t(spark, sf_dir, "documents").select("doc_id")
    labels = (
        # r4: large-star/small-star — O(log d) alternations instead of
        # diameter-many propagation rounds; same min-label fixpoint
        connected_components_star(vertices, pairs, vertex_col="doc_id", src="doc_a", dst="doc_b")
        .select(F.col("id").alias("doc_id"), F.col("component").alias("cluster_id"))
        .localCheckpoint(eager=True)
    )
    _CLUSTER_LABEL_CACHE[key] = labels
    return labels


def docs_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster ids for near-duplicate groups: LSH candidate pairs above the
    estimate threshold become edges; each document's cluster is the minimum
    doc_id reachable (iterative min-label propagation, operators/
    components.py).  Oracle: a recursive-CTE transitive closure computes
    the identical fixpoint."""
    return _cluster_labels(spark, sf_dir)


_CLUSTERS_SQL = f"""
WITH RECURSIVE {_MINHASH_CTES},
e2 AS (
  SELECT doc_a AS src, doc_b AS dst FROM est WHERE est_jaccard >= {_CLUSTER_THRESHOLD}
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM est WHERE est_jaccard >= {_CLUSTER_THRESHOLD}
),
reach(node, root) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e2.dst, reach.root FROM reach JOIN e2 ON e2.src = reach.node
)
SELECT node AS doc_id, MIN(root) AS cluster_id FROM reach GROUP BY node
"""


# ---------------------------------------------------------------------------
# SimHash fingerprints (OP-X-DEDUP-NEAR, bitwise variant)
# ---------------------------------------------------------------------------


def simhash_votes(feats: DataFrame, hex_col: str, n_bits: int) -> DataFrame:
    """(doc_id, b, v): per-document ±1 vote sums for ``n_bits`` SimHash
    bits over a (doc_id, <hex_col>) feature-hash frame — the shared vote
    aggregation behind ``docs_simhash`` (64 bits) and
    ``media_phash_neardup`` (60 bits).

    Shape: NIBBLE-COUNT aggregation instead of a per-bit fan-out.  Each
    feature contributes n_bits/4 (pos, nibble) rows — 4× fewer than one
    row per bit — which map-combine to ≤ 16·n_bits/4 counted rows per
    document; a constant 16·n_bits static table (broadcast, KiBs) then
    expands counts to per-bit vote sums.  The vote total is an integer
    sum either way, so the result is bit-identical to the direct per-bit
    formulation the DuckDB oracles keep (integer sums are order-free)."""
    spark = feats.sparkSession
    n_nib = (n_bits + 3) // 4
    static = []
    for pos in range(1, n_nib + 1):
        for v in range(16):
            ch = "0123456789abcdef"[v]
            for off in range(4):
                b = (pos - 1) * 4 + off
                if b >= n_bits:
                    continue
                static.append((pos, ch, b, ((v >> (3 - off)) & 1) * 2 - 1))
    vt = spark.createDataFrame(static, "pos int, val string, b long, vote long")
    nib = (
        feats.select("doc_id", F.col(hex_col).alias("hx"))
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.lit(n_nib))).alias("pos"),
            "hx",
        )
        .select("doc_id", "pos", F.expr("substring(hx, pos, 1)").alias("val"))
    )
    counts = nib.groupBy("doc_id", "pos", "val").agg(F.count("*").alias("c"))
    return (
        counts.join(F.broadcast(vt), ["pos", "val"])
        .groupBy("doc_id", "b")
        .agg(F.sum(F.col("c") * F.col("vote")).alias("v"))
    )


def simhash_vote_expr(hex_col: str) -> str:
    """Spark SQL expression for the ±1 SimHash bit vote at bit column
    ``b``, reading a PRECOMPUTED md5-hex column: bit (3 - b%4) of the hex
    nibble b//4 — the trickiest cross-engine expression in the repo, kept
    in ONE place (consumers: docs_simhash here, media_phash_neardup in
    plans/media.py).  Takes the hex column, not the raw feature: an
    inline ``md5(col)`` here would re-hash the feature once per bit row
    (64× per word — measured 4 s → ~1 s at sf0.1)."""
    return (
        f"((shiftright(instr('0123456789abcdef',"
        f" substr({hex_col}, CAST(b / 4 AS INT) + 1, 1)) - 1,"
        f" 3 - CAST(b % 4 AS INT))) & 1) * 2 - 1"
    )


def simhash_vote_sql(hex_col: str) -> str:
    """DuckDB twin of :func:`simhash_vote_expr` — fully parenthesized
    (DuckDB gives >> and & equal precedence, CLAUDE.md)."""
    return (
        f"(((strpos('0123456789abcdef',"
        f" substr({hex_col}, CAST(b // 4 AS INT) + 1, 1)) - 1"
        f" >> (3 - CAST(b % 4 AS INT))) & 1) * 2 - 1)"
    )


def docs_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash over distinct words, emitted as a '0'/'1' bitstring.

    Bit b of word w = bit (3 - b%4) of md5(w)'s hex nibble b//4 — pure
    integer expressions, identical in both engines.  Bit votes (+1/-1) sum
    per document; sign gives the fingerprint bit.
    """
    # repartition the RAW doc rows by doc_id BEFORE the word fan-out (r4,
    # the docs_fingerprint shuffle-economy pattern): the partitioning is
    # preserved through every explode, so ALL downstream doc_id-keyed
    # aggregations (the nibble counts, the vote sums, the final bitstring
    # fold) are exchange-free — one corpus-bytes exchange total instead
    # of three keyed exchanges of gram-count volumes
    d = t(spark, sf_dir, "documents").repartition("doc_id")
    # hash ONCE per word, before the nibble fan-out (explode first — a
    # generator cannot nest inside md5).  r5: dedupe AFTER the explode —
    # array_distinct is interpreted and O(n²) per array, while the
    # post-explode distinct is an exchange-free aggregate here (the
    # repartition above already clusters doc_id)
    words = (
        d.select("doc_id", F.explode(_words()).alias("w"))
        .distinct()
        .select("doc_id", F.md5("w").alias("wh"))
    )
    votes = simhash_votes(words, "wh", 64)
    return votes.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("b", F.when(F.col("v") > 0, "1").otherwise("0").alias("bit")))),
                lambda x: x["bit"],
            ),
            "",
        ).alias("simhash_bits")
    )


_SIMHASH_SQL = f"""
WITH words AS (
  SELECT doc_id, md5(unnest(list_distinct(string_split(text, ' ')))) AS wh
  FROM documents
),
votes AS (
  SELECT doc_id, b, SUM({simhash_vote_sql('wh')}) AS v
  FROM words CROSS JOIN (SELECT unnest(range(0, 64)) AS b)
  GROUP BY doc_id, b
)
SELECT doc_id,
       string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END, '' ORDER BY b) AS simhash_bits
FROM votes GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Incremental near-dup: new batch vs existing corpus (OP-X-DEDUP-NEAR)
# ---------------------------------------------------------------------------

_INC_JACCARD_MIN = 0.2  # exact-Jaccard floor for flagging a new doc as a dup


def best_jaccard_matches(
    cands: DataFrame,
    sets_new: DataFrame,
    sets_dup: DataFrame,
    *,
    threshold: float = _INC_JACCARD_MIN,
) -> DataFrame:
    """Exact-verify candidate pairs and keep each new doc's best match.

    ``cands``: (new_id, dup_of); ``sets_new``/``sets_dup``: (doc_id, sset)
    with DISTINCT shingle arrays.  Returns (new_id, dup_of, jaccard) with
    jaccard ≥ ``threshold``, one row per new_id (jaccard-desc, dup_of-asc
    tiebreak).  Shared by the catalog query and the streaming sink so the
    verify/tiebreak semantics cannot drift apart.  Both set tables are
    one-row-per-doc (corpus-shaped) → ``shuffle_hash`` pinned."""
    sn = sets_new.select(
        F.col("doc_id").alias("new_id"),
        F.col("sset").alias("set_n"),
        F.size("sset").alias("sz_n"),
    )
    sc = sets_dup.select(
        F.col("doc_id").alias("dup_of"),
        F.col("sset").alias("set_c"),
        F.size("sset").alias("sz_c"),
    )
    inter = F.size(F.array_intersect("set_n", "set_c"))
    scored = (
        cands.join(sn.hint("shuffle_hash"), "new_id")
        .join(sc.hint("shuffle_hash"), "dup_of")
        .select(
            "new_id",
            "dup_of",
            (inter.cast("double") / (F.col("sz_n") + F.col("sz_c") - inter)).alias("jaccard"),
        )
    )
    w = Window.partitionBy("new_id").orderBy(F.desc("jaccard"), F.asc("dup_of"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("jaccard") >= threshold))
        .select("new_id", "dup_of", "jaccard")
    )


def docs_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion dedup: which NEW documents near-duplicate the
    EXISTING corpus?  (``doc_id % 5 == 0`` plays the new batch — 20% of any
    scale factor — and the rest the corpus.)

    The asymmetric LSH join is the increment's whole cost profile: the new
    batch is hashed/banded fresh, the corpus side reuses the same banding
    (in production: precomputed at ingest and bucket-stored by (band, bsig),
    so each increment shuffles only NEW-batch-sized data against co-located
    corpus buckets — no corpus rehash, no corpus broadcast, cost
    O(|new| + collisions) independent of |corpus|).  Candidates are then
    exact-verified with 3-gram Jaccard and each new doc keeps its single
    best corpus match (row_number, jaccard-desc with doc_id tiebreaker).

    Corpus-sided tables keep the ``shuffle_hash`` hint (CLAUDE.md: corpus
    must never be broadcast; small-sf stats would statically plan one).
    A boilerplate-skewed corpus bucket is rank-capped at
    ``_LSH_BUCKET_CAP`` members (same guard + oracle rule as
    :func:`docs_minhash_lsh`), so one 50k-member bucket contributes
    O(|new|·cap) candidates, not O(|new|·50k) — honest buckets (measured
    max 4 members) are untouched.
    """
    is_new = F.col("doc_id") % 5 == 0
    # cache sigs: the banding is referenced by BOTH filter sides (new +
    # corpus), which would otherwise tokenize-and-hash the corpus twice;
    # the cache entry is plan-identical to docs_minhash_lsh's, so
    # CacheManager shares one materialization across the whole catalog
    bands = _lsh_bands(_minhash_sigs(spark, sf_dir).cache())
    nb = bands.filter(is_new).alias("n")
    wc = Window.partitionBy("band", "bsig").orderBy("doc_id")
    cb = (
        bands.filter(~is_new)
        .withColumn("rk", F.row_number().over(wc))
        .filter(F.col("rk") <= _LSH_BUCKET_CAP)
        .hint("shuffle_hash")
        .alias("c")
    )
    cands = (
        nb.join(cb, (F.col("n.band") == F.col("c.band")) & (F.col("n.bsig") == F.col("c.bsig")))
        .select(F.col("n.doc_id").alias("new_id"), F.col("c.doc_id").alias("dup_of"))
        .distinct()
    )
    # cached: referenced by both filter sides, and plan-identical to
    # docs_neardup_verified's sets (one shared materialization)
    sets = (
        t(spark, sf_dir, "documents").select("doc_id", _shingles().alias("sset")).cache()
    )
    return best_jaccard_matches(
        cands, sets.filter(is_new), sets.filter(~is_new), threshold=_INC_JACCARD_MIN
    )


_INCREMENTAL_NEARDUP_SQL = f"""
WITH {_SIG_CTES},
crb AS (
  SELECT doc_id, band, sig,
         row_number() OVER (PARTITION BY band, sig ORDER BY doc_id) AS rk
  FROM bands WHERE doc_id % 5 <> 0
),
xcands AS (
  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS dup_of
  FROM bands a JOIN crb b ON a.band = b.band AND a.sig = b.sig
   AND b.rk <= {_LSH_BUCKET_CAP}
  WHERE a.doc_id % 5 = 0
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT x.new_id, x.dup_of, COUNT(sb.s) AS inter
  FROM xcands x
  JOIN sh sa ON x.new_id = sa.doc_id
  LEFT JOIN sh sb ON x.dup_of = sb.doc_id AND sa.s = sb.s
  GROUP BY x.new_id, x.dup_of
),
scored AS (
  SELECT i.new_id, i.dup_of,
         CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter) AS jaccard
  FROM inter i
  JOIN sizes sa ON i.new_id = sa.doc_id
  JOIN sizes sb ON i.dup_of = sb.doc_id
),
best AS (
  SELECT new_id, dup_of, jaccard,
         row_number() OVER (PARTITION BY new_id ORDER BY jaccard DESC, dup_of ASC) AS rn
  FROM scored
)
SELECT new_id, dup_of, jaccard FROM best WHERE rn = 1 AND jaccard >= {_INC_JACCARD_MIN}
"""


# ---------------------------------------------------------------------------
# Composite quality gate (OP-X-TEXT): Gopher-style keep/drop rules
# ---------------------------------------------------------------------------


def docs_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data quality gate: ordered Gopher-style rules, each doc
    keeps the FIRST failing rule as its drop reason (MassiveText filtering,
    Rae et al. 2021 — re-expressed as pure codegen column expressions).

    All ratios are integer-derived IEEE doubles (int/int division is
    correctly rounded, so both engines agree bit-for-bit); the whole gate
    is one map-only projection — no shuffle, no UDF, prunes to the three
    columns it reads at the scan.
    """
    return quality_gate_frame(t(spark, sf_dir, "documents"))


def quality_gate_frame(d: DataFrame) -> DataFrame:
    """The gate over ANY (doc_id, text) frame — shared by the catalog
    query and the incremental curation path (operators/curation.py),
    which gates NEW batches with the same rules."""
    w = _words()
    n_words = F.size(w)
    n_uniq = F.size(F.array_distinct(w))
    n_chars = F.length("text")
    n_stop = F.size(F.filter(w, lambda x: x.isin(*_STOPWORDS)))
    awl = (n_chars - (n_words - 1)).cast("double") / n_words
    stopr = n_stop.cast("double") / n_words
    uniqr = n_uniq.cast("double") / n_words
    reason = (
        F.when(n_words < 30, "too_short")
        .when((awl < 3.0) | (awl > 10.0), "word_length")
        .when(stopr < 0.05, "low_stopword")
        .when(uniqr < 0.4, "repetitive")
        .otherwise("ok")
    )
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        awl.alias("avg_word_len"),
        stopr.alias("stopword_ratio"),
        uniqr.alias("uniq_ratio"),
        (reason == "ok").alias("keep"),
        reason.alias("reason"),
    )


def docs_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition filters (Rae et al. 2021, Appendix A) adapted to
    the word-token structure of this corpus: per document, (1) the fraction
    of word occurrences that are repeats of an earlier word, (2) the
    fraction of word mass covered by the single most frequent bigram, and
    (3) the fraction of word positions covered by 3-grams that occur at
    least twice within the document (Gopher's duplicated-n-gram character
    fraction, with word positions in place of characters — the documents
    table has no line/paragraph structure to run the line-based rules on).

    All three signals are exact integers (parts-per-million via
    ``x · 10⁶ DIV n_words``; Spark ``DIV`` ≡ DuckDB ``//``), the top-bigram
    argmax is the engine-identical ``min(struct(-cnt, bigram))`` with the
    lexicographically-smallest tiebreak, and the duplicated-3-gram coverage
    is an interval union — ``sum(least(3, start − lag(start)))`` over the
    per-doc ordered duplicate starts — so every row is bit-identical to the
    DuckDB oracle.  The overlap-counting convention means ``top_bigram_ppm``
    can exceed 10⁶ for degenerate 'x x x …' docs, exactly as Gopher's
    character fraction can; the threshold comparison is unaffected.

    Scale shape: ONE physical corpus shuffle.  All four consumers (word
    dedup, word count, bigram counts, 3-gram coverage) read the IDENTICAL
    ``(doc_id, w)`` projection of one explicit doc_id repartition, so
    Catalyst's exchange reuse materializes the shuffle once and the other
    branches read its files (``ReusedExchange`` — test-pinned); the gram
    branches guard short docs with ``when``-projected empty arrays instead
    of ``filter`` precisely so predicate pushdown cannot differentiate the
    shared subtree (a pushed filter would fork the exchange per branch).
    Every downstream op is keyed on doc_id or a superset — HashPartitioning
    survives Generate — and the per-doc aggregate joins are shuffle-hash
    pinned (doc-count-sized frames must never broadcast), so they add no
    exchange either.  Gram extraction is explode(sequence) + element_at
    (whole-stage codegen), never a higher-order lambda; n-gram counting is
    a window over (doc_id, gram), not a self-join.
    """
    d = t(spark, sf_dir, "documents").select("doc_id", _words().alias("w"))
    rep = d.repartition("doc_id")
    n = F.size("w").cast("long")
    # (1) repeated-word mass: n_words − distinct words.  Post-explode
    # .distinct() + plain count, not count_distinct — the frame is already
    # doc_id-partitioned so the dedup is exchange-free and skips the
    # distinct-agg Expand (CLAUDE.md r5 rule).
    starts = lambda k: F.when(  # noqa: E731
        n >= k, F.sequence(F.lit(1), (n - (k - 1)).cast("int"))
    ).otherwise(F.array().cast("array<int>"))
    # n_words comes from the SAME exploded shape as every other branch
    # (count per doc over explode(starts(1))), not from size(w) on rep or a
    # bare explode(w) — a pruned size() projection OR the non-empty-array
    # filter Spark infers from explode(attribute) would land below the
    # exchange and fork the shared subtree.
    words = rep.select("doc_id", "w", F.explode(starts(1)).alias("i")).select(
        "doc_id", F.element_at("w", F.col("i")).alias("word")
    )
    nw = words.groupBy("doc_id").agg(F.count("*").alias("n_words"))
    uniq = (
        words.distinct().groupBy("doc_id").agg(F.count("*").alias("n_distinct"))
    )
    dupw = nw.join(uniq.hint("shuffle_hash"), "doc_id")
    # (2) most-frequent bigram: count per (doc, bigram), then the
    # engine-identical struct-min argmax (highest count, smallest bigram).
    g2 = rep.select(
        "doc_id", "w", F.explode(starts(2)).alias("i")
    ).select(
        "doc_id",
        F.concat_ws(
            " ", F.element_at("w", F.col("i")), F.element_at("w", F.col("i") + 1)
        ).alias("bg"),
    )
    topb = (
        g2.groupBy("doc_id", "bg")
        .agg(F.count("*").alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.min(F.struct((-F.col("cnt")).alias("nc"), F.col("bg").alias("bg"))).alias("s")
        )
        .select(
            "doc_id",
            F.col("s.bg").alias("top_bigram"),
            (-F.col("s.nc")).alias("top_bigram_n"),
        )
    )
    # (3) duplicated-3-gram coverage: starts whose gram text occurs ≥ 2×
    # in the doc, interval-unioned (each start covers [start, start+2]).
    g3 = rep.select(
        "doc_id", "w", F.explode(starts(3)).alias("i")
    ).select(
        "doc_id",
        F.col("i").cast("long").alias("start"),
        F.concat_ws(
            " ",
            F.element_at("w", F.col("i")),
            F.element_at("w", F.col("i") + 1),
            F.element_at("w", F.col("i") + 2),
        ).alias("g"),
    )
    cnt_w = Window.partitionBy("doc_id", "g")
    order_w = Window.partitionBy("doc_id").orderBy("start")
    cov = (
        g3.withColumn("cnt", F.count("*").over(cnt_w))
        .filter(F.col("cnt") >= 2)
        .withColumn(
            "nn",
            F.least(
                F.lit(3).cast("long"),
                F.col("start")
                - F.coalesce(F.lag("start").over(order_w), F.col("start") - 3),
            ),
        )
        .groupBy("doc_id")
        .agg(F.sum("nn").alias("dup3_cover"))
    )
    top_n = F.coalesce(F.col("top_bigram_n"), F.lit(0).cast("long"))
    dup3 = F.coalesce(F.col("dup3_cover"), F.lit(0).cast("long"))
    return (
        dupw.join(topb.hint("shuffle_hash"), "doc_id", "left")
        .join(cov.hint("shuffle_hash"), "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            F.coalesce(F.col("top_bigram"), F.lit("")).alias("top_bigram"),
            top_n.alias("top_bigram_n"),
            F.expr("(n_words - n_distinct) * 1000000 DIV n_words").alias("dup_word_ppm"),
            (top_n * 2 * 1000000).alias("_tb"),
            dup3.alias("_d3"),
        )
        .select(
            "doc_id",
            "n_words",
            "top_bigram",
            "top_bigram_n",
            "dup_word_ppm",
            F.expr("_tb DIV n_words").alias("top_bigram_ppm"),
            F.expr("_d3 * 1000000 DIV n_words").alias("dup3_ppm"),
        )
        .withColumn(
            "passes_repetition",
            (F.col("dup_word_ppm") <= 550000)
            & (F.col("top_bigram_ppm") <= 100000)
            & (F.col("dup3_ppm") <= 100000),
        )
    )


_REPETITION_SQL = """
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS w,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
  FROM documents
),
dupw AS (
  SELECT doc_id, any_value(n_words) AS n_words,
         count(DISTINCT word) AS n_distinct
  FROM (SELECT doc_id, n_words, unnest(w) AS word FROM base)
  GROUP BY doc_id
),
g2 AS (
  SELECT doc_id, w[i] || ' ' || w[i+1] AS bg
  FROM base, unnest(range(1, n_words)) AS t(i)
  WHERE n_words >= 2
),
topb AS (
  SELECT doc_id,
         (MIN({'nc': -cnt, 'bg': bg})).bg AS top_bigram,
         -(MIN({'nc': -cnt, 'bg': bg})).nc AS top_bigram_n
  FROM (SELECT doc_id, bg, count(*) AS cnt FROM g2 GROUP BY doc_id, bg)
  GROUP BY doc_id
),
g3 AS (
  SELECT doc_id, CAST(i AS BIGINT) AS start,
         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
  FROM base, unnest(range(1, n_words - 1)) AS t(i)
  WHERE n_words >= 3
),
gc AS (
  SELECT doc_id, start, count(*) OVER (PARTITION BY doc_id, g) AS cnt FROM g3
),
cov AS (
  SELECT doc_id, CAST(SUM(nn) AS BIGINT) AS dup3_cover FROM (
    SELECT doc_id,
           LEAST(CAST(3 AS BIGINT),
                 start - COALESCE(lag(start) OVER (PARTITION BY doc_id ORDER BY start),
                                  start - 3)) AS nn
    FROM gc WHERE cnt >= 2)
  GROUP BY doc_id
),
j AS (
  SELECT d.doc_id, d.n_words,
         COALESCE(t.top_bigram, '') AS top_bigram,
         COALESCE(t.top_bigram_n, CAST(0 AS BIGINT)) AS top_bigram_n,
         (d.n_words - d.n_distinct) * 1000000 // d.n_words AS dup_word_ppm,
         COALESCE(t.top_bigram_n, CAST(0 AS BIGINT)) * 2 * 1000000 // d.n_words AS top_bigram_ppm,
         COALESCE(c.dup3_cover, CAST(0 AS BIGINT)) * 1000000 // d.n_words AS dup3_ppm
  FROM dupw d LEFT JOIN topb t USING (doc_id) LEFT JOIN cov c USING (doc_id)
)
SELECT *,
       dup_word_ppm <= 550000 AND top_bigram_ppm <= 100000 AND dup3_ppm <= 100000
         AS passes_repetition
FROM j
"""


_QUALITY_GATE_SQL = f"""
WITH m AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS INT) AS n_words,
         CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
           / len(string_split(text, ' ')) AS avg_word_len,
         CAST(len(list_filter(string_split(text, ' '), x -> x IN {tuple(_STOPWORDS)!r})) AS DOUBLE)
           / len(string_split(text, ' ')) AS stopword_ratio,
         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
           / len(string_split(text, ' ')) AS uniq_ratio
  FROM documents
),
r AS (
  SELECT *,
         CASE WHEN n_words < 30 THEN 'too_short'
              WHEN avg_word_len < 3.0 OR avg_word_len > 10.0 THEN 'word_length'
              WHEN stopword_ratio < 0.05 THEN 'low_stopword'
              WHEN uniq_ratio < 0.4 THEN 'repetitive'
              ELSE 'ok' END AS reason
  FROM m
)
SELECT doc_id, n_words, avg_word_len, stopword_ratio, uniq_ratio,
       reason = 'ok' AS keep, reason
FROM r
"""


# ---------------------------------------------------------------------------
# Per-language calibrated quality gate (OP-X-TEXT + OP-X-SAMPLE): absolute
# thresholds (docs_quality_gate) systematically over-drop languages whose
# surface statistics differ from English (zh has no spaces-as-words, de has
# long compounds) — production pipelines calibrate per language by keeping
# a QUANTILE of each language's own score distribution instead.
# ---------------------------------------------------------------------------

_CALIBRATED_DROP_FRAC = 0.30  # drop the bottom 30% of each language


def docs_quality_calibrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative (per-language) quality gate: an integer-derived composite
    score — lexical diversity plus stopword mass, both scaled-BIGINT floor
    ratios — is percent-ranked WITHIN each language, and a doc is kept
    when it clears the bottom ``_CALIBRATED_DROP_FRAC`` of its own
    language's distribution.

    Determinism: the window orders by (score_micro, doc_id) so ranks are
    a total order; percent_rank = (rank-1)/(n-1) is the same
    BIGINT/BIGINT→DOUBLE division in both engines.  Scale: one map-only
    scoring projection, then one shuffle keyed on ``lang`` — `lang` has 5
    values (en ≈ 40%), so at scale the percentile is SKEW-ROUTED
    (operators/skew.py ``route_salted``) through salted_rank_intkey plus
    the exact (rank-1)/(n-1) binary64 replay ``pct_rank_expr``, which
    matches the single-window form the oracle keeps.
    """
    from agf_data_ingestion_spark.operators.skew import (
        pct_rank_expr,
        route_salted,
        salted_rank_intkey,
    )

    d = t(spark, sf_dir, "documents")
    w = _words()
    n_words = F.size(w)
    n_uniq = F.size(F.array_distinct(w))
    n_stop = F.size(F.filter(w, lambda x: x.isin(*_STOPWORDS)))
    scored = d.select(
        "doc_id",
        "lang",
        n_words.alias("n_words"),
        n_uniq.alias("n_uniq"),
        n_stop.alias("n_stop"),
    ).select(
        "doc_id",
        "lang",
        F.expr(
            "(1000000 * cast(n_uniq as bigint)) div n_words"
            " + (1000000 * cast(n_stop as bigint)) div n_words"
        ).alias("score_micro"),
    )
    if route_salted(d):
        # narrow per-doc frame, multiply consumed by the decomposition
        scored = scored.cache()
        ranked = salted_rank_intkey(scored, ["lang"], "score_micro", "doc_id")
        pct = ranked.select(
            "doc_id",
            "lang",
            "score_micro",
            pct_rank_expr("dr", "n_part").alias("lang_pct_rank"),
        )
    else:
        win = Window.partitionBy("lang").orderBy(
            F.asc("score_micro"), F.asc("doc_id")
        )
        pct = scored.select(
            "doc_id",
            "lang",
            "score_micro",
            F.percent_rank().over(win).alias("lang_pct_rank"),
        )
    return pct.withColumn(
        "keep", F.col("lang_pct_rank") >= F.lit(_CALIBRATED_DROP_FRAC)
    )


_QUALITY_CALIBRATED_SQL = f"""
WITH scored AS (
  SELECT doc_id, lang,
         (1000000 * CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT))
           // len(string_split(text, ' '))
         + (1000000 * CAST(len(list_filter(string_split(text, ' '),
                                           x -> x IN {tuple(sorted(_STOPWORDS))!r})) AS BIGINT))
           // len(string_split(text, ' ')) AS score_micro
  FROM documents
)
SELECT doc_id, lang, score_micro,
       percent_rank() OVER (PARTITION BY lang ORDER BY score_micro ASC, doc_id ASC)
         AS lang_pct_rank,
       percent_rank() OVER (PARTITION BY lang ORDER BY score_micro ASC, doc_id ASC)
         >= {_CALIBRATED_DROP_FRAC} AS keep
FROM scored
"""


QUERIES: dict[str, QuerySpec] = {
    "docs_quality_calibrated": QuerySpec(
        docs_quality_calibrated,
        _QUALITY_CALIBRATED_SQL,
        ("OP-X-CALIBRATE", "OP-X-QUALITY", "OP-X-TEXT", "OP-X-SAMPLE"),
    ),
    "docs_dedup_exact": QuerySpec(
        docs_dedup_exact, _DEDUP_EXACT_SQL, ("OP-X-DEDUP-EXACT", "OP-DEDUP-KEY")
    ),
    "docs_token_topk": QuerySpec(
        docs_token_topk, _TOKEN_TOPK_SQL, ("OP-X-TEXT", "OP-EXPLODE-RUN", "OP-SORT-LIMIT")
    ),
    "docs_pmi_bigrams": QuerySpec(
        docs_pmi_bigrams, _PMI_SQL, ("OP-X-PMI", "OP-X-TEXT", "OP-SORT-LIMIT")
    ),
    "docs_editdist_neardup": QuerySpec(
        docs_editdist_neardup, _EDITDIST_SQL, ("OP-X-DEDUP-NEAR", "OP-X-TEXT")
    ),
    "docs_text_stats": QuerySpec(docs_text_stats, _TEXT_STATS_SQL, ("OP-X-TEXT",)),
    "docs_lang_id": QuerySpec(docs_lang_id, _LANG_ID_SQL, ("OP-X-TEXT",)),
    "docs_fingerprint": QuerySpec(docs_fingerprint, _FINGERPRINT_SQL, ("OP-X-TEXT", "OP-X-DEDUP-EXACT")),
    "docs_tfidf_topterms": QuerySpec(docs_tfidf_topterms, _TFIDF_SQL, ("OP-X-TEXT",)),
    "docs_bm25_search": QuerySpec(
        docs_bm25_search, _BM25_SQL, ("OP-X-TEXT", "OP-SORT-LIMIT")
    ),
    "docs_ngram_jaccard": QuerySpec(docs_ngram_jaccard, _NGRAM_JACCARD_SQL, ("OP-X-DEDUP-NEAR",)),
    "docs_minhash_lsh": QuerySpec(docs_minhash_lsh, _MINHASH_SQL, ("OP-X-DEDUP-NEAR",)),
    "docs_neardup_verified": QuerySpec(
        docs_neardup_verified, _NEARDUP_VERIFIED_SQL, ("OP-X-DEDUP-NEAR",)
    ),
    "docs_dup_clusters": QuerySpec(
        docs_dup_clusters, _CLUSTERS_SQL, ("OP-X-DEDUP-NEAR", "OP-X-ITER", "OP-X-STARCC")
    ),
    "docs_simhash": QuerySpec(docs_simhash, _SIMHASH_SQL, ("OP-X-DEDUP-NEAR",)),
    "docs_incremental_neardup": QuerySpec(
        docs_incremental_neardup, _INCREMENTAL_NEARDUP_SQL, ("OP-X-DEDUP-NEAR", "OP-X-DEDUP-INC")
    ),
    "docs_quality_gate": QuerySpec(docs_quality_gate, _QUALITY_GATE_SQL, ("OP-X-TEXT", "OP-X-QUALITY")),
    "docs_repetition_signals": QuerySpec(
        docs_repetition_signals, _REPETITION_SQL, ("OP-X-REPETITION", "OP-X-QUALITY", "OP-X-TEXT")
    ),
}
