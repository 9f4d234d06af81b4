"""Training-data curation operators (§2.9 extension surface, the ops an
LLM-data pipeline runs after dedup/quality): deterministic stratified
sampling, token-budget packing, dedup-corpus materialization, and int8
embedding quantization for memory-bounded ANN.

Cross-engine notes: sampling uses md5-derived integers (Spark ``hash()`` is
murmur3, DuckDB's is different — never use engine hash() in oracle-checked
plans); quantization uses truncation casts (round() half-away vs half-even
differs across engines); packing uses an exact integer running sum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from agf_data_ingestion_spark.plans.base import QuerySpec, t

# ---------------------------------------------------------------------------
# Stratified sampling (OP-X-SAMPLE): per-source rates, reproducible
# ---------------------------------------------------------------------------

_RATES = {"src0": 100, "src1": 50, "src2": 25}  # percent, per stratum
_DEFAULT_RATE = 10


def docs_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep a per-source percentage of documents, chosen by a content-stable
    hash (md5 of doc_id) — the same doc is kept/dropped on every run, on
    every engine, regardless of partitioning (the property `sample()` and
    rand() don't give you)."""
    d = t(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 10), 16, 10).cast(
        "long"
    ) % 100
    rate = F.lit(_DEFAULT_RATE)
    for src, r in _RATES.items():
        rate = F.when(F.col("source") == src, F.lit(r)).otherwise(rate)
    return d.filter(bucket < rate).select("doc_id", "source", "lang", "n_chars")


_SAMPLE_SQL = f"""
SELECT doc_id, source, lang, n_chars
FROM documents
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 10))::BIGINT % 100 <
      CASE source
        {' '.join(f"WHEN '{s}' THEN {r}" for s, r in _RATES.items())}
        ELSE {_DEFAULT_RATE} END
"""


# ---------------------------------------------------------------------------
# Deterministic dataset split (OP-X-SPLIT): train/val/test by content hash
# ---------------------------------------------------------------------------

_SPLITS = (("train", 90), ("val", 5), ("test", 5))  # percent, cumulative order
#: cumulative bucket thresholds, interpolated into BOTH engines' CASEs so
#: editing _SPLITS can never desync the oracles from the Spark plans
_SPLIT_T1 = _SPLITS[0][1]
_SPLIT_T2 = _SPLITS[0][1] + _SPLITS[1][1]
_SPLIT_CASE_SQL = (
    f"CASE WHEN b < {_SPLIT_T1} THEN '{_SPLITS[0][0]}'"
    f" WHEN b < {_SPLIT_T2} THEN '{_SPLITS[1][0]}'"
    f" ELSE '{_SPLITS[2][0]}' END"
)


def split_assignment(doc_id_col: str = "doc_id") -> F.Column:
    """The train/val/test assignment column (salted md5 bucket) — shared by
    the catalog query and the curate CLI so every consumer assigns
    identically."""
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split:"), F.col(doc_id_col).cast("string"))), 1, 10
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    return (
        F.when(bucket < _SPLITS[0][1], F.lit("train"))
        .when(bucket < _SPLITS[0][1] + _SPLITS[1][1], F.lit("val"))
        .otherwise(F.lit("test"))
    )


def docs_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every document to train/val/test (90/5/5) by a salted md5
    bucket of its doc_id, then report the per-(split, source) manifest a
    training run records: document count, token count, character volume.

    The salt (``split:``) decorrelates the split hash from the sampling
    hash (:func:`docs_stratified_sample`) — a doc sampled-in is not thereby
    biased toward any split.  Hash-assignment is the scale story: no
    global shuffle or sort decides membership, any executor can answer
    "which split is this doc in?" stateless-ly, and the split is stable
    under corpus growth (adding docs never reassigns existing ones —
    unlike ``randomSplit``, which reshuffles everything).  One aggregation
    shuffle on the tiny (split, source) key space produces the manifest.
    """
    d = t(spark, sf_dir, "documents")
    return (
        d.select(
            split_assignment().alias("split"),
            "source",
            F.size(F.split("text", " ")).alias("n_tokens"),
            "n_chars",
        )
        .groupBy("split", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


_SPLIT_SQL = f"""
WITH assigned AS (
  SELECT {_SPLIT_CASE_SQL} AS split,
         source,
         len(string_split(text, ' ')) AS n_tokens,
         n_chars
  FROM (SELECT ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 10))::BIGINT % 100 AS b,
               source, text, n_chars
        FROM documents)
)
SELECT split, source, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM assigned
GROUP BY split, source
"""


def docs_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus datacard: the release-stats manifest every dataset ships
    with, as (section, key, value) rows — volume totals, language and
    source composition, exact-duplicate rate, and train/val/test sizes —
    all in a handful of metadata-sized aggregations over ONE logical
    corpus scan family (each section is a tiny groupBy; the unions cost
    nothing).  Values are exact BIGINT counts.
    """
    return datacard_frame(t(spark, sf_dir, "documents"))


def datacard_frame(d: DataFrame) -> DataFrame:
    """The datacard sections over ANY documents-shaped frame (doc_id,
    text, lang, source, n_chars) — shared by the catalog query (full
    corpus) and the curation pipeline's published release datacard
    (operators/curation.py)."""
    toks = F.size(F.split("text", " "))
    totals = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(toks).alias("n_tokens"),
        F.sum("n_chars").alias("n_chars"),
    ).selectExpr(
        "stack(3, 'total', 'docs', n_docs, 'total', 'tokens', n_tokens,"
        " 'total', 'chars', n_chars) AS (section, key, value)"
    )
    by_lang = d.groupBy(F.col("lang").alias("key")).agg(
        F.count(F.lit(1)).alias("value")
    ).select(F.lit("lang").alias("section"), "key", "value")
    by_source = d.groupBy(F.col("source").alias("key")).agg(
        F.count(F.lit(1)).alias("value")
    ).select(F.lit("source").alias("section"), "key", "value")
    dup = (
        d.groupBy(F.md5(F.lower(F.col("text"))).alias("h"))
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.sum(F.col("n") - 1).alias("value"))
        .select(
            F.lit("dedup").alias("section"),
            F.lit("exact_dup_docs").alias("key"),
            F.col("value"),
        )
    )
    splits = (
        d.select(split_assignment().alias("key"))
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("value"))
        .select(F.lit("split").alias("section"), "key", "value")
    )
    return totals.unionByName(by_lang).unionByName(by_source).unionByName(dup).unionByName(splits)


_DATACARD_SQL = f"""
SELECT 'total' AS section, 'docs' AS key, COUNT(*) AS value FROM documents
UNION ALL
SELECT 'total', 'tokens', CAST(SUM(len(string_split(text, ' '))) AS BIGINT) FROM documents
UNION ALL
SELECT 'total', 'chars', CAST(SUM(n_chars) AS BIGINT) FROM documents
UNION ALL
SELECT 'lang', lang, COUNT(*) FROM documents GROUP BY lang
UNION ALL
SELECT 'source', source, COUNT(*) FROM documents GROUP BY source
UNION ALL
SELECT 'dedup', 'exact_dup_docs', CAST(SUM(n - 1) AS BIGINT)
FROM (SELECT md5(lower(text)) AS h, COUNT(*) AS n FROM documents GROUP BY md5(lower(text)))
UNION ALL
SELECT 'split',
       {_SPLIT_CASE_SQL},
       COUNT(*)
FROM (SELECT ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 10))::BIGINT % 100 AS b
      FROM documents)
GROUP BY {_SPLIT_CASE_SQL}
"""


# ---------------------------------------------------------------------------
# Epoch shuffle (OP-X-SHUFFLE): the data-loader permutation as a query
# ---------------------------------------------------------------------------

_EPOCHS = 2


def docs_epoch_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic multi-epoch training order: each epoch is an
    independent pseudo-random permutation of the corpus, derived from
    ``md5(epoch:doc_id)`` — reproducible on any cluster, resumable from
    any position (seek = filter on position), and epochs are mutually
    decorrelated without any state carried between them.  This is the
    data-loader shuffle expressed as a query: at 100 TB you materialize
    (epoch, position, doc_id) once and every trainer rank reads its
    stripe — no shared-memory shuffle buffer, no coordination.

    Ties are impossible (md5 collisions aside) so the order is total.
    `epoch` has TWO values, so the keyed window funnels the whole corpus
    through two tasks; at scale the rank is SKEW-ROUTED
    (operators/skew.py ``route_salted``) through the hex-prefix
    decomposition ``salted_rank_hexkey`` — the md5 order key is uniform,
    so 256 cells per epoch balance evenly, and row_number over a total
    order is decomposition-exact."""
    from agf_data_ingestion_spark.operators.skew import (
        route_salted,
        salted_rank_hexkey,
    )

    d = t(spark, sf_dir, "documents")
    epochs = F.explode(F.array(*[F.lit(i) for i in range(_EPOCHS)])).alias("epoch")
    h = F.substring(
        F.md5(F.concat(F.col("epoch").cast("string"), F.lit(":"), F.col("doc_id").cast("string"))),
        1,
        16,
    )
    base = d.select("doc_id", epochs).withColumn("h", h)
    if route_salted(d):
        ranked = salted_rank_hexkey(
            base, ["epoch"], "h", "doc_id", out_rank="rn_g"
        ).drop("n_part")
    else:
        w = Window.partitionBy("epoch").orderBy("h", "doc_id")
        ranked = base.withColumn("rn_g", F.row_number().over(w).cast("long"))
    return ranked.select(
        F.col("epoch").cast("long").alias("epoch"),
        (F.col("rn_g") - 1).alias("position"),
        "doc_id",
    )


_EPOCH_ORDER_SQL = f"""
SELECT epoch, CAST(row_number() OVER (
         PARTITION BY epoch
         ORDER BY substr(md5(CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)), 1, 16),
                  doc_id) AS BIGINT) - 1 AS position,
       doc_id
FROM documents, unnest(range(0, {_EPOCHS})) AS u(epoch)
"""


# ---------------------------------------------------------------------------
# Token-budget packing (OP-X-PACK): bin documents into ~fixed token budgets
# ---------------------------------------------------------------------------

_BUDGET = 2000  # tokens per pack


def docs_token_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign documents (in doc_id order, per language) to sequential packs
    of ~_BUDGET whitespace tokens: pack = floor(running_token_count /
    budget).  The streaming-friendly approximation of bin packing — no
    driver loop; exact integer arithmetic on both engines.

    Scale shape (r11): `lang` has FIVE values (en ≈ 40%), so the
    per-language running sum is SKEW-ROUTED (operators/skew.py
    ``route_salted``) — one keyed window below the rule's size, else
    ``salted_prefix_sum_intkey`` (rank within (lang, doc_id-range salt)
    cells + cell-total offsets — doc_id is unique, so no tiebreaker;
    integer adds are order-free, so both plans are bit-identical)."""
    from agf_data_ingestion_spark.operators.skew import (
        route_salted,
        salted_prefix_sum_intkey,
    )

    d = t(spark, sf_dir, "documents")
    tokens = F.size(F.split("text", " "))
    base = d.select("doc_id", "lang", tokens.alias("n_tokens"))
    if route_salted(d):
        base = base.cache()  # narrow; bounds agg + both salted branches
        cummed = salted_prefix_sum_intkey(
            base, ["lang"], "n_tokens", "doc_id", out_col="_cum"
        )
    else:
        w = Window.partitionBy("lang").orderBy("doc_id").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        cummed = base.withColumn("_cum", F.sum("n_tokens").over(w))
    return cummed.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.floor((F.col("_cum") - 1) / _BUDGET).cast("long").alias("pack_id"),
    )


_PACKING_SQL = f"""
SELECT doc_id, lang,
       CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
       CAST(floor((SUM(len(string_split(text, ' ')))
                   OVER (PARTITION BY lang ORDER BY doc_id
                         ROWS UNBOUNDED PRECEDING) - 1) / {_BUDGET}) AS BIGINT) AS pack_id
FROM documents
"""


# ---------------------------------------------------------------------------
# Dedup-corpus materialization (OP-X-DEDUP-NEAR end-to-end)
# ---------------------------------------------------------------------------


def docs_deduped_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full near-dedup flow's OUTPUT: cluster the LSH candidate graph,
    keep the minimum doc_id of each cluster, return the surviving corpus
    (what you'd actually train on)."""
    from agf_data_ingestion_spark.plans.text import docs_dup_clusters

    clusters = docs_dup_clusters(spark, sf_dir)
    survivors = clusters.filter(F.col("doc_id") == F.col("cluster_id")).select("doc_id")
    d = t(spark, sf_dir, "documents")
    return d.join(survivors, "doc_id", "left_semi").select("doc_id", "source", "n_chars")


# reuse the cluster CTE machinery from text.py for the oracle
def _deduped_sql() -> str:
    from agf_data_ingestion_spark.plans.text import _CLUSTER_THRESHOLD, _MINHASH_CTES

    return f"""
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
),
clusters AS (SELECT node AS doc_id, MIN(root) AS cluster_id FROM reach GROUP BY node)
SELECT d.doc_id, d.source, d.n_chars
FROM documents d JOIN clusters c ON d.doc_id = c.doc_id
WHERE c.doc_id = c.cluster_id
"""


# ---------------------------------------------------------------------------
# Per-domain caps (OP-X-SAMPLE + OP-SORT-LIMIT): bound any one source's share
# ---------------------------------------------------------------------------

_DOMAIN_CAP = 15  # max docs kept per source


def docs_domain_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap every source/domain at ``_DOMAIN_CAP`` documents, keeping the
    highest-quality ones (CommonCrawl-style per-domain rate limiting — stops
    one boilerplate-heavy domain from dominating the training mix).

    Quality rank is exact-integer (word count desc, doc_id asc tiebreak) so
    both engines pick identical survivors.  Scale shape: ONE hash-partition
    window on source — no global sort, no driver state; a pathological
    mega-domain only skews its own partition and is exactly the case AQE
    skew-split handles (the window itself is bounded: rank K+1 rows stream
    through rank() and are dropped immediately)."""
    d = t(spark, sf_dir, "documents")
    n_words = F.size(F.split("text", " "))
    w = Window.partitionBy("source").orderBy(F.desc("n_words"), F.asc("doc_id"))
    return (
        d.select("doc_id", "source", n_words.alias("n_words"))
        .withColumn("src_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("src_rank") <= _DOMAIN_CAP)
    )


_DOMAIN_CAPS_SQL = f"""
SELECT doc_id, source, n_words, CAST(src_rank AS INT) AS src_rank FROM (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS INT) AS n_words,
         row_number() OVER (PARTITION BY source
                            ORDER BY CAST(len(string_split(text, ' ')) AS INT) DESC,
                                     doc_id ASC) AS src_rank
  FROM documents
) WHERE src_rank <= {_DOMAIN_CAP}
"""


# ---------------------------------------------------------------------------
# Best-of-cluster dedup (OP-X-DEDUP-NEAR end-to-end, quality-ranked keeper)
# ---------------------------------------------------------------------------


def docs_best_of_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup dedup that keeps the BEST document of each duplicate cluster
    instead of the arbitrary minimum id — the policy real pipelines want
    (of N mirrors of a page, keep the longest / highest-quality copy).

    Composes the LSH → connected-components cluster labels with an exact
    integer quality rank (word count desc, doc_id asc).  Scale shape: the
    ranking adds ONE window over cluster_id to the existing cluster
    pipeline; cluster sizes are bounded by near-dup group sizes (small), so
    the window partitions are tiny."""
    from agf_data_ingestion_spark.plans.text import docs_dup_clusters

    clusters = docs_dup_clusters(spark, sf_dir)
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n_words")
    )
    labeled = clusters.join(d.hint("shuffle_hash"), "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(F.desc("n_words"), F.asc("doc_id"))
    return (
        labeled.withColumn("rk", F.row_number().over(w))
        .withColumn(
            "cluster_size",
            F.count("*").over(Window.partitionBy("cluster_id")).cast("long"),
        )
        .filter(F.col("rk") == 1)
        .select("cluster_id", F.col("doc_id").alias("kept_doc_id"), "n_words", "cluster_size")
    )


def _best_of_cluster_sql() -> str:
    from agf_data_ingestion_spark.plans.text import _CLUSTER_THRESHOLD, _MINHASH_CTES

    return f"""
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
),
clusters AS (SELECT node AS doc_id, MIN(root) AS cluster_id FROM reach GROUP BY node),
labeled AS (
  SELECT c.cluster_id, d.doc_id,
         CAST(len(string_split(d.text, ' ')) AS INT) AS n_words
  FROM documents d JOIN clusters c ON d.doc_id = c.doc_id
)
SELECT cluster_id, kept_doc_id, n_words, cluster_size FROM (
  SELECT cluster_id, doc_id AS kept_doc_id, n_words,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY n_words DESC, doc_id ASC) AS rk,
         CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
  FROM labeled
) WHERE rk = 1
"""


# ---------------------------------------------------------------------------
# Repetition stats (OP-X-TEXT): Gopher-style rep-removal signals
# ---------------------------------------------------------------------------

_DUP_WORD_MAX = 0.55
_TOP_BIGRAM_MAX = 0.05


def docs_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition signals used by rep-removal quality filters
    (Gopher/RefinedWeb style): duplicate-word ratio, most-frequent-word and
    most-frequent-bigram fractions, and the resulting keep/drop flag.

    Shape: explode → two keyed aggregations (all codegen-friendly plain
    aggs — no higher-order folds in the hot path); everything reduces
    map-side first, so the shuffle carries (doc, term, count) partials, not
    text.  Ratios are BIGINT/BIGINT → DOUBLE divisions — identical IEEE
    ops in both engines.
    """
    d = t(spark, sf_dir, "documents").select("doc_id", F.split("text", " ").alias("w"))
    per_word = (
        d.select("doc_id", F.explode("w").alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("c"))
    )
    word_stats = per_word.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.count("*").alias("n_distinct_words"),
        F.max("c").alias("top_word_count"),
    )
    bigrams = d.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("w", 1, F.size("w") - 1),
                F.slice("w", 2, F.size("w") - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        ).alias("bigram"),
    )
    bigram_stats = (
        bigrams.groupBy("doc_id", "bigram")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n_bigrams"), F.max("c").alias("top_bigram_count"))
    )
    j = word_stats.join(bigram_stats, "doc_id")
    dup_ratio = F.lit(1.0) - F.col("n_distinct_words") / F.col("n_words")
    top_word_frac = F.col("top_word_count") / F.col("n_words")
    top_bigram_frac = F.col("top_bigram_count") / F.col("n_bigrams")
    return j.select(
        "doc_id",
        "n_words",
        "n_distinct_words",
        dup_ratio.alias("dup_word_ratio"),
        top_word_frac.alias("top_word_frac"),
        top_bigram_frac.alias("top_bigram_frac"),
        ((dup_ratio <= _DUP_WORD_MAX) & (top_bigram_frac <= _TOP_BIGRAM_MAX)).alias(
            "passes_rep_filter"
        ),
    )


_REPETITION_SQL = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
per_word AS (
  SELECT doc_id, word, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(w) AS word FROM w)
  GROUP BY doc_id, word
),
word_stats AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
         COUNT(*) AS n_distinct_words,
         CAST(MAX(c) AS BIGINT) AS top_word_count
  FROM per_word GROUP BY doc_id
),
per_bg AS (
  SELECT doc_id, bigram, COUNT(*) AS c
  FROM (SELECT doc_id,
               unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bigram
        FROM w)
  GROUP BY doc_id, bigram
),
bigram_stats AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
         CAST(MAX(c) AS BIGINT) AS top_bigram_count
  FROM per_bg GROUP BY doc_id
)
SELECT ws.doc_id, n_words, n_distinct_words,
       1.0 - n_distinct_words / n_words AS dup_word_ratio,
       top_word_count / n_words AS top_word_frac,
       top_bigram_count / n_bigrams AS top_bigram_frac,
       (1.0 - n_distinct_words / n_words) <= {_DUP_WORD_MAX}
         AND (top_bigram_count / n_bigrams) <= {_TOP_BIGRAM_MAX} AS passes_rep_filter
FROM word_stats ws JOIN bigram_stats USING (doc_id)
"""


# ---------------------------------------------------------------------------
# Decontamination (OP-X-TEXT / OP-X-DEDUP-NEAR): eval-set n-gram overlap
# ---------------------------------------------------------------------------

_CONTAM_N = 4  # shingle width, words (real pipelines use 8-13; the synthetic
# corpus' short docs need 4 to produce a non-trivial contaminated set)
_BENCH_DOCS = 10  # doc_id < _BENCH_DOCS plays the held-out benchmark set


def contam_shingles(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, sh): the distinct md5-16hex word-``_CONTAM_N``-gram
    shingles of each document — THE decontamination shingle convention
    (r10: module-level so curate_full can publish the benchmark set as a
    probe store and curate_incremental can probe it; docs_contamination
    below uses the identical construction)."""
    w = df.select("doc_id", F.split(text_col, " ").alias("w"))
    # guard: Spark's sequence(1, n) with n <= 0 counts DOWN (DuckDB's
    # range is simply empty) — short docs must be dropped, not reversed
    idx = F.sequence(F.lit(1), F.size("w") - (_CONTAM_N - 1))
    # r12: explode the index sequence FIRST, hash per row in codegen —
    # the transform-lambda form evaluated every md5 interpreted (the
    # CLAUDE.md higher-order-fold rule; same rewrite as the media pHash
    # gram stage, measured there 0.71 → 0.52 s at sf0.1)
    return (
        w.filter(F.size("w") >= _CONTAM_N)
        .select("doc_id", "w", F.explode(idx).alias("i"))
        .select(
            "doc_id",
            F.substring(
                F.md5(F.expr(f"array_join(slice(w, i, {_CONTAM_N}), ' ')")),
                1,
                16,
            ).alias("sh"),
        )
        .distinct()
    )


def docs_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-vs-benchmark contamination: flag corpus documents sharing
    any word-``_CONTAM_N``-gram with the (small) benchmark set, with the
    count of distinct shared shingles.  The standard decontamination pass
    before training.

    Scale shape: both sides shingle independently (explode over a sliding
    slice — map-only); the join keys on an md5-derived shingle hash, and
    the benchmark side is tiny → broadcast, so the corpus is never
    shuffled.  Never ship shingle text: 16-hex-digit hashes only.
    """
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = contam_shingles(d.filter(F.col("doc_id") >= _BENCH_DOCS))
    bench = contam_shingles(d.filter(F.col("doc_id") < _BENCH_DOCS)).select(
        F.col("sh"), F.col("doc_id").alias("bench_doc_id")
    )
    return (
        corpus.join(F.broadcast(bench), "sh")
        .groupBy("doc_id")
        .agg(
            F.count_distinct("sh").alias("n_shared_shingles"),
            F.count_distinct("bench_doc_id").alias("n_bench_docs_hit"),
        )
    )


_CONTAM_SQL = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         substr(md5(array_to_string(w[i:i+{_CONTAM_N - 1}], ' ')), 1, 16) AS sh
  FROM w, unnest(range(1, len(w) - {_CONTAM_N - 2})) AS t(i)
),
corpus AS (SELECT * FROM sh WHERE doc_id >= {_BENCH_DOCS}),
bench AS (SELECT doc_id AS bench_doc_id, sh FROM sh WHERE doc_id < {_BENCH_DOCS})
SELECT c.doc_id,
       COUNT(DISTINCT c.sh) AS n_shared_shingles,
       COUNT(DISTINCT b.bench_doc_id) AS n_bench_docs_hit
FROM corpus c JOIN bench b USING (sh)
GROUP BY c.doc_id
"""


def docs_decontam_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURGICAL benchmark decontamination: instead of dropping a
    contaminated document wholesale (:func:`docs_contamination` flags;
    real pipelines lose the whole doc), remove only the word spans
    covered by benchmark-shared ``_CONTAM_N``-grams — the
    span-removal decontamination OLMo/Dolma run, built from the exact
    substring-dedup span machinery (``docs_dup_span_extract``,
    plans/lm.py) pointed at a benchmark shingle set.

    Per contaminated corpus doc: flagged gram start positions merge into
    maximal disjoint spans (gap ≤ N overlaps/touches — one island rule,
    cf. lm.py), every covered word position is removed, and the output
    carries the span count, removed-word total, exact-integer removed
    ppm, and the md5 of the cleaned text.  ``clean_after_removal``
    re-shingles each kept SEGMENT independently (windows never cross a
    removal boundary — crossing windows are NEW grams the original text
    never contained, the Lee et al. caveat) and asserts zero residual
    benchmark shingles; by construction every window fully inside a kept
    segment was unflagged, so the column is a machine-checked TRUE on
    every row in both engines.

    Scale shape: the benchmark side is tiny → broadcast (the corpus is
    never shuffled to find hits); spans/removed positions are
    benchmark-bounded, but the CONTAMINATED-doc set is not provably so —
    the reconstruction semi-join keeps it shuffle-hash, never broadcast
    (the corpus-broadcast ban, CLAUDE.md); all windows and rebuilds are
    doc_id-partitioned with per-doc bounded frames.
    """
    k = _CONTAM_N
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    corpus = d.filter((F.col("doc_id") >= _BENCH_DOCS) & (F.size("w") >= k))

    def sh_of(arr):
        idx = F.sequence(F.lit(1), F.size(arr) - (k - 1))
        return F.transform(
            idx,
            lambda i: F.substring(F.md5(F.array_join(F.slice(arr, i, k), " ")), 1, 16),
        )

    bench_sh = (
        d.filter((F.col("doc_id") < _BENCH_DOCS) & (F.size("w") >= k))
        .select(F.explode(sh_of(F.col("w"))).alias("sh"))
        .distinct()
    )
    # corpus-side scan is the measured hot spot (r9 profile: 4.33 s of the
    # 4.43 s 10x-ladder wall, contaminated-doc tail flat at ~0.1 s): keep
    # the per-gram md5 in CODEGEN by exploding the index sequence and
    # hashing per row — the array-transform form evaluates its lambda
    # interpreted (the CLAUDE.md higher-order rule), measured 1.4x slower
    # at 10x.  Identical sh values: same 1-based slice, same md5.
    pos = (
        corpus.select(
            "doc_id",
            F.size("w").cast("long").alias("n_words"),
            "w",
            F.explode(F.sequence(F.lit(1), F.size("w") - (k - 1))).alias("i0"),
        )
        .select(
            "doc_id",
            "n_words",
            F.col("i0").cast("long").alias("i"),
            F.substring(
                F.md5(F.array_join(F.expr(f"slice(w, i0, {k})"), " ")), 1, 16
            ).alias("sh"),
        )
    )
    hits = pos.join(F.broadcast(bench_sh), "sh").select("doc_id", "n_words", "i")

    win = Window.partitionBy("doc_id").orderBy("i")
    spans = (
        hits.withColumn(
            "brk",
            F.when(F.col("i") - F.lag("i").over(win) > k, F.lit(1)).otherwise(F.lit(0)),
        )
        .withColumn(
            "grp",
            F.sum("brk").over(
                win.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("doc_id", "n_words", "grp")
        .agg(
            F.min("i").alias("s"),
            (F.max("i") + F.lit(k - 1)).alias("e"),
        )
    )
    per_doc = spans.groupBy("doc_id", "n_words").agg(
        F.count("*").cast("long").alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).cast("long").alias("words_removed"),
    )
    removed = spans.select(
        "doc_id", F.explode(F.sequence(F.col("s"), F.col("e"))).alias("pos")
    )
    # rebuild only the contaminated docs; the set is not provably tiny →
    # semi-join stays a shuffle join
    kept = (
        corpus.join(per_doc.select("doc_id").hint("shuffle_hash"), "doc_id", "left_semi")
        .select("doc_id", F.posexplode("w").alias("p0", "word"))
        .select("doc_id", (F.col("p0") + 1).cast("long").alias("pos"), "word")
        .join(removed, ["doc_id", "pos"], "left_anti")
    )
    winp = Window.partitionBy("doc_id").orderBy("pos")
    kept_seg = kept.withColumn(
        "sbrk",
        F.when(F.col("pos") - F.lag("pos").over(winp) > 1, F.lit(1)).otherwise(F.lit(0)),
    ).withColumn(
        "seg",
        F.sum("sbrk").over(
            winp.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    cleaned = kept_seg.groupBy("doc_id").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "word"))),
                    lambda x: x["word"],
                ),
                " ",
            )
        ).alias("cleaned_hash")
    )
    seg_words = kept_seg.groupBy("doc_id", "seg").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "word"))), lambda x: x["word"]
        ).alias("sw")
    )
    residual = (
        seg_words.filter(F.size("sw") >= k)
        .select("doc_id", F.explode(sh_of(F.col("sw"))).alias("sh"))
        .join(F.broadcast(bench_sh), "sh")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("res_n"))
    )
    return (
        per_doc.join(cleaned, "doc_id", "left")
        .join(residual, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            "n_spans",
            "words_removed",
            F.expr("CAST(words_removed * 1000000 DIV n_words AS BIGINT)").alias(
                "removed_ppm"
            ),
            F.coalesce(F.col("cleaned_hash"), F.md5(F.lit(""))).alias("cleaned_hash"),
            (F.coalesce(F.col("res_n"), F.lit(0)) == 0).alias("clean_after_removal"),
        )
    )


_DECONTAM_SPAN_SQL = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
corpus AS (
  SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n_words FROM w
  WHERE doc_id >= {_BENCH_DOCS} AND len(w) >= {_CONTAM_N}
),
bench_sh AS (
  SELECT DISTINCT substr(md5(array_to_string(w[i:i+{_CONTAM_N - 1}], ' ')), 1, 16) AS sh
  FROM w, unnest(range(1, len(w) - {_CONTAM_N - 2})) AS t(i)
  WHERE doc_id < {_BENCH_DOCS} AND len(w) >= {_CONTAM_N}
),
pos AS (
  SELECT doc_id, n_words, i,
         substr(md5(array_to_string(w[i:i+{_CONTAM_N - 1}], ' ')), 1, 16) AS sh
  FROM corpus, unnest(range(1, n_words - {_CONTAM_N - 2})) AS t(i)
),
hits AS (SELECT doc_id, n_words, i FROM pos JOIN bench_sh USING (sh)),
flagged AS (
  SELECT doc_id, n_words, i,
         CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i)
                   > {_CONTAM_N} THEN 1 ELSE 0 END AS brk
  FROM hits
),
islands AS (
  SELECT doc_id, n_words, i,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY i
                        ROWS UNBOUNDED PRECEDING) AS grp
  FROM flagged
),
spans AS (
  SELECT doc_id, n_words, grp, MIN(i) AS s, MAX(i) + {_CONTAM_N - 1} AS e
  FROM islands GROUP BY doc_id, n_words, grp
),
per_doc AS (
  SELECT doc_id, n_words,
         CAST(COUNT(*) AS BIGINT) AS n_spans,
         CAST(SUM(e - s + 1) AS BIGINT) AS words_removed
  FROM spans GROUP BY doc_id, n_words
),
removed AS (
  SELECT doc_id, pos FROM spans, unnest(range(s, e + 1)) AS t(pos)
),
allw AS (
  SELECT c.doc_id, t.pos, c.w[t.pos] AS word
  FROM corpus c, unnest(range(1, c.n_words + 1)) AS t(pos)
  WHERE c.doc_id IN (SELECT doc_id FROM per_doc)
),
kept AS (
  SELECT a.doc_id, a.pos, a.word
  FROM allw a LEFT JOIN removed r ON a.doc_id = r.doc_id AND a.pos = r.pos
  WHERE r.pos IS NULL
),
kflag AS (
  SELECT doc_id, pos, word,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   > 1 THEN 1 ELSE 0 END AS sbrk
  FROM kept
),
kseg AS (
  SELECT doc_id, pos, word,
         SUM(sbrk) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS UNBOUNDED PRECEDING) AS seg
  FROM kflag
),
cleaned AS (
  SELECT doc_id,
         md5(array_to_string(list(word ORDER BY pos), ' ')) AS cleaned_hash
  FROM kseg GROUP BY doc_id
),
segw AS (
  SELECT doc_id, seg, list(word ORDER BY pos) AS sw
  FROM kseg GROUP BY doc_id, seg
),
seg_sh AS (
  SELECT doc_id,
         substr(md5(array_to_string(sw[i:i+{_CONTAM_N - 1}], ' ')), 1, 16) AS sh
  FROM segw, unnest(range(1, len(sw) - {_CONTAM_N - 2})) AS t(i)
  WHERE len(sw) >= {_CONTAM_N}
),
residual AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS res_n
  FROM seg_sh JOIN bench_sh USING (sh) GROUP BY doc_id
)
SELECT p.doc_id, p.n_words, p.n_spans, p.words_removed,
       CAST(p.words_removed * 1000000 // p.n_words AS BIGINT) AS removed_ppm,
       coalesce(c.cleaned_hash, md5('')) AS cleaned_hash,
       (coalesce(r.res_n, 0) = 0) AS clean_after_removal
FROM per_doc p
LEFT JOIN cleaned c ON p.doc_id = c.doc_id
LEFT JOIN residual r ON p.doc_id = r.doc_id
"""


# --- Bloom-filter decontamination (OP-X-BLOOM) ------------------------------

_BLOOM_BITS = 65536  # m: filter size in bits (power of two)
_BLOOM_WORD = 32  # bits per word — staying < 2^31 keeps every shift/mask
# positive in both engines (no sign-bit traps in BIGINT << / >> / &)
_BLOOM_K = 4  # hash functions; FP rate ≈ (1 - e^{-k·n/m})^k


def docs_bloom_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination via a deterministic Bloom filter: the
    benchmark shingle set is folded into an ``m = 65536``-bit filter
    (2048 × 32-bit words built with one ``bit_or`` aggregation), and every
    corpus shingle probes the filter map-side.  Output: corpus docs with
    ≥1 maybe-contaminated shingle, their shingle counts, and the hit rate.

    This is the 100 TB shape of :func:`docs_contamination`: the exact
    semi-join shuffles corpus shingle hashes to meet the benchmark set,
    while the Bloom pass broadcasts O(m) bits — INDEPENDENT of benchmark
    size for a fixed FP budget — and the corpus is probed without any
    shuffle before the final per-doc aggregation.  False positives are
    one-sided (never misses a real collision), so the filter safely
    prefilters for the exact join.  All k positions come from md5
    arithmetic (never engine ``hash()``), so the filter content — and
    therefore the result — is bit-identical across engines.
    """
    d = t(spark, sf_dir, "documents").select("doc_id", F.split("text", " ").alias("w"))
    idx = F.sequence(F.lit(1), F.size("w") - (_CONTAM_N - 1))
    # r12: explode-then-hash in codegen (see contam_shingles — the
    # transform-lambda form ran every md5 interpreted)
    sh = (
        d.filter(F.size("w") >= _CONTAM_N)
        .select("doc_id", "w", F.explode(idx).alias("i"))
        .select(
            "doc_id",
            F.substring(
                F.md5(F.expr(f"array_join(slice(w, i, {_CONTAM_N}), ' ')")),
                1,
                16,
            ).alias("sh"),
        )
        .distinct()
    )
    js = F.explode(F.array(*[F.lit(j) for j in range(_BLOOM_K)])).alias("j")
    pos = (
        F.conv(
            F.substring(F.md5(F.concat(F.col("sh"), F.lit(":"), F.col("j"))), 1, 15),
            16,
            10,
        ).cast("long")
        % _BLOOM_BITS
    )
    positioned = lambda df: (  # noqa: E731
        df.select(*df.columns, js)
        .withColumn("pos", pos)
        .withColumn("word", F.expr(f"pos DIV {_BLOOM_WORD}"))
        .withColumn("bit", (F.col("pos") % _BLOOM_WORD).cast("int"))
    )
    words = (
        positioned(sh.filter(F.col("doc_id") < _BENCH_DOCS).select("sh").distinct())
        .groupBy("word")
        .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), bit))").alias("bits"))
    )
    probes = positioned(sh.filter(F.col("doc_id") >= _BENCH_DOCS)).join(
        F.broadcast(words), "word", "left"
    )
    hit = F.when(
        F.col("bits").isNotNull()
        & (F.expr("(shiftright(bits, bit) & CAST(1 AS BIGINT))") == 1),
        1,
    ).otherwise(0)
    per_shingle = probes.groupBy("doc_id", "sh").agg(F.min(hit).alias("maybe"))
    return (
        per_shingle.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum("maybe").alias("n_maybe_contaminated"),
        )
        .filter(F.col("n_maybe_contaminated") > 0)
        .withColumn(
            "hit_rate",
            F.col("n_maybe_contaminated").cast("double")
            / F.col("n_shingles").cast("double"),
        )
    )


_BLOOM_SQL = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         substr(md5(array_to_string(w[i:i+{_CONTAM_N - 1}], ' ')), 1, 16) AS sh
  FROM w, unnest(range(1, len(w) - {_CONTAM_N - 2})) AS t(i)
),
pos AS (
  SELECT doc_id, sh, j,
         (('0x' || substr(md5(sh || ':' || CAST(j AS VARCHAR)), 1, 15))::BIGINT)
           % {_BLOOM_BITS} AS pos
  FROM sh, unnest(range(0, {_BLOOM_K})) AS u(j)
),
cells AS (
  SELECT doc_id, sh, (pos // {_BLOOM_WORD}) AS word,
         (pos % {_BLOOM_WORD}) AS bit
  FROM pos
),
words AS (
  SELECT word, bit_or(((1::BIGINT) << (bit))) AS bits
  FROM (SELECT DISTINCT sh, word, bit FROM cells WHERE doc_id < {_BENCH_DOCS})
  GROUP BY word
),
per_shingle AS (
  SELECT c.doc_id, c.sh,
         MIN(CASE WHEN w.bits IS NOT NULL
                   AND (((w.bits >> (c.bit)) & (1::BIGINT)) = 1)
              THEN 1 ELSE 0 END) AS maybe
  FROM cells c LEFT JOIN words w ON c.word = w.word
  WHERE c.doc_id >= {_BENCH_DOCS}
  GROUP BY c.doc_id, c.sh
)
SELECT doc_id, COUNT(*) AS n_shingles,
       CAST(SUM(maybe) AS BIGINT) AS n_maybe_contaminated,
       CAST(SUM(maybe) AS BIGINT) / CAST(COUNT(*) AS DOUBLE) AS hit_rate
FROM per_shingle
GROUP BY doc_id
HAVING CAST(SUM(maybe) AS BIGINT) > 0
"""


# ---------------------------------------------------------------------------
# Int8 embedding quantization (OP-X-QUANT): 4x memory for ANN at scale
# ---------------------------------------------------------------------------


def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization: scale = max(|x|)/127,
    q_i = trunc(x_i / scale).  Truncation (not round) keeps both engines
    bit-agreed; reconstruction error <= scale.  Output: the quantized
    vector stats + exact integer self-dot (what an int8 ANN kernel uses)."""
    e = t(spark, sf_dir, "embeddings")
    absmax = F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double"))))
    scale = absmax / F.lit(127.0)
    # r12: materialize the quantized array and the integer self-dot ONCE
    # per row — the single-projection form re-evaluated the INTERPRETED
    # transform/zip_with/aggregate lambdas per consumer (q referenced by
    # max/min/dot = 4 evaluations, the dot twice more); staged selects
    # survive CollapseProject because the referenced exprs are non-cheap.
    # Same expressions, same per-element IEEE ops — bit-identical output.
    q = F.transform(
        "embedding", lambda x: (x.cast("double") / F.col("scale")).cast("int")
    )
    qdot = F.aggregate(
        F.zip_with(F.col("qv"), F.col("qv"), lambda a, b: (a * b).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (
        e.select("vec_id", "embedding", scale.alias("scale"))
        .select("vec_id", "scale", q.alias("qv"))
        .select("vec_id", "scale", "qv", qdot.alias("q_self_dot"))
        .select(
            "vec_id",
            "scale",
            F.array_max("qv").alias("q_max"),
            F.array_min("qv").alias("q_min"),
            "q_self_dot",
            (F.sqrt(F.col("q_self_dot").cast("double")) * F.col("scale")).alias(
                "l2_norm_approx"
            ),
        )
    )


_QUANT_SQL = """
WITH prep AS (
  SELECT vec_id,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale,
         embedding
  FROM embeddings
),
q AS (
  SELECT vec_id, scale,
         list_transform(embedding, x -> CAST(trunc(CAST(x AS DOUBLE) / scale) AS INT)) AS qv
  FROM prep
)
SELECT vec_id, scale,
       list_max(qv) AS q_max,
       list_min(qv) AS q_min,
       list_reduce(list_prepend(CAST(0 AS BIGINT),
                                list_transform(qv, v -> CAST(v AS BIGINT) * v)),
                   (a, b) -> a + b) AS q_self_dot,
       sqrt(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                                          list_transform(qv, v -> CAST(v AS BIGINT) * v)),
                             (a, b) -> a + b) AS DOUBLE)) * scale AS l2_norm_approx
FROM q
"""


# ---------------------------------------------------------------------------
# Cross-document span dedup (OP-X-DEDUP-NEAR, substring-dedup shape):
# the "Deduplicating Training Data Makes Language Models Better" pass —
# find word spans repeated across documents, score each doc by how much of
# it is cross-corpus duplicated text.
# ---------------------------------------------------------------------------

_SPAN_N = 6  # span width in words (real pipelines: 50-token substrings)


def docs_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-duplication profile: every positional
    ``_SPAN_N``-word span is hashed; a span is *duplicated* when its hash
    occurs in ≥ 2 distinct documents; each doc reports total spans,
    duplicated spans, and the duplicated fraction.

    Scale shape: explode is map-only; span *hashes* (16 hex chars), never
    span text, go through the two shuffles (distinct + groupBy); the
    span→frequency join is a shuffle hash join on the hash — both sides are
    corpus-sized, nothing is broadcast.  The exact analog of suffix-array
    substring dedup, restricted to fixed width so it stays one relational
    pass.
    """
    d = t(spark, sf_dir, "documents").select("doc_id", F.split("text", " ").alias("w"))
    idx = F.sequence(F.lit(1), F.size("w") - (_SPAN_N - 1))
    # r12: explode-then-hash in codegen (see contam_shingles)
    spans = (
        d.filter(F.size("w") >= _SPAN_N)
        .select("doc_id", "w", F.explode(idx).alias("i"))
        .select(
            "doc_id",
            F.substring(
                F.md5(F.expr(f"array_join(slice(w, i, {_SPAN_N}), ' ')")),
                1,
                16,
            ).alias("sh"),
        )
    )
    span_docs = spans.distinct().groupBy("sh").agg(F.count("*").alias("ndocs"))
    return (
        spans.join(span_docs.hint("shuffle_hash"), "sh")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(F.when(F.col("ndocs") >= 2, 1).otherwise(0)).alias("n_dup_spans"),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_dup_spans",
            (F.col("n_dup_spans").cast("double") / F.col("n_spans")).alias(
                "dup_span_ratio"
            ),
        )
    )


_SPAN_DEDUP_SQL = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
spans AS (
  SELECT doc_id, substr(md5(array_to_string(w[i:i+{_SPAN_N - 1}], ' ')), 1, 16) AS sh
  FROM w, unnest(range(1, len(w) - {_SPAN_N - 2})) AS t(i)
  WHERE len(w) >= {_SPAN_N}
),
span_docs AS (
  SELECT sh, COUNT(*) AS ndocs FROM (SELECT DISTINCT doc_id, sh FROM spans) GROUP BY sh
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
       CAST(SUM(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
         AS dup_span_ratio
FROM spans JOIN span_docs USING (sh)
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Corpus-frequency boilerplate scoring (OP-X-TEXT): RefinedWeb-style —
# tokens that appear in most documents are boilerplate; a doc dominated by
# them carries little signal.
# ---------------------------------------------------------------------------

_BOILER_DF_FRAC = 0.5  # token is boilerplate when present in > 50% of docs


def docs_boilerplate_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fraction of each document's token OCCURRENCES whose token appears in
    more than ``_BOILER_DF_FRAC`` of all documents.

    Scale shape: the document-frequency table reduces to one row per
    distinct token (map-side partial agg), is cut to boilerplate tokens
    only, and that small set broadcasts back onto the token stream — the
    corpus is exploded map-only and aggregated once per doc; exactly the
    TF-IDF df pass reused as a filter.
    """
    d = t(spark, sf_dir, "documents")
    n_docs = d.count()  # tiny driver-side scalar, pinned into the plan
    tokens = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    boiler = (
        tokens.distinct()
        .groupBy("token")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > int(_BOILER_DF_FRAC * n_docs))
        .select("token", F.lit(1).alias("is_boiler"))
    )
    return (
        tokens.join(F.broadcast(boiler), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.coalesce("is_boiler", F.lit(0))).alias("n_boiler_tokens"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_boiler_tokens",
            (F.col("n_boiler_tokens").cast("double") / F.col("n_tokens")).alias(
                "boiler_ratio"
            ),
        )
    )


_BOILER_SQL = f"""
WITH tokens AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
boiler AS (
  SELECT token FROM (
    SELECT token, COUNT(*) AS df
    FROM (SELECT DISTINCT doc_id, token FROM tokens) GROUP BY token
  ) WHERE df > CAST(FLOOR({_BOILER_DF_FRAC} * (SELECT COUNT(*) FROM documents)) AS BIGINT)
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN b.token IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_boiler_tokens,
       CAST(SUM(CASE WHEN b.token IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
         AS boiler_ratio
FROM tokens t LEFT JOIN boiler b ON t.token = b.token
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Overlapping-chunk extraction (OP-X-CHUNK): RAG / context-window prep
# ---------------------------------------------------------------------------

_CHUNK_LEN = 120  # chars per chunk (real pipelines: ~512-2048 tokens)
_CHUNK_STRIDE = 90  # 25% overlap


def docs_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding fixed-width chunks with overlap — the retrieval/training prep
    pass that turns documents into context-window-sized pieces.  Emits the
    chunk's position, length, and content hash (not the text: at 100 TB the
    chunk table should carry offsets + hashes, with text re-sliced lazily
    from the source at consumption time).

    Shape: pure map-only explode — no shuffle at all; chunk count per doc is
    ``floor((len-1)/stride)+1`` so every char is covered and the last chunk
    may run short.  Guard: the chunk-index sequence uses ``greatest(len-1,0)``
    because Spark's ``sequence(0, n)`` with negative ``n`` counts DOWN
    (DuckDB's ``range`` would be empty — see module traps in CLAUDE.md).
    """
    d = t(spark, sf_dir, "documents")
    n_ids = F.expr(f"greatest(length(text) - 1, 0) div {_CHUNK_STRIDE}")
    c = d.select(
        "doc_id", "text", F.explode(F.sequence(F.lit(0), n_ids)).alias("chunk_id")
    )
    start = (F.col("chunk_id") * _CHUNK_STRIDE + 1).cast("long")
    chunk = F.substring(F.col("text"), start.cast("int"), F.lit(_CHUNK_LEN))
    return c.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        start.alias("chunk_start"),
        F.length(chunk).cast("long").alias("chunk_chars"),
        F.substring(F.md5(chunk), 1, 16).alias("chunk_hash"),
    )


_CHUNKED_SQL = f"""
SELECT doc_id,
       CAST(i AS BIGINT) AS chunk_id,
       CAST(i * {_CHUNK_STRIDE} + 1 AS BIGINT) AS chunk_start,
       CAST(length(substr(text, i * {_CHUNK_STRIDE} + 1, {_CHUNK_LEN})) AS BIGINT)
         AS chunk_chars,
       substr(md5(substr(text, i * {_CHUNK_STRIDE} + 1, {_CHUNK_LEN})), 1, 16)
         AS chunk_hash
FROM documents,
     unnest(range(0, greatest(length(text) - 1, 0) // {_CHUNK_STRIDE} + 1)) AS u(i)
"""


# ---------------------------------------------------------------------------
# Training-mixture weights (OP-X-MIX): temperature-sampled source shares
# ---------------------------------------------------------------------------


def docs_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sampling weights for a training mixture, temperature-
    flattened with alpha = 0.5: ``w = n_tokens^0.5``, share = ``w / Σw``
    (the multilingual-sampling trick — small sources are upweighted
    relative to proportional sampling).

    alpha is 0.5 specifically because ``sqrt`` is IEEE-correctly-rounded
    (bit-identical across engines) while ``pow(x, 0.7)`` is libm-dependent;
    the share denominator goes through the module's exact decimal-sum so
    the 3-5-row total is accumulation-order-independent.
    """
    d = t(spark, sf_dir, "documents")
    tokens = F.size(F.split("text", " ")).cast("long")
    per = d.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum(tokens).alias("n_tokens")
    )
    w = F.sqrt(F.col("n_tokens").cast("double"))
    total = (
        F.sum(w.cast("decimal(25,6)"))
        .over(Window.partitionBy(F.lit(1)))
        .cast("double")
    )
    return per.select(
        "source",
        "n_docs",
        "n_tokens",
        w.alias("sqrt_tokens"),
        (w / total).alias("mix_share"),
    )


_MIX_SQL = """
WITH per AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
)
SELECT source, n_docs, n_tokens,
       sqrt(CAST(n_tokens AS DOUBLE)) AS sqrt_tokens,
       sqrt(CAST(n_tokens AS DOUBLE)) /
         CAST(SUM(CAST(sqrt(CAST(n_tokens AS DOUBLE)) AS DECIMAL(25,6))) OVER ()
              AS DOUBLE) AS mix_share
FROM per
"""


# ---------------------------------------------------------------------------
# Mixture-weighted sampling (OP-X-MIX → OP-X-SAMPLE): apply the mix as a draw
# ---------------------------------------------------------------------------


def docs_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the sqrt-token mixture as an actual corpus draw: each
    source's acceptance rate is its sqrt-token share scaled so the largest
    source keeps 100%, and each document's accept/reject is the same
    md5-derived bucket used by docs_stratified_sample (content-stable,
    partitioning-independent).

    Exactness: the rate is ``(100 · sqrt_tokens_src) DIV max_sqrt_tokens``
    computed on exact integer token sums — no float share ever decides a
    row's fate, so both engines keep identical documents.  Scale shape: the
    20-row per-source rate table is filter-first broadcast; the corpus is
    scanned once, map-only."""
    d = t(spark, sf_dir, "documents")
    tokens = F.size(F.split("text", " "))
    per = d.groupBy("source").agg(F.sum(tokens).alias("n_tokens"))
    # integer sqrt via floor(sqrt(double)) is exact for n < 2^52
    sq = per.select(
        "source", F.floor(F.sqrt(F.col("n_tokens").cast("double"))).alias("sq")
    )
    mx = sq.agg(F.max("sq").alias("mx"))
    rates = sq.crossJoin(F.broadcast(mx)).select(
        "source", F.expr("(100 * sq) DIV mx").alias("rate_pct")
    )
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 10), 16, 10
    ).cast("long") % 100
    return (
        d.join(F.broadcast(rates), "source")
        .filter(bucket < F.col("rate_pct"))
        .select("doc_id", "source", F.col("rate_pct").cast("long").alias("rate_pct"))
    )


_WEIGHTED_SAMPLE_SQL = """
WITH per AS (
  SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
sq AS (SELECT source, CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS sq FROM per),
rates AS (
  SELECT source, (100 * sq) // (SELECT MAX(sq) FROM sq) AS rate_pct FROM sq
)
SELECT d.doc_id, d.source, CAST(r.rate_pct AS BIGINT) AS rate_pct
FROM documents d JOIN rates r ON d.source = r.source
WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 10))::BIGINT % 100 < r.rate_pct
"""


# ---------------------------------------------------------------------------
# BPE merge-pair stats (OP-X-TEXT): top adjacent-token pairs, one merge round
# ---------------------------------------------------------------------------

_BPE_TOPK = 20


def docs_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The counting kernel of one BPE merge round: frequency of every
    adjacent token pair across the corpus, top-``_BPE_TOPK`` (the next merge
    candidates).  Tokens are the module's BPE-ish stream (letter runs, digit
    runs, single punctuation).

    Guard: Spark's ``sequence(1, n)`` counts DOWN for n ≤ 0 (DuckDB range is
    empty) — single-token docs are filtered before pairing.  Scale shape:
    explode → count is one shuffle of (pair, partial-count) with map-side
    combine; the top-K is a single TakeOrdered."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        F.expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)").alias("t")
    ).filter(F.size("t") >= 2)
    pairs = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(_BPE_TOPK)
    )


_BPE_PAIRS_SQL = f"""
WITH toks AS (
  SELECT regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]') AS t FROM documents
),
pairs AS (
  SELECT t[i] || ' ' || t[i + 1] AS pair
  FROM toks, UNNEST(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2
)
SELECT pair, COUNT(*) AS n FROM pairs
GROUP BY pair ORDER BY n DESC, pair ASC LIMIT {_BPE_TOPK}
"""


# ---------------------------------------------------------------------------
# Shard-plan audit (OP-X-SHARDS): the distributed two-pass prefix sum of
# operators/shards.py exposed as a catalog query, so the driver's oracle
# gate certifies it bit-identical against the single-window ground truth
# the scalable implementation replaces.
# ---------------------------------------------------------------------------

_SHARD_BUDGET = 4096
_SHARD_SEED = "0"


def docs_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every document's (n_tokens, global_pos, shard_id) under the
    deterministic seeded order — computed by the DISTRIBUTED prefix sum
    (per-partition subtotals + driver offsets bounded by the partition
    count + parallel local windows; operators/shards.py), which must
    equal the oracle's one global window exactly.  The assignment is a
    pure function of (corpus, seed, budget), independent of partition
    count or boundary sampling."""
    from agf_data_ingestion_spark.operators.shards import assign_shards

    out = assign_shards(
        t(spark, sf_dir, "documents"),
        budget_tokens=_SHARD_BUDGET,
        seed=_SHARD_SEED,
    )
    return out.select("doc_id", "n_tokens", "global_pos", "shard_id")


_SHARD_PLAN_SQL = f"""
WITH w AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
         md5('{_SHARD_SEED}:' || CAST(doc_id AS VARCHAR)) AS ord
  FROM documents
)
SELECT doc_id, n_tokens,
       CAST(row_number() OVER (ORDER BY ord) AS BIGINT) AS global_pos,
       CAST(((CAST(SUM(n_tokens) OVER (ORDER BY ord ROWS UNBOUNDED PRECEDING)
                   AS BIGINT) - 1) // {_SHARD_BUDGET}) AS BIGINT) AS shard_id
FROM w
"""


def docs_takedown_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard takedown audit for a planted removal set (doc_id % 29 ==
    0 — the GDPR batch stand-in): how many documents/tokens each
    materialized shard loses and keeps, under the SAME deterministic
    shard assignment as ``docs_shard_plan``.  This is the planning half
    of ``operators/shards.py takedown_shards`` (which rewrites only the
    affected shard files, routed by the lineage snapshot table); the
    audit itself is one corpus pass + a shard-keyed aggregate — exact
    integers, oracle-checked end-to-end.  Scale shape inherits the
    distributed prefix sum: no global window, driver state bounded by
    partition count."""
    from agf_data_ingestion_spark.operators.shards import assign_shards

    assigned = assign_shards(
        t(spark, sf_dir, "documents"),
        budget_tokens=_SHARD_BUDGET,
        seed=_SHARD_SEED,
    )
    rm = (F.col("doc_id") % 29 == 0).cast("long")
    return (
        assigned.groupBy("shard_id")
        .agg(
            F.count("*").alias("docs_before"),
            F.sum("n_tokens").cast("bigint").alias("toks_before"),
            F.sum(rm).alias("docs_removed"),
            F.sum(rm * F.col("n_tokens")).cast("bigint").alias("toks_removed"),
        )
        .select(
            "shard_id",
            "docs_before",
            "toks_before",
            "docs_removed",
            "toks_removed",
            (F.col("docs_before") - F.col("docs_removed")).alias("docs_after"),
            (F.col("toks_before") - F.col("toks_removed")).alias("toks_after"),
        )
    )


_TAKEDOWN_SQL = f"""
WITH w AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
         md5('{_SHARD_SEED}:' || CAST(doc_id AS VARCHAR)) AS ord
  FROM documents
),
a AS (
  SELECT doc_id, n_tokens,
         CAST(((CAST(SUM(n_tokens) OVER (ORDER BY ord ROWS UNBOUNDED PRECEDING)
                     AS BIGINT) - 1) // {_SHARD_BUDGET}) AS BIGINT) AS shard_id,
         CASE WHEN (doc_id % 29) = 0 THEN 1 ELSE 0 END AS rm
  FROM w
)
SELECT shard_id,
       CAST(COUNT(*) AS BIGINT) AS docs_before,
       CAST(SUM(n_tokens) AS BIGINT) AS toks_before,
       CAST(SUM(rm) AS BIGINT) AS docs_removed,
       CAST(SUM(rm * n_tokens) AS BIGINT) AS toks_removed,
       CAST(COUNT(*) - SUM(rm) AS BIGINT) AS docs_after,
       CAST(SUM(n_tokens) - SUM(rm * n_tokens) AS BIGINT) AS toks_after
FROM a
GROUP BY shard_id
"""


# ---------------------------------------------------------------------------
# Release-to-release diff (OP-X-RELDIFF, r10 — VERDICT r9 ask #7)
# ---------------------------------------------------------------------------


def _rd_survivors(
    d_all: DataFrame, subset: DataFrame
) -> DataFrame:
    """One side of the release diff: the curated composition of
    ``subset`` under the release pipeline's SQL-expressible gates —
    rule gate, exact keep-first dedup, benchmark decontamination (the
    bench set always comes from the FULL corpus, matching curate_full's
    frozen benchmark).  Returns (doc_id, source, n_tokens)."""
    from agf_data_ingestion_spark.plans.text import quality_gate_frame

    keep = quality_gate_frame(subset).filter(F.col("keep")).select("doc_id")
    s = subset.join(keep, "doc_id", "left_semi")
    w = Window.partitionBy(F.md5(F.lower(F.col("text")))).orderBy(F.asc("doc_id"))
    s = s.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    bench = (
        contam_shingles(d_all.filter(F.col("doc_id") < _BENCH_DOCS))
        .select("sh")
        .distinct()
    )
    s = s.filter(F.col("doc_id") >= _BENCH_DOCS)
    contaminated = (
        contam_shingles(s.select("doc_id", "text"))
        .join(F.broadcast(bench), "sh")
        .select("doc_id")
        .distinct()
    )
    return s.join(contaminated, "doc_id", "left_anti").select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )


def docs_release_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RELEASE-NOTES DIFF between two derived release compositions:
    release A curates the even-doc_id half of the corpus, release B
    curates the whole corpus — the "release B extends A with a second
    batch" shape.  Output (section, key, a, b, delta), every column an
    exact BIGINT:

    * ``composition`` / ``tokens`` — per-source doc counts and token
      totals on each side;
    * ``added`` — docs only in B (the appended batch's net
      contribution); ``removed`` — docs only in A (an ADDED doc can
      displace A's exact-dedup winner when it carries the same text
      with a lower id — the churn a release-notes reader needs called
      out);
    * ``total`` — docs and tokens.

    ``release_diff`` (operators/curation.py) applies the same diff
    algebra to two PUBLISHED txn ids of a real release (funnel/policy
    sections included; pinned in tests/test_release_diff.py); this
    catalog twin keeps the algebra oracle-hash-checked.  Scale shape:
    two gate+dedup passes over (doc_id, text) projections, FULL OUTER
    join on K-row section keys, anti-joins hash-partitioned on doc_id;
    the benchmark side is tiny -> broadcast."""
    d = t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    # r12: each side is consumed FOUR times (composition/tokens/total
    # sections + the added/removed anti-joins), and without a cache each
    # consumer replayed the whole gate + md5-window dedup + two shingle
    # passes — cache the narrow (doc_id, source, n_tokens) survivors
    # (the r4 narrow-derived-frame rule; measured 3.66 → 2.51 s at sf0.1)
    a = _rd_survivors(d, d.filter(F.col("doc_id") % 2 == 0)).cache()
    b = _rd_survivors(d, d).cache()

    def _sections(s: DataFrame) -> DataFrame:
        comp = s.groupBy(F.col("source").alias("key")).agg(
            F.count("*").cast("long").alias("v")
        ).select(F.lit("composition").alias("section"), "key", "v")
        toks = s.groupBy(F.col("source").alias("key")).agg(
            F.sum("n_tokens").cast("long").alias("v")
        ).select(F.lit("tokens").alias("section"), "key", "v")
        tot = s.agg(
            F.count("*").cast("long").alias("docs"),
            F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("long").alias("tokens"),
        ).selectExpr(
            "stack(2, 'docs', docs, 'tokens', tokens) AS (key, v)"
        ).select(F.lit("total").alias("section"), "key", "v")
        return comp.unionByName(toks).unionByName(tot)

    diff = (
        _sections(a).withColumnRenamed("v", "a")
        .join(
            _sections(b).withColumnRenamed("v", "b"),
            ["section", "key"],
            "full_outer",
        )
        .select(
            "section",
            "key",
            F.coalesce("a", F.lit(0)).cast("long").alias("a"),
            F.coalesce("b", F.lit(0)).cast("long").alias("b"),
            (F.coalesce("b", F.lit(0)) - F.coalesce("a", F.lit(0)))
            .cast("long")
            .alias("delta"),
        )
    )
    added = (
        b.join(a.select("doc_id"), "doc_id", "left_anti")
        .groupBy(F.col("source").alias("key"))
        .agg(F.count("*").cast("long").alias("b"))
        .select(
            F.lit("added").alias("section"),
            "key",
            F.lit(0).cast("long").alias("a"),
            "b",
            F.col("b").cast("long").alias("delta"),
        )
    )
    removed = (
        a.join(b.select("doc_id"), "doc_id", "left_anti")
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


def _rd_side_sql(side: str, where: str) -> str:
    from agf_data_ingestion_spark.plans.text import _STOPWORDS

    return f"""s_{side} AS (SELECT doc_id, source, text FROM documents {where}),
m_{side} AS (
  SELECT doc_id, source, text,
         CAST(len(string_split(text, ' ')) AS INT) AS n_words,
         CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
           / len(string_split(text, ' ')) AS awl,
         CAST(len(list_filter(string_split(text, ' '), x -> x IN {tuple(_STOPWORDS)!r})) AS DOUBLE)
           / len(string_split(text, ' ')) AS swr,
         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
           / len(string_split(text, ' ')) AS ur
  FROM s_{side}),
g_{side} AS (
  SELECT doc_id, source, text FROM m_{side}
  WHERE n_words >= 30 AND awl >= 3.0 AND awl <= 10.0 AND swr >= 0.05 AND ur >= 0.4),
d_{side} AS (
  SELECT doc_id, source, text FROM (
    SELECT *, row_number() OVER (PARTITION BY md5(lower(text)) ORDER BY doc_id) AS rn
    FROM g_{side})
  WHERE rn = 1),
cw_{side} AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM d_{side}
  WHERE doc_id >= {_BENCH_DOCS}),
csh_{side} AS (
  SELECT DISTINCT doc_id,
         substr(md5(array_to_string(w[i:i+{_CONTAM_N - 1}], ' ')), 1, 16) AS sh
  FROM cw_{side}, unnest(range(1, len(w) - {_CONTAM_N - 2})) AS t(i)),
con_{side} AS (SELECT DISTINCT c.doc_id FROM csh_{side} c JOIN benchsh USING (sh)),
surv_{side} AS (
  SELECT d.doc_id, d.source,
         CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
  FROM d_{side} d
  WHERE d.doc_id >= {_BENCH_DOCS}
    AND d.doc_id NOT IN (SELECT doc_id FROM con_{side})),
secs_{side} AS (
  SELECT 'composition' AS section, source AS key,
         CAST(COUNT(*) AS BIGINT) AS v
  FROM surv_{side} GROUP BY 2
  UNION ALL
  SELECT 'tokens', source, CAST(SUM(n_tokens) AS BIGINT)
  FROM surv_{side} GROUP BY 2
  UNION ALL
  SELECT 'total', 'docs', CAST(COUNT(*) AS BIGINT) FROM surv_{side}
  UNION ALL
  SELECT 'total', 'tokens', CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT)
  FROM surv_{side})"""


_RELDIFF_SQL = f"""
WITH bw AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE doc_id < {_BENCH_DOCS}
),
benchsh AS (
  SELECT DISTINCT substr(md5(array_to_string(w[i:i+{_CONTAM_N - 1}], ' ')), 1, 16) AS sh
  FROM bw, unnest(range(1, len(w) - {_CONTAM_N - 2})) AS t(i)
),
{_rd_side_sql("a", "WHERE doc_id % 2 = 0")},
{_rd_side_sql("b", "")},
va AS (SELECT section, key, v AS av FROM secs_a),
vb AS (SELECT section, key, v AS bv FROM secs_b),
diff AS (
  SELECT section, key,
         CAST(COALESCE(av, 0) AS BIGINT) AS a,
         CAST(COALESCE(bv, 0) AS BIGINT) AS b,
         CAST(COALESCE(bv, 0) - COALESCE(av, 0) AS BIGINT) AS delta
  FROM va FULL OUTER JOIN vb USING (section, key)
),
added AS (
  SELECT 'added' AS section, source AS key,
         CAST(0 AS BIGINT) AS a,
         CAST(COUNT(*) AS BIGINT) AS b,
         CAST(COUNT(*) AS BIGINT) AS delta
  FROM surv_b WHERE doc_id NOT IN (SELECT doc_id FROM surv_a)
  GROUP BY 2
),
removed AS (
  SELECT 'removed' AS section, source AS key,
         CAST(COUNT(*) AS BIGINT) AS a,
         CAST(0 AS BIGINT) AS b,
         CAST(-COUNT(*) AS BIGINT) AS delta
  FROM surv_a WHERE doc_id NOT IN (SELECT doc_id FROM surv_b)
  GROUP BY 2
)
SELECT * FROM diff
UNION ALL SELECT * FROM added
UNION ALL SELECT * FROM removed
"""


QUERIES: dict[str, QuerySpec] = {
    "docs_release_diff": QuerySpec(
        docs_release_diff,
        _RELDIFF_SQL,
        ("OP-X-RELDIFF", "OP-X-DATACARD", "OP-X-DEDUP-EXACT"),
    ),
    "docs_shard_plan": QuerySpec(
        docs_shard_plan, _SHARD_PLAN_SQL, ("OP-X-SHARDS", "OP-X-PACK")
    ),
    "docs_takedown_audit": QuerySpec(
        docs_takedown_audit, _TAKEDOWN_SQL, ("OP-X-TAKEDOWN", "OP-X-SHARDS")
    ),
    "docs_stratified_sample": QuerySpec(
        docs_stratified_sample, _SAMPLE_SQL, ("OP-X-SAMPLE",)
    ),
    "docs_span_dedup": QuerySpec(
        docs_span_dedup, _SPAN_DEDUP_SQL, ("OP-X-DEDUP-NEAR", "OP-X-TEXT")
    ),
    "docs_boilerplate_ratio": QuerySpec(
        docs_boilerplate_ratio, _BOILER_SQL, ("OP-X-TEXT",)
    ),
    "docs_token_packing": QuerySpec(docs_token_packing, _PACKING_SQL, ("OP-X-PACK", "OP-X-TEXT")),
    "docs_repetition_stats": QuerySpec(
        docs_repetition_stats, _REPETITION_SQL, ("OP-X-TEXT", "OP-X-DEDUP-EXACT")
    ),
    "docs_datacard": QuerySpec(
        docs_datacard, _DATACARD_SQL, ("OP-X-DATACARD", "OP-X-PROFILE", "OP-SET-UNION")
    ),
    "docs_epoch_order": QuerySpec(
        docs_epoch_order, _EPOCH_ORDER_SQL, ("OP-X-SHUFFLE", "OP-X-SAMPLE")
    ),
    "docs_dataset_split": QuerySpec(
        docs_dataset_split, _SPLIT_SQL, ("OP-X-SPLIT", "OP-X-SAMPLE")
    ),
    "docs_bloom_contamination": QuerySpec(
        docs_bloom_contamination, _BLOOM_SQL, ("OP-X-BLOOM", "OP-JOIN-SEMI", "OP-X-TEXT")
    ),
    "docs_contamination": QuerySpec(
        docs_contamination, _CONTAM_SQL, ("OP-X-TEXT", "OP-X-DEDUP-NEAR", "OP-JOIN-SEMI")
    ),
    "docs_decontam_spans": QuerySpec(
        docs_decontam_spans,
        _DECONTAM_SPAN_SQL,
        ("OP-X-DECONTAMSPAN", "OP-X-TEXT", "OP-X-DUPSPAN"),
    ),
    "docs_deduped_corpus": QuerySpec(
        docs_deduped_corpus, _deduped_sql(), ("OP-X-DEDUP-NEAR", "OP-JOIN-SEMI")
    ),
    "docs_domain_caps": QuerySpec(
        docs_domain_caps, _DOMAIN_CAPS_SQL, ("OP-X-SAMPLE", "OP-SORT-LIMIT")
    ),
    "docs_best_of_cluster": QuerySpec(
        docs_best_of_cluster, _best_of_cluster_sql(), ("OP-X-DEDUP-NEAR", "OP-WIN-DEDUPNAME")
    ),
    "emb_quantize_int8": QuerySpec(emb_quantize_int8, _QUANT_SQL, ("OP-X-QUANT", "OP-ARR-SUM")),
    "docs_chunked": QuerySpec(docs_chunked, _CHUNKED_SQL, ("OP-X-CHUNK", "OP-X-TEXT")),
    "docs_mix_weights": QuerySpec(docs_mix_weights, _MIX_SQL, ("OP-X-MIX", "OP-X-SAMPLE")),
    "docs_weighted_sample": QuerySpec(
        docs_weighted_sample, _WEIGHTED_SAMPLE_SQL, ("OP-X-MIX", "OP-X-SAMPLE")
    ),
    "docs_bpe_pairs": QuerySpec(
        docs_bpe_pairs, _BPE_PAIRS_SQL, ("OP-X-TEXT", "OP-SORT-LIMIT")
    ),
}
