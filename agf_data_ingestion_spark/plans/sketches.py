"""Deterministic distinct-count sketches (OP-X-APPROX, oracle-backed).

``approx_count_distinct`` (HLL) cannot be oracle-checked — its register
layout is engine-specific.  The KMV (k-minimum-values) sketch can: keep the
``k`` smallest values of a uniform hash of the key; the k-th smallest hash
``h_(k)`` estimates the distinct count as ``(k-1) / (h_(k) / 2^60)``.  With
md5-derived hashes the sketch is bit-identical in Spark and DuckDB, so the
driver's value-hash gate applies to an *approximate* operator — the same
trick the catalog uses everywhere else (md5-derived integers, never engine
``hash()``).

Why KMV and not HLL here: both are mergeable one-pass sketches, but KMV is
expressible as plain relational algebra (distinct → per-group k smallest →
max), which keeps the whole plan inside whole-stage codegen and makes the
estimate reproducible across engines.  Standard construction after
Bar-Yossef et al., "Counting distinct elements in a data stream" (RANDOM
2002) — public algorithm, no reference-repo counterpart (§2.9 extension).

Scale shape (100 TB): the per-key md5 is map-side; ``distinct`` reduces
map-side to one row per (group, hash); the two-level k-min bounds the final
per-group shuffle to ``16·k`` rows per group no matter how many distinct
keys exist (k-min of per-bucket k-mins ≡ k-min of the union — the sketch's
merge property, which is also what a 1000-executor tree-reduction would
exploit).  Nothing is ever broadcast or collected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from agf_data_ingestion_spark.plans.base import QuerySpec, t

_K = 64  # sketch size; relative error ~ 1/sqrt(k) ≈ 12.5%
_SALTS = 16  # level-1 fan-out for the two-level k-min
_HASH_HEX = 15  # 15 hex digits = 60-bit hash space (fits BIGINT exactly)
_HASH_SPACE = float(1 << 60)


def _user_hashes(e: DataFrame) -> DataFrame:
    """Distinct (event_type, 60-bit md5 hash of user_id) pairs."""
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, _HASH_HEX), 16, 10
    ).cast("long")
    return e.select("event_type", h.alias("h")).distinct()


def _k_min(df: DataFrame, partition_cols: list[str], k: int = _K) -> DataFrame:
    """Keep the ``k`` smallest ``h`` per partition (hash values are unique
    within a partition after ``distinct``, so the order is total)."""
    w = Window.partitionBy(*partition_cols).orderBy("h")
    return df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k).drop("rn")


def _estimate() -> F.Column:
    """KMV estimator over (n_kept, kth_hash): exact below k, else
    (k-1)·2^60/h_(k).  2^60 is exact in binary64 and the BIGINT→DOUBLE
    conversion rounds to nearest identically in both engines."""
    return F.when(F.col("n_kept") < _K, F.col("n_kept").cast("double")).otherwise(
        F.lit(float(_K - 1)) * F.lit(_HASH_SPACE) / F.col("kth_hash").cast("double")
    )


def events_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type approximate distinct users via a KMV sketch, with the
    exact count alongside (what you'd dashboard: estimate + ground truth).

    Two-level k-min: level 1 partitions each group into ``_SALTS`` hash
    buckets and keeps k per bucket (parallel, bounds data), level 2 merges
    — the result is exactly the global k smallest, so the single-level
    oracle computes the identical sketch.
    """
    e = t(spark, sf_dir, "events")
    hashes = _user_hashes(e)
    lvl1 = _k_min(
        hashes.withColumn("salt", F.pmod(F.col("h"), F.lit(_SALTS))),
        ["event_type", "salt"],
    ).drop("salt")
    kept = _k_min(lvl1, ["event_type"])
    sk = kept.groupBy("event_type").agg(
        F.count("*").alias("n_kept"), F.max("h").alias("kth_hash")
    )
    exact = e.groupBy("event_type").agg(F.count_distinct("user_id").alias("exact_users"))
    return sk.join(exact, "event_type").select(
        "event_type", "n_kept", "kth_hash", _estimate().alias("est_users"), "exact_users"
    )


_KMV_SQL = f"""
WITH h AS (
  SELECT DISTINCT event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, {_HASH_HEX}))::BIGINT AS h
  FROM events
),
r AS (
  SELECT event_type, h, row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM h
),
sk AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_kept, MAX(h) AS kth_hash
  FROM r WHERE rn <= {_K} GROUP BY event_type
),
ex AS (
  SELECT event_type, COUNT(DISTINCT user_id) AS exact_users FROM events GROUP BY event_type
)
SELECT event_type, n_kept, kth_hash,
       CASE WHEN n_kept < {_K} THEN CAST(n_kept AS DOUBLE)
            ELSE {float(_K - 1)} * {_HASH_SPACE} / CAST(kth_hash AS DOUBLE) END AS est_users,
       exact_users
FROM sk JOIN ex USING (event_type)
"""


def events_kmv_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch MERGE: the global distinct-user estimate derived purely from
    the per-type sketches — union their kept hashes (dedup: a user active
    in two types contributes one hash) and re-take the k smallest.  k-min
    of a union of k-min sketches equals the k-min of the full union, so
    this is exactly what a scale-out rollup does: combine tiny per-shard
    sketches without rescanning 100 TB.

    The post-sketch data is O(k·groups) rows (≤320 here), so the final
    unpartitioned window is driver-scale by construction.
    """
    e = t(spark, sf_dir, "events")
    per_type = _k_min(_user_hashes(e), ["event_type"]).select("h").distinct()
    kept = _k_min(per_type.withColumn("g", F.lit(1)), ["g"]).drop("g")
    sk = kept.agg(F.count("*").alias("n_kept"), F.max("h").alias("kth_hash"))
    exact = e.agg(F.count_distinct("user_id").alias("exact_users"))
    return sk.crossJoin(exact).select(
        "n_kept", "kth_hash", _estimate().alias("est_users"), "exact_users"
    )


_KMV_MERGED_SQL = f"""
WITH h AS (
  SELECT DISTINCT event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, {_HASH_HEX}))::BIGINT AS h
  FROM events
),
r AS (
  SELECT event_type, h, row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM h
),
merged AS (SELECT DISTINCT h FROM r WHERE rn <= {_K}),
g AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM merged),
sk AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_kept, MAX(h) AS kth_hash FROM g WHERE rn <= {_K}
),
ex AS (SELECT COUNT(DISTINCT user_id) AS exact_users FROM events)
SELECT n_kept, kth_hash,
       CASE WHEN n_kept < {_K} THEN CAST(n_kept AS DOUBLE)
            ELSE {float(_K - 1)} * {_HASH_SPACE} / CAST(kth_hash AS DOUBLE) END AS est_users,
       exact_users
FROM sk, ex
"""


# ---------------------------------------------------------------------------
# Sampling-based quantile sketch (OP-X-APPROX): deterministic bottom-k sample
# ---------------------------------------------------------------------------

_QK = 256  # sample size per group


def events_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type quantile estimates from a deterministic uniform
    sample: the ``_QK`` events with the smallest md5(event_id) hash ARE a
    uniform random sample (md5 is uniform, event_id is unique), and like
    KMV the bottom-k-by-hash sample is mergeable — the bottom-k of a union
    of per-shard bottom-k samples is the global bottom-k, so shards combine
    without rescanning.  ``percentile_approx`` (t-digest-ish) can't be
    oracle-checked; this can.

    Quantile convention: lower-value at index ``floor((n-1)·q)`` of the
    (value, event_id)-sorted sample — exact integer arithmetic, no
    interpolation, so both engines select the identical element.  The exact
    q50 over the full data (same convention) rides along as ground truth —
    SKEW-ROUTED (r11; operators/skew.py ``route_salted``): event_type has
    5 values = corpus/5 per task, so at scale the exact rank runs
    through salted_rank_dblkey with nulls_last.  The sample side stays a
    plain window — its input is the WindowGroupLimit-bounded ≤ _QK×types
    k-min sample.
    """
    from agf_data_ingestion_spark.operators.skew import (
        route_salted,
        salted_rank_dblkey,
    )

    e = t(spark, sf_dir, "events")
    h = F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, _HASH_HEX), 16, 10)
    base = e.select("event_type", "event_id", "value", h.cast("long").alias("h"))

    def _q_cols(df: DataFrame, qs: dict[str, float], decomposed: bool) -> DataFrame:
        # nulls LAST to match DuckDB's ASC default (Spark ASC puts nulls
        # first — a single NULL value in a regenerated corpus would shift
        # every rank and silently break the oracle)
        if decomposed:
            ranked = salted_rank_dblkey(
                df.select("event_type", "value", "event_id"),
                ["event_type"],
                "value",
                "event_id",
                out_rank="vrn",
                out_n="n",
                nulls_last=True,
            )
        else:
            wv = Window.partitionBy("event_type").orderBy(
                F.asc_nulls_last("value"), "event_id"
            )
            wn = Window.partitionBy("event_type")
            ranked = df.select(
                "event_type",
                "value",
                F.row_number().over(wv).alias("vrn"),
                F.count("*").over(wn).alias("n"),
            )
        aggs = [
            F.max(
                F.when(
                    F.col("vrn") == F.floor((F.col("n") - 1) * F.lit(q)) + 1,
                    F.col("value"),
                )
            ).alias(name)
            for name, q in qs.items()
        ]
        return ranked.groupBy("event_type").agg(F.max("n").alias("n_rows"), *aggs)

    sample = _k_min(base, ["event_type"], k=_QK)
    est = _q_cols(
        sample, {"q25_est": 0.25, "q50_est": 0.5, "q75_est": 0.75}, False
    ).select(
        "event_type", F.col("n_rows").alias("n_sampled"), "q25_est", "q50_est", "q75_est"
    )
    exact = _q_cols(
        base, {"q50_exact": 0.5}, route_salted(e)
    ).select("event_type", "q50_exact")
    return est.join(exact, "event_type")


_QUANTILE_SQL = f"""
WITH base AS (
  SELECT event_type, event_id, value,
         ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, {_HASH_HEX}))::BIGINT AS h
  FROM events
),
sample AS (
  SELECT event_type, event_id, value
  FROM (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM base)
  WHERE rn <= {_QK}
),
sranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS vrn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM sample
),
est AS (
  SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_sampled,
         MAX(CASE WHEN vrn = CAST(floor((n - 1) * 0.25) AS BIGINT) + 1 THEN value END) AS q25_est,
         MAX(CASE WHEN vrn = CAST(floor((n - 1) * 0.5) AS BIGINT) + 1 THEN value END) AS q50_est,
         MAX(CASE WHEN vrn = CAST(floor((n - 1) * 0.75) AS BIGINT) + 1 THEN value END) AS q75_est
  FROM sranked GROUP BY event_type
),
franked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS vrn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM base
),
ex AS (
  SELECT event_type,
         MAX(CASE WHEN vrn = CAST(floor((n - 1) * 0.5) AS BIGINT) + 1 THEN value END) AS q50_exact
  FROM franked GROUP BY event_type
)
SELECT event_type, n_sampled, q25_est, q50_est, q75_est, q50_exact
FROM est JOIN ex USING (event_type)
"""


def events_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV SET-OPERATION estimates per event-type pair: union, intersection
    and Jaccard of the user sets, derived purely from the per-type sketches
    (Beyer et al., SIGMOD'07 construction: take the k smallest of the union
    of two sketches — that IS the union sketch; the fraction of its members
    present in both input sketches estimates Jaccard; intersection =
    ρ · est_union).  Exact values ride along for the dashboard.

    Scale shape: everything after the base per-type sketch is O(k·pairs)
    rows — set arithmetic over 100 TB collapses to joins between ≤64-row
    sketches, which is the entire point of mergeable sketches."""
    e = t(spark, sf_dir, "events")
    K = _k_min(_user_hashes(e), ["event_type"])  # ≤ k rows per type
    types = K.select("event_type").distinct()
    pairs = (
        types.select(F.col("event_type").alias("ta"))
        .crossJoin(types.select(F.col("event_type").alias("tb")))
        .filter(F.col("ta") < F.col("tb"))
    )
    sides = pairs.join(
        F.broadcast(K), (F.col("event_type") == F.col("ta")) | (F.col("event_type") == F.col("tb"))
    ).select(
        "ta",
        "tb",
        "h",
        (F.col("event_type") == F.col("ta")).cast("int").alias("in_a"),
        (F.col("event_type") == F.col("tb")).cast("int").alias("in_b"),
    )
    uni = sides.groupBy("ta", "tb", "h").agg(
        F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b")
    )
    w = Window.partitionBy("ta", "tb").orderBy("h")
    topk = uni.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= _K)
    sk = topk.groupBy("ta", "tb").agg(
        F.count("*").alias("n_kept"),
        F.max("h").alias("kth_hash"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("both_in_k"),
    )
    est_union = _estimate()
    rho = F.col("both_in_k").cast("double") / F.col("n_kept").cast("double")
    # ua is one row per (type, user) — user-scale, so the self-join must
    # stay a shuffle join (small-sf stats would statically broadcast it)
    ua = e.select("event_type", "user_id").distinct()
    ex = (
        ua.select(F.col("event_type").alias("ta"), "user_id")
        .join(
            ua.select(F.col("event_type").alias("tb"), "user_id").hint(
                "shuffle_hash"
            ),
            "user_id",
        )
        .filter(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count("*").alias("exact_inter"))
    )
    # LEFT join: a pair with DISJOINT user sets has no exact_inter row but
    # a perfectly valid sketch estimate — it must not vanish from the
    # report (exact_inter coalesces to 0)
    return (
        sk.join(ex, ["ta", "tb"], "left")
        .select(
            "ta",
            "tb",
            "n_kept",
            "both_in_k",
            est_union.alias("est_union"),
            (rho * est_union).alias("est_inter"),
            rho.alias("est_jaccard"),
            F.coalesce(F.col("exact_inter"), F.lit(0).cast("long")).alias(
                "exact_inter"
            ),
        )
    )


_KMV_SETOPS_SQL = f"""
WITH h AS (
  SELECT DISTINCT event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, {_HASH_HEX}))::BIGINT AS h
  FROM events
),
K AS (
  SELECT event_type, h FROM (
    SELECT event_type, h, row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
    FROM h
  ) WHERE rn <= {_K}
),
types AS (SELECT DISTINCT event_type FROM K),
pairs AS (
  SELECT a.event_type AS ta, b.event_type AS tb
  FROM types a CROSS JOIN types b WHERE a.event_type < b.event_type
),
uni AS (
  SELECT p.ta, p.tb, K.h,
         MAX(CASE WHEN K.event_type = p.ta THEN 1 ELSE 0 END) AS in_a,
         MAX(CASE WHEN K.event_type = p.tb THEN 1 ELSE 0 END) AS in_b
  FROM pairs p JOIN K ON K.event_type IN (p.ta, p.tb)
  GROUP BY p.ta, p.tb, K.h
),
topk AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY ta, tb ORDER BY h) AS rn FROM uni
  ) WHERE rn <= {_K}
),
sk AS (
  SELECT ta, tb, CAST(COUNT(*) AS BIGINT) AS n_kept, MAX(h) AS kth_hash,
         CAST(SUM(in_a * in_b) AS BIGINT) AS both_in_k
  FROM topk GROUP BY ta, tb
),
ua AS (SELECT DISTINCT event_type, user_id FROM events),
ex AS (
  SELECT a.event_type AS ta, b.event_type AS tb, CAST(COUNT(*) AS BIGINT) AS exact_inter
  FROM ua a JOIN ua b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY a.event_type, b.event_type
)
SELECT ta, tb, n_kept, both_in_k,
       CASE WHEN n_kept < {_K} THEN CAST(n_kept AS DOUBLE)
            ELSE {float(_K - 1)} * {_HASH_SPACE} / CAST(kth_hash AS DOUBLE) END AS est_union,
       (CAST(both_in_k AS DOUBLE) / CAST(n_kept AS DOUBLE)) *
       CASE WHEN n_kept < {_K} THEN CAST(n_kept AS DOUBLE)
            ELSE {float(_K - 1)} * {_HASH_SPACE} / CAST(kth_hash AS DOUBLE) END AS est_inter,
       CAST(both_in_k AS DOUBLE) / CAST(n_kept AS DOUBLE) AS est_jaccard,
       CAST(COALESCE(exact_inter, 0) AS BIGINT) AS exact_inter
FROM sk LEFT JOIN ex USING (ta, tb)
"""


# ---------------------------------------------------------------------------
# Count-Min sketch (OP-X-CMS): frequency estimation with one-sided error
# ---------------------------------------------------------------------------

_CM_DEPTH = 4  # d independent hash rows; P(over-err > ε) ≤ e^-d... per row
_CM_WIDTH = 256  # w counters per row; ε ≈ e/w of the stream length
_CM_PROBE = 20  # report the sketch estimate for the top-N exact users


def events_countmin_err(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan, J. Algorithms 2005) over
    per-user event counts, evaluated against exact truth: build the d×w
    counter matrix in ONE (row, col) aggregation, then report
    ``est = min_r counter[r][h_r(key)]`` for the top-``{probe}`` exact
    users.  Count-Min never underestimates, so ``overcount ≥ 0`` is part
    of the checked result.  Complements the KMV sketch (distinct counts)
    and Misra–Gries (guaranteed heavy hitters) with point-frequency
    estimates; all three are mergeable one-pass summaries.

    Scale shape: the sketch build is a map-side-combining groupBy on
    (row, col) — d·w = 1024 cells TOTAL regardless of stream length or key
    cardinality, so the shuffle is constant-size and the merged sketch
    broadcasts back for probing.  Hashes are md5-derived (never engine
    ``hash()``), so the counter matrix — and the estimates — are
    bit-identical across engines.
    """
    e = t(spark, sf_dir, "events")
    rows = F.explode(F.array(*[F.lit(r) for r in range(_CM_DEPTH)])).alias("r")
    col_of = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("user_id").cast("string"),
                        F.lit("#"),
                        F.col("r").cast("string"),
                    )
                ),
                1,
                _HASH_HEX,
            ),
            16,
            10,
        ).cast("long")
        % _CM_WIDTH
    )
    sketch = (
        e.select(F.col("user_id"), rows)
        .withColumn("col", col_of)
        .groupBy("r", "col")
        .agg(F.count("*").alias("cnt"))
    )
    exact = (
        e.groupBy("user_id")
        .agg(F.count("*").alias("exact_n"))
        .orderBy(F.desc("exact_n"), F.asc("user_id"))
        .limit(_CM_PROBE)
    )
    probes = exact.select("user_id", "exact_n", rows).withColumn("col", col_of)
    return (
        probes.join(F.broadcast(sketch), ["r", "col"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("cnt").alias("est_n"))
        .select(
            "user_id",
            "exact_n",
            "est_n",
            (F.col("est_n") - F.col("exact_n")).alias("overcount"),
        )
    )


events_countmin_err.__doc__ = events_countmin_err.__doc__.format(probe=_CM_PROBE)


_CMS_SQL = f"""
WITH cells AS (
  SELECT user_id, r,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#' || CAST(r AS VARCHAR)),
                         1, {_HASH_HEX}))::BIGINT % {_CM_WIDTH} AS col
  FROM events, unnest(range(0, {_CM_DEPTH})) AS u(r)
),
sketch AS (
  SELECT r, col, COUNT(*) AS cnt FROM cells GROUP BY r, col
),
exact AS (
  SELECT user_id, COUNT(*) AS exact_n FROM events GROUP BY user_id
  ORDER BY exact_n DESC, user_id ASC LIMIT {_CM_PROBE}
),
probes AS (
  SELECT e.user_id, e.exact_n, u.r,
         ('0x' || substr(md5(CAST(e.user_id AS VARCHAR) || '#' || CAST(u.r AS VARCHAR)),
                         1, {_HASH_HEX}))::BIGINT % {_CM_WIDTH} AS col
  FROM exact e, unnest(range(0, {_CM_DEPTH})) AS u(r)
)
SELECT p.user_id, p.exact_n, MIN(s.cnt) AS est_n,
       MIN(s.cnt) - p.exact_n AS overcount
FROM probes p JOIN sketch s ON p.r = s.r AND p.col = s.col
GROUP BY p.user_id, p.exact_n
"""


QUERIES: dict[str, QuerySpec] = {
    "events_countmin_err": QuerySpec(
        events_countmin_err, _CMS_SQL, ("OP-X-CMS", "OP-X-APPROX")
    ),
    "events_kmv_distinct": QuerySpec(
        events_kmv_distinct, _KMV_SQL, ("OP-X-APPROX", "OP-AGG-SETUNION")
    ),
    "events_kmv_setops": QuerySpec(
        events_kmv_setops, _KMV_SETOPS_SQL, ("OP-X-APPROX", "OP-SET-UNION")
    ),
    "events_kmv_merged": QuerySpec(
        events_kmv_merged, _KMV_MERGED_SQL, ("OP-X-APPROX", "OP-SET-UNION")
    ),
    "events_quantile_sketch": QuerySpec(
        events_quantile_sketch, _QUANTILE_SQL, ("OP-X-APPROX",)
    ),
}
