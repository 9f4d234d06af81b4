"""Relational analytics catalog: scans, filters, derivations, aggregations,
joins, windows, sort/limit — the reference's operator surface (SURVEY.md
§2.1-2.7) exercised on the driver's TPC-H-ish testdata, each with a DuckDB
oracle.

Scale notes (100 TB mindset):
* Star joins put the fact table (lineitem/orders/events) on the streamed
  side; dimension sides are far below the broadcast threshold, so Catalyst
  plans broadcast-hash joins — no fact-table shuffle.
* Aggregations are expressed as single groupBy/agg so Spark performs
  map-side partial aggregation before the exchange.
* All filters are plain column predicates on scan columns → parquet
  predicate pushdown + column pruning (verify with .explain: PushedFilters).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from agf_data_ingestion_spark.plans.base import (
    QuerySpec,
    bdim,
    davg,
    dsum,
    o_davg,
    o_dsum,
    t,
)

# ---------------------------------------------------------------------------
# Aggregation core (OP-AGG-*): TPC-H Q1-style pricing summary
# ---------------------------------------------------------------------------


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg(F.col("l_quantity")).alias("avg_qty"),
            davg(F.col("l_extendedprice")).alias("avg_price"),
            davg(F.col("l_discount")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


_Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {o_dsum('l_quantity')} AS sum_qty,
       {o_dsum('l_extendedprice')} AS sum_base_price,
       {o_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
       {o_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
       {o_davg('l_quantity')} AS avg_qty,
       {o_davg('l_extendedprice')} AS avg_price,
       {o_davg('l_discount')} AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01'
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# Join + agg + top-k (OP-JOIN / OP-SORT-LIMIT): TPC-H Q3-style
# ---------------------------------------------------------------------------


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1998-01-01").cast("timestamp")
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    l = t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(bdim(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


_Q3_SQL = f"""
SELECT o_orderkey, o_orderdate, o_orderpriority,
       {o_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# Multi-way star join (OP-JOIN-ENRICH generalized): TPC-H Q5-style
# ---------------------------------------------------------------------------


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1997-01-01").cast("timestamp")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = t(spark, sf_dir, "nation")
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    l = t(spark, sf_dir, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(bdim(c), o.o_custkey == c.c_custkey)
        .join(bdim(s), (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


_Q5_SQL = f"""
SELECT n_name, {o_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# Global-ratio aggregate (OP-MATH): TPC-H Q14-style promo share
# ---------------------------------------------------------------------------


def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    lo = F.lit("1997-01-01").cast("timestamp")
    hi = F.lit("1997-04-01").cast("timestamp")
    p = t(spark, sf_dir, "part")
    l = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = l.join(bdim(p), l.l_partkey == p.p_partkey)
    return joined.agg(
        (
            100.0
            * dsum(F.when(F.col("p_type") == "PROMO", disc_price).otherwise(F.lit(0.0)))
            / dsum(disc_price)
        ).alias("promo_revenue_pct")
    )


_Q14_SQL = f"""
SELECT 100.0 * {o_dsum("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")}
       / {o_dsum('l_extendedprice * (1 - l_discount)')} AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
"""


# ---------------------------------------------------------------------------
# Time-window rollup (OP-FIL-TIME + OP-AGG): events per day per type
# ---------------------------------------------------------------------------


def events_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").filter(
        F.col("ts") >= F.lit("2024-01-08").cast("timestamp")
    )
    return (
        e.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            dsum(F.col("value")).alias("total_value"),
        )
    )


_EVENTS_DAILY_SQL = f"""
SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       {o_dsum('value')} AS total_value
FROM events
WHERE ts >= TIMESTAMP '2024-01-08'
GROUP BY strftime(ts, '%Y-%m-%d'), event_type
"""


# ---------------------------------------------------------------------------
# Conditional counts / pivot (OP-AGG-CONDCOUNT)
# ---------------------------------------------------------------------------


def events_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")

    def cnt(tp: str) -> F.Column:
        return F.sum(F.when(F.col("event_type") == tp, 1).otherwise(0)).cast("long")

    return e.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day")).agg(
        cnt("click").alias("clicks"),
        cnt("view").alias("views"),
        cnt("purchase").alias("purchases"),
        cnt("error").alias("errors"),
        cnt("signup").alias("signups"),
    )


_EVENTS_PIVOT_SQL = """
SELECT strftime(ts, '%Y-%m-%d') AS day,
       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
       CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS views,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors,
       CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signups
FROM events GROUP BY strftime(ts, '%Y-%m-%d')
"""


# ---------------------------------------------------------------------------
# Latest-version-per-key window (OP-WIN / SURVEY §2.7 canonical query)
# ---------------------------------------------------------------------------


def events_latest_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts_us"), F.desc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "ts_us")
    )


_EVENTS_LATEST_SQL = """
SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
  FROM events
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Collision numbering (OP-WIN-DEDUPNAME — zip name dedup semantics)
# ---------------------------------------------------------------------------


def docs_name_collision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source collision numbering in doc_id order.  SKEW-ROUTED
    (operators/skew.py ``route_salted``): at scale the rank runs through
    salted_rank_intkey (doc_id is the unique integer sort key)."""
    from agf_data_ingestion_spark.operators.skew import (
        route_salted,
        salted_rank_intkey,
    )

    d = t(spark, sf_dir, "documents")
    if route_salted(d):
        ranked = salted_rank_intkey(
            d.select("doc_id", "source").cache(),  # narrow, 3 consumers
            ["source"], "doc_id", "doc_id",
            out_rank="_rnc",
        )
        rn_col = F.col("_rnc")
    else:
        w = Window.partitionBy("source").orderBy(F.asc("doc_id"))
        ranked = d.select(
            "doc_id", "source", F.row_number().over(w).alias("_rnc")
        )
        rn_col = F.col("_rnc")
    return ranked.select(
        "doc_id",
        "source",
        F.when(rn_col > 1, F.concat_ws("_", "source", (rn_col - 1).cast("string")))
        .otherwise(F.col("source"))
        .alias("export_name"),
    )


_DOCS_COLLISION_SQL = """
SELECT doc_id, source,
       CASE WHEN rn > 1 THEN source || '_' || CAST(rn - 1 AS VARCHAR) ELSE source END AS export_name
FROM (SELECT doc_id, source, row_number() OVER (PARTITION BY source ORDER BY doc_id ASC) rn
      FROM documents)
"""


# ---------------------------------------------------------------------------
# Anti-joins both ways (OP-JOIN-ANTI-S3 / OP-JOIN-ANTI-DB — reconciliation)
# ---------------------------------------------------------------------------


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


_CUST_NO_ORDERS_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def orders_without_known_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The mirror-direction audit: order rows whose customer is absent from
    # the dimension (empty on consistent data — exactly the reconciliation
    # invariant, SURVEY.md §5 "after clean ingest both anti-joins are empty").
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return o.join(c, o.o_custkey == c.c_custkey, "left_anti").select("o_orderkey", "o_custkey")


_ORDERS_NO_CUST_SQL = """
SELECT o_orderkey, o_custkey FROM orders
WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
"""


# ---------------------------------------------------------------------------
# Semi-join (OP-JOIN-SEMI) + union-distinct (OP-SET-UNION)
# ---------------------------------------------------------------------------


def orders_of_building_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf_dir, "orders")
    return o.join(bdim(c), o.o_custkey == c.c_custkey, "left_semi").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )


_ORDERS_SEMI_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
WHERE EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey AND c_mktsegment = 'BUILDING')
"""


def active_keys_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Reconciliation-style union-distinct across three key sources
    # (reference unions s3_key across 3 tables; here: custkeys from two
    # tables + high-value event users as the third).
    c = t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("key_id"))
    o = t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("key_id"))
    e = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("key_id"))
    )
    return c.unionByName(o).unionByName(e).distinct()


_UNION_KEYS_SQL = """
SELECT DISTINCT key_id FROM (
  SELECT c_custkey AS key_id FROM customer
  UNION ALL SELECT o_custkey FROM orders
  UNION ALL SELECT user_id FROM events WHERE event_type = 'purchase'
)
"""


# ---------------------------------------------------------------------------
# Enrichment left join (OP-JOIN-ENRICH)
# ---------------------------------------------------------------------------


def lineitem_part_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    return l.join(bdim(p), l.l_partkey == p.p_partkey, "left").select(
        "l_orderkey", "l_linenumber", "l_partkey", "p_name", "p_brand"
    )


_ENRICH_SQL = """
SELECT l_orderkey, l_linenumber, l_partkey, p_name, p_brand
FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
"""


# ---------------------------------------------------------------------------
# Ordered sample (OP-SORT-LIMIT) and grouped ordered concat (OP-AGG-GROUPMAP)
# ---------------------------------------------------------------------------


def top20_orders_by_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey")).limit(20).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


_TOP20_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20
"""


def suppliers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_suppliers"),
            dsum(F.col("s_acctbal")).alias("total_acctbal"),
            F.array_join(F.array_sort(F.collect_list("s_name")), ",").alias("supplier_names"),
        )
    )


_SUPPLIERS_NATION_SQL = f"""
SELECT n_name, COUNT(*) AS n_suppliers,
       {o_dsum('s_acctbal')} AS total_acctbal,
       string_agg(s_name, ',' ORDER BY s_name) AS supplier_names
FROM supplier JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# Threshold guards (OP-FIL-SIZE — zip-export size prechecks)
# ---------------------------------------------------------------------------


def lineitem_size_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = t(spark, sf_dir, "lineitem")
    return l.agg(
        F.max("l_extendedprice").alias("max_price"),
        dsum(F.col("l_extendedprice")).alias("total_price"),
        (F.max("l_extendedprice") > F.lit(50000.0)).alias("any_file_too_big"),
        (F.sum(F.col("l_extendedprice").cast("decimal(25,6)")).cast("double") > F.lit(1.0e9)).alias(
            "batch_too_big"
        ),
    )


_SIZE_GUARD_SQL = f"""
SELECT MAX(l_extendedprice) AS max_price,
       {o_dsum('l_extendedprice')} AS total_price,
       MAX(l_extendedprice) > 50000.0 AS any_file_too_big,
       {o_dsum('l_extendedprice')} > 1.0e9 AS batch_too_big
FROM lineitem
"""


# ---------------------------------------------------------------------------
# Scalar derivation bundles (OP-STR-* / OP-DATE-* / OP-JSON / OP-FIL-*)
# ---------------------------------------------------------------------------


def docs_path_derivations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path/string scalar layer on synthesized raw-zone keys.

    Covers OP-STR-CONCATKEY, OP-STR-SPLITPATH, OP-STR-BASENAME, OP-STR-EXT,
    OP-STR-DIRNAME, OP-STR-CHECKNORM, OP-FIL-CHECKSUM over a deterministic
    derived path per document.
    """
    d = t(spark, sf_dir, "documents")
    path = F.concat_ws(
        "/", F.lit("raw"), "source", "lang", F.concat(F.lit("doc_"), F.col("doc_id"), F.lit(".txt"))
    )
    name = F.substring_index(path, "/", -1)
    prefixed = F.concat(F.lit("sha256:"), F.upper(F.md5("text")))
    norm = F.lower(F.regexp_replace(prefixed, "^sha256:", ""))
    return d.select(
        "doc_id",
        path.alias("s3_key"),
        F.element_at(F.split(path, "/"), 2).alias("instrument_id"),
        name.alias("file_name"),
        F.when(name.contains("."), F.lower(F.substring_index(name, ".", -1)))
        .otherwise("unknown")
        .alias("file_type"),
        F.regexp_replace(path, "/[^/]*$", "").alias("parent_prefix"),
        norm.alias("checksum_norm"),
        norm.rlike("^[a-f0-9]{32}$").alias("checksum_valid"),
    )


_DOCS_PATH_SQL = """
SELECT doc_id,
       'raw/' || source || '/' || lang || '/doc_' || CAST(doc_id AS VARCHAR) || '.txt' AS s3_key,
       source AS instrument_id,
       'doc_' || CAST(doc_id AS VARCHAR) || '.txt' AS file_name,
       'txt' AS file_type,
       'raw/' || source || '/' || lang AS parent_prefix,
       lower(md5(text)) AS checksum_norm,
       regexp_matches(lower(md5(text)), '^[a-f0-9]{32}$') AS checksum_valid
FROM documents
"""


def events_time_derivations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp scalar layer: OP-DATE-PARSE (lenient, Z-suffix), OP-DATE-FMT,
    OP-DATE-EPOCH, OP-JSON-NORM (JSON prop extraction), OP-FIL-TIME.

    A synthetic ISO string (nulled for every 10th event) exercises the
    lenient parse: fallback is a *pinned* now (determinism — SURVEY §7).
    """
    e = t(spark, sf_dir, "events")
    iso = F.when(
        F.col("event_id") % 10 != 0,
        F.concat(F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"), F.lit("Z")),
    )
    parsed = F.regexp_replace(iso, "Z$", "+00:00").try_cast("timestamp")
    pinned_now = F.lit("2024-06-01 00:00:00").cast("timestamp")
    return e.select(
        "event_id",
        F.expr("ts_us div 1000000").alias("epoch_s"),
        F.date_format("ts", "yyyy-MM-dd").alias("event_date"),
        F.year("ts").alias("y"),
        F.month("ts").alias("m"),
        F.date_format(
            F.to_date(F.concat_ws("-", F.year("ts"), F.month("ts"), F.dayofmonth("ts")), "y-M-d"),
            "yyyy-MM-dd",
        ).alias("date_assembled"),
        iso.alias("iso_string"),
        F.coalesce(parsed, pinned_now).alias("parsed_lenient"),
        parsed.isNull().alias("needed_fallback"),
        F.get_json_object("props", "$.k").cast("long").alias("prop_k"),
    )


_EVENTS_TIME_SQL = """
SELECT event_id,
       epoch_us(ts) // 1000000 AS epoch_s,
       strftime(ts, '%Y-%m-%d') AS event_date,
       CAST(year(ts) AS INT) AS y,
       CAST(month(ts) AS INT) AS m,
       strftime(ts, '%Y-%m-%d') AS date_assembled,
       CASE WHEN event_id % 10 != 0 THEN strftime(ts, '%Y-%m-%dT%H:%M:%S') || 'Z' END AS iso_string,
       CASE WHEN event_id % 10 != 0 THEN CAST(strftime(ts, '%Y-%m-%d %H:%M:%S') AS TIMESTAMP)
            ELSE TIMESTAMP '2024-06-01 00:00:00' END AS parsed_lenient,
       event_id % 10 = 0 AS needed_fallback,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
FROM events
"""


# ---------------------------------------------------------------------------
# Projection + category filter (OP-PROJ / OP-FIL-CHOICE / OP-FIL-JUNK)
# ---------------------------------------------------------------------------


def events_projected_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    return (
        e.filter(
            (F.col("event_type") == "purchase")
            & ~F.col("props").endswith("/")
            & ~F.col("props").contains(".DS_Store")
        )
        .select("event_id", "ts_us")
    )


_EVENTS_PROJ_SQL = """
SELECT event_id, epoch_us(ts) AS ts_us FROM events
WHERE event_type = 'purchase' AND props NOT LIKE '%/' AND props NOT LIKE '%.DS_Store%'
"""


# ---------------------------------------------------------------------------
# Exact median via windowing (deterministic cross-engine, unlike
# interpolated percentile whose formula/rounding is engine-specific)
# ---------------------------------------------------------------------------


def _evt_ranked(df: DataFrame, val_col: str, salted: bool) -> DataFrame:
    """(df + rn + n) ranked by (val, event_id) within event_type.
    event_type has FIVE values, so the keyed rank funnels corpus/5
    through one task; ``salted`` (the caller's ``route_salted`` verdict
    on the events scan) runs it through salted_rank_dblkey instead
    (binary64 value-range bucketing — the sort key is a double;
    row_number/count are exact integers, so both plans are
    bit-identical and the oracle keeps the single-window SQL)."""
    from agf_data_ingestion_spark.operators.skew import salted_rank_dblkey

    if salted:
        # narrow (event_type, value, event_id) frame; the decomposition's
        # bounds aggregate + both salted branches re-scan it otherwise
        return salted_rank_dblkey(
            df.cache(), ["event_type"], val_col, "event_id", out_rank="rn", out_n="n"
        )
    w = Window.partitionBy("event_type").orderBy(val_col, "event_id")
    return df.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(Window.partitionBy("event_type"))
    )


def events_median_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from agf_data_ingestion_spark.operators.skew import route_salted

    e = t(spark, sf_dir, "events")
    ranked = _evt_ranked(
        e.select("event_type", "value", "event_id"), "value", route_salted(e)
    )
    odd_mid = (F.col("n") % 2 == 1) & (F.col("rn") == F.expr("(n + 1) div 2"))
    even_mid = (F.col("n") % 2 == 0) & (
        (F.col("rn") == F.expr("n div 2")) | (F.col("rn") == F.expr("n div 2 + 1"))
    )
    mid = ranked.filter(odd_mid | even_mid)
    return mid.groupBy("event_type").agg(
        (
            F.sum(F.col("value").cast("decimal(25,6)")).cast("double") / F.count("*")
        ).alias("median_value")
    )


_MEDIAN_SQL = """
WITH ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
mid AS (
  SELECT * FROM ranked
  WHERE (n % 2 = 1 AND rn = (n + 1) // 2)
     OR (n % 2 = 0 AND (rn = n // 2 OR rn = n // 2 + 1))
)
SELECT event_type,
       CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*) AS median_value
FROM mid GROUP BY event_type
"""


_MAD_CUTOFF = 3.0 * 1.4826  # 3σ-equivalent under normality


def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event_type: median absolute deviation
    (MAD), the 3σ-equivalent cutoff ``3·1.4826·MAD``, and the count of
    values beyond it — the rep-filtering shape a training-data pipeline
    uses where mean/stddev would let one extreme value hide others
    (breakdown point 50% vs 0%).

    Exactness: both medians use the row_number midpoint trick with a
    decimal-exact two-row average (same as events_median_value); every
    deviation is the same IEEE double in both engines.  Scale shape: two
    chained ranks on the same event_type key + one broadcast of the
    5-row median table — and both ranks are SKEW-ROUTED by one
    ``route_salted`` verdict on the events scan (see ``_evt_ranked``)."""
    from agf_data_ingestion_spark.operators.skew import route_salted

    e = t(spark, sf_dir, "events")
    salted = route_salted(e)
    ranked = _evt_ranked(
        e.select("event_type", "value", "event_id"), "value", salted
    )
    is_mid = ((F.col("n") % 2 == 1) & (F.col("rn") == F.expr("(n + 1) div 2"))) | (
        (F.col("n") % 2 == 0)
        & ((F.col("rn") == F.expr("n div 2")) | (F.col("rn") == F.expr("n div 2 + 1")))
    )
    med = (
        ranked.filter(is_mid)
        .groupBy("event_type")
        .agg(
            (
                F.sum(F.col("value").cast("decimal(25,6)")).cast("double") / F.count("*")
            ).alias("med")
        )
    )
    # r12: dev is consumed TWICE (the MAD rank below AND the final
    # outlier flagging) — without a cache each consumer replayed the
    # events scan + median join (narrow scalar columns, the r4 rule)
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type",
        "event_id",
        "value",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("d"),
    ).cache()
    dranked = _evt_ranked(
        dev.select("event_type", "d", "event_id"), "d", salted
    )
    is_mid2 = ((F.col("n") % 2 == 1) & (F.col("rn") == F.expr("(n + 1) div 2"))) | (
        (F.col("n") % 2 == 0)
        & ((F.col("rn") == F.expr("n div 2")) | (F.col("rn") == F.expr("n div 2 + 1")))
    )
    mad = (
        dranked.filter(is_mid2)
        .groupBy("event_type")
        .agg(
            (
                F.sum(F.col("d").cast("decimal(25,6)")).cast("double") / F.count("*")
            ).alias("mad")
        )
    )
    flagged = dev.join(F.broadcast(mad), "event_type").select(
        "event_type",
        "med",
        "mad",
        (F.col("d") > F.lit(_MAD_CUTOFF) * F.col("mad")).cast("int").alias("is_outlier"),
    )
    return flagged.groupBy("event_type").agg(
        F.first("med").alias("median_value"),
        F.first("mad").alias("mad"),
        F.sum("is_outlier").alias("n_outliers"),
        F.count("*").alias("n_rows"),
    )


_MAD_SQL = f"""
WITH ranked AS (
  SELECT event_type, value, event_id,
         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
med AS (
  SELECT event_type,
         CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*) AS med
  FROM ranked
  WHERE (n % 2 = 1 AND rn = (n + 1) // 2)
     OR (n % 2 = 0 AND (rn = n // 2 OR rn = n // 2 + 1))
  GROUP BY event_type
),
dev AS (
  SELECT e.event_type, e.event_id, e.value, m.med, ABS(e.value - m.med) AS d
  FROM events e JOIN med m USING (event_type)
),
dranked AS (
  SELECT event_type, d,
         row_number() OVER (PARTITION BY event_type ORDER BY d, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM dev
),
mad AS (
  SELECT event_type,
         CAST(SUM(CAST(d AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*) AS mad
  FROM dranked
  WHERE (n % 2 = 1 AND rn = (n + 1) // 2)
     OR (n % 2 = 0 AND (rn = n // 2 OR rn = n // 2 + 1))
  GROUP BY event_type
)
SELECT d.event_type,
       MIN(d.med) AS median_value,
       MIN(a.mad) AS mad,
       CAST(SUM(CASE WHEN d.d > {_MAD_CUTOFF} * a.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM dev d JOIN mad a USING (event_type)
GROUP BY d.event_type
"""


def events_value_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Pearson correlation + sample covariance of (value,
    hour-of-day) per event_type, from EXACT moment sums — never
    ``F.corr`` (whose float accumulation is partial-order-dependent).
    The five sufficient statistics (Σx, Σy, Σxy, Σx², Σy²) accumulate as
    decimals/longs — order-free — in ONE map-side-combining aggregation;
    the final corr/cov are a fixed IEEE expression over the five scalars
    (binary64 ``sqrt`` is correctly rounded per IEEE-754, unlike ln —
    which is why the catalog can have a corr query but rational TF-IDF).

    Scale: single shuffle on event_type, five extra bytes-ish per partial
    — the textbook distributed-moments pattern a 1000-executor cluster
    tree-reduces; no second pass, no centering pass."""
    e = t(spark, sf_dir, "events")
    hour = F.expr("(ts_us DIV 3600000000) % 24")
    stats = (
        e.select("event_type", F.col("value").alias("x"), hour.alias("y"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("x").cast("decimal(25,6)")).cast("double").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum((F.col("x") * F.col("y")).cast("decimal(25,6)")).cast("double").alias("sxy"),
            F.sum((F.col("x") * F.col("x")).cast("decimal(25,6)")).cast("double").alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
    )
    nd = F.col("n").cast("double")
    syd = F.col("sy").cast("double")
    syyd = F.col("syy").cast("double")
    cov_num = nd * F.col("sxy") - F.col("sx") * syd
    var_x = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    var_y = nd * syyd - syd * syd
    corr = F.when(
        (var_x > 0) & (var_y > 0),
        cov_num / (F.sqrt(var_x) * F.sqrt(var_y)),
    )
    return stats.select(
        "event_type",
        F.col("n").alias("n_rows"),
        corr.alias("corr_value_hour"),
        (cov_num / (nd * (nd - F.lit(1.0)))).alias("cov_value_hour"),
    )


_CORR_SQL = """
WITH stats AS (
  SELECT event_type,
         COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(CAST(value * y AS DECIMAL(25,6))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(value * value AS DECIMAL(25,6))) AS DOUBLE) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM (SELECT event_type, value,
               (epoch_us(ts) // 3600000000) % 24 AS y
        FROM events)
  GROUP BY event_type
)
SELECT event_type, n AS n_rows,
       CASE WHEN (CAST(n AS DOUBLE) * sxx - sx * sx) > 0
             AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
            THEN (CAST(n AS DOUBLE) * sxy - sx * CAST(sy AS DOUBLE))
                 / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
                    * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
       END AS corr_value_hour,
       (CAST(n AS DOUBLE) * sxy - sx * CAST(sy AS DOUBLE))
       / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS cov_value_hour
FROM stats
"""


def orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of the orders table — per-column null counts,
    exact distincts, and native-ordered bounds, one scan (see
    operators/profile.py for the single-pass + unpivot shape and the
    float→DECIMAL→string rendering rule that keeps both engines
    bit-identical)."""
    from agf_data_ingestion_spark.operators.profile import profile_table

    return profile_table(t(spark, sf_dir, "orders"))


def _profile_render_double(col: str) -> str:
    """DuckDB twin of operators/profile.py ``_render_double_sql`` —
    floor(x·10⁶) integer formatting, never a DECIMAL cast (Spark and
    DuckDB round double→DECIMAL differently at x.xxxxxx5 boundaries)."""
    s = f"CAST(floor(CAST({col} AS DOUBLE) * 1000000.0) AS BIGINT)"
    # non-finite/out-of-range sentinels mirror _render_double_sql exactly
    # (Spark floor SATURATES double→long where DuckDB's cast would error)
    return (
        f"CASE WHEN {col} IS NULL THEN CAST(NULL AS VARCHAR) "
        f"WHEN isnan(CAST({col} AS DOUBLE)) THEN 'NaN' "
        f"WHEN isinf(CAST({col} AS DOUBLE)) AND CAST({col} AS DOUBLE) > 0 THEN 'Infinity' "
        f"WHEN isinf(CAST({col} AS DOUBLE)) THEN '-Infinity' "
        f"WHEN abs(CAST({col} AS DOUBLE)) >= 9.0e12 THEN 'overflow' "
        f"ELSE "
        f"(CASE WHEN ({s}) < 0 THEN '-' ELSE '' END) || "
        f"CAST((abs({s}) // 1000000) AS VARCHAR) || '.' || "
        f"lpad(CAST((abs({s}) % 1000000) AS VARCHAR), 6, '0') END"
    )


def _profile_sql() -> str:
    cols = {
        "o_orderkey": "int",
        "o_custkey": "int",
        "o_orderstatus": "str",
        "o_totalprice": "float",
        "o_orderdate": "ts",
        "o_orderpriority": "str",
    }
    parts = []
    for c, kind in cols.items():
        if kind == "float":
            mn = _profile_render_double(f"MIN({c})")
            mx = _profile_render_double(f"MAX({c})")
        else:
            mn, mx = f"CAST(MIN({c}) AS VARCHAR)", f"CAST(MAX({c}) AS VARCHAR)"
        parts.append(
            f"SELECT '{c}' AS col_name, COUNT(*) AS n_rows,\n"
            f"       CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,\n"
            f"       COUNT(DISTINCT {c}) AS n_distinct,\n"
            f"       {mn} AS min_value, {mx} AS max_value\nFROM orders"
        )
    return "\nUNION ALL\n".join(parts)


_PROFILE_SQL = _profile_sql()


# ---------------------------------------------------------------------------
# Row-level set operations (INTERSECT / EXCEPT)
# ---------------------------------------------------------------------------


def custkey_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    with_orders = t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    both = building.intersect(with_orders).select(
        F.col("c_custkey"), F.lit("building_with_orders").alias("tag")
    )
    # set semantics pinned on BOTH sides: SQL EXCEPT dedups its result,
    # while bare exceptAll keeps duplicate left rows — identical only
    # while c_custkey happens to be unique in the generated data
    only = (
        building.distinct()
        .exceptAll(with_orders.distinct())
        .select(F.col("c_custkey"), F.lit("building_no_orders").alias("tag"))
    )
    return both.unionByName(only)


_SETOPS_SQL = """
SELECT c_custkey, 'building_with_orders' AS tag FROM (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
  INTERSECT SELECT o_custkey FROM orders)
UNION ALL
SELECT c_custkey, 'building_no_orders' AS tag FROM (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
  EXCEPT SELECT o_custkey FROM orders)
"""


# ---------------------------------------------------------------------------
# Native pivot (groupBy().pivot() — relational PIVOT surface)
# ---------------------------------------------------------------------------

_EVENT_TYPES = ["click", "view", "purchase", "error", "signup"]


def events_pivot_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.sum(F.col("value").cast("decimal(25,6)")).cast("double"))
        .select(
            "user_id", *[F.coalesce(F.col(c), F.lit(0.0)).alias(f"{c}_value") for c in _EVENT_TYPES]
        )
    )


_PIVOT_NATIVE_SQL = "SELECT user_id, " + ", ".join(
    f"COALESCE(CAST(SUM(CASE WHEN event_type = '{c}' THEN CAST(value AS DECIMAL(25,6)) END) AS DOUBLE), 0.0) AS {c}_value"
    for c in _EVENT_TYPES
) + " FROM events GROUP BY user_id"


def orders_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectations over the orders table
    (operators/expectations.py — the Great-Expectations/dbt-test shape
    generalizing the reference's required-field manifest validation):
    every row-local rule rides ONE shared aggregation; uniqueness is a
    keyed groupBy branch (never a multi-distinct Expand); the referential
    rule is one left-anti join against distinct customer keys."""
    from agf_data_ingestion_spark.operators.expectations import check_expectations

    orders = t(spark, sf_dir, "orders")
    customer = t(spark, sf_dir, "customer")
    return check_expectations(
        orders,
        [
            {"rule": "not_null", "col": "o_orderkey"},
            {"rule": "unique", "col": "o_orderkey"},
            {"rule": "min", "col": "o_totalprice", "value": 0.0},
            {"rule": "in_set", "col": "o_orderstatus", "values": ["O", "F", "P"]},
            {"rule": "regex", "col": "o_orderpriority", "pattern": "^[1-5]-"},
            {
                "rule": "foreign_key",
                "col": "o_custkey",
                "ref": customer,
                "ref_col": "c_custkey",
            },
        ],
    )


_EXPECTATIONS_SQL = """
WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM orders),
rl AS (
  SELECT
    CAST(COUNT(*) FILTER (WHERE o_orderkey IS NULL) AS BIGINT) AS v_notnull,
    CAST(COUNT(*) FILTER (WHERE o_totalprice < 0.0) AS BIGINT) AS v_min,
    CAST(COUNT(*) FILTER (WHERE o_orderstatus NOT IN ('O','F','P')
                             OR o_orderstatus IS NULL) AS BIGINT) AS v_inset,
    CAST(COUNT(*) FILTER (WHERE NOT regexp_matches(o_orderpriority, '^[1-5]-')
                             OR o_orderpriority IS NULL) AS BIGINT) AS v_regex
  FROM orders
),
uq AS (
  SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS v FROM (
    SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1
  )
),
fk AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS v FROM orders o
  WHERE o.o_custkey IS NOT NULL
    AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
)
SELECT 'r00_not_null_o_orderkey' AS rule_id, 'o_orderkey' AS col,
       'not_null' AS rule, v_notnull AS violations, n_rows, v_notnull = 0 AS pass
FROM rl, n
UNION ALL
SELECT 'r02_min_o_totalprice', 'o_totalprice', 'min', v_min, n_rows, v_min = 0
FROM rl, n
UNION ALL
SELECT 'r03_in_set_o_orderstatus', 'o_orderstatus', 'in_set', v_inset, n_rows,
       v_inset = 0
FROM rl, n
UNION ALL
SELECT 'r04_regex_o_orderpriority', 'o_orderpriority', 'regex', v_regex, n_rows,
       v_regex = 0
FROM rl, n
UNION ALL
SELECT 'r01_unique_o_orderkey', 'o_orderkey', 'unique', uq.v, n_rows, uq.v = 0
FROM uq, n
UNION ALL
SELECT 'r05_foreign_key_o_custkey', 'o_custkey', 'foreign_key', fk.v, n_rows,
       fk.v = 0
FROM fk, n
"""


QUERIES: dict[str, QuerySpec] = {
    "orders_expectations": QuerySpec(
        orders_expectations,
        _EXPECTATIONS_SQL,
        ("OP-X-EXPECT", "OP-AGG-CONDCOUNT", "OP-JOIN-ANTI-DB"),
    ),
    "events_median_value": QuerySpec(events_median_value, _MEDIAN_SQL, ("OP-X-APPROX", "OP-WIN-DEDUPNAME")),
    "events_mad_outliers": QuerySpec(events_mad_outliers, _MAD_SQL, ("OP-X-ANOMALY", "OP-WIN-DEDUPNAME")),
    "events_value_corr": QuerySpec(
        events_value_corr, _CORR_SQL, ("OP-X-STATS", "OP-AGG-SUM", "OP-MATH")
    ),
    "orders_profile": QuerySpec(
        orders_profile, _PROFILE_SQL, ("OP-X-PROFILE", "OP-AGG-SETUNION", "OP-X-UNPIVOT")
    ),
    "custkey_setops": QuerySpec(custkey_setops, _SETOPS_SQL, ("OP-SET-UNION", "OP-JOIN-SEMI", "OP-JOIN-ANTI-S3")),
    "events_pivot_native": QuerySpec(events_pivot_native, _PIVOT_NATIVE_SQL, ("OP-AGG-CONDCOUNT",)),
    "q1_pricing_summary": QuerySpec(
        q1_pricing_summary, _Q1_SQL, ("OP-AGG-SUM", "OP-AGG-COUNT", "OP-FIL-TIME", "OP-SRC-TABLE")
    ),
    "q3_shipping_priority": QuerySpec(
        q3_shipping_priority, _Q3_SQL, ("OP-JOIN-ENRICH", "OP-SORT-LIMIT", "OP-AGG-SUM")
    ),
    "q5_local_supplier_volume": QuerySpec(
        q5_local_supplier_volume, _Q5_SQL, ("OP-JOIN-ENRICH", "OP-AGG-SUM")
    ),
    "q14_promo_share": QuerySpec(q14_promo_share, _Q14_SQL, ("OP-MATH", "OP-AGG-CONDCOUNT")),
    "events_daily_rollup": QuerySpec(
        events_daily_rollup, _EVENTS_DAILY_SQL, ("OP-FIL-TIME", "OP-AGG-COUNT", "OP-DATE-FMT")
    ),
    "events_type_pivot": QuerySpec(events_type_pivot, _EVENTS_PIVOT_SQL, ("OP-AGG-CONDCOUNT",)),
    "events_latest_per_user": QuerySpec(
        events_latest_per_user, _EVENTS_LATEST_SQL, ("OP-WIN-DEDUPNAME", "OP-DEDUP-KEY")
    ),
    "docs_name_collision": QuerySpec(
        docs_name_collision, _DOCS_COLLISION_SQL, ("OP-WIN-DEDUPNAME",)
    ),
    "customers_without_orders": QuerySpec(
        customers_without_orders, _CUST_NO_ORDERS_SQL, ("OP-JOIN-ANTI-S3",)
    ),
    "orders_without_known_customer": QuerySpec(
        orders_without_known_customer, _ORDERS_NO_CUST_SQL, ("OP-JOIN-ANTI-DB",)
    ),
    "orders_of_building_segment": QuerySpec(
        orders_of_building_segment, _ORDERS_SEMI_SQL, ("OP-JOIN-SEMI",)
    ),
    "active_keys_union": QuerySpec(active_keys_union, _UNION_KEYS_SQL, ("OP-SET-UNION", "OP-AGG-SETUNION")),
    "lineitem_part_enrich": QuerySpec(lineitem_part_enrich, _ENRICH_SQL, ("OP-JOIN-ENRICH",)),
    "top20_orders_by_price": QuerySpec(top20_orders_by_price, _TOP20_SQL, ("OP-SORT-LIMIT",)),
    "suppliers_per_nation": QuerySpec(
        suppliers_per_nation, _SUPPLIERS_NATION_SQL, ("OP-AGG-GROUPMAP", "OP-AGG-SUM")
    ),
    "lineitem_size_guard": QuerySpec(lineitem_size_guard, _SIZE_GUARD_SQL, ("OP-FIL-SIZE",)),
    "docs_path_derivations": QuerySpec(
        docs_path_derivations,
        _DOCS_PATH_SQL,
        (
            "OP-STR-CONCATKEY",
            "OP-STR-SPLITPATH",
            "OP-STR-BASENAME",
            "OP-STR-EXT",
            "OP-STR-DIRNAME",
            "OP-STR-CHECKNORM",
            "OP-FIL-CHECKSUM",
        ),
    ),
    "events_time_derivations": QuerySpec(
        events_time_derivations,
        _EVENTS_TIME_SQL,
        ("OP-DATE-PARSE", "OP-DATE-FMT", "OP-DATE-EPOCH", "OP-JSON-NORM"),
    ),
    "events_projected_filter": QuerySpec(
        events_projected_filter, _EVENTS_PROJ_SQL, ("OP-PROJ", "OP-FIL-CHOICE", "OP-FIL-JUNK", "OP-FIL-SUFFIX")
    ),
}
