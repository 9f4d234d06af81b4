"""Shared helpers for the query catalog (cross-engine determinism toolkit)."""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from py4j.protocol import Py4JError
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: exact accumulator for money-ish magnitudes (|x| < 1e19, 6 frac digits)
DEC_MONEY = "decimal(25,6)"
#: exact accumulator for unit-interval magnitudes (dot products, ratios)
DEC_UNIT = "decimal(25,18)"

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@dataclass(frozen=True)
class QuerySpec:
    """One catalog entry.

    ``fn(spark, sf_dir) -> DataFrame`` is the Spark plan; ``oracle`` is the
    equivalent DuckDB SQL over the pre-registered table views (None for
    plans whose semantics are not ANSI-SQL-expressible — the driver then
    records a rows-only check).  ``ops`` lists the SURVEY.md §2 operator
    IDs the query demonstrates, for the coverage audit.
    """

    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    ops: tuple[str, ...] = field(default=())


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table (TESTDATA.md layout).

    ``events.ts`` has shipped as parquet TIMESTAMP(NANOS) (which Spark's
    vectorized reader rejects — read as a nanosecond BIGINT via
    ``nanosAsLong``) and, since the round-3 regeneration, as plain
    TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ).  Both layouts normalize to
    the same two columns: a µs TimestampType ``ts`` for calendar
    operations plus an epoch-µs BIGINT ``ts_us`` (DuckDB's reader also
    lands on µs for either layout, so this is the cross-engine-faithful
    value).  Sessions are pinned UTC (session.py / _pinned_session), so
    the NTZ→timestamp cast is wall-clock-identity.
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = spark.read.parquet(f"{sf_dir}/events.parquet")
        if dict(raw.dtypes)["ts"] == "bigint":  # TIMESTAMP(NANOS) layout
            us = F.expr("ts div 1000")
        else:  # TIMESTAMP(MICROS), read as (ntz) timestamp
            us = F.unix_micros(F.col("ts").cast("timestamp"))
        return raw.select(
            "event_id",
            F.timestamp_micros(us).alias("ts"),
            us.alias("ts_us"),
            "user_id",
            "event_type",
            "value",
            "props",
        )
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


#: size guard for dimension broadcasts: frames whose optimizer estimate
#: exceeds this are NOT hint-pinned (AQE decides from runtime sizes).
#: 64 MiB is comfortably driver-safe and ~350× the largest sf0.1 dim
#: estimate, so every bench-scale plan keeps its broadcast.
_BDIM_MAX_BYTES = 64 << 20


def size_estimate(df: DataFrame) -> int | None:
    """The optimizer's size estimate of ``df`` in bytes, or None when the
    plan cannot produce one.  Plan-only: no Spark job.  Scans estimate
    from file sizes (the evidence Spark's own planner uses); a
    ``localCheckpoint``ed frame keeps its source's estimate; a join
    estimates the PRODUCT of its sides, so callers sizing a corpus ask
    before joining."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Py4JError:
        return None


def bdim(df: DataFrame) -> DataFrame:
    """Size-guarded broadcast hint for LINEARLY-SCALING dimension frames
    (part / customer / supplier and frames derived from them) — VERDICT
    r5 finding #2: an unconditional ``F.broadcast`` never degrades
    gracefully (AQE cannot override an explicit hint), so at 1000×+ the
    pinned dims OOM the driver.  The hint is applied only while the
    optimizer's size estimate (file-size based for scans — the same
    evidence Spark's own planner uses) is under ``_BDIM_MAX_BYTES``;
    above it the join is left unhinted and AQE picks the strategy from
    RUNTIME sizes — a genuinely small filtered dim still broadcasts, an
    oversized one falls back to a shuffle join instead of a forced OOM.

    Constant-size frames (nation/region, scalar aggregates, filtered
    query sets) keep plain ``F.broadcast`` — they are bounded at any sf.
    Corpus-sized frames must NEVER go through either form (the
    ``shuffle_hash`` rule in CLAUDE.md)."""
    est = size_estimate(df)
    if est is None:  # estimate unavailable: leave the choice to AQE
        return df
    return F.broadcast(df) if est <= _BDIM_MAX_BYTES else df


def dsum(col: Column, dec: str = DEC_MONEY) -> Column:
    """Order-independent exact sum of a floating column, emitted as DOUBLE.

    The per-row DOUBLE→DECIMAL rounding is deterministic and identical in
    Spark and DuckDB; DECIMAL addition is exact, so partial/final agg order
    (Spark) vs single-pass (DuckDB) cannot change the result.
    """
    return F.sum(col.cast(dec)).cast("double")


def o_dsum(expr: str, dec: str = "DECIMAL(25,6)") -> str:
    """DuckDB oracle twin of :func:`dsum`."""
    return f"CAST(SUM(CAST(({expr}) AS {dec})) AS DOUBLE)"


def davg(col: Column, dec: str = DEC_MONEY) -> Column:
    """Deterministic mean: exact decimal sum → DOUBLE, IEEE-divided by count.

    Both engines perform the identical double division, so results are
    bit-equal (counts < 2^53 are exact in binary64).
    """
    return F.sum(col.cast(dec)).cast("double") / F.count(col)


def o_davg(expr: str, dec: str = "DECIMAL(25,6)") -> str:
    return f"CAST(SUM(CAST(({expr}) AS {dec})) AS DOUBLE) / COUNT({expr})"
