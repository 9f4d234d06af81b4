"""Storage ↔ table reconciliation audit (SURVEY.md §3.2).

Reference ``lambda/agf_reconciliation_lambda.py``: list object keys
modified in the last N days (:99-125), union the tracked-key projections of
the three tables filtered by their per-table timestamp (:128-166), and take
set differences both ways (:65-66); report counts plus a sorted 20-key
sample each way (:203-272).

Spark shape: one keyed pass.  Storage rows are tagged ``(key, 1, 0)`` and
tracked rows ``(key, 0, 1)``; the union is grouped by key into a narrow
``(key, n_storage, n_tracked)`` frame that is cached for the audit.  One
aggregate over it yields all four counts and each sorted sample is a
``filter → orderBy → limit`` over it, so each side is scanned once with one
shuffle — not once per count, sample and overflow count behind two
anti-joins.  The paginated single-threaded scans the reference needed a
900 s budget for become one parallel batch job; the time-window filters
land on partition / min-max pruned Parquet scans.

Anti-join semantics are kept exactly: counts include duplicate keys, a NULL
key never matches the other side (so it is an orphan on its own side), and
samples sort ascending with NULLs first, repeating a duplicated key.
"""

from __future__ import annotations

import datetime as _dt
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

RECONCILIATION_DAYS = 8  # reference :38-40, weekly cadence + 1 day buffer

#: (key column, timestamp column) per engine table — reference :145-164
TRACKED_KEY_SOURCES = {
    "file_inventory": ("s3_key", "uploaded_at"),
    "sync_runs": ("s3_key", "processed_at"),
    "experiments": ("s3_experiment_json_key", "last_updated"),
}


def list_storage_keys(
    spark: SparkSession,
    root: str,
    *,
    cutoff: _dt.datetime | None = None,
    prefix: str = "raw/",
) -> DataFrame:
    """Object listing as a DataFrame (OP-SRC-LIST).

    Uses the ``binaryFile`` source with content column pruned away — Spark's
    distributed file index replaces the reference's sequential
    ``list_objects_v2`` pagination. Junk filters per reference :122.
    """
    listing = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .load(os.path.join(root, prefix.strip("/")))
        .select(
            F.regexp_replace(F.col("path"), "^file:/+", "/").alias("abs_path"),
            F.col("modificationTime").alias("modified_at"),
        )
    )
    # percent-decode FIRST ('+' shielded: url_decode is form decoding), then
    # strip the root by LENGTH, not regexp — roots with regex metacharacters
    # must not corrupt keys or error the pattern (ADVICE r1)
    decoded = F.url_decode(F.regexp_replace(F.col("abs_path"), "\\+", "%2B"))
    root_prefix = "/" + os.path.abspath(root).strip("/") + "/"
    stripped = F.when(
        decoded.startswith(F.lit(root_prefix)),
        F.substring(decoded, len(root_prefix) + 1, 1 << 30),
    ).otherwise(decoded)
    listing = listing.select(stripped.alias("key"), "modified_at")
    listing = listing.filter(
        ~F.col("key").endswith("/") & ~F.col("key").contains(".DS_Store")
    )
    if cutoff is not None:
        listing = listing.filter(F.col("modified_at") >= F.lit(cutoff))
    return listing


def tracked_keys(
    tables: dict[str, DataFrame], *, cutoff: _dt.datetime | None = None
) -> DataFrame:
    """Union-distinct of tracked keys across the three tables
    (OP-SET-UNION; incremental window per table — reference :128-166)."""
    parts = []
    for name, (key_col, ts_col) in TRACKED_KEY_SOURCES.items():
        if name not in tables:
            continue
        df = tables[name]
        if cutoff is not None:
            df = df.filter(F.col(ts_col) >= F.lit(cutoff))
        parts.append(df.select(F.col(key_col).alias("key")).filter(F.col("key").isNotNull()))
    if not parts:
        raise ValueError("no tracked tables supplied")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.distinct()


@dataclass
class ReconciliationResult:
    storage_count: int
    tracked_count: int
    orphaned_in_storage: int
    orphaned_in_db: int
    sample_storage: list[str] = field(default_factory=list)
    sample_db: list[str] = field(default_factory=list)

    @property
    def status(self) -> str:
        return (
            "discrepancies_found"
            if (self.orphaned_in_storage or self.orphaned_in_db)
            else "in_sync"
        )


def _audit(
    s: DataFrame,
    t: DataFrame,
    sample: int,
    *,
    match: DataFrame | None = None,
) -> ReconciliationResult:
    """Counts + top-``sample`` sorted keys per side (OP-SORT-LIMIT,
    reference :229-243) from one keyed pass over both sides.

    A storage key is orphaned unless ``match`` (default: ``t`` itself)
    holds it; a tracked key is orphaned unless ``s`` holds it.  NULL keys
    match nothing, as in a ``left_anti`` join."""
    # storage keys are matched by the tracked side itself (n_t), or by a
    # third tagged set (n_m); `tag` drops counters beyond ``cols``
    cols = ["n_s", "n_t"] if match is None else ["n_s", "n_t", "n_m"]

    def tag(df: DataFrame, *ns: int) -> DataFrame:
        return df.select("key", *[F.lit(n).alias(c) for n, c in zip(ns, cols)])

    tagged = tag(s, 1, 0, 0).unionByName(tag(t, 0, 1, 0))
    if match is not None:
        tagged = tagged.unionByName(tag(match, 0, 0, 1))
    frame = tagged.groupBy("key").agg(*[F.sum(c).alias(c) for c in cols]).cache()
    n_s, n_t, n_m = F.col("n_s"), F.col("n_t"), F.col(cols[-1])
    null = F.col("key").isNull()
    orphan_s = (n_s > 0) & (null | (n_m == 0))
    orphan_t = (n_t > 0) & (null | (n_s == 0))

    def sample_keys(cond, n, total: int) -> list:
        if total == 0 or sample <= 0:
            return []
        rows = (
            frame.filter(cond)
            .orderBy("key")
            .limit(sample)
            .select(F.array_repeat("key", F.least(n, F.lit(sample)).cast("int")).alias("k"))
            .collect()
        )
        return [k for r in rows for k in r["k"]][:sample]

    try:
        row = frame.agg(
            F.sum(n_s), F.sum(n_t), F.sum(F.when(orphan_s, n_s)), F.sum(F.when(orphan_t, n_t))
        ).first()
        cnt_s, cnt_t, n_os, n_ot = (int(v or 0) for v in row)
        return ReconciliationResult(
            storage_count=cnt_s,
            tracked_count=cnt_t,
            orphaned_in_storage=n_os,
            orphaned_in_db=n_ot,
            sample_storage=sample_keys(orphan_s, n_s, n_os),
            sample_db=sample_keys(orphan_t, n_t, n_ot),
        )
    finally:
        frame.unpersist()


def reconcile(
    storage_keys: DataFrame, tracked: DataFrame, *, sample: int = 20
) -> ReconciliationResult:
    """Orphans both directions (OP-JOIN-ANTI-S3 / OP-JOIN-ANTI-DB) +
    ordered samples (OP-SORT-LIMIT, reference :229-243), in one keyed
    pass (see the module docstring)."""
    return _audit(storage_keys.select("key"), tracked.select("key"), sample)


def format_report(res: ReconciliationResult, generated_at: str) -> str:
    """Human-readable report (layout per reference :203-272)."""
    lines = [
        "=" * 60,
        "S3-TABLE RECONCILIATION REPORT",
        f"Generated: {generated_at}",
        "=" * 60,
        "",
        "SUMMARY",
        "-" * 40,
        f"Total files in storage:     {res.storage_count:,}",
        f"Total tracked in tables:    {res.tracked_count:,}",
        "",
        f"Orphaned in storage:        {res.orphaned_in_storage:,}",
        f"Orphaned in tables:         {res.orphaned_in_db:,}",
        "",
    ]
    if res.sample_storage:
        lines += ["UNTRACKED STORAGE FILES (sample, max 20):", "-" * 40]
        lines += [f"  - {k}" for k in res.sample_storage]
        if res.orphaned_in_storage > len(res.sample_storage):
            lines.append(f"  ... and {res.orphaned_in_storage - len(res.sample_storage)} more")
        lines.append("")
    if res.sample_db:
        lines += ["TABLE RECORDS POINTING TO MISSING FILES (sample, max 20):", "-" * 40]
        lines += [f"  - {k}" for k in res.sample_db]
        if res.orphaned_in_db > len(res.sample_db):
            lines.append(f"  ... and {res.orphaned_in_db - len(res.sample_db)} more")
        lines.append("")
    lines.append("=" * 60)
    return "\n".join(lines)


def reconcile_incremental(
    spark,
    storage_keys: DataFrame,
    snapshot_table: str,
    *,
    v_from: int,
    key_col: str = "s3_key",
    sample: int = 20,
) -> ReconciliationResult:
    """Audit only what CHANGED since snapshot version ``v_from`` of a
    snapshot-format tracked table (sources/snapshots.py) — the weekly
    full-scan audit (reference agf_reconciliation_lambda.py) becomes an
    incremental one.

    The keyed pass of `reconcile` with asymmetric sides:

    * **DB side** (tracked → storage): only keys *inserted since v_from*
      are checked against storage — cost basis |changes|, not |table|.
    * **storage side** (storage → tracked): matched against the FULL
      current tracked key set.  Using the delta here would flag every
      object tracked before v_from as orphaned (a false positive on a
      perfectly in-sync table); the current set is read via
      ``snapshot_read``, which plans from committed manifests — no
      storage listing, and min/max-pruned scans of the key column only.

    ``tracked_count`` reports the delta size (what this audit verified),
    ``storage_count`` the supplied storage listing.  Callers typically
    pass a cutoff-filtered listing (``list_storage_keys(cutoff=...)``)
    aligned to v_from's commit time so both sides stay |changes|-sized.
    A full audit remains `reconcile` — run it at a slower cadence.
    """
    from pyspark.sql import functions as F

    from agf_data_ingestion_spark.sources.snapshots import snapshot_diff, snapshot_read

    delta = snapshot_diff(spark, snapshot_table, v_from=v_from)
    added = (
        delta.filter(F.col("_change") == "insert")
        .select(F.col(key_col).alias("key"))
        .dropDuplicates(["key"])
    )
    current = (
        snapshot_read(spark, snapshot_table)
        .select(F.col(key_col).alias("key"))
        .filter(F.col("key").isNotNull())
        .dropDuplicates(["key"])
    )
    return _audit(storage_keys.select("key"), added, sample, match=current)
