#!/usr/bin/env python
"""Intra-stage profile of curate_full's quality_cut floor (VERDICT r12
ask #3): replicate the pipeline up to decontam (its own stages timed
coarsely), then attribute the quality_cut stage's wall to its blocking
pieces:

  Q1  pick_cut_tile       — the 19-row PR-curve collect (rides _bg cache)
  Q2  thresholds collect  — forces score_quality (real-text bigram scan)
      + the tile rank for the thresholds aggregate
  Q3  survivors checkpoint — the docs semi-join + localCheckpoint+count
      (re-executes the tile plan unless it is shared)

Usage: python scripts/r13_qcut_profile.py [reps]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from pyspark.sql import functions as F

    from agf_data_ingestion_spark.operators import curation as C
    from agf_data_ingestion_spark.plans import QUERIES
    from agf_data_ingestion_spark.plans.base import t
    from agf_data_ingestion_spark.session import get_spark

    spark = get_spark("agf-r13-qcut-profile")
    spark.sparkContext.setLogLevel("ERROR")
    QUERIES["q1_pricing_summary"].fn(spark, sf_dir).count()
    from pyspark.sql.functions import col, pandas_udf

    _warm = pandas_udf(lambda s: s, "long")
    spark.range(1000).select(_warm(col("id"))).localCheckpoint(eager=True).count()

    all_meds: dict[str, list[float]] = {}
    for rep in range(reps):
        ph: dict[str, float] = {}
        t0 = time.time()
        docs = t(spark, sf_dir, "documents").select(*C._DOC_COLS).localCheckpoint()
        docs = (
            C.stage_rule_gate(spark, sf_dir, docs)
            .select(*C._DOC_COLS)
            .localCheckpoint()
        )
        docs = C.stage_exact_dedup(docs).select(*C._DOC_COLS).localCheckpoint()
        docs = C.stage_neardup(spark, sf_dir, docs).select(*C._DOC_COLS).localCheckpoint()
        docs = C.stage_decontam(spark, sf_dir, docs).select(*C._DOC_COLS).localCheckpoint()
        n_in = docs.count()
        ph["pre_stages"] = round(time.time() - t0, 3)

        tq = time.time()
        ts = time.time()
        cut = C.pick_cut_tile(spark, sf_dir)
        ph["Q1_pick_cut_tile"] = round(time.time() - ts, 3)

        ts = time.time()
        cut_docs, thresholds = C.stage_quality_cut(spark, sf_dir, docs, cut)
        thresh_rows = {r["lang"]: int(r["value"]) for r in thresholds.collect()}
        ph["Q2_thresholds_collect"] = round(time.time() - ts, 3)

        ts = time.time()
        out = cut_docs.select(*C._DOC_COLS).localCheckpoint(eager=True)
        n_out = out.count()
        ph["Q3_survivors_checkpoint"] = round(time.time() - ts, 3)
        ph["quality_cut_total"] = round(time.time() - tq, 3)
        print(
            json.dumps(
                {
                    "rep": rep,
                    "n_in": n_in,
                    "n_out": n_out,
                    "cut": cut,
                    "n_langs_thresh": len(thresh_rows),
                    **ph,
                }
            ),
            flush=True,
        )
        for k, v in ph.items():
            all_meds.setdefault(k, []).append(v)

    print(
        json.dumps(
            {
                "medians": {k: sorted(v)[len(v) // 2] for k, v in all_meds.items()},
                "load_avg": list(os.getloadavg()),
            }
        )
    )


if __name__ == "__main__":
    main()
