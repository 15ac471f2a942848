"""Decompose st15's sf10 cost into PLAN vs DRAIN MACHINERY
(VERDICT r9 #4 / ST10b weak-watch).

st15 at sf10 measured 285 s vs DuckDB's 42.6 s batch replay — but the
streaming query pays for things the oracle doesn't: staging 8 parquet
files, TWO availableNow drains (8 micro-batches each with per-batch
sig/registry sinks, plus the crash-replay no-op drain), and checkpoint
bookkeeping. This script runs, in ONE session at the same SF:

  1. st15 end-to-end (the probe number, re-measured);
  2. the IDENTICAL signature→registry→verdict plan as a single batch
     job over the same doubled corpus — the plan cost with zero
     micro-batch machinery (exactly what DuckDB's oracle replays).

drain+staging overhead = (1) − (2). If (2) is within ~2x of the DuckDB
oracle, ST10b's excess is micro-batch fixed cost by construction —
the plan itself is competitive — and the weak-watch can be retired
with numbers instead of an argument.

Writes ST15_DECOMP.json. Usage: python scripts/st15_decompose.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, "testdata/sf10")
OUT = os.path.join(ROOT, "ST15_DECOMP.json")


def batch_equivalent(spark, sf_dir):
    """The st15 plan with the streaming machinery removed: same
    doubled corpus, same banded signatures, same min-owner registry,
    same verdict aggregation (streaming_batch.py:1498 — bands_of /
    owners / verdict, byte-for-byte semantics)."""
    from pyspark.sql import functions as F

    from developing_img_etl_spark.catalog import load
    from developing_img_etl_spark.functions import text as TXT
    from developing_img_etl_spark.queries._shingle import (
        _LSH_BAND_KEY,
        lsh_bands,
        lsh_signatures,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    mx = docs.agg(F.max("doc_id").alias("m")).collect()[0]["m"]
    off = mx + 1
    doubled = docs.unionByName(
        docs.select((F.col("doc_id") + F.lit(off)).alias("doc_id"), "source", "text")
    )
    bkey = _LSH_BAND_KEY
    sh = doubled.select(
        "doc_id", "source", TXT.shingles(F.col("text"), 3).alias("sh")
    ).filter(F.size("sh") > 0)
    bands = lsh_bands(
        lsh_signatures(sh.select("doc_id", "source", F.explode("sh").alias("s")))
    ).localCheckpoint(eager=False)
    owners = bands.groupBy(*bkey).agg(F.min("doc_id").alias("owner"))
    verdict = (
        bands.join(owners, bkey)
        .groupBy("doc_id", "source")
        .agg(F.max((F.col("owner") < F.col("doc_id")).cast("int")).alias("supp"))
    )
    return (
        doubled.select("doc_id", "source")
        .join(verdict.select("doc_id", "supp"), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.lit(1) - F.coalesce(F.col("supp"), F.lit(0)))
            .cast("long")
            .alias("n_admitted"),
            F.sum(F.coalesce(F.col("supp"), F.lit(0)))
            .cast("long")
            .alias("n_suppressed"),
        )
        .orderBy("source")
    )


def main() -> int:
    from developing_img_etl_spark.queries import all_queries
    from developing_img_etl_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_LOCAL_DIR", os.path.join(ROOT, "tmp/spark-local"))
    spark = get_spark("st15-decompose", cpus=32)
    spark.conf.set("spark.sql.shuffle.partitions", "64")  # probe parity
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warm

    # (2) batch-equivalent plan, warmed once (the probe discipline)
    batch_equivalent(spark, SF).toPandas()
    t0 = time.time()
    batch_rows = batch_equivalent(spark, SF).toPandas()
    t_batch = round(time.time() - t0, 2)

    # (1) the full streaming query (stages its own files + two drains)
    st15 = all_queries()["st15_streaming_lsh_dedup"]
    st15(spark, SF).toPandas()  # warm pass
    t0 = time.time()
    stream_rows = st15(spark, SF).toPandas()
    t_full = round(time.time() - t0, 2)

    same = stream_rows.sort_values("source").reset_index(drop=True).equals(
        batch_rows.sort_values("source").reset_index(drop=True)
    )
    out = {
        "sf_dir": SF,
        "st15_full_s": t_full,
        "batch_plan_s": t_batch,
        "drain_and_staging_overhead_s": round(t_full - t_batch, 2),
        "plan_share_pct": round(100.0 * t_batch / t_full, 1),
        "results_identical": bool(same),
        "method": (
            "one session, each leg warmed once then timed (the sf10 probe "
            "discipline); batch leg = the identical signature/registry/"
            "verdict plan with zero micro-batch machinery"
        ),
    }
    with open(OUT, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))
    return 0 if same else 1


if __name__ == "__main__":
    raise SystemExit(main())
