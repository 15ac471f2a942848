"""DuckDB-side per-oracle timings — the denominator of the bench gate.

Runs every oracle_sql() entry on the same sf0.1 parquet DuckDB-side
(min of N passes, all threads), printing one JSON line
{"total": sec, "queries": {name: sec}}. scripts/scale_ledger.py joins
this against the Spark bench output to produce the SCALE.md per-query
ledger: for every query where Spark > 2x DuckDB, the ledger names the
fixed-floor component (VERDICT r3 #2).

Usage: python scripts/duckdb_bench.py [sf_dir] [passes]
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb

from developing_img_etl_spark.queries import all_oracles

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
PASSES = int(sys.argv[2]) if len(sys.argv) > 2 else 2

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def main() -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    timings: dict[str, float] = {}
    for _ in range(PASSES):
        for name, sql in sorted(all_oracles().items()):
            t0 = time.time()
            con.execute(sql).fetchdf()
            dt = time.time() - t0
            timings[name] = round(min(dt, timings.get(name, dt)), 3)
    print(
        json.dumps(
            {"total": round(sum(timings.values()), 3), "queries": timings, "sf_dir": SF}
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
