"""Cross-SF bench-gate evidence (VERDICT r4 #2).

The 2x gate compares Spark to DuckDB on the oracle subset at ONE SF,
where ~90 queries cost DuckDB <50 ms and Spark pays a fixed per-query
stage floor — three rounds of prose argued the ratio is floor-bound,
this script MEASURES it: the full oracle subset, Spark and DuckDB
side by side, at sf0.01 / sf0.1 / sf1 (sf1 generated deterministically
by scripts/gen_testdata.py; /root/testdata is read-only and ships
nothing above sf0.1). Writes per-SF results to CROSS_SF.json
(resumable — an SF already present is skipped) and regenerates the
CROSSSF section of SCALE.md with the ratio-vs-SF trend.

Method per SF: min-of-2 warm-session passes per engine per query
(Spark: toPandas, the Arrow-columnar client materialization matching
DuckDB's fetchdf), single process at a time so engines never contend.
Since r9 the subset is EVERY query with an oracle, streaming included
(st* Spark times carry the micro-batch drain machinery — the honest
cost of those workloads); only the rows-only approximate tier
(m15/m19) has no oracle and stays out.

Usage: python scripts/crossf_gate.py [--force]
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SFS = [
    ("0.01", "/root/testdata/sf0.01"),
    ("0.1", "/root/testdata/sf0.1"),
    ("1", os.path.join(ROOT, "testdata/sf1")),
]
OUT = os.path.join(ROOT, "CROSS_SF.json")
BEGIN = "<!-- CROSSSF:BEGIN (generated by scripts/crossf_gate.py) -->"
END = "<!-- CROSSSF:END -->"
PASSES = 2

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _oracle_batch_names() -> list[str]:
    """Every declared query with an oracle — INCLUDING streaming (r9,
    VERDICT r8 #6): st* queries drain real micro-batches through their
    sinks, so their Spark time carries the streaming machinery, which
    is exactly what the engine costs for those workloads; DuckDB runs
    the equivalent batch SQL. Only the rows-only approximate tier
    (m15/m19, no oracle by design) stays out."""
    from developing_img_etl_spark.queries import all_oracles, all_queries

    oracles = all_oracles()
    return sorted(n for n in all_queries() if n in oracles)


def run_spark(sf_dir: str, names: list[str]) -> dict[str, float]:
    from developing_img_etl_spark.queries import all_queries
    from developing_img_etl_spark.session import get_spark

    spark = get_spark("crossf", cpus=32)
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm-up
    qs = all_queries()
    timings: dict[str, float] = {}
    for p in range(PASSES):
        for name in names:
            t0 = time.time()
            qs[name](spark, sf_dir).toPandas()
            dt = time.time() - t0
            timings[name] = round(min(dt, timings.get(name, dt)), 3)
            print(f"  [spark pass{p}] {name}: {dt:.2f}s", file=sys.stderr)
    return timings


DUCK_CAP_S = 120  # per-oracle wall cap; a DNF records the cap value


def run_duck(sf_dir: str, names: list[str]) -> tuple[dict[str, float], list[str]]:
    """DuckDB timings with a per-query interrupt cap: the recursive-CTE
    closure oracles (q30/q74's `reach` materializes all reachable pairs
    per component and iterates to the component diameter) stop
    terminating in reasonable time at sf1 — a capped entry records the
    cap as a LOWER bound for DuckDB, making the reported Spark/DuckDB
    ratio an UPPER bound (conservative against Spark)."""
    import threading

    import duckdb

    from developing_img_etl_spark.queries import all_oracles

    oracles = all_oracles()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    timings: dict[str, float] = {}
    timeouts: set[str] = set()
    for p in range(PASSES):
        for name in names:
            if name in timeouts:
                continue
            timer = threading.Timer(DUCK_CAP_S, con.interrupt)
            timer.start()
            t0 = time.time()
            try:
                con.execute(oracles[name]).fetchdf()
                dt = time.time() - t0
            except duckdb.InterruptException:
                dt = float(DUCK_CAP_S)
                timeouts.add(name)
                print(f"  [duck pass{p}] {name}: TIMEOUT >{DUCK_CAP_S}s", file=sys.stderr)
            finally:
                timer.cancel()
            timings[name] = round(min(dt, timings.get(name, dt)), 3)
            if name not in timeouts:
                print(f"  [duck pass{p}] {name}: {dt:.2f}s", file=sys.stderr)
    return timings, sorted(timeouts)


def regenerate_scale_md(results: dict) -> None:
    lines = [
        BEGIN,
        "",
        "### The 2x gate, measured across two decades of data volume",
        "",
        "Full oracle subset (every batch query with a DuckDB oracle), both",
        "engines min-of-2 warm passes on the same parquet, local[32].",
        "sf1 is generated by `scripts/gen_testdata.py` (deterministic,",
        "schema- and distribution-matched to the shipped driver data;",
        "/root/testdata itself is read-only and stops at sf0.1).",
        "",
        "| sf | queries | Spark total (s) | DuckDB total (s) | ratio |",
        "|---|---|---|---|---|",
    ]
    ratios = {}
    for sf_label, _ in SFS:
        r = results.get(sf_label)
        if not r:
            continue
        st = sum(r["spark"].values())
        dt = sum(r["duck"].values())
        ratios[sf_label] = st / dt if dt else float("nan")
        tos = r.get("duck_timeouts", [])
        note = (
            f" (DuckDB DNF >{DUCK_CAP_S}s on {', '.join(tos)} — counted at "
            "the cap, so the ratio is an upper bound)" if tos else ""
        )
        lines.append(
            f"| {sf_label} | {len(r['spark'])} | {st:.1f} | {dt:.1f} | "
            f"**{st / dt:.2f}x**{note} |"
        )
    lines.append("")
    # batch/streaming decomposition (r9: st* joined the subset): the
    # streaming rows pay per-batch drain overhead DuckDB's batch SQL
    # doesn't model, so the trend is reported for both slices
    for sf_label, _ in SFS:
        r = results.get(sf_label)
        if not r:
            continue
        stq = [n for n in r["spark"] if n.startswith("st") and n in r["duck"]]
        if not stq:
            continue
        bq = [n for n in r["spark"] if not n.startswith("st") and n in r["duck"]]
        bs, bd = sum(r["spark"][n] for n in bq), sum(r["duck"][n] for n in bq)
        ss, sd = sum(r["spark"][n] for n in stq), sum(r["duck"][n] for n in stq)
        lines.append(
            f"- sf{sf_label} decomposition: batch {len(bq)}q "
            f"{bs:.1f}/{bd:.1f} s = {bs / bd:.2f}x; streaming {len(stq)}q "
            f"{ss:.1f}/{sd:.1f} s = {ss / sd:.2f}x (drain machinery vs batch SQL)."
        )
    lines.append("")
    if "1" in results:
        r = results["1"]
        per = {
            n: (r["spark"][n], r["duck"][n])
            for n in r["spark"]
            if n in r["duck"]
        }
        wins = sorted(
            (n for n, (s, d) in per.items() if s < d),
            key=lambda n: per[n][1] - per[n][0],
            reverse=True,
        )
        lines += [
            f"At sf1, Spark beats DuckDB outright on {len(wins)} of "
            f"{len(per)} oracle queries. Largest absolute wins:",
            "",
            "| query | Spark (s) | DuckDB (s) |",
            "|---|---|---|",
        ]
        for n in wins[:12]:
            s, d = per[n]
            lines.append(f"| {n} | {s:.2f} | {d:.2f} |")
        lines.append("")
        # floor decomposition at sf1: queries DuckDB answers <100ms
        floor = [n for n, (s, d) in per.items() if d < 0.1]
        fs = sum(per[n][0] for n in floor)
        fd = sum(per[n][1] for n in floor)
        data = [n for n in per if n not in floor]
        ds_ = sum(per[n][0] for n in data)
        dd = sum(per[n][1] for n in data)
        lines += [
            f"Decomposition at sf1: {len(floor)} fixed-floor queries "
            f"(DuckDB <100 ms each) cost DuckDB {fd:.1f} s total vs Spark's "
            f"{fs:.1f} s of per-query stage floor; the {len(data)} "
            f"data-proportional queries stand at Spark {ds_:.1f} s vs DuckDB "
            f"{dd:.1f} s ({ds_ / dd:.2f}x)" + (
                " — **Spark is faster than DuckDB on the data-proportional "
                "subset**." if ds_ < dd else "."
            ),
            "",
        ]
    trend = " → ".join(
        f"{ratios[k]:.2f}x (sf{k})" for k, _ in SFS if k in ratios
    )
    lines += [f"Ratio trend: {trend}.", "", END]
    with open(os.path.join(ROOT, "SCALE.md")) as f:
        content = f.read()
    block = "\n".join(lines)
    if BEGIN in content:
        pre = content[: content.index(BEGIN)]
        post = content[content.index(END) + len(END):]
        content = pre + block + post
    else:
        content = content.rstrip() + "\n\n" + block + "\n"
    with open(os.path.join(ROOT, "SCALE.md"), "w") as f:
        f.write(content)
    print("SCALE.md cross-SF section regenerated")


def main() -> int:
    """Per-SF results cache with DELTA extension (r8): an existing SF
    entry is topped up with any newly-declared oracle queries instead
    of being either fully cached or fully re-run, and ``--refresh
    a,b,c`` force-retimes named queries everywhere (for reworked
    implementations whose cached timings would misrepresent them)."""
    force = "--force" in sys.argv
    refresh: set[str] = set()
    for i, a in enumerate(sys.argv):
        if a == "--refresh" and i + 1 < len(sys.argv):
            refresh = set(sys.argv[i + 1].split(","))
    results: dict = {}
    if os.path.exists(OUT) and not force:
        with open(OUT) as f:
            results = json.load(f)
    names = _oracle_batch_names()
    for sf_label, sf_dir in SFS:
        cached = results.get(sf_label)
        todo = (
            names
            if cached is None
            else sorted(
                set(n for n in names if n not in cached["spark"]) | (refresh & set(names))
            )
        )
        if not todo:
            print(f"sf{sf_label}: cached ({len(cached['spark'])} queries)")
            continue
        if not os.path.exists(sf_dir):
            print(f"sf{sf_label}: {sf_dir} missing — run scripts/gen_testdata.py")
            continue
        print(f"sf{sf_label}: spark pass ({len(todo)} queries) ...")
        spark_t = run_spark(sf_dir, todo)
        print(f"sf{sf_label}: duckdb pass ...")
        duck_t, duck_timeouts = run_duck(sf_dir, todo)
        if cached is None:
            results[sf_label] = {
                "spark": spark_t,
                "duck": duck_t,
                "duck_timeouts": duck_timeouts,
            }
        else:
            cached["spark"].update(spark_t)
            cached["duck"].update(duck_t)
            cached["duck_timeouts"] = sorted(
                (set(cached.get("duck_timeouts", [])) - set(todo)) | set(duck_timeouts)
            )
        with open(OUT, "w") as f:
            json.dump(results, f, indent=1)
        r = results[sf_label]
        print(
            f"sf{sf_label}: spark {sum(r['spark'].values()):.1f}s "
            f"duck {sum(r['duck'].values()):.1f}s"
        )
    regenerate_scale_md(results)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
