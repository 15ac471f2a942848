"""Cross-SF scaling probe — measures how per-query wall clock scales
with data volume and rewrites the scaling section of SCALE.md.

For each probed query, runs at sf0.001 / sf0.01 / sf0.1 (min-of-2,
warm session) and fits t ≈ c · SF^α over the top decade
(α = log10(t_0.1 / t_0.01)). α near 0 ⇒ the time is fixed floor
(plan+stages), α near 1 ⇒ the data term dominates — the regime where
per-query cost is honest work and the 100 TB extrapolation is the
data term, not the floor.

Usage: python scripts/scaling_probe.py
"""

from __future__ import annotations

import math
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from developing_img_etl_spark.queries import all_queries
from developing_img_etl_spark.session import get_spark

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]

# representative mix: heavy dedup/iterative, shuffle-bound relational,
# codec UDF, window-function, and a floor-bound scalar query as control
PROBES = [
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
    "q2_grouped_agg",  # floor-bound control: DuckDB <15 ms at every SF
    "q97_hll_distinct",  # sketch: register shuffle is constant-size
    "q103_label_propagation",  # 3 synchronous rounds over the dup graph
    "q108_minhash_audit",  # candidate-only 8x md5 signatures
    "q113_quantile_sketch",  # dim-scale histogram, 2 fact scans
]

BEGIN = "<!-- SCALING:BEGIN (generated by scripts/scaling_probe.py) -->"
END = "<!-- SCALING:END -->"


def main() -> int:
    spark = get_spark("scaling-probe", cpus=32)
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    qs = all_queries()
    results: dict[str, list[float]] = {}
    for _ in range(2):  # min-of-2
        for name in PROBES:
            per_sf = results.setdefault(name, [float("inf")] * len(SFS))
            for i, sf in enumerate(SFS):
                t0 = time.time()
                qs[name](spark, sf).toPandas()
                per_sf[i] = min(per_sf[i], time.time() - t0)

    lines = [
        BEGIN,
        "",
        "Wall clock (s, min-of-2, warm `local[32]`) at 100× spread of data "
        "volume, with the fitted top-decade exponent α (t ∝ SF^α): α≈0 is "
        "fixed per-query floor, α≈1 is data-proportional work.",
        "",
        "| query | sf0.001 | sf0.01 | sf0.1 | α (0.01→0.1) |",
        "|---|---|---|---|---|",
    ]
    for name in PROBES:
        t = results[name]
        alpha = math.log10(t[2] / t[1]) if t[1] > 0 else float("nan")
        lines.append(
            f"| {name} | {t[0]:.2f} | {t[1]:.2f} | {t[2]:.2f} | {alpha:.2f} |"
        )
        print(lines[-1])
    lines += [
        "",
        "Reading: a query at α≈0 costs the same at 100× the data — its sf0.1 "
        "number is ENTIRELY floor, which a 1000-executor cluster amortizes to "
        "zero per-query overhead share. Queries trending toward α≈1 are the "
        "ones whose plans the audit (tests/test_plan_audit.py) pins to "
        "linear-scaling shapes: id-only shuffles, inverted-index joins, "
        "map-side codecs.",
        "",
        END,
    ]

    with open(os.path.join(ROOT, "SCALE.md")) as f:
        doc = f.read()
    if BEGIN in doc:
        pre, rest = doc.split(BEGIN, 1)
        post = rest.split(END, 1)[1]
        doc = pre + "\n".join(lines) + post
    else:
        doc = doc.rstrip() + "\n\n## Cross-SF scaling probe (generated)\n\n" + "\n".join(lines) + "\n"
    with open(os.path.join(ROOT, "SCALE.md"), "w") as f:
        f.write(doc)
    print("SCALE.md scaling section updated")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
