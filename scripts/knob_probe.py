"""Generic paired in-session env-knob A/B probe (r12).

Times the named queries (bench methodology: toPandas) in ONE session,
after one untimed warm-up call each, alternating the knob's values per
repetition, and reports per-value min/median. Because the knob is read
at query-build time (os.environ lookups inside the query code),
flipping it in-process gives a true paired same-window comparison —
the cluster.py three-variant-probe method from r11, generalized.

Usage:
  python scripts/knob_probe.py KNOB v0,v1 reps q30 q74 ...

An empty-string value means "unset the knob".
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from developing_img_etl_spark.queries import all_queries
from developing_img_etl_spark.session import get_spark


def main() -> int:
    knob, values, reps, names = (
        sys.argv[1],
        sys.argv[2].split(","),
        int(sys.argv[3]),
        sys.argv[4:],
    )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    q = all_queries()
    resolved = {}
    for n in names:
        full = [k for k in q if k == n or k.startswith(n + "_")]
        assert len(full) == 1, (n, full)
        resolved[full[0]] = q[full[0]]

    spark = get_spark("knob_probe")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    # one untimed call per query, so its cold start (stream-source
    # staging, first-use code paths) lands on no value's first rep
    for fn in resolved.values():
        fn(spark, sf_dir).toPandas()
    times: dict[str, dict[str, list[float]]] = {
        n: {v: [] for v in values} for n in resolved
    }
    for _ in range(reps):
        for v in values:
            if v == "":
                os.environ.pop(knob, None)
            else:
                os.environ[knob] = v
            for name, fn in resolved.items():
                t0 = time.time()
                fn(spark, sf_dir).toPandas()
                times[name][v].append(round(time.time() - t0, 3))
    os.environ.pop(knob, None)
    print(json.dumps({
        "knob": knob,
        "sf_dir": sf_dir,
        "reps": reps,
        "times": times,
        "summary": {
            name: {
                v: {"min": min(ts), "median": round(statistics.median(ts), 3)}
                for v, ts in per.items()
            }
            for name, per in times.items()
        },
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
