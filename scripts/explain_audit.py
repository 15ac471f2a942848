"""Physical-plan audit (SURVEY.md §4 / the 100 TB checklist).

For every declared query, prints: scan pushdown (PushedFilters /
ReadSchema width), join strategies chosen, exchange (shuffle) count,
and whole-stage-codegen span count, then the sha256 of its masked
analyzed, optimized and pre-execution physical plans. Run after any
plan-shape change; equal hashes before and after a refactor mean the
plans are unchanged.

Usage: python scripts/explain_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from developing_img_etl_spark.queries import all_queries
from developing_img_etl_spark.session import get_spark

# What differs between two builds of the same plan: expression ids
# (`vec_id#12L`), lambda variables (`lambda x_17#40`: a session-global
# name counter and an id), exchange plan ids, RDD ids and file paths.
# Expression and plan ids are renumbered in order of first appearance,
# not flattened, so each reference keeps the attribute it binds to: a
# join that reads a column from the wrong side hashes differently. A
# lambda variable binds by name inside its lambdafunction, so its id is
# masked whole: two equal lambdas that do or do not share variable ids
# hash the same.
_MASKS = (
    (re.compile(r"(lambda [A-Za-z]\w*?)(?:_\d+)?#\d+"), r"\1#N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"(?:file:)?/[^\s,\]\)]*/[^\s,\]\)]*"), "<path>"),
)
_RENUMBERED = (re.compile(r"(#)\d+"), re.compile(r"(plan_id=)\d+"))


def mask_plan(text: str) -> str:
    for pattern, repl in _MASKS:
        text = pattern.sub(repl, text)
    for pattern in _RENUMBERED:
        seen: dict[str, int] = {}
        text = pattern.sub(
            lambda m: f"{m.group(1)}{seen.setdefault(m.group(0), len(seen))}", text
        )
    return text


def plan_hashes(df) -> dict[str, str]:
    """sha256 of the masked analyzed, optimized and pre-execution
    physical plans of ``df`` (nothing is executed)."""
    qe = df._jdf.queryExecution()
    plans = {
        "analyzed": qe.analyzed(),
        "optimized": qe.optimizedPlan(),
        "physical": qe.executedPlan(),
    }
    return {
        phase: hashlib.sha256(mask_plan(plan.toString()).encode()).hexdigest()
        for phase, plan in plans.items()
    }


def audit(name: str, plan: str) -> str:
    joins = re.findall(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin)", plan
    )
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    pushed_n = sum(1 for p in pushed if p.strip())
    exchanges = len(re.findall(r"Exchange ", plan))
    codegen = len(set(re.findall(r"\*\((\d+)\)", plan)))
    scans = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    widths = [len(s.split(",")) if s else 0 for s in scans]
    return (
        f"{name}: joins={joins or '-'} pushedFilterScans={pushed_n}/{len(pushed)} "
        f"shuffles={exchanges} codegenSpans={codegen} scanWidths={widths}"
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("audit", cpus=8)
    for name, fn in sorted(all_queries().items()):
        if only and name not in only:
            continue
        if name.startswith("st"):
            continue  # streaming: no batch plan to audit
        try:
            df = fn(spark, sf_dir)
            qe = df._jdf.queryExecution()
            plan = qe.executedPlan().toString()
            formatted = qe.explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
            n_codegen = formatted.count("WholeStageCodegen")
            print(audit(name, plan) + f" wholeStageCodegen={n_codegen}")
            hashes = plan_hashes(df)
            print(f"  {name}: " + " ".join(f"{k}={v}" for k, v in hashes.items()))
        except Exception as e:  # noqa: BLE001
            print(f"{name}: AUDIT-ERROR {str(e)[:120]}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
