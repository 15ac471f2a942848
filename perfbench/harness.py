"""Workload drivers. Each one sets up (session, inputs, a warm-up week
or pass), then runs weeks or passes back to back on the clock until the
run's seconds are used, checks every one against its oracle outside the
clock, and reduces the samples to the metrics BENCHMARK.json names.

A traced run alternates untraced and traced weeks (passes), so the
tracing overhead is measured inside one session. Spark counters of a
traced week are read after its clock stops.
"""

from __future__ import annotations

import contextlib
import io
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import Counter
from dataclasses import dataclass, field

from pyspark.sql import functions as F

import gen
import oracle
import probes
from developing_img_etl_spark.pipeline import etl
from developing_img_etl_spark.pipeline.etl import CATALOG_COLUMNS
from week import CATALOG_DDL, Tracer, WeekPaths, run_week

# The declared queries one query_sample pass runs, in order. q21 is the
# cheapest of the pin-heavy and iterative queries ROADMAP direction 5
# names; the others of that list take 3-6 s each at sf0.01 on 4 cores,
# and its codec query (m18, JPEG) runs the same codec fresh_week times.
# The rest are random.Random(0).sample(fast, 3) over the 120 queries
# under 1 s in BENCH_LOCAL.json (the per-query floor), frozen here so
# adding a query to the suite leaves the workload as it is.
QUERY_SAMPLE = (
    "q21_dependency_closure",
    "q87_mincost_supplier",
    "q1_incremental_antijoin",
    "q71_scd2_history",
)
QUERY_SF = 0.01
WARM_PASSES = 5


@dataclass
class Samples:
    """Per week (pass) walls and, for traced ones, per-layer values."""

    walls: list[float] = field(default_factory=list)
    traced_walls: list[float] = field(default_factory=list)
    layers: list[dict[str, float]] = field(default_factory=list)
    attempted: int = 0
    failures: list[str] = field(default_factory=list)

    def layer_medians(self) -> dict[str, float]:
        names = {k for d in self.layers for k in d}
        return {k: statistics.median(d.get(k, 0.0) for d in self.layers) for k in names}


def _clock_loop(seconds: float, trace: bool, step) -> Samples:
    """Call ``step(i, traced, samples)`` until ``seconds`` have passed.
    A traced run makes every second week traced and needs one of each."""
    s = Samples()
    deadline = time.perf_counter() + seconds
    i = 0
    while True:
        step(i, trace and i % 2 == 1, s)
        i += 1
        if time.perf_counter() >= deadline and (not trace or i >= 2):
            return s


def _dir_mb(path: str) -> float:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / 1e6


def _jvm_pid(spark) -> int:
    return spark._jvm.java.lang.ProcessHandle.current().pid()


# -- the pipeline week ---------------------------------------------------------


def _week_paths(inputs: str, live: str) -> WeekPaths:
    return WeekPaths(
        forms=os.path.join(inputs, "forms.xlsx"),
        staging=os.path.join(inputs, "staging"),
        catalog=os.path.join(live, "catalog"),
        store=os.path.join(live, "store"),
        weekly_photos=os.path.join(live, "weekly_photos"),
        xlsx=os.path.join(live, "foto_metadata.xlsx"),
    )


def _check(exp: gen.Expected, paths: WeekPaths, result, s: Samples) -> None:
    s.attempted += len(exp.photos)
    if result is None:
        s.failures += [f"{p.object_key}: week raised" for p in exp.photos]
        return
    s.failures += oracle.check_week(
        exp,
        oracle.read_catalog(paths.catalog),
        result.statuses,
        oracle.read_store(paths.store),
        replay=False,
    )


def run_pipeline(spark, seed: int, seconds: float, trace: bool, work: str, mem) -> tuple[Samples, float]:
    """Runs ``fresh_week``. Returns the samples and the setup's end
    (perf_counter)."""
    inputs, live = os.path.join(work, "in"), os.path.join(work, "live")
    exp = gen.generate(inputs, seed)
    paths = _week_paths(inputs, live)
    jvm = _jvm_pid(spark)

    # Warm-up, billed to setup: a one-report week that takes every path
    # the timed weeks take, so the JVM's JIT, the codegen cache and the
    # Python workers are warm. A full week would double the set-up.
    warm = Samples()
    warm_in = os.path.join(work, "warm-in")
    warm_exp = gen.generate(warm_in, seed, reports=1)
    warm_paths = _week_paths(warm_in, os.path.join(work, "warm-live"))
    _check(warm_exp, warm_paths, run_week(spark, warm_paths, Tracer(False)), warm)
    setup_end = time.perf_counter()

    def step(i: int, traced: bool, s: Samples) -> None:
        shutil.rmtree(live, ignore_errors=True)  # every week starts from an empty catalog
        tracer = Tracer(traced)
        tracer.week = i
        group = f"week-{i}"
        spark.sparkContext.setJobGroup(group, "fresh_week")
        cpu0 = probes.python_worker_cpu_s(jvm)
        mem.start()
        t0 = time.perf_counter()
        try:
            result = run_week(spark, paths, tracer)
        except Exception:  # noqa: BLE001 - a raising week is a counted failure
            traceback.print_exc()
            result = None
        wall = time.perf_counter() - t0
        mem.stop()
        cpu = probes.python_worker_cpu_s(jvm) - cpu0
        _check(exp, paths, result, s)
        print(f"week {i} traced={traced} wall={wall:.3f}", file=sys.stderr)
        (s.traced_walls if traced else s.walls).append(wall)
        if traced and result is not None:
            s.layers.append(_week_layers(spark, tracer, i, group, result, paths, cpu))

    s = _clock_loop(seconds, trace, step)
    s.failures = warm.failures + s.failures
    s.attempted += warm.attempted
    return s, setup_end


def _row_bytes(df) -> int:
    """Bytes of a frame's catalog rows: UTF-8 strings, 8-byte size."""
    pdf = df.select(*CATALOG_COLUMNS[:5]).toPandas()
    return sum(len(v.encode()) for col in pdf for v in pdf[col] if v is not None) + 8 * len(pdf)


def _week_layers(spark, tracer: Tracer, i: int, group: str, r, paths: WeekPaths, cpu: float) -> dict[str, float]:
    """Per-layer values of one traced week, read after its clock stopped."""
    self_s = tracer.self_times(i)
    jobs, stages, tasks = probes.job_counts(spark, group)
    unpivoted = etl.unpivot_photos(r.forms)
    n_unpivoted = unpivoted.count()
    # the week started from an empty catalog
    n_new = etl.new_photos(unpivoted, spark.createDataFrame([], CATALOG_DDL)).count()
    catalog_mb = _dir_mb(paths.catalog)
    n_records = r.records.count()
    n_ok = r.ok.count()
    py = probes.plan_metrics(spark, r.codec_query, "ArrowEvalPython")
    scan = probes.plan_metrics(spark, r.codec_query, "Scan binaryFile")
    ups = Counter(status for _k, status in r.statuses)
    return {
        "session.jobs": jobs,
        "session.stages": stages,
        "session.tasks": tasks,
        "sources.forms_s": self_s["sources.forms"],
        "sources.forms_rows": r.forms.count(),
        "sources.listing_s": self_s["sources.listing"],
        "sources.staged_files": scan.get("numFiles", 0),
        "pipeline.build_s": self_s["pipeline.build"],
        "pipeline.plan_s": probes.plan_phases_s(spark, r.records_query) + probes.plan_phases_s(spark, r.codec_query),
        "pipeline.resolve_s": self_s["pipeline.resolve"],
        "pipeline.photos_unpivoted": n_unpivoted,
        "pipeline.photos_new": n_new,
        "pipeline.dedup_keep_ratio": n_new / n_unpivoted if n_unpivoted else 0.0,
        "pipeline.fuzzy_hits": r.records.filter(F.col("resolved_file") != F.col("nama_file")).count(),
        "pipeline.unresolved": n_new - n_records,
        "multimodal.codec_s": self_s["multimodal.codec"],
        "multimodal.python_cpu_s": cpu,
        "multimodal.python_init_s": (py.get("pythonBootTime", 0) + py.get("pythonInitTime", 0)) / 1000,
        "multimodal.mb_in": py.get("pythonDataSent", 0) / 1e6,
        "multimodal.mb_out": py.get("pythonDataReceived", 0) / 1e6,
        "multimodal.unreadable": n_records - n_ok,
        "multimodal.codec_rows": py.get("pythonNumRowsReceived", 0),
        "multimodal.codec_useful_ratio": n_new / max(py.get("pythonNumRowsReceived", 0), 1),
        "sinks.read_catalog_s": self_s["sinks.read_catalog"],
        "sinks.upload_s": self_s["sinks.upload"],
        "sinks.uploaded": ups["uploaded"],
        "sinks.skipped_identical": ups["skipped_identical"],
        "sinks.upload_failed": ups["failed"],
        "sinks.partitioned_write_s": self_s["sinks.partitioned_write"],
        "sinks.catalog_s": self_s["sinks.catalog"],
        "sinks.xlsx_s": self_s["sinks.xlsx"],
        "sinks.catalog_rows": r.catalog_rows,
        "sinks.catalog_mb_written": catalog_mb,
        # the overwrite rewrites the whole catalog: bytes written per
        # byte of the week's new rows
        "sinks.catalog_write_amp": catalog_mb * 1e6 / max(_row_bytes(r.ok), 1),
        "trace.unattributed_s": self_s["week"],
    }


# -- the declared-query sample ------------------------------------------------


def _generate_sf(out: str) -> None:
    """The repo's star-schema generator with its own seed: q21's closure
    depth depends on the data, so a seeded dataset would move the pass
    time with the seed rather than with the program."""
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))
    try:
        import gen_testdata
    finally:
        sys.path.pop(0)
    with contextlib.redirect_stdout(io.StringIO()):
        gen_testdata.gen(QUERY_SF, out)


def _matches(name: str, pdf, oracles: dict, sf: str) -> str | None:
    """None when the result matches its DuckDB oracle (or, with no
    oracle, is non-empty); else the reason."""
    from tests.oracle_utils import assert_matches

    if name not in oracles:
        return None if len(pdf) else "no rows"

    class _Frame:  # assert_matches collects through toPandas()
        def toPandas(self):
            return pdf

    try:
        with contextlib.redirect_stdout(io.StringIO()):
            assert_matches(_Frame(), oracles[name], sf, require_rows=True)
    except AssertionError as e:
        return str(e).splitlines()[0]
    return None


def run_queries(spark, seconds: float, trace: bool, work: str, mem) -> tuple[Samples, float]:
    from developing_img_etl_spark.queries import all_oracles, all_queries

    sf = os.path.join(work, "sf")
    _generate_sf(sf)
    queries, oracles = all_queries(), all_oracles()

    def one_pass(tracer: Tracer, s: Samples, stats: dict | None) -> float:
        t0 = time.perf_counter()
        frames = {}
        with tracer.span("pass"):
            for name in QUERY_SAMPLE:
                try:
                    with tracer.span("queries.build"):
                        df = queries[name](spark, sf)
                    with tracer.span("queries.to_pandas"):
                        frames[name] = (df, df.toPandas())
                except Exception:  # noqa: BLE001 - a raising query is a counted failure
                    traceback.print_exc()
                    frames[name] = None
        wall = time.perf_counter() - t0
        for name, frame in frames.items():
            s.attempted += 1
            why = "raised" if frame is None else _matches(name, frame[1], oracles, sf)
            if why:
                s.failures.append(f"{name}: {why}")
            elif stats is not None:
                stats["queries.plan_s"] += probes.plan_phases_s(spark, frame[0])
        return wall

    # Warm-up, billed to setup. Query plans keep getting faster over
    # their first executions (JIT): passes 3-5 were still 10-25 %
    # slower than the sixth, after which passes vary by a few percent.
    warm = Samples()
    for _ in range(WARM_PASSES):
        one_pass(Tracer(False), warm, None)
    setup_end = time.perf_counter()

    def step(i: int, traced: bool, s: Samples) -> None:
        tracer = Tracer(traced)
        tracer.week = i
        group = f"pass-{i}"
        spark.sparkContext.setJobGroup(group, "query_sample")
        stats = {"queries.plan_s": 0.0} if traced else None
        mem.start()
        try:
            wall = one_pass(tracer, s, stats)
        finally:
            mem.stop()
        print(f"pass {i} traced={traced} wall={wall:.3f}", file=sys.stderr)
        (s.traced_walls if traced else s.walls).append(wall)
        if traced:
            self_s = tracer.self_times(i)
            jobs, stages, tasks = probes.job_counts(spark, group)
            s.layers.append(
                {
                    "session.jobs": jobs,
                    "session.stages": stages,
                    "session.tasks": tasks,
                    "queries.build_s": self_s["queries.build"],
                    "queries.plan_s": stats["queries.plan_s"],
                    "queries.to_pandas_s": self_s["queries.to_pandas"],
                    "queries.exec_s": self_s["queries.to_pandas"] - stats["queries.plan_s"],
                    "queries.jobs": jobs,
                    "trace.unattributed_s": self_s["pass"],
                }
            )

    s = _clock_loop(seconds, trace, step)
    s.failures = warm.failures + s.failures
    s.attempted += warm.attempted
    return s, setup_end
