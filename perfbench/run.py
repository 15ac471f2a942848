"""Weekly-ingest benchmark: one command per workload run.

    python3 perfbench/run.py --workload fresh_week --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones
(see README.md in this directory). The line before it records the host
(nproc, load average, versions). Exit status is 0 only when every week
or pass matched its oracle.

Everything the run writes goes under .perfbench_work/ in the current
directory and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {"week_s": "s", "setup_s": "s", "peak_pss_mb": "MB"}
PER_LAYER = {
    "session.start_s": "s",
    "session.jobs": "count",
    "session.stages": "count",
    "session.tasks": "count",
    "sources.forms_s": "s",
    "sources.forms_rows": "count",
    "sources.listing_s": "s",
    "sources.staged_files": "count",
    "pipeline.build_s": "s",
    "pipeline.plan_s": "s",
    "pipeline.resolve_s": "s",
    "pipeline.photos_unpivoted": "count",
    "pipeline.photos_new": "count",
    "pipeline.dedup_keep_ratio": "ratio",
    "pipeline.fuzzy_hits": "count",
    "pipeline.unresolved": "count",
    "multimodal.codec_s": "s",
    "multimodal.python_cpu_s": "s",
    "multimodal.python_init_s": "s",
    "multimodal.mb_in": "MB",
    "multimodal.mb_out": "MB",
    "multimodal.unreadable": "count",
    "multimodal.codec_rows": "count",
    "multimodal.codec_useful_ratio": "ratio",
    "sinks.read_catalog_s": "s",
    "sinks.upload_s": "s",
    "sinks.uploaded": "count",
    "sinks.skipped_identical": "count",
    "sinks.upload_failed": "count",
    "sinks.partitioned_write_s": "s",
    "sinks.catalog_s": "s",
    "sinks.xlsx_s": "s",
    "sinks.catalog_rows": "count",
    "sinks.catalog_mb_written": "MB",
    "sinks.catalog_write_amp": "ratio",
    "queries.build_s": "s",
    "queries.plan_s": "s",
    "queries.exec_s": "s",
    "queries.to_pandas_s": "s",
    "queries.jobs": "count",
    "trace.unattributed_s": "s",
    "trace.overhead_s": "s",
    "oracle.failed_share": "share",
}
WORKLOADS = ("fresh_week", "query_sample")
YOUNG_MB = 256


def configure_host(work: str) -> None:
    """Size the session and compute threads to this host, and keep every
    temporary file inside ``work``. Must run before pyspark or numpy is
    imported: the JVM and BLAS read these once, at start."""
    ncpu = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    heap = f"{min(max(mem_mb // 16, 1024), 4096)}m"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = heap
    # local[ncpu] runs ncpu Python workers: one BLAS thread each keeps
    # compute threads at ncpu (this OpenBLAS defaults to 2 per process)
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # The whole heap is committed and touched at start, so the JVM's
    # resident size no longer wanders with when GC chose to grow it.
    # A fixed young generation keeps the heap's peak use (which
    # peak_pss_mb counts in place of the committed heap) from following
    # G1's young sizing: eden fills to its size, the rest is retained.
    java_opts = f"-Xms{heap} -Xmn{YOUNG_MB}m -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    sys.path[:0] = [ROOT, HERE]


def stop_session() -> None:
    """Stop Spark, then its JVM and Python workers, and wait for them.
    Also safe when the session never finished starting."""
    from pyspark import SparkContext

    import probes

    tree = [p for p in probes.process_tree(os.getpid()) if p != os.getpid()]
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
    deadline = time.time() + 30
    while tree and time.time() < deadline:
        tree = [p for p in tree if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for pid in tree:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still cleans up: its work dir, the JVM, the workers
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.perf_counter()
    load_before = os.getloadavg()

    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    configure_host(work)
    try:
        return _run(args, work, t_start, load_before)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run uses it
        except OSError:
            pass


def _run(args, work: str, t_start: float, load_before) -> int:
    import pyspark

    import harness
    import probes
    from developing_img_etl_spark.session import get_spark

    try:
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        session_start_s = time.perf_counter() - t0
        mem = probes.PeakMemory(os.getpid(), spark)
        if args.workload == "query_sample":
            samples, setup_end = harness.run_queries(spark, args.seconds, bool(args.trace), work, mem)
        else:
            samples, setup_end = harness.run_pipeline(spark, args.seed, args.seconds, bool(args.trace), work, mem)
        java = spark._jvm.java.lang.System.getProperty("java.version")
    finally:
        stop_session()

    failed = len(samples.failures)
    for line in samples.failures[:20]:
        print(f"oracle: {line}", file=sys.stderr)
    if args.trace:
        layers = samples.layer_medians()
        layers["session.start_s"] = session_start_s
        layers["trace.overhead_s"] = statistics.median(samples.traced_walls) - statistics.median(samples.walls)
        layers["oracle.failed_share"] = failed / samples.attempted
        values = {k: float(layers.get(k, 0.0)) for k in PER_LAYER}
        units = PER_LAYER
    else:
        values = {
            "week_s": statistics.median(samples.walls),
            "setup_s": setup_end - t_start,
            "peak_pss_mb": mem.peak_mb,
        }
        units = END_TO_END
    host = {
        "nproc": os.cpu_count(),
        "cpus_used": int(os.environ["SPARK_GRAFT_CPUS"]),
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "loadavg_before": list(load_before),
        "loadavg_after": list(os.getloadavg()),
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "java": java,
        "weeks_timed": len(samples.walls) + len(samples.traced_walls),
        "failed_share": failed / samples.attempted,
    }
    print("host " + json.dumps(host))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": samples.attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
            }
        )
    )
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
