"""SparkSession factory.

Single place all entry points (tests, bench, __spark_entry__, pipeline)
get their session, so scale-relevant config is uniform:

- AQE on (runtime re-plan, skew-join handling, partition coalescing) —
  at 100 TB the static plan is always wrong somewhere.
- Arrow on — every pandas-UDF boundary is Arrow-batched.
- shuffle partitions sized to the DATA, not the core count: the
  sandbox SFs shuffle a few MB-100 MB, where 32 partitions of ~3 MB
  are pure task-scheduling overhead — 8 is the measured sweet spot
  (every bench query flat-or-faster, q30 5.3s -> 4.5s). On a real
  cluster this is overridden (env SPARK_GRAFT_SHUFFLE_PARTITIONS) to
  ~2-3x total cores / ~100-200 MB per partition, or left to AQE
  coalescing from a high initial number. Results are partition-count
  invariant by design (hash-verified under both settings).
- Small Arrow batches: multimodal rows carry ~50-100 KB binary payloads
  (reference corpus stats, BASELINE.md), so 10k-row default batches
  would hold ~1 GB per batch per core.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# The directory that holds the package. Python UDF closures reference
# package functions by module, so the workers must import this tree
# whatever the driver's working directory is.
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def cpu_count() -> int:
    """Task slots for the local master: SPARK_GRAFT_CPUS when set, else
    the CPUs this process may run on (a container's affinity mask, not
    the machine's core count)."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


# Where the host's memory limit is read: a cgroup limit (v2, then v1)
# when the process runs under one, else the machine's MemTotal.
_CGROUP_MEMORY_LIMITS = (
    "/sys/fs/cgroup/memory.max",
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",
)
_MEMINFO = "/proc/meminfo"
_MAX_DRIVER_MEM_MB = 48 * 1024


def host_memory_bytes() -> int:
    """The memory this process may use: the smallest cgroup limit that
    is set, else the machine's MemTotal (an unset v2 limit reads "max";
    an unset v1 limit reads a number far above MemTotal)."""
    with open(_MEMINFO) as fh:
        total = next(int(line.split()[1]) * 1024 for line in fh if line.startswith("MemTotal:"))
    limits = [total]
    for path in _CGROUP_MEMORY_LIMITS:
        try:
            with open(path) as fh:
                limits.append(int(fh.read().strip()))
        except (OSError, ValueError):
            pass
    return min(limits)


def driver_memory() -> str:
    """spark.driver.memory: SPARK_GRAFT_DRIVER_MEM when set, else half
    the host's memory limit, capped at 48g. A heap sized past the host
    lets the JVM grow until the kernel kills it: a one-session sf0.1
    pass over every query on a 15 GB host was OOM-killed at 48g."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    return f"{min(host_memory_bytes() // 2 // 2**20, _MAX_DRIVER_MEM_MB)}m"


def add_worker_path(path: str) -> None:
    """Put ``path`` first on the PYTHONPATH that the Python workers
    inherit. Local-mode workers take the JVM's environment, so only a
    JVM started after the call sees it."""
    pp = os.environ.get("PYTHONPATH", "")
    if path not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = path + os.pathsep + pp if pp else path


def get_spark(app_name: str = "developing_img_etl_spark", *, cpus: int | None = None) -> SparkSession:
    """Build (or reuse) the engine SparkSession."""
    # transformWithStateInPandas needs google.protobuf in the PYTHON
    # WORKERS; when absent, activate the vendored mini-runtime BEFORE
    # the JVM starts so the daemon inherits the PYTHONPATH entry
    # (vendor/protoshim — real package always wins when installed)
    from .vendor import ensure_protobuf

    ensure_protobuf()
    add_worker_path(_ROOT)
    n = cpus or cpu_count()
    shuffle_parts = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8")
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle_parts)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.driver.memory", driver_memory())
        # The ORACLE GATE materializes full results driver-side
        # (toPandas vs DuckDB fetchdf); at sf1 the widest result
        # (q15's ~5M-pair self-join) exceeds the 1g default. Queries
        # themselves never collect unbounded data — this budget is for
        # the comparison harness, sized well under driver memory.
        .config(
            "spark.driver.maxResultSize",
            os.environ.get("SPARK_GRAFT_MAX_RESULT_SIZE", "8g"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Input split size, like shuffle partitions, sized to the DATA:
        # the sandbox tables are single ~1-200 MB parquet files, where
        # the 128 MB default yields 1-3 scan tasks on a 32-core local
        # master — every scan-heavy stage ran as (2+1)/3 with a long
        # straggler. 4 MB splits give each table core-count-scale
        # parallelism (measured: q36 0.99s -> 0.82s, no regressions —
        # see BENCH_LOCAL history). On a real cluster override the env:
        # file counts provide the parallelism and 128-256 MB splits
        # amortize open cost.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "4m"),
        )
    )
    # Shuffle-spill directory override (SPARK_GRAFT_LOCAL_DIR): the
    # default /tmp is reaped by the sandbox under long sf10 runs — the
    # blockmgr dir vanished under a live JVM mid-shuffle. Honored only
    # at JVM start (a getOrCreate reuse keeps the first value).
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(
    spark: SparkSession, rows: Sequence[Sequence], schema: T.StructType | str
) -> DataFrame:
    """A DataFrame over driver-held rows (tuples in schema order), built
    as a JVM ``LocalRelation`` through Arrow.

    Classic ``spark.createDataFrame(list, schema)`` parallelizes the
    rows into a Python RDD, so every scan of the frame starts one
    Python task per core even when it holds no rows. A LocalRelation
    is scanned inside the JVM, and an empty one lets Catalyst drop the
    joins and unions it feeds at plan time. Rows are checked with the
    same verifier the classic path uses, so a value that does not fit
    its column raises the same error.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    verify = T._make_type_verifier(schema)
    for r in rows:
        verify(r)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(schema.fields)
    table = pa.table(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
