"""Session sizing (the local master defaults to the host's usable CPUs,
the driver heap to half its memory limit) and driver-held frames built
as local relations."""

from __future__ import annotations

import datetime
import os
import subprocess
import sys

import pytest

from developing_img_etl_spark import session


def test_cpu_count_defaults_to_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session.cpu_count() == len(os.sched_getaffinity(0))


def test_cpu_count_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.cpu_count() == 3


def _fake_host(monkeypatch, tmp_path, mem_total_gb, cgroup_limit=None):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(f"MemFree: 1024 kB\nMemTotal: {mem_total_gb * 2**20} kB\n")
    limits = [str(tmp_path / "absent")]
    if cgroup_limit is not None:
        (tmp_path / "memory.max").write_text(f"{cgroup_limit}\n")
        limits.append(str(tmp_path / "memory.max"))
    monkeypatch.setattr(session, "_MEMINFO", str(meminfo))
    monkeypatch.setattr(session, "_CGROUP_MEMORY_LIMITS", tuple(limits))
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)


def test_driver_memory_is_half_the_cgroup_limit(monkeypatch, tmp_path):
    _fake_host(monkeypatch, tmp_path, 64, cgroup_limit=8 * 2**30)
    assert session.driver_memory() == "4096m"


@pytest.mark.parametrize("unset", ["max", None, 2**63 - 4096], ids=["v2-max", "absent", "v1-unset"])
def test_driver_memory_falls_back_to_memtotal(monkeypatch, tmp_path, unset):
    _fake_host(monkeypatch, tmp_path, 15, cgroup_limit=unset)
    assert session.driver_memory() == f"{15 * 1024 // 2}m"


def test_driver_memory_is_capped_at_48g(monkeypatch, tmp_path):
    _fake_host(monkeypatch, tmp_path, 256)
    assert session.driver_memory() == f"{48 * 1024}m"


def test_driver_memory_env_override(monkeypatch, tmp_path):
    _fake_host(monkeypatch, tmp_path, 15)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "6g")
    assert session.driver_memory() == "6g"


_PARITY_SCHEMA = "id long, n int, x double, d date, s string"
_PARITY_ROWS = [
    (1, 7, 0.5, datetime.date(2024, 2, 29), "KDJMI_PROVINSI JAMBI"),
    (2, None, None, None, None),
    (-(2**62), -(2**31), -1e300, datetime.date(1970, 1, 1), "Kegiatan — foto ñ 日本 🚧"),
]


@pytest.mark.parametrize("rows", [_PARITY_ROWS, []], ids=["rows", "empty"])
def test_local_frame_matches_classic_create(spark, rows):
    local = session.local_frame(spark, rows, _PARITY_SCHEMA)
    classic = spark.createDataFrame(rows, _PARITY_SCHEMA)
    assert local.schema == classic.schema
    assert local.collect() == classic.collect()
    assert "LocalRelation" in local._jdf.queryExecution().analyzed().toString()


@pytest.mark.parametrize(
    "bad",
    [
        ("1", 7, 0.5, None, None),  # string in a long column
        (1, 2**31, 0.5, None, None),  # int overflow
        (1, 7, 1, None, None),  # int in a double column
        (1, 7, 0.5, "2024-01-01", None),  # string in a date column
        (1, 7, 0.5, None),  # short row
    ],
)
def test_local_frame_rejects_what_classic_rejects(spark, bad):
    with pytest.raises(Exception) as classic:
        spark.createDataFrame([bad], _PARITY_SCHEMA)
    with pytest.raises(type(classic.value)):
        session.local_frame(spark, [bad], _PARITY_SCHEMA)


_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Run from outside the tree: a UDF whose closure names a package function
# makes the Python worker import the package by module.
_OUTSIDE_SCRIPT = f"""
import sys
sys.path.insert(0, {_ROOT!r})
from pyspark.sql import functions as F
from developing_img_etl_spark.multimodal.phash import hamming64
from developing_img_etl_spark.session import get_spark

spark = get_spark("outside-cwd", cpus=1)
row = spark.range(1).select(F.udf(lambda i: hamming64(i, 7), "int")("id")).first()
print("BITS", row[0])
"""


def test_workers_import_the_package_from_any_working_directory(tmp_path):
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    paths = env.get("PYTHONPATH", "").split(os.pathsep)
    env["PYTHONPATH"] = os.pathsep.join(p for p in paths if p and os.path.abspath(p) != _ROOT)
    out = subprocess.run(
        [sys.executable, "-c", _OUTSIDE_SCRIPT],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert "BITS 3" in out.stdout, out.stderr[-3000:]
