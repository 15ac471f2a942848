"""Session sizing (the local master defaults to the host's usable CPUs)
and driver-held frames built as local relations."""

from __future__ import annotations

import datetime
import os

import pytest

from developing_img_etl_spark import session


def test_cpu_count_defaults_to_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session.cpu_count() == len(os.sched_getaffinity(0))


def test_cpu_count_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.cpu_count() == 3


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
