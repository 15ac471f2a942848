"""Session sizing: the local master defaults to the host's usable CPUs."""

from __future__ import annotations

import os

from developing_img_etl_spark import session


def test_cpu_count_defaults_to_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session.cpu_count() == len(os.sched_getaffinity(0))


def test_cpu_count_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.cpu_count() == 3
