"""Session factory defaults."""

from __future__ import annotations

import os

from diagnosisextraction_ml_spark.session import local_cpus


def test_local_cpus_defaults_to_host_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert local_cpus() == str(len(os.sched_getaffinity(0)))


def test_local_cpus_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert local_cpus() == "3"
