"""Session defaults that need no Spark: the task-CPU count behind local[N]
and spark.sql.shuffle.partitions."""

from __future__ import annotations

import os

from opendosm_parquet_to_sqlite_spark.session import task_cpus


def test_task_cpus_defaults_to_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert task_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "")
    assert task_cpus() == len(os.sched_getaffinity(0))


def test_task_cpus_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert task_cpus() == 3
