"""Session defaults that need no Spark: the task-CPU count behind local[N]
and spark.sql.shuffle.partitions, and the driver memory."""

from __future__ import annotations

import os

import pytest

from opendosm_parquet_to_sqlite_spark.session import driver_memory, task_cpus

pytestmark = pytest.mark.product


def test_task_cpus_defaults_to_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert task_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "")
    assert task_cpus() == len(os.sched_getaffinity(0))


def test_task_cpus_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert task_cpus() == 3


def test_driver_memory_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert driver_memory() == "2g"


def test_driver_memory_default_fits_the_box(monkeypatch):
    """Without the override the default is whole MiB, never more than 16 GiB
    and never more than three quarters of physical RAM."""
    physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    got = driver_memory()
    assert 0 < int(got.removesuffix("m")) << 20 <= min(16 << 30, physical)
    assert got == f"{min(16 << 30, physical * 3 // 4) >> 20}m"
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "")
    assert driver_memory() == got
