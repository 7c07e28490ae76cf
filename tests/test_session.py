"""The SparkSession factory's defaults."""

from __future__ import annotations

import os

from kafka_dbsync_spark import session


def test_default_driver_memory_respects_cgroup_limit(tmp_path, monkeypatch):
    """The default heap is half of the smaller of physical memory and the
    cgroup's limit; ``SPARK_DRIVER_MEMORY`` overrides it."""
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    limit = tmp_path / "memory.max"
    monkeypatch.setattr(
        session, "_CGROUP_MEMORY_LIMITS", (str(tmp_path / "absent"), str(limit))
    )
    physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    limit.write_text(f"{3 * 2**30}\n")
    assert session._default_driver_memory() == f"{min(physical, 3 * 2**30) // 2**21}m"
    limit.write_text("max\n")  # cgroup v2: no limit
    assert session._default_driver_memory() == f"{min(48 * 1024, physical // 2**21)}m"
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "2g")
    assert session._default_driver_memory() == "2g"
