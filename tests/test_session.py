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


def test_checkpoint_file_manager_default_loads(spark, tmp_path):
    """Every session checkpoints through Spark's ``FileSystem``-based
    manager: the key is set, the class loads in the session's JVM, and
    Spark's factory builds it from the session's Hadoop conf. Spark 4.1
    moved the managers into ``...streaming.checkpointing``, so a future
    move fails here rather than in every streaming query."""
    jvm = spark._jvm
    assert spark.conf.get(session.CHECKPOINT_FILE_MANAGER_KEY) == session.CHECKPOINT_FILE_MANAGER
    jvm.java.lang.Class.forName(session.CHECKPOINT_FILE_MANAGER)
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
    built = manager.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert built.getClass().getName() == session.CHECKPOINT_FILE_MANAGER
