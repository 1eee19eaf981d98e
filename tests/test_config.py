"""Session config: the local-cluster memory guard and the shuffle-partition
rule with its env and explicit overrides."""

from __future__ import annotations

from trike_spark.session import EngineConfig


def test_local_cluster_memory_guard(monkeypatch):
    """local-cluster[n,c,m] with worker MB below the executor heap hangs
    with no diagnostic (executors can't register); the session factory
    must fail fast instead."""
    import pytest

    from trike_spark.session import _check_local_cluster_memory, _heap_mb

    assert _heap_mb("8g") == 8192
    assert _heap_mb("4096m") == 4096
    assert _heap_mb("4096") == 4096  # bare master-string field is MB
    monkeypatch.setenv("SPARK_EXECUTOR_MEMORY", "8g")
    _check_local_cluster_memory("local-cluster[2,8,8192]")  # fits: no raise
    with pytest.raises(ValueError, match="executors cannot"):
        _check_local_cluster_memory("local-cluster[2,8,4096]")
    with pytest.raises(ValueError, match="malformed"):
        _check_local_cluster_memory("local-cluster[2,8]")
    monkeypatch.setenv("SPARK_EXECUTOR_MEMORY", "2g")
    _check_local_cluster_memory("local-cluster[2,8,4096]")  # now fits


def test_shuffle_partitions_follow_task_slots(monkeypatch):
    """One shuffle partition (so one framing state store) per task slot of
    the master; SPARK_SHUFFLE_PARTITIONS overrides; a master whose slots
    are unknown leaves the conf to the deployment."""
    import os

    monkeypatch.delenv("SPARK_SHUFFLE_PARTITIONS", raising=False)
    cores = len(os.sched_getaffinity(0))
    cases = {
        "local[3]": 3,
        "local[3,2]": 3,
        "local[*]": cores,
        "local-cluster[2,3,8192]": 6,
        "spark://head:7077": None,
    }
    for master, slots in cases.items():
        assert EngineConfig(master=master).shuffle_partitions == slots, master
    monkeypatch.setenv("SPARK_SHUFFLE_PARTITIONS", "7")
    for master in cases:
        assert EngineConfig(master=master).shuffle_partitions == 7, master
    # an explicit count beats both
    assert EngineConfig(master="local[3]", shuffle_partitions=5).shuffle_partitions == 5
