"""Session config: the shuffle-partition rule with its env and explicit
overrides."""

from __future__ import annotations

from trike_spark.session import EngineConfig


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
        "local-cluster[2,3,8192]": None,
        "spark://head:7077": None,
    }
    for master, slots in cases.items():
        assert EngineConfig(master=master).shuffle_partitions == slots, master
    monkeypatch.setenv("SPARK_SHUFFLE_PARTITIONS", "7")
    for master in cases:
        assert EngineConfig(master=master).shuffle_partitions == 7, master
    # an explicit count beats both
    assert EngineConfig(master="local[3]", shuffle_partitions=5).shuffle_partitions == 5
