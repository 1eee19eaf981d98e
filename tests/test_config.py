"""Session config: the shuffle-partition rule with its env and explicit
overrides, and the streaming and JVM settings get_spark adds, which the
test session carries too."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

from trike_spark.session import LOCAL_DRIVER_JAVA_OPTIONS, STREAMING_CONFS, EngineConfig


def test_shuffle_partitions_follow_task_slots(monkeypatch):
    """One shuffle partition (so one framing state store) per task slot of
    the master; SPARK_SHUFFLE_PARTITIONS overrides; a master whose slots
    are unknown leaves the conf to the deployment."""
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


def test_get_spark_sets_streaming_confs_and_driver_stack(tmp_path):
    """A session from get_spark carries the streaming confs, the manager
    class they name loads (it moved package between Spark 3.5 and 4.1, and
    a wrong name fails only when a query starts), and the driver JVM runs
    with -Xss16m beside the caller's own --driver-java-options. A child
    process, so the JVM is launched by get_spark."""
    probe = (
        "import json\n"
        "from trike_spark.session import STREAMING_CONFS, get_spark\n"
        "spark = get_spark('config-probe')\n"
        "jvm = spark._jvm\n"
        "out = {k: spark.conf.get(k) for k in STREAMING_CONFS}\n"
        "out['checksum'] = spark.conf.get('spark.sql.streaming.checkpoint.fileChecksum.enabled')\n"
        "out['class'] = jvm.java.lang.Class.forName("
        "STREAMING_CONFS['spark.sql.streaming.checkpointFileManagerClass']).getName()\n"
        "out['jvm_args'] = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())\n"
        "spark.stop()\n"
        "print(json.dumps(out))\n"
    )
    env = {
        **os.environ,
        "SPARK_MASTER": "local[1]",
        "SPARK_DRIVER_MEMORY": "1g",
        "PYSPARK_SUBMIT_ARGS": f"--driver-java-options -Djava.io.tmpdir={tmp_path} pyspark-shell",
    }
    root = Path(__file__).resolve().parents[1]
    res = subprocess.run(
        [sys.executable, "-c", probe], cwd=root, env=env, capture_output=True, text=True, timeout=300
    )
    assert res.returncode == 0, res.stderr[-3000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    for key, value in STREAMING_CONFS.items():
        assert out[key] == value, key
    assert out["class"] == STREAMING_CONFS["spark.sql.streaming.checkpointFileManagerClass"]
    # both checksum layers stay on
    assert out["checksum"] == "true"
    assert LOCAL_DRIVER_JAVA_OPTIONS in out["jvm_args"], out["jvm_args"]
    assert f"-Djava.io.tmpdir={tmp_path}" in out["jvm_args"], out["jvm_args"]


def test_test_session_carries_shipped_streaming_confs(spark):
    """The tests' session runs streams under the confs get_spark ships, and
    no earlier test has left one of them changed or unset."""
    for key, value in STREAMING_CONFS.items():
        assert spark.conf.get(key) == value, key
    jvm = spark._jvm
    jvm_args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
    assert LOCAL_DRIVER_JAVA_OPTIONS in jvm_args, jvm_args
