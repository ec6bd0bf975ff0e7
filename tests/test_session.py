"""The session factory's JVM settings, read back from the running JVM."""

from __future__ import annotations

import contextlib
import json
import os
import subprocess
import sys


def _management(spark):
    return spark.sparkContext._jvm.java.lang.management.ManagementFactory


def test_driver_heap_starts_at_its_maximum(spark):
    # A heap that starts small is grown by G1 during the first passes
    # of work; the factory starts it at its full size instead.
    heap = _management(spark).getMemoryMXBean().getHeapMemoryUsage()
    assert heap.getInit() == heap.getMax()


def test_heap_floor_follows_driver_memory(spark):
    mem = spark.sparkContext.getConf().get("spark.driver.memory")
    args = list(_management(spark).getRuntimeMXBean().getInputArguments())
    assert f"-Xmx{mem}" in args
    assert f"-Xms{mem}" in args


_SMALL_DRIVER = """
import json
from stream_processing_system_spark.session import get_spark
spark = get_spark(app_name="small-driver", cpus=1,
                  extra_conf={"spark.driver.memory": "1g"})
heap = spark.sparkContext._jvm.java.lang.management.ManagementFactory \\
    .getMemoryMXBean().getHeapMemoryUsage()
print(json.dumps([heap.getInit(), heap.getMax()]))
spark.stop()
"""


def test_heap_floor_follows_an_extra_conf_driver_memory():
    # A floor above -Xmx stops the JVM from starting: a 1g driver given
    # through extra_conf must start with a 1g floor, whatever the
    # environment's default.
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="2g")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", _SMALL_DRIVER], cwd=root, env=env,
        capture_output=True, text=True, timeout=300, check=True,
    ).stdout
    init, max_ = json.loads(out.strip().splitlines()[-1])
    assert init == max_ == 1 << 30


def test_profile_query_reads_the_jvm_gc_threads(spark):
    from tools import profile_query

    jvm = spark.sparkContext._jvm
    pid = jvm.java.lang.ProcessHandle.current().pid()
    names = []
    for tid in os.listdir(f"/proc/{pid}/task"):
        with contextlib.suppress(OSError):
            names.append(profile_query._stat(f"/proc/{pid}/task/{tid}/stat")[0])
    assert any(n.startswith("GC Thread#") for n in names)
    assert any(n.startswith("G1 ") for n in names)
    child0, gc0 = profile_query.jvm_cpu_s(pid)
    jvm.java.lang.System.gc()
    child1, gc1 = profile_query.jvm_cpu_s(pid)
    assert 0.0 <= gc0 <= gc1 and 0.0 <= child0 <= child1
    assert profile_query.vmhwm_mb(pid) > 0
