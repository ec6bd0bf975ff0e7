"""Per-query profile: DataFrame BUILD wall (plan construction incl.
any eager localCheckpoints / driver-side training collects), EXECUTE
wall (noop sink), and the number of Spark jobs each phase submitted —
the decomposition that tells whether a slow query is paying for
driver round trips (many small jobs) or for one heavy job (shuffle /
compute), which picks the guide §1 vs §2 lever.

`child_cpu_*_s` is the CPU of the processes the JVM forked and reaped
during each phase (`cutime + cstime` of `/proc/<jvm pid>/stat`, so
Linux only): shell-outs such as Hadoop's `chmod`/`readlink` on a host
without its native library. The long-lived Python workers are not
reaped in a phase and do not count.

`gc_cpu_*_s` is the CPU of the JVM's garbage-collector threads
(`GC Thread#N` and every `G1 ...` thread: concurrent mark, refinement,
service) during each phase, from `/proc/<jvm pid>/task/*/stat`. Spark's
task GC time counts only the pauses a task sat in, not these threads'
concurrent work. `jvm_vmhwm_mb` is the JVM's peak resident set so far
(`VmHWM` of `/proc/<jvm pid>/status`).

Run: python tools/profile_query.py <query> [<query> ...]
  → one JSON line per query:
    {"name": ..., "build_s": ..., "exec_s": ..., "jobs_build": N,
     "jobs_exec": N, "child_cpu_build_s": ..., "child_cpu_exec_s": ...,
     "gc_cpu_build_s": ..., "gc_cpu_exec_s": ..., "jvm_vmhwm_mb": ...}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as contract
from stream_processing_system_spark.session import get_spark

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def n_jobs(spark) -> int:
    """Total jobs submitted so far (Java SparkStatusTracker)."""
    t = spark._jsparkSession.sparkContext().statusTracker()
    return len(t.getJobIdsForGroup(None))


# HotSpot's collector threads, by their (15-character) thread names.
GC_THREADS = ("GC Thread#", "G1 ")


def _stat(path: str) -> tuple[str, list[str]]:
    """The command name of a /proc stat file and the fields after it:
    utime, stime, cutime and cstime are the 12th to 15th."""
    with open(path) as f:
        stat = f.read()
    return stat[stat.index("(") + 1:stat.rindex(")")], stat[stat.rindex(")") + 2:].split()


def jvm_cpu_s(pid: int) -> tuple[float, float]:
    """CPU seconds so far of the JVM's reaped children and of its GC
    threads."""
    proc = _stat(f"/proc/{pid}/stat")[1]
    child = int(proc[13]) + int(proc[14])
    gc = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            name, task = _stat(f"/proc/{pid}/task/{tid}/stat")
        except OSError:  # the thread ended after the listing
            continue
        if name.startswith(GC_THREADS):
            gc += int(task[11]) + int(task[12])
    tick = os.sysconf("SC_CLK_TCK")
    return child / tick, gc / tick


def vmhwm_mb(pid: int) -> float:
    """The process's peak resident set so far, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def profile(spark, qs, name: str, pid: int) -> dict:
    # warm-up: codegen + parquet footer caches, so the profile
    # measures the plan, not first-touch JIT
    qs[name](spark, SF).write.format("noop").mode("overwrite").save()
    j0, (c0, g0) = n_jobs(spark), jvm_cpu_s(pid)
    t0 = time.perf_counter()
    df = qs[name](spark, SF)
    t1 = time.perf_counter()
    j1, (c1, g1) = n_jobs(spark), jvm_cpu_s(pid)
    df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    j2, (c2, g2) = n_jobs(spark), jvm_cpu_s(pid)
    return {
        "name": name,
        "build_s": round(t1 - t0, 3),
        "exec_s": round(t2 - t1, 3),
        "jobs_build": j1 - j0,
        "jobs_exec": j2 - j1,
        "child_cpu_build_s": round(c1 - c0, 2),
        "child_cpu_exec_s": round(c2 - c1, 2),
        "gc_cpu_build_s": round(g1 - g0, 2),
        "gc_cpu_exec_s": round(g2 - g1, 2),
        "jvm_vmhwm_mb": round(vmhwm_mb(pid), 1),
    }


def main() -> None:
    spark = get_spark(app_name="profile-query", cpus=os.cpu_count() or 4)
    spark.sparkContext.setLogLevel("ERROR")
    qs = contract.queries()
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    for name in [a for a in sys.argv[1:] if not a.startswith("--")]:
        print(json.dumps(profile(spark, qs, name, pid)), flush=True)


if __name__ == "__main__":
    main()
