"""Per-query profile: DataFrame BUILD wall (plan construction incl.
any eager localCheckpoints / driver-side training collects), EXECUTE
wall (noop sink), and the number of Spark jobs each phase submitted —
the decomposition that tells whether a slow query is paying for
driver round trips (many small jobs) or for one heavy job (shuffle /
compute), which picks the guide §1 vs §2 lever.

`child_cpu_s` is the CPU of the processes the JVM forked and reaped
during each phase (`cutime + cstime` of `/proc/<jvm pid>/stat`, so
Linux only): shell-outs such as Hadoop's `chmod`/`readlink` on a host
without its native library. The long-lived Python workers are not
reaped in a phase and do not count.

Run: python tools/profile_query.py <query> [<query> ...]
  → one JSON line per query:
    {"name": ..., "build_s": ..., "exec_s": ..., "jobs_build": N,
     "jobs_exec": N, "child_cpu_build_s": ..., "child_cpu_exec_s": ...}
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


def child_cpu_s(spark) -> float:
    """CPU seconds of the JVM's reaped children so far."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/stat") as f:
        # fields after the ")" closing the command name: cutime and
        # cstime are stat fields 16 and 17
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[13]) + int(fields[14])) / os.sysconf("SC_CLK_TCK")


def profile(spark, qs, name: str) -> dict:
    # warm-up: codegen + parquet footer caches, so the profile
    # measures the plan, not first-touch JIT
    qs[name](spark, SF).write.format("noop").mode("overwrite").save()
    j0, c0 = n_jobs(spark), child_cpu_s(spark)
    t0 = time.perf_counter()
    df = qs[name](spark, SF)
    t1 = time.perf_counter()
    j1, c1 = n_jobs(spark), child_cpu_s(spark)
    df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    j2, c2 = n_jobs(spark), child_cpu_s(spark)
    return {
        "name": name,
        "build_s": round(t1 - t0, 3),
        "exec_s": round(t2 - t1, 3),
        "jobs_build": j1 - j0,
        "jobs_exec": j2 - j1,
        "child_cpu_build_s": round(c1 - c0, 2),
        "child_cpu_exec_s": round(c2 - c1, 2),
    }


def main() -> None:
    spark = get_spark(app_name="profile-query", cpus=os.cpu_count() or 4)
    spark.sparkContext.setLogLevel("ERROR")
    qs = contract.queries()
    for name in [a for a in sys.argv[1:] if not a.startswith("--")]:
        print(json.dumps(profile(spark, qs, name)), flush=True)


if __name__ == "__main__":
    main()
