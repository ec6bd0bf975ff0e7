"""Capture `.explain("formatted")` for the named queries into
<out_dir>/<query>_<tag>.txt — the before/after plan evidence of a
change (the committed `plans/r10/` set is one such capture). Streaming
twins execute at build time and have no single batch plan; they are
skipped with a marker file.

Run: python tools/capture_plans.py <out_dir> <tag> <query> [<query> ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as contract
from stream_processing_system_spark.session import get_spark

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    if len(sys.argv) < 4:
        raise SystemExit(__doc__.split("Run: ")[1])
    out, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    os.makedirs(out, exist_ok=True)
    spark = get_spark(app_name="capture-plans", cpus=os.cpu_count() or 4)
    spark.sparkContext.setLogLevel("ERROR")
    qs = contract.queries()
    for name in names:
        path = os.path.join(out, f"{name}_{tag}.txt")
        try:
            df = qs[name](spark, SF)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # streaming twins execute at build time
            plan = f"(no static batch plan: {type(e).__name__}: {e})\n"
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path}", flush=True)


if __name__ == "__main__":
    main()
