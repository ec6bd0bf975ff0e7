"""Record the committed traced runs, one JSON file per workload.

    python3 benchmark/record.py --seed 7 --seconds 30 [WORKLOAD ...]

For each workload (default: all), runs `run.py` untraced and then
traced with the same seed and run length, and writes
`benchmark/results/<workload>.json`: the traced run's stamp, per-layer
metrics, per-query table, per-sample rows and spans, plus the untraced
end-to-end metrics and the tracing overhead, `pass_cpu_s` traced
against untraced.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

from run import dump_json  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def run(workload: str, seed: int, seconds: float, trace: int, out: str | None = None) -> dict:
    cmd = [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if out:
        cmd += ["--out", out]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} trace={trace} exited {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("workloads", nargs="*", default=sorted(WORKLOADS))
    args = ap.parse_args(argv)
    for w in args.workloads:
        out = os.path.join(BENCH_DIR, "results", f"{w}.json")
        plain = run(w, args.seed, args.seconds, 0)
        traced = run(w, args.seed, args.seconds, 1, out)
        with open(out, encoding="utf-8") as f:
            doc = json.load(f)
        untraced_pass = plain["metrics"]["pass_cpu_s"]["value"]
        traced_pass = traced["metrics"]["trace.pass_cpu_s"]["value"]
        doc = {
            "stamp": doc["stamp"],
            "end_to_end": {k: v["value"] for k, v in plain["metrics"].items()},
            "trace_overhead": {
                "pass_cpu_s_untraced": untraced_pass,
                "pass_cpu_s_traced": traced_pass,
                "share": traced_pass / untraced_pass - 1,
            },
            **{k: v for k, v in doc.items() if k != "stamp"},
        }
        dump_json(doc, out)
        print(f"{w}: traced pass {traced_pass:.3f} CPU s vs untraced {untraced_pass:.3f} CPU s "
              f"({doc['trace_overhead']['share']:+.1%})", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
