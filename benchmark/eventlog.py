"""Reduce a Spark event log to one row per benchmark sample.

The benchmark tags every job with local properties: `bench.sample`
(`workload:query:sample`), `bench.phase` (`build` or `exec`) and
`bench.layer` (the innermost traced layer when the job started).
Spark copies local properties into threads a job-submitting thread
starts, so the jobs of a streaming drain, which run on the query's own
thread under its own job group, still carry the sample that started it.
"""

from __future__ import annotations

import glob
import json
import os

PHASES = ("build", "exec")


def _new_row() -> dict:
    return {
        "jobs": dict.fromkeys(PHASES, 0),
        "stages": dict.fromkeys(PHASES, 0),
        "tasks": dict.fromkeys(PHASES, 0),
        "layer_jobs": {},
        "executor_run_s": 0.0,
        "executor_cpu_s": 0.0,
        "gc_s": 0.0,
        "shuffle_write_bytes": 0,
        "shuffle_read_bytes": 0,
        "spill_bytes": 0,
        "failed_tasks": 0,
    }


def reduce_events(events) -> dict[str, dict]:
    """Rows keyed by `bench.sample`; events of untagged jobs are skipped."""
    owner: dict[int, tuple[str, str]] = {}
    rows: dict[str, dict] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            sample = props.get("bench.sample")
            if sample is None:
                continue
            phase = props.get("bench.phase", "build")
            row = rows.setdefault(sample, _new_row())
            row["jobs"][phase] = row["jobs"].get(phase, 0) + 1
            layer = props.get("bench.layer")
            if layer:
                row["layer_jobs"][layer] = row["layer_jobs"].get(layer, 0) + 1
            for sid in e.get("Stage IDs", ()):
                owner[sid] = (sample, phase)
        elif kind == "SparkListenerStageCompleted":
            hit = owner.get(e["Stage Info"]["Stage ID"])
            if hit:
                stages = rows[hit[0]]["stages"]
                stages[hit[1]] = stages.get(hit[1], 0) + 1
        elif kind == "SparkListenerTaskEnd":
            hit = owner.get(e["Stage ID"])
            if not hit:
                continue
            row = rows[hit[0]]
            row["tasks"][hit[1]] = row["tasks"].get(hit[1], 0) + 1
            if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                row["failed_tasks"] += 1
            m = e.get("Task Metrics") or {}
            row["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            row["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            row["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            row["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            row["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            read = m.get("Shuffle Read Metrics") or {}
            row["shuffle_read_bytes"] += read.get("Remote Bytes Read", 0) + read.get(
                "Local Bytes Read", 0
            )
    return rows


def read_events(log_dir: str):
    """Yield the events of every log file under `log_dir` (the benchmark
    turns rolling logs off, so each application writes one file)."""
    paths = [
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith((".", "appstatus"))
    ]
    for path in sorted(paths):
        with open(path, encoding="utf-8") as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)
