import json

import pytest

import eventlog


def job(jid, stages, sample=None, phase=None, layer=None, group=None):
    props = {"spark.jobGroup.id": group or sample or "other"}
    if sample:
        props["bench.sample"] = sample
    if phase:
        props["bench.phase"] = phase
    if layer:
        props["bench.layer"] = layer
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Stage IDs": stages,
            "Properties": props}


def task(stage, run_ms=100, cpu_ns=50_000_000, gc_ms=5, sw=0, rr=0, lr=0,
         spill=0, reason="Success"):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task End Reason": {"Reason": reason},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns, "JVM GC Time": gc_ms,
            "Disk Bytes Spilled": spill, "Memory Bytes Spilled": 4 * spill,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
            "Shuffle Read Metrics": {"Remote Bytes Read": rr, "Local Bytes Read": lr},
        },
    }


def stage_done(sid):
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": sid}}


FIXTURE = [
    {"Event": "SparkListenerApplicationStart"},
    job(0, [0], "w:q:0", "build", "operators.graph"),
    task(0, run_ms=300, sw=1000),
    stage_done(0),
    # A streaming drain: its own job group, but the inherited sample tag.
    job(1, [1, 2], "w:q:0", "build", "operators.graph", group="run-uuid"),
    task(1, lr=400, rr=600),
    task(1, reason="ExceptionFailure"),
    stage_done(1),  # stage 2 was skipped: no tasks, never completes
    job(2, [3], "w:q:0", "exec", "exec"),
    task(3, spill=2048),
    task(3),
    stage_done(3),
    job(3, [4], None),  # untagged job from outside the benchmark
    task(4, run_ms=9999),
    stage_done(4),
]


def test_reduce_events_rows_per_sample():
    rows = eventlog.reduce_events(FIXTURE)
    assert list(rows) == ["w:q:0"]
    r = rows["w:q:0"]
    assert r["jobs"] == {"build": 2, "exec": 1}
    assert r["stages"] == {"build": 2, "exec": 1}
    assert r["tasks"] == {"build": 3, "exec": 2}
    assert r["layer_jobs"] == {"operators.graph": 2, "exec": 1}
    assert r["executor_run_s"] == pytest.approx(0.7)
    assert r["executor_cpu_s"] == pytest.approx(0.25)
    assert r["gc_s"] == pytest.approx(0.025)
    assert r["shuffle_write_bytes"] == 1000
    assert r["shuffle_read_bytes"] == 1000
    assert r["spill_bytes"] == 2048
    assert r["failed_tasks"] == 1


def test_read_events_reads_log_files_only(tmp_path):
    lines = [json.dumps(e) for e in FIXTURE]
    (tmp_path / "local-1").write_text("\n".join(lines) + "\n\n")
    (tmp_path / ".local-1.crc").write_text("junk")
    assert list(eventlog.read_events(str(tmp_path))) == FIXTURE
