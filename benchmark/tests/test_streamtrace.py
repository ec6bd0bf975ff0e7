import json
import threading

import pytest

import streamtrace


def progress(qid, batch, rows, add=10, get=1, plan=2, wal=3, trig=20, state=None):
    return {
        "id": qid, "batchId": batch, "numInputRows": rows,
        "durationMs": {"addBatch": add, "getBatch": get, "queryPlanning": plan,
                       "walCommit": wal, "triggerExecution": trig},
        "stateOperators": state or [],
    }


def op(rows, mem, commit):
    return {"numRowsTotal": rows, "memoryUsedBytes": mem, "commitTimeMs": commit}


FIXTURE = [
    progress("a", 0, 100, state=[op(10, 1000, 5)]),
    progress("b", 0, 7, state=[op(3, 300, 1), op(4, 400, 2)]),
    progress("a", 1, 50, state=[op(15, 1500, 6)]),
    progress("z", 0, 1),  # a query no sample started
]


def test_reduce_progress_per_sample():
    rows = streamtrace.reduce_progress(FIXTURE, {"a": "w:q:0", "b": "w:q:0"})
    assert list(rows) == ["w:q:0"]
    r = rows["w:q:0"]
    assert r["drains"] == 2 and r["batches"] == 3
    assert r["input_rows"] == 157
    assert (r["add_batch_ms"], r["get_batch_ms"], r["query_planning_ms"],
            r["wal_commit_ms"], r["trigger_ms"]) == (30, 3, 6, 9, 60)
    assert r["state_commit_ms"] == 5 + 1 + 2 + 6
    # State size: each drain's last batch, summed over drains.
    assert r["state_rows_total"] == 15 + 3 + 4
    assert r["state_memory_bytes"] == 1500 + 300 + 400


def test_reduce_progress_splits_samples():
    rows = streamtrace.reduce_progress(FIXTURE, {"a": "w:q:0", "b": "w:r:0"})
    assert rows["w:q:0"]["batches"] == 2 and rows["w:r:0"]["batches"] == 1


def test_progress_log_waits_for_terminations():
    log = streamtrace.ProgressLog()
    log.add_progress(json.dumps(FIXTURE[0]))
    assert log.progress == [FIXTURE[0]]
    assert not log.wait_terminated({"a"}, timeout=0.01)
    t = threading.Timer(0.05, log.add_terminated, args=("a",))
    t.start()
    try:
        assert log.wait_terminated({"a"}, timeout=5)
    finally:
        t.join(timeout=5)
    assert not t.is_alive()


@pytest.mark.parametrize("ids", [set(), {"a"}])
def test_wait_terminated_is_immediate_when_done(ids):
    log = streamtrace.ProgressLog()
    log.add_terminated("a")
    assert log.wait_terminated(ids, timeout=0)
