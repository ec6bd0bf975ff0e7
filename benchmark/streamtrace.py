"""Streaming-query progress, collected by a listener and reduced per sample.

Drains run on the streaming query's own thread, so their progress is
keyed by query id; the benchmark maps each id to the sample whose
build started it (see `run.py`).
"""

from __future__ import annotations

import json
import threading

DURATIONS = {
    "add_batch_ms": "addBatch",
    "get_batch_ms": "getBatch",
    "query_planning_ms": "queryPlanning",
    "wal_commit_ms": "walCommit",
    "trigger_ms": "triggerExecution",
}


def _new_row() -> dict:
    row = dict.fromkeys(DURATIONS, 0)
    row.update(drains=0, batches=0, input_rows=0, state_rows_total=0,
               state_memory_bytes=0, state_commit_ms=0)
    return row


def reduce_progress(progress, query_sample: dict[str, str]) -> dict[str, dict]:
    """Rows keyed by sample from `StreamingQueryProgress` dicts.

    Durations, input rows and state commit time add up over batches.
    State size is each drain's last batch (the state it ended with),
    summed over the sample's drains."""
    rows: dict[str, dict] = {}
    last: dict[str, dict] = {}
    for p in progress:
        sample = query_sample.get(p["id"])
        if sample is None:
            continue
        row = rows.setdefault(sample, _new_row())
        row["batches"] += 1
        row["input_rows"] += p.get("numInputRows", 0)
        dur = p.get("durationMs") or {}
        for key, src in DURATIONS.items():
            row[key] += dur.get(src, 0)
        for op in p.get("stateOperators") or ():
            row["state_commit_ms"] += op.get("commitTimeMs", 0)
        if p["id"] not in last or p["batchId"] >= last[p["id"]]["batchId"]:
            last[p["id"]] = p
    for qid, p in last.items():
        row = rows[query_sample[qid]]
        row["drains"] += 1
        for op in p.get("stateOperators") or ():
            row["state_rows_total"] += op.get("numRowsTotal", 0)
            row["state_memory_bytes"] += op.get("memoryUsedBytes", 0)
    return rows


class ProgressLog:
    """Thread-safe sink for listener callbacks (they arrive on the
    py4j callback thread)."""

    def __init__(self):
        self._lock = threading.Lock()
        self._done = threading.Condition(self._lock)
        self.progress: list[dict] = []
        self.terminated: set[str] = set()

    def add_progress(self, progress_json: str) -> None:
        with self._lock:
            self.progress.append(json.loads(progress_json))

    def add_terminated(self, query_id: str) -> None:
        with self._done:
            self.terminated.add(query_id)
            self._done.notify_all()

    def wait_terminated(self, ids, timeout: float) -> bool:
        with self._done:
            return self._done.wait_for(lambda: set(ids) <= self.terminated, timeout)


def make_listener(log: ProgressLog):
    """A `StreamingQueryListener` feeding `log` (imports pyspark)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            log.add_progress(event.progress.json)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            log.add_terminated(str(event.id))

    return _Listener()
