"""Crane benchmark: one workload, one process, one Spark session.

    python3 benchmark/run.py --workload crane_batch --seed 1 --seconds 10 --trace 0

Run from the repository root. The run:

1. generates the catalog tables (`datagen.py`; the same bytes on every
   run) under `.bench_run/` in the repository, where Spark's local,
   temp and event-log directories also go;
2. sets up: imports the engine, starts the session from
   `stream_processing_system_spark.session.get_spark(cpus=<cores>)`,
   its JVM compiling with C1 only, and runs one untimed warm-up pass
   over the workload's queries;
3. checks each query's first result against its DuckDB oracle
   (`tests/oracle.py`), or for a non-empty result where there is none;
4. runs timed passes for `--seconds` seconds, and at least three:
   a single client in a closed loop builds each query with
   `__spark_entry__.queries()[name]` and forces it with a `noop` write
   before sending the next; every pass visits the queries in a fresh
   order drawn from `--seed`, the only thing the seed changes.

The timed figures are CPU seconds, not wall time, counted over this
process, the Spark JVM and its Python workers: `pass_cpu_s` is the sum
and `geomean_query_cpu_s` the geometric mean of the queries' median CPU
seconds per timed sample, less what the JVM's JIT compiler threads used
meanwhile, and `setup_s` the CPU seconds of the set-up (step 2),
compilation included. On a shared host the wall time of the same code
moves with the time other guests take from this machine's CPUs; the
stamp line reports it (`wall`) without a bound.

The last stdout line is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. The line before
it stamps the run (`cpus`, `sf`, git sha, seed, workload, passes,
tracing flag). `--out PATH` also writes the traced run's spans, per
sample rows and per-query table as JSON.

With `--trace 1` the timed passes run with every public function of
`operators/*` and `sources.tables.load_table` wrapped in spans, the
Spark event log on and a streaming-query listener registered; the
engine's source is never edited.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(ROOT, ".bench_run")
SF = 0.01
PACKAGE = "stream_processing_system_spark"
# `operators.curation`, `operators.linalg`, `operators.similarity` and
# `operators.text_analysis` are not reached by any query of the
# registered workloads, so no metrics are reported for them.
OPERATOR_LAYERS = ("core", "graph", "dedup")
# A fresh JVM's first pass over a mix runs two to three times slower
# than the next, so set-up runs one untimed pass. A run then times at
# least three, so one disturbed sample does not set a query's median.
MIN_PASSES = 3

# benchmark/ is sys.path[0] when run as a script.
import datagen  # noqa: E402
import eventlog  # noqa: E402
import stats  # noqa: E402
import streamtrace  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="Crane benchmark (one workload per run)")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="write the traced run's spans and tables here")
    return ap.parse_args(argv)


def engine_stamp() -> dict:
    """Identify the engine build: git sha when the tree is a checkout,
    and a hash of the engine's sources either way."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    for d, _, names in os.walk(os.path.join(ROOT, PACKAGE)):
        files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    for path in sorted(files):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    try:
        sha = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True,
            timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        sha = None
    return {"git_sha": sha, "source_sha256": h.hexdigest()}


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def cpu_times() -> list[int]:
    """The host-wide CPU time counters (user, nice, system, idle, iowait,
    irq, softirq, steal, ...) from /proc/stat, in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


# HotSpot's JIT compiler threads, by their (truncated) thread names.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str) -> tuple[str, list[str]] | None:
    """The command name and the fields after it of a /proc stat file:
    state, ppid, ..., then utime, stime, cutime and cstime as the 12th
    to 15th."""
    try:
        with open(path) as f:
            stat = f.read()
    except OSError:
        return None
    return stat[stat.index("(") + 1:stat.rindex(")")], stat[stat.rindex(")") + 2:].split()


def process_tree() -> list[int]:
    """This process and every process under it: the Spark JVM and its
    Python workers."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit() and (st := _stat(f"/proc/{entry}/stat")):
            children.setdefault(int(st[1][1]), []).append(int(entry))
    tree, todo = [], [os.getpid()]
    while todo:
        tree.append(todo.pop())
        todo += children.get(tree[-1], [])
    return tree


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by the process tree, live
    or reaped. Unlike wall time, it leaves out the time the shared host
    runs other guests on this machine's CPUs."""
    ticks = 0
    for pid in process_tree():
        if st := _stat(f"/proc/{pid}/stat"):
            ticks += sum(int(x) for x in st[1][11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def jit_cpu_s() -> dict[tuple[int, int], float]:
    """CPU seconds used so far by each JIT compiler thread in the tree,
    by (pid, tid)."""
    out = {}
    for pid in process_tree():
        with contextlib.suppress(OSError):
            for tid in os.listdir(f"/proc/{pid}/task"):
                st = _stat(f"/proc/{pid}/task/{tid}/stat")
                if st and st[0].startswith(JIT_THREADS):
                    out[pid, int(tid)] = sum(int(x) for x in st[1][11:13])
    return {k: v / os.sysconf("SC_CLK_TCK") for k, v in out.items()}


def work_cpu_s(before: tuple[float, dict], after: tuple[float, dict]) -> float:
    """CPU seconds the tree used between two `(tree_cpu_s(), jit_cpu_s())`
    readings, less what its JIT compiler threads used: an amount that
    varies from run to run (under C2 it was still half the CPU a few
    passes after start), while the rest is the queries' own work."""
    jit = sum(v - before[1].get(k, 0.0) for k, v in after[1].items())
    return after[0] - before[0] - jit


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


class Run:
    def __init__(self, args: argparse.Namespace):
        self.args = args
        self.workload = args.workload
        self.queries = WORKLOADS[args.workload]["queries"]
        self.rng = random.Random(args.seed)
        self.cpus = len(os.sched_getaffinity(0))
        self.sf_dir = os.path.join(WORK, "data")
        self.tracer = None
        self.phase = None
        self.sample = None
        self.query_sample: dict[str, str] = {}
        self.errors: dict[str, str] = {}
        self.phases: dict[str, float] = {}
        self.input_rows_per_pass = None

    # -- one closed-loop request -------------------------------------
    def _span(self, layer: str, name: str | None = None):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(layer, name)

    def _set_phase(self, phase: str) -> None:
        self.phase = phase
        self.sc.setLocalProperty("bench.phase", phase)

    def run_sample(self, name: str, sample: str):
        """Build then force one query; returns (df, build_s, exec_s)."""
        self.sample = sample
        if self.tracer is not None:
            self.tracer.sample = sample
        self.sc.setJobGroup(sample, name)
        self.sc.setLocalProperty("bench.sample", sample)
        self._set_phase("build")
        t0 = time.perf_counter()
        with self._span("plans", f"plans.{name}"):
            df = self.fns[name](self.spark, self.sf_dir)
        t1 = time.perf_counter()
        self._set_phase("exec")
        with self._span("exec"):
            df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        return df, t1 - t0, t2 - t1

    def check(self, name: str, df) -> None:
        """Correctness gate: the DuckDB oracle, else a non-empty result."""
        self._set_phase("gate")
        sql = self.oracles.get(name)
        if sql is None:
            if df.limit(1).count() < 1:
                raise AssertionError("empty result and no oracle to compare with")
        else:
            self.assert_matches_oracle(df, self.sf_dir, sql)

    def _fail(self, name: str, where: str) -> None:
        msg = traceback.format_exc(limit=3).replace(ROOT + os.sep, "")
        self.errors.setdefault(name, f"{where}: {msg}")
        print(f"[bench] {name} failed in {where}:\n{msg}", file=sys.stderr, flush=True)

    # -- phases ---------------------------------------------------------
    def setup(self) -> tuple[float, float]:
        """Import the engine, start the session, warm up, check results.
        Returns the set-up's (wall, CPU) seconds: imports, session and
        warm-up pass, without the correctness checks."""
        t0, cpu0 = time.perf_counter(), tree_cpu_s()
        sys.path.insert(0, ROOT)
        import __spark_entry__ as contract
        from stream_processing_system_spark.session import get_spark

        # The JVM compiles with C1 only. With C2 a fresh JVM is still
        # compiling after the warm-up pass, and its profile-driven code
        # settles at a speed that differs by 10-30% from one JVM to the
        # next; a run has room for one JVM. C1 reaches its steady state
        # within the warm-up pass.
        conf = {
            "spark.local.dir": os.path.join(WORK, "local"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:TieredStopAtLevel=1",
        }
        if self.args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(WORK, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t_session = time.perf_counter()
        self.spark = get_spark(app_name=f"bench-{self.workload}", cpus=self.cpus, extra_conf=conf)
        self.get_spark_s = time.perf_counter() - t_session
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.fns = contract.queries()
        self.oracles = contract.oracle_sql()
        missing = [q for q in self.queries if q not in self.fns]
        if missing:
            raise SystemExit(f"queries not registered by __spark_entry__: {missing}")
        setup_s, setup_cpu_s = time.perf_counter() - t0, tree_cpu_s() - cpu0

        from tests.oracle import assert_matches_oracle

        self.assert_matches_oracle = assert_matches_oracle
        self.bad = set()
        self.phases["session_s"] = setup_s
        gate_s = 0.0
        for name in self.rng.sample(self.queries, len(self.queries)):
            cpu0 = tree_cpu_s()
            try:
                df, b, e = self.run_sample(name, f"{self.workload}:{name}:warmup")
            except Exception:
                self.bad.add(name)
                self._fail(name, "warm-up")
                continue
            setup_s += b + e
            setup_cpu_s += tree_cpu_s() - cpu0
            self.phases[f"warmup.{name}"] = b + e
            t_gate = time.perf_counter()
            try:
                self.check(name, df)
            except Exception:
                self.bad.add(name)
                self._fail(name, "oracle check")
            gate_s += time.perf_counter() - t_gate
        self.phases["gate_s"] = gate_s
        return setup_s, setup_cpu_s

    def timed_passes(self) -> tuple[list, list]:
        samples, passes = [], []
        t_start = time.perf_counter()
        # A pass starts only if it should end inside the window, judged by
        # the slowest pass so far, so a run lasts about `--seconds`.
        while len(passes) < MIN_PASSES or (
                time.perf_counter() - t_start + max(passes) <= self.args.seconds):
            i = len(passes)
            t_pass = time.perf_counter()
            for name in self.rng.sample(self.queries, len(self.queries)):
                sample = f"{self.workload}:{name}:{i}"
                row = {"sample": sample, "query": name, "pass": i, "ok": name not in self.bad}
                try:
                    cpu0 = tree_cpu_s(), jit_cpu_s()
                    _, row["build_s"], row["exec_s"] = self.run_sample(name, sample)
                    row["cpu_s"] = work_cpu_s(cpu0, (tree_cpu_s(), jit_cpu_s()))
                except Exception:
                    row["ok"] = False
                    self._fail(name, f"pass {i}")
                samples.append(row)
            passes.append(time.perf_counter() - t_pass)
        return samples, passes

    # -- tracing -----------------------------------------------------------
    def install_tracing(self):
        """Wrap the layers' public functions and the writers; register the
        streaming listener. Returns an undo function."""
        from pyspark.sql.readwriter import DataFrameWriter
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        self.tracer = tracing.Tracer(
            on_layer=lambda layer: self.sc.setLocalProperty("bench.layer", layer)
        )
        prefix = f"{PACKAGE}.operators."
        ops = {m: "operators." + m[len(prefix):] for m in sys.modules if m.startswith(prefix)}
        undo = [
            tracing.install(self.tracer, ops),
            tracing.install(self.tracer, {f"{PACKAGE}.sources.tables": "sources.load_table"},
                            names={"load_table"}),
        ]

        def filedrop(orig):
            def write(writer, *a, **k):
                if self.phase != "build":
                    return orig(writer, *a, **k)
                with self.tracer.span("sources.filedrop_write"):
                    return orig(writer, *a, **k)
            return write

        def started(orig):
            def start(writer, *a, **k):
                query = orig(writer, *a, **k)
                self.query_sample[str(query.id)] = self.sample
                return query
            return start

        for meth in ("save", "parquet", "text", "json", "csv", "orc", "saveAsTable", "insertInto"):
            undo.append(tracing.patch_method(DataFrameWriter, meth, filedrop))
        for meth in ("start", "toTable"):
            undo.append(tracing.patch_method(DataStreamWriter, meth, started))
        self.progress = streamtrace.ProgressLog()
        self.listener = streamtrace.make_listener(self.progress)
        self.spark.streams.addListener(self.listener)
        return lambda: [u() for u in reversed(undo)]

    def layer_metrics(self, samples, passes, rows, stream_rows) -> dict:
        """Per-layer metrics per timed pass (totals over the traced
        passes divided by their number)."""
        n = len(passes)
        timed = {r["sample"] for r in samples}
        spans = self.tracer.spans  # the tracer starts after the warm-up pass
        selft = tracing.self_times(spans)
        by_id = {s.id: s for s in spans}

        def outer(layer):
            return [s for s in spans if s.layer == layer
                    and (s.parent is None or by_id[s.parent].layer != layer)]

        def dur(layer):
            return sum(s.end - s.start for s in outer(layer)) / n

        def total(key, phase=None):
            vals = [rows.get(t, {}).get(key, 0) for t in timed]
            if phase:
                vals = [v.get(phase, 0) if isinstance(v, dict) else 0 for v in vals]
            return sum(vals) / n

        def stream(key):
            return sum(r[key] for t, r in stream_rows.items() if t in timed) / n

        m = {
            "session.get_spark_s": (self.get_spark_s, "s"),
            "sources.load_table.calls": (len(outer("sources.load_table")) / n, "count"),
            "sources.load_table.s": (dur("sources.load_table"), "s"),
            "sources.filedrop_write.s": (dur("sources.filedrop_write"), "s"),
            "plans.build_s": (dur("plans"), "s"),
            "plans.build_jobs": (total("jobs", "build"), "count"),
        }
        for op in OPERATOR_LAYERS:
            layer = f"operators.{op}"
            m[f"{layer}.calls"] = (sum(s.layer == layer for s in spans) / n, "count")
            m[f"{layer}.self_s"] = (
                sum(selft[s.id] for s in spans if s.layer == layer) / n, "s")
            m[f"{layer}.jobs"] = (
                sum(rows.get(t, {}).get("layer_jobs", {}).get(layer, 0) for t in timed) / n,
                "count")
        m.update({
            "exec.s": (dur("exec"), "s"),
            "exec.jobs": (total("jobs", "exec"), "count"),
            "exec.stages": (total("stages", "exec"), "count"),
            "exec.tasks": (total("tasks", "exec"), "count"),
        })
        for key, unit in (("executor_run_s", "s"), ("executor_cpu_s", "s"), ("gc_s", "s"),
                          ("shuffle_write_bytes", "bytes"), ("shuffle_read_bytes", "bytes"),
                          ("spill_bytes", "bytes"), ("failed_tasks", "count")):
            m[f"spark.{key}"] = (total(key), unit)
        wall = sum(r.get("build_s", 0) + r.get("exec_s", 0) for r in samples) / n
        m["spark.driver_overhead_share"] = (
            1 - m["spark.executor_run_s"][0] / (wall * self.cpus), "share")
        for key in ("drains", "batches", "state_rows_total", "state_memory_bytes"):
            unit = "bytes" if key.endswith("bytes") else "count"
            m[f"streaming.{key}"] = (stream(key), unit)
        for key in streamtrace.DURATIONS:
            if key != "trigger_ms":
                m[f"streaming.{key}"] = (stream(key), "ms")
        # Summed over the state-store tasks of each batch, so it can
        # exceed the wall time of the drain.
        m["streaming.state_commit_ms"] = (stream("state_commit_ms"), "ms")
        trig = stream("trigger_ms")
        m["streaming.input_rows_per_s"] = (
            stream("input_rows") / (trig / 1e3) if trig else 0.0, "1/s")
        m["trace.pass_s"] = (sum(query_medians(samples, wall_s).values()), "s")
        m["trace.pass_cpu_s"] = (sum(query_medians(samples, cpu_s).values()), "s")
        # Rows read per pass are fixed by the input tables, so they go
        # into the stamp (a change there means a drain missed or re-read
        # rows) rather than into the metrics.
        self.input_rows_per_pass = stream("input_rows")
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}

    # -- the run ---------------------------------------------------------
    def execute(self) -> dict:
        t0 = time.perf_counter()
        datagen.generate(self.sf_dir, SF)
        self.phases["datagen_s"] = time.perf_counter() - t0
        setup_s, setup_cpu_s = self.setup()
        undo = self.install_tracing() if self.args.trace else None
        t0, cpu0 = time.perf_counter(), cpu_times()
        samples, passes = self.timed_passes()
        self.phases["timed_s"] = time.perf_counter() - t0
        # Time the hypervisor gave this machine's CPUs to other guests:
        # the main cause of run-to-run spread on a shared host.
        ticks = [b - a for a, b in zip(cpu0, cpu_times())]
        steal_share = ticks[7] / sum(ticks) if len(ticks) > 7 and sum(ticks) else None
        if undo:
            undo()
        peak_rss = jvm_peak_rss_mb(self.spark)
        t0 = time.perf_counter()
        if self.args.trace:
            ids = list(self.query_sample)
            if not self.progress.wait_terminated(ids, timeout=60):
                raise RuntimeError("streaming listener missed query terminations")
            self.spark.streams.removeListener(self.listener)
        stop_spark(self.spark)
        self.phases["stop_s"] = time.perf_counter() - t0

        ok = [r for r in samples if r["ok"]]
        attempted, failed = len(samples), len(samples) - len(ok)
        lat = [wall_s(r) for r in ok]
        wall_med = list(query_medians(samples, wall_s).values())
        cpu_med = list(query_medians(samples, cpu_s).values())
        tail_p, tail_v = stats.tail_percentile(lat) if lat else (None, None)
        if self.args.trace:
            rows = eventlog.reduce_events(eventlog.read_events(os.path.join(WORK, "eventlog")))
            stream_rows = streamtrace.reduce_progress(self.progress.progress, self.query_sample)
            metrics = self.layer_metrics(samples, passes, rows, stream_rows) if ok else {}
            metrics["jvm.peak_rss_mb"] = {"value": peak_rss, "unit": "MB"}
        stamp = {
            "workload": self.workload, "seed": self.args.seed, "seconds": self.args.seconds,
            "trace": self.args.trace, "cpus": self.cpus, "sf": SF,
            "passes": len(passes), "passes_s": passes,
            "samples": attempted, "tail_supported": {"p": tail_p, "value_s": tail_v},
            # Wall-clock figures: on a shared host they move with the time
            # other guests take, so they are reported here, not bounded.
            "wall": {
                "setup_s": setup_s,
                "pass_s": sum(wall_med),
                "query_p50_s": stats.median(lat) if lat else None,
                "query_p90_s": stats.percentile(lat, 0.9) if lat else None,
                "geomean_query_s": stats.geomean(wall_med) if wall_med else None,
            },
            "query_s": by_query(samples, wall_s), "query_cpu_s": by_query(samples, cpu_s),
            "phases_s": self.phases, "host_steal_share": steal_share,
            "streaming_input_rows_per_pass": self.input_rows_per_pass,
            "errors": self.errors, **engine_stamp(),
        }
        print(json.dumps({"stamp": stamp}), flush=True)
        if self.args.trace and self.args.out:
            self.write_trace(self.args.out, stamp, metrics, samples, rows, stream_rows)
        if not self.args.trace:
            metrics = {
                "setup_s": {"value": setup_cpu_s, "unit": "s"},
                "pass_cpu_s": {"value": sum(cpu_med), "unit": "s"},
                "geomean_query_cpu_s": {
                    "value": stats.geomean(cpu_med) if cpu_med else 0.0, "unit": "s"},
                "correct_frac": {"value": len(ok) / attempted, "unit": "share"},
            }
        return {"correct": failed == 0, "attempted": attempted, "failed": failed,
                "metrics": metrics}

    def write_trace(self, path, stamp, metrics, samples, rows, stream_rows) -> None:
        """Spans, per-sample rows and a per-query table as diffable JSON
        (one span or row per line)."""
        table = {}
        for r in samples:
            if not r["ok"]:
                continue
            ev = rows.get(r["sample"], {})
            lat = r["build_s"] + r["exec_s"]
            r.update(
                build_jobs=ev.get("jobs", {}).get("build", 0),
                exec_jobs=ev.get("jobs", {}).get("exec", 0),
                exec_stages=ev.get("stages", {}).get("exec", 0),
                exec_tasks=ev.get("tasks", {}).get("exec", 0),
                executor_run_s=ev.get("executor_run_s", 0.0),
                shuffle_write_bytes=ev.get("shuffle_write_bytes", 0),
                spill_bytes=ev.get("spill_bytes", 0),
                gc_s=ev.get("gc_s", 0.0),
                driver_overhead_share=1 - ev.get("executor_run_s", 0.0) / (lat * self.cpus),
                layer_jobs=ev.get("layer_jobs", {}),
                streaming=stream_rows.get(r["sample"], {}),
            )
            table.setdefault(r["query"], []).append(r)
        per_query = {}
        for q, rs in sorted(table.items()):
            med = {k: stats.median([x[k] for x in rs]) for k in (
                "build_s", "exec_s", "build_jobs", "exec_jobs", "exec_stages", "exec_tasks",
                "executor_run_s", "shuffle_write_bytes", "driver_overhead_share")}
            med["samples"] = len(rs)
            per_query[q] = med
        doc = {
            "stamp": stamp,
            "per_layer": {k: v["value"] for k, v in metrics.items()},
            "per_query": per_query,
            "samples": samples,
            "spans": [s.as_dict() for s in self.tracer.spans],
        }
        dump_json(doc, path)


def wall_s(row) -> float:
    """A sample's latency: build plus execute."""
    return row["build_s"] + row["exec_s"]


def cpu_s(row) -> float:
    """CPU seconds the engine's processes used during a sample, less JIT
    compilation."""
    return row["cpu_s"]


def by_query(samples, value) -> dict[str, list[float]]:
    """`value(row)` of each query's good samples."""
    per_query: dict[str, list[float]] = {}
    for r in samples:
        if r["ok"]:
            per_query.setdefault(r["query"], []).append(value(r))
    return per_query


def query_medians(samples, value) -> dict[str, float]:
    """Each query's median `value` over its timed samples. Summed, they
    give a pass's cost; a garbage collection or a burst of host load
    that lands in one sample does not set it."""
    return {q: stats.median(v) for q, v in by_query(samples, value).items()}


def dump_json(doc: dict, path: str) -> None:
    """JSON with one line per top-level scalar entry and per list item."""
    parts = []
    for key, val in doc.items():
        if isinstance(val, list):
            body = ",\n".join("  " + json.dumps(x, sort_keys=True) for x in val)
            parts.append(f" {json.dumps(key)}: [\n{body}\n ]")
        elif isinstance(val, dict):
            body = ",\n".join(f"  {json.dumps(k)}: {json.dumps(v, sort_keys=True)}"
                              for k, v in val.items())
            parts.append(f" {json.dumps(key)}: {{\n{body}\n }}")
        else:
            parts.append(f" {json.dumps(key)}: {json.dumps(val)}")
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        f.write("{\n" + ",\n".join(parts) + "\n}\n")


def main(argv=None) -> int:
    args = parse_args(argv)
    for need in ("__spark_entry__.py", PACKAGE, os.path.join("tests", "oracle.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"run.py: {need} not found under {ROOT}; run from a full checkout",
                  file=sys.stderr)
            return 2
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("data", "tmp", "local", "eventlog"):
        os.makedirs(os.path.join(WORK, sub))
    # Everything the engine, its Python workers and the JVM write
    # goes under WORK; the workers import the engine from ROOT.
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    try:
        result = Run(args).execute()
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
