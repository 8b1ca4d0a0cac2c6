"""Shared harness pieces: machine sizing, the Spark session, the span
tracer, Spark status-store counters, process-tree memory and statistics.

Nothing here knows about a particular workload; `ecog_folder.py`,
`relational_mix.py` and the traced streaming section `ecog_stream.py`
build on it and `run.py` ties them together.
"""
from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ---------------------------------------------------------------- machine

def machine() -> dict:
    """Cores this process may use and the box's total memory."""
    cores = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
                break
    # an eighth of RAM for the driver heap (executors live in it on
    # local[n]): the JVM grows into it the same way in every run, which
    # keeps peak RSS comparable; the Python workers, the page cache and
    # other tenants of a shared box get the rest
    heap_mb = max(1024, min(16384, mem_kb // 1024 // 8))
    return {"cores": cores, "mem_total_mb": mem_kb // 1024,
            "heap_mb": heap_mb}


def spark_configs(mach: dict, work_dir: str) -> dict:
    """`get_spark` keyword arguments sized from the machine instead of the
    package defaults (32 cores, a 24 g heap). Every file Spark, the JVM or
    Python writes goes under `work_dir`: temp dirs included, and the
    perf-data file (always in /tmp) is turned off for every JVM, the
    short-lived spark-submit launcher too (through JAVA_TOOL_OPTIONS)."""
    local_dir = os.path.join(work_dir, "spark-local")
    tmp_dir = os.path.join(work_dir, "tmp")
    for d in (local_dir, tmp_dir):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp_dir          # Python side
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp_dir}"]))
    return {
        "master": f"local[{mach['cores']}]",
        "shuffle_partitions": mach["cores"],
        "spark.driver.memory": f"{mach['heap_mb']}m",
        "spark.local.dir": local_dir,
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Dderby.system.home={os.path.join(work_dir, 'derby')}",
    }


def process_start_wall() -> float:
    """Wall-clock time at which this process was created (from /proc), so
    set-up time includes interpreter start and imports."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])          # field 22 of stat(5)
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f
                     if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------- statistics

def median(xs) -> float:
    return float(statistics.median(xs))


def tail(xs):
    """(value, percentile): the highest percentile that has at least ten
    samples beyond it, or (None, None) with ten samples or fewer."""
    n = len(xs)
    if n <= 10:
        return None, None
    return float(sorted(xs)[n - 11]), 100.0 * (n - 10) / n


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) jiffies of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return sum(vals[:8]), vals[7]


def steal_share(before, after) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    total = after[0] - before[0]
    return (after[1] - before[1]) / total if total else 0.0


# ----------------------------------------------------------------- inputs

def write_long(path: str, X, series_id: str, start: int = 0) -> None:
    """Land a dense (time, channels) block as long parquet
    (series_id, channel, sample_idx, value), samples numbered from
    `start`."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    n, c = X.shape
    pq.write_table(pa.table({
        "series_id": pa.array([series_id] * (n * c), type=pa.string()),
        "channel": pa.array(np.tile(np.arange(c, dtype=np.int32), n)),
        "sample_idx": pa.array(np.repeat(
            np.arange(start, start + n, dtype=np.int64), c)),
        "value": pa.array(X.ravel()),
    }), path)


# ------------------------------------------------------------ peak memory

def _tree() -> dict[int, list[str]]:
    """This process and all its descendants: pid -> /proc/<pid>/stat
    fields after the command name."""
    procs: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        procs[int(name)] = fields
        children.setdefault(int(fields[1]), []).append(int(name))
    tree, stack = {}, [os.getpid()]
    while stack:
        pid = stack.pop()
        if pid in procs:
            tree[pid] = procs[pid]
        stack.extend(children.get(pid, ()))
    return tree


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants,
    including children they have reaped."""
    tick = os.sysconf("SC_CLK_TCK")
    return sum(sum(int(v) for v in f[11:15])
               for f in _tree().values()) / tick


class TreeRssSampler:
    """Every `period` seconds, sums the proportional set size (Pss, from
    /proc/<pid>/smaps_rollup) of this process and its live descendants
    (JVM, Python daemon and workers). `peak_mb` is the largest of those
    per-tick sums: the memory the whole tree held at one time, with pages
    that forked workers share copy-on-write counted once."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self):
        total = 0
        for pid in _tree():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    total += next(int(line.split()[1]) for line in f
                                  if line.startswith("Pss:"))
            except (OSError, StopIteration):
                continue
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ----------------------------------------------------------------- tracing

class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out once
    at the end. A disabled tracer records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def _closed(self) -> list[dict]:
        return [s for s in self.spans if s["end"] is not None]

    def self_times(self) -> dict[str, float]:
        """Span duration minus the part covered by its child spans, summed
        per span name, over the spans that have ended."""
        child = [0.0] * len(self.spans)
        for s in self._closed():
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self._closed():
            own = s["end"] - s["start"] - child[s["id"]]
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def total_times(self) -> dict[str, float]:
        """Span duration summed per span name, over the spans that have
        ended."""
        out: dict[str, float] = {}
        for s in self._closed():
            out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
        return out

    def write(self, path: str, extra: dict):
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
            f.write(json.dumps({"summary": extra}) + "\n")


# ------------------------------------------------------ Spark status store

COUNTER_KEYS = ("tasks", "failed_tasks", "executor_run_s", "executor_cpu_s",
                "shuffle_write_bytes", "shuffle_read_bytes", "gc_s",
                "spill_bytes", "peak_execution_memory_bytes", "task_skew")


def group_counters(spark, groups) -> dict:
    """Sum the last attempt of every stage of every job started under the
    given job groups. `task_skew` is max / median task run time in the
    stage with the largest executor run time."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    tot = dict.fromkeys(COUNTER_KEYS, 0.0)
    seen: set[int] = set()
    slowest = (-1.0, None, None)
    for g in groups:
        for jid in tracker.getJobIdsForGroup(g):
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:   # stage skipped, or evicted
                    continue
                tot["tasks"] += st.numTasks()
                tot["failed_tasks"] += st.numFailedTasks()
                tot["executor_run_s"] += st.executorRunTime() / 1e3
                tot["executor_cpu_s"] += st.executorCpuTime() / 1e9
                tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
                tot["shuffle_read_bytes"] += st.shuffleReadBytes()
                tot["gc_s"] += st.jvmGcTime() / 1e3
                tot["spill_bytes"] += (st.memoryBytesSpilled()
                                       + st.diskBytesSpilled())
                tot["peak_execution_memory_bytes"] = max(
                    tot["peak_execution_memory_bytes"],
                    st.peakExecutionMemory())
                if st.executorRunTime() > slowest[0]:
                    slowest = (st.executorRunTime(), sid, st.attemptId())
    if slowest[1] is not None:
        durs = []
        tasks = store.taskList(slowest[1], slowest[2], 1 << 30)
        it = tasks.iterator()
        while it.hasNext():
            tm = it.next().taskMetrics()
            if tm.isDefined():
                durs.append(tm.get().executorRunTime())
        if durs and statistics.median(durs) > 0:
            tot["task_skew"] = max(durs) / statistics.median(durs)
    return tot


@contextlib.contextmanager
def job_group(spark, name: str):
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def noop_write(df) -> None:
    """Execute a DataFrame fully without keeping its output."""
    df.write.format("noop").mode("overwrite").save()


def prefix_cuts(spark, tracer, prefix: str, cuts) -> tuple[dict, dict]:
    """Run each (layer, action) cut in order, each under its own job
    group. Every cut recomputes the whole prefix up to its layer, so a
    layer's self time (and shuffle bytes) is its cut minus the previous
    cut."""
    self_s, shuffle = {}, {}
    prev_t = prev_b = 0.0
    for layer, action in cuts:
        group = f"{prefix}.cut.{layer}"
        t0 = time.perf_counter()
        with tracer.span(group), job_group(spark, group):
            action()
        t = time.perf_counter() - t0
        b = group_counters(spark, [group])["shuffle_write_bytes"]
        self_s[layer], shuffle[layer] = t - prev_t, b - prev_b
        prev_t, prev_b = t, b
    return self_s, shuffle


KERNELS = ("resample", "notch", "subtract_car", "wavelet_transform")


def serial_times(tracer, scale: int) -> dict:
    """Per-layer metrics of a serial `dsp.kernels` replay traced under a
    `dsp.kernels.serial_total` span, its kernel calls in spans of their
    own: seconds per kernel and in total, times `scale` (the replay covers
    one of `scale` equal inputs)."""
    self_s, total = tracer.self_times(), tracer.total_times()
    out = {f"dsp.kernels.{k}_s": self_s.get(f"dsp.kernels.{k}", 0.0) * scale
           for k in KERNELS}
    out["dsp.kernels.serial_total_s"] = (
        total["dsp.kernels.serial_total"] * scale)
    return out
