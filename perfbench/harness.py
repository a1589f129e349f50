"""Shared benchmark machinery: session set-up, process memory sampling,
machine samples, timing summaries, spans and Spark event-log
attribution.

Nothing here imports pyspark at module level, so ``run.py`` can fail
fast (before starting a JVM) when the engine package is missing.
"""

from __future__ import annotations

import bisect
import glob
import json
import os
import shlex
import statistics
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", "_work")

# Spark threads: the machine's cores, never more than 4 (the box the
# committed records come from).
CPUS = min(4, os.cpu_count() or 1)


# ---------------------------------------------------------------------------
# machine sample and process memory
# ---------------------------------------------------------------------------

def machine_sample() -> dict:
    """loadavg, /proc/stat jiffies (steal included) and nproc, so a
    contaminated run can be told apart from its own record."""
    s: dict = {"unix_time": round(time.time(), 1), "nproc": os.cpu_count()}
    try:
        s["loadavg"] = [round(v, 2) for v in os.getloadavg()]
    except OSError:
        pass
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        names = ["user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"]
        s["cpu_jiffies"] = {k: int(v) for k, v in zip(names, parts[1:9])}
    except (OSError, ValueError, IndexError):
        pass
    return s


_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_stats() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, CPU seconds: user + system, own and reaped children)."""
    out = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                raw = f.read()
        except OSError:
            continue
        # comm may contain spaces: the fields after ')' start at state
        fields = raw[raw.rfind(")") + 2:].split()
        cpu = sum(int(x) for x in fields[11:15]) / _TICK
        out[int(stat.split("/")[2])] = (int(fields[1]), cpu)
    return out


def descendants(pid: int, stats: dict | None = None) -> list[int]:
    kids: dict[int, list[int]] = {}
    for p, (ppid, _) in (stats or _proc_stats()).items():
        kids.setdefault(ppid, []).append(p)
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every descendant (the
    JVM and its Python workers). CPU time does not count time the
    machine's host took the CPU away (steal), which wall time does."""
    stats = _proc_stats()
    me = os.getpid()
    return sum(stats[p][1] for p in [me, *descendants(me, stats)] if p in stats)


def stamp() -> tuple[float, float]:
    """(wall, CPU) seconds now, to time an operation run on this thread."""
    return time.perf_counter(), tree_cpu_s()


def since(start: tuple[float, float]) -> dict:
    """Wall and CPU seconds since ``start`` (a ``stamp()``)."""
    wall, cpu = stamp()
    return {"wall_s": wall - start[0], "cpu_s": cpu - start[1]}


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, ValueError, IndexError):
        return 0


class ProcessSampler:
    """Samples this process and its descendants every 0.05 s: peak
    resident memory, and CPU seconds over time so the CPU of any wall
    interval (a streaming tick) can be read off. The sampler's own CPU
    is subtracted."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak_bytes = 0
        self.series: list[tuple[float, float]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            stats = _proc_stats()
            tree = [me, *descendants(me, stats)]
            self.peak_bytes = max(self.peak_bytes, sum(_rss_bytes(p) for p in tree))
            cpu = sum(stats[p][1] for p in tree if p in stats) - time.thread_time()
            self.series.append((time.time(), cpu))
            self._stop.wait(self.interval)

    def __enter__(self) -> "ProcessSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20

    def cpu_at(self, t: float) -> float:
        """CPU seconds at wall time ``t``, interpolated between samples."""
        xs = self.series
        i = bisect.bisect_left(xs, (t, float("-inf")))
        if i == 0:
            return xs[0][1]
        if i == len(xs):
            return xs[-1][1]
        (t0, c0), (t1, c1) = xs[i - 1], xs[i]
        return c0 + (c1 - c0) * (t - t0) / (t1 - t0)


# ---------------------------------------------------------------------------
# timing summaries
# ---------------------------------------------------------------------------

def summarize(samples: list[float]) -> dict:
    """Median and tail of a timing sample. The tail is the highest
    percentile with at least ten samples beyond it (the 11th largest);
    with fewer than 11 samples no percentile has ten beyond it, so the
    tail is the maximum. ``tail_pct`` states which it was."""
    xs = sorted(samples)
    n = len(xs)
    if n >= 11:
        idx = n - 11
        tail, pct = xs[idx], 100.0 * idx / (n - 1)
    else:
        tail, pct = xs[-1], 100.0
    return {"p50": statistics.median(xs), "tail": tail, "tail_pct": round(pct, 1), "n": n}


def reps_for(seconds: float, nominal_rep_s: float) -> int:
    """A run does a fixed number of repetitions: as many whole ones as
    fit in ``seconds`` at their nominal duration on a 4-core box, and at
    least one. A fixed count (not a deadline) keeps the sample count,
    and so the tail percentile, the same in every run."""
    return max(1, int(seconds // nominal_rep_s))


# ---------------------------------------------------------------------------
# Spark session lifetime
# ---------------------------------------------------------------------------

def spark_submit_args(trace: bool) -> str:
    """JVM settings passed through PYSPARK_SUBMIT_ARGS: everything the
    run writes stays under the work directory; the traced run also
    writes the Spark event log."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # -XX:-UsePerfData: no hsperfdata file under /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        logdir = os.path.join(WORK, "eventlog")
        os.makedirs(logdir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + logdir,
            "spark.eventLog.compress": "false",
        })
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items())
    return f"--driver-memory 2g {args} pyspark-shell"


def setup_sessions(first_action, reps: int = 5, cpus: int = CPUS):
    """Set up ``reps`` times: create the session and complete the
    workload's first action, stopping the session in between (the JVM
    stays, so only the first set-up pays its launch). Returns the last
    session and every set-up time."""
    from vanus_spark import get_spark

    times, spark = [], None
    for _ in range(reps):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus)
        first_action(spark)
        times.append(time.perf_counter() - t0)
    return spark, times


def shutdown() -> None:
    """Stop the active session and the JVM, and wait until every process
    this run started has ended. Safe to call when nothing was started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class Tracer:
    """In-memory spans (name, start, end, parent, trace id). Each span
    tags the Spark jobs submitted from this thread with its own job
    group; jobs from other threads (the streaming engine) are matched
    to spans by time. Spans are written out once, at the end."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.trace_id = None

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": f"s{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace": self.trace_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s["id"], name)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["id"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def add(self, name: str, start: float, end: float, parent: dict) -> dict:
        """Record a span timed elsewhere: a streaming tick, or a call
        made on the streaming engine's callback thread, whose job group
        the benchmark must not change."""
        s = {"id": f"s{len(self.spans)}", "name": name, "parent": parent["id"],
             "trace": self.trace_id, "start": start, "end": end}
        self.spans.append(s)
        return s


def _log_lines(app: str):
    """Lines of one application's event log: a single file, or (rolling
    logs) a directory of events_<n>_<app> files."""
    files = [app] if os.path.isfile(app) else sorted(
        glob.glob(os.path.join(app, "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    for path in files:
        with open(path) as f:
            yield from f


def read_event_log(logdir: str) -> list[dict]:
    """Jobs from the Spark event logs in ``logdir``: group, submit and
    completion time (epoch s), executor run time and JVM GC time of
    their tasks (s)."""
    jobs: list[dict] = []
    for app in sorted(glob.glob(os.path.join(logdir, "*"))):
        app_jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        for line in _log_lines(app):
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                app_jobs[ev["Job ID"]] = {
                    "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                    "submit": ev["Submission Time"] / 1000.0,
                    "end": None, "task_s": 0.0, "gc_s": 0.0, "tasks": 0,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = ev["Job ID"]
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in app_jobs:
                    app_jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                j = app_jobs.get(stage_job.get(ev["Stage ID"], -1))
                if j is not None:
                    m = ev.get("Task Metrics") or {}
                    j["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    j["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    j["tasks"] += 1
        jobs.extend(j for j in app_jobs.values() if j["end"] is not None)
    return jobs


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute(spans: list[dict], jobs: list[dict]) -> None:
    """Give every span its self time and its own Spark jobs: jobs whose
    group is the span's id, else (jobs from another thread) the
    innermost span open when the job was submitted. Adds ``self_s``,
    ``spark_jobs``, ``spark_task_s``, ``spark_gc_s`` and ``job_wall_s``
    (union of its jobs' intervals) to each span."""
    by_id = {s["id"]: s for s in spans}
    kids: dict[str, list[dict]] = {}
    for s in spans:
        s.update(spark_jobs=0, spark_task_s=0.0, spark_gc_s=0.0, _jobs=[])
        if s["parent"]:
            kids.setdefault(s["parent"], []).append(s)
    for j in jobs:
        owner = by_id.get(j["group"])
        if owner is None:
            open_spans = [s for s in spans if s["start"] <= j["submit"] <= s["end"]]
            owner = max(open_spans, key=lambda s: s["start"], default=None)
        if owner is None:
            continue
        owner["spark_jobs"] += 1
        owner["spark_task_s"] += j["task_s"]
        owner["spark_gc_s"] += j["gc_s"]
        owner["_jobs"].append((max(j["submit"], owner["start"]), min(j["end"], owner["end"])))
    for s in spans:
        wall = s["end"] - s["start"]
        child = [(c["start"], c["end"]) for c in kids.get(s["id"], [])]
        s["wall_s"] = wall
        s["self_s"] = wall - _union_len(child)
        s["job_wall_s"] = _union_len([iv for iv in s.pop("_jobs") if iv[1] > iv[0]])


def subtree(spans: list[dict], root: dict) -> list[dict]:
    kids: dict[str, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], []))
    return out


def rollup(spans: list[dict], root: dict) -> dict:
    """Totals over a workload's span tree: self time per layer (the
    span name up to its first '['), the root's own time as
    ``unattributed``, and Spark job, task, GC and driver-gap totals.
    The layer self times plus ``unattributed`` sum to the root's wall
    time by construction."""
    tree = subtree(spans, root)
    layers: dict[str, float] = {}
    for s in tree[1:]:
        key = s["name"].split("[")[0]
        layers[key] = layers.get(key, 0.0) + s["self_s"]
    jobs = sum(s["spark_jobs"] for s in tree)
    job_wall = sum(s["job_wall_s"] for s in tree)
    return {
        "wall_s": root["wall_s"],
        "layer_self_s": layers,
        "unattributed_s": root["self_s"],
        "spark_jobs": jobs,
        "spark_task_s": sum(s["spark_task_s"] for s in tree),
        "spark_gc_s": sum(s["spark_gc_s"] for s in tree),
        "driver_gap_s": root["wall_s"] - job_wall,
    }
