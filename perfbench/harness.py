"""Benchmark plumbing: session set-up, job-group tracing, event-log
attribution, the cache-honesty guard, peak-memory sampling of the Spark
driver's process tree and the summary statistics every workload reports.

Everything here sits OUTSIDE the program: it calls the package's public
functions and observes Spark through ``statusTracker``, the persistent-RDD
registry and (traced runs only) the event log.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import re
import statistics
import threading
import time

import pandas as pd

# Layers that own a Spark job group (the repo modules the benchmark calls).
# The streaming wrappers own no jobs of their own: their work runs in the
# knn / pip / sinks groups, and the stream layer reports its own timings.
GROUP_LAYERS = (
    "session", "sources", "resolve", "rules", "checkpoint",
    "sinks", "tiles", "knn", "pip",
)
# per-group statistic → unit
GROUP_STATS = {"tasks": "count", "shuffle_write_bytes": "B", "spill_bytes": "B",
               "gc_s": "s", "task_skew": "ratio", "failed_tasks": "count"}


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def quartiles(xs):
    """(q1, median, q3) as ``statistics.quantiles(n=4)`` gives them."""
    if len(xs) < 2:
        v = xs[0] if xs else 0.0
        return v, v, v
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def tail(xs, min_beyond: int = 10):
    """(value, percentile, n): the latency at the highest whole percentile
    that still has at least ``min_beyond`` samples above its rank
    (nearest-rank). With too few samples no percentile qualifies; then the
    maximum is returned with percentile ``None``."""
    n = len(xs)
    s = sorted(xs)
    if n <= min_beyond:
        return (s[-1] if s else 0.0), None, n
    best = None
    for p in range(1, 100):
        rank = max(1, math.ceil(p * n / 100.0))
        if n - rank >= min_beyond:
            best = p
    if best is None:
        return s[-1], None, n
    return s[max(1, math.ceil(best * n / 100.0)) - 1], best, n


# --------------------------------------------------------------------------
# session set-up
# --------------------------------------------------------------------------

def spark_conf(work: str, repo: str, trace: bool, heap: str, partitions: int) -> dict:
    """Benchmark-side Spark settings: every file Spark writes stays under
    the run's work directory, the Python workers get the repo root on
    their path, shuffles start at ``partitions`` reducers, and the event
    log is on only in the traced run."""
    conf = {
        # the session factory starts every shuffle at >= 128 reducers (its
        # cluster design point) and lets AQE coalesce; on 4 cores that
        # fixed task cost dominates a small call (a 2,000-point kNN batch
        # measured 13 s against 5.5 s at 8), so shuffles start where a
        # local[4] deployment would set them
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": str(partitions),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the heap is committed and touched up front, so peak RSS does not
        # depend on when G1 chose to grow the heap (measured bimodal
        # otherwise: 2.7 vs 4.5 GB on identical runs)
        "spark.driver.extraJavaOptions": (
            f"-Xms{heap} -XX:+AlwaysPreTouch "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.system.home={os.path.join(work, 'derby')}"
        ),
        # without this every pandas UDF dies with ModuleNotFoundError when
        # the command runs from outside the repo's own environment
        "spark.executorEnv.PYTHONPATH": repo,
        "spark.ui.showConsoleProgress": "false",
        # PySpark's DataFrame call-site capture (a debugging aid) adds
        # several py4j round trips to every DataFrame API call: a third of
        # the ~90k round trips of the rule Column build
        "spark.python.sql.dataFrameDebugging.enabled": "false",
    }
    if trace:
        ev = os.path.join(work, "eventlog")
        os.makedirs(ev, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + ev,
            "spark.eventLog.compress": "false",
        })
    return conf


def warm_python_workers(spark, n: int) -> bool:
    """Start the Python worker daemon and ``n`` workers with one pandas UDF
    over ``n`` partitions; True when the job's result is right."""
    from pyspark.sql import functions as F

    # defined here so it is shipped by value: the workers cannot import
    # this module
    def _plus_one(s: pd.Series) -> pd.Series:
        import wayproblems_spark  # noqa: F401  (the workers' first import of it)

        return s + 1

    plus_one = F.pandas_udf(_plus_one, "long")
    got = spark.range(0, 4 * n, 1, n).select(plus_one("id").alias("v")).agg(F.sum("v"))
    return got.collect()[0][0] == sum(range(1, 4 * n + 1))


def stop_spark(spark) -> None:
    """Stop the session, shut the py4j gateway and wait for the JVM (and
    with it the Python worker daemon) to exit."""
    sc = spark.sparkContext
    gw = sc._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    with contextlib.suppress(Exception):
        gw.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


# --------------------------------------------------------------------------
# peak RSS of the driver JVM + its Python workers
# --------------------------------------------------------------------------

def _children_map():
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, shared ones split between
    the processes sharing them. Forked Python workers share most of the
    daemon's pages; summing plain RSS would count those once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def cpu_seconds(root_pid: int) -> float:
    """CPU time (user + system) used so far by the calling thread (the
    driver's py4j calls; the RSS sampler thread is not counted) and by the
    process tree under ``root_pid`` (the JVM, the Python worker daemon and
    its workers, reaped children included). Time the host steals from the
    VM is charged to no process, so this is the work done, whatever the
    neighbours do."""
    kids = _children_map()
    todo, ticks = [root_pid], 0
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # utime, stime, cutime, cstime: fields 14-17 of stat
        ticks += sum(int(x) for x in stat[stat.rfind(")") + 2:].split()[11:15])
        todo.extend(kids.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK") + time.thread_time()


class RssSampler:
    """Samples the summed resident memory (PSS) of the JVM process tree
    (JVM, Python worker daemon, workers) every ``interval`` seconds on a
    background thread."""

    def __init__(self, root_pid: int, interval: float = 0.2):
        self.root = root_pid
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        kids = _children_map()
        todo, total = [self.root], 0
        while todo:
            pid = todo.pop()
            total += _pss_kb(pid)
            todo.extend(kids.get(pid, ()))
        self.peak_kb = max(self.peak_kb, total)

    def _run(self):
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# --------------------------------------------------------------------------
# tracing: spans + job groups
# --------------------------------------------------------------------------

class Tracer:
    """Spans around calls into each layer, and the Spark job group the
    layer's jobs run under. Spans are kept in memory.

    ``enabled`` is the run's ``--trace``; ``active`` says whether the
    current rep is traced (a traced run interleaves untraced reps to
    measure the tracing overhead). Inactive, spans record nothing and every
    job runs in the ``untraced`` group, so it counts toward no layer."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.active = enabled
        self.spans: list[tuple[str, float, float, str | None]] = []
        self._stack: list[str] = []
        self.group = None
        self.set_group("session")

    def set_group(self, layer: str) -> None:
        self.group = layer if self.active else "untraced"
        self.sc.setJobGroup(self.group, self.group)

    @contextlib.contextmanager
    def paused(self, pause: bool = True):
        """Run the body as an untraced rep (when ``pause``)."""
        was = self.active
        self.active = was and not pause
        self.set_group("none")
        try:
            yield
        finally:
            self.active = was
            self.set_group("none")

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None):
        if not self.active:
            yield
            return
        prev = self.group
        if group is not None:
            self.set_group(group)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans.append((name, t0, t1, parent))
            if group is not None and prev is not None:
                self.set_group(prev)

    def total(self, name: str) -> float:
        return sum(t1 - t0 for n, t0, t1, _ in self.spans if n == name)

    def durations(self, name: str) -> list[float]:
        return [t1 - t0 for n, t0, t1, _ in self.spans if n == name]

    def self_time(self, name: str) -> float:
        """Span time minus the part covered by its direct child spans."""
        own = [(t0, t1) for n, t0, t1, _ in self.spans if n == name]
        kids = [(t0, t1) for n, t0, t1, p in self.spans if p == name]
        total = sum(t1 - t0 for t0, t1 in own)
        for a0, a1 in own:
            total -= sum(
                max(0.0, min(a1, b1) - max(a0, b0)) for b0, b1 in kids
            )
        return total

    def jobs_in_group(self, layer: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(layer))


# --------------------------------------------------------------------------
# cache-honesty guard
# --------------------------------------------------------------------------

def persistent_rdds(sc) -> set[int]:
    """Ids of every RDD Spark currently holds persisted."""
    return {int(k) for k in sc._jsc.getPersistentRDDs().keys()}


def leftover_rdds(sc, allowed: set[int]) -> int:
    """Persistent RDDs beyond ``allowed`` (the prebuilt indexes). Anything
    left over would let the next rep read this rep's cache through the
    CacheManager's logical-plan match."""
    return len(persistent_rdds(sc) - allowed)


# --------------------------------------------------------------------------
# event-log attribution (traced runs)
# --------------------------------------------------------------------------

_ROOT_ID = re.compile(r"execution-root-id-(\d+)")


def _events(ev_dir: str):
    """Event-log records (Spark writes rolling logs as a directory)."""
    for dirpath, _, files in os.walk(ev_dir):
        for name in sorted(files):
            if name.startswith("events"):
                with open(os.path.join(dirpath, name)) as f:
                    for line in f:
                        yield json.loads(line)


def group_stats(ev_dir: str, relabel=None) -> dict:
    """Per layer job group: tasks, shuffle write bytes, spilled bytes, GC
    seconds, failed tasks, and the task-time skew (max ÷ median run time)
    of the group's widest stage.

    Jobs are attributed per SQL execution: AQE splits one action into
    several jobs, all tagged with the same execution root id, and the
    action's name ("parquet", "count", "collect", ...) is the first word of
    the last job's stage name. ``relabel(group, action)`` may move an
    execution to another layer where the group could not be switched in
    between. Also returns ``"_exec_s"``: {layer: {action: seconds}}."""
    jobs: dict[int, dict] = {}
    roots: dict[str, list[int]] = {}
    for ev in _events(ev_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            m = _ROOT_ID.search(props.get("spark.job.tags") or "")
            root = m.group(1) if m else f"job{ev['Job ID']}"
            names = [s.get("Stage Name", "") for s in ev.get("Stage Infos", ())]
            jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id") or "none",
                "root": root, "stages": ev.get("Stage IDs", ()),
                "name": names[-1] if names else "", "t0": ev["Submission Time"],
                "t1": ev["Submission Time"],
            }
            roots.setdefault(root, []).append(ev["Job ID"])
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["t1"] = ev["Completion Time"]
    stage_layer: dict[int, str] = {}
    exec_s: dict[str, dict[str, float]] = {}
    for ids in roots.values():
        named = [jobs[j]["name"] for j in ids if not jobs[j]["name"].startswith("$")]
        action = (named[-1] if named else jobs[ids[-1]]["name"]).split(" ")[0]
        group = jobs[ids[0]]["group"]
        layer = relabel(group, action) if relabel is not None else group
        secs = (max(jobs[j]["t1"] for j in ids) - min(jobs[j]["t0"] for j in ids)) / 1000.0
        acc = exec_s.setdefault(layer, {})
        acc[action] = acc.get(action, 0.0) + secs
        for j in ids:
            for sid in jobs[j]["stages"]:
                stage_layer[sid] = layer

    out: dict = {g: {k: 0.0 for k in GROUP_STATS} for g in GROUP_LAYERS}
    tasks: dict[str, dict[int, list[float]]] = {}
    for ev in _events(ev_dir):
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        layer = stage_layer.get(ev["Stage ID"])
        if layer not in out:
            continue
        st = out[layer]
        st["tasks"] += 1
        if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
            st["failed_tasks"] += 1
        m = ev.get("Task Metrics") or {}
        st["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        info = ev.get("Task Info") or {}
        dur = max(info.get("Finish Time", 0) - info.get("Launch Time", 0), 1)
        tasks.setdefault(layer, {}).setdefault(ev["Stage ID"], []).append(dur / 1000.0)
    for layer, stages in tasks.items():
        widest = max(stages.values(), key=len)
        out[layer]["task_skew"] = max(widest) / statistics.median(widest)
    out["_exec_s"] = exec_s
    return out
