"""Run hygiene, host context, statistics, session set-up and tracing
shared by the workloads.

Everything the benchmark writes lives in one work directory inside the
checkout (Spark local dirs, temp files, the JVM tmpdir, event logs,
generated inputs); it is removed when the run ends.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import shutil
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


# -- statistics ---------------------------------------------------------

def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that still has at
    least ten samples above it. With fewer than eleven samples no
    percentile qualifies and the maximum is reported as p100."""
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0
    if n < 11:
        return float(xs[-1]), 100.0
    i = n - 11
    return float(xs[i]), round(100.0 * (i + 1) / n, 2)


def summary(xs) -> dict:
    xs = list(xs)
    t, pct = tail(xs)
    return {"p50": median(xs), "tail": t, "tail_pct": pct, "n": len(xs)}


# -- host context -------------------------------------------------------

def _cpu_ticks() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal (guest* are
    # already inside user/nice)
    return sum(vals[:8]), vals[7] if len(vals) > 7 else 0


class HostMonitor:
    """Steal share of all CPU time over the run, from /proc/stat."""

    def __init__(self):
        self.t0 = _cpu_ticks()

    def steal_frac(self) -> float:
        tot, st = _cpu_ticks()
        d = tot - self.t0[0]
        return (st - self.t0[1]) / d if d > 0 else 0.0


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def host_context(seed: int) -> dict:
    import pyspark
    return {"nproc": nproc(),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "pyspark": pyspark.__version__,
            "python": sys.version.split()[0],
            "seed": seed}


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of a process in MiB (VmHWM)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and its
    live descendants (the JVM, the Python workers), each with the
    children it has reaped."""
    tick = os.sysconf("SC_CLK_TCK")
    parent, cpu = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        pid = int(d)
        parent[pid] = int(rest[1])
        cpu[pid] = sum(int(x) for x in rest[11:15])
    kids: dict[int, list[int]] = {}
    for pid, pp in parent.items():
        kids.setdefault(pp, []).append(pid)
    tot, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        tot += cpu.get(pid, 0)
        todo += kids.get(pid, [])
    return tot / tick


# -- work directory -----------------------------------------------------

class Workspace:
    """Fresh per-run directory tree inside the checkout. Points Spark's
    local dirs, Python's and the JVM's temp dirs into it, so nothing
    outside the checkout is written, and removes it on close."""

    def __init__(self, workload: str, seed: int):
        self.dir = os.path.join(WORK_ROOT, f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        for sub in ("spark-local", "tmp", "data"):
            os.makedirs(os.path.join(self.dir, sub))
        self.data = os.path.join(self.dir, "data")
        tmp = os.path.join(self.dir, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.dir, "spark-local")
        os.environ["TMPDIR"] = tmp
        os.environ["TZ"] = "UTC"
        time.tzset()
        # for spark-submit's launcher JVM and the driver JVM; UsePerfData
        # off, or HotSpot writes /tmp/hsperfdata_<user>
        for var in ("SPARK_LAUNCHER_OPTS", "SPARK_SUBMIT_OPTS"):
            os.environ[var] = (os.environ.get(var, "")
                               + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData").strip()
        import tempfile
        tempfile.tempdir = tmp
        # relative paths (spark-warehouse, derby) land in the workspace
        self._cwd = os.getcwd()
        os.chdir(self.dir)

    def path(self, *parts: str) -> str:
        return os.path.join(self.data, *parts)

    def close(self) -> None:
        os.chdir(self._cwd)
        shutil.rmtree(self.dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(WORK_ROOT)


# -- tracing ------------------------------------------------------------

class Tracer:
    """Spans around calls into the program's layers.

    A span records its layer, name, wall start/end and parent. With
    ``enabled`` each span also runs under its own Spark job group, so
    the jobs, stages and task metrics of the event log can be attached
    to it afterwards (``attach_event_log``). Spans stay in memory and
    are written as JSON lines at the end of the run."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, spark, layer: str, name: str, **attrs):
        stack = self._stack()
        with self._lock:
            sid = next(self._ids)
        rec = {"id": sid, "parent": stack[-1]["id"] if stack else None,
               "layer": layer, "name": name, "group": f"pb-{sid}", **attrs}
        sc = spark.sparkContext if (self.enabled and spark) else None
        if sc is not None:
            sc.setJobGroup(rec["group"], f"{layer}:{name}")
        stack.append(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if sc is not None:
                if stack:
                    sc.setJobGroup(stack[-1]["group"],
                                   f"{stack[-1]['layer']}:{stack[-1]['name']}")
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
            with self._lock:
                self.spans.append(rec)

    def add(self, layer: str, name: str, start: float, end: float,
            **attrs) -> None:
        """Record a span timed by the caller."""
        with self._lock:
            sid = next(self._ids)
            self.spans.append({"id": sid, "parent": None, "layer": layer,
                               "name": name, "group": None,
                               "start": start, "end": end, **attrs})

    def of(self, layer: str, name: str | None = None) -> list[dict]:
        return [s for s in self.spans if s["layer"] == layer
                and (name is None or s["name"] == name)]

    def self_times(self) -> dict[str, float]:
        """Per-layer self time: span duration minus the part of its
        interval covered by its child spans."""
        kids: dict[int, list] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            cover = _union([(c["start"], c["end"]) for c in kids.get(s["id"], [])])
            out[s["layer"]] = out.get(s["layer"], 0.0) + (
                s["end"] - s["start"] - cover)
        return out

    def attach_event_log(self, log_dir: str) -> dict[str, dict]:
        """Parse Spark's uncompressed event log and fold jobs, tasks and
        task metrics into the spans by job group. Returns the per-group
        totals (also for groups Spark set itself, e.g. stream run ids)."""
        groups = parse_event_log(log_dir)
        for s in self.spans:
            g = groups.get(s["group"]) or _empty_group()
            s["jobs"] = g["jobs"]
            s["tasks"] = g["tasks"]
            s["executor_cpu_s"] = g["cpu_s"]
            s["gc_s"] = g["gc_s"]
            s["shuffle_bytes"] = g["shuffle_bytes"]
            jobs_cover = _union([(max(a, s["start"]), min(b, s["end"]))
                                 for a, b in g["intervals"]
                                 if b > s["start"] and a < s["end"]])
            s["driver_gap_s"] = max(0.0, s["end"] - s["start"] - jobs_cover)
        return groups

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda r: r["start"]):
                f.write(json.dumps(s, default=str) + "\n")


def _union(intervals) -> float:
    tot, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                tot += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        tot += cur_b - cur_a
    return tot


def _empty_group() -> dict:
    return {"jobs": 0, "tasks": 0, "cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_bytes": 0, "intervals": []}


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """{job group: jobs, tasks, executor CPU and GC seconds, shuffle
    bytes written, [job wall intervals]} from every event-log file under
    ``log_dir`` (rolling or single-file, uncompressed)."""
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}

    def g(name):
        return groups.setdefault(name, _empty_group())

    files = []
    for dp, _ds, fs in os.walk(log_dir):
        files += [os.path.join(dp, f) for f in fs if not f.endswith(".crc")]
    for path in sorted(files):
        with open(path, errors="replace") as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    grp = props.get("spark.jobGroup.id") or "-"
                    jid = ev["Job ID"]
                    job_group[jid] = grp
                    job_start[jid] = ev.get("Submission Time", 0) / 1000.0
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = grp
                    g(grp)["jobs"] += 1
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_group:
                        g(job_group[jid])["intervals"].append(
                            (job_start[jid], ev.get("Completion Time", 0) / 1000.0))
                elif kind == "SparkListenerTaskEnd":
                    grp = stage_group.get(ev.get("Stage ID"), "-")
                    m = ev.get("Task Metrics") or {}
                    r = g(grp)
                    r["tasks"] += 1
                    r["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    r["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    r["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}) \
                        .get("Shuffle Bytes Written", 0)
    return groups


# -- Spark session ------------------------------------------------------

def warm_up(spark) -> None:
    """Touch the paths every workload uses before anything is timed:
    JVM codegen for a scan/aggregate/shuffle, and a Python worker for
    a scalar UDF and an Arrow (pandas) UDF."""
    from pyspark.sql import functions as F

    spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    spark.range(8).select(F.udf(lambda x: x + 1, "long")("id")).collect()

    def plus(it):
        for pdf in it:
            yield pdf.assign(id=pdf.id + 1)
    spark.range(8).mapInPandas(plus, "id long").collect()


class Session:
    """The program's SparkSession, set up ``reps`` times in one process
    (the first set-up launches the JVM; later ones stop the
    SparkContext and build a new one in the same JVM). Each set-up is
    timed as get_spark + shipping the package to the Python workers
    (``start_s``), the warm-up (``warm_s``) and the workload's own
    starting-state build (``state_s``). The last session stays up."""

    def __init__(self, ws: Workspace, tracer: Tracer):
        self.ws = ws
        self.tracer = tracer
        self.spark = None
        self.reps: list[dict] = []
        self.event_log = os.path.join(ws.dir, "eventlog")
        self.jvm_pid = None

    def _conf(self) -> dict | None:
        if not self.tracer.enabled:
            return None
        os.makedirs(self.event_log, exist_ok=True)
        return {"spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + self.event_log}

    def setup(self, reps: int, build_state) -> object:
        """Set up ``reps`` times; ``build_state(spark)`` builds the
        workload's starting state and returns it. Returns the last
        state."""
        from gcp_data_engineering_workshop_spark.session import get_spark
        from gcp_data_engineering_workshop_spark.sources.txlog import (
            _ship_package)
        from pyspark import SparkContext

        state = None
        for i in range(reps):
            if self.spark is not None:
                self.spark.stop()
                if self.tracer.enabled:
                    # only the measured session's event log is parsed
                    shutil.rmtree(self.event_log, ignore_errors=True)
            t0 = time.perf_counter()
            spark = get_spark("perfbench", extra_conf=self._conf())
            _ship_package(spark)
            t1 = time.perf_counter()
            spark.sparkContext.setLogLevel("ERROR")
            warm_up(spark)
            t2 = time.perf_counter()
            self.spark = spark
            state = build_state(spark)
            t3 = time.perf_counter()
            now = time.time() - (t3 - t0)
            self.tracer.add("session", "start", now, now + (t1 - t0), rep=i)
            self.tracer.add("session", "warm", now + (t1 - t0), now + (t2 - t0), rep=i)
            self.reps.append({"start_s": t1 - t0, "warm_s": t2 - t1,
                              "state_s": t3 - t2, "total_s": t3 - t0})
            if self.jvm_pid is None:
                self.jvm_pid = SparkContext._gateway.proc.pid
        return state

    def setup_s(self) -> float:
        return median(r["total_s"] for r in self.reps)

    def peak_rss_mb(self) -> float:
        return vm_hwm_mb(os.getpid()) + (vm_hwm_mb(self.jvm_pid)
                                         if self.jvm_pid else 0.0)

    def close(self) -> None:
        """Stop Spark and the JVM, and wait until it has exited."""
        from pyspark import SparkContext
        if self.spark is not None:
            with contextlib.suppress(Exception):
                self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            with contextlib.suppress(Exception):
                gw.shutdown()
            if proc is not None:
                with contextlib.suppress(Exception):
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None
