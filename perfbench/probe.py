"""Measurement plumbing: Spark session start, resident memory, job-group
counts, executed-plan metric rollups and the span recorder.

Everything here observes the engine from the outside: spans wrap calls
into the engine's public functions, counts come from
``SparkContext.statusTracker()`` under one job group per span, and plan
metrics are read from a DataFrame's own ``QueryExecution``.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import os
import re
import subprocess
import tempfile
import threading
import time
import warnings

# SQL metric name -> (rollup name, scale to the rollup's unit)
PLAN_METRICS = {
    "pipelineTime": ("codegen.pipeline_s", 1e-3),
    "scanTime": ("scan.s", 1e-3),
    "filesSize": ("scan.bytes", 1),
    "shuffleBytesWritten": ("exchange.shuffle_bytes", 1),
    "shuffleWriteTime": ("exchange.shuffle_write_s", 1e-9),
    "aggTime": ("agg.s", 1e-3),
    "pythonBootTime": ("python.boot_s", 1e-3),
    "pythonInitTime": ("python.init_s", 1e-3),
    "pythonTotalTime": ("python.total_s", 1e-3),
    "pythonDataSent": ("python.bytes_sent", 1),
    "pythonDataReceived": ("python.bytes_received", 1),
    "pythonNumRowsReceived": ("python.rows_received", 1),
}
ROLLUPS = ("spark.jobs", "spark.stages", "spark.tasks",
           *(name for name, _ in PLAN_METRICS.values()))


def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 1]."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def start_spark(root: str, work: str, cpus: int):
    """Start the engine's session on ``local[cpus]`` with every scratch
    file (Spark local dirs, JVM and Python temp files) inside ``work``.
    Returns (spark, seconds spent in get_spark)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # the engine's applyInPandas functions carry no type hints yet
    warnings.filterwarnings(
        "ignore", message="Cannot infer the eval type from type hints")
    from gdal_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{cpus}]", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            f" -Xlog:gc:file={os.path.join(work, 'gc.log')}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def heap_peak_mb(spark) -> float:
    """Sum of the driver JVM's heap pools' peak use since start, in MB."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    pools = mf.getMemoryPoolMXBeans()
    used = 0
    for i in range(pools.size()):
        pool = pools.get(i)
        if pool.getType().toString() == "Heap memory":
            used += pool.getPeakUsage().getUsed()
    return used / 2**20


def gc_log_peaks(path: str) -> dict:
    """Largest heap left after a collection (the live set plus what was
    not yet collected) and largest committed heap, in MB, from the JVM's
    unified GC log."""
    after = committed = 0
    with contextlib.suppress(OSError), open(path, encoding="utf-8") as f:
        for m in re.finditer(r"(\d+)M->(\d+)M\((\d+)M\)", f.read()):
            after = max(after, int(m[2]))
            committed = max(committed, int(m[3]))
    return {"jvm.heap_after_gc_peak_mb": after,
            "jvm.heap_committed_peak_mb": committed}


def stop_spark(spark, timeout: float = 30.0) -> None:
    """Stop the session and the JVM, and wait for every child process."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout)
    deadline = time.monotonic() + timeout
    while _descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in _descendants(os.getpid()):
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, 9)


def _descendants(root: int) -> dict[int, int]:
    """pid -> parent pid of every process below ``root``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(b")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = {}, [root]
    while todo:
        parent = todo.pop()
        for c in children.get(parent, []):
            out[c] = parent
            todo.append(c)
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm", encoding="utf-8") as f:
            return f.read().strip()
    except OSError:
        return ""


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak of the summed resident memory of the driver JVM (a java child
    of this process) and the Python workers below it, sampled from /proc.
    A process the JVM is spawning still reports the JVM's pages until it
    execs, so only java processes that are direct children count."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_kb = 0
        self.peak_detail: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.interval):
            per = {p: _rss_kb(p) for p, parent in _descendants(me).items()
                   if _comm(p).startswith("python")
                   or (parent == me and _comm(p) == "java")}
            total = sum(per.values())
            if total > self.peak_kb:
                self.peak_kb = total
                self.peak_detail = per

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def job_counts(sc, group: str) -> dict:
    """Jobs, submitted stages and their tasks of one job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            sinfo = st.getStageInfo(s)
            if sinfo is not None:
                stages += 1
                tasks += sinfo.numTasks
    return {"spark.jobs": len(jobs), "spark.stages": stages,
            "spark.tasks": tasks}


def input_records(sc, group: str) -> int:
    """Rows read from data sources by the stages of one job group."""
    st = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    total = 0
    for j in st.getJobIdsForGroup(group):
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            with contextlib.suppress(Exception):  # evicted stage
                total += store.lastStageAttempt(s).inputRecords()
    return total


def plan_metrics(df) -> dict:
    """Roll up the SQL metrics of ``df``'s executed plan, descending into
    AQE query stages. Read it after the action and before any re-run."""
    out = dict.fromkeys((n for n, _ in PLAN_METRICS.values()), 0.0)
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "ReusedExchangeExec":
            continue  # its metrics belong to the exchange it reuses
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            hit = PLAN_METRICS.get(kv._1())
            if hit:
                out[hit[0]] += kv._2().value() * hit[1]
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            todo.append(node.plan())
        else:
            kids = node.children()
            todo.extend(kids.apply(i) for i in range(kids.size()))
    return out


def run_plan(df) -> None:
    """Execute ``df``'s full plan once: every column is computed (no
    Catalyst pruning, unlike count()) and the SQL metrics stay readable
    on ``df``'s own QueryExecution."""
    df._jdf.queryExecution().toRdd().count()


class Tracer:
    """Span recorder for a traced run. Spans stay in memory until
    ``dump``; each span runs under its own job group so its job, stage
    and task counts are read from the status tracker."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._open: list[dict] = []
        self.overhead_s = 0.0  # time spent reading counts and metrics

    @contextlib.contextmanager
    def bookkeeping(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t0

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        rec = {"name": name, "run": self.run_id, "id": len(self.spans),
               "parent": parent["id"] if parent else None}
        self.spans.append(rec)
        self._open.append(rec)
        group = f"{self.run_id}/{rec['id']}"
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            with self.bookkeeping():
                self.sc.setLocalProperty("spark.jobGroup.id", prev)
                self._open.pop()
                rec.update(job_counts(self.sc, group))
                rec["group"] = group

    def wrap(self, module: str, attr: str, sites=()) -> None:
        """Replace ``module.attr`` by a spanned wrapper, in ``module`` and
        in each module of ``sites`` that bound the name at import. Every
        caller that looks the name up at call time (a function-local
        import, an attribute access, a call inside ``module``) goes
        through it."""
        mod = importlib.import_module(module)
        fn = getattr(mod, attr)
        name = f"{module.rsplit('.', 1)[-1]}.{attr}"

        @functools.wraps(fn)
        def spanned(*a, **kw):
            with self.span(name) as rec:
                out = fn(*a, **kw)
                if isinstance(out, dict):
                    rec["result"] = out
                return out

        for m in (mod, *map(importlib.import_module, sites)):
            setattr(m, attr, spanned)

    def inclusive(self, rec: dict, key: str) -> int:
        """A count of ``rec`` plus all its descendant spans."""
        return rec[key] + sum(self.inclusive(c, key) for c in self.spans
                              if c["parent"] == rec["id"])

    def self_time(self, rec: dict) -> float:
        kids = sum(c["end"] - c["start"] for c in self.spans
                   if c["parent"] == rec["id"])
        return rec["end"] - rec["start"] - kids

    def totals(self, name: str, under: dict | None = None) -> dict:
        """Calls, seconds and inclusive jobs of every span named ``name``
        (below the span ``under``, if given) that is not nested inside
        another span of the same name."""
        by_id = {s["id"]: s for s in self.spans}

        def ancestors(s):
            p = s["parent"]
            while p is not None:
                yield by_id[p]
                p = by_id[p]["parent"]

        named = [s for s in self.spans if s["name"] == name and (
            under is None or any(a is under for a in ancestors(s)))]
        top = [s for s in named
               if not any(a["name"] == name for a in ancestors(s))]
        return {"calls": len(named),
                "s": sum(s["end"] - s["start"] for s in top),
                "jobs": sum(self.inclusive(s, "spark.jobs") for s in top)}

    def dump(self) -> list[dict]:
        return [dict(s, duration_s=s["end"] - s["start"],
                     self_s=self.self_time(s)) for s in self.spans]
