"""Measurement machinery shared by the workloads: Spark session set-up and
teardown, the closed pass loop, spans, process-tree RSS sampling and the
Spark REST readers used by traced runs.  Nothing here is imported by the
package under test; every number is taken from outside it.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime

PAGE = os.sysconf("SC_PAGE_SIZE")


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def process_age() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start = int(f.read().rsplit(")", 1)[1].split()[19])  # since boot
    return (time.clock_gettime(time.CLOCK_BOOTTIME)
            - start / os.sysconf("SC_CLK_TCK"))


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


# -- spans ---------------------------------------------------------------

class Tracer:
    """In-memory spans (name, start, end, parent) recorded around calls
    into the package; written out once, when the run ends."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self.t0, "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0


# -- process-tree memory -------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int, kids: dict[int, list[int]] | None = None) -> list[int]:
    kids = _children_map() if kids is None else kids
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE
    except (OSError, IndexError, ValueError):
        return 0


def _pss(pid: int) -> int:
    """Proportional set size: pages shared with other processes (a forked
    worker's copy-on-write pages) count once across them."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


class RssSampler:
    """Peak resident memory of the driver JVM plus the Python workers it
    forks, sampled every `interval` s, in total and split into the two.
    The JVM is this process's java child, counted by RSS; the workers are
    the pyspark.daemon processes, counted by PSS so that pages forked
    workers share with their daemon count once.  Other short-lived children
    of the JVM (a vfork'd helper reports the JVM's whole RSS until it
    execs) are not counted."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = self.peak_jvm = self.peak_python = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            kids = _children_map()
            jvm = sum(_rss(p) for p in kids.get(me, ())
                      if _cmdline(p).split(" ", 1)[0].endswith("java"))
            python = sum(_pss(p) for p in descendants(me, kids)
                         if "pyspark.daemon" in _cmdline(p))
            self.peak = max(self.peak, jvm + python)
            self.peak_jvm = max(self.peak_jvm, jvm)
            self.peak_python = max(self.peak_python, python)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def _heap_pools(spark):
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return [p for p in mf.getMemoryPoolMXBeans()
            if str(p.getType()) == "Heap memory"]


def reset_heap_peak(spark) -> None:
    for p in _heap_pools(spark):
        p.resetPeakUsage()


def heap_peak(spark) -> int:
    """Bytes: the driver JVM's heap pools' peak use since reset_heap_peak,
    summed (the pools peak at different times, so this bounds it)."""
    return sum(p.getPeakUsage().getUsed() for p in _heap_pools(spark))


# -- Spark session -------------------------------------------------------

def spark_conf(work: str, ui: bool) -> dict[str, str]:
    """What the benchmark adds to get_spark's settings: everything Spark
    writes stays in `work`, and the UI (and its REST API) is on only for
    traced runs.  Memory, partitioning and the rest keep the package's
    defaults."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file in the system temp directory
        "spark.driver.extraJavaOptions": "-XX:-UsePerfData "
                                         f"-Djava.io.tmpdir={tmp} "
                                         f"-Dderby.system.home={tmp}",
        "spark.ui.enabled": "true" if ui else "false",
        "spark.ui.port": "0",  # any free port
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def start_session(work: str, ui: bool):
    """get_spark with its defaults; prepare_env in run.py has set
    SPARK_GRAFT_CPUS, from which it takes local[n] and the shuffle
    partitions."""
    from ifeatureomega_cli_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf=spark_conf(work, ui))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def spawn_workers(spark) -> None:
    """One Arrow UDF task per core, so every Python worker is forked (and
    has imported numpy/pyarrow) before anything is timed."""
    cores = spark.sparkContext.defaultParallelism
    (spark.range(cores * 64, numPartitions=cores)
     .mapInArrow(lambda it: it, "id long").write.mode("overwrite")
     .format("noop").save())


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM that pyspark launched, and wait for
    it (and the Python workers it forked) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # the gateway may already be closed
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.05)


# -- Spark REST metrics (traced runs) ------------------------------------

_NUM = re.compile(r"(-?[\d,]*\.?\d+)\s*(ms|s|m|h|B|KiB|MiB|GiB|TiB|PiB)?\b")
_SCALE = {None: 1.0, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30,
          "TiB": 2.0 ** 40, "PiB": 2.0 ** 50}


def metric_value(text: str) -> float:
    """A SQL-metric string as a number (durations in s, sizes in bytes).
    Task-level metrics read "total (min, med, max ...)\\n<total> (...)":
    the total is the first value on the second line."""
    line = text.split("\n")[1] if "\n" in text else text
    m = _NUM.search(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SCALE[m.group(2)]


class SparkRest:
    """Reader for the driver's REST API: SQL executions (per-node metrics),
    jobs (group and stage ids) and completed stages."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def mark(self) -> dict:
        """Highest ids seen so far; pass to `since` to get what ran after."""
        sql = self._get("/sql?details=false&length=100000")
        jobs = self._get("/jobs")
        return {"sql": max((e["id"] for e in sql), default=-1),
                "job": max((j["jobId"] for j in jobs), default=-1)}

    def since(self, mark: dict) -> dict:
        sql = [e for e in self._get(
            "/sql?details=true&planDescription=false&length=100000")
            if e["id"] > mark["sql"]]
        jobs = [j for j in self._get("/jobs") if j["jobId"] > mark["job"]]
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self._get("/stages?status=complete")
                  if s["stageId"] in stage_ids]
        for s in stages:
            s["skew"] = self._skew(s)
        return {"sql": sql, "jobs": jobs, "stages": stages}

    def _skew(self, stage: dict) -> float:
        if stage.get("numCompleteTasks", 0) < 4:
            return 0.0
        q = self._get(f"/stages/{stage['stageId']}/{stage['attemptId']}"
                      "/taskSummary?quantiles=0.5,1.0")
        med, mx = q["executorRunTime"]
        return mx / med if med > 0 else 0.0


def node_metric(sql: list[dict], node_prefix: str, name: str) -> float:
    return sum(metric_value(m["value"]) for e in sql for n in e["nodes"]
               if n["nodeName"].startswith(node_prefix)
               for m in n["metrics"] if m["name"] == name)


def engine_metrics(snap: dict) -> dict[str, float]:
    st = snap["stages"]
    busy = [s for s in st if s.get("executorRunTime", 0) >= 100]
    return {
        "spark.shuffle_bytes": float(sum(s["shuffleWriteBytes"] for s in st)),
        "spark.spill_bytes": float(sum(s["memoryBytesSpilled"]
                                       + s["diskBytesSpilled"] for s in st)),
        "spark.gc_s": sum(s["jvmGcTime"] for s in st) / 1000.0,
        "spark.task_skew": max((s["skew"] for s in busy), default=0.0),
        "scan.s": node_metric(snap["sql"], "Scan", "scan time"),
        "scan.bytes": node_metric(snap["sql"], "Scan", "size of files read"),
    }


def group_metrics(snap: dict, group: str) -> dict[str, float]:
    """Job count and shuffle bytes of the jobs tagged with `group`."""
    jobs = [j for j in snap["jobs"] if j.get("jobGroup") == group]
    ids = {s for j in jobs for s in j["stageIds"]}
    return {"jobs": float(len(jobs)),
            "shuffle_bytes": float(sum(s["shuffleWriteBytes"]
                                       for s in snap["stages"]
                                       if s["stageId"] in ids))}


def _rest_time(s: str) -> float:
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").timestamp()


def job_wall_s(snap: dict, group_prefix: str) -> float:
    """Wall seconds during which at least one job of a group starting with
    `group_prefix` ran (overlapping jobs count once)."""
    spans = sorted((_rest_time(j["submissionTime"]), _rest_time(j["completionTime"]))
                   for j in snap["jobs"]
                   if (j.get("jobGroup") or "").startswith(group_prefix)
                   and "submissionTime" in j and "completionTime" in j)
    total, end = 0.0, float("-inf")
    for a, b in spans:
        total += max(0.0, b - max(a, end))
        end = max(end, b)
    return total


@contextmanager
def job_group(spark, group: str):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
