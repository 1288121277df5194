"""Session lifecycle, process memory, spans and Spark status-store readings.

Everything here observes the program from outside: the Spark session comes
from ``datafusion_pinot_spark.session.get_spark`` with deployment settings
only, memory is read from ``/proc``, and Spark's own metrics from its status
store after an action has finished.
"""

from __future__ import annotations

import json
import os
import re
import signal
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def driver_mem() -> str:
    """Driver heap sized to the host: a quarter of physical memory, capped
    at 4g (the tables here are tens of MB; ``get_spark``'s default of 48g
    exceeds small hosts)."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(4, total // (4 << 30)))}g"


def start_session(work: str, cpus: int):
    """A session from ``get_spark`` with deployment settings only: the core
    count, local and temporary directories under ``work``, a host-sized
    driver heap, and Python workers that import the checkout."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem()
    os.environ["TMPDIR"] = tmp
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(dict.fromkeys(paths))
    from datafusion_pinot_spark.session import get_spark
    from datafusion_pinot_spark.sources.pinot_datasource import PinotDataSource

    spark = get_spark(
        app_name="pinotbench",
        cpus=cpus,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # no hsperfdata file in the system /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    spark.dataSource.register(PinotDataSource)
    return spark


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, stack = [], [pid]
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process in MB; 0 once it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class WorkerPeak:
    """Largest VmHWM of any single Python process the JVM forked (scan,
    sink, merge and planning code runs there). Workers come and go, so it
    is sampled after every operation and the running maximum kept."""

    def __init__(self, jvm: int) -> None:
        self.jvm = jvm
        self.peak = 0.0

    def sample(self) -> None:
        for pid in descendants(self.jvm):
            if "pyspark" in _cmdline(pid):
                self.peak = max(self.peak, vm_hwm_mb(pid))


def stop_session(spark) -> None:
    """Stop the session, then the JVM and every Python worker it forked,
    and wait until each has ended."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    leftovers = descendants(proc.pid)
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        deadline = time.monotonic() + 30
        for pid in leftovers:
            while os.path.exists(f"/proc/{pid}") and _alive(pid):
                if time.monotonic() > deadline:
                    os.kill(pid, signal.SIGKILL)
                    deadline = time.monotonic() + 5
                time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# -- spans -------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, trace id, attributes),
    written as JSON lines when the run ends. Disabled, it records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._trace = 0

    def new_trace(self) -> int:
        self._trace += 1
        return self._trace

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "trace": self._trace,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield attrs
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def total(self, name: str, trace: "int | None" = None) -> float:
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and (trace is None or s["trace"] == trace)
        )

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")


# -- Spark status store ------------------------------------------------------

_DUR = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9}
_TOTAL_RE = re.compile(r"^\s*([0-9.,]+)\s*([a-zA-Z]+)?")


def _metric_total(text: str) -> "tuple[float, str]":
    """Total of a formatted SQL metric ("total (min, med, max ...)\\n12 ms
    (...)" or a bare "12 ms")."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _TOTAL_RE.match(line)
    if not m:
        return 0.0, ""
    return float(m.group(1).replace(",", "")), (m.group(2) or "")


class StatusReader:
    """Reads one action's jobs, stages and SQL metrics from the status
    store. Call ``begin`` before the action and ``end`` after it."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._n = 0

    def begin(self) -> str:
        self._n += 1
        group = f"pinotbench-{self._n}"
        self.sc.setJobGroup(group, group)
        self._exec0 = self.sql.executionsCount()
        return group

    def end(self, group: str, wall: float) -> dict:
        self.sc.setJobGroup(None, None)
        out = {
            "wall_s": wall,
            "job_s": 0.0,
            "scan_tasks": 0,
            "scan_task_s": 0.0,
            "shuffle_write_mb": 0.0,
            "codegen_s": 0.0,
            "agg_build_s": 0.0,
        }
        spans = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            job = self.store.job(jid)
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                spans.append(
                    (
                        job.submissionTime().get().getTime() / 1e3,
                        job.completionTime().get().getTime() / 1e3,
                    )
                )
            it = job.stageIds().iterator()
            while it.hasNext():
                try:
                    st = self.store.lastStageAttempt(it.next())
                except Exception:
                    continue
                if str(st.status()) != "COMPLETE":
                    continue
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
                if st.shuffleReadRecords() == 0:
                    out["scan_tasks"] += st.numTasks()
                    out["scan_task_s"] += st.executorRunTime() / 1e3
        # union of job intervals: jobs of one action can overlap
        spans.sort()
        covered, cur = 0.0, None
        for a, b in spans:
            if cur is None or a > cur[1]:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        if cur:
            covered += cur[1] - cur[0]
        out["job_s"] = covered
        n1 = self.sql.executionsCount()
        if n1 > self._exec0:
            execs = self.sql.executionsList(int(self._exec0), int(n1 - self._exec0))
            for i in range(execs.size()):
                self._sql_metrics(execs.apply(i).executionId(), out)
        return out

    def _sql_metrics(self, exec_id, out: dict) -> None:
        values = self.sql.executionMetrics(exec_id)
        nodes = self.sql.planGraph(exec_id).allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            name = node.name()
            metrics = node.metrics()
            for j in range(metrics.size()):
                m = metrics.apply(j)
                key = None
                if name.startswith("WholeStageCodegen") and m.name() == "duration":
                    key = "codegen_s"
                elif "Aggregate" in name and m.name() == "time in aggregation build":
                    key = "agg_build_s"
                if key is None:
                    continue
                text = values.get(m.accumulatorId())
                if text.isEmpty():
                    continue
                v, unit = _metric_total(text.get())
                out[key] += v * _DUR.get(unit, 1e-3)
