"""Measurement plumbing shared by the workloads: the Spark session, spans,
Spark task counters read from outside the program, steadiness hygiene and
process memory.
"""

from __future__ import annotations

import contextlib
import gc
import json
import os
import statistics
import time


def build_spark(cores: int, local_dir: str):
    """The program's own session factory at ``local[cores]``, with only the
    benchmark's housekeeping on top: a small heap, scratch inside the work
    dir, no console progress bars, and enough job/stage retention for the
    status tracker to see every job of a run."""
    from apollo_service_spark.session import build_session

    os.makedirs(local_dir, exist_ok=True)
    spark = build_session(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": "2g",
            # a fixed-size heap: no heap resizing decisions to vary between
            # runs; no hsperfdata file, which the JVM would write to /tmp
            "spark.driver.extraJavaOptions": f"-Xms2g -XX:-UsePerfData -Djava.io.tmpdir={local_dir}",
            "spark.local.dir": local_dir,
            "spark.sql.warehouse.dir": os.path.join(local_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "40000",
            "spark.ui.retainedTasks": "200000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Tracer:
    """In-memory spans (name, start, end, parent, run id) recorded around
    the benchmark's own calls into the program; written out once, when the
    run ends. Disabled tracers record nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list = []
        self._stack: list = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "run": self.run_id,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_times(self) -> dict:
        """name → summed self time: each span's duration minus the time its
        direct children cover (children of one span never overlap here, the
        benchmark is single-threaded)."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class TaskCounters:
    """Jobs, stages, tasks and failed tasks per job group, read from
    ``SparkContext.statusTracker()`` after the calls ran (works with the UI
    disabled; retention is raised in :func:`build_spark`)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.groups: list = []

    def group(self, name: str) -> None:
        """Tag every job started from here on with job group ``name``."""
        self.sc.setJobGroup(name, name)
        self.groups.append(name)

    def read(self, names: list | None = None) -> dict:
        tracker = self.sc.statusTracker()
        jobs = stages = tasks = failed = 0
        for name in names if names is not None else self.groups:
            for job_id in tracker.getJobIdsForGroup(name):
                info = tracker.getJobInfo(job_id)
                if info is None:
                    continue
                jobs += 1
                for stage_id in info.stageIds:
                    st = tracker.getStageInfo(stage_id)
                    if st is None:
                        continue
                    stages += 1
                    tasks += st.numTasks
                    failed += st.numFailedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks, "failed_tasks": failed}


def quiesce() -> None:
    """Collect garbage in the driver Python and the JVM before a timed
    region, so a collection the previous region left behind is not charged
    to this one."""
    gc.collect()
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc._jvm.System.gc()


def loadavg() -> float:
    with open("/proc/loadavg", encoding="ascii") as f:
        return float(f.read().split()[0])


def cpu_jiffies() -> tuple:
    """(busy, steal) jiffies of all CPUs since boot, from /proc/stat. Steal
    is time the hypervisor ran another guest on this machine's CPUs."""
    with open("/proc/stat", encoding="ascii") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(pid: int) -> list:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/task/{p}/children", encoding="ascii") as f:
                kids = [int(k) for k in f.read().split()]
        except OSError:
            kids = []
        out.extend(kids)
        todo.extend(kids)
    return out


def peak_rss_mb(spark) -> float:
    """Summed VmHWM of the driver JVM and every Python worker it forked."""
    jvm_pid = int(spark.sparkContext._jvm.ProcessHandle.current().pid())
    pids = [jvm_pid, *descendants(jvm_pid)]
    return sum(_vm_hwm_kb(p) for p in pids) / 1024.0


def median(values: list) -> float:
    return float(statistics.median(values)) if values else 0.0


def wait_gone(pids: list, timeout: float) -> None:
    """Wait until every pid has exited (or is a zombie awaiting its reaper)."""
    deadline = time.monotonic() + timeout
    for pid in pids:
        while time.monotonic() < deadline:
            try:
                with open(f"/proc/{pid}/stat", encoding="ascii") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break
            except OSError:
                break
            time.sleep(0.05)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            with contextlib.suppress(OSError):
                total += os.path.getsize(os.path.join(root, name))
    return total
