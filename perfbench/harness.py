"""Shared machinery of the benchmark: the Spark session it measures, the
closed-loop timer, the Python-worker memory sampler, host facts and the
Spark event-log reader that turns a traced run into per-layer numbers.

Nothing here imports the engine at module import time, so ``run.py`` can
refuse to start in a directory that lacks it before any Spark code runs.
"""

from __future__ import annotations

import json
import os
import shlex
import statistics
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

# CPU count the session runs on: set explicitly (never a fallback such
# as the 32 of the frozen bench.py) and capped by the host.  Three task
# threads on a 4-vCPU host leave one vCPU to the driver, which plans
# every query, and to other load on the host: on the shared VM this was
# tuned on, a registry pass on local[4] was 15% faster when the host
# was quiet but 20% slower than on local[3] under 0.15 busy external
# cores.
CPUS = min(3, len(os.sched_getaffinity(0)))
DRIVER_MEM = "2g"


def fs_type(path: str) -> str:
    """File-system type of the mount holding ``path`` (tmpfs vs disk)."""
    path = os.path.realpath(path)
    best, kind = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt, typ = parts[1], parts[2]
            if path.startswith(mnt) and len(mnt) > len(best):
                best, kind = mnt, typ
    return kind


def configure_env(work: str, event_log_dir: str | None) -> None:
    """Environment for the JVM and the Python workers, set before the
    session starts: every scratch file (shuffle spill, JVM and Python
    temp files, the event log) lands under ``work``."""
    root = os.getcwd()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("SPARK_GRAFT_TMPFS", None)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    conf = ["spark.ui.showConsoleProgress=false",
            # no /tmp/hsperfdata_* files: stay inside the checkout
            "spark.driver.extraJavaOptions=-XX:-UsePerfData "
            f"-Djava.io.tmpdir={tmp}"]
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf += ["spark.eventLog.enabled=true",
                 "spark.eventLog.rolling.enabled=false",
                 "spark.eventLog.compress=false",
                 f"spark.eventLog.dir=file://{event_log_dir}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(c)}" for c in conf) + " pyspark-shell"


def start_session():
    from gpx2tiles_spark.session import get_spark

    spark = get_spark(app="perfbench", master=f"local[{CPUS}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def host_facts(spark, work: str) -> dict:
    import numpy
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "cpus_used": CPUS,
        "driver_heap": DRIVER_MEM,
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "numpy": numpy.__version__,
        "shuffle_partitions": int(spark.conf.get(
            "spark.sql.shuffle.partitions")),
        "spill_dir_fs": fs_type(os.path.join(work, "spark-local")),
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids[ppid].append(int(p))
    return kids


def _status(pid: int) -> dict[str, str]:
    out = {}
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                k, _, v = line.partition(":")
                out[k] = v.strip()
    except OSError:
        pass
    return out


def worker_peaks_mb() -> list[float]:
    """VmHWM (peak resident set) of every Python process below this one:
    the pyspark daemon and the Python workers it forks."""
    kids = _children()
    me = os.getpid()
    stack, peaks = list(kids.get(me, [])), []
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, []))
        st = _status(pid)
        if st.get("Name", "").startswith("python") and "VmHWM" in st:
            peaks.append(int(st["VmHWM"].split()[0]) / 1024.0)
    return peaks


class RssSampler:
    """Background sampler of the highest Python-worker peak RSS seen.
    Workers are reused across tasks, so the kernel's own high-water mark
    read every half second misses only workers that live shorter."""

    every = 0.5

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.every)

    def sample(self) -> None:
        self.peak_mb = max([self.peak_mb] + worker_peaks_mb())

    def start(self) -> "RssSampler":
        self._t.start()
        return self

    def stop(self) -> float:
        """Take a last sample, stop sampling and return the peak; later
        calls return the same peak without sampling."""
        if not self._stop.is_set():
            self._stop.set()
            self._t.join(timeout=5)
            self.sample()
        return self.peak_mb


@dataclass
class OpLog:
    """Closed-loop operation record: one entry per issued operation."""
    walls: list[float] = field(default_factory=list)
    cpu_s: list[float] = field(default_factory=list)
    external_cores: list[float] = field(default_factory=list)
    errors: list[tuple[int, str]] = field(default_factory=list)
    cached_after: list[int] = field(default_factory=list)

    def summary(self) -> dict:
        w = sorted(self.walls)
        return {
            "samples": len(w),
            "median_s": statistics.median(w) if w else None,
            "walls_s": self.walls,
            "cpu_s": self.cpu_s,
            "external_cores_median": (statistics.median(self.external_cores)
                                      if self.external_cores else None),
            "external_cores_max": max(self.external_cores, default=None),
            "cached_rdds_after": self.cached_after,
            "errors": [e for _, e in self.errors[:5]],
        }


def closed_loop(op, seconds: float, spark, min_ops: int = 1) -> OpLog:
    """Issue ``op(i)`` back to back, each after the previous returned,
    until ``seconds`` have passed and at least ``min_ops`` were issued.
    An op that raises is recorded and counts as attempted.

    Between operations, untimed, the count of persisted RDDs an op left
    behind is recorded and the session's cache is cleared: a user runs
    each render in a fresh process, so a repeated op must not read a
    cache the previous identical op leaked (it would time the sink
    alone)."""
    from bench_scaling import Interference

    log = OpLog()
    meter = Interference()
    t_end = time.perf_counter() + seconds
    i = 0
    while i < min_ops or time.perf_counter() < t_end:
        spark.catalog.clearCache()
        meter.start()
        t0 = time.perf_counter()
        try:
            op(i)
        except Exception as e:  # noqa: BLE001 — counted, run continues
            log.errors.append((i, f"{type(e).__name__}: {e}"[:300]))
        log.walls.append(time.perf_counter() - t0)
        external, ours = meter.stop()
        log.external_cores.append(external)
        log.cpu_s.append(ours)
        log.cached_after.append(
            len(spark.sparkContext._jsc.getPersistentRDDs()))
        i += 1
    spark.catalog.clearCache()
    return log


# ---------------------------------------------------------------------------
# Event log → per-layer numbers (traced runs only)
# ---------------------------------------------------------------------------

def _events(files: list[str]):
    for path in files:
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Aggregate the (stopped) application's event log per job group:
    jobs, the wall seconds during which at least one of the group's jobs
    ran (``jobs_wall_s``), tasks, task seconds, GC seconds, shuffle-write
    MB and spill MB."""
    files = sorted(os.path.join(d, f) for d, _, names in os.walk(log_dir)
                   for f in names if not f.startswith("."))
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(lambda: {
        "jobs": 0, "tasks": 0, "task_s": 0.0, "gc_s": 0.0,
        "shuffle_mb": 0.0, "spill_mb": 0.0})
    job_start: dict[int, tuple[str, float]] = {}
    spans: dict[str, list[tuple[float, float]]] = defaultdict(list)
    for ev in _events(files):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id") \
                or "_untagged"
            groups[g]["jobs"] += 1
            job_start[ev["Job ID"]] = (g, ev["Submission Time"])
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerStageSubmitted":
            # AQE submits shuffle map stages outside any job's stage
            # list; the stage's own properties carry the group
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if g:
                stage_group[ev["Stage Info"]["Stage ID"]] = g
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_start:
            g, t0 = job_start[ev["Job ID"]]
            spans[g].append((t0 / 1e3, ev["Completion Time"] / 1e3))
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            acc = groups[stage_group.get(ev["Stage ID"], "_untagged")]
            acc["tasks"] += 1
            acc["task_s"] += m.get("Executor Run Time", 0) / 1e3
            acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            acc["shuffle_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
            acc["spill_mb"] += (m.get("Disk Bytes Spilled", 0)
                                + m.get("Memory Bytes Spilled", 0)) / 2**20
    for g, acc in groups.items():
        acc["jobs_wall_s"], end = 0.0, float("-inf")
        for a, b in sorted(spans[g]):
            acc["jobs_wall_s"] += max(0.0, b - max(a, end))
            end = max(end, b)
    return {g: dict(v) for g, v in groups.items()}


def group_total(groups: dict[str, dict], names, key: str) -> float:
    return sum(groups.get(n, {}).get(key, 0.0) for n in names)
