"""Session pinning, process-tree accounting, Spark counters and spans.

Everything here acts on this process and its descendants only: CPU and
high-water RSS come from /proc of the benchmark's own process tree, and
Spark counters come from the session's status tracker and status store.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from pathlib import Path

CLK_TCK = os.sysconf("SC_CLK_TCK")


class CheckFailed(Exception):
    """A program output differs from what the benchmark expects."""


def host_cores() -> int:
    """Cores this process may run on (the affinity mask, like ``nproc``
    without its OMP_NUM_THREADS override)."""
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """Explicit driver heap below physical memory: a quarter of it,
    capped at 4 GiB."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(4096, kb // 1024 // 4)}m"


def pin_environment(work: Path) -> None:
    """Point every scratch location of Spark and Python under ``work``.
    Must run before pyspark is imported."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYSPARK_PYTHON"] = os.environ.get("PYSPARK_PYTHON", "python3")
    import tempfile

    tempfile.tempdir = str(tmp)


def make_session(work: Path):
    """The engine's own session factory, pinned to this host."""
    from frontmatter_mcp_spark.session import get_spark

    cores = host_cores()
    java_tmp = f"-Djava.io.tmpdir={work / 'tmp'}"
    return get_spark(
        app_name="perfbench",
        cpus=cores,
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": driver_memory(),
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(work / "spark-local"),
            "spark.driver.extraJavaOptions": java_tmp,
            "spark.sql.warehouse.dir": str(work / "warehouse"),
        },
    )


# ---------------------------------------------------------------------------
# process tree: CPU seconds and high-water RSS
# ---------------------------------------------------------------------------
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _stat_cpu(pid: int) -> tuple[str, float]:
    """(command name, CPU seconds of the process and its reaped children)."""
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    name = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw.rsplit(")", 1)[1].split()
    ticks = sum(int(fields[i]) for i in (11, 12, 13, 14))  # utime stime cutime cstime
    return name, ticks / CLK_TCK


def _hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


class ProcTree:
    """CPU of this process, the JVM and the Python workers, read from /proc."""

    def __init__(self) -> None:
        self.root = os.getpid()

    def pids(self) -> list[int]:
        kids = _children()
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(kids.get(pid, []))
        return out

    def cpu(self) -> dict[str, float]:
        """CPU seconds split into driver Python, JVM and Python workers."""
        split = {"driver_py": 0.0, "jvm": 0.0, "pyworker": 0.0}
        for pid in self.pids():
            try:
                name, secs = _stat_cpu(pid)
            except OSError:
                continue  # exited between listing and reading
            if pid == self.root:
                split["driver_py"] += secs
            elif name == "java":
                split["jvm"] += secs
            else:
                split["pyworker"] += secs
        return split

    def peak_rss_mb(self) -> dict[str, float]:
        """High-water RSS of each live process, summed per part."""
        split = {"driver_py": 0.0, "jvm": 0.0, "pyworker": 0.0}
        for pid in self.pids():
            try:
                name, _ = _stat_cpu(pid)
                hwm = _hwm_mb(pid)
            except OSError:
                continue
            part = "driver_py" if pid == self.root else "jvm" if name == "java" else "pyworker"
            split[part] += hwm
        return split


def cpu_total(split: dict[str, float]) -> float:
    return sum(split.values())


def cpu_delta(a: dict[str, float], b: dict[str, float]) -> dict[str, float]:
    return {k: b[k] - a[k] for k in a}


# ---------------------------------------------------------------------------
# Spark counters per job group
# ---------------------------------------------------------------------------
SPARK_COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


def spark_counters(spark, group: str) -> dict[str, float]:
    """Jobs, stages, tasks and task metrics of every job in ``group``."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(SPARK_COUNTERS, 0.0)
    for job in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job)
        if info is None:
            continue
        out["jobs"] += 1
        for sid in info.stageIds:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — a skipped stage has no attempt
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_read_bytes"] += st.shuffleRemoteBytesRead() + st.shuffleLocalBytesRead()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out


def storage_bytes(spark) -> float:
    """Memory plus disk bytes of every RDD block currently stored."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return float(sum(i.memSize() + i.diskSize() for i in infos))


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------
class Tracer:
    """In-memory spans (name, start, end, parent, request id), written out
    at the end of the run. ``wrap`` replaces a module attribute with a
    timing wrapper, so the program's own calls through that attribute
    are recorded without any change to the program. While ``active`` is
    false the wrappers call straight through and record nothing."""

    def __init__(self) -> None:
        self.active = True
        self.spans: list[dict] = []
        self.request: str | None = None
        self._stack: list[int] = []
        self._restore: list[tuple[object, str, object]] = []

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, owner, attr: str, name: str) -> None:
        original = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            if not tracer.active:
                return original(*args, **kwargs)
            with tracer.span(name):
                return original(*args, **kwargs)

        self._restore.append((owner, attr, original))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        while self._restore:
            owner, attr, original = self._restore.pop()
            setattr(owner, attr, original)

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s}) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer, self.name = tracer, name

    def __enter__(self):
        t = self.tracer
        self.idx = len(t.spans)
        t.spans.append({
            "name": self.name,
            "request": t.request,
            "parent": t._stack[-1] if t._stack else None,
            "start": time.perf_counter(),
            "end": None,
        })
        t._stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        t = self.tracer
        t.spans[self.idx]["end"] = time.perf_counter()
        t._stack.pop()
        return False


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------
def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def process_age_s() -> float:
    """Seconds since this process started, from its /proc start time."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / CLK_TCK
