"""Storage sampling, spans and the Spark event-log roll-up for perfbench.

Spans are recorded by the benchmark around calls into the library's public
API; each span tags its jobs with ``setJobGroup(name)``, so the event log
attributes every job, stage and task back to the span that submitted it.
Spans are kept in memory and rolled up once the SparkContext has stopped and
the event log is complete.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

MB = 1024.0 * 1024.0

# Counters every full span reports (the short fusion spans keep a subset).
FULL_COUNTERS = [
    ("s", "s", "lower"),
    ("driver_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("tasks", "count", "lower"),
    ("task_s", "s", "lower"),
    ("busy_frac", "ratio", "higher"),
    ("fetch_wait_s", "s", "lower"),
    ("shuffle_write_mb", "MB", "lower"),
    ("spill_mb", "MB", "lower"),
    ("gc_s", "s", "lower"),
    ("python_s", "s", "lower"),
    ("python_start_s", "s", "lower"),
    ("task_skew", "ratio", "lower"),
    ("failed_tasks", "count", "lower"),
    ("peak_storage_mb", "MB", "lower"),
]
SHORT_COUNTERS = ["s", "iter_s", "jobs", "driver_s", "shuffle_write_mb", "python_s"]
ITER_COUNTERS = [("init_s", "s", "lower"), ("iter_s", "s", "lower")]


class StoragePoller:
    """Samples block-manager storage memory in use from a daemon thread.

    Local mode has a single block manager, so the memory manager's
    ``storageMemoryUsed`` is the figure ``getExecutorMemoryStatus`` reports
    as max minus remaining; it is a local call, cheap enough to poll. It
    counts broadcast blocks, which the ContextCleaner frees whenever the JVM
    collects garbage. ``rdd_bytes`` counts only RDD blocks (``cache()`` and
    ``localCheckpoint``, the blocks ``release_rdds`` frees); it asks the
    block-manager master, so it is sampled at the ends of a pass, not polled
    (polling it every 50 ms slowed an eight-model kg pass by a quarter).
    """

    def __init__(self, spark, interval_s: float = 0.05) -> None:
        self._jsc = spark.sparkContext._jsc.sc()
        self._mm = self._jsc.env().memoryManager()
        self._interval = interval_s
        self._samples: list[tuple[float, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="storage-poller", daemon=True)

    def sample(self) -> int:
        used = int(self._mm.storageMemoryUsed())
        self._samples.append((time.time(), used))
        return used

    def rdd_bytes(self) -> int:
        return sum(int(i.memSize()) + int(i.diskSize()) for i in self._jsc.getRDDStorageInfo())

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def peak(self, t0: float, t1: float) -> int:
        return max((u for t, u in self._samples if t0 <= t <= t1), default=0)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)
        self._samples.clear()


def steal_s() -> float:
    """CPU seconds, summed over this machine's CPUs, that the hypervisor gave
    to other guests (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _stat(stat: str) -> tuple[str, list[str]]:
    """(comm, fields after comm) of a /proc stat line."""
    return stat[stat.index("(") + 1:stat.rindex(")")], stat[stat.rindex(")") + 2:].split()


def program_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used by process ``root`` and every live
    process below it, children they have reaped included (the driver, its JVM
    and the JVM's Python workers), less the JVM's JIT compiler threads.

    JIT compilation is the drift in a young JVM: over eight curation passes
    at E=400 the compiler threads took 14.0, 7.7, 7.0, 5.9, 5.5, 4.9, 4.3 and 4.0 s
    while the rest took 12.4 s, then 5.0-6.4 s. The compiler threads must
    not exit (``-XX:-UseDynamicNumberOfCompilerThreads``), or their time
    would move into the rest. Read from /proc; time a hypervisor stole for
    other guests is not counted."""
    tick = os.sysconf("SC_CLK_TCK")
    children: dict[int, list[int]] = {}
    used: dict[int, float] = {}
    jvms = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                comm, fields = _stat(f.read())
        except OSError:  # exited since the listing
            continue
        pid = int(entry)
        children.setdefault(int(fields[1]), []).append(pid)
        # utime, stime, cutime, cstime
        used[pid] = sum(int(x) for x in fields[11:15]) / tick
        if comm == "java":
            jvms.append(pid)
    tree, todo = set(), [root]
    while todo:
        pid = todo.pop()
        tree.add(pid)
        todo += children.get(pid, [])
    total = sum(used.get(pid, 0.0) for pid in tree)
    for pid in tree.intersection(jvms):
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    comm, fields = _stat(f.read())
            except OSError:
                continue
            if "CompilerThre" in comm:  # "C1 CompilerThread0", cut to 15
                total -= (int(fields[11]) + int(fields[12])) / tick
    return total


@dataclass
class Span:
    name: str
    t0: float  # epoch seconds, same clock as the event log's millis
    t1: float
    peak_storage_mb: float
    extra: dict = field(default_factory=dict)

    @property
    def s(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Records spans; with ``enabled`` each span also tags its jobs with
    ``setJobGroup(name)``. Without it, spans are plain timers."""

    def __init__(self, spark, poller: StoragePoller, enabled: bool) -> None:
        self._sc = spark.sparkContext
        self._poller = poller
        self.enabled = enabled
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if self.enabled:
            self._sc.setJobGroup(name, name)
        base = self._poller.sample()
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            end = self._poller.sample()
            if self.enabled:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            peak = max(self._poller.peak(t0, t1), end)
            self.spans.append(Span(name, t0, t1, max(0, peak - base) / MB))


def _stage_python_ms(accumulables: list[dict], name: str) -> float:
    for acc in accumulables:
        if acc.get("Name") == name:
            return float(acc.get("Value") or 0)
    return 0.0


def rollup(event_dir: str, spans: list[Span], cores: int) -> dict[str, dict[str, float]]:
    """Per-span counters from the (uncompressed, unrolled) event log."""
    paths = glob.glob(os.path.join(event_dir, "*"))
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {paths}")
    job_group: dict[int, str] = {}
    job_window: dict[int, list[float]] = {}
    stage_job: dict[int, int] = {}
    stage_tasks: dict[int, list[dict]] = {}
    stage_python: dict[int, tuple[float, float]] = {}
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is None:
                    continue
                job_group[jid] = group
                job_window[jid] = [ev["Submission Time"] / 1000.0, None]
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_window:
                job_window[ev["Job ID"]][1] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                stage_tasks.setdefault(ev["Stage ID"], []).append(ev)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                accs = info.get("Accumulables") or []
                stage_python[info["Stage ID"]] = (
                    _stage_python_ms(accs, "time to run Python workers"),
                    _stage_python_ms(accs, "time to start Python workers"),
                )

    out: dict[str, dict[str, float]] = {}
    for sp in spans:
        jobs = [j for j, g in job_group.items() if g == sp.name]
        c = {k: 0.0 for k, _, _ in FULL_COUNTERS}
        c["tasks"] = c["failed_tasks"] = 0
        c["s"] = sp.s
        c["jobs"] = len(jobs)
        c["peak_storage_mb"] = sp.peak_storage_mb
        # driver time: span wall time not covered by any of its jobs
        windows = sorted(
            (max(a, sp.t0), min(b if b is not None else sp.t1, sp.t1))
            for a, b in (job_window[j] for j in jobs)
        )
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in windows:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        c["driver_s"] = max(0.0, sp.s - covered)
        jobset = set(jobs)
        worst_skew = 1.0 if jobs else 0.0
        for sid, tasks in stage_tasks.items():
            if stage_job.get(sid) not in jobset:
                continue
            c["tasks"] += len(tasks)
            run_ms = []
            for t in tasks:
                m = t.get("Task Metrics") or {}
                if (t.get("Task End Reason") or {}).get("Reason") != "Success":
                    c["failed_tasks"] += 1
                run_ms.append(float(m.get("Executor Run Time", 0)))
                c["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                c["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                c["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
                c["fetch_wait_s"] += (m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0) / 1000.0
                c["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / MB
            if len(run_ms) >= 2:
                worst_skew = max(worst_skew, max(run_ms) / max(statistics.median(run_ms), 1.0))
            run_py, start_py = stage_python.get(sid, (0.0, 0.0))
            c["python_s"] += run_py / 1000.0
            c["python_start_s"] += start_py / 1000.0
        c["task_skew"] = worst_skew
        c["busy_frac"] = c["task_s"] / (sp.s * cores) if sp.s > 0 else 0.0
        c.update(sp.extra)
        out[sp.name] = c
    return out
