"""Measurement from outside the program: spans with Spark job groups,
per-stage rows from Spark's status store, and a host sampler.

Nothing here reaches into the package; spans wrap calls into a
layer's public function, and stage counters come from the status
store that Spark keeps even with the UI off.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager

_STAGE_FIELDS = (
    "numTasks", "executorRunTime", "executorCpuTime", "jvmGcTime",
    "shuffleReadBytes", "shuffleWriteBytes", "memoryBytesSpilled",
    "diskBytesSpilled",
)


class Tracer:
    """In-memory spans. Each span runs its Spark jobs under its own job
    group, so the stage rows it caused can be attached to it later."""

    def __init__(self, sc, workload: str):
        self.sc = sc
        self.workload = workload
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans), "name": name, "workload": self.workload,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "group": f"perfbench-{len(self.spans)}-{name}",
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start_ms"] = time.time() * 1000.0
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["end_ms"] = time.time() * 1000.0
            self._stack.pop()
            if self._stack:
                outer = self._stack[-1]
                self.sc.setJobGroup(outer["group"], outer["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def attach_stages(self) -> None:
        """Give every span the status-store rows of the stages its own
        job group ran (children's stages stay with the children)."""
        rows = stage_rows(self.sc)
        tracker = self.sc.statusTracker()
        for rec in self.spans:
            ids = sorted({
                sid
                for jid in tracker.getJobIdsForGroup(rec["group"])
                for sid in (tracker.getJobInfo(jid).stageIds
                            if tracker.getJobInfo(jid) else [])
            })
            rec["stages"] = [rows[s] for s in ids if s in rows]

    def duration(self, name: str) -> float:
        """Summed wall seconds of every span with this name."""
        return sum(r["end"] - r["start"] for r in self.spans if r["name"] == name)

    def stages(self, *names: str) -> list[dict]:
        """Stage rows of the spans with these names, or of every span."""
        return [s for r in self.spans if not names or r["name"] in names
                for s in r.get("stages", [])]

    def stage_share(self, name: str) -> float:
        """Share of the wall time of the spans with this name during
        which at least one of their stages was running. The rest is
        driver-side work: planning, job submission, collecting."""
        busy = wall = 0.0
        for r in self.spans:
            if r["name"] != name:
                continue
            wall += r["end_ms"] - r["start_ms"]
            busy += covered_ms(
                [(s["submitted_ms"], s["completed_ms"]) for s in r.get("stages", [])],
                r["start_ms"], r["end_ms"],
            )
        return busy / wall if wall > 0 else 0.0


def covered_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of the intervals, clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def _epoch_ms(opt_date) -> float:
    return float(opt_date.get().getTime()) if opt_date.isDefined() else 0.0


def stage_rows(sc) -> dict[int, dict]:
    """Completed stage rows by stage id, read from the status store
    after the listener bus has drained."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jvm = sc._jvm
    listed = jsc.statusStore().stageList(
        jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    )
    out: dict[int, dict] = {}
    for i in range(listed.size()):
        s = listed.apply(i)
        if s.status().toString() != "COMPLETE":
            continue
        row = {"stage": s.stageId(), "attempt": s.attemptId(), "name": s.name(),
               "submitted_ms": _epoch_ms(s.submissionTime()),
               "completed_ms": _epoch_ms(s.completionTime())}
        row.update({f: getattr(s, f)() for f in _STAGE_FIELDS})
        out[row["stage"]] = row
    return out


def stage_totals(rows: list[dict]) -> dict[str, float]:
    return {
        "stages_single_task": sum(1 for r in rows if r["numTasks"] == 1),
        "gc_s": sum(r["jvmGcTime"] for r in rows) / 1000.0,
        "shuffle_bytes": sum(r["shuffleWriteBytes"] for r in rows),
        "spill_bytes": sum(r["memoryBytesSpilled"] + r["diskBytesSpilled"]
                           for r in rows),
    }


def old_gen_peak_mb(sc) -> float:
    """Peak use of the JVM's old-generation heap pool since start: the
    data the program kept alive long enough to be promoted. Unlike the
    young generation, which the collector fills to its own size, this
    part of the JVM's RSS follows the program."""
    pools = sc._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    return sum(
        p.getPeakUsage().getUsed()
        for p in (pools.get(i) for i in range(pools.size()))
        if "Old Gen" in p.getName()
    ) / 2**20


class TimedRecognizer:
    """Recognizer wrapper that adds each call's wall seconds to a Spark
    accumulator; runs inside the Python workers."""

    def __init__(self, recognize, acc):
        self.recognize = recognize
        self.acc = acc

    def __call__(self, media_ref):
        t0 = time.perf_counter()
        out = self.recognize(media_ref)
        self.acc.add(time.perf_counter() - t0)
        return out


def straggler_ratio(task_ms: list[float]) -> float:
    """Slowest task over the median task; 0 when no task ran."""
    if not task_ms:
        return 0.0
    med = statistics.median(task_ms)
    return max(task_ms) / med if med > 0 else 0.0


# --- host record ---------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")
_HZ = os.sysconf("SC_CLK_TCK")
_SAMPLE_PERIOD_S = 0.2


def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _tree_rss_and_jiffies(root: int) -> tuple[int, int, int]:
    """RSS of the JVM, RSS of every other process (this one and the
    Python workers), and CPU jiffies of the whole tree."""
    jvm = other = jiffies = 0
    for pid in _tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * _PAGE
            with open(f"/proc/{pid}/stat") as f:
                head, tail = f.read().rsplit(")", 1)
            fields = tail.split()
            jiffies += int(fields[11]) + int(fields[12])  # utime + stime
        except (OSError, IndexError, ValueError):
            continue
        if head.endswith("(java"):
            jvm += rss
        else:
            other += rss
    return jvm, other, jiffies


def _host_busy_jiffies() -> int:
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:9]]
    return sum(vals) - vals[3] - vals[4]  # all but idle and iowait


class HostSampler:
    """Records nproc and the 1-minute load at start and end, and while
    a timed window is open samples the RSS of this process tree (this
    process, the JVM, the Python workers), the JVM's and the Python
    processes' shares of it apart, and the cores that other processes
    kept busy. It only records; it never waits for a quiet host."""

    def __init__(self):
        self.root = os.getpid()
        self.record = {
            "nproc": len(os.sched_getaffinity(0)),
            "load1_start": os.getloadavg()[0],
        }
        self.peak_rss = self.peak_jvm_rss = self.peak_python_rss = 0
        self._open = threading.Event()
        self._stop = threading.Event()
        self._other_jiffies = 0
        self._window_s = 0.0
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.wait(_SAMPLE_PERIOD_S):
            if self._open.is_set():
                self._note(*_tree_rss_and_jiffies(self.root)[:2])

    def _note(self, jvm: int, other: int) -> None:
        self.peak_rss = max(self.peak_rss, jvm + other)
        self.peak_jvm_rss = max(self.peak_jvm_rss, jvm)
        self.peak_python_rss = max(self.peak_python_rss, other)

    @contextmanager
    def window(self):
        """Open the timed window around one timed pass."""
        host0 = _host_busy_jiffies()
        *_, tree0 = _tree_rss_and_jiffies(self.root)
        t0 = time.monotonic()
        self._open.set()
        try:
            yield
        finally:
            self._open.clear()
            jvm, other, tree1 = _tree_rss_and_jiffies(self.root)
            self._note(jvm, other)
            self._window_s += time.monotonic() - t0
            self._other_jiffies += max(
                0, (_host_busy_jiffies() - host0) - (tree1 - tree0)
            )

    def close(self) -> dict:
        self._stop.set()
        self._thread.join(timeout=5)
        self.record["load1_end"] = os.getloadavg()[0]
        self.record["other_busy_cores"] = (
            self._other_jiffies / _HZ / self._window_s if self._window_s else 0.0
        )
        self.record["peak_rss_mb"] = self.peak_rss / 2**20
        self.record["peak_jvm_rss_mb"] = self.peak_jvm_rss / 2**20
        self.record["peak_python_rss_mb"] = self.peak_python_rss / 2**20
        return self.record
