"""Measurement probes used by the benchmark runner.

- ``ProcMonitor``: samples ``/proc`` for the process tree (this process, its
  JVM and the JVM's Python workers) to record peak RSS, and guards against
  the stuck-executor regime: if an operation is in flight, the JVM gains no
  CPU time over a window and the whole box is idle, it cancels the Spark
  jobs so the run fails instead of hanging.
- ``host_calibration``: CO2 STL micro-benchmark plus a NumPy copy-bandwidth
  loop, recorded before and after a run so host drift is a number.
- ``SparkStatus``: stage metrics from the JVM status store (works with the
  UI off), totalled per job group after draining the listener bus.
- ``Tracer``: in-memory spans (name, start, end, parent, run id) with
  per-span counters, written out as JSON lines when the run ends.
"""
from __future__ import annotations

import json
import os
import statistics
import threading
import time
import uuid
from contextlib import contextmanager
from pathlib import Path

import numpy as np

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _rss_and_cpu(pid: int) -> tuple[int, float]:
    """(resident bytes, user+system CPU seconds) of one process; (0, 0) if gone."""
    try:
        with open(f"/proc/{pid}/statm") as f:
            rss = int(f.read().split()[1]) * _PAGE
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return rss, (int(fields[11]) + int(fields[12])) / _TICK
    except (OSError, IndexError, ValueError):
        return 0, 0.0


def _box_cpu() -> tuple[float, float]:
    """(idle jiffies, total jiffies) over all CPUs of the box."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return float(vals[3] + vals[4]), float(sum(vals))


SAMPLE_S = 0.2  # /proc sampling interval
STALL_WINDOW_S = 20.0  # JVM CPU gain of ~0 on an idle box for this long = stuck


class ProcMonitor:
    """Background sampler of the process tree rooted at this process."""

    def __init__(self) -> None:
        self.peak_rss = 0
        self.jvm_pid: int | None = None
        self.on_stall = None  # callable run when a stall is detected
        self.stalls = 0
        self._busy = False
        self._window: list[tuple[float, float, float, float]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="proc-monitor", daemon=True)

    def __enter__(self) -> "ProcMonitor":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def busy(self, flag: bool) -> None:
        """Mark an operation in flight (arms the stall guard) or finished."""
        self._busy = flag
        self._window.clear()

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.wait(SAMPLE_S):
            rss = 0
            jvm_cpu = 0.0
            for pid in process_tree(root):
                r, c = _rss_and_cpu(pid)
                rss += r
                if pid == self.jvm_pid:
                    jvm_cpu = c
            self.peak_rss = max(self.peak_rss, rss)
            if self._busy and self.jvm_pid is not None:
                self._check_stall(jvm_cpu)

    def _check_stall(self, jvm_cpu: float) -> None:
        now = time.monotonic()
        idle, total = _box_cpu()
        self._window.append((now, jvm_cpu, idle, total))
        while self._window and now - self._window[0][0] > STALL_WINDOW_S:
            self._window.pop(0)
        t0, c0, i0, tot0 = self._window[0]
        if now - t0 < STALL_WINDOW_S * 0.95 or total <= tot0:
            return
        box_idle = (idle - i0) / (total - tot0)
        if jvm_cpu - c0 < 0.05 and box_idle > 0.95:
            self.stalls += 1
            self._window.clear()
            if self.on_stall is not None:
                self.on_stall()


def host_calibration(co2_fixture: Path) -> dict[str, float]:
    """CO2 STL ms/iter (708 points, period 12, sw 35, non-robust) and NumPy
    copy bandwidth in GB/s (bytes read plus bytes written), each a median."""
    from stl_decomp_4j_spark.stl import build_stl_config, stl_decompose

    data = np.array(json.loads(co2_fixture.read_text())["data"])
    cfg = build_stl_config(len(data), 12, seasonal_width=35, robust=False)
    for _ in range(3):
        stl_decompose(data, cfg)
    times = []
    for _ in range(15):
        t = time.perf_counter()
        stl_decompose(data, cfg)
        times.append(time.perf_counter() - t)
    src = np.ones(4 << 20)  # 32 MiB
    dst = np.empty_like(src)
    np.copyto(dst, src)
    bw = []
    for _ in range(7):
        t = time.perf_counter()
        np.copyto(dst, src)
        bw.append(2 * src.nbytes / (time.perf_counter() - t) / 1e9)
    return {"calib_co2_ms": statistics.median(times) * 1e3,
            "membw_gbps": statistics.median(bw)}


class SparkStatus:
    """Job/stage metrics for one job group, read from the JVM status store."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._gw = self.sc._gateway

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    def totals(self, group: str) -> dict[str, float]:
        """Jobs, stages, tasks, task seconds and bytes of every completed
        stage of the jobs that ran under ``group``."""
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(None)
        stage_ids: set[int] = set()
        n_jobs = 0
        for i in range(jobs.size()):
            j = jobs.apply(i)
            g = j.jobGroup()
            if g.isDefined() and g.get() == group:
                n_jobs += 1
                ids = j.stageIds()
                stage_ids.update(ids.apply(k) for k in range(ids.size()))
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "task_s", "cpu_s", "input_bytes",
             "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
             "output_bytes", "output_records"), 0.0)
        out["jobs"] = float(n_jobs)
        if not stage_ids:
            return out
        complete = self._gw.jvm.java.util.ArrayList()
        complete.add(self._gw.jvm.org.apache.spark.status.api.v1.StageStatus.COMPLETE)
        stages = self._store.stageList(
            complete, False, False, self._gw.new_array(self._gw.jvm.double, 0),
            self._gw.jvm.java.util.ArrayList())
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() not in stage_ids:
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["task_s"] += s.executorRunTime() / 1e3
            out["cpu_s"] += s.executorCpuTime() / 1e9
            out["input_bytes"] += s.inputBytes()
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.diskBytesSpilled()
            out["output_bytes"] += s.outputBytes()
            out["output_records"] += s.outputRecords()
        return out


class Tracer:
    """Spans kept in memory; ``write`` dumps them as JSON lines."""

    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **counters):
        """Record a span around the block; yields its counters dict."""
        idx = len(self.spans)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None, "counters": counters}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield counters
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Span duration minus the part of it its child spans cover, summed
        per span name."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child[i]
        return out

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, "run_id": self.run_id, **s}) + "\n")
