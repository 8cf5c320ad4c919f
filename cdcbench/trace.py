"""Benchmark-side tracing: spans around public engine calls, py4j call
counts, Spark event-log attribution, and process-tree memory sampling.

Spans are recorded from the benchmark's own files only. Each span sets a
Spark job group, so the event log attributes every job, stage and task
the span caused back to it after the session stops.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Times spans; when ``enabled`` a span is also hooked: it tags its
    Spark jobs with the span's group, counts its py4j round-trips and lets
    the memory sampler run. The hooks are on only inside hooked spans, so
    an unhooked span of a traced run differs from an untraced one only by
    the session's event log. Disabled, a span only times its body (the
    untraced end-to-end measurement)."""

    def __init__(self, spark, enabled: bool, sampler: "MemorySampler"):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.sampler = sampler
        self._n_spans = 0
        self._py4j = 0
        self._client = self.sc._gateway._gateway_client
        self._send = self._client.send_command

    def _counting_send(self, *args, **kwargs):
        self._py4j += 1
        return self._send(*args, **kwargs)

    @contextmanager
    def span(self, layer: str, hooks: bool = True):
        """Time the body as one ``layer`` span. ``hooks=False`` keeps a
        traced run's span unhooked, to measure the tracing overhead."""
        rec = {"layer": layer, "hooked": self.enabled and hooks, "py4j_calls": 0}
        self._n_spans += 1
        group = f"{layer}#{self._n_spans}"
        if rec["hooked"]:
            rec["group"] = group
            self.sc.setJobGroup(group, layer)
            # installed after the group call: that call is the tracer's own
            self._client.send_command = self._counting_send
            self.sampler.resume()
        calls0 = self._py4j
        cpu0 = time.thread_time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["driver_cpu_s"] = time.thread_time() - cpu0
            if rec["hooked"]:
                self._client.send_command = self._send
                self.sampler.pause()
                rec["py4j_calls"] = self._py4j - calls0
                self.sc._jsc.clearJobGroup()


def _intervals_covered(intervals) -> float:
    """Total length of the union of [a, b) intervals."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def event_log_by_group(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, summed task metrics, and the
    wall time covered by the group's jobs. Read after the session stops
    (the log is complete only then)."""
    # Spark 4 writes a rolling log: eventlog_v2_<app>/events_<n>_<app>
    files = sorted(
        glob.glob(os.path.join(log_dir, "*", "events_*")),
        key=lambda f: int(os.path.basename(f).split("_")[1]),
    )
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_span: dict[int, list[float]] = {}
    out: dict[str, dict] = {}

    def g(name: str) -> dict:
        return out.setdefault(name, {
            "jobs": 0, "stages": 0, "tasks": 0, "task_busy_s": 0.0,
            "gc_s": 0.0, "spill_bytes": 0, "input_bytes": 0,
            "output_bytes": 0, "shuffle_write_bytes": 0,
            "python_bytes": 0, "job_intervals": [],
        })

    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if grp is None:
                        continue
                    jid = ev["Job ID"]
                    job_group[jid] = grp
                    job_span[jid] = [ev["Submission Time"] / 1000.0, None]
                    g(grp)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, grp)
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_span:
                        job_span[jid][1] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    grp = stage_group.get(info["Stage ID"])
                    if grp is None:
                        continue
                    rec = g(grp)
                    rec["stages"] += 1
                    for acc in info.get("Accumulables", []):
                        if acc.get("Name") in (
                            "data sent to Python workers",
                            "data returned from Python workers",
                        ):
                            rec["python_bytes"] += int(float(acc.get("Value") or 0))
                elif kind == "SparkListenerTaskEnd":
                    grp = stage_group.get(ev["Stage ID"])
                    tm = ev.get("Task Metrics")
                    if grp is None or not tm:
                        continue
                    rec = g(grp)
                    rec["tasks"] += 1
                    rec["task_busy_s"] += tm.get("Executor Run Time", 0) / 1000.0
                    rec["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
                    rec["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                    rec["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                    rec["output_bytes"] += (tm.get("Output Metrics") or {}).get(
                        "Bytes Written", 0
                    )
                    rec["shuffle_write_bytes"] += (
                        tm.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
    for jid, (t0, t1) in job_span.items():
        if t1 is not None:
            g(job_group[jid])["job_intervals"].append((t0, t1))
    for rec in out.values():
        rec["jobs_covered_s"] = _intervals_covered(rec.pop("job_intervals"))
    return out


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(root, f)).st_size
            except FileNotFoundError:
                pass  # a task's temp file renamed away mid-walk
    return total


def dir_files(path: str, suffix: str) -> set[str]:
    return {
        os.path.join(root, f)
        for root, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(suffix)
    }


def on_tmpfs(path: str) -> bool:
    """True when ``path`` lives on a memory-backed mount, where Spark's
    local scratch counts against memory, not disk."""
    path = os.path.realpath(path)
    best, fstype = "", ""
    with open("/proc/mounts", encoding="utf-8") as fh:
        for line in fh:
            parts = line.split()
            mnt, typ = parts[1], parts[2]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) >= len(best):
                best, fstype = mnt, typ
    return fstype in ("tmpfs", "ramfs")


def cpu_ticks() -> tuple[int, int]:
    """The host's (steal, total) CPU ticks so far: the share of time the
    hypervisor gave this machine's CPUs to other guests."""
    with open("/proc/stat", encoding="utf-8") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def steal_share(ticks0: tuple[int, int], ticks1: tuple[int, int]) -> float:
    """The share of CPU time stolen between two ``cpu_ticks`` readings."""
    steal, total = (b - a for a, b in zip(ticks0, ticks1))
    return steal / max(total, 1)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="utf-8") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited between listdir and open
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: shared pages (the forked Python workers
    share their parent's) are split between the sharers, not counted
    once per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", encoding="utf-8") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass  # exited while being sampled
    return 0


def live_memory_bytes(spark, local_dir: str) -> int:
    """Memory the engine retains: the JVM's heap after a full GC plus
    its non-heap (metaspace, code cache), the PSS of the Python workers,
    and Spark-local scratch when it sits on tmpfs. Unlike a peak RSS it
    does not depend on when the collector chose to grow the heap."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    total = int(mx.getHeapMemoryUsage().getUsed()) + int(mx.getNonHeapMemoryUsage().getUsed())
    jvm_pid = spark.sparkContext._gateway.proc.pid
    total += sum(_pss_bytes(p) for p in descendants(jvm_pid))
    if on_tmpfs(local_dir):
        total += dir_bytes(local_dir)
    return total


class MemorySampler:
    """Samples, in a background thread, the memory (PSS) of every
    process this one started (the Spark JVM and its Python workers) plus
    the Spark-local scratch bytes when that directory is on tmpfs. The
    benchmark's own process is excluded: it holds the oracle frames.
    It samples only between ``resume`` and ``pause``."""

    def __init__(self, local_dir: str, interval_s: float = 0.25):
        self.local_dir = local_dir if on_tmpfs(local_dir) else None
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._active = threading.Event()
        self._thread = threading.Thread(target=self._run, name="memory-sampler", daemon=True)

    def sample(self) -> None:
        total = sum(_pss_bytes(p) for p in descendants(os.getpid()))
        if self.local_dir:
            total += dir_bytes(self.local_dir)
        self.peak_bytes = max(self.peak_bytes, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            if self._active.is_set():
                self.sample()

    def start(self) -> "MemorySampler":
        """Start the thread, paused."""
        self._thread.start()
        return self

    def resume(self) -> None:
        self._active.set()

    def pause(self) -> None:
        self._active.clear()

    def stop(self) -> None:
        """Idempotent; safe on a sampler whose thread never started."""
        if not self._thread.is_alive():
            return
        self._stop.set()
        self._thread.join(timeout=10)
        if self._thread.is_alive():
            raise RuntimeError("memory sampler did not stop")
