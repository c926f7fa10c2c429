"""Outside-in layer probes: timing wrappers on module functions, a
process-tree sampler, and a parser for Spark's own event log.

Nothing here touches the engine's code: wrappers replace module
attributes (before the query modules import them), the sampler reads
``/proc``, and the event log is the plain JSON-lines file Spark writes
when ``spark.eventLog.enabled`` is set.
"""

from __future__ import annotations

import functools
import gc
import inspect
import json
import os
import threading
import time
from collections import defaultdict


# --------------------------------------------------------------------------
# Timing wrappers
# --------------------------------------------------------------------------


class CallLog:
    """Per-module call counts and seconds. Only the outermost call into
    a module counts, so a public function calling another public
    function of the same module is not timed twice."""

    def __init__(self) -> None:
        self.calls: dict[str, int] = defaultdict(int)
        self.seconds: dict[str, float] = defaultdict(float)
        self.tables: list[str] = []  # catalog.load_table paths, in call order
        self._depth: dict[str, int] = defaultdict(int)

    def snapshot(self) -> tuple[dict, dict, int]:
        return dict(self.calls), dict(self.seconds), len(self.tables)

    def wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            if self._depth[layer]:
                return fn(*args, **kwargs)
            self._depth[layer] += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.seconds[layer] += time.perf_counter() - t0
                self.calls[layer] += 1
                self._depth[layer] -= 1

        return timed


def install_wrappers(log: CallLog) -> None:
    """Wrap ``catalog.load_table`` and every public function of the
    ``keyed``, ``dedup`` and ``similarity`` modules. Must run before
    ``queries.load_all()`` so the query modules import the wrapped
    names."""
    from hadoop_20_warehouse_fix_spark import catalog
    from hadoop_20_warehouse_fix_spark.operators import dedup, similarity
    from hadoop_20_warehouse_fix_spark.sources import keyed

    load_table = catalog.load_table

    def recording_load_table(spark, sf_dir, name):
        log.tables.append(f"{sf_dir}/{name}.parquet")
        return load_table(spark, sf_dir, name)

    catalog.load_table = log.wrap("catalog", functools.wraps(load_table)(recording_load_table))
    for layer, mod in (("keyed", keyed), ("dedup", dedup), ("similarity", similarity)):
        for name, fn in list(vars(mod).items()):
            if name.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != mod.__name__:
                continue
            setattr(mod, name, log.wrap(layer, fn))


# --------------------------------------------------------------------------
# /proc sampling
# --------------------------------------------------------------------------


def _proc_table() -> dict[int, tuple[int, int, int, str]]:
    """pid -> (ppid, cpu ticks incl. reaped children, rss pages, cmdline)."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                rest = fh.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{entry}/cmdline", "rb") as fh:
                cmd = fh.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        cpu = int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14])
        out[int(entry)] = (int(rest[1]), cpu, int(rest[21]), cmd)
    return out


def _tree(table: dict, root: int) -> set[int]:
    mine, grew = {root}, True
    while grew:
        grew = False
        for pid, (ppid, *_rest) in table.items():
            if ppid in mine and pid not in mine:
                mine.add(pid)
                grew = True
    return mine


def descendants() -> set[int]:
    """This process and every process below it."""
    return _tree(_proc_table(), os.getpid())


_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def py_worker_cpu_seconds() -> float:
    """CPU seconds of Spark's Python worker daemon and the workers it
    forked (reaped workers are in the daemon's child times)."""
    table = _proc_table()
    me = _tree(table, os.getpid())
    return sum(
        table[p][1] for p in me if "pyspark.daemon" in table[p][3] or "pyspark/daemon" in table[p][3]
    ) / _TICK


def retained_heap_mb(spark) -> float:
    """Driver JVM heap still in use after a full collection: what the
    session retains (cached blocks, leaked persisted frames), without
    the garbage-collector sizing noise of the process RSS."""
    jvm = spark.sparkContext._jvm
    gc.collect()  # drop Python-side proxies that pin JVM objects
    for _ in range(3):
        jvm.java.lang.System.gc()
        time.sleep(0.5)  # lets the ContextCleaner drop unreferenced broadcasts and shuffles
    jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


class TreeSampler(threading.Thread):
    """Samples the RSS of this process tree every ``interval`` seconds
    and keeps the peak."""

    def __init__(self, interval: float = 0.5) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_bytes = 0
        self._stop_evt = threading.Event()

    def sample(self) -> None:
        table = _proc_table()
        rss = sum(table[p][2] for p in _tree(table, os.getpid()) if p in table) * _PAGE
        self.peak_bytes = max(self.peak_bytes, rss)

    def run(self) -> None:
        while not self._stop_evt.wait(self.interval):
            try:
                self.sample()
            except (OSError, ValueError, IndexError):  # a process exiting mid-read
                pass

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()
        self.sample()


# --------------------------------------------------------------------------
# Event log
# --------------------------------------------------------------------------


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session conf for an uncompressed, single-file event log."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{log_dir}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def parse_event_log(log_dir: str) -> dict:
    """Jobs and per-stage task totals keyed by job group.

    Returns ``{"jobs": {job_id: {"group", "start", "end"}},
    "stages": {stage_id: {"group", "tasks", "run_s", ...}}}`` with
    times in epoch milliseconds for jobs."""
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    jobs: dict[int, dict] = {}
    stage_group: dict[int, str] = {}
    stages: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    for f in files:
        with open(os.path.join(log_dir, f)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    jobs[ev["Job ID"]] = {"group": group, "start": ev["Submission Time"], "end": None}
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    s = stages[ev["Stage ID"]]
                    run_ms = m.get("Executor Run Time", 0)
                    duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    s["tasks"] += 1
                    s["run_s"] += run_ms / 1e3
                    s["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    s["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    s["sched_delay_s"] += max(
                        0,
                        duration - run_ms - m.get("Executor Deserialize Time", 0)
                        - m.get("Result Serialization Time", 0),
                    ) / 1e3
                    s["input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / 2**20
                    sr = m.get("Shuffle Read Metrics") or {}
                    s["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / 2**20
                    s["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 2**20
                    s["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 2**20
    for sid, s in stages.items():
        s["group"] = stage_group.get(sid, "")
    return {"jobs": jobs, "stages": dict(stages)}


def covered_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total
