"""Measurement helpers: process-tree CPU, JVM counters, the tail
percentile, and the traced run's spans and Spark event-log parser.

Spans are recorded from the benchmark's side of each layer boundary:
the benchmark wraps the engine's public entry points (``Catalog.table``,
``plans.materialized``) for the length of a traced run, and brackets
its own calls into ``QUERIES``, Catalyst planning, the noop sink and
``AcidTable``. Nothing here edits engine code. Each span also sets the
Spark job group ``<op>:<layer>`` so the event log attributes every job,
task and byte to the op and layer that started it.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time
from collections import defaultdict

_CLK_TCK = os.sysconf("SC_CLK_TCK")
MB = 1024.0 * 1024.0


# ------------------------------------------------------------------ #
# process tree CPU and start time                                     #
# ------------------------------------------------------------------ #

def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process exited between listdir and open
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def process_start_epoch() -> float:
    """Wall-clock time this process started, from ``/proc``."""
    with open("/proc/stat") as fh:
        btime = next(int(line.split()[1]) for line in fh
                     if line.startswith("btime "))
    start_ticks = int(_stat_fields(os.getpid())[19])
    return btime + start_ticks / _CLK_TCK


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, all CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _CLK_TCK


def _tree() -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields of this process and its live
    descendants (the JVM and its Python workers)."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                stats[int(name)] = fields
                children[int(fields[1])].append(int(name))
    out, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def tree_cpu_seconds() -> float:
    """User+system CPU of this process tree, including the reaped
    children each process waited for."""
    ticks = sum(int(x) for fields in _tree().values()
                for x in fields[11:15])  # utime stime cutime cstime
    return ticks / _CLK_TCK


def descendants() -> list[int]:
    return [pid for pid in _tree() if pid != os.getpid()]


def alive(pid: int) -> bool:
    """``pid`` exists and is not a zombie waiting to be reaped."""
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"


# ------------------------------------------------------------------ #
# JVM counters (local mode runs the executors in the same JVM)       #
# ------------------------------------------------------------------ #

class Jvm:
    def __init__(self, spark):
        self._mf = spark.sparkContext._jvm.java.lang.management \
            .ManagementFactory

    def jit_ms(self) -> float:
        return float(self._mf.getCompilationMXBean().getTotalCompilationTime())

    def gc_s(self) -> float:
        return sum(b.getCollectionTime()
                   for b in self._mf.getGarbageCollectorMXBeans()) / 1000.0

    def live_heap_mb(self) -> float:
        """Heap in use after full collections half a second apart,
        repeated until three readings in a row agree within half a
        megabyte. Each collection lets Spark's ContextCleaner drop the
        shuffles and broadcasts the previous one made unreachable, and
        that chain took up to four collections to reach the floor
        (readings of 144, 98, 95, then 74 MB); a fixed three stopped
        short of it in half the runs of one set. Python's collector
        runs first so py4j releases the JVM objects of dead Python
        proxies."""
        gc.collect()
        bean = self._mf.getMemoryMXBean()
        used: list[float] = []
        while len(used) < 20:
            bean.gc()
            used.append(bean.getHeapMemoryUsage().getUsed() / MB)
            if len(used) >= 3 and max(used[-3:]) - min(used[-3:]) < 0.5:
                break
            time.sleep(0.5)
        return min(used)


def storage_mb(spark) -> float:
    """Block-manager storage held by cached / checkpointed RDDs."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


# ------------------------------------------------------------------ #
# latency summaries                                                   #
# ------------------------------------------------------------------ #

def tail_pct(n: int) -> float:
    """The highest whole percentile with at least ten of ``n`` samples
    beyond it (the median when ``n`` < 20)."""
    return max(50.0, float(int(100.0 * (1.0 - 10.0 / n)))) if n else 50.0


# ------------------------------------------------------------------ #
# spans                                                               #
# ------------------------------------------------------------------ #

class Tracer:
    """In-memory spans plus the job-group bookkeeping of one run.

    A disabled tracer records nothing and touches no Spark property,
    so the untraced run pays one attribute check per boundary."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op = "-"
        self._sc = spark.sparkContext
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def span(self, name: str):
        return _Span(self, name)

    def _group(self, name: str | None) -> None:
        self._sc.setLocalProperty("spark.jobGroup.id", name)

    # -- wrapping the engine's public entry points --------------------

    def wrap(self, owner, attr: str, layer: str) -> None:
        """Replace ``owner.attr`` (and every module-level alias of the
        same function in the engine package) by a span-recording
        wrapper until :meth:`unwrap`."""
        orig = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(layer):
                return orig(*args, **kwargs)

        targets = [owner] + [
            mod for name, mod in list(sys.modules.items())
            if name.startswith("mini_sql_engine_spark") and mod is not owner
            and getattr(mod, attr, None) is orig]
        for target in targets:
            self._patched.append((target, attr, orig))
            setattr(target, attr, traced)

    def unwrap(self) -> None:
        for target, attr, orig in reversed(self._patched):
            setattr(target, attr, orig)
        self._patched.clear()

    # -- summaries ----------------------------------------------------

    def totals(self, ops: set[str] | None = None
               ) -> tuple[dict, dict, dict]:
        """(self seconds, total seconds, calls) per span name, over the
        spans of ``ops`` (default: all). A span's self time is its
        duration minus the part of it its child spans cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        self_s: dict[str, float] = defaultdict(float)
        total_s: dict[str, float] = defaultdict(float)
        calls: dict[str, int] = defaultdict(int)
        for i, s in enumerate(self.spans):
            if ops is not None and s["op"] not in ops:
                continue
            dur = s["end"] - s["start"]
            self_s[s["name"]] += dur - child[i]
            total_s[s["name"]] += dur
            calls[s["name"]] += 1
        return self_s, total_s, calls

    def dump(self, path: str) -> None:
        selfs, _, _ = self.totals()
        with open(path, "w") as fh:
            json.dump({"spans": self.spans,
                       "self_s": {k: round(v, 6) for k, v in selfs.items()}},
                      fh)


class _Span:
    __slots__ = ("t", "name", "idx", "prev_group")

    def __init__(self, tracer: Tracer, name: str):
        self.t, self.name = tracer, name

    def __enter__(self):
        t = self.t
        if not t.enabled:
            return self
        parent = t._stack[-1] if t._stack else None
        self.idx = len(t.spans)
        t.spans.append({"name": self.name, "op": t.op, "parent": parent,
                        "start": time.perf_counter(), "end": None})
        t._stack.append(self.idx)
        self.prev_group = t._sc.getLocalProperty("spark.jobGroup.id")
        t._group(f"{t.op}:{self.name}")
        return self

    def __exit__(self, *exc):
        t = self.t
        if not t.enabled:
            return False
        t.spans[self.idx]["end"] = time.perf_counter()
        t._stack.pop()
        t._group(self.prev_group)
        return False


# ------------------------------------------------------------------ #
# Spark event log                                                     #
# ------------------------------------------------------------------ #

TASK_FIELDS = ("jobs", "tasks", "executor_cpu_s", "shuffle_read_mb",
               "shuffle_write_mb", "spill_mb", "gc_s")


def parse_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group ``<op>:<layer>``: job and task counts, executor
    CPU, shuffle bytes, spill and task GC time, from the (stopped)
    application's event log."""
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1 or files[0].endswith(".inprogress"):
        raise RuntimeError(f"expected one finished event log in {log_dir}, "
                           f"found {files}")
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(TASK_FIELDS, 0.0))
    with open(os.path.join(log_dir, files[0])) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(
                    "spark.jobGroup.id") or "-:-"
                out[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", ()):
                    stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"), "-:-")
                m = ev.get("Task Metrics") or {}
                row = out[group]
                row["tasks"] += 1
                row["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                row["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                rd = m.get("Shuffle Read Metrics") or {}
                row["shuffle_read_mb"] += (rd.get("Remote Bytes Read", 0)
                                           + rd.get("Local Bytes Read", 0)) / MB
                wr = m.get("Shuffle Write Metrics") or {}
                row["shuffle_write_mb"] += wr.get("Shuffle Bytes Written",
                                                  0) / MB
                row["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                    + m.get("Disk Bytes Spilled", 0)) / MB
    return dict(out)
