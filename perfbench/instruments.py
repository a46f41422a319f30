"""Measurement plumbing for the layered extraction benchmark.

Everything here observes the program from outside: wall clocks around
calls into the package, Spark's own status store (read through the
public JVM ``AppStatusStore``, attributed to layers with job groups),
the perf UDF profiler's dumps, ``/proc`` for memory and host context.
Nothing in ``pdf_extraction_spark`` is patched.
"""

from __future__ import annotations

import glob
import os
import pstats
import shutil
import tempfile
import threading
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


# ------------------------------------------------------------- sinks

def sink(df: DataFrame, **aggs) -> dict:
    """Run ``df`` to completion through the no-op sink; return its row
    count (``rows``) and any extra aggregates, all counted by
    ``observe()`` in the same job."""
    obs = Observation("sink")
    df.observe(obs, F.count(F.lit(1)).alias("rows"),
               *[e.alias(k) for k, e in aggs.items()]) \
        .write.format("noop").mode("overwrite").save()
    return obs.get


def sink_count(df: DataFrame) -> int:
    return int(sink(df)["rows"])


def materialize(df: DataFrame) -> DataFrame:
    """Persist ``df`` and compute it once (used outside timed spans)."""
    df = df.persist()
    df.count()
    return df


# -------------------------------------------------------- host context

def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class HostWindow:
    """nproc, loadavg and CPU steal over one measured window, so a slow
    run can be told apart from a contended host."""

    def __init__(self) -> None:
        self.t0 = _cpu_times()

    def close(self) -> dict:
        t1 = _cpu_times()
        d = [b - a for a, b in zip(self.t0, t1)]
        total = sum(d) or 1
        steal = d[7] if len(d) > 7 else 0
        return {"nproc": len(os.sched_getaffinity(0)),
                "loadavg": list(os.getloadavg()),
                "steal_ratio": steal / total,
                "busy_ratio": 1 - (d[3] + d[4]) / total}


# ------------------------------------------------- process-tree memory

def _tree_rss_bytes(root: int) -> int:
    children: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                raw = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        pid = int(raw[:raw.index(" ")])
        ppid = int(raw[raw.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(pid)
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
        todo.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the
    Spark JVM and its Python workers), sampled on a thread between
    ``start`` and ``stop``."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self._peak = 0
        self._lock = threading.Lock()
        self._active = threading.Event()
        self._closed = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        root = os.getpid()
        while not self._closed.wait(self.interval):
            if self._active.is_set():
                rss = _tree_rss_bytes(root)
                with self._lock:
                    self._peak = max(self._peak, rss)

    def start(self) -> None:
        with self._lock:
            self._peak = 0
        self._active.set()

    def stop(self) -> int:
        """End the window; return its peak in bytes."""
        self._active.clear()
        with self._lock:
            return self._peak

    def close(self) -> None:
        self._closed.set()
        self._thread.join(timeout=5)


# ------------------------------------------------------ stage counters

def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


class StageCounters:
    """Per-job-group totals from Spark's status store: shuffle bytes,
    spill, executor run/CPU/GC time and task durations."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()

    def group(self, name: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", name)

    def totals(self, group: str) -> dict:
        self.jsc.listenerBus().waitUntilEmpty()
        store = self.jsc.statusStore()
        stage_ids: set[int] = set()
        for job in _seq(store.jobsList(None)):
            g = job.jobGroup()
            if g.isDefined() and g.get() == group:
                stage_ids.update(_seq(job.stageIds()))
        none = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        out = {"shuffle_write": 0, "shuffle_read": 0, "spill": 0,
               "run_ms": 0, "cpu_ns": 0, "gc_ms": 0, "stages": 0,
               "shuffle_stages": 0, "task_ms": []}
        for st in _seq(store.stageList(None, False, False, none, None)):
            if st.stageId() not in stage_ids:
                continue
            out["stages"] += 1
            out["shuffle_write"] += st.shuffleWriteBytes()
            out["shuffle_read"] += st.shuffleReadBytes()
            out["shuffle_stages"] += st.shuffleWriteBytes() > 0
            out["spill"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["run_ms"] += st.executorRunTime()
            out["cpu_ns"] += st.executorCpuTime()
            out["gc_ms"] += st.jvmGcTime()
            for task in _seq(store.taskList(st.stageId(), st.attemptId(),
                                            100_000)):
                d = task.duration()
                if d.isDefined():
                    out["task_ms"].append(d.get())
        return out


# ------------------------------------------------------------- tracing

class Tracer:
    """Layer spans recorded from the benchmark's side of each call:
    name, start, end, parent.  Each span runs under its own Spark job
    group so stage counters attribute to it.  A ``profile`` span also
    runs under the perf UDF profiler and records each Python UDF's time
    by the package module that defines it.  Spans stay in memory until
    the run writes them out."""

    PROFILER = "spark.sql.pyspark.udf.profiler"

    def __init__(self, spark, scratch: str, chain: str) -> None:
        self.spark = spark
        self.chain = chain
        self.counters = StageCounters(spark)
        self.scratch = scratch
        self.spans: list[dict] = []
        self._stack: list[tuple[str, str]] = []
        self._n = 0
        self._t0 = time.monotonic()

    @contextmanager
    def span(self, name: str, profile: bool = False):
        self._n += 1
        group = f"trace-{self.chain}-{self._n}-{name}"
        parent, parent_group = self._stack[-1] if self._stack else (None,
                                                                     None)
        rec = {"name": name, "parent": parent, "group": group}
        if profile:
            self.spark.profile.clear(type="perf")
            self.spark.conf.set(self.PROFILER, "perf")
        self._stack.append((name, group))
        self.counters.group(group)
        start = time.monotonic()
        try:
            yield rec
        finally:
            end = time.monotonic()
            self._stack.pop()
            self.counters.group(parent_group)
            if profile:
                self.spark.conf.unset(self.PROFILER)
        rec["start"] = start - self._t0
        rec["end"] = end - self._t0
        rec["wall_s"] = end - start
        rec["stages"] = self.counters.totals(group)
        if profile:
            rec["py_s"] = self._python_by_module()
        self.spans.append(rec)

    def _python_by_module(self) -> dict[str, float]:
        """Total Python time of each profiled UDF, keyed by the file name
        of its outermost Python function (e.g. ``fused.py`` for the
        ``mapInArrow`` kernel of ``plans/fused.py``)."""
        out = tempfile.mkdtemp(dir=self.scratch)
        try:
            self.spark.profile.dump(out, type="perf")
            by_module: dict[str, float] = {}
            for path in glob.glob(os.path.join(out, "*.pstats")):
                st = pstats.Stats(path)
                own = [(ct, f) for (f, _, _), (_, _, _, ct, _)
                       in st.stats.items() if f != "~"]
                if own:
                    mod = max(own)[1]
                    by_module[mod] = by_module.get(mod, 0) + st.total_tt
            return by_module
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def records(self) -> list[dict]:
        """Spans for the trace file (stage totals without task lists)."""
        return [{k: v for k, v in r.items() if k != "group"}
                | {"stages": {k: v for k, v in r["stages"].items()
                              if k != "task_ms"}}
                for r in self.spans]
