"""Measurement from outside the engine: spans, Spark's status store,
process-tree memory and the in-process kernel probes.

Nothing here changes what the engine runs.  Spans wrap the calls the
benchmark makes into ``tslearn_spark``; job, stage and SQL-metric
figures are read back from Spark's status store after a traced round.
"""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager
from unittest import mock

import numpy as np


class Spans:
    """Spans kept in memory (name, start, end, parent) and written out
    by the caller at the end of the run.  Times are epoch seconds so
    they line up with Spark's job submission and completion times."""

    def __init__(self) -> None:
        self.rows: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        row = {"id": len(self.rows), "name": name, "start": time.time(),
               "end": None, "parent": self._stack[-1] if self._stack else None,
               **attrs}
        self.rows.append(row)
        self._stack.append(row["id"])
        try:
            yield row
        finally:
            self._stack.pop()
            row["end"] = time.time()

    def add(self, name: str, start: float, end: float, parent: int | None,
            **attrs) -> None:
        self.rows.append({"id": len(self.rows), "name": name, "start": start,
                          "end": end, "parent": parent, **attrs})


def union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "min": 60.0,
          "B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30}
_VALUE = re.compile(r"([-0-9.]+)\s*([A-Za-z]+)")

# Python-node SQL metrics -> per-layer name and unit scale (ms or bytes)
PY_METRICS = {
    "data sent to Python workers": ("arrow.bytes_sent", 1.0),
    "data returned from Python workers": ("arrow.bytes_returned", 1.0),
    "time to start Python workers": ("arrow.worker_start_ms", 1e3),
    "time to initialize Python workers": ("arrow.worker_init_ms", 1e3),
    "time to run Python workers": ("arrow.py_ms", 1e3),
}


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric: ``'0 ms'`` or ``'total (min, med,
    max ...)\\n1.4 s (...)'``.  Spark formats to about three significant
    digits, so these are not exact counts."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = _VALUE.match(line.strip())
    if not m:
        return 0.0
    return float(m.group(1)) * _UNITS.get(m.group(2), 1.0)


STORE_KEYS = ("spark.jobs", "spark.stages", "spark.tasks", "spark.run_ms",
              "spark.cpu_ms", "spark.shuffle_read_bytes",
              "spark.shuffle_write_bytes") + tuple(k for k, _ in PY_METRICS.values())


class StatusStore:
    """Reads jobs, stages and SQL executions of one job group from the
    status store of the running SparkContext."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._store = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._empty = jvm.java.util.ArrayList()
        self._quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self._seen_jobs: set[int] = set()
        self._groups: set[str] = set()
        self._n_exec = 0
        self._job_exec: dict[int, int] = {}

    def _java(self, seq):
        return self._conv.asJava(seq)

    def _scan_executions(self) -> None:
        n = self._sql.executionsCount()
        if n > self._n_exec:
            for e in self._java(self._sql.executionsList(self._n_exec, n - self._n_exec)):
                for jid in self._java(e.jobs()).keySet():
                    self._job_exec[int(jid)] = int(e.executionId())
            self._n_exec = n

    def mark_read(self) -> None:
        """Treat every job so far as read (set-up and untraced rounds)."""
        tracker = self.sc.statusTracker()
        self._seen_jobs.update(tracker.getJobIdsForGroup(None))
        self._seen_jobs.update(j for g in self._groups for j in tracker.getJobIdsForGroup(g))

    def read_window(self, group: str, lo: float, hi: float) -> dict:
        """Figures for the unread jobs of one op: those tagged ``group``
        plus untagged ones submitted in [lo, hi] epoch seconds (jobs
        started from the engine's own driver threads carry no group)."""
        tracker = self.sc.statusTracker()
        self._groups.add(group)
        tagged = set(tracker.getJobIdsForGroup(group)) - self._seen_jobs
        untagged = set(tracker.getJobIdsForGroup(None)) - self._seen_jobs
        self._seen_jobs |= tagged | untagged
        jids = sorted(tagged)
        for jid in sorted(untagged):
            sub = self._store.job(jid).submissionTime()
            if sub.isDefined() and lo - 1e-3 <= sub.get().getTime() / 1e3 <= hi:
                jids.append(jid)
        out = dict.fromkeys(STORE_KEYS, 0)
        out["spark.jobs"] = len(jids)
        out["job_spans"] = []
        stage_ids: set[int] = set()
        for jid in jids:
            job = self._store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out["job_spans"].append((sub.get().getTime() / 1e3,
                                         done.get().getTime() / 1e3))
            stage_ids.update(int(s) for s in self._java(job.stageIds()))
        for sid in sorted(stage_ids):
            for st in self._java(self._store.stageData(
                    sid, False, self._empty, False, self._quantiles)):
                if st.numCompleteTasks() == 0:
                    continue  # skipped: its output was reused
                out["spark.stages"] += 1
                out["spark.tasks"] += st.numCompleteTasks()
                out["spark.run_ms"] += st.executorRunTime()
                out["spark.cpu_ms"] += st.executorCpuTime() / 1e6
                out["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
                out["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
        self._scan_executions()
        for eid in sorted({self._job_exec[j] for j in jids if j in self._job_exec}):
            values = self._java(self._sql.executionMetrics(eid))
            seen: set[int] = set()
            for m in self._java(self._sql.execution(eid).get().metrics()):
                key = PY_METRICS.get(m.name())
                acc = int(m.accumulatorId())
                if key is None or acc in seen:
                    continue
                seen.add(acc)
                text = values.get(acc)
                if text is not None:
                    out[key[0]] += parse_sql_metric(text) * key[1]
        return out


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


def tree_pss_mb(root: int) -> float:
    """Proportional set size of ``root`` and all its descendants (the
    Python driver, the JVM it launched and the JVM's Python workers).
    Pages that forked workers share with their daemon are split among
    the sharers, so each resident page counts once."""
    total_kb = 0
    for pid in _tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total_kb / 1024


class RssSampler:
    """Peak process-tree memory (PSS) since ``peak_mb`` was last reset,
    sampled every ``interval`` seconds while ``armed``; a daemon thread
    stopped by ``close``.  One sample reads a dozen smaps_rollup files,
    about 10 ms of a core, so the interval stays well above that."""

    def __init__(self, interval: float = 0.25) -> None:
        self.peak_mb = 0.0
        self.armed = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, args=(interval,),
                                        daemon=True)
        self._thread.start()

    def _loop(self, interval: float) -> None:
        root = os.getpid()
        while not self._stop.wait(interval):
            if self.armed:
                self.peak_mb = max(self.peak_mb, tree_pss_mb(root))

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def median_time(fn, repeats: int = 3) -> float:
    """Median seconds of ``repeats`` calls to ``fn``."""
    out = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return float(np.median(out))


def kernel_probes(series: list[np.ndarray], seed: int, n_pairs: int = 400,
                  radius: int = 5) -> dict:
    """In-process, single-thread kernel timings on the workload's own
    series: the compiled and numpy banded DTW batchers (the numpy tier
    forced by hiding the compiled library from the dispatcher), the
    soft-DTW and GAK batchers and the top-k row selector."""
    from tslearn_spark import ckernel
    from tslearn_spark import kernels as K
    from tslearn_spark import topk

    rng = np.random.default_rng([seed, 9])
    ia = rng.integers(0, len(series), n_pairs)
    ib = rng.integers(0, len(series), n_pairs)
    a = [series[i] for i in ia]
    b = [series[i] for i in ib]
    us = 1e6 / n_pairs
    with mock.patch.object(ckernel, "lib_or_none", return_value=None):
        numpy_dtw = median_time(lambda: K.dtw_banded_batch_mixed(a, b, radius)) * us
    out = {
        "kernels.dtw_numpy_us_per_pair": numpy_dtw,
        "kernels.soft_dtw_us_per_pair":
            median_time(lambda: K.soft_dtw_batch_mixed(a, b, 1.0)) * us,
        "kernels.gak_us_per_pair":
            median_time(lambda: K.gak_batch_mixed(a, b, 1.0)) * us,
    }
    out["kernels.dtw_us_per_pair"] = (
        median_time(lambda: ckernel.dtw_batch(a, b, radius)) * us
        if ckernel.lib_or_none() is not None
        else out["kernels.dtw_numpy_us_per_pair"])
    scores = rng.random((200, 1000))
    ids = np.arange(1000)

    def rows():
        for row in scores:
            topk.topk_rows_tiebreak(row, ids, 5)
    out["topk.us_per_row"] = median_time(rows) * 1e6 / len(scores)
    return out


def band_cells(la: int, lb: int, radius: int) -> int:
    """DP cells of one DTW pair inside its Sakoe-Chiba band."""
    from tslearn_spark.kernels import sakoe_chiba_bounds

    lo, hi = sakoe_chiba_bounds(la, lb, radius)
    return int(np.sum(np.maximum(0, hi - lo + 1)))


def host_numpy_ms() -> float:
    """A fixed numpy job: drift control for the host, never a divisor."""
    m = np.random.default_rng(0).random((300, 300))
    return median_time(lambda: (np.linalg.svd(m), np.sort(m.ravel()))) * 1e3


def host_sql_ms(spark) -> float:
    """A fixed Spark SQL job: drift control for the JVM side."""
    df = spark.range(2_000_000).selectExpr("sum(hash(id)) AS h")
    return median_time(df.collect) * 1e3
