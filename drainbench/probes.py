"""Measurement from outside the engine: host canaries, memory, in-process
spans around the engine's public functions, Spark's status store, and the
counters the traced Python workers leave behind."""

from __future__ import annotations

import functools
import glob
import json
import os
import shutil
import threading
import time
import urllib.request
from contextlib import contextmanager

import numpy as np


# ----------------------------------------------------------------- host


def cpu_gflops(n: int = 384, reps: int = 3) -> float:
    """Best of a few single-threaded matmuls: a CPU-phase canary."""
    a = np.random.default_rng(7).random((n, n))
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        a @ a
        best = min(best, time.perf_counter() - t0)
    return 2 * n**3 / best / 1e9


def disk_mb_s(base: str, size_mb: int = 32) -> float:
    """Write + fsync ``size_mb`` in ``base``: a disk-phase canary."""
    path = os.path.join(base, ".disk_probe")
    blk = b"\xa5" * (1 << 20)
    t0 = time.perf_counter()
    fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o600)
    try:
        for _ in range(size_mb):
            os.write(fd, blk)
        os.fsync(fd)
    finally:
        os.close(fd)
        os.remove(path)
    return size_mb / (time.perf_counter() - t0)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


def descendants(root: int) -> list[int]:
    parent: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        parent.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in parent.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def running(pid: int) -> bool:
    """True while ``pid`` exists and has not exited (a zombie has)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace").strip()[:120]
    except OSError:
        return f"<pid {pid}>"


def _rss_kb(pid: int) -> int:
    """Resident set of ``pid`` from /proc/<pid>/status. PSS would split
    shared pages exactly, but reading it walks the page table (~50 ms for
    the JVM) under the lock the JVM's own mappings need."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


class MemSampler:
    """Peak over a region of the memory the Spark application holds,
    sampled every ``period_s`` on a thread: the JVM's live heap
    (``heap()``), the JVM's resident set outside its committed heap, and
    the summed resident sets of the Python processes the JVM forked (the
    daemon and its workers; pages a worker still shares with the daemon
    count in each). Only children running ``python_exe`` count: a child
    the JVM has just forked for a shell command shares its memory until it
    execs. ``at_peak`` keeps the parts of the peak sample, in bytes."""

    def __init__(self, jvm_pid: int, python_exe: str, heap, heap_committed: int,
                 period_s: float = 0.25):
        self.jvm_pid = jvm_pid
        self.python_exe = os.path.realpath(shutil.which(python_exe) or python_exe)
        self.heap = heap
        self.heap_committed = heap_committed
        self.period_s = period_s
        self.peak = 0
        self.at_peak: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self):
        py = [_rss_kb(p) * 1024 for p in descendants(self.jvm_pid)
              if _exe(p) == self.python_exe]
        parts = {"heap_live": self.heap(),
                 "jvm_native": max(_rss_kb(self.jvm_pid) * 1024 - self.heap_committed, 0),
                 "python": sum(py)}
        total = sum(parts.values())
        if total > self.peak:
            self.peak, self.at_peak = total, {**parts, "python_procs": py}

    def _run(self):
        while not self._stop.wait(self.period_s):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()


class JvmHeap:
    """The driver JVM's heap from its memory MXBeans. ``live`` is the heap
    each pool held after its last collection: what the program keeps,
    rather than the garbage the collector lets pile up before it runs."""

    def __init__(self, spark):
        self.mf = spark._jvm.java.lang.management.ManagementFactory
        self.pools = [p for p in self.mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"]

    def committed(self) -> int:
        return int(self.mf.getMemoryMXBean().getHeapMemoryUsage().getCommitted())

    def collect(self) -> None:
        self.mf.getMemoryMXBean().gc()

    def live(self) -> int:
        return sum(int(p.getCollectionUsage().getUsed()) for p in self.pools)


def scratch_mb(tmp: str) -> float:
    total = 0
    for top in glob.glob(os.path.join(tmp, "imagor_*")):
        for dirpath, _, files in os.walk(top):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(dirpath, f))
                except OSError:
                    pass
    return total / 1e6


def dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / 1e6


# ----------------------------------------------------- streaming progress


def progress_of(query) -> list[dict]:
    out = []
    for p in query.recentProgress:
        out.append(json.loads(p.json) if hasattr(p, "json") else dict(p))
    return out


def _epoch(ts: str) -> float:
    import datetime as dt

    return dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def executions(op: dict) -> int:
    """How many times one batch ran a stateful operator: progress sums
    over state-store instances, and each execution opens one instance per
    shuffle partition."""
    return max(1, int(op.get("numStateStoreInstances", 1))
               // max(1, int(op.get("numShufflePartitions", 1))))


def query_layers(progress: list[dict], t0: float, t1: float) -> dict:
    """Query-level time split of one drain from StreamingQuery progress."""
    d = {k: 0.0 for k in ("latestOffset", "getBatch", "queryPlanning",
                          "walCommit", "addBatch", "commitOffsets")}
    st = {"state_rows": 0, "state_mb": 0.0, "commit_s": 0.0, "executions": 0}
    for p in progress:
        for k in d:
            d[k] += p.get("durationMs", {}).get(k, 0) / 1000.0
        for o in p.get("stateOperators") or []:
            runs = executions(o)
            st["executions"] = max(st["executions"], runs)
            st["state_rows"] = int(o.get("numRowsTotal", 0)) // runs
            st["state_mb"] = max(st["state_mb"], o.get("memoryUsedBytes", 0) / 1e6)
            st["commit_s"] += o.get("commitTimeMs", 0) / 1000.0
    start = _epoch(progress[0]["timestamp"]) - t0 if progress else t1 - t0
    return {
        "drain_s": t1 - t0,
        "query_start_s": max(start, 0.0),
        "latest_offset_s": d["latestOffset"],
        "get_batch_s": d["getBatch"],
        "query_planning_s": d["queryPlanning"],
        "wal_commit_s": d["walCommit"],
        "add_batch_s": d["addBatch"],
        "commit_offsets_s": d["commitOffsets"],
        **st,
    }


# --------------------------------------------------------- status store


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


class StatusStore:
    """Completed stages from Spark's REST status API (traced runs enable
    the UI): ``(start, end)`` epoch seconds plus run time and bytes."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def stages(self) -> dict[tuple[int, int], dict]:
        with urllib.request.urlopen(f"{self.base}/stages?status=complete", timeout=30) as r:
            stages = json.load(r)
        out = {}
        for s in stages:
            if "submissionTime" not in s or "completionTime" not in s:
                continue
            out[(s["stageId"], s["attemptId"])] = {
                "start": _epoch(s["submissionTime"].replace("GMT", "+0000")),
                "end": _epoch(s["completionTime"].replace("GMT", "+0000")),
                "run_s": s.get("executorRunTime", 0) / 1000.0,
                "input": s.get("inputBytes", 0), "shuffle_write": s.get("shuffleWriteBytes", 0),
                "shuffle_read": s.get("shuffleReadBytes", 0),
            }
        return out


def split_data_write(windows: list[tuple[float, float]], stages: list[dict]) -> dict:
    """Split the payload-write spans of a drain by the stages that ran in
    them. A stage that scans input and writes shuffle is the map side of
    the dedup exchange; every other stage of the write runs downstream of
    it (dedup state, keying, singleflight, anti-join, transform, encode and
    the parquet write). Wall times are interval unions clipped to each
    span; what no stage covers is driver time (planning, job commit)."""
    out = {"exchange_s": 0.0, "render_s": 0.0, "exchange_run_s": 0.0, "render_run_s": 0.0,
           "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0}
    for w0, w1 in windows:
        ex, every = [], []
        for s in stages:
            if not w0 <= (s["start"] + s["end"]) / 2 <= w1:
                continue
            iv = (max(s["start"], w0), min(s["end"], w1))
            every.append(iv)
            if s["input"] > 0 and s["shuffle_write"] > 0:
                ex.append(iv)
                out["exchange_run_s"] += s["run_s"]
                out["shuffle_write_mb"] += s["shuffle_write"] / 1e6
            else:
                out["render_run_s"] += s["run_s"]
            out["shuffle_read_mb"] += s["shuffle_read"] / 1e6
        exchange = union_s(ex)
        out["exchange_s"] += exchange
        out["render_s"] += union_s(every) - exchange
    return out


# ------------------------------------------------- spans around engine calls


class Tracer:
    """Spans kept in memory: (name, start, end, parent index, drain)."""

    def __init__(self):
        self.spans: list[dict] = []
        self.drain: str | None = None
        self.root: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        # perf_counter -> epoch seconds, to line spans up with stage times
        self.epoch_offset = time.time() - time.perf_counter()

    @contextmanager
    def span(self, name: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else self.root
        rec = {"name": name, "t0": time.perf_counter(), "t1": None,
               "parent": parent, "drain": self.drain}
        with self._lock:
            self.spans.append(rec)
            idx = len(self.spans) - 1
        stack.append(idx)
        try:
            yield
        finally:
            rec["t1"] = time.perf_counter()
            stack.pop()

    @contextmanager
    def drain_span(self, name: str):
        self.drain = name
        with self.span("drain"):
            self.root = len(self.spans) - 1
            try:
                yield
            finally:
                self.root = None

    def wrap(self, owner, attr: str, name_of):
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*a, **k):
            with self.span(name_of(*a, **k)):
                return fn(*a, **k)

        setattr(owner, attr, wrapper)

    def install(self) -> None:
        """Wrap the engine's sink entry points and the parquet writer and
        reader."""
        from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

        from imagor_spark.streaming.pipeline import TransformingSink
        from imagor_spark.streaming.sink import IdempotentSink

        def writer_name(_self, path, *a, **k):
            p = str(path)
            if "/data/batch_id=" in p:
                return "sink.data_write"
            if "/rendered_keys/compact-" in p:
                return "sink.compaction_write"
            if any(s in p for s in ("/lineage/", "/metrics/", "/rendered_keys/")):
                return "sink.side_tables"
            return "parquet.other"

        def reader_name(_self, *paths, **k):
            if any("/data/batch_id=" in str(p) for p in paths):
                return "sink.data_reread"
            return "parquet.read"

        self.wrap(TransformingSink, "__call__", lambda *a, **k: "sink.add_batch")
        self.wrap(IdempotentSink, "read_rendered_keys", lambda *a, **k: "sink.rendered_keys_read")
        self.wrap(IdempotentSink, "compact_rendered_keys", lambda *a, **k: "sink.compaction")
        self.wrap(DataFrameWriter, "parquet", writer_name)
        self.wrap(DataFrameReader, "parquet", reader_name)

    def totals(self, drain: str) -> dict[str, float]:
        """Summed duration per span name within one drain, plus
        ``<name>.self``: the duration its child spans do not cover."""
        out: dict[str, float] = {}
        child: dict[int, float] = {}
        for s in self.spans:
            if s["drain"] == drain and s["t1"] is not None and s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["t1"] - s["t0"]
        for i, s in enumerate(self.spans):
            if s["drain"] == drain and s["t1"] is not None:
                d = s["t1"] - s["t0"]
                out[s["name"]] = out.get(s["name"], 0.0) + d
                out[s["name"] + ".self"] = out.get(s["name"] + ".self", 0.0) + d - child.get(i, 0.0)
        return out

    def windows(self, drain: str, name: str) -> list[tuple[float, float]]:
        """Epoch ``(start, end)`` of every span ``name`` within one drain."""
        return [(s["t0"] + self.epoch_offset, s["t1"] + self.epoch_offset)
                for s in self.spans
                if s["drain"] == drain and s["name"] == name and s["t1"] is not None]

    def plan_s(self, drain: str) -> float:
        """Time each ``sink.add_batch`` spends before its payload write
        starts (building the batch's plan), less the named calls in it."""
        total = 0.0
        for i, s in enumerate(self.spans):
            if s["drain"] != drain or s["name"] != "sink.add_batch" or s["t1"] is None:
                continue
            kids = [k for k in self.spans if k["parent"] == i and k["t1"] is not None]
            starts = [k["t0"] for k in kids if k["name"] == "sink.data_write"]
            if not starts:
                continue
            before = sum(k["t1"] - k["t0"] for k in kids if k["t1"] <= min(starts))
            total += min(starts) - s["t0"] - before
        return total

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def worker_stats(trace_dir: str) -> dict[str, list[float]]:
    """Sum of the per-process counters the traced workers write."""
    total: dict[str, list[float]] = {}
    for p in glob.glob(os.path.join(trace_dir, "w-*.json")):
        try:
            with open(p) as f:
                stats = json.load(f)
        except (OSError, ValueError):
            continue
        for k, v in stats.items():
            acc = total.setdefault(k, [0.0] * len(v))
            for i, x in enumerate(v):
                acc[i] += x
    return total


def stats_delta(a: dict, b: dict) -> dict[str, list[float]]:
    out = {}
    for k, v in b.items():
        prev = a.get(k, [0.0] * len(v))
        out[k] = [x - y for x, y in zip(v, prev)]
    return out
