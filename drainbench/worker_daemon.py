"""Python-worker daemon for traced runs (``spark.python.daemon.module``).

Before any worker forks it wraps the engine functions that run inside
workers with timers and counters, then hands over to PySpark's own
daemon. Each worker rewrites its cumulative counters to
``$DRAINBENCH_TRACE_DIR/w-<pid>.json`` after every task, so the benchmark
process can take per-drain deltas. Counter values are
``[calls, seconds, ...]``; task counters are ``[tasks, wall seconds, cpu
seconds, bytes in, bytes out]``, where CPU time leaves out the time a task
waits for the JVM to feed it.
"""

from __future__ import annotations

import functools
import json
import os
import time

STATS: dict[str, list[float]] = {}
_task = {"kind": "other"}
# eval types of the two UDF shapes the pipeline runs
_KINDS = {200: "kv", 205: "transform"}


def _add(name: str, seconds: float, n: float = 1) -> None:
    s = STATS.setdefault(name, [0.0, 0.0])
    s[0] += n
    s[1] += seconds


def _timed(owner, attr: str, name: str, per_task: bool = False) -> None:
    fn = getattr(owner, attr)

    @functools.wraps(fn)
    def wrapper(*a, **k):
        t0 = time.perf_counter()
        try:
            return fn(*a, **k)
        finally:
            _add(f"{name}.{_task['kind']}" if per_task else name, time.perf_counter() - t0)

    setattr(owner, attr, wrapper)


def _cache_get(fn):
    @functools.wraps(fn)
    def wrapper(self, key, default=None):
        hit = fn(self, key, default)
        s = STATS.setdefault("audio.decode_cache", [0.0, 0.0, 0.0])
        s[0] += 1
        s[2] += hit is not None
        return hit

    return wrapper


class _Counted:
    """File proxy counting the bytes a task reads or writes."""

    def __init__(self, f):
        self._f = f
        self.n = 0

    def read(self, *a):
        b = self._f.read(*a)
        self.n += len(b)
        return b

    def readinto(self, buf):
        k = self._f.readinto(buf)
        self.n += k or 0
        return k

    def readline(self, *a):
        b = self._f.readline(*a)
        self.n += len(b)
        return b

    def write(self, b):
        self.n += b.nbytes if isinstance(b, memoryview) else len(b)
        return self._f.write(b)

    def __getattr__(self, name):
        return getattr(self._f, name)


def _flush() -> None:
    path = os.path.join(os.environ["DRAINBENCH_TRACE_DIR"], f"w-{os.getpid()}.json")
    with open(path + ".tmp", "w") as f:
        json.dump(STATS, f)
    os.replace(path + ".tmp", path)


def install() -> None:
    import pyspark.daemon as daemon
    import pyspark.worker as worker

    from imagor_spark.audio import apply, codecs
    from imagor_spark.engine import transform
    from imagor_spark.imagorpath.signer import HMACSigner

    _timed(apply, "process", "audio.process")
    _timed(codecs, "decode", "audio.decode")
    _timed(codecs, "encode", "audio.encode")
    apply.DecodeCache.get = _cache_get(apply.DecodeCache.get)
    _timed(transform, "parse", "imagorpath.parse")
    _timed(HMACSigner, "sign", "imagorpath.sign")
    _timed(transform._OpsCache, "get", "engine.opscache", per_task=True)

    read_udfs = worker.read_udfs

    def read_udfs_kind(pickle_ser, infile, eval_type):
        _task["kind"] = _KINDS.get(eval_type, "other")
        return read_udfs(pickle_ser, infile, eval_type)

    worker.read_udfs = read_udfs_kind
    main = daemon.worker_main

    def counted_main(infile, outfile):
        cin, cout = _Counted(infile), _Counted(outfile)
        _task["kind"] = "other"
        t0, c0 = time.perf_counter(), time.process_time()
        try:
            return main(cin, cout)
        finally:
            s = STATS.setdefault(f"task.{_task['kind']}", [0.0] * 5)
            s[0] += 1
            s[1] += time.perf_counter() - t0
            s[2] += time.process_time() - c0
            s[3] += cin.n
            s[4] += cout.n
            _flush()

    daemon.worker_main = counted_main


if __name__ == "__main__":
    install()
    import pyspark.daemon

    pyspark.daemon.manager()
