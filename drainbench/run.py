"""Drain-level benchmark of the imagor-spark streaming engine.

    python3 drainbench/run.py --workload backlog_render --seed 1 --seconds 5 --trace 0

Run from the repository root. Each run starts one Spark session
(``local[2]``, 3 GB JVM heap, private temp and local dirs under
``drainbench/.runs/``, removed at exit), warms up with one drain of the
workload's own shape and size (after rendering the result cache, for
backfill_cached), then drains never-seen backlogs back to back until
``--seconds`` have passed (closed loop: one drain at a time). Every drain
goes through ``streaming.pipeline.run_pipeline``; every output is checked
outside the timed region (see ``oracle.py``).

Workloads:
  backlog_render   4000 fresh clips per drain, fresh checkpoint, empty
                   result cache: the render stages and the dedup exchange
                   do most of the work.
  backfill_cached  2000-row drains, ~90% of whose (clip, ops) keys are in
                   a result cache rendered in set-up; 10% are fresh clips.

The command runs the benchmark in a child process and stays behind as a
child subreaper: when the child exits, fails, overruns ``RUN_LIMIT_S`` or
the command gets a signal, it ends every process the run started and
waits for each, so nothing outlives the run.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``). A record of the run, with host
canaries and the traced spans, is written to ``drainbench/.out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("backlog_render", "backfill_cached")
# clips per drain (the warm-up drain, the timed drains and the cache render).
# backfill_cached drains are smaller because its set-up also renders the
# cache cold, and a run of either workload must stay near a minute
DRAIN_CLIPS = {"backlog_render": 4000, "backfill_cached": 2000}
FILE_SHARES = (0.6, 0.4)  # row shares of a drain's files, one micro-batch each
RESUB_SHARE = 0.9        # backfill: share of a drain re-submitted from the cache
MIN_DRAIN_S = 6.5        # fastest drain seen; sizes how many backlogs to pre-make
SNR_SAMPLE = 6           # committed ok rows re-rendered per timed drain
DRIVER_MEM = "3g"
MASTER = "local[2]"
# the named layers inside addBatch must explain its time to this share
UNATTRIBUTED_TOLERANCE = 0.20
RUN_LIMIT_S = 170  # a run must end within 180 s; the supervisor ends it here
GRACE_S = 10       # after the child exits, leftovers get this long to end
PR_SET_CHILD_SUBREAPER = 36


def log(*a) -> None:
    print("[drainbench]", *a, file=sys.stderr, flush=True)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # set by the supervisor: run the benchmark in this private tree and
    # write the result line to its result.json instead of stdout
    ap.add_argument("--run-dir", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def start_spark(run_dir: str, trace: bool):
    from imagor_spark.engine.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.driver.extraJavaOptions": (
            # heap committed and touched at start, so drains never pay
            # first-touch page faults and resident memory does not drift
            # with garbage-collector timing
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
            "-XX:+UseG1GC -Dio.netty.tryReflectionSetAccessible=true "
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"
        ),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if trace:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedJobs": "100000",
            "spark.python.daemon.module": "worker_daemon",
        })
    spark = get_spark(app_name="drainbench", master=MASTER, shuffle_partitions=2,
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Runner:
    def __init__(self, args, run_dir: str):
        self.args = args
        self.run_dir = run_dir
        self.trace = bool(args.trace)
        self.spark = None
        self.tracer = None
        self.status = None
        self.trace_dir = os.path.join(run_dir, "trace")
        self.records: list[dict] = []  # one per drain, in order

    def drain(self, d, out_dir: str, ckpt: str, cache_dir: str | None) -> dict:
        from imagor_spark.sources.clips import SECRET, watermark_assets
        from imagor_spark.streaming.pipeline import run_pipeline

        import probes

        rec = {"name": d.name, "n": d.n, "out_dir": out_dir}
        if self.trace:
            before_w = probes.worker_stats(self.trace_dir)
            before_s = self.status.stages()
        t0 = time.time()
        with self.tracer.drain_span(d.name) if self.trace else contextlib.nullcontext():
            q, _ = run_pipeline(self.spark, d.in_dir, out_dir, ckpt, secret=SECRET,
                                allow_unsafe=True, assets=watermark_assets(),
                                result_cache_dir=cache_dir, max_files_per_trigger=1)
        t1 = time.time()
        rec.update(t0=t0, t1=t1, wall_s=t1 - t0, progress=probes.progress_of(q))
        if self.trace:
            rec["workers"] = probes.stats_delta(before_w, probes.worker_stats(self.trace_dir))
            stages = [v for k, v in self.status.stages().items() if k not in before_s]
            rec["stages"] = probes.split_data_write(
                self.tracer.windows(d.name, "sink.data_write"), stages)
            rec["spans"] = self.tracer.totals(d.name)
            rec["plan_s"] = self.tracer.plan_s(d.name)
            rec["out_mb"] = probes.dir_mb(os.path.join(out_dir, "data"))
        self.records.append(rec)
        log(f"{d.name}: {d.n} clips in {rec['wall_s']:.2f} s")
        return rec

    def run(self, plan) -> dict:
        import probes

        wl = self.args.workload
        base = os.path.join(self.run_dir, "work")
        t_setup = time.time()
        self.spark = start_spark(self.run_dir, self.trace)
        if self.trace:
            self.tracer = probes.Tracer()
            self.tracer.install()
            self.status = probes.StatusStore(self.spark)
        cache_dir = None

        def dirs(name):
            return os.path.join(base, f"out_{name}"), os.path.join(base, f"ck_{name}")

        if wl == "backfill_cached":
            cache_dir, ck = dirs("cache")
            self.drain(plan.cache, cache_dir, ck, None)
        out, ck = dirs(plan.warm.name)
        self.drain(plan.warm, out, ck, cache_dir or out)
        setup_s = time.time() - t_setup

        from pyspark import SparkContext

        heap = probes.JvmHeap(self.spark)
        heap.collect()  # the timed region starts from the live set
        steal0, total0 = probes.cpu_ticks()
        timed = []
        t_start = time.time()
        # the heap is committed and touched at start, so the JVM's resident
        # set less the committed heap is its native and non-heap part
        with probes.MemSampler(SparkContext._gateway.proc.pid, os.environ["PYSPARK_PYTHON"],
                               heap.live, heap.committed()) as mem:
            for d in plan.timed:
                out, ck = dirs(d.name)
                timed.append(self.drain(d, out, ck, cache_dir or out))
                if time.time() - t_start >= self.args.seconds:
                    break
        steal1, total1 = probes.cpu_ticks()
        if len(timed) == len(plan.timed) and time.time() - t_start < self.args.seconds:
            log(f"all {len(timed)} pre-made backlogs drained before {self.args.seconds} s")
        return {
            "setup_s": setup_s,
            "timed": timed,
            "cache_dir": cache_dir,
            "peak_mem_mb": mem.peak / 1e6,
            "mem_mb": {k: [x / 1e6 for x in v] if isinstance(v, list) else v / 1e6
                       for k, v in mem.at_peak.items()},
            "steal_share": (steal1 - steal0) / max(total1 - total0, 1),
            "timed_s": time.time() - t_start,
        }


def verify(runner: Runner, plan, res: dict, checks) -> dict:
    """Oracle checks over every drain of the run (outside the timed region)."""
    import oracle
    from imagor_spark.sources.clips import watermark_assets

    checks.check(oracle.signer_matches_golden(), "oracle signer golden vector")
    by_name = {d.name: d for d in [plan.warm] + plan.timed + ([plan.cache] if plan.cache else [])}
    cached_keys = cache_result_keys = None
    if res["cache_dir"]:
        cache_rows = oracle.read_committed(res["cache_dir"], ["clip_id", "ops", "status", "result_key"])
        rendered = cache_rows[cache_rows["status"].isin(oracle.RENDERED)]
        cached_keys = set(rendered["ops"].map(oracle.key_path))
        cache_result_keys = set(rendered["result_key"])
    assets = watermark_assets()
    totals = {}
    timed_names = {r["name"] for r in res["timed"]}
    for rec in runner.records:
        d = by_name[rec["name"]]
        is_cache = d is plan.cache
        if is_cache:
            want = set(plan.cache.rows.loc[oracle.renderable_once(plan.cache), "clip_id"])
            got = oracle.read_committed(rec["out_dir"], ["clip_id", "status"])
            got_ok = set(got.loc[got["status"].isin(oracle.RENDERED), "clip_id"])
            checks.check(want <= got_ok, f"cache: {len(want - got_ok)} re-submittable rows missing")
        t = oracle.verify_drain(
            checks, d, rec["out_dir"], rec["progress"],
            None if is_cache else cached_keys,
            None if is_cache else cache_result_keys,
        )
        rec["outcomes"] = t
        if rec["name"] in timed_names:
            oracle.rerender_sample(checks, d, rec["out_dir"], SNR_SAMPLE,
                                   runner.args.seed * 1000 + len(totals), assets)
            for k, v in t.items():
                totals[k] = totals.get(k, 0) + v
    return totals


def e2e_metrics(res: dict, totals: dict) -> dict:
    wall = sum(r["wall_s"] for r in res["timed"])
    return {
        "clips_per_s": {"value": totals["accounted"] / wall, "unit": "clips/s"},
        "setup_s": {"value": res["setup_s"], "unit": "s"},
        "peak_mem_mb": {"value": res["peak_mem_mb"], "unit": "MB"},
    }


def layer_metrics(res: dict, plan, totals: dict, host: dict, checks) -> dict:
    import probes

    timed = res["timed"]
    n = len(timed)
    acc: dict[str, float] = {}

    def add(name, v):
        acc[name] = acc.get(name, 0.0) + v / n

    for r in timed:
        ql = probes.query_layers(r["progress"], r["t0"], r["t1"])
        for k in ("drain_s", "query_start_s", "latest_offset_s", "query_planning_s",
                  "wal_commit_s", "commit_offsets_s", "add_batch_s"):
            add(f"streaming.{k}", ql[k])
        st = r["stages"]
        add("streaming.dedup.shuffle_write_mb", st["shuffle_write_mb"])
        add("streaming.dedup.shuffle_read_mb", st["shuffle_read_mb"])
        add("streaming.dedup.exchange_s", st["exchange_s"])
        add("streaming.dedup.exchange_run_s", st["exchange_run_s"])
        add("engine.render_stages_s", st["render_s"])
        add("engine.render_stages_run_s", st["render_run_s"])
        add("streaming.dedup.state_rows", ql["state_rows"])
        add("streaming.dedup.executions_per_batch", ql["executions"])
        add("streaming.dedup.state_mb", ql["state_mb"])
        add("streaming.dedup.commit_s", ql["commit_s"])
        o = r["outcomes"]
        add("streaming.dedup.dropped_duplicates", o["dup"])
        add("streaming.dedup.late_dropped", o["late"])
        sp = r["spans"]
        add("streaming.sink.data_write_s", sp.get("sink.data_write", 0.0))
        add("streaming.sink.side_tables_s", sp.get("sink.side_tables", 0.0))
        add("streaming.sink.rendered_keys_read_s", sp.get("sink.rendered_keys_read", 0.0))
        add("streaming.sink.batch_self_s", sp.get("sink.add_batch.self", 0.0))
        add("streaming.sink.plan_s", r["plan_s"])
        add("streaming.sink.data_reread_s", sp.get("sink.data_reread", 0.0))
        add("streaming.sink.write_driver_s", sp.get("sink.data_write", 0.0) - st["exchange_s"] - st["render_s"])
        add("streaming.sink.out_mb", r["out_mb"])
        reached = o["hit"] + o["sf"] + o["committed"] + o["quarantined"]
        add("streaming.sink.cache_hit_ratio", o["hit"] / max(reached, 1))
        add("engine.singleflight_suppressed", o["sf"])
        w = r["workers"]
        kv = w.get("task.kv", [0.0] * 5)
        tr = w.get("task.transform", [0.0] * 5)
        add("engine.key_validity_s", kv[2])
        add("engine.key_validity_rows", w.get("engine.opscache.kv", [0, 0])[0])
        add("engine.transform.python_s", tr[2])
        add("engine.transform.to_python_mb", tr[3] / 1e6)
        add("engine.transform.from_python_mb", tr[4] / 1e6)
        proc = w.get("audio.process", [0, 0])
        dec = w.get("audio.decode", [0, 0])
        enc = w.get("audio.encode", [0, 0])
        dc = w.get("audio.decode_cache", [0, 0, 0])
        add("audio.process_calls", proc[0])
        add("audio.decode_s", dec[1])
        add("audio.encode_s", enc[1])
        add("audio.ops_s", max(proc[1] - dec[1] - enc[1], 0.0))
        add("audio.decode_cache_lookups", dc[0])
        add("audio.decode_cache_hit_ratio", dc[2] / max(dc[0], 1))
        add("imagorpath.parse_calls", w.get("imagorpath.parse", [0, 0])[0])
        add("imagorpath.parse_s", w.get("imagorpath.parse", [0, 0])[1])
        add("imagorpath.sign_s", w.get("imagorpath.sign", [0, 0])[1])
        # addBatch split into named layers: the stages of the payload write
        # (from the status store) and the sink's other calls (spans); what
        # they leave unexplained is driver time of the write and the sink
        parts = {"plan": r["plan_s"], "exchange": st["exchange_s"], "render": st["render_s"],
                 **{k: sp.get(f"sink.{k}", 0.0) for k in
                    ("rendered_keys_read", "data_reread", "side_tables", "compaction")}}
        named = sum(parts.values())
        r["add_batch_split"] = {**parts, "add_batch": ql["add_batch_s"]}
        un_add = ql["add_batch_s"] - named
        checks.check(abs(un_add) <= UNATTRIBUTED_TOLERANCE * ql["add_batch_s"],
                     f"{r['name']}: addBatch unexplained {un_add:.2f} s of {ql['add_batch_s']:.2f} s")
        add("trace.add_batch_unexplained_s", un_add)
        outside = (ql["query_start_s"] + ql["latest_offset_s"] + ql["get_batch_s"]
                   + ql["query_planning_s"] + ql["wal_commit_s"] + ql["commit_offsets_s"])
        add("trace.unattributed_s", ql["drain_s"] - outside - named)
    out = {k: {"value": v, "unit": _unit(k)} for k, v in acc.items()}
    out["engine.admission_quarantined"] = {"value": totals["admission"] / n, "unit": "count"}
    out["engine.scratch_left_mb"] = {"value": host["scratch_left_mb"], "unit": "MB"}
    out["load.gen_s"] = {"value": plan.gen_s, "unit": "s"}
    out["load.arrivals"] = {"value": sum(len(d.files) for d in plan.timed[:n]), "unit": "count"}
    out["host.cpu_gflops"] = {"value": host["cpu_gflops"], "unit": "GFLOP/s"}
    out["host.disk_mb_s"] = {"value": host["disk_mb_s"], "unit": "MB/s"}
    out["host.steal_share"] = {"value": res["steal_share"], "unit": "share"}
    out["trace.overhead_share"] = {"value": host["overhead_share"], "unit": "share"}
    return out


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_ratio"):
        return "share"
    return "count"


def untraced_history(workload: str) -> str:
    return os.path.join(HERE, ".out", f"untraced-{workload}.json")


def untraced_rates(workload: str) -> list[float]:
    """clips/s of earlier untraced runs of ``workload`` in this checkout."""
    try:
        with open(untraced_history(workload)) as f:
            return json.load(f)
    except (OSError, ValueError):
        return []


def overhead_share(workload: str, traced_rate: float) -> float:
    """1 - traced clips/s over the median untraced clips/s recorded by
    earlier runs in this checkout (0 when there are none yet)."""
    rates = untraced_rates(workload)
    return 1.0 - traced_rate / statistics.median(rates) if rates else 0.0


def stop_spark(spark) -> None:
    """Stop the session and end the JVM. The Python daemon and workers end
    when the JVM does; the supervisor waits for them."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def _reap() -> tuple[dict[int, int], bool]:
    """Reap every exited child: ({pid: exit code}, whether any child is left)."""
    done = {}
    while True:
        try:
            pid, status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return done, False
        if pid == 0:
            return done, True
        done[pid] = os.waitstatus_to_exitcode(status)


def supervise(args, argv: list[str]) -> int:
    """Run the benchmark in a child process and print its result line once
    every process of the run has ended. As a child subreaper this process
    inherits each orphaned descendant (the JVM, the Python daemon and
    workers, the input pool's resource tracker), so it can end and reap
    all of them: GRACE_S after the child exits, at RUN_LIMIT_S, or at a
    signal, whatever is still running is killed. The run's private tree
    is removed last, when nothing can write to it any more."""
    import ctypes
    import signal
    import subprocess

    import probes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        log("cannot become a child subreaper:", os.strerror(ctypes.get_errno()))
        return 1
    os.makedirs(os.path.join(HERE, ".runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=os.path.join(HERE, ".runs"))
    result = os.path.join(run_dir, "result.json")
    stopped: list[int] = []
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, lambda signum, _frame: stopped.append(signum))
    child = subprocess.Popen([sys.executable, os.path.abspath(__file__), *argv,
                              "--run-dir", run_dir])
    deadline = time.time() + RUN_LIMIT_S
    code = None
    kill_at = deadline
    try:
        while True:
            done, left = _reap()
            if child.pid in done:
                code = child.returncode = done[child.pid]
                kill_at = min(kill_at, time.time() + GRACE_S)
            if not left:
                break
            if stopped or time.time() >= kill_at:
                alive = [p for p in probes.descendants(os.getpid()) if probes.running(p)]
                if alive:
                    log(f"killing {len(alive)} leftover processes:",
                        sorted(probes.cmdline(p) for p in alive))
                for p in alive:
                    with contextlib.suppress(ProcessLookupError):
                        os.kill(p, signal.SIGKILL)
            time.sleep(0.1)
        if stopped:
            log(f"stopped by signal {stopped[0]}")
            return 1
        if code is None:
            log(f"run overran {RUN_LIMIT_S} s")
            return 1
        if code != 0 or not os.path.exists(result):
            return code or 1
        with open(result) as f:
            print(f.read().strip(), flush=True)
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "imagor_spark")):
        log("imagor_spark/ not found next to drainbench/: run from a full checkout")
        return 2
    if args.run_dir is None:
        return supervise(args, argv)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    os.makedirs(os.path.join(HERE, ".out"), exist_ok=True)
    run_dir = args.run_dir
    for sub in ("tmp", "spark-local", "trace"):
        os.makedirs(os.path.join(run_dir, sub))
    # private temp tree: the engine's caches and scratch dirs land here
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["DRAINBENCH_TRACE_DIR"] = os.path.join(run_dir, "trace")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # keep every JVM (the launcher too) from writing perf data under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData",
         f"-Djava.io.tmpdir={os.environ['TMPDIR']}"]).strip()

    import inputs
    import oracle
    import probes

    runner = None
    try:
        n_timed = max(1, math.ceil(args.seconds / MIN_DRAIN_S))
        plan = inputs.make_plan(args.workload, args.seed, os.path.join(run_dir, "gen"),
                                DRAIN_CLIPS[args.workload], FILE_SHARES, n_timed, RESUB_SHARE,
                                procs=min(4, os.cpu_count() or 1))
        log(f"inputs: {plan.gen_s:.1f} s")
        host = {"cpu_gflops": probes.cpu_gflops(),
                "disk_mb_s": probes.disk_mb_s(run_dir)}
        runner = Runner(args, run_dir)
        res = runner.run(plan)
        checks = oracle.Checks()
        totals = verify(runner, plan, res, checks)
        host["scratch_left_mb"] = probes.scratch_mb(os.environ["TMPDIR"])
        rate = totals["accounted"] / sum(r["wall_s"] for r in res["timed"])
        if args.trace:
            host["overhead_share"] = overhead_share(args.workload, rate)
            metrics = layer_metrics(res, plan, totals, host, checks)
            runner.tracer.dump(os.path.join(
                HERE, ".out", f"spans-{args.workload}-{args.seed}.json"))
        else:
            metrics = e2e_metrics(res, totals)
            with open(untraced_history(args.workload), "w") as f:
                json.dump((untraced_rates(args.workload) + [rate])[-50:], f)
        record = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "metrics": metrics, "host": host, "outcomes": totals,
            "timed_drains": len(res["timed"]), "timed_s": res["timed_s"], "mem_mb": res["mem_mb"],
            "drain_s": [r["wall_s"] for r in runner.records],
            "add_batch_split": [r.get("add_batch_split") for r in res["timed"]],
            "misses": checks.misses,
        }
        with open(os.path.join(HERE, ".out", f"run-{args.workload}-{args.seed}-{args.trace}.json"), "w") as f:
            json.dump(record, f, indent=1, default=str)
        log(json.dumps({k: record[k] for k in ("host", "outcomes", "timed_drains", "drain_s", "mem_mb", "misses")},
                       default=str))
    finally:
        if runner is not None and runner.spark is not None:
            stop_spark(runner.spark)
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump({"correct": checks.failed == 0, "attempted": checks.attempted,
                   "failed": checks.failed, "metrics": metrics}, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
