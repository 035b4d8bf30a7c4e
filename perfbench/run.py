"""The repository's benchmark.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One run generates the workload's inputs from ``--seed`` (under
``.perfbench/`` in the checkout), starts one Spark session through
``session.get_spark`` with the master and driver heap pinned below,
and runs one uncounted cold pass that collects every key's result and
checks it against its DuckDB oracle, then ``SETTLE_PASSES`` uncounted
passes while the JIT compiler catches up. It then runs timed passes for
``--seconds``, and at least three: a closed loop with one client, one
key at a time, each key's time being its builder call plus a final
action that writes every output column to Spark's ``noop`` format.
Every timed pass counts; the host's steal share during each pass is
recorded in the detail as a diagnostic only.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. A traced run
alternates untraced and traced passes and reports the difference of
their median pass times as the tracing overhead. The line before it is
the per-key and per-pass detail, which is also written to
``perfbench/results/`` so that it can be committed with the figures.

Timings use ``noop`` writes, not ``count()``, so they are not
comparable with the older ``bench.py`` results.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import dataclasses  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import datagen, procfs  # noqa: E402
from perfbench.check import mismatch, oracle_frame  # noqa: E402
from perfbench.workloads import WORKLOADS, Workload  # noqa: E402

PKG = "quickbooks_aws_etl_pipeline_spark"
MASTER = f"local[{len(os.sched_getaffinity(0))}]"
DRIVER_HEAP = "4g"
# The JVM starts with this much heap instead of 1/64 of the host's
# memory. Growing from that small default, the heap's size, and so the
# peak resident set, followed GC timing: on a 4-core 15 GB host the
# JVM's peak was 1.3-1.6 GB over five seeds of one workload, against
# 1.60-1.68 GB from a 1 GB start.
INITIAL_HEAP = "1g"
# Passes run after the cold one and before timing, counted in set-up.
# The JIT compiler is still busy through the first passes: on a 4-core
# host, compile time per pass of the curation workload fell from about
# 12 s to 4 s over the first four passes after the cold one, and the
# CPU time of the process tree per pass from about 17 s to 9 s. Passes
# timed during that catch-up made each run's median depend on how many
# passes fitted, which host contention changes.
SETTLE_PASSES = 2
KEY_TIMEOUT_S = 60.0
# no pass starts later than this after process start, so a run ends
# well inside three minutes even when the box is slow
LAST_PASS_START_S = 140.0

END_TO_END_UNITS = {
    "pass_s": "s", "key_geomean_s": "s", "cpu_s": "s",
    "peak_rss_mb": "MB", "setup_s": "s", "ops_ok_frac": "ratio",
}
OPERATOR_LAYERS = ["dedup", "similarity", "text", "graph", "retrieval",
                   "sketch", "sampling", "evaluation", "curation"]
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "plans.build_s": "s", "plans.build_jobs": "count",
    "plans.build_job_s": "s", "plans.driver_s": "s",
    "action.s": "s",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "scheduler.jobs": "count", "scheduler.jobs_spread": "count",
    "scheduler.stages": "count", "scheduler.tasks": "count",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "io.input_mb": "MB", "io.input_rows": "count", "io.read_table_s": "s",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB",
    "shuffle.fetch_wait_s": "s", "shuffle.spill_mb": "MB",
    "sinks.write_s": "s", "sinks.output_mb": "MB", "sinks.output_rows": "count",
    "streaming.batches": "count", "streaming.batch_ms": "ms",
    "streaming.state_rows": "count",
    "pyworker.sent_mb": "MB", "pyworker.received_mb": "MB",
    "pyworker.rows_received": "count", "pyworker.run_s": "s",
    "checkpoint.count": "count", "checkpoint.s": "s",
    **{f"operators.{m}.self_s": "s" for m in OPERATOR_LAYERS},
    "trace.overhead_s": "s",
}
MB = 1e6


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=None,
                   help="input scale factor instead of the workload's (smoke tests)")
    p.add_argument("--results", default=os.path.join(ROOT, "perfbench", "results"),
                   help="directory for the per-key detail and spans")
    return p.parse_args(argv)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


class Run:
    """One benchmark process: inputs, session, passes, teardown."""

    def __init__(self, wl: Workload, seed: int, traced: bool) -> None:
        self.wl, self.seed, self.traced = wl, seed, traced
        self.work = os.path.join(ROOT, ".perfbench", f"{wl.name}-{seed}-{os.getpid()}")
        self.data_dir = os.path.join(self.work, "data")
        self.spark = None
        self.tracer = None
        self.streams = None
        self.attempted = 0
        self.failures: dict[str, list[str]] = {}
        # largest sum, over the samples taken after each pass, of the
        # peak resident set of every process alive in the tree
        self.peak_rss_mb = 0.0

    # -- set-up --------------------------------------------------------
    def _isolate(self) -> None:
        """Keep every file Spark, the JVM and Python write inside the
        checkout, and let Python workers import the engine."""
        for sub in ("local", "tmp"):
            os.makedirs(os.path.join(self.work, sub), exist_ok=True)
        tmp = os.path.join(self.work, "tmp")
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    def setup(self) -> dict:
        os.chdir(ROOT)
        self._isolate()
        t = time.perf_counter()
        self.inputs = datagen.generate(self.data_dir, self.wl.sf, self.seed,
                                       shuffle=self.wl.shuffle)
        gen_s = time.perf_counter() - t
        if self.traced:
            from perfbench.tracing import StreamStats, Tracer
            self.tracer = Tracer()
            self.tracer.install()
        session = importlib.import_module(f"{PKG}.session")
        t = time.perf_counter()
        self.spark = session.get_spark(
            "perfbench", master=MASTER,
            extra_conf={"spark.driver.memory": DRIVER_HEAP,
                        "spark.driver.extraJavaOptions": f"-Xms{INITIAL_HEAP}"})
        start_s = time.perf_counter() - t
        self.sc = self.spark.sparkContext
        from perfbench.spark_status import SparkStatus
        self.status = SparkStatus(self.spark)
        if self.traced:
            self.streams = StreamStats()
            self.spark.streams.addListener(self.streams.listener())
        plans = importlib.import_module(f"{PKG}.plans")
        self.queries, self.oracle = plans.QUERIES, plans.ORACLE
        self.tables = importlib.import_module(f"{PKG}.io").TABLES
        ready = time.perf_counter() - PROCESS_START - gen_s
        warm_s, check_s = self.warm_and_check()
        settle_s = [self.run_pass(-1 - i, traced=False)["wall_s"]
                    for i in range(SETTLE_PASSES)]
        return {"gen_s": gen_s, "session_start_s": start_s, "ready_s": ready,
                "warmup_s": warm_s, "check_s": check_s, "settle_s": settle_s,
                "setup_s": ready + warm_s + sum(settle_s)}

    def warm_and_check(self) -> tuple[float, float]:
        """The cold pass: build every key and collect its result (part of
        set-up time), then compare that result with the key's oracle (not
        part of set-up time). The settle passes after it warm the timed
        path, the ``noop`` write."""
        warm = check = 0.0
        for key in self.wl.keys:
            self.attempted += 1
            self.sc.setJobGroup(f"warmup:{key}", "warm-up and output check")
            t = time.perf_counter()
            try:
                got = self.queries[key](self.spark, self.data_dir).toPandas()
            except Exception as exc:  # noqa: BLE001 - a failing key is a result
                warm += time.perf_counter() - t
                self._fail(key, f"raised {type(exc).__name__}: {str(exc)[:200]}")
                continue
            warm += time.perf_counter() - t
            t = time.perf_counter()
            reason = mismatch(got, oracle_frame(self.oracle[key], self.data_dir, self.tables))
            check += time.perf_counter() - t
            if reason:
                self._fail(key, f"output check: {reason}")
        return warm, check

    def _fail(self, key: str, reason: str) -> None:
        self.failures.setdefault(key, []).append(reason)

    # -- passes --------------------------------------------------------
    def run_key(self, key: str, traced: bool) -> dict:
        self.attempted += 1
        rec: dict = {"key": key}
        if self.tracer:
            self.tracer.enabled, self.tracer.key = traced, key
        self.sc.setJobGroup(key, "build")
        watchdog = threading.Timer(KEY_TIMEOUT_S, self.sc.cancelJobGroup, (key,))
        watchdog.daemon = True
        watchdog.start()
        df = None
        try:
            w0, t0 = time.time(), time.perf_counter()
            with self._span("plans.build"):
                df = self.queries[key](self.spark, self.data_dir)
            w1, t1 = time.time(), time.perf_counter()
            self.sc.setJobDescription("action")
            with self._span("action"):
                df.write.format("noop").mode("overwrite").save()
            w2, t2 = time.time(), time.perf_counter()
        except Exception as exc:  # noqa: BLE001 - a failing key is a result
            self._fail(key, f"raised {type(exc).__name__}: {str(exc)[:200]}")
            rec["failed"] = True
            return rec
        finally:
            watchdog.cancel()
            if self.tracer:
                self.tracer.enabled = False
        rec.update(build_s=t1 - t0, action_s=t2 - t1, key_s=t2 - t0,
                   window_ms=(w0 * 1e3, w1 * 1e3, w2 * 1e3))
        if traced:
            rec["catalyst_ms"] = self._catalyst_ms(df)
        return rec

    def _span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    @staticmethod
    def _catalyst_ms(df) -> dict[str, float]:
        """Analysis, optimization and planning time of the key's final
        plan, from its query-execution tracker. Optimization and
        planning are forced here, after the timed action."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        return {p: float(phases.apply(p).durationMs()) if phases.contains(p) else 0.0
                for p in ("analysis", "optimization", "planning")}

    def run_pass(self, index: int, traced: bool) -> dict:
        order = list(self.wl.keys)
        random.Random(self.seed * 1_000_003 + index).shuffle(order)
        span_mark = len(self.tracer.spans) if self.tracer else 0
        steal0, cpu0 = procfs.cpu_times(), procfs.tree_cpu_s(os.getpid())
        if traced:
            self.streams.take()  # progress of earlier, untraced passes
        since_ms = time.time() * 1e3
        t0 = time.perf_counter()
        keys = [self.run_key(k, traced) for k in order]
        wall = time.perf_counter() - t0
        cpu = procfs.tree_cpu_s(os.getpid()) - cpu0
        steal = procfs.steal_share(steal0, procfs.cpu_times())
        self.peak_rss_mb = max(self.peak_rss_mb, procfs.tree_hwm_mb(os.getpid()))
        self.status.drain()
        jobs = self.status.jobs(int(since_ms))
        rec = {"index": index, "traced": traced, "wall_s": wall, "cpu_s": cpu,
               "steal_share": steal, "jobs": len(jobs), "keys": keys}
        _attribute_jobs(jobs, keys)
        if traced:
            rec["layers"] = self.layers(keys, jobs, since_ms, span_mark)
        return rec

    def layers(self, keys: list[dict], jobs: list[dict], since_ms: float,
               span_mark: int) -> dict[str, float]:
        ok = [k for k in keys if not k.get("failed")]
        stages = self.status.stages(int(since_ms))
        build_stage_ids = {s for j in jobs if j.get("phase") == "build"
                           for s in j.get("stageIds", [])}
        build_job_s = 0.0
        for k in ok:
            w0, w1, _ = k["window_ms"]
            spans = [(max(w0, j["submissionTime"]), min(w1, j.get("completionTime") or w1))
                     for j in jobs if j.get("key") == k["key"] and j.get("phase") == "build"]
            build_job_s += _union_s([s for s in spans if s[1] > s[0]]) / 1e3
        build_s = sum(k["build_s"] for k in ok)
        totals = self.tracer.totals(span_mark)
        batch_ms, state_rows = self.streams.take()
        py = self.status.python_nodes(int(since_ms))
        ssum = lambda field, sel=stages: float(sum(s.get(field) or 0 for s in sel))  # noqa: E731
        out_stages = [s for s in stages if s["stageId"] in build_stage_ids]
        out = {
            "plans.build_s": build_s,
            "plans.build_jobs": float(sum(1 for j in jobs if j.get("phase") == "build")),
            "plans.build_job_s": build_job_s,
            "plans.driver_s": build_s - build_job_s,
            "action.s": sum(k["action_s"] for k in ok),
            "scheduler.jobs": float(len(jobs)),
            "scheduler.stages": float(len(stages)),
            "scheduler.tasks": ssum("numTasks"),
            "executor.run_s": ssum("executorRunTime") / 1e3,
            "executor.cpu_s": ssum("executorCpuTime") / 1e9,
            "executor.gc_s": ssum("jvmGcTime") / 1e3,
            "io.input_mb": ssum("inputBytes") / MB,
            "io.input_rows": ssum("inputRecords"),
            "io.read_table_s": totals["io.read_table"]["s"],
            "shuffle.write_mb": ssum("shuffleWriteBytes") / MB,
            "shuffle.read_mb": ssum("shuffleReadBytes") / MB,
            "shuffle.fetch_wait_s": ssum("shuffleFetchWaitTime") / 1e3,
            "shuffle.spill_mb": ssum("diskBytesSpilled") / MB,
            "sinks.write_s": totals["sinks.write"]["s"],
            "sinks.output_mb": ssum("outputBytes", out_stages) / MB,
            "sinks.output_rows": ssum("outputRecords", out_stages),
            "streaming.batches": float(len(batch_ms)),
            "streaming.batch_ms": median(batch_ms),
            "streaming.state_rows": float(state_rows),
            "pyworker.sent_mb": sum(n["data sent to Python workers"] for n in py) / MB,
            "pyworker.received_mb": sum(n["data returned from Python workers"] for n in py) / MB,
            "pyworker.rows_received": sum(n["number of output rows"] for n in py),
            "pyworker.run_s": sum(n["time to run Python workers"] for n in py),
            "checkpoint.count": float(totals["checkpoint"]["calls"]),
            "checkpoint.s": totals["checkpoint"]["s"],
        }
        for phase in ("analysis", "optimization", "planning"):
            out[f"catalyst.{phase}_ms"] = sum(k["catalyst_ms"][phase] for k in ok)
        for m in OPERATOR_LAYERS:
            out[f"operators.{m}.self_s"] = totals[f"operators.{m}"]["self_s"]
        return out

    def measure(self, seconds: float) -> list[dict]:
        """Timed passes for ``seconds``, and at least three, so that the
        median leaves out the first pass after warm-up, which is still
        the slowest. A traced run pairs traced and untraced passes in
        the order TU UT TU ..., so that a steady speed-up over the run
        does not show as tracing overhead, and runs at least four."""
        start = time.perf_counter()
        least = 4 if self.traced else 3
        passes: list[dict] = []
        while True:
            index = len(passes)
            traced = self.traced and (index % 2 == 0) == (index % 4 < 2)
            passes.append(self.run_pass(index, traced))
            if len(passes) >= least and time.perf_counter() - start >= seconds:
                return passes
            if time.perf_counter() - PROCESS_START > LAST_PASS_START_S:
                return passes

    # -- teardown ------------------------------------------------------
    def close(self) -> None:
        """Stop Spark and its JVM, wait until every process this run
        started has ended, and remove the generated inputs."""
        started = [p for p in procfs.descendants(os.getpid()) if p != os.getpid()]
        if self.spark is not None:
            from pyspark import SparkContext
            gateway = SparkContext._gateway
            try:
                self.spark.stop()
            finally:
                proc = gateway.proc
                gateway.shutdown()
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        _wait_gone(started, timeout_s=20.0)
        shutil.rmtree(self.work, ignore_errors=True)


def _attribute_jobs(jobs: list[dict], keys: list[dict]) -> None:
    """Tag each job with the key and phase that launched it: by its job
    group and description when the key set them, else (streaming
    micro-batches run under their query's own group) by the key whose
    build or action window holds the job's submission time."""
    windows = [k for k in keys if "window_ms" in k]
    for job in jobs:
        group = job.get("jobGroup")
        if any(k["key"] == group for k in keys):
            job["key"] = group
            job["phase"] = "action" if job.get("description") == "action" else "build"
            continue
        t = job.get("submissionTime") or 0
        for k in windows:
            w0, w1, w2 = k["window_ms"]
            if w0 <= t <= w2:
                job["key"], job["phase"] = k["key"], "build" if t <= w1 else "action"
                break
    for k in keys:
        k["jobs"] = sum(1 for j in jobs if j.get("key") == k["key"])


def _wait_gone(pids: list[int], timeout_s: float) -> None:
    """Wait until every process in ``pids`` has exited, reaping our own
    children; kill what is left after ``timeout_s``. Python workers are
    forked by the JVM, so they may outlive it briefly as orphans."""
    deadline = time.monotonic() + timeout_s
    while True:
        for pid in pids:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        left = [p for p in pids if _alive(p)]
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout_s
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def end_to_end(run: Run, setup: dict, passes: list[dict], failed: int) -> dict[str, float]:
    per_key: dict[str, list[float]] = {}
    for p in passes:
        for k in p["keys"]:
            if not k.get("failed"):
                per_key.setdefault(k["key"], []).append(k["key_s"])
    key_medians = [median(v) for v in per_key.values()]
    return {
        "pass_s": median([p["wall_s"] for p in passes]),
        "key_geomean_s": math.exp(statistics.fmean(math.log(v) for v in key_medians))
        if key_medians else 0.0,
        "cpu_s": median([p["cpu_s"] for p in passes]),
        "peak_rss_mb": run.peak_rss_mb,
        "setup_s": setup["setup_s"],
        "ops_ok_frac": 1.0 - failed / run.attempted,
    }


def per_layer(setup: dict, passes: list[dict]) -> dict[str, float]:
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]]
    names = traced[0]["layers"].keys()
    out = {n: median([p["layers"][n] for p in traced]) for n in names}
    jobs = [p["layers"]["scheduler.jobs"] for p in traced]
    out["scheduler.jobs_spread"] = max(jobs) - min(jobs)
    out["session.start_s"] = setup["session_start_s"]
    out["trace.overhead_s"] = (median([p["wall_s"] for p in traced])
                               - median([p["wall_s"] for p in plain]))
    return out


def key_detail(passes: list[dict], failures: dict[str, list[str]]) -> dict[str, dict]:
    rows: dict[str, dict[str, list]] = {}
    for p in passes:
        for k in p["keys"]:
            row = rows.setdefault(k["key"], {"build_s": [], "action_s": [], "jobs": [],
                                             "analysis": [], "optimization": [],
                                             "planning": []})
            if k.get("failed"):
                continue
            row["build_s"].append(k["build_s"])
            row["action_s"].append(k["action_s"])
            row["jobs"].append(k["jobs"])
            for phase, ms in k.get("catalyst_ms", {}).items():
                row[phase].append(ms)
    return {key: {"build_s": median(r["build_s"]), "action_s": median(r["action_s"]),
                  "jobs": median(r["jobs"]),
                  "catalyst_ms": {ph: median(r[ph]) for ph in ("analysis", "optimization",
                                                               "planning") if r[ph]},
                  "failures": failures.get(key, [])}
            for key, r in rows.items()}


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if importlib.util.find_spec(PKG) is None:
        print(f"perfbench: the engine package {PKG!r} is not in {ROOT}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    if args.sf is not None:
        wl = dataclasses.replace(wl, sf=args.sf)
    run = Run(wl, args.seed, bool(args.trace))
    try:
        setup = run.setup()
        passes = run.measure(args.seconds)
        spans = run.tracer.spans if run.tracer else []
    finally:
        run.close()
    failed = sum(len(v) for v in run.failures.values())
    metrics = (per_layer(setup, passes) if args.trace
               else end_to_end(run, setup, passes, failed))
    units = PER_LAYER_UNITS if args.trace else END_TO_END_UNITS
    detail = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "master": MASTER, "driver_heap": DRIVER_HEAP, "initial_heap": INITIAL_HEAP,
        "settle_passes": SETTLE_PASSES,
        "sf": wl.sf, "inputs": run.inputs,
        "final_action": "noop write (not comparable with count()-timed results)",
        "setup": setup,
        "passes": [{k: v for k, v in p.items() if k not in ("keys", "layers")}
                   for p in passes],
        "keys": key_detail(passes, run.failures),
    }
    os.makedirs(args.results, exist_ok=True)
    stem = os.path.join(args.results, f"{wl.name}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as fh:
        json.dump(detail, fh, indent=1)
    if spans:
        with open(stem + "-spans.json", "w") as fh:
            json.dump(spans, fh)
    print(json.dumps(detail, separators=(",", ":")))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": {name: {"value": metrics[name], "unit": unit}
                    for name, unit in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
