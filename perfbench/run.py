#!/usr/bin/env python3
"""Benchmark of the knowledge-graph jobs, one workload per run.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Run from the repository root (the directory holding ``dygiepp_spark``).
One run starts a session with ``session.get_spark`` at its defaults on
``local[<cores>]``, then:

1. warm-up: every op once on inputs a quarter of the measured size, so
   the JVM and the Python workers have loaded and compiled what the ops
   need (the cold pass, reported on the detail line only);
2. set-up, three times and timed: the inputs are generated from the seed
   and written to parquet;
3. the measured passes over the workload's ops, ``--seconds`` / 10 of
   them and at least one: a fixed count, since every pass is faster than
   the one before while the JVM still compiles. A fixed reference Spark
   job runs twice before them and twice after; ``pass_refs``, the pass's
   wall time in units of the reference's, cancels the host's speed,
   which changes by a factor of two from one stretch of minutes to the
   next.

Every op's output is checked, untimed, the warm-up's too.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` adds a traced
pass and reports per-layer metrics, with the tracing overhead and the
layer-sum coverage of the untraced passes. The last stdout line is one
JSON object: correct, attempted, failed and metrics (name -> value,
unit). The line before it carries the details (per-op times, set-up
repetitions, host load and CPU steal), and
``perfbench/work/<workload>-seed<seed>-trace<t>.json`` keeps the spans.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

import sysstat
from spans import KERNEL_MODULES, Tracer, idle_core_frac, metric_name, self_times

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUP_REPS = 3
# the warm-up runs every op on inputs this share of the measured ones
WARMUP_SCALE = 0.25
# about the length of one warm pass of either workload on 4 cores.
# --seconds sets the number of measured passes through it, a fixed count:
# the JVM keeps warming pass by pass, so a count that followed the speed
# of the host would move the medians
PASS_S = 10
# the reference job: rows, and runs before and after the measured passes
# (it also runs once in the warm-up)
REF_ROWS = 8_000_000
REF_REPS = 2


def n_passes(seconds: float) -> int:
    return max(1, round(seconds / PASS_S))


def quartiles(values: list[float]) -> dict:
    if len(values) == 1:
        q1 = med = q3 = values[0]
    else:
        q1, med, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return {"median": med, "q1": q1, "q3": q3, "n": len(values)}


def _preflight() -> str | None:
    for rel in ("dygiepp_spark/__init__.py", "scripts/run_extraction.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            return f"{rel} not found under {ROOT}: run from a full checkout"
    return None


def _isolate_env(work: str) -> None:
    """Keep the JVM, its Python workers and temp files inside the checkout,
    and let the workers import the package wherever the run starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM of the launch, spark-class's launcher included: temp files
    # in the checkout and no hsperfdata file under /tmp
    opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = f"{opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()
    sys.path.insert(0, ROOT)


class Run:
    """One benchmark run: the op loop, its counts and its timings."""

    def __init__(self, wl, jvm_pid: int):
        self.wl, self.jvm_pid = wl, jvm_pid
        self.cpu: dict[str, list[float]] = {}  # op -> CPU s, measured passes
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.n_pass = 0
        self.check_s = 0.0  # untimed, but part of the run's length

    def _checked(self, op: str, out) -> None:
        t0 = time.perf_counter()
        try:
            problems = self.wl.check(op, out)
        except Exception:  # noqa: BLE001 — a check that raises fails the op
            problems = [f"check raised:\n{traceback.format_exc()}"]
        self.check_s += time.perf_counter() - t0
        if problems:
            self.failed += 1
            self.problems += [f"{op}: {p}" for p in problems]

    def one_pass(self) -> tuple[dict[str, float], dict[str, float]]:
        """Run every op once; returns op -> wall seconds and op -> CPU
        seconds of the JVM and its workers (failed ops omitted)."""
        tag, self.n_pass = f"p{self.n_pass}", self.n_pass + 1
        times, cpus = {}, {}
        for op, fn in self.wl.ops:
            self.attempted += 1
            cpu0, t0 = sysstat.tree_cpu_s(self.jvm_pid), time.perf_counter()
            try:
                out = fn(tag)
            except Exception:  # noqa: BLE001 — count it and keep measuring
                self.failed += 1
                self.problems.append(f"{op} raised:\n{traceback.format_exc()}")
                continue
            times[op] = time.perf_counter() - t0
            cpus[op] = sysstat.tree_cpu_s(self.jvm_pid) - cpu0
            self._checked(op, out)
        return times, cpus

    def measure(self, n_passes: int) -> dict[str, list[float]]:
        """``n_passes`` passes; returns op -> wall seconds, one per pass."""
        per_op: dict[str, list[float]] = {op: [] for op, _ in self.wl.ops}
        for _ in range(n_passes):
            times, cpus = self.one_pass()
            for op, t in times.items():
                per_op[op].append(t)
                self.cpu.setdefault(op, []).append(cpus[op])
        return per_op

    def traced(self, tracer) -> None:
        tag, self.n_pass = f"p{self.n_pass}", self.n_pass + 1
        self.attempted += len(self.wl.ops)
        try:
            outs = self.wl.traced_pass(tracer, tag)
        except Exception:  # noqa: BLE001
            self.failed += len(self.wl.ops)
            self.problems.append(f"traced pass raised:\n{traceback.format_exc()}")
            return
        for op, out in outs.items():
            self._checked(op, out)


def _reference(spark, cores: int) -> float:
    """Wall seconds of a fixed Spark job that runs no code of the package:
    a scan, a hash aggregation over a shuffle and a noop write. It starts
    from a collected heap, so the garbage of the ops before it does not
    count."""
    spark.sparkContext._jvm.System.gc()
    t0 = time.perf_counter()
    spark.range(REF_ROWS, numPartitions=4 * cores).selectExpr(
        "id % 997 as k", "xxhash64(cast(id as string)) as h"
    ).groupBy("k").max("h").write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _pass_s(per_op: dict[str, list[float]]) -> float:
    return sum(statistics.median(v) for v in per_op.values() if v)


def _layer_metrics(tracer, untraced_s: float, session_s: float, cores: int) -> dict:
    spans = tracer.spans
    selfs = self_times(spans)
    root = spans[0]
    top_kernels = [
        (sp, st) for sp, st in zip(spans, selfs)
        if sp.module in KERNEL_MODULES
        and not (sp.parent is not None and spans[sp.parent].module in KERNEL_MODULES)
    ]
    kernel_spans = [i for i, sp in enumerate(spans) if sp.module in KERNEL_MODULES]
    kernel_self = sum(selfs[i] for i in kernel_spans)
    kernel_wall = sum(sp.s for sp, _ in top_kernels)
    kernel_cpu = sum(sp.jvm_cpu_s + sp.py_cpu_s for sp, _ in top_kernels)
    writes = [(sp, st) for sp, st in zip(spans, selfs) if sp.bytes_written is not None]
    layer_sum = sum(selfs[1:])
    m = {
        ("session.start.s", "s"): session_s,
        ("trace.untraced.s", "s"): untraced_s,
        ("trace.traced.s", "s"): root.s,
        ("trace.overhead.s", "s"): root.s - untraced_s,
        ("trace.coverage.ratio", "ratio"): layer_sum / untraced_s,
        ("trace.glue.self_s", "s"): selfs[0],
        ("spans.jobs", "count"): sum(sp.jobs for sp in spans),
        ("spans.tasks", "count"): sum(sp.tasks for sp in spans),
        ("spans.failed_tasks", "count"): sum(sp.failed_tasks for sp in spans),
        ("spans.jvm_cpu_s", "s"): root.jvm_cpu_s,
        ("spans.py_cpu_s", "s"): root.py_cpu_s,
        ("spans.idle_core_frac", "ratio"): idle_core_frac(
            root.jvm_cpu_s + root.py_cpu_s, root.s, cores
        ),
        ("kernels.self_s", "s"): kernel_self,
        ("kernels.py_cpu_s", "s"): sum(sp.py_cpu_s for sp, _ in top_kernels),
        ("kernels.idle_core_frac", "ratio"): idle_core_frac(kernel_cpu, kernel_wall, cores),
        ("writes.self_s", "s"): sum(st for _, st in writes),
        ("writes.bytes", "bytes"): sum(sp.bytes_written for sp, _ in writes),
        ("writes.files", "count"): sum(sp.files for sp, _ in writes),
    }
    return {name: (v, unit) for (name, unit), v in m.items()}


def _print_layer_table(workload: str, tracer, untraced_s: float) -> None:
    rows = tracer.table()
    layer_sum = sum(r["self_s"] for r in rows[1:])
    print(f"per-layer table, {workload} (one traced pass)")
    print(f"{'span':42s} {'calls':>5s} {'s':>8s} {'self_s':>8s} {'jobs':>5s} {'tasks':>6s} "
          f"{'jvm_cpu':>8s} {'py_cpu':>8s} {'idle':>6s} {'bytes':>10s} {'files':>6s}")
    for r in rows:
        idle = f"{r['idle_core_frac']:.2f}" if "idle_core_frac" in r else "-"
        print(f"{r['span']:42s} {r['calls']:5d} {r['s']:8.3f} {r['self_s']:8.3f} {r['jobs']:5d} "
              f"{r['tasks']:6d} {r['jvm_cpu_s']:8.2f} {r['py_cpu_s']:8.2f} {idle:>6s} "
              f"{r.get('bytes_written', '-'):>10} {r.get('files', '-'):>6}")
    traced = rows[0]["s"]
    print(f"layer self-time sum {layer_sum:.3f} s = {layer_sum / untraced_s:.1%} of the "
          f"untraced pass ({untraced_s:.3f} s); tracing overhead "
          f"{traced - untraced_s:+.3f} s (traced pass {traced:.3f} s)")


def _stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for it and its workers."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = sysstat.descendants(proc.pid) if proc else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in pids:
        while sysstat.is_alive(pid) and time.monotonic() < deadline:
            time.sleep(0.1)
        if sysstat.is_alive(pid):
            os.kill(pid, signal.SIGKILL)
    SparkContext._gateway = SparkContext._jvm = None


def _bench(spark, wl, warmup, args, cores: int, session_s: float):
    """Warm-up, set-up, the measured passes and, with --trace 1, the traced
    pass. Returns the run, its details, its metrics and the tracer."""
    jvm_pid = spark.sparkContext._gateway.proc.pid
    # the first pass in a fresh process compiles and loads what the ops
    # need: warm-up on small inputs, reported on the detail line only
    t0 = time.perf_counter()
    warmup.setup()
    warmup_setup_s = time.perf_counter() - t0
    run = Run(warmup, jvm_pid)
    cold, cold_cpu = run.one_pass()
    _reference(spark, cores)
    run.wl = wl

    setup_times = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        wl.setup()
        setup_times.append(time.perf_counter() - t0)
    # the reference job brackets the measured passes, so it sees the host
    # as they do
    ref = [_reference(spark, cores) for _ in range(REF_REPS)]
    per_op = run.measure(n_passes(args.seconds))
    ref += [_reference(spark, cores) for _ in range(REF_REPS)]
    ref_s = statistics.median(ref)
    pass_s = _pass_s(per_op)

    workers = sysstat.descendants(jvm_pid)
    py_rss = sysstat.peak_rss_mb([os.getpid(), *workers])
    # the JVM's peak follows G1's heap sizing under -Xmx8g, which moves
    # with host load: reported, not gated
    jvm_rss = sysstat.peak_rss_mb([jvm_pid])
    detail = {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "session_start_s": session_s,
        "setup_reps_s": setup_times,
        "warmup_setup_s": warmup_setup_s,
        "cold_s": sum(cold.values()),
        "cold_ops_s": cold,
        "cold_cpu_s": sum(cold_cpu.values()),
        "cold_ops_cpu_s": cold_cpu,
        "ops": {op: quartiles(v) for op, v in per_op.items() if v},
        "ops_cpu": {op: quartiles(v) for op, v in run.cpu.items() if v},
        "pass_s": pass_s,
        "pass_refs": pass_s / ref_s,
        "pass_cpu_s": _pass_s(run.cpu),
        "check_s": run.check_s,
        "reference_s": ref,
        "peak_rss_mb": {"driver_and_workers": py_rss, "jvm": jvm_rss,
                        "n_workers": len(workers)},
        "stats": getattr(wl, "stats", {}),
    }
    if not args.trace:
        metrics = {
            # session start is part of set-up, so work moved into it shows
            "setup_s": (session_s + statistics.median(setup_times), "s"),
            "pass_refs": (pass_s / ref_s, "ref"),
            "py_peak_rss_mb": (py_rss, "MiB"),
        }
        return run, detail, metrics, None

    tracer = Tracer(spark, f"{args.workload}-{args.seed}", jvm_pid, cores)
    run.traced(tracer)
    if run.failed:
        return run, detail, {}, tracer
    _print_layer_table(args.workload, tracer, pass_s)
    detail["layers"] = tracer.table()
    metrics = _layer_metrics(tracer, pass_s, session_s, cores)
    metrics["jvm.peak_rss_mb"] = (sysstat.peak_rss_mb([jvm_pid]), "MiB")
    return run, detail, metrics, tracer


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    # a terminated run still stops the JVM and its workers (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    err = _preflight()
    if err:
        print(err, file=sys.stderr)
        return 2
    host_start = sysstat.host_sample()
    work = os.path.join(HERE, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    _isolate_env(work)

    from workloads import WORKLOADS, make

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))

    t0 = time.perf_counter()
    from dygiepp_spark.session import get_spark

    spark = get_spark(master=f"local[{cores}]")
    session_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        wl = make(args.workload, spark, ROOT, work, args.seed)
        warmup = make(args.workload, spark, ROOT, os.path.join(work, "warmup"), args.seed,
                      scale=WARMUP_SCALE)
        run, detail, metrics, tracer = _bench(spark, wl, warmup, args, cores, session_s)
    finally:
        _stop_spark(spark)

    host_end = sysstat.host_sample()
    detail["host"] = {"start": host_start, "end": host_end,
                      "steal_frac": sysstat.steal_frac(host_start, host_end)}
    detail["problems"] = run.problems
    for prob in run.problems:
        print(prob, file=sys.stderr)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(HERE, "work", name), "w") as f:
        json.dump({**detail, "spans": tracer.dump() if tracer else []}, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {metric_name(k): {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
