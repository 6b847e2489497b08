"""Benchmark entry point: one workload, one Python process, closed loop.

    python3 benchmark/run.py --workload ingest_copy_bulk --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout. The run

1. builds the workload's inputs from ``--seed`` (cached per seed),
2. starts the program (``setup_s``, see :func:`start`),
3. runs warm-up passes, then timed passes one at a time until
   ``--seconds`` have passed (at least the workload's ``min_passes``),
   verifying every pass after its clock stopped (a pass that fails
   verification is counted, never timed),
4. prints one JSON object as the last line of standard output.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` installs the
layer wrappers of ``tracing.py``, alternates passes with tracing off and
on, and reports the per-layer metrics, including the tracing overhead
(traced minus untraced ``pass_s``).

Exits with code 2, printing no result, when the program or a service the
workload needs is missing.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path


def process_age_s() -> float:
    """Seconds since this process was created (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return max(uptime - start_ticks / os.sysconf("SC_CLK_TCK"), 0.0)


# interpreter start-up before this line counts toward setup_s
PRE_MAIN_S = process_age_s()

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent


def fail(msg: str) -> None:
    print(f"benchmark: {msg}", file=sys.stderr, flush=True)
    sys.exit(2)


def configure_env(run_dir: Path) -> None:
    """Environment the program and its Spark Python workers inherit. The
    repo root goes on PYTHONPATH, not only sys.path: the COPY sink's
    partition writer runs in Python workers that import the program."""
    paths = [str(ROOT), str(BENCH_DIR)]
    if os.environ.get("PYTHONPATH"):
        paths.append(os.environ["PYTHONPATH"])
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    local = run_dir / "spark-local"
    local.mkdir(parents=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # keep the JVM's and Python's temporary files inside the run directory
    tmp = run_dir / "tmp"
    tmp.mkdir()
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    sys.path.insert(0, str(ROOT))


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of this process plus its JVM child."""

    def hwm(pid: str) -> int:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    total, me = hwm("self"), os.getpid()
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            comm = stat[stat.index("(") + 1 : stat.rindex(")")]
            ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
            if ppid == me and comm == "java":
                total += hwm(d)
        except (OSError, ValueError):
            continue
    return total / 1024.0


def start():
    """Start the program: build the SparkSession, register the function
    library, import the catalog registry. Returns ``(spark, registry,
    setup_s, session_s)``; ``setup_s`` runs from process start until
    ready, leaving out input generation done before this call."""
    from postgresimporter_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark()
    session_s = time.perf_counter() - t0
    from postgresimporter_spark.functions import register_all

    register_all(spark)
    from postgresimporter_spark.plans import registry

    reg = registry()
    return spark, reg, PRE_MAIN_S + time.perf_counter() - t0, session_s


class Loop:
    """Closed-loop passes with failure accounting."""

    def __init__(self, wl, spark):
        self.wl, self.spark = wl, spark
        self.attempted = 0
        self.failures: list[str] = []

    def one(self, tracer=None):
        """Clear, run and time one pass, then verify it. Returns
        ``(seconds, result)``; seconds is None for a failed pass."""
        import contextlib

        wl = self.wl
        wl.clear()
        # start every pass from a collected heap, so garbage of the last
        # pass and its verification is not collected on this pass's clock
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        span = tracer.span("pass") if tracer else contextlib.nullcontext()
        t0 = time.perf_counter()
        try:
            with span:
                result = wl.run_pass(self.spark)
        except Exception:  # noqa: BLE001 - a failed pass is counted, not timed
            self.attempted += 1
            self.failures.append(traceback.format_exc(limit=4))
            return None, None
        dt = time.perf_counter() - t0
        n, errs = wl.verify(result)
        self.attempted += n
        self.failures += errs
        return (None if errs else dt), result

    def timed(self, seconds: float) -> list[float]:
        """Time passes until ``seconds`` have passed, at least the
        workload's ``min_passes``; stop at the first failed pass."""
        times = []
        t_end = time.perf_counter() + seconds
        while len(times) < self.wl.min_passes or time.perf_counter() < t_end:
            dt, _ = self.one()
            if dt is None:
                break
            times.append(dt)
        return times


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a terminated run still stops Postgres and Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (ROOT / "postgresimporter_spark" / "__init__.py").is_file():
        fail(f"program package not found under {ROOT}")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    work = ROOT / ".bench_work"
    run_dir = work / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        configure_env(run_dir)
        import workloads

        if args.workload not in workloads.WORKLOADS:
            fail(f"unknown workload {args.workload}")
        try:
            wl = workloads.WORKLOADS[args.workload](args.seed, work / "cache")
        except RuntimeError as e:
            fail(str(e))
        out = run(wl, args, run_dir, spec)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(out), flush=True)


def run(wl, args, run_dir: Path, spec: dict) -> dict:
    spark = None
    try:
        spark, registry, setup_s, session_s = start()
        try:
            wl.prepare(spark, registry, run_dir)
        except RuntimeError as e:
            fail(str(e))
        loop = Loop(wl, spark)
        for _ in range(wl.warmup_passes):
            loop.one()
        if args.trace:
            times, metrics = traced(loop, args.seconds, session_s, spec)
            metrics["error_rate"] = len(loop.failures) / max(loop.attempted, 1)
        else:
            times = loop.timed(args.seconds)
            # a run without a verified pass reports 0 (and correct: false)
            pass_s = statistics.median(times) if times else 0.0
            metrics = {
                "setup_s": setup_s,
                "pass_s": pass_s,
                "input_mb_s": wl.input_bytes / 1e6 / pass_s if times else 0.0,
                "peak_rss_mb": peak_rss_mb(),
            }
        print(
            f"{wl.name}: {len(times)} timed passes "
            f"{[round(t, 3) for t in times]}; setup {setup_s:.2f} s",
            file=sys.stderr,
        )
        for msg in loop.failures[:20]:
            print(f"FAILED: {msg}", file=sys.stderr)
        units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
        return {
            "correct": not loop.failures and bool(times),
            "attempted": loop.attempted,
            "failed": len(loop.failures),
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
    finally:
        wl.close()
        if spark is not None:
            stop_spark(spark)


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM (it exits when its stdin
    closes), and wait for it, so no process outlives the run."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def traced(loop: Loop, seconds: float, session_s: float, spec: dict):
    """Alternate untraced and traced passes until ``seconds`` have passed
    (at least two of each). Per-layer metrics are the median over traced
    passes of each pass's value; the overhead compares the two medians."""
    import tracing

    wl, spark = loop.wl, loop.spark
    tracer = tracing.Tracer(spark)
    wl.install_tracing(tracer)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    untraced: list[float] = []
    times: list[float] = []
    per_pass: list[dict] = []
    t_end = time.perf_counter() + seconds
    while min(len(untraced), len(times)) < 2 or time.perf_counter() < t_end:
        tracer.enabled = False
        dt, _ = loop.one()
        if dt is None:
            break
        untraced.append(dt)
        tracer.enabled = True
        dt, result = loop.one(tracer)
        if dt is None:
            break
        times.append(dt)
        p = max(
            (s for s in tracer.spans.values() if s.name == "pass"),
            key=lambda s: s.id,
        )
        c = tracing.spark_counters(spark, p.job_lo, p.job_hi)
        m = wl.trace_pass(tracer, p, c, result)
        m.update(
            {
                "spark.jobs": c["jobs"],
                "spark.stages": c["stages"],
                "spark.tasks": c["tasks"],
                "spark.executor_run_s": c["run_ms"] / 1e3,
                "spark.executor_cpu_s": c["cpu_ns"] / 1e9,
                "spark.gc_s": c["gc_ms"] / 1e3,
                "spark.shuffle_write_mb": c["shuffle_write_b"] / 1e6,
                "spark.spill_mb": c["spill_b"] / 1e6,
                "spark.busy_frac": c["run_ms"] / 1e3 / (p.dur * cores),
                "trace.unattributed_s": tracer.self_time(p),
            }
        )
        per_pass.append(m)
    metrics = {m["name"]: 0.0 for m in spec["per_layer"]}
    for k in per_pass[0] if per_pass else ():
        metrics[k] = float(statistics.median(m[k] for m in per_pass))
    u = statistics.median(untraced) if untraced else 0.0
    t = statistics.median(times) if times else 0.0
    metrics.update(
        {
            "session.start_s": session_s,
            "trace.untraced_pass_s": u,
            "trace.pass_s": t,
            "trace.overhead_s": t - u,
        }
    )
    out = ROOT / ".bench_work" / f"spans-{wl.name}.json"
    out.write_text(json.dumps(tracer.dump()))
    return untraced + times, metrics


if __name__ == "__main__":
    main()
