#!/usr/bin/env python3
"""Pipeline benchmark for aqueducts_spark.

    python3 perfbench/run.py --workload sql_star_etl --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  One Python process, one
``local[N]`` SparkSession (N = min(2, cores)), one client: pipelines
run back to back (closed loop), as the reference executor runs one
pipeline at a time.  Inputs are generated from ``--seed`` under
``.perfbench_work/`` in the checkout; nothing else outside it is read
or written.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` alternates
traced and untraced steps and prints the per-layer metrics (see
``spans.py``) plus the tracing overhead.  The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed``,
``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

from spans import LAYERS

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
# Driver heap, fixed from the start (-Xms = -Xmx): G1's heap-resizing
# decisions depend on GC timing and made peak RSS swing by +-15% between
# identical runs; with the heap fixed, peak_rss_mb moves with memory
# outside it (Python driver, JVM native memory) and heap pressure shows
# as spark.gc_s.  Well below the memory of a 16 GB, 4-core host.
DRIVER_MEMORY = "2g"
CORES = 2

END_TO_END = {
    "setup_s": "s", "run_p50_s": "s", "read_p50_s": "s",
    "write_amp": "ratio", "peak_rss_mb": "MB",
}
_LAYER_UNITS = [
    ("config.load_s", "s"),
    ("functions.register_s", "s"), ("functions.py4j_calls", "count"),
    ("sources.register_s", "s"), ("sources.jobs", "count"),
    ("stages.build_self_s", "s"), ("stages.eager_jobs", "count"),
    ("stages.py4j_calls", "count"),
    ("operators.jobs", "count"), ("operators.py4j_calls", "count"),
    ("pipeline.self_s", "s"), ("pipeline.cached_stages", "count"),
    ("destinations.write_s", "s"), ("destinations.jobs", "count"),
    ("destinations.output_bytes", "bytes"), ("destinations.output_files", "count"),
    ("delta.bytes_written", "bytes"),
    ("delta.files_added", "count"), ("delta.files_removed", "count"),
    ("delta.rewrite_frac", "ratio"), ("delta.live_files", "count"),
    ("delta.log_bytes", "bytes"), ("delta.checkpoints", "count"),
    ("spark.jobs", "count"), ("spark.tasks", "count"), ("spark.task_run_s", "s"),
    ("spark.task_cpu_s", "s"), ("spark.run_minus_cpu_s", "s"), ("spark.gc_s", "s"),
    ("spark.shuffle_read_bytes", "bytes"), ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"), ("spark.input_bytes", "bytes"),
    ("spark.output_bytes", "bytes"),
    ("py4j.calls", "count"),
    ("trace.wall_s", "s"), ("trace.overhead_s", "s"),
]
PER_LAYER = dict(_LAYER_UNITS + [(f"share.{layer}", "ratio") for layer in LAYERS])
# Times of a layer that one listed workload bypasses would read exactly 0
# on every run of it, which the result format does not allow for a time;
# they are printed with the report, and their layer's share (a ratio) is
# in the result.
REPORT_ONLY = {"operators.build_s": "s", "operators.run_minus_cpu_s": "s",
               "delta.commit_s": "s", "delta.read_s": "s"}
# Delta log state after the run's last commit (not a per-step median)
DELTA_STATE = {"delta.live_files": "live_files", "delta.log_bytes": "log_bytes",
               "delta.checkpoints": "checkpoints"}


def process_start_epoch() -> float:
    """Wall-clock time at which this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 of stat(5)
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def start_spark(work: Path):
    """The benchmark's SparkSession; every file it writes, temporary
    ones included, stays under ``work``."""
    from aqueducts_spark import session_builder
    from aqueducts_spark.session import DEFAULT_CONFS

    # two task threads leave the other cores of a four-core host to the
    # JVM's JIT and GC threads, py4j and the Python workers; with
    # local[4] those contend with the tasks, and step times varied more
    # between identical runs (local[2] ran as fast: the steps are bound
    # by per-job overhead, not by task parallelism)
    n = min(CORES, os.cpu_count() or 1)
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # Spark's Python workers import the package from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE)] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # no hsperfdata files in the system temp directory, from the driver
    # JVM or the JVM spark-submit runs to build its command line
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    # two malloc arenas in the JVM and the Python workers: the default
    # (8 per core) lets native memory, and so peak RSS, vary with thread
    # scheduling
    os.environ["MALLOC_ARENA_MAX"] = "2"
    java_opts = (DEFAULT_CONFS["spark.driver.extraJavaOptions"]
                 + f" -Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp}")
    spark = (
        session_builder("perfbench", master=f"local[{n}]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.local.dir", str(work / "spark-local"))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config("spark.driver.extraJavaOptions", java_opts)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, n


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


# A sample is calm when the hypervisor stole at most this share of the
# CPUs' time while it ran.  On a shared host, phases of 5-30% steal
# lasted 30-150 s; they slowed compute-bound steps by a fifth to a half
# and py4j-bound read-backs (cross-process wake-ups) up to twofold.
CALM_STEAL = 0.02


def calm_median(xs: list[float], steals: list[float]) -> tuple[float, int]:
    """Median of the calm samples, or, when fewer than half of them are
    calm, of the half with the least steal (ties in sample order).  The
    samples are chosen by the steal measured during them, never by
    their time.  Returns the median and the number of samples used."""
    kept = [x for x, s in zip(xs, steals) if s <= CALM_STEAL]
    if 2 * len(kept) < len(xs):
        by_steal = sorted(range(len(xs)), key=lambda i: steals[i])
        kept = [xs[i] for i in sorted(by_steal[: (len(xs) + 1) // 2])]
    return median(kept), len(kept)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_proc = process_start_epoch()
    if not (ROOT / "aqueducts_spark" / "__init__.py").is_file():
        print(f"perfbench: no aqueducts_spark package under {ROOT}; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    import workloads  # noqa: E402  (needs the checkout on sys.path)

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = WORK / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    spark = None
    try:
        spark, n_cores = start_spark(work)
        launch_s = time.time() - t_proc

        from spans import Tracer

        tracer = Tracer() if args.trace else None
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, tracer)
        wl.prepare()  # benchmark-side generation and oracles: not set-up time

        t0 = time.perf_counter()
        wl.cold()
        setup_s = launch_s + time.perf_counter() - t0
        wl.warm_up()

        deadline = time.perf_counter() + args.seconds
        min_steps = max(wl.min_steps, 2 if args.trace else 1)
        steps = 0
        while steps < min_steps or not wl.unit_done or time.perf_counter() < deadline:
            traced = bool(tracer) and steps % 2 == 0
            if traced:
                wl.begin_tracing()
                tracer.install()
            try:
                wl.step(traced=traced)
            finally:
                if traced:
                    tracer.uninstall()
            steps += 1

        peak_rss = vm_hwm_mb(os.getpid())
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        if jvm is not None:
            peak_rss += vm_hwm_mb(jvm.pid)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    fail_frac = wl.failed / wl.attempted if wl.attempted else 1.0
    print(f"workload {args.workload}  seed {args.seed}  master local[{n_cores}]  "
          f"driver memory {DRIVER_MEMORY}  steps {steps}  trace {args.trace}")
    print(f"  fail_frac {fail_frac:.4f} ({wl.failed} of {wl.attempted} pipeline steps)")
    if args.trace:
        metrics, report_only = trace_metrics(wl, tracer, args)
        for name, m in report_only.items():
            print(f"  {name:32s} {m['value']:.6g} {m['unit']}  (report only)")
    else:
        run_p50, n_run = calm_median(wl.run_s, wl.run_steal)
        read_p50, n_read = calm_median(wl.read_s, wl.read_steal)
        values = {
            "setup_s": setup_s,
            "run_p50_s": run_p50,
            "read_p50_s": read_p50,
            "write_amp": wl.written / wl.reference if wl.reference else float("nan"),
            "peak_rss_mb": peak_rss,
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
        for what, xs, steals, p50, n in (
                ("run", wl.run_s, wl.run_steal, run_p50, n_run),
                ("read", wl.read_s, wl.read_steal, read_p50, n_read)):
            print(f"  {what} samples (s/steal) "
                  + " ".join(f"{x:.3f}/{s:.3f}" for x, s in zip(xs, steals)))
            print(f"  {what} median of all {median(xs):.4f} s, "
                  f"of {n} calm {what} samples {p50:.4f} s")
    for name, m in metrics.items():
        print(f"  {name:32s} {m['value']:.6g} {m['unit']}")
    correct = wl.failed == 0 and wl.attempted > 0 and all(
        m["value"] == m["value"] for m in metrics.values())  # no NaN
    print(json.dumps({"correct": correct, "attempted": wl.attempted,
                      "failed": wl.failed, "metrics": metrics}))
    return 0


def trace_metrics(wl, tracer, args) -> tuple[dict, dict]:
    """Median over traced steps of each per-layer metric, and of the
    REPORT_ONLY ones; layers a workload does not exercise read 0."""
    rows = wl.layer_rows
    units = {**PER_LAYER, **REPORT_ONLY}
    values = {}
    for name in units:
        if name in DELTA_STATE:
            values[name] = wl.state.get(DELTA_STATE[name], 0)
        elif name == "trace.overhead_s":
            values[name] = median(wl.traced_run_s) - median(wl.run_s)
        else:
            values[name] = median([r.get(name, 0) for r in rows])
    out_dir = WORK / "traces"
    out_dir.mkdir(parents=True, exist_ok=True)
    (out_dir / f"{args.workload}-seed{args.seed}.json").write_text(json.dumps(
        {"spans": tracer.dump(), "steps": rows}, indent=1))
    metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
    return ({k: metrics[k] for k in PER_LAYER},
            {k: metrics[k] for k in REPORT_ONLY})


if __name__ == "__main__":
    sys.exit(main())
