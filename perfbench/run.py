"""Same-host benchmark for timefence_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload pit_build --seed 1 --seconds 20 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones, and the run's spans are written under
``.perfbench/traces/``. Every run also writes its full record, with the
host fingerprint, under ``.perfbench/records/``. See README.md beside
this file for what each metric means.

Load: one closed-loop client. This process makes one call at a time and
waits for it; Spark runs as ``local[nproc]``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
# Input sets kept per workload; older seeds are removed.
KEEP_INPUT_SETS = 2
STOP_TIMEOUT_S = 60

END_TO_END = (("setup_s", "s"), ("call_s", "s"), ("side_s", "s"))


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="tiny: the smoke mode the benchmark's own test runs")
    p.add_argument("--fault", choices=("none", "corrupt_build", "hide_leak"),
                   default="none", help="inject a fault the checks must catch")
    return p.parse_args(argv)


def program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "timefence_spark", "__init__.py"))


def isolate(run_dir: str) -> None:
    """Keep every temporary file of this run inside the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)


def start_spark(run_dir: str, cores: int, mem_gb: int):
    from pyspark.sql import SparkSession

    java_opts = f"-Djava.io.tmpdir={os.environ['TMPDIR']}"
    spark = (
        SparkSession.builder.appName("perfbench")
        .master(f"local[{cores}]")
        .config("spark.driver.memory", f"{mem_gb}g")
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.local.dir", os.environ["SPARK_LOCAL_DIRS"])
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, jvm_pid: int | None) -> None:
    """Stop Spark, then the JVM it runs in, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=STOP_TIMEOUT_S)
                except Exception:
                    proc.kill()
                    proc.wait()
        if jvm_pid is not None:
            wait_gone(jvm_pid)


def wait_gone(pid: int) -> None:
    deadline = time.monotonic() + STOP_TIMEOUT_S
    while os.path.exists(f"/proc/{pid}"):
        if time.monotonic() > deadline:
            os.kill(pid, signal.SIGKILL)
            deadline = time.monotonic() + STOP_TIMEOUT_S
        time.sleep(0.05)


def prune_inputs(keep: str) -> None:
    """Remove older input sets of the same shape, so the cache stays small."""
    base, name = os.path.split(keep)
    shape = name.rsplit("_s", 1)[0]
    older = sorted(
        (os.path.join(base, d) for d in os.listdir(base)
         if d != name and d.rsplit("_s", 1)[0] == shape),
        key=os.path.getmtime,
    )
    for old in older[: max(0, len(older) - (KEEP_INPUT_SETS - 1))]:
        shutil.rmtree(old, ignore_errors=True)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    # On SIGTERM, unwind through the finally blocks: stop the JVM and
    # remove this run's files.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if not program_present():
        print(f"perfbench: no timefence_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import probes
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    tracer = probes.Tracer(enabled=bool(args.trace))
    run_dir = os.path.join(WORK, "runs", tracer.run_id)
    out_dir = os.path.join(run_dir, "out")
    os.makedirs(out_dir)
    isolate(run_dir)
    cores = probes.nproc()
    steal0 = probes.steal_ticks()
    ctx = workloads.Ctx(
        work=WORK, out=out_dir, seed=args.seed, scale=args.scale,
        fault=args.fault, threads=cores, tracer=tracer,
    )
    wl = workloads.WORKLOADS[args.workload](ctx)

    t0 = time.perf_counter()
    with tracer.span("generate"):
        wl.generate()
    gen_s = time.perf_counter() - t0
    prune_inputs(wl.inp.root)

    spark = jvm_pid = None
    try:
        with tracer.span("setup"):
            spark = start_spark(run_dir, cores, probes.driver_memory_gb())
            jvm = spark.sparkContext._jvm
            jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
            java_version = str(jvm.java.lang.System.getProperty("java.version"))
            ctx.spark = spark
            ctx.stats = probes.StatusStore(spark)
            import timefence_spark  # noqa: F401  (import time is set-up time)

            wl.prepare()
            if args.scale == "tiny":
                wl.warm_cycles, wl.min_cycles = 1, 2
            for cycle in range(wl.warm_cycles):
                wl.cycle(cycle, traced=False)
            guarded(wl, "warm_check", wl.warm_check)
            wl.samples = {"call": [], "side": []}
        setup_s = time.perf_counter() - T_START - gen_s

        # Start another cycle only if it should end before the deadline.
        deadline = time.perf_counter() + args.seconds
        timed = last = 0
        with tracer.span("measure"):
            while timed < wl.min_cycles or time.perf_counter() + last < deadline:
                # A traced run alternates traced and untraced cycles; the
                # difference of their medians is the tracing overhead.
                t0 = time.perf_counter()
                wl.cycle(wl.warm_cycles + timed,
                         traced=bool(args.trace) and timed % 2 == 0)
                last = time.perf_counter() - t0
                timed += 1
        wl.layers["memory.peak_rss_mb"] = probes.peak_rss_mb(jvm_pid)
        if args.trace:
            with tracer.span("probes"):
                guarded(wl, "probes", wl.probe_layers)
        host = probes.fingerprint(java_version)
    finally:
        try:
            if spark is not None:
                stop_spark(spark, jvm_pid)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)

    end_to_end = {
        "setup_s": setup_s,
        "call_s": wl.median("call", False) or wl.median("call"),
        "side_s": wl.median("side", False) or wl.median("side"),
    }
    units = dict(END_TO_END)
    if args.trace:
        units = dict(workloads.PER_LAYER)
        values = wl.per_layer()
    else:
        values = end_to_end
    missing = [k for k, v in values.items() if v is None]
    for k in missing:
        wl.check(k, False, "no successful sample")
        values[k] = 0.0
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, "fault": args.fault,
        "run_id": tracer.run_id, "cycles": timed,
        "host": host, "steal_ticks": probes.steal_ticks() - steal0,
        "input_generation_s": gen_s,
        "end_to_end": end_to_end,
        "peak_rss_mb": wl.layers["memory.peak_rss_mb"],
        "samples": {r: [s.seconds for s in xs] for r, xs in wl.samples.items()},
        "per_layer": values if args.trace else None,
        "attempted": wl.attempted, "failed": wl.failed, "failures": wl.failures,
        "op_fail_ratio": wl.failed / max(1, wl.attempted),
    }
    write_json(os.path.join(WORK, "records", f"{args.workload}_{tracer.run_id}.json"),
               record)
    if args.trace:
        tracer.write(os.path.join(WORK, "traces", f"{args.workload}_{tracer.run_id}.json"),
                     {k: record[k] for k in ("workload", "seed", "run_id", "host")})
    for name, value in values.items():
        print(f"{name:40s} {value:14.6f} {units[name]}")
    print(f"{'op_fail_ratio':40s} {record['op_fail_ratio']:14.6f} ratio")
    for f in wl.failures:
        print(f"FAILED {f}")
    print(json.dumps({
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0


def guarded(wl, name: str, fn) -> None:
    """Run untimed work; an exception counts as one failed operation."""
    try:
        fn()
    except Exception as exc:  # report the failure, keep the run's result
        traceback.print_exc()
        wl.check(name, False, f"{type(exc).__name__}: {exc}")


def write_json(path: str, obj: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, default=str)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
