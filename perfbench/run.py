"""StreamFlow benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload headline_queries --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Inputs are generated from the seed
into ``.perfbench_work/inputs`` (cached per workload, seed and size),
then the engine is driven in-process on ``local[min(nproc, 4)]``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` they are its per-layer metrics, taken from a traced run
that follows an untraced one in the same process (their difference is
reported as the tracing overhead). The lines before it are the
host-drift record, the run's details and, when traced, the layer
report.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WORKLOADS = ("headline_queries", "landing_job")


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    p.add_argument(
        "--size", default="full", choices=("full", "tiny"),
        help="input size class; tiny is for the smoke test")
    args = p.parse_args(argv)
    if args.seconds < 1:
        p.error("--seconds must be at least 1")
    return args


# -- host-drift record ----------------------------------------------------------

def calibrate() -> float:
    """A fixed pure-Python loop, best of three, in seconds: it moves
    with the host's speed and not with the engine's code."""
    best = float("inf")
    for _ in range(3):
        start = time.perf_counter()
        acc = 0
        for i in range(400_000):
            acc = (acc * 31 + i) % 1_000_003
        sorted(str(i * 7919 % 10007) for i in range(50_000))
        best = min(best, time.perf_counter() - start)
    return best


def code_identity() -> dict:
    """The git commit when the checkout is a repository, and always a
    hash of the engine's sources."""
    digest = hashlib.sha256()
    pkg = os.path.join(ROOT, "group5_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                digest.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    digest.update(fh.read())
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {"git_commit": commit, "engine_sha256": digest.hexdigest()}


# -- session --------------------------------------------------------------------

def new_session(work: str, event_log_dir: str | None = None):
    """A session with the engine's defaults; scratch space stays in the
    checkout, the UI is off, and the event log is on only when traced."""
    from group5_spark.session import create_spark_session

    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    cpus = min(os.cpu_count() or 1, 4)
    spark = create_spark_session("perfbench", master=f"local[{cpus}]", config_overrides=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def jvm_live_heap_mb(spark) -> float:
    """Heap in use after a full collection: what the session retains."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


def stop_jvm() -> None:
    """Stop the gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


# -- statistics -----------------------------------------------------------------

def tail(samples: list[float]) -> tuple[float | None, float | None]:
    """The highest percentile with at least ten samples above it, as
    (percentile, value); (None, None) below eleven samples."""
    n = len(samples)
    if n < 11:
        return None, None
    ranked = sorted(samples)
    return round(100 * (n - 10) / n, 1), ranked[n - 11]


def measure(workload, spark, seconds: int, tag: str) -> list:
    """Passes until ``seconds`` have elapsed, at least one."""
    passes = []
    start = time.perf_counter()
    while not passes or time.perf_counter() - start < seconds:
        passes.append(workload.run_pass(spark, f"{tag}{len(passes)}"))
    return passes


def summarize(passes: list) -> dict:
    ops = [x for p in passes for x in p.ops_s]
    pct, tail_s = tail(ops)
    return {
        "passes": len(passes),
        "pass_s": statistics.median(p.wall_s for p in passes),
        "op_p50_s": statistics.median(ops) if ops else None,
        "op_samples": len(ops),
        "op_tail_percentile": pct,
        "op_tail_s": tail_s,
        "pass_detail": [p.detail for p in passes if p.detail],
    }


# -- main -----------------------------------------------------------------------

def main(argv: list[str]) -> int:
    args = parse_args(argv)
    try:
        import group5_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is missing: {exc}", file=sys.stderr)
        return 2

    import pyspark.sql  # noqa: F401

    import group5_spark.session  # noqa: F401
    from perfbench import inputs, report, workloads
    from perfbench.tracing import NullTracer, Probes, Tracer

    # set-up counts the interpreter's start and the imports
    import_s = time.perf_counter() - PROCESS_START

    work = os.path.join(ROOT, ".perfbench_work")
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}-{int(time.time())}"
    run_dir = os.path.join(work, "runs", run_id)
    os.makedirs(run_dir)
    # every process this run starts keeps its scratch files in the
    # checkout: Spark, Python workers, and both JVMs spark-submit runs
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"

    gen_start = time.perf_counter()
    data = inputs.ensure_inputs(work, args.workload, args.seed, args.size)
    gen_s = time.perf_counter() - gen_start
    host = {"calibration_before_s": calibrate()}

    ctx = workloads.Context(ROOT, run_dir, args.seed, NullTracer())
    if args.workload == "headline_queries":
        workload = workloads.HeadlineQueries(ctx, data)
    else:
        workload = workloads.LandingJob(ctx, data)

    # set-up: one start of the engine, as a user pays it on every run;
    # process start (imports) plus the driver JVM's launch, the session
    # and the workload's set-up
    try:
        start = time.perf_counter()
        spark = new_session(work)
        session_create_s = time.perf_counter() - start
        workload.setup(spark)
        setup_s = import_s + time.perf_counter() - start

        warm_start = time.perf_counter()
        workload.warmup(spark)
        if args.trace:
            # the traced half runs warm, so the untraced half it is
            # compared with must too
            workload.run_pass(spark, "w")
        warmup_s = time.perf_counter() - warm_start
        untraced = summarize(measure(workload, spark, args.seconds, "p"))
        py_rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        rss_mb = jvm_peak_rss_mb(spark) + py_rss_mb
        heap_mb = jvm_live_heap_mb(spark)
        host.update({
            "master": spark.sparkContext.master,
            "cpus": spark.sparkContext.defaultParallelism,
            "nproc": os.cpu_count(),
            "pyspark": spark.version,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            **code_identity(),
        })

        end_to_end = {
            "setup_s": setup_s,
            "driver_memory_mb": heap_mb + py_rss_mb,
            "pass_s": untraced["pass_s"],
            "op_p50_s": untraced["op_p50_s"],
        }
        if args.trace:
            # the traced half restarts the session in this JVM, so its
            # set-up is compared with an untraced restart, not a cold cycle
            spark.stop()
            start = time.perf_counter()
            spark = new_session(work)
            workload.setup(spark)
            untraced_e2e = {**end_to_end, "setup_s": time.perf_counter() - start}
            spark.stop()
            ctx.tracer = tracer = Tracer(run_id)
            log_dir = os.path.join(run_dir, "eventlog")
            with Probes(tracer):
                start = time.perf_counter()
                spark = new_session(work, event_log_dir=log_dir)
                workload.setup(spark)
                traced_setup_s = time.perf_counter() - start
                traced = summarize(measure(workload, spark, args.seconds, "t"))
            traced_e2e = {
                "setup_s": traced_setup_s,
                "driver_memory_mb": jvm_live_heap_mb(spark) + (
                    resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024),
                "pass_s": traced["pass_s"],
                "op_p50_s": traced["op_p50_s"],
            }
            spark.stop()  # closes the event log
            metrics, report_lines = report.build(
                tracer, log_dir, args.workload, untraced_e2e, traced_e2e,
                traced["pass_detail"], session_create_s,
                os.path.join(work, "traces", run_id))
        else:
            report_lines = []
            units = {"setup_s": "s", "driver_memory_mb": "MB", "pass_s": "s", "op_p50_s": "s"}
            metrics = {k: {"value": v, "unit": units[k]} for k, v in end_to_end.items()}
            spark.stop()
    finally:
        stop_jvm()
    host["calibration_after_s"] = calibrate()
    shutil.rmtree(run_dir, ignore_errors=True)

    detail = {
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "import_s": import_s, "session_create_s": session_create_s,
        "warmup_s": warmup_s, "input_generation_s": gen_s,
        "peak_rss_mb": rss_mb, "jvm_live_heap_mb": heap_mb, "python_peak_rss_mb": py_rss_mb,
        **untraced,
        "errors": ctx.errors[:20],
    }
    print(json.dumps({"host": host}))
    print(json.dumps({"detail": detail}))
    for line in report_lines:
        print(line)
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
