"""Benchmark runner for the mq_to_db_spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  Prints progress to stderr and, as the last
line of stdout, one JSON object ``{"correct", "attempted", "failed",
"metrics"}``.  ``--trace 0`` reports the end-to-end metrics of
``BENCHMARK.json``; ``--trace 1`` re-runs the same workload with spans and
Spark's event log on and reports the per-layer metrics instead.

Everything the run writes goes under ``.perfbench/`` in the current
directory; the store and inputs are deleted at exit, the span log kept.
The inputs are generated by ``loadgen.py`` in a child process while the
Spark session starts.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))

#: driver heap, identical on every run and both sides of a comparison;
#: pretouched so first-touch page faults do not land inside timed ops
DRIVER_MEM = "1g"


T_START = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench: [{time.perf_counter() - T_START:6.1f}s] {msg}", file=sys.stderr)


def fail(msg: str, code: int = 2):
    log(msg)
    sys.exit(code)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (smoke test: 0.2)")
    ap.add_argument(
        "--corrupt", action="store_true",
        help="tamper with one result before the checks (smoke test: the run must report failed > 0)",
    )
    return ap.parse_args(argv)


def source_digest(root: str) -> str:
    """sha256 over the program's sources: identifies the code under test
    where no git metadata exists (the checkout may not be a repository)."""
    h = hashlib.sha256()
    files = [os.path.join(root, "__spark_entry__.py")]
    for d, _, names in os.walk(os.path.join(root, "mq_to_db_spark")):
        files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def host_info(spark, root: str) -> dict:
    def git_commit():
        try:
            out = subprocess.run(
                ["git", "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10, cwd=root,
                # never look for a repository above the checkout
                env={**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(root)},
            )
        except OSError:
            return None
        return out.stdout.strip() if out.returncode == 0 else None

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mib": os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20,
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "git_commit": git_commit(),
        "source_sha256": source_digest(root),
        "driver_mem": DRIVER_MEM,
    }


def _jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def _vm_hwm_kib(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Ctx:
    """Run-wide state handed to the workload."""

    def __init__(self, args, run_dir, inputs, spark, tracer):
        self.seed = args.seed
        self.scale = args.scale
        self.run_dir = run_dir
        #: the generated inputs and their ``meta.json``
        self.inputs = inputs
        with open(os.path.join(inputs, "meta.json")) as f:
            self.meta = json.load(f)
        self.spark = spark
        self.tracer = tracer
        self.setup_stats: dict[str, float] = {}


def start_spark(run_dir: str, nproc: int, event_log: str | None):
    from mq_to_db_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # -UsePerfData: the JVMs would otherwise write hsperfdata under /tmp
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    return get_spark(
        app_name="perfbench", master=f"local[{nproc}]", shuffle_partitions=nproc, extra_conf=conf
    )


def start_loadgen(args, root: str, out: str) -> subprocess.Popen:
    cmd = [
        sys.executable, os.path.join(HERE, "loadgen.py"), "--workload", args.workload,
        "--seed", str(args.seed), "--scale", str(args.scale), "--out", out,
    ]
    # stdout carries only the result line
    return subprocess.Popen(cmd, env={**os.environ, "PYTHONPATH": root}, stdout=sys.stderr)


def wait_loadgen(proc: subprocess.Popen) -> None:
    try:
        code = proc.wait(timeout=120)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise RuntimeError("input generation timed out")
    if code != 0:
        raise RuntimeError(f"input generation exited {code}")


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_ops(workload, seconds: float, tracer):
    """Closed loop over the workload's fixed op sequence, one op at a
    time, until ``seconds`` have elapsed and at least one whole pass of
    the sequence has run.  Returns the op records and the wall time of
    every whole pass."""
    ops, passes = [], []
    start = time.perf_counter()
    while True:
        p0 = time.perf_counter()
        for op in workload.op_cycle():
            if passes and time.perf_counter() - start >= seconds:
                return ops, passes
            rec = {"kind": op.kind, "name": op.name, "ok": True}
            t0 = time.perf_counter()
            try:
                with tracer.span(f"op:{op.name}") as span:
                    rec.update(op.fn() or {})
                rec["span"] = span["id"] if span else None
            except Exception as e:  # an op that raises counts as failed
                rec["ok"] = False
                rec["error"] = f"{type(e).__name__}: {e}"
                log(f"op {op.name} failed: {rec['error']}")
                traceback.print_exc()
            rec["s"] = time.perf_counter() - t0
            log(f"op {op.name} {rec['s']:.3f}s")
            ops.append(rec)
        passes.append(time.perf_counter() - p0)
        if time.perf_counter() - start >= seconds:
            return ops, passes


def guarded(fn) -> str | None:
    """Run ``fn``; an exception becomes the error of one failed check
    instead of ending the run without a result."""
    try:
        fn()
    except Exception as e:
        traceback.print_exc()
        return f"raised {type(e).__name__}: {e}"
    return None


def e2e_metrics(setup_s, ops, passes, rss_mib):
    from workloads import op_latency

    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_latency_s": {"value": op_latency(ops), "unit": "s"},
        "pass_s": {"value": statistics.median(passes), "unit": "s"},
        "peak_rss_mb": {"value": rss_mib, "unit": "MiB"},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not (
        os.path.isfile(os.path.join(root, "mq_to_db_spark", "__init__.py"))
        and os.path.isfile(os.path.join(root, "__spark_entry__.py"))
    ):
        fail("run from the repository root: mq_to_db_spark/ and __spark_entry__.py not found")
    sys.path[:0] = [root, HERE]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        fail(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}")
    if args.seconds <= 0:
        fail("--seconds must be positive")

    run_dir = os.path.join(root, ".perfbench", f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    event_log = os.path.join(run_dir, "eventlog") if args.trace else None

    import spans as tracemod

    t_session = time.perf_counter()
    inputs = os.path.join(run_dir, "inputs")
    gen = start_loadgen(args, root, inputs)
    try:
        spark = start_spark(run_dir, nproc, event_log)
    except BaseException:
        gen.kill()
        gen.wait()
        raise
    session_s = time.perf_counter() - t_session
    log(f"session up in {session_s:.1f}s")
    uninstall = lambda: None  # noqa: E731
    try:
        wait_loadgen(gen)
        log(f"inputs written at {time.perf_counter() - t_session:.1f}s")
        tracer = tracemod.Tracer(spark.sparkContext) if args.trace else tracemod.NullTracer()
        if args.trace:
            uninstall = tracemod.install(tracer)
        ctx = Ctx(args, run_dir, inputs, spark, tracer)
        workload = workloads.WORKLOADS[args.workload](ctx)
        with tracer.span("setup"):
            workload.setup()
            log("set-up done")
            workload.warm_up()
        setup_s = time.perf_counter() - t_session
        log("warm-up done")

        ops, passes = run_ops(workload, args.seconds, tracer)
        # before any check: the DuckDB oracles are not the program's memory
        rss_mib = (_vm_hwm_kib(_jvm_pid()) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0

        extras, checks = {}, []
        if args.trace:
            for name, fn in workload.trace_extras():
                with tracer.span(name) as span:
                    checks.append((f"trace:{name}", guarded(fn)))
                extras[name] = span
        log("timed phase done")
        if args.corrupt:
            workload.corrupt()
        with tracer.span("checks"):
            err = guarded(lambda: checks.extend(workload.checks()))
        if err:
            checks.append(("checks", err))
        for name, err in checks:
            if err:
                log(f"check {name} FAILED: {err}")
        log(f"checks done: {len(checks)}")
        info = host_info(spark, root)
    finally:
        uninstall()
        stop_spark(spark)

    log("session stopped")
    attempted = len(ops) + len(checks)
    failed = sum(not o["ok"] for o in ops) + sum(err is not None for _, err in checks)
    if args.trace:
        import layers

        metrics = layers.per_layer(
            tracer, event_log, ops, extras, ctx.setup_stats, session_s
        )
        tracer.dump(os.path.join(root, ".perfbench", f"{args.workload}-seed{args.seed}.spans.json"))
    else:
        metrics = e2e_metrics(setup_s, ops, passes, rss_mib)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "host": info}), file=sys.stderr)
    shutil.rmtree(run_dir, ignore_errors=True)
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
