"""Benchmark of the star-schema ETL package: one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The run generates its inputs (``datagen``,
fixed data seed), starts a Spark session sized to the usable cores, sets up
and warms the workload, then runs one closed-loop client for ``--seconds``
seconds (a fixed number of ops per workload, sized from ``--seconds``), checks
every output against DuckDB or known counts, and prints a run record followed
by one JSON result line (the last line of stdout).

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` wraps the
package's layers in spans (``spans.py``), traces every other round, and reports
the per-layer metrics plus the tracing overhead: traced minus untraced ops
for the op metrics, and the tracer's own time for set-up.

Everything the run writes lives under ``.perfbench_tmp/`` in the working
directory and is removed before exit.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

sys.dont_write_bytecode = True

HERE = Path(__file__).resolve().parent
PACKAGE = "etl_airflow_adventureworks_spark"
#: input size: half the sf0.1 test data (75k orders, ~300k lineitems, 2.5k docs)
SCALE = 0.05
#: Spark driver heap; the inputs are about 6 MB of parquet
DRIVER_MEMORY = "3g"

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "op_mean_ms": "ms",
    "data_mb": "MB",
}


def usable_cores() -> int:
    return len(os.sched_getaffinity(0))


def steal_ticks() -> int | None:
    """Cumulative CPU steal ticks of the host (``/proc/stat``), if exposed."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
    except OSError:
        return None
    return int(fields[8]) if fields[0] == "cpu" and len(fields) > 8 else None


def parse_args(argv: list[str] | None):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=26.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    return args


def start_spark(tmp: Path, cores: int):
    """Session from the package's own factory, with every path it may
    write under ``tmp``."""
    from etl_airflow_adventureworks_spark.session import get_spark

    java_tmp = tmp / "java"
    java_tmp.mkdir()
    opts = f"-Djava.io.tmpdir={java_tmp} -Dderby.system.home={tmp / 'derby'}"
    return get_spark(
        app_name="perfbench",
        cpus=cores,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": opts,
            "spark.sql.warehouse.dir": str(tmp / "spark-warehouse"),
            "spark.local.dir": str(tmp / "local"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def closed_loop(wl, tracer, seconds: float, trace: bool):
    """One client: start the next op when the previous one returned, for a
    fixed number of ops (``wl.measured_ops(seconds)``), so every run times
    the same window of the workload's warm-up curve whatever the host's
    speed. In a traced run every other round is traced, so traced and
    untraced ops run the same mix."""
    from loadgen import OpLog

    log = OpLog()
    traced: list[bool] = []
    n = wl.measured_ops(seconds, trace)
    for i in range(wl.warmup_ops, wl.warmup_ops + n):
        on = trace and ((i - wl.warmup_ops) // wl.round_ops) % 2 == 1
        tracer.enabled, tracer.op = on, i
        t0 = time.perf_counter()
        try:
            with tracer.span("op"):
                wl.op(i)
        except Exception:  # a failed op is counted, and the client goes on
            traceback.print_exc()
            log.record(None, ok=False)
        else:
            log.record(time.perf_counter() - t0, ok=True)
            traced.append(on)
            tracer.enabled = False
            wl.after_op(i)
    tracer.enabled = False
    return log, traced


def split(values: list[float], traced: list[bool], want: bool) -> list[float]:
    return [v for v, t in zip(values, traced) if t == want]


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, str(HERE))
    args = parse_args(argv)
    root = Path.cwd()
    sys.path.insert(1, str(root))
    spec = importlib.util.find_spec(PACKAGE)
    # measure the checkout's package, never an installed copy
    if spec is None or not str(spec.origin).startswith(str(root)):
        print(f"perfbench: package {PACKAGE} not found under {root}", file=sys.stderr)
        return 2
    tmp = root / ".perfbench_tmp" / f"run-{os.getpid()}"
    tmp.mkdir(parents=True)
    # everything Python, the JVM and Spark write goes under tmp
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "local")
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    tempfile.tempdir = str(tmp)
    # a terminated run still stops its JVM and removes tmp (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        return run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        with contextlib.suppress(OSError):
            tmp.parent.rmdir()


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args, tmp: Path) -> int:
    cores = usable_cores()
    env = {"nproc": cores, "loadavg_start": os.getloadavg(), "steal_start": steal_ticks()}
    t_setup = time.perf_counter()
    spark = start_spark(tmp, cores)
    session_s = time.perf_counter() - t_setup
    try:
        return measure(args, spark, tmp, cores, env, t_setup, session_s)
    finally:
        stop_spark(spark)


def measure(args, spark, tmp: Path, cores: int, env: dict, t_setup: float, session_s: float) -> int:
    import datagen
    from spans import PER_LAYER, Tracer, layer_means
    from workloads import WORKLOADS, Context

    tracer = Tracer(spark)
    if args.trace:
        tracer.install()
        tracer.enabled = True
    scale = datagen.Scale.sf(SCALE)
    inputs = str(tmp / "inputs")
    t0 = time.perf_counter()
    counts = datagen.write_inputs(scale, inputs)
    ctx = Context(
        spark=spark,
        inputs=inputs,
        tmp=str(tmp),
        scale=scale,
        lineitems=counts["lineitem"],
        seed=args.seed,
        tracer=tracer,
    )
    ctx.info["input_rows"] = counts
    ctx.info["input_sha256"] = datagen.checksum(inputs)
    ctx.info["inputs_s"] = time.perf_counter() - t0
    wl = WORKLOADS[args.workload](ctx)
    t0 = time.perf_counter()
    wl.setup()
    ctx.info["workload_setup_s"] = time.perf_counter() - t0
    warm = []
    for i in range(wl.warmup_ops):
        t0 = time.perf_counter()
        wl.op(i)
        warm.append(round((time.perf_counter() - t0) * 1e3, 1))
        wl.after_op(i)
    ctx.info["warmup_op_ms"] = warm
    tracer.enabled = False
    setup_s = time.perf_counter() - t_setup
    setup_trace_s = tracer.own_s

    log, traced = closed_loop(wl, tracer, args.seconds, bool(args.trace))
    wrong = wl.check()
    warmup_wrong = any(wrong[: wl.warmup_ops])
    log.fail_checked(sum(wrong[wl.warmup_ops :]))
    if args.trace and args.workload == "curate_docs" and wl.last is not None:
        tracer.extra.update(wl.stage_audit())
    tracer.unpatch()

    env.update(
        master=spark.sparkContext.master,
        default_parallelism=spark.sparkContext.defaultParallelism,
        loadavg_end=os.getloadavg(),
        steal_end=steal_ticks(),
    )
    lat = log.latencies
    sizes = [b * 1e-6 for b in wl.bytes[wl.warmup_ops :]]

    def e2e(lat_s: list[float], mb: list[float]) -> dict[str, float | None]:
        return {
            "op_p50_ms": statistics.median(lat_s) * 1e3 if lat_s else None,
            "op_mean_ms": statistics.fmean(lat_s) * 1e3 if lat_s else None,
            "data_mb": statistics.median(mb) if mb else None,
        }

    values = {"setup_s": setup_s, **e2e(lat, sizes)}
    if args.trace:
        metrics = layer_means(tracer, cores)
        metrics["session.start_s"] = session_s
        on, off = e2e(split(lat, traced, True), split(sizes, traced, True)), e2e(
            split(lat, traced, False), split(sizes, traced, False)
        )
        for k in on:
            metrics[f"overhead.{k}"] = on[k] - off[k]
        metrics["overhead.setup_s"] = setup_trace_s
        metrics["trace.traced_ops"] = sum(traced)
        metrics["trace.untraced_ops"] = len(traced) - sum(traced)
        out = {k: {"value": metrics[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        out = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}

    named = {k: {"value": v, "unit": u} for k, (v, u) in wl.named_metrics(lat).items()}
    named["error_rate"] = {"value": log.error_rate, "unit": "ratio"}
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "warmup_ops": wl.warmup_ops,
        "window_ops": log.attempted,
        "ops": len(lat),
        "op_ms": [round(x * 1e3, 1) for x in lat],
        "session_start_s": session_s,
        "end_to_end": values,
        "named_metrics": named,
        "env": env,
        **ctx.info,
    }
    if args.trace:
        record["spans"] = len(tracer.spans)
    print("perfbench record " + json.dumps(record, default=str))
    correct = (
        log.failed == 0 and not warmup_wrong and all(v["value"] is not None for v in out.values())
    )
    print(
        json.dumps(
            {"correct": correct, "attempted": log.attempted, "failed": log.failed, "metrics": out}
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
