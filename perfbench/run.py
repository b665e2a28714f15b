"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout of this repository: it builds nothing,
imports `lucene_rust_spark` from the current directory, and keeps every
file it writes under `.perfbench_work/` (deleted on exit) and, for traced
runs, the span record under `.perfbench_out/`.

Prints one line per metric, then, as the last line of stdout, one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json; with --trace 1 they
are its per-layer metrics. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
DRIVER_MEMORY = "4g"


def _die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_env(work: str, trace: bool) -> None:
    """Keep every file Spark, the JVM and Python write inside `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in conf.items()
    ) + " pyspark-shell"


def _import_engine() -> None:
    """The engine must come from the checkout this runs in."""
    sys.path.insert(0, ROOT)
    try:
        import lucene_rust_spark
    except ImportError as e:
        _die(f"cannot import lucene_rust_spark from {ROOT}: {e}")
    if not os.path.abspath(lucene_rust_spark.__file__).startswith(ROOT + os.sep):
        _die(f"lucene_rust_spark resolves outside {ROOT}: {lucene_rust_spark.__file__}")


def _stop(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _tail(values: list[float]) -> tuple[float, float] | None:
    """(value, p) for the highest of p90/p95/p99 with >= 10 samples beyond it."""
    xs = sorted(values)
    for p in (99, 95, 90):
        if len(xs) * (100 - p) / 100 >= 10:
            return xs[math.ceil(p / 100 * len(xs)) - 1], p
    return None


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    layer_units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        _die(f"unknown workload {args.workload!r}")
    _import_engine()

    import probes
    import spans
    import workloads

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work, bool(args.trace))
    cores = _cores()
    tracer = spans.Tracer(bool(args.trace), args.workload)
    spark = None
    try:
        from lucene_rust_spark.session import get_spark

        with tracer.span("session.start"):
            t0 = time.perf_counter()
            spark = get_spark(app=f"perfbench-{args.workload}", cores=cores,
                              driver_memory=DRIVER_MEMORY)
            spark.sparkContext.setLogLevel("ERROR")
            session_s = time.perf_counter() - t0
        if args.trace:
            tracer.bind(spark.sparkContext)
        ctx = workloads.Ctx(spark, tracer, work, cores, args.seed, args.seconds)
        e2e = workloads.WORKLOADS[args.workload](ctx, session_s)
        if args.trace:
            probes.run_all(ctx, e2e, session_s)
        _stop(spark)
        spark = None
        if args.trace:
            probes.from_event_log(ctx, os.path.join(work, "eventlog"))
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            tracer.write(os.path.join(out, f"spans-{args.workload}-{args.seed}.json"))
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    for note in ctx.notes:
        print(note)
    samples = e2e["_samples"]
    print(f"workload {args.workload} seed {args.seed}: {samples} timed ops, "
          f"failed_op_ratio {ctx.failed / max(ctx.attempted, 1):.4f} "
          f"({ctx.failed}/{ctx.attempted}), correct={ctx.failed == 0}")
    tail = _tail(e2e["_ops_ms"])
    if tail:
        print(f"  op_p{tail[1]}_ms = {tail[0]} ms (n={samples})")
    else:
        print(f"  no tail percentile has >= 10 of the {samples} samples beyond it")
    if args.trace:
        metrics = {}
        for name, unit in layer_units.items():
            v = ctx.layer.get(name)
            if v is None:
                continue
            metrics[name] = {"value": v, "unit": unit}
            print(f"  {name} = {v} {unit}")
        missing = sorted(set(layer_units) - set(metrics))
        if missing:
            print(f"  not measured: {', '.join(missing)}")
    else:
        metrics = {}
        for m in spec["end_to_end"]:
            metrics[m["name"]] = {"value": e2e[m["name"]], "unit": m["unit"]}
            print(f"  {m['name']} = {e2e[m['name']]} {m['unit']} (n={samples})")
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
