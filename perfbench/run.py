"""Benchmark entry point.

    python3 perfbench/run.py --workload log_batch --seed 1 --seconds 20 --trace 0

Run from the repository root. It generates the workload's inputs from
``--seed`` under ``.perfbench_work/`` in the repository, starts one Spark
session through ``session.get_spark``, sets the workload up, measures
for ``--seconds``, checks every output against the planted truth, stops
the JVM, removes its work directory and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
same workload with spans, job groups and a Spark event log and reports
the per-layer metrics instead. ``--size smoke`` shrinks every input to
its smallest size (used by ``perfbench/smoke_test.py``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

T_PROCESS = time.perf_counter()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("log_batch", "stream_upsert")


class Context:
    """What a workload gets: the session, the tracer, its work directory,
    the seed and the size preset."""

    def __init__(self, spark, tracer, work: str, seed: int, size: str) -> None:
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.size = size

    def dir(self, name: str) -> str:
        """A directory of the run's work area, created if missing."""
        p = os.path.join(self.work, name)
        os.makedirs(p, exist_ok=True)
        return p


def _stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        from log_analysis_bigdata_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)

    from perfbench import batch, spans, stream

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Keep Spark's and Python's scratch files inside the checkout.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
                                         f" -Dderby.system.home={os.path.join(work, 'derby')}",
    }
    if args.trace:
        conf.update(spans.event_log_conf(os.path.join(work, "eventlog")))

    module = {"log_batch": batch, "stream_upsert": stream}[args.workload]
    # SIGTERM unwinds through the finally below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spark = None
    try:
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
        session_s = time.perf_counter() - T_PROCESS
        gw = spark.sparkContext._gateway
        jvm_pid = getattr(getattr(gw, "proc", None), "pid", None)
        ctx = Context(spark, spans.Tracer(spark, bool(args.trace)), work, args.seed, args.size)
        wl = module.Workload(ctx)
        steps = wl.setup()
        # process start to the first timed operation, with the repeated
        # set-up step counted once, at its median
        setup_s = time.perf_counter() - T_PROCESS - sum(steps) + spans.median(steps)
        print(f"perfbench: session {session_s:.2f}s, set-up {setup_s:.2f}s, repeated step "
              + " ".join(f"{s:.2f}s" for s in steps), file=sys.stderr, flush=True)
        steal0, total0 = spans.cpu_jiffies()
        res = wl.run(args.seconds)
        steal1, total1 = spans.cpu_jiffies()
        jvm_mb = spans.jvm_peak_rss_mb(jvm_pid)
        _stop_spark(spark)
        spark = None
        metrics = {"setup_s": (setup_s, "s"), **res.end_to_end}
        kind = "end_to_end"
        if args.trace:
            kind = "per_layer"
            layer = wl.layer_metrics(spans.parse_event_log(os.path.join(work, "eventlog")))
            layer["jvm.peak_rss_mb"] = (jvm_mb, "MB")
            layer["python.peak_rss_mb"] = (spans.python_peak_rss_mb(), "MB")
            layer["host.steal_ratio"] = ((steal1 - steal0) / max(1, total1 - total0), "ratio")
            layer.update({f"traced.{k}": v for k, v in metrics.items()})
            metrics = layer
    finally:
        try:
            if spark is not None:
                _stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))  # only once no other run uses it
            except OSError:
                pass

    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": _declared(declared[kind], metrics),
    }))
    return 0


def _declared(declared: list[dict], measured: dict) -> dict:
    """Every metric BENCHMARK.json declares for this mode, with its unit.
    A per-layer metric of a layer this workload does not run reads 0."""
    units = {m["name"]: m["unit"] for m in declared}
    for name, (_, unit) in measured.items():
        if units.get(name) != unit:
            raise ValueError(f"metric {name} ({unit}) is not declared as such in BENCHMARK.json")
    return {name: {"value": float(measured.get(name, (0.0,))[0]), "unit": unit}
            for name, unit in units.items()}


if __name__ == "__main__":
    sys.exit(main())
