"""Harvest benchmark for gleaner_spark.

    python3 perfbench/run.py --workload harvest_cc --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
in this process; Spark runs on ``local[4]``. After set-up and an
untimed warm-up, the workload's public entry point runs repeatedly for
``--seconds`` seconds; every iteration is checked against the
generator's known answers. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics (medians over iterations), ``--trace 1``
the per-layer metrics from a traced run (spans, Spark event log,
single-threaded kernel timings).

Scratch state lives under ``.perfbench_work/`` in the checkout and is
removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(work: str, trace: bool, jvm_options: str = "") -> None:
    """Environment for the Spark driver JVM and its Python workers,
    set before the session starts. Everything Spark writes stays under
    ``work``; ``jvm_options`` are added to the driver JVM's."""
    from archive import CONF_DIR

    os.makedirs(CONF_DIR, exist_ok=True)

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    confs = [
        "spark.ui.showConsoleProgress=false",
        f"spark.local.dir={os.path.join(work, 'spark-local')}",
        f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        # the whole heap is committed and touched at start, so the
        # driver's RSS does not depend on how far G1 grew the heap
        f"spark.driver.defaultJavaOptions=-Xms1g -XX:+AlwaysPreTouch {jvm_options}".strip(),
    ]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        confs += ["spark.eventLog.enabled=true", f"spark.eventLog.dir=file://{log_dir}",
                  "spark.eventLog.compress=false"]
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p),
        "TMPDIR": tmp,
        # C1 only: C2 compilation does not settle within the few
        # harvests a bounded run can afford, and its compiler threads
        # add CPU noise; with C1 one warm-up reaches a steady state.
        # C1 alone defaults to a 48 MB code cache, which Spark fills.
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
                             "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_CONF_DIR": CONF_DIR,
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_DRIVER_MEMORY": "1g",
        "PYSPARK_SUBMIT_ARGS": " ".join(f"--conf '{c}'" for c in confs) + " pyspark-shell",
    })


def start_spark():
    from gleaner_spark.session import build_session

    spark = build_session("perfbench", master=f"local[{CORES}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - a JVM that will not stop is killed
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Iteration:
    """Measurements of one timed call."""

    def __init__(self, ctx_i, t0, t1, wall_s, cpu_s, box_cpu_s, steal_s, rss_mb,
                 lake_files, lake_bytes, outcome):
        self.ctx_i = ctx_i
        self.t0 = t0
        self.t1 = t1
        self.wall_s = wall_s
        self.cpu_s = cpu_s
        self.box_cpu_s = box_cpu_s
        self.steal_s = steal_s
        self.rss_mb = rss_mb
        self.lake_files = lake_files
        self.lake_bytes = lake_bytes
        self.outcome = outcome


def timed_call(w, ctx, tracer=None) -> Iteration:
    from probe import RssSampler, cpu_times, dir_bytes, tree_cpu_s

    files0, bytes0 = dir_bytes(ctx["lake"])
    busy0, steal0 = cpu_times()
    cpu0 = tree_cpu_s(os.getpid())
    with RssSampler() as rss:
        epoch0 = time.time()
        t0 = time.perf_counter()
        out = w.run(ctx, tracer)
        wall = time.perf_counter() - t0
        epoch1 = time.time()
    cpu1 = tree_cpu_s(os.getpid())
    busy1, steal1 = cpu_times()
    files1, bytes1 = dir_bytes(ctx["lake"])
    outcome = w.check(ctx, out)
    return Iteration(ctx["i"], epoch0, epoch1, wall, cpu1 - cpu0, busy1 - busy0,
                     steal1 - steal0, rss.peak_mb, files1 - files0, bytes1 - bytes0, outcome)


def run_iterations(w, seconds: float, tracer=None, label="t",
                   min_iterations: int = 1) -> list[Iteration]:
    """Call the entry point until ``seconds`` have passed (at least
    ``min_iterations`` times); per-iteration state is prepared untimed."""
    its = []
    start = time.perf_counter()
    while len(its) < min_iterations or time.perf_counter() - start < seconds:
        ctx = w.prepare(f"{label}{len(its)}")
        if tracer is not None:
            tracer.iteration = ctx["i"]
        try:
            its.append(timed_call(w, ctx, tracer))
        finally:
            if tracer is not None:
                tracer.iteration = None
            w.cleanup(ctx)
    return its


def end_to_end(its: list[Iteration], setup_s: float) -> dict:
    def m(value, unit):
        return {"value": value, "unit": unit}

    checked = sum(i.outcome.checked for i in its)
    identical = sum(i.outcome.identical for i in its)
    return {
        "wall_s": m(median([i.wall_s for i in its]), "s"),
        "units_per_s": m(median([i.outcome.units / i.wall_s for i in its]), "1/s"),
        "setup_s": m(setup_s, "s"),
        "cpu_s": m(median([i.cpu_s for i in its]), "s"),
        "peak_rss_mb": m(median([i.rss_mb for i in its]), "MB"),
        "lake_bytes_per_doc_byte": m(
            median([i.lake_bytes / max(1, i.outcome.doc_bytes) for i in its]), "ratio"),
        "byte_identical_rate": m(identical / checked if checked else 0.0, "ratio"),
    }


def bench(args, work: str) -> dict:
    import workloads

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(workloads.WORKLOADS)}")
    t0 = time.perf_counter()
    w = workloads.WORKLOADS[args.workload](None, os.path.join(work, "data"), args.seed)
    os.makedirs(w.work)
    # setup() needs no Spark: the inputs are made while the session starts
    pool = ThreadPoolExecutor(1)
    inputs = pool.submit(w.setup)
    spark = start_spark()
    t_spark = time.perf_counter()
    try:
        inputs.result()
        pool.shutdown()
        t_inputs = time.perf_counter()
        w.spark = spark
        w.warmup()
        setup_s = time.perf_counter() - t0
        setup_parts = {"spark_s": round(t_spark - t0, 2), "inputs_wait_s": round(t_inputs - t_spark, 2),
                       "warmup_s": round(t0 + setup_s - t_inputs, 2)}
        if args.trace:
            import layers

            its, metrics = layers.traced_run(w, args.seconds, run_iterations)
        else:
            its = run_iterations(w, args.seconds, min_iterations=w.iterations)
            metrics = end_to_end(its, setup_s)
    finally:
        stop_spark(spark)
    failed = [i for i in its if i.outcome.problems]
    for i in failed:
        print(f"check failed: {i.outcome.problems}", file=sys.stderr)
    rate = metrics.get("byte_identical_rate", {}).get("value", 1.0)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "nproc": os.cpu_count(),
        "iterations": len(its), "setup": setup_parts,
        "box_busy_cpu_s": [round(i.box_cpu_s, 2) for i in its],
        "steal_s": [round(i.steal_s, 3) for i in its],
        "rss_mb": [round(i.rss_mb) for i in its],
        "cpu_s": [round(i.cpu_s, 2) for i in its],
        "wall_s": [round(i.wall_s, 4) for i in its],
    }), file=sys.stderr)
    return {
        "correct": not failed and rate == 1.0,
        "attempted": len(its),
        "failed": len(failed),
        "metrics": metrics,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "gleaner_spark", "__init__.py")):
        print(f"gleaner_spark not found under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import archive

    archive.ensure()
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(work)
    configure_env(work, bool(args.trace), archive.jvm_options())
    try:
        result = bench(args, work)
    finally:
        from probe import wait_for_children

        wait_for_children()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
