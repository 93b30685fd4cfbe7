#!/usr/bin/env python3
"""ariadne_spark benchmark: one workload per invocation.

    python3 perfbench/run.py --workload pipeline_batch --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout on local[<usable cpus>] in one driver
process. Inputs are generated from --seed; stores are built by the
code under test in every run and deleted at its end. Scratch files
live under .perfbench_work/ in the checkout, and nothing is read or
written outside the checkout.

--trace 0 prints the end-to-end metrics; --trace 1 turns on a local
Spark event log and span recording around the pipeline's store, and
prints the per-layer metrics instead. Human-readable lines come first;
the last stdout line is one JSON object:
    {"correct", "attempted", "failed", "metrics": {name: {value, unit}}}
See perfbench/README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
RUN_DIR = os.path.join(WORK, "run")

# driver JVM heap (spark.driver.memory) and its fixed young generation
DRIVER_HEAP = "4g"
YOUNG_GEN = "512m"

E2E_UNITS = {"setup_s": "s", "op_p50_s": "s", "throughput_per_s": "1/s", "peak_rss_mb": "MB"}


class Run:
    """State shared by the harness and a workload for one invocation."""

    def __init__(self, args, tracer, cores: int):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.tracer = tracer
        self.cores = cores
        self.dir = RUN_DIR
        self.spark = None
        self.kernel_blobs = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def fail(self, problem: str) -> None:
        self.failed += 1
        self.problems.append(problem)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate_environment() -> None:
    """Pin BLAS to one thread per process and keep every temp file,
    shuffle file and JVM scratch file inside the checkout."""
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[v] = "1"
    tmp = os.path.join(RUN_DIR, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # the JVM that spark-submit starts to build the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(RUN_DIR, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)


def start_session(cores: int, trace: bool):
    from ariadne_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(RUN_DIR, "warehouse"),
        # The heap is fully sized from the start and the young generation
        # fixed, so the driver JVM's footprint follows the data the
        # program keeps, not G1's time-based heap and eden sizing, which
        # alone moved the JVM's peak RSS by 0.8 GB between runs.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData "
            f"-Xms{DRIVER_HEAP} -Xmn{YOUNG_GEN}",
        # keep small fixture scans wide (bench.py)
        "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
        "spark.sql.files.openCostInBytes": str(1 * 1024 * 1024),
    }
    if trace:
        log_dir = os.path.join(RUN_DIR, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(cores=cores, app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and its JVM; the JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "ariadne_spark", "__init__.py")):
        print(f"perfbench: no ariadne_spark package under {ROOT}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2
    shutil.rmtree(RUN_DIR, ignore_errors=True)
    isolate_environment()

    from harness import RssSampler, Tracer, noise_probe_s, wait_for_exit
    from workloads import WORKLOADS, phash_us_per_image

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]()
    cores = len(os.sched_getaffinity(0))
    tracer = Tracer(f"{args.workload}-seed{args.seed}-trace{args.trace}")
    run = Run(args, tracer, cores)

    noise = [noise_probe_s()]
    t_start = time.perf_counter()
    rss = RssSampler()
    try:
        with rss:
            try:
                with tracer.span("setup"):
                    with tracer.span("session.start"):
                        run.spark = start_session(cores, run.trace)
                    workload.setup(run)
                setup_s = time.perf_counter() - t_start
                with tracer.span("measure"):
                    workload.measure(run)
                with tracer.span("check"):
                    workload.check(run)
            finally:
                if run.spark is not None:
                    stop_session(run.spark)
                rss.sample()
    finally:
        killed = wait_for_exit(rss.seen)
    noise.append(noise_probe_s())

    values, notes = workload.end_to_end(tracer)
    values.update(setup_s=setup_s, peak_rss_mb=rss.peak_mb)
    notes.update(
        setup_s="everything before the first timed op (one set-up per run)",
        peak_rss_mb="peak summed RSS of this process tree (driver JVM, Python workers)",
    )
    untraced_path = os.path.join(WORK, f"untraced_{args.workload}.json")
    print(f"workload {args.workload}  seed {args.seed}  cores {cores}  "
          f"trace {args.trace}  attempted {run.attempted}  failed {run.failed}  "
          f"failed_ratio {run.failed / max(run.attempted, 1):.4f}")
    for p in run.problems[:20]:
        print(f"  FAILED: {p}")
    if killed:
        print(f"  killed {len(killed)} processes that outlived the session: {killed}")
    for name, unit in E2E_UNITS.items():
        print(f"  {name:<18} {values[name]:12.4f} {unit:<4} {notes[name]}")
    for name in sorted(set(notes) - set(E2E_UNITS)):
        print(f"  {name:<18} {notes[name]}")

    if run.trace:
        from layers import per_layer

        metrics = per_layer(
            tracer, os.path.join(RUN_DIR, "eventlog"), workload.name,
            phash_us=phash_us_per_image(*run.kernel_blobs),
            noise_probe_s=statistics.median(noise),
            untraced_path=untraced_path, op_p50_s=values["op_p50_s"],
        )
        spans_path = os.path.join(WORK, f"spans_{args.workload}.json")
        tracer.write(spans_path)
        print(f"  spans: {len(tracer.spans)} written to {os.path.relpath(spans_path, ROOT)}")
    else:
        metrics = {k: (values[k], u) for k, u in E2E_UNITS.items()}
        with open(untraced_path, "w") as fh:
            json.dump({"op_p50_s": values["op_p50_s"], "seed": args.seed}, fh)
    shutil.rmtree(RUN_DIR, ignore_errors=True)

    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
