"""Benchmark of the spatial-join and tiling engine, one workload per run.

    python3 perfbench/run.py --workload countries_join --seed 1 \
        --seconds 12 --trace 0

Generates the workload's inputs from the seed (reused when already on
disk), starts Spark at local[nproc], runs the cold first iteration as
set-up, then times a fixed number of iterations and checks every
output.  That number is ``--seconds`` over the workload's nominal
iteration time (at least three): it follows from the arguments alone,
never from the speed of the code under test, so every commit times the
same iterations.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

T_START = time.perf_counter()

import gen  # noqa: E402  (this directory is sys.path[0] for the script)
import procstat  # noqa: E402
import tracing as tr  # noqa: E402
import workloads  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOAD_NAMES = list(workloads.WORKLOADS)
MIN_TIMED = 3  # the metrics are medians over the timed iterations
DRIVER_MEMORY = "2g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=12.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def spark_environment(work: str, trace: bool) -> None:
    """Keep every file Spark writes inside ``work`` and fix the driver
    heap, before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    conf = [f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
    if trace:  # keep every job and stage of the run in the status store
        conf += ["spark.ui.retainedJobs=1000000",
                 "spark.ui.retainedStages=1000000"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f"--conf {c}" for c in conf]
        + [f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData"',
           "pyspark-shell"])


def stop_spark(spark) -> None:
    """Stop Spark, then wait for its JVM and the JVM's Python workers to
    exit: the JVM ends when its stdin closes, the workers when the JVM
    does."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    deadline = time.perf_counter() + 60
    while len(procstat.tree()) > 1 and time.perf_counter() < deadline:
        time.sleep(0.1)


def start_spark(cores: int):
    from go_shapefile_spark.session import get_spark
    spark = get_spark("perfbench", cores=cores, shuffle_partitions=2 * cores,
                      max_partition_bytes="16m")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Runner:
    """Runs iterations of one workload and keeps their outcome."""

    def __init__(self, workload):
        self.wl = workload
        self.attempted = 0
        self.failed = 0

    def iteration(self, spark, tracer) -> tuple[float, float]:
        """(wall s, tree CPU s) of one action sequence.  The check runs
        after the clock stops; a failure is counted and logged."""
        self.attempted += 1
        c0, t0 = procstat.cpu_s(), time.perf_counter()
        try:
            with tracer.span("iteration"):
                out = self.wl.iteration(spark, tracer)
            wall = time.perf_counter() - t0
            cpu = procstat.cpu_s() - c0
            problems = self.wl.check(out)
        except Exception:  # a failed iteration is a result, not a crash
            wall = time.perf_counter() - t0
            cpu = procstat.cpu_s() - c0
            problems = [traceback.format_exc()]
        spark.catalog.clearCache()
        if problems:
            self.failed += 1
            for p in problems:
                print(f"[FAIL] {p}", file=sys.stderr)
        return wall, cpu


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import go_shapefile_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable here: {exc}",
              file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work")
    t_gen = time.perf_counter()
    data_dir, manifest = gen.ensure_inputs(os.path.join(HERE, ".data"),
                                           args.workload, args.seed)
    gen_s = time.perf_counter() - t_gen
    for name, digest in manifest["files"].items():
        print(f"input {name} sha256={digest}")
    print(f"inputs {data_dir} generated in {gen_s:.2f}s (excluded from "
          f"every metric)")

    cores = len(os.sched_getaffinity(0))
    spark_environment(work, args.trace == 1)
    print(f"spark local[{cores}] shuffle.partitions={2 * cores} "
          f"maxPartitionBytes=16m driver.memory={DRIVER_MEMORY}")
    out_dir = os.path.join(work, "out", args.workload)
    wl = workloads.WORKLOADS[args.workload](data_dir, manifest["expected"],
                                            out_dir)
    run = Runner(wl)
    null = tr.NullTracer()
    n_timed = max(MIN_TIMED, round(args.seconds / wl.nominal_s))
    print(f"schedule: 1 cold + {n_timed} timed iterations")
    run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
    with procstat.PeakRss() as rss:
        spark = start_spark(cores)
        run.iteration(spark, null)
        setup_s = time.perf_counter() - T_START - gen_s
        tracer = tr.Tracer(spark, run_id) if args.trace else None
        timed, traced = [], []
        for i in range(n_timed):
            traced_first = i % 2  # alternate which side leads
            if tracer and traced_first:
                traced.append(run.iteration(spark, tracer))
            timed.append(run.iteration(spark, null))
            if tracer and not traced_first:
                traced.append(run.iteration(spark, tracer))
        if tracer:
            wl.probes(spark, tracer)
            tracer.finish(cores)
            tracer.write(os.path.join(work, f"trace-{run_id}.jsonl"))
    stop_spark(spark)
    print(f"setup {setup_s:.3f}s timed {[round(t[0], 3) for t in timed]}")
    print(f"failed_frac {run.failed / run.attempted:.4f} "
          f"({run.failed}/{run.attempted} iterations)")

    if args.trace:
        metrics = tr.layer_metrics(tracer, wl.counts, timed, traced)
    else:
        metrics = {
            "setup_s": setup_s,
            "job_s": tr.median([t[0] for t in timed]),
            "cpu_s": tr.median([t[1] for t in timed]),
            "peak_rss_mb": rss.peak_mb,
        }
    for name, value in metrics.items():
        print(f"{name} = {value:.6g} {tr.unit_of(name)}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": tr.unit_of(k)}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
