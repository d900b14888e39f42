"""Transcript search and ingest benchmark for dart_importer_spark.

    python3 perfbench/run.py --workload search_selective --seed 1 --seconds 10 --trace 0

Run from the repository root. One process per run: it generates the seeded
transcripts, builds the index through the public API, measures the chosen
workload, checks every result against the BM25 oracle and prints one JSON
line last: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` they
are the per-layer ones, read off spans the benchmark records around each
public call, and the spans go to ``.perfbench/trace-<workload>-<seed>.json``.
``--workload all`` runs both workloads one after another, each in a
process of its own, and prints one line per workload.

Everything the run writes lives under ``.perfbench/`` in the working
directory; its private temp root there is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

WORKLOADS = ("search_selective", "search_broad")
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def run_all(args) -> int:
    """Each workload in a process of its own."""
    worst = 0
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print(json.dumps({"workload": w, **json.loads(lines[-1])}) if proc.returncode == 0
              else json.dumps({"workload": w, "exit_code": proc.returncode}), flush=True)
        worst = worst or proc.returncode
    return worst


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "dart_importer_spark")) or not os.path.isfile(
            os.path.join(ROOT, "tests", "oracle.py")):
        print("perfbench: run from a dart_importer_spark checkout (package and "
              "tests/oracle.py not found)", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)

    t_start = time.perf_counter()
    sys.path.insert(0, ROOT)
    out_dir = os.path.join(ROOT, ".perfbench")
    tmp = os.path.join(out_dir, f"tmp-{os.getpid()}")
    os.makedirs(tmp)
    os.environ.update(TMPDIR=tmp, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
                      SPARK_DRIVER_MEM="2g", TZ="UTC")
    time.tzset()
    # a terminated run still stops its JVM and removes its temp root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spark = None
    try:
        from spans import Tracer

        tracer = Tracer(bool(args.trace))
        from dart_importer_spark.session import get_spark

        cores = len(os.sched_getaffinity(0))
        spark = get_spark("perfbench", cores=cores, extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        })
        t_session = time.perf_counter()
        tracer.add("session.start", t_start, t_session, "setup")
        tracer.attach(spark.sparkContext)

        import workloads

        bench = workloads.Bench(spark, tmp, args.seed, args.seconds, tracer)
        bench.setup["session.start_s"] = t_session - t_start
        workloads.run(bench, args.workload.split("_")[1])

        if args.trace:
            values = bench.per_layer()
            summary = tracer.layer_self_times()
            with open(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
                json.dump({"workload": args.workload, "seed": args.seed,
                           "layer_self_s": summary, "per_layer": values,
                           "execute_share": bench.execute_share,
                           "spans": tracer.spans}, f, default=str)
            print("perfbench: self time by layer (s): " + ", ".join(
                f"{k}={v:.3f}" for k, v in sorted(summary.items()))
                + f"; execute share of query latency {bench.execute_share:.3f}",
                file=sys.stderr)
        else:
            values = bench.end_to_end()
        result = {
            "correct": bench.failed == 0,
            "attempted": bench.attempted,
            "failed": bench.failed,
            "metrics": {k: {"value": v, "unit": workloads.unit_of(k)}
                        for k, v in values.items()},
        }
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    print("perfbench: set-up (s): " + ", ".join(
        f"{k}={v:.3f}" for k, v in bench.setup.items()), file=sys.stderr)
    print("perfbench: query p50 by index state and shape (s): " + ", ".join(
        f"{state}/{shape}={statistics.median(v):.3f} (n={len(v)})"
        for (state, shape), v in bench.latency.items()), file=sys.stderr)
    print(f"perfbench: failed_op_ratio={bench.failed / bench.attempted:.6f} "
          f"({bench.failed} of {bench.attempted})", file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
