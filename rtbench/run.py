#!/usr/bin/env python3
"""Real-time warehouse benchmark: one workload, one seed, one JSON result.

    python3 rtbench/run.py --workload log_ingest --seed 1 --seconds 9 --trace 0

Workloads: ``log_ingest``, ``dws_refresh`` and ``dim_cdc_upsert``, the last
not in ``BENCHMARK.json`` (see rtbench/README.md). The engine runs on ``local[<cores>]`` in this process;
inputs are generated from ``--seed`` inside a scratch directory of the
checkout and checked against DuckDB oracles after the timed phases. The last
line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of ``BENCHMARK.json``, from a run with spans recorded.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PACKAGE = "realtimedatawarehouse_self_spark"
# Cold set-ups per untraced run, each in a fresh process; setup_s is their
# median. The measured run is the first, the others are child processes.
SETUPS = 3


def jvm_probe(spark):
    jvm_pid = spark.sparkContext._gateway.proc.pid
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory

    def probe() -> dict:
        with open(f"/proc/{jvm_pid}/io") as f:
            wchar = next(int(line.split()[1]) for line in f if line.startswith("wchar"))
        gcs = mx.getGarbageCollectorMXBeans()
        return {"wchar": wchar, "gc_ms": sum(gcs.get(i).getCollectionTime() for i in range(gcs.size()))}

    return jvm_pid, probe


def stop_jvm() -> None:
    """End the JVM PySpark launched and wait for it: it exits when its
    stdin closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def new_session(cores: int, tmp: str):
    """A local SparkSession whose scratch files (shuffle, spill, JVM temp
    files) go to ``tmp``."""
    from realtimedatawarehouse_self_spark.session import get_spark

    spark = get_spark(
        app_name="rtbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        # a fixed-size heap (-Xms = -Xmx), touched in full at start, keeps GC
        # and resident memory from depending on how far the heap happened to
        # grow, or how much of it was touched, in one run
        extra_conf={"spark.ui.enabled": "false", "spark.ui.showConsoleProgress": "false",
                    "spark.local.dir": tmp, "spark.driver.memory": "2g",
                    "spark.driver.extraJavaOptions":
                        f"-Xms2g -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()  # warm-up action
    return spark


def end_to_end(res: dict, setups: list[float], rss: float) -> dict:
    from rtbench.oracle import percentile

    return {
        "setup_s": (statistics.median(setups), "s"),
        "drain_eps": (res["drain_eps"], "records/s"),
        "latency_p50_s": (percentile(res["latency"], 0.50), "s"),
        "latency_p99_s": (percentile(res["latency"], 0.99), "s"),
        "refresh_s": (res["refresh_s"], "s"),
        "ok_frac": (1.0 - res["failed"] / res["attempted"], "ratio"),
        "peak_rss_mb": (rss, "MiB"),
        "write_amp": (res["wchar"] / res["in_bytes"], "ratio"),
    }


def cold_setup(args) -> float:
    """One more cold set-up, in a child process started like this one."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--cores", str(args.cores), "--setup-only"]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=150, check=True)
    return float(out.stdout.splitlines()[-1])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--setup-only", action="store_true",
                    help="print the set-up time and stop (one of setup_s's samples)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(REPO, PACKAGE)):
        print(f"rtbench: {PACKAGE}/ not found next to rtbench/ in {REPO}", file=sys.stderr)
        return 2
    os.environ["TZ"] = "UTC"
    time.tzset()
    # Spark's Python workers import the engine's modules by name (the
    # applyInPandasWithState function pickles as a reference into the
    # package), so they need the checkout on their path too.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    sys.path.insert(0, REPO)

    from rtbench import layers, refresh, streams
    from rtbench.procfs import peak_rss_mb, since_start

    workloads = {
        "log_ingest": streams.LogIngest,
        "dim_cdc_upsert": streams.DimCdcUpsert,
        "dws_refresh": refresh.DwsRefresh,
    }
    if args.workload not in workloads:
        print(f"rtbench: unknown workload {args.workload!r}; one of {sorted(workloads)}",
              file=sys.stderr)
        return 2

    work = os.path.join(REPO, ".rtbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    # every scratch file of the engine, the JVM and Python stays in the checkout
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    spark = None
    try:
        wl = workloads[args.workload](args.seed, args.seconds, work)
        # Set-up, cold: process start -> session up and warm-up action done
        # (session.start_s) -> the pipelines' queries started (setup_s).
        spark = new_session(args.cores, tmp)
        session_s = since_start()
        wl.start_queries(spark, os.path.join(work, "setup"))
        setups = [since_start()]
        if args.setup_only:
            print(f"{setups[0]!r}")
            return 0
        t_warm = time.time()
        wl.warm_up(spark, os.path.join(work, "warm"))
        t_warm = time.time() - t_warm

        jvm_pid, probe = jvm_probe(spark)
        tracer = None
        if args.trace:
            from rtbench.trace import Tracer
            tracer = Tracer()
            spark.streams.addListener(tracer.listener())
        wl.tracer = tracer
        with layers.sink_shims(tracer):
            res = wl.measure(spark, probe)
        rss = peak_rss_mb(jvm_pid)  # before the oracle, which is not the engine
        wl.verify(res)
    finally:
        if spark is not None:
            spark.stop()
            stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    if args.trace:
        metrics = layers.per_layer(wl, tracer, res, session_s)
        e2e = end_to_end(res, setups, rss)
        for k in ("drain_eps", "latency_p50_s", "refresh_s"):
            metrics[f"trace.e2e.{k}"] = e2e[k]
    else:
        setups += [cold_setup(args) for _ in range(SETUPS - 1)]
        metrics = end_to_end(res, setups, rss)

    n_lat = sum(n for _, n in res["latency"])
    print(f"rtbench {args.workload} seed={args.seed}: latency samples={n_lat} records "
          f"in {len(res['latency'])} units; session={session_s:.2f}s "
          f"setups={[round(s, 3) for s in setups]}; "
          f"warm_up={t_warm:.2f}s phases={ {k: round(v, 2) for k, v in getattr(wl, 'phases', {}).items()} }; "
          f"passes={[round(x, 2) for x in res.get('passes', [])]}; "
          f"oracle={json.dumps(res['verdict']['details'])}")
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
