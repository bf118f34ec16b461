"""Run one benchmark workload and print its result as one JSON line.

    python3 benchmark/run.py --workload search_mix --seed 1 --seconds 8 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` records spans and the Spark event log and prints
the per-layer metrics instead. The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``; the line before it
records the environment (cores, library versions), the error rate, the
query tail latency, sample counts and the seconds spent in each step.

Everything the run writes — corpus parquet, index, Spark scratch and
event log — lives in a fresh directory under ``.bench_tmp/`` in the
repository root and is removed at exit. A traced run keeps its spans, one
JSON list per line (name, start, end, parent, request, count), in
``.bench_tmp/spans/<workload>-seed<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAX_CORES = 4


def _cores() -> int:
    return max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))


def _start_spark(workdir: str, n: int, trace: bool):
    from es_indexer_spark import get_spark

    java_tmp = os.path.join(workdir, "jvm-tmp")
    os.makedirs(java_tmp)
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(workdir, "spark-local"),
        # -XX:-UsePerfData: no hsperfdata file under the system /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={java_tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        events = os.path.join(workdir, "events")
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="benchmark", master=f"local[{n}]",
                      shuffle_partitions=n, extra_conf=conf)
    # start one Python worker per core outside any timing
    spark.range(0, n, 1, n).mapInPandas(lambda it: it, "id long").count()
    return spark


def _stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM to exit (its Python workers exit
    with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def _environment(n: int) -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "cores_used": n,
        "cores_available": len(os.sched_getaffinity(0)),
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "es_indexer_spark")):
        print(f"[benchmark] no es_indexer_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from benchmark import spans, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"[benchmark] unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    # timed runs take the program's defaults: no ES_IDX_* knob is set
    for k in [k for k in os.environ if k.startswith("ES_IDX_")]:
        del os.environ[k]
    scratch = os.path.join(ROOT, ".bench_tmp")
    os.makedirs(scratch, exist_ok=True)
    workdir = tempfile.mkdtemp(prefix="run-", dir=scratch)
    py_tmp = os.path.join(workdir, "tmp")
    os.makedirs(py_tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = py_tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")

    # SIGTERM unwinds through the ``finally`` below: Spark stopped, files removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    n = _cores()
    trace = bool(args.trace)
    spark = None
    try:
        spark = _start_spark(workdir, n, trace)
        rec = spans.Recorder(spark.sparkContext if trace else None)
        if trace:
            rec.install()
            rec.enabled = True
        run = workloads.Run(spark, workdir, args.seed, rec, trace)
        t0 = time.perf_counter()
        workloads.WORKLOADS[args.workload](run, args.seconds)
        wall = time.perf_counter() - t0
        rss_mb = workloads.peak_rss_mb()
        rec.enabled = False
        rec.uninstall()
        _stop_spark(spark)
        spark = None
        t0 = time.perf_counter()
        run.verify()
        verify_s = time.perf_counter() - t0
        if trace:
            from benchmark import eventlog

            metrics = workloads.per_layer(run, eventlog.per_group(
                os.path.join(workdir, "events")))
            spans_dir = os.path.join(scratch, "spans")
            os.makedirs(spans_dir, exist_ok=True)
            rec.dump(os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.jsonl"))
        else:
            metrics = workloads.end_to_end(run, rss_mb)
        info = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "environment": _environment(n), "workload_wall_s": round(wall, 3),
            "verify_s": round(verify_s, 3),
            "error_rate": run.failed / max(1, run.attempted),
            f"query_p{workloads.QUERY_TAIL}_ms": 1e3 * workloads.pct(
                run.lat["query"], workloads.QUERY_TAIL),
            "samples": {k: len(v) for k, v in run.lat.items()}
            | {"traced_" + k: len(v) for k, v in run.traced_lat.items()}
            | {k: len(v) for k, v in run.t.items()},
            "seconds": {k: round(sum(v), 3) for k, v in run.t.items()},
        }
        result = {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        try:
            if spark is not None:
                _stop_spark(spark)
        finally:
            shutil.rmtree(workdir, ignore_errors=True)
            if not os.listdir(scratch):
                os.rmdir(scratch)
    print(json.dumps(info))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
