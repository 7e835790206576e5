"""End-to-end benchmark of cherry_spark.

    python3 e2ebench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One driver process, Spark ``local[N]``
with N = min(4, nproc), no other client threads or connections. The run

1. generates the workload's inputs from ``--seed`` (timed, not a metric);
   the program only ever sees the generated parquet;
2. sets up once: builds the session (launching the JVM), does the
   workload's preparation and one untimed warm-up window or pass; that
   wall time is ``setup_s``. One set-up, not a median of several: each
   costs a JVM start and a cold pass of tens of small Spark jobs (15-40 s
   on 4 cores), more than a run can spend twice;
3. runs operations for ``--seconds`` (never fewer than the workload's
   minimum), checking every output against the generators' bookkeeping
   or DuckDB; a failed check counts the operation as failed;
4. prints a summary line (stamps, sample counts, the metrics under their
   per-workload names), then the result line.

With ``--trace 1`` the timed phase is split: half untraced, half traced.
The traced half records spans around the calls into each layer and adds
noop materializations at stage boundaries, so its end-to-end numbers are
not metrics; the result line carries per-layer metrics instead, plus
``trace.overhead_ms``, the traced minus the untraced median latency.
The full report (every layer metric, per-layer self time and Spark
job/stage counts) and the spans are written under ``.e2ebench_out/``.

End-to-end metrics (``--trace 0``), the same three on every workload so
that every run reports every metric:

- ``setup_s``: wall time of the set-up;
- ``throughput_per_s``: raw logs over the wall time of the backfill loop,
  resume-cursor read included (``chain_analytics``); documents per second
  of a curation pass, median over passes (``doc_curation``); raw logs
  committed per second (``evm_tail``);
- ``latency_p50_ms``: median time of one query of the mix
  (``chain_analytics``), of one curation pass (``doc_curation``), of a
  window's due time to its commit (``evm_tail``).

The summary repeats them under the names the workloads give them
(``backfill_logs_per_s``, ``analytics_latency_p50_ms``, ...), adds the
highest tail percentile the sample count supports, and ``peak_rss_mb``,
the high-water RSS of this process plus the JVM. Peak RSS is printed but
not bounded: under the engine's default 8 GB driver heap it follows the
JVM's heap sizing, which differs by a third or more between runs of the
same work.

The engine runs with its own defaults (``get_spark`` settings, MinHash
parameters); the benchmark only sizes ``local[N]`` and keeps temporary
files inside the checkout.

The failed share is in ``attempted``/``failed``; it is 0 when the program
is right, so it is no bounded metric. Exit status: 0 when every check
passed, 1 when a check failed (the result line is still printed), 2 when
the run could not complete (no result line).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = min(4, os.cpu_count() or 1)
E2E_UNITS = {"setup_s": "s", "throughput_per_s": "1/s", "latency_p50_ms": "ms"}
# per-layer metrics every traced run reports, the ones an optimization is
# most likely to move; counts and ratios read 0 on a workload that does not
# exercise the layer. Times that exist on one workload only (plan build,
# decode, each ext stage, datasets calls, ...) are in the report.
LAYER_UNITS = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "sources.scan_exec_s": "s",
    "writers.push_data_p50_s": "s",
    "trace.overhead_ms": "ms",
    "sources.rows_scanned": "count",
    "sources.selectivity": "ratio",
    "writers.spark_jobs_per_push": "count",
    "writers.spark_stages_per_push": "count",
    "writers.files_written": "count",
    "writers.bytes_per_row": "B",
    "writers.files_read_per_lookup": "count",
    "datasets.spark_jobs_per_call": "count",
    "ext.spark_jobs_per_stage": "count",
    "ext.planted_pair_recall": "ratio",
}


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and tempfile make inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={tmp}"
    ).strip()
    import tempfile

    tempfile.tempdir = None


def _stop_jvm(spark) -> None:
    """Stop the session and wait for the JVM process to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args, work: str) -> tuple[dict, dict, int]:
    import duckdb
    import pyspark

    from cherry_spark.session import get_spark
    from metrics import describe
    from spans import Tracer
    from workloads import WORKLOADS

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    load_start = _loadavg()
    wl = WORKLOADS[args.workload](args.seed, work)
    t = time.perf_counter()
    sizes = wl.generate()
    generate_s = time.perf_counter() - t

    tracer = Tracer(run_id, bool(args.trace))
    untraced = Tracer(run_id, False)
    spark = None
    try:
        t = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = get_spark("e2ebench", cpus=CPUS)
            spark.sparkContext.setLogLevel("ERROR")
        get_spark_s = time.perf_counter() - t
        tracer.bind(spark)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        # preparation and warm-up run untraced: only the session spans are recorded
        wl.prepare(spark, untraced)
        w = time.perf_counter()
        with tracer.span("session.warmup"):
            wl.warmup(spark, untraced)
        warmup_s = time.perf_counter() - w
        setup_s = time.perf_counter() - t

        if args.trace:
            phases = [
                wl.phase(spark, untraced, args.seconds / 2),
                wl.phase(spark, tracer, args.seconds / 2),
            ]
        else:
            phases = [wl.phase(spark, untraced, args.seconds)]

        peak_rss_mb = (
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss + _vm_hwm_kb(jvm_pid)
        ) / 1024
        versions = {
            "python": platform.python_version(),
            "pyspark": pyspark.__version__,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "duckdb": duckdb.__version__,
        }
        parallelism = spark.sparkContext.defaultParallelism
        layers = wl.layers(tracer, phases) if args.trace else {}
    finally:
        wl.close()
        if spark is not None:
            _stop_jvm(spark)

    measured = phases[0]  # the untraced phase
    attempted = sum(p.attempted for p in phases)
    failed = sum(p.failed for p in phases)
    problems = [x for p in phases for x in p.problems]
    latency = describe(measured.latencies_ms)
    n_lat = len(measured.latencies_ms)
    bounded = {
        "setup_s": (setup_s, 1),
        "throughput_per_s": (statistics.median(measured.rates), len(measured.rates)),
        "latency_p50_ms": (statistics.median(measured.latencies_ms), n_lat),
    }
    # name -> (value, unit, samples): the result line's metrics, then the
    # figures under the names this workload gives them
    table = {k: (v, E2E_UNITS[k], n) for k, (v, n) in bounded.items()}
    table["peak_rss_mb"] = (peak_rss_mb, "MB", 1)
    table["failed_ratio"] = (failed / attempted, "ratio", attempted)
    table.update({
        f"{wl.latency_name}_{k}_ms": (v, "ms", n_lat) for k, v in latency.items() if k != "n"
    })
    value, _, n = table["throughput_per_s"]
    table[wl.throughput_name] = (value, wl.throughput_unit, n)
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "seconds": args.seconds,
        "stamp": {
            "nproc": os.cpu_count(),
            "spark_master": f"local[{CPUS}]",
            "spark_parallelism": parallelism,
            "loadavg_start": load_start,
            "loadavg_end": _loadavg(),
            "versions": versions,
        },
        "inputs": dict(sizes, generate_s=generate_s),
        "latency_of": wl.latency_of,
        "metrics": {k: {"value": v, "unit": u, "samples": n} for k, (v, u, n) in table.items()},
        "setup": {"get_spark_s": get_spark_s, "warmup_s": warmup_s},
        "extra": {k: v for k, v in measured.extra.items() if not isinstance(v, list)},
        "problems": problems[:20],
    }
    if args.trace:
        plain_p50 = statistics.median(phases[0].latencies_ms)
        traced_p50 = statistics.median(phases[1].latencies_ms)
        layers.update({
            "session.get_spark_s": get_spark_s,
            "session.warmup_s": warmup_s,
            "trace.overhead_ms": traced_p50 - plain_p50,
            "trace.overhead_share": (traced_p50 - plain_p50) / plain_p50,
        })
        summary["layers"] = layers
        summary["layer_self_time"] = tracer.layer_table()
        tracer.write(os.path.join(ROOT, ".e2ebench_out", f"{run_id}.spans.jsonl"))
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": float(bounded[k][0]), "unit": u} for k, u in E2E_UNITS.items()}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    report = os.path.join(ROOT, ".e2ebench_out", f"{run_id}.trace{args.trace}.json")
    with open(report, "w") as f:
        json.dump({"summary": summary, "result": result}, f, indent=1, default=str)
    summary["report"] = os.path.relpath(report, ROOT)
    return summary, result, 0 if failed == 0 else 1


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "cherry_spark", "__init__.py")):
        print(f"e2ebench: no cherry_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"e2ebench: unknown workload {args.workload}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    out = os.path.join(ROOT, ".e2ebench_out")
    work = os.path.join(out, f"work-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    _prepare_env(work)
    os.chdir(work)  # stray files (warehouse, derby logs) land in the work dir
    try:
        summary, result, code = run(args, work)
    except Exception:
        traceback.print_exc()
        return 2
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(summary, default=str))
    print(json.dumps(result))
    return code


if __name__ == "__main__":
    sys.exit(main())
