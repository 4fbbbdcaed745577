"""Layer-resolved benchmark of the dask_deltalake_spark engine.

    python3 enginebench/run.py --workload ingest --seed 1 --seconds 20 --trace 0

Run from the repository root. Starts one local Spark session with
half the host's CPUs (at most 2) as task threads, builds the
workload's seeded inputs in a fresh work directory under
``.bench_work/``, runs an untimed warm pass, then repeats the workload's fixed op list for about ``--seconds`` (one
closed-loop client) and checks every result. The last line of stdout
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``, the end-to-end metrics with ``--trace 0`` and the
per-layer metrics with ``--trace 1``. The line before it, prefixed
``RECORD``, holds the detailed record (tail percentiles and sample
counts, per-op-type counts, layer self times, calibration probe); with
``--record PATH`` it is also written to a file, which
``enginebench/compare.py`` compares with another. See
``enginebench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import atexit
import json
import math
import os
import shutil
import signal
import sys
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = {"ingest": "ingest.Ingest", "log-scale": "logscale.LogScale"}
DEADLINE_S = 170  # every run must end within 180 s


class Timeout(Exception):
    pass


def host_env(work: str) -> None:
    """Settings for the Spark JVM and its Python workers, applied
    before the session starts: the repo on the workers' import path,
    driver memory sized to the host, scratch space inside the work
    directory."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    with open("/proc/meminfo") as fh:
        total_kb = int(fh.readline().split()[1])
    mem_gb = max(1, min(4, total_kb // (1024 * 1024) // 4))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{mem_gb}g"
    os.environ["SPARK_GRAFT_CPUS"] = str(spark_cores())
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")


def spark_cores() -> int:
    """Task threads for Spark: half the host's CPUs, at most 2. The
    Python driver, the JVM's own threads and other tenants of a shared
    host keep the rest, so a busy neighbour stalls fewer stages; with
    every CPU given to Spark, one stolen core holds back each stage's
    slowest task and the run's timings follow the neighbour."""
    return max(1, min(2, (os.cpu_count() or 1) // 2))


def start_spark(work: str):
    import dask_deltalake_spark as ddl

    tmp = os.path.join(work, "tmp")
    return ddl.get_spark(
        app_name="enginebench",
        master=f"local[{os.environ['SPARK_GRAFT_CPUS']}]",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # one collector thread and two JIT threads; the serial
            # collector sizes the heap by occupancy, not by pause
            # times, so the JVM's peak RSS does not follow host speed
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:+UseSerialGC -XX:CICompilerCount=2",
            "spark.ui.retainedJobs": "10000",
            "spark.ui.retainedStages": "10000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def calibration(spark) -> dict:
    """bench.py's fixed-work host probe, so records from different
    hosts or days can be compared by the ratio of probe times."""
    sys.path.insert(0, ROOT)
    from bench import _host_calibration

    return _host_calibration(spark)


def rounds_for(seconds: float, round_s: float, trace: int) -> int:
    """The measured phase is a fixed number of rounds, sized so that it
    lasts at least ``seconds`` on a 4-core host. A fixed op count keeps
    the sample counts, and so the tail percentile, the same on every
    run and every commit; a faster engine finishes sooner instead of
    doing more work. A traced run traces one round between two untraced
    ones."""
    return max(3 if trace else 1, math.ceil(seconds / round_s))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="also write the detailed record to this JSON file "
                    "(and, with --trace 1, the spans to PATH.spans.json)")
    args = ap.parse_args(argv)

    work = os.path.join(os.getcwd(), ".bench_work", f"{args.workload}-{os.getpid()}")
    if not os.path.isfile(os.path.join(ROOT, "dask_deltalake_spark", "__init__.py")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    os.makedirs(work)
    atexit.register(shutil.rmtree, work, True)
    host_env(work)
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)

    def on_alarm(signum, frame):
        raise Timeout(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(DEADLINE_S)

    import harness

    mod, cls = WORKLOADS[args.workload].split(".")
    wl = getattr(__import__(mod), cls)(work, args.seed)
    with ThreadPoolExecutor(1) as pool:  # make the inputs while the JVM starts
        prepared = pool.submit(wl.prepare)
        spark = start_spark(work)
        prepared.result()
    try:
        import dask_deltalake_spark as ddl

        rec = harness.Recorder(spark, trace=bool(args.trace))
        wl.bind(rec, ddl, spark)
        wl.setup()
        wl.warm()
        setup_s = harness.process_age_s()
        rec.run_rounds(wl.round, rounds_for(args.seconds, wl.round_s, args.trace))
        wl.finish()
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        jvm_rss = harness.peak_rss_mb(jvm_pid)
        driver_rss = harness.peak_rss_mb()
        e2e, e2e_detail = rec.end_to_end()
        e2e.update(setup_s=setup_s, driver_rss_mb=driver_rss, jvm_rss_mb=jvm_rss)
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cpus": os.cpu_count(), "spark_cores": spark_cores(),
            "end_to_end": e2e, "end_to_end_detail": e2e_detail,
            "failed_frac": rec.failed / max(rec.attempted, 1),
            "errors": rec.errors[:20],
        }
        if args.trace:
            layers, layer_detail = rec.per_layer()
            record["per_layer"] = layers
            record.update(layer_detail)
            if args.record:
                with open(args.record + ".spans.json", "w") as fh:
                    json.dump({"ops": [{k: v for k, v in op.items() if k != "job_intervals"}
                                       for op in rec.ops if op["traced"]],
                               "spans": rec.spans}, fh)
        if args.trace or args.record:
            record["calibration"] = calibration(spark)
    finally:
        signal.alarm(0)
        stop_spark(spark)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    values = record["per_layer"] if args.trace else e2e
    result = {
        "correct": rec.failed == 0,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared},
    }
    harness.emit(result, record, args.record)
    return 0


if __name__ == "__main__":
    sys.exit(main())
