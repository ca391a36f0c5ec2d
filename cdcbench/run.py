"""CDC engine benchmark: one command, one workload per run.

    python3 cdcbench/run.py --workload replay_micro --seed 1 --seconds 5 --trace 0

Run from the root of a checkout of the repository. The run stages its
seeded inputs, starts a Spark session with the library's defaults on
``local[<cores>]``, warms the measured table up, times three fresh
set-ups, runs epochs for at least ``--seconds`` seconds and at least
three epochs, checks every output against the DuckDB oracle, and prints
one JSON object as the last line of standard output: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Everything it writes lives under one temporary directory in the
checkout, deleted at the end. See cdcbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path[:0] = [HERE, REPO]

MIN_CORES = 2
MIN_FREE_BYTES = 3 << 30  # a run's temp root peaks well under 1 GiB
JVM_HEAP = "4g"  # the library default (24g) does not fit a 15 GB host
TMP_DIR = ".bench_tmp"


class InsufficientCores(RuntimeError):
    pass


class InsufficientDisk(RuntimeError):
    pass


class EngineNotFound(RuntimeError):
    pass


def cores() -> int:
    return len(os.sched_getaffinity(0))


def preflight(root: str) -> None:
    if not os.path.isdir(os.path.join(REPO, "picsure_dictionary_etl_spark")):
        raise EngineNotFound(
            f"no picsure_dictionary_etl_spark package next to {HERE}: "
            "run from the root of a full checkout"
        )
    if cores() < MIN_CORES:
        raise InsufficientCores(f"{cores()} cores available, the workloads need {MIN_CORES}")
    free = shutil.disk_usage(root).free
    if free < MIN_FREE_BYTES:
        raise InsufficientDisk(
            f"{free >> 20} MiB free under {root}, the workloads need {MIN_FREE_BYTES >> 20}"
        )


def steal_jiffies() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def cpu_pressure_us() -> int | None:
    """Total microseconds in which some task waited for a CPU."""
    try:
        with open("/proc/pressure/cpu") as f:
            return int(f.readline().rsplit("total=", 1)[1])
    except (OSError, IndexError, ValueError):
        return None


def cpu_control_s() -> float:
    """A fixed numpy job, timed: host speed at the time of the run."""
    import numpy as np

    a = np.random.default_rng(0).random((400, 400))
    times = []
    for _ in range(5):
        t = time.perf_counter()
        for _ in range(10):
            a = np.tanh(a @ a.T / 400.0)
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def _pids(spark) -> list[int]:
    """This process and the Spark JVM it drives."""
    return [os.getpid(), spark.sparkContext._gateway.proc.pid]


def reset_peaks(spark) -> None:
    """Start a new measuring window for peak memory: collect the JVM's
    garbage (a full collection also gives unused heap back to the
    system), then reset the peak resident set of this process and of
    the JVM, and the peak usage of the JVM's memory pools."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    for pid in _pids(spark):
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
    for pool in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
        pool.resetPeakUsage()


def memory_mb(spark) -> dict:
    """Peak resident memory of this process and of the JVM since
    :func:`reset_peaks`, and the JVM heap's peak use in that window."""

    def hwm_mb(pid: int) -> float:
        with open(f"/proc/{pid}/status") as f:
            return next(int(line.split()[1]) for line in f if line.startswith("VmHWM:")) / 1024

    python_pid, jvm_pid = _pids(spark)
    jvm = spark.sparkContext._jvm
    heap = sum(
        pool.getPeakUsage().getUsed()
        for pool in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
        if pool.getType().toString() == "Heap memory"
    )
    return {"python_peak_rss": hwm_mb(python_pid), "jvm_peak_rss": hwm_mb(jvm_pid),
            "jvm_heap_peak": heap / 2**20}


def start_spark(tmp: str):
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = JVM_HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    from picsure_dictionary_etl_spark import get_spark
    from picsure_dictionary_etl_spark.streaming.cdf_source import LakeChangeFeedDataSource
    from picsure_dictionary_etl_spark.streaming.lake_sink import LakeTableSinkDataSource

    spark = get_spark(
        "cdcbench",
        extra_conf={
            # keep the JVM's temp files (and no perf-data file) out of /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.dataSource.register(LakeTableSinkDataSource)
    spark.dataSource.register(LakeChangeFeedDataSource)
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it started) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def end_to_end(m, mem: dict) -> tuple[dict, dict]:
    med = statistics.median
    values = {
        "setup_s": (med(m.setup_s), "s"),
        "events_per_s": (m.events_written / sum(m.commit_s), "events/s"),
        "commit_p50_s": (med(m.commit_s), "s"),
        "feed_lag_p50_s": (med(m.feed_lag_s), "s"),
        "cdf_read_p50_s": (med(m.cdf_read_s), "s"),
        "lookup_p50_s": (med(m.lookup_s), "s"),
        "ops_ok_frac": ((m.attempted - m.failed) / m.attempted, "frac"),
    }
    # a tail needs ten samples beyond its percentile; a run has three
    # writes and six lookups, so only the sample counts and maxima are
    # reported, here
    notes = {
        "commits": len(m.commit_s),
        "commit_max_s": max(m.commit_s),
        "lookups": len(m.lookup_s),
        "lookup_max_s": max(m.lookup_s),
        "epochs": m.epochs,
        "memory_mb": mem,
        "samples_s": {"commit": m.commit_s, "feed_lag": m.feed_lag_s,
                      "cdf_read": m.cdf_read_s, "lookup": m.lookup_s},
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}, notes


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans-out", help="with --trace 1, also write every span here as JSON")
    args = ap.parse_args()

    cwd = os.getcwd()
    try:
        preflight(cwd)
    except (EngineNotFound, InsufficientCores, InsufficientDisk) as e:
        print(f"{type(e).__name__}: {e}", file=sys.stderr)
        return 2

    import oracle
    import workloads as wl

    if args.workload not in wl.WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {list(wl.WORKLOADS)}", file=sys.stderr)
        return 2
    oracle.self_test()

    phases = {}
    t_phase = time.perf_counter()

    def phase(name):
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = round(now - t_phase, 3)
        t_phase = now

    run_id = uuid.uuid4().hex[:12]
    tmp = os.path.join(cwd, TMP_DIR, f"run-{run_id}")
    os.makedirs(tmp)
    spark = None
    try:
        steal0, psi0, t0 = steal_jiffies(), cpu_pressure_us(), time.perf_counter()
        control_s = cpu_control_s()
        paths = wl.stage_inputs(tmp, args.seed, args.workload)
        phase("stage")
        spark = start_spark(tmp)
        phase("session")
        from spans import NullTracer, Tracer

        tracer = Tracer(spark, run_id) if args.trace else NullTracer()
        cycle = wl.Cycle(spark, tracer, tmp, args.seed, args.workload, paths)
        cycle.warm_up()
        phase("warm_up")
        cycle.setup()
        phase("setup")
        tracer.install()
        reset_peaks(spark)
        try:
            m = cycle.run(args.seconds)
            correct = True
        except oracle.OracleMismatch as e:
            print(f"oracle check failed: {e}", file=sys.stderr)
            m, correct = cycle.m, False
            m.failed = m.attempted
        finally:
            if args.trace:
                tracer.uninstall()
        phase("run")
        mem = memory_mb(spark)
        e2e, notes = end_to_end(m, mem)
        host = {
            "steal_jiffies": steal_jiffies() - steal0,
            "cpu_pressure_frac": (cpu_pressure_us() - psi0) / 1e6 / (time.perf_counter() - t0)
            if psi0 is not None else None,
            "cpu_control_s": control_s,
            "cores": cores(),
            "jvm_heap": JVM_HEAP,
            "phases_s": phases,
            "setup_reps_s": m.setup_s,
            "warm_up_s": cycle.warmup_s,
        }
        if args.trace:
            from layers import per_layer, span_summary

            metrics = per_layer(tracer, m, mem)
            notes["spans"] = span_summary(tracer)
            if args.spans_out:
                with open(args.spans_out, "w") as f:
                    json.dump(tracer.dump(), f)
        else:
            metrics = e2e
        print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                          "end_to_end": {k: v["value"] for k, v in e2e.items()},
                          **notes, "host": host}), file=sys.stderr)
        result = {"correct": correct, "attempted": m.attempted, "failed": m.failed,
                  "metrics": metrics}
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.join(cwd, TMP_DIR))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
