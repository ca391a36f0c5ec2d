"""The fixed cost of a small Python task, layer by layer.

Times, as medians over ``--calls`` warm calls (after ``--warm`` untimed
ones), on ``local[4]``:

* ``noop_4`` / ``noop_1``: a no-op ``mapInArrow`` over 4 and 1
  partitions. The task function imports the package (as every engine
  task's function does) and reports when it started;
* ``cdf_empty``: an empty-span ``lake_cdf`` batch read (the data-source
  planner calls plus one no-op read task);
* ``sink_append``: a one-row ``lake`` sink append (writer task and
  driver commit) into a 4-bucket table.

For each call it records the driver's wall time and, from Spark's
status store, the summed ``executorRunTime`` of the call's tasks. The
no-op tasks also report the time their function started against the
task's launch time (``fn_start_after_launch_s``), and how many zip
archive directories their worker read (``zipimport._read_directory``
calls) since its previous task: the reads a reused worker's
per-task ``importlib.invalidate_caches()`` costs. Run from the root of
a checkout; the same script measures any commit:

    python3 BENCH/python_task_overhead.py --calls 12 --label change \\
        --out BENCH/python_task_overhead_change.json

Prints one JSON object and writes it to ``--out``. Everything the run
writes lives under one temporary directory, deleted at the end.
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

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [REPO, os.path.join(REPO, "cdcbench")]

SCHEMA = "pid long, fn_start double, reads long"


def noop(batches):
    """Report the worker, the function's start and the worker's running
    count of zip directory reads (a spy installed on its first call)."""
    t = time.time()
    import os
    import zipimport

    import pyarrow as pa

    import picsure_dictionary_etl_spark  # noqa: F401

    for _ in batches:
        pass
    if not hasattr(zipimport, "_probe_reads"):
        zipimport._probe_reads = reads = []
        real = zipimport._read_directory

        def spy(archive):
            reads.append(archive)
            return real(archive)

        zipimport._read_directory = spy
    yield pa.RecordBatch.from_pydict(
        {"pid": [os.getpid()], "fn_start": [t], "reads": [len(zipimport._probe_reads)]})


def _q(xs):
    if not xs:
        return None
    if len(xs) < 4:
        return {"median": round(statistics.median(xs), 4), "n": len(xs)}
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return {"median": round(q2, 4), "q1": round(q1, 4), "q3": round(q3, 4), "n": len(xs)}


class Probe:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.calls = 0

    def call(self, fn):
        """Run ``fn`` in its own job group; returns (wall_s, result,
        group, start)."""
        self.calls += 1
        group = f"probe-{self.calls}"
        self.sc.setJobGroup(group, group)
        try:
            t0 = time.time()
            out = fn()
            return time.time() - t0, out, group, t0
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def tasks(self, group: str) -> list[tuple[float, float]]:
        """(launch time, executorRunTime) of every task the group ran."""
        out = []
        for job in self.sc.statusTracker().getJobIdsForGroup(group):
            info = self.sc.statusTracker().getJobInfo(job)
            for stage in info.stageIds if info else []:
                ts = self.store.taskList(int(stage), 0, 1 << 20)
                for i in range(ts.size()):
                    d = ts.apply(i)
                    m = d.taskMetrics()
                    run = m.get().executorRunTime() / 1e3 if m.isDefined() else 0.0
                    out.append((d.launchTime().getTime() / 1e3, run))
        return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--calls", type=int, default=12)
    ap.add_argument("--warm", type=int, default=3)
    ap.add_argument("--label", default=None)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    from picsure_dictionary_etl_spark import get_spark
    from picsure_dictionary_etl_spark.cdc import CdcRunner, RunnerConfig
    from picsure_dictionary_etl_spark.streaming.cdf_source import LakeChangeFeedDataSource
    from picsure_dictionary_etl_spark.streaming.lake_sink import LakeTableSinkDataSource

    import events as ev

    tmp = tempfile.mkdtemp(prefix="python_task_overhead_")
    try:
        spark = get_spark("python_task_overhead", master="local[4]")
        spark.sparkContext.setLogLevel("ERROR")
        spark.dataSource.register(LakeTableSinkDataSource)
        spark.dataSource.register(LakeChangeFeedDataSource)
        root = CdcRunner(spark, RunnerConfig(
            table_root=os.path.join(tmp, "table"), bucket_count=4)).table.root
        row = spark.createDataFrame(
            [("conv-0", 0, "user", "rev 1", None, None, "I", 1)], ev.SPARK_SCHEMA)

        def append():
            row.write.format("lake").mode("append").option("path", root).save()

        def cdf_empty():
            from picsure_dictionary_etl_spark import LakeTable

            v = LakeTable.load(spark, root).current_version()
            return (spark.read.format("lake_cdf").option("path", root)
                    .option("startversion", v).option("endversion", v).load().toArrow())

        cases = {
            "noop_4": lambda: spark.range(4, numPartitions=4).mapInArrow(noop, SCHEMA).collect(),
            "noop_1": lambda: spark.range(1, numPartitions=1).mapInArrow(noop, SCHEMA).collect(),
            "cdf_empty": cdf_empty,
            "sink_append": append,
        }
        probe = Probe(spark)
        raw = {}
        last_reads: dict[int, int] = {}
        for name, fn in cases.items():
            runs = []
            for i in range(args.warm + args.calls):
                wall, out, group, t0 = probe.call(fn)
                rows = out if name.startswith("noop") else []
                reads = []
                for r in rows:
                    if r.pid in last_reads:
                        reads.append(r.reads - last_reads[r.pid])
                    last_reads[r.pid] = r.reads
                if i >= args.warm:
                    runs.append({"wall_s": wall, "group": group, "t0": t0,
                                 "fn_starts": [r.fn_start for r in rows],
                                 "zip_reads": reads})
            raw[name] = runs
        time.sleep(1.0)  # let the listener bus drain into the status store
        summary, calls = {}, {}
        for name, runs in raw.items():
            recs = []
            for r in runs:
                tasks = probe.tasks(r["group"])
                rec = {"wall_s": round(r["wall_s"], 4),
                       "executor_run_s": round(sum(t[1] for t in tasks), 4),
                       "tasks": len(tasks), "zip_reads": r["zip_reads"]}
                if r["fn_starts"] and tasks:
                    launch = sorted(t[0] for t in tasks)
                    rec["fn_start_after_launch_s"] = round(
                        statistics.median(f - l for f, l in zip(sorted(r["fn_starts"]), launch)), 4)
                    rec["fn_start_after_call_s"] = round(min(r["fn_starts"]) - r["t0"], 4)
                recs.append(rec)
            calls[name] = recs
            s = {k: _q([c[k] for c in recs if k in c])
                 for k in ("wall_s", "executor_run_s", "fn_start_after_launch_s",
                           "fn_start_after_call_s")}
            s = {k: v for k, v in s.items() if v}
            s["tasks_per_call"] = statistics.median(c["tasks"] for c in recs)
            zr = [z for c in recs for z in c["zip_reads"]]
            if zr:
                s["zip_reads_per_warm_task"] = {"median": statistics.median(zr), "max": max(zr),
                                                "tasks": len(zr)}
            summary[name] = s
        out = {
            "label": args.label,
            "python": sys.version.split()[0],
            "cores": len(os.sched_getaffinity(0)),
            "calls": args.calls,
            "warm": args.warm,
            "summary": summary,
            "per_call": calls,
        }
        spark.stop()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(out["summary"]))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(out, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
