"""Where a warm ``CdcRunner.replay`` commit spends its wall time.

Stages cdcbench's ``replay_micro`` inputs for ``--seed`` (a 25k-key
pre-load and 5,000-event slices with 1% malformed events), pre-loads a
4-bucket table with the dead-letter queue on, runs ``--warm`` untimed
commits, then times ``--commits`` one-slice commits and splits each
into phases:

* ``plan_s``: driver time in ``apply_batch`` before and between the
  ``DataFrameWriter`` write calls (Python plan building, Py4J);
* ``write_plan_s``: from each write call to its first Spark job's
  submission (JVM analysis, optimisation and physical planning);
* ``jobs``: each Spark job's wall time, from the status store's
  submission and completion timestamps, and ``job_gap_s``, the time
  inside write calls between jobs (AQE re-planning);
* ``write_finish_s``: from a write's last job completing to the write
  call returning (the file commit protocol);
* ``post_s``: from the last write call returning to the commit's end
  (file listing, footer counts, the manifest commit, lineage).

Run from the root of a checkout; the same script measures any commit:

    python3 BENCH/commit_timeline.py --seed 301 --commits 10 --out BENCH/x.json

Prints one JSON object (medians per phase, and every commit's record)
and writes it to ``--out``. Everything the run writes lives under one
temporary directory, deleted at the end.
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

SLICE = 5_000


def _median(xs):
    return round(statistics.median(xs), 4) if xs else 0.0


class Timeline:
    """Wraps ``CdcRunner.apply_batch`` and ``DataFrameWriter.parquet``
    and gives each commit its own Spark job group."""

    def __init__(self, spark):
        from pyspark.sql.readwriter import DataFrameWriter

        from picsure_dictionary_etl_spark.cdc import runner

        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.writes: list[tuple[float, float]] = []
        self.apply: tuple[float, float] | None = None
        write, apply = DataFrameWriter.parquet, runner.CdcRunner.apply_batch
        self._orig = [(DataFrameWriter, "parquet", write),
                      (runner.CdcRunner, "apply_batch", apply)]
        tl = self

        def parquet(writer, *args, **kwargs):
            t0 = time.time()
            try:
                return write(writer, *args, **kwargs)
            finally:
                tl.writes.append((t0, time.time()))

        def apply_batch(runner_self, *args, **kwargs):
            t0 = time.time()
            try:
                return apply(runner_self, *args, **kwargs)
            finally:
                tl.apply = (t0, time.time())

        DataFrameWriter.parquet = parquet
        runner.CdcRunner.apply_batch = apply_batch

    def uninstall(self):
        for owner, attr, orig in self._orig:
            setattr(owner, attr, orig)

    def _jobs(self, group: str) -> list[tuple[int, float, float]]:
        out = []
        for j in self.sc.statusTracker().getJobIdsForGroup(group):
            d = self.store.job(int(j))
            sub, done = d.submissionTime(), d.completionTime()
            if sub.isDefined() and done.isDefined():
                out.append((int(j), sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        return sorted(out, key=lambda x: x[1])

    def commit(self, fn, group: str) -> dict:
        self.writes, self.apply = [], None
        self.sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        a0, a1 = self.apply
        jobs = self._jobs(group)
        rec = {"total_s": a1 - a0, "plan_s": 0.0, "write_plan_s": 0.0, "job_gap_s": 0.0,
               "write_finish_s": 0.0, "post_s": 0.0, "writes": len(self.writes),
               "jobs": [round(done - sub, 4) for _, sub, done in jobs]}
        last = a0
        for w0, w1 in self.writes:
            rec["plan_s"] += w0 - last
            inside = [j for j in jobs if w0 - 0.002 <= j[1] <= w1 + 0.002]
            if inside:
                rec["write_plan_s"] += max(0.0, inside[0][1] - w0)
                for (_, _, d0), (_, s1, _) in zip(inside, inside[1:]):
                    rec["job_gap_s"] += max(0.0, s1 - d0)
                rec["write_finish_s"] += max(0.0, w1 - max(d for _, _, d in inside))
            last = w1
        rec["post_s"] = a1 - last
        rec["jobs_s"] = sum(rec["jobs"])
        return {k: (round(v, 4) if isinstance(v, float) else v) for k, v in rec.items()}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=301)
    ap.add_argument("--commits", type=int, default=10)
    ap.add_argument("--warm", type=int, default=3)
    ap.add_argument("--label", default=None)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    import workloads as wl

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    from picsure_dictionary_etl_spark import get_spark
    from picsure_dictionary_etl_spark.cdc import CdcRunner, RunnerConfig

    tmp = tempfile.mkdtemp(prefix="commit_timeline_")
    try:
        import events as ev

        # replay_micro's staging, with as many slices as the run needs
        n_slices = args.warm + args.commits
        paths = {"pre": os.path.join(tmp, "pre"), "stream": os.path.join(tmp, "stream")}
        ev.stage(ev.make_events(args.seed, 0, wl.PRELOAD, wl.KEY_CONVS, inserts_only=True),
                 paths["pre"])
        ev.stage(ev.make_events(args.seed, wl.PRELOAD, n_slices * SLICE, wl.KEY_CONVS,
                                hot_fraction=wl.HOT_FRACTION, malformed=wl.MALFORMED),
                 paths["stream"], row_group=SLICE)
        spark = get_spark("commit_timeline", master="local[4]")
        spark.sparkContext.setLogLevel("ERROR")
        stream = spark.read.schema(ev.SPARK_SCHEMA).parquet(paths["stream"])
        pre = spark.read.schema(ev.SPARK_SCHEMA).parquet(paths["pre"])
        runner = CdcRunner(spark, RunnerConfig(
            table_root=os.path.join(tmp, "table"), dead_letter_dir=os.path.join(tmp, "dlq"),
            bucket_count=wl.BUCKETS))
        runner.replay(pre, lsn_step=wl.PRELOAD, max_lsn=wl.PRELOAD - 1)
        hi = wl.PRELOAD - 1
        for _ in range(args.warm):
            hi += SLICE
            runner.replay(stream, lsn_step=SLICE, max_lsn=hi)
        tl = Timeline(spark)
        recs = []
        try:
            for i in range(args.commits):
                hi += SLICE
                recs.append(tl.commit(
                    lambda h=hi: runner.replay(stream, lsn_step=SLICE, max_lsn=h),
                    f"timeline-{i}"))
        finally:
            tl.uninstall()
        phases = ["total_s", "plan_s", "write_plan_s", "jobs_s", "job_gap_s",
                  "write_finish_s", "post_s"]
        out = {
            "label": args.label,
            "seed": args.seed,
            "commits": args.commits,
            "events_per_commit": SLICE,
            "cores": len(os.sched_getaffinity(0)),
            "median": {p: _median([r[p] for r in recs]) for p in phases},
            "jobs_per_commit": _median([len(r["jobs"]) for r in recs]),
            "writes_per_commit": _median([r["writes"] for r in recs]),
            "per_commit": recs,
        }
        spark.stop()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(out))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(out, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
