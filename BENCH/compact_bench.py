"""Compaction bench: ``optimize()`` wall time and peak memory on a table
whose buckets each hold a pile of merge-on-read deltas.

Setup (per code checkout, one Spark session each): 400k change events
(``cdc.generator.change_events``, seed 42) merged as 10 batches of 40k
into a table of 8 buckets with inline compaction off, so every bucket
holds 10 delta files. Each measured run copies that table, then times
one ``optimize()`` with the default trigger (more than 8 files), which
compacts all 8 buckets, and checks that the live row count did not
change. Peak memory is sampled every 20 ms from ``/proc`` as the summed
resident set of the driver process and all its descendants (the JVM and
its Python workers), and as the largest single descendant; both are
read-only samples, so short spikes between samples are missed.

Skewed mode (``--hot-fraction F --salt S``): the events send a fraction
F to two hot conversations (``conv-0``, ``conv-1``), and the measured
operation is, in place of ``optimize()``, one salted ``merge_into``
(``salt_partitions=S``, ``compact_threshold`` = the delta count) of 4,000
events all on those two conversations: it appends one more delta to
their buckets and so compacts exactly those hot buckets inline, the
path whose base writes ``salt_partitions`` spreads over S tasks.

Parent-against-change: ``--repo A --repo B`` runs the checkouts in
alternating worker processes (``--pairs`` rounds, ``--runs`` optimize
calls each) and reports per checkout the quartiles of the warm runs'
times and peak memory (every run but a round's first, which pays the
session's one-off Python worker start and code generation and is
reported on its own).

Usage:
    python BENCH/compact_bench.py --repo /path/to/parent --repo . \\
        --label parent --label change --out BENCH/compact_bench_results.json
    python BENCH/compact_bench.py --repo /path/to/parent --repo . \\
        --label parent --label change --hot-fraction 0.5 --salt 4 \\
        --out BENCH/compact_bench_skew_results.json
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            return next(int(line.split()[1]) for line in f if line.startswith("VmRSS:"))
    except (OSError, StopIteration):
        return 0


def _descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


class PeakRss:
    """Samples the process tree's resident memory until stopped."""

    def __init__(self, interval: float = 0.02):
        self.interval, self.total_kb, self.single_kb = interval, 0, 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            rss = [_rss_kb(p) for p in _descendants(os.getpid())]
            self.total_kb = max(self.total_kb, sum(rss))
            self.single_kb = max(self.single_kb, max(rss[1:], default=0))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()


def worker(args) -> dict:
    """Build the table once, then time ``args.runs`` optimize() calls on
    fresh copies of it. Imports the engine from ``args.repo``."""
    sys.path.insert(0, os.path.abspath(args.repo[0]))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    from pyspark.sql import functions as F

    from picsure_dictionary_etl_spark import get_spark
    from picsure_dictionary_etl_spark.cdc.envelope import TRANSCRIPT_KEY, transcript_table_schema
    from picsure_dictionary_etl_spark.cdc.generator import change_events
    from picsure_dictionary_etl_spark.lake.merge import (
        _payload_cols,
        merge_into,
        optimize,
        resolve_live,
    )
    from picsure_dictionary_etl_spark.lake.table import LakeTable

    tmp = tempfile.mkdtemp(dir=args.tmp)
    spark = get_spark("compact_bench", master=f"local[{args.cores}]", shuffle_partitions=8)
    src = LakeTable.create(
        spark, os.path.join(tmp, "src"), schema=transcript_table_schema(),
        key_cols=TRANSCRIPT_KEY, bucket_by=["conv_id"], bucket_count=args.buckets,
    )
    events = change_events(
        spark, args.events, n_convs=2000, hot_fraction=args.hot_fraction, seed=42
    )
    # the skewed mode's probe: every event on the two hot conversations
    probe = change_events(
        spark, 4000, n_convs=2000, hot_fraction=1.0, start_lsn=args.events, seed=43
    )
    step = args.events // args.deltas
    for i in range(args.deltas):
        batch = events.filter((F.col("_lsn") >= i * step) & (F.col("_lsn") < (i + 1) * step))
        merge_into(src, batch, f"b{i}", compact_threshold=10 * args.deltas)
    snap = src.current()
    files = sorted(len(fl) for fl in snap.files.values())
    # reference live row count (the Spark-plane resolve both checkouts ship)
    live_rows = resolve_live(src.read(), TRANSCRIPT_KEY, _payload_cols(snap)).count()
    runs = []
    for r in range(args.runs):
        root = os.path.join(tmp, f"run{r}")
        shutil.copytree(src.root, root)
        t = LakeTable.load(spark, root)
        with PeakRss() as mem:
            t0 = time.perf_counter()
            if args.salt:
                res = merge_into(t, probe, "probe", compact_threshold=args.deltas,
                                 salt_partitions=args.salt)
                out = res.snapshot
            else:
                out = optimize(t)
            secs = time.perf_counter() - t0
        if args.salt:
            hot = res.metrics["buckets_compacted"]
            assert hot and len(hot) < args.buckets, hot
            live = resolve_live(t.read(), TRANSCRIPT_KEY, _payload_cols(out))
            runs.append({"op_s": round(secs, 3), "compacted_buckets": hot,
                         "base_files": sum(len(out.files[str(b)]) for b in hot),
                         "live_rows": live.count(),
                         "peak_rss_tree_mb": round(mem.total_kb / 1024, 1),
                         "peak_rss_one_child_mb": round(mem.single_kb / 1024, 1)})
            shutil.rmtree(root)
            continue
        assert out is not None and len(out.lineage["optimize"]["buckets"]) == args.buckets
        rows = spark.read.parquet(*[os.path.join(root, f) for f in out.all_files()]).count()
        assert rows == live_rows, (rows, live_rows)  # bases hold exactly the live rows
        runs.append({"op_s": round(secs, 3),
                     "peak_rss_tree_mb": round(mem.total_kb / 1024, 1),
                     "peak_rss_one_child_mb": round(mem.single_kb / 1024, 1)})
        shutil.rmtree(root)
    spark.stop()
    shutil.rmtree(tmp, ignore_errors=True)
    return {"files_per_bucket": files, "live_rows": live_rows, "runs": runs}


def _quartiles(xs):
    q = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else [xs[0]] * 3
    return {"p25": round(q[0], 3), "median": round(q[1], 3), "p75": round(q[2], 3)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--repo", action="append", help="checkout to import (repeatable)")
    ap.add_argument("--label", action="append", help="name per --repo")
    ap.add_argument("--pairs", type=int, default=2, help="alternating rounds per checkout")
    ap.add_argument("--runs", type=int, default=3, help="optimize() calls per round")
    ap.add_argument("--events", type=int, default=400_000)
    ap.add_argument("--buckets", type=int, default=8)
    ap.add_argument("--deltas", type=int, default=10)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--hot-fraction", type=float, default=0.0,
                    help="share of events on two hot conversations")
    ap.add_argument("--salt", type=int, default=0,
                    help="time a salted inline-compacting merge instead of optimize()")
    ap.add_argument("--tmp", default=None, help="scratch directory for the tables")
    ap.add_argument("--out", default=None)
    ap.add_argument("--worker", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.worker:
        print(json.dumps(worker(args)))
        return
    repos = args.repo or [HERE]
    labels = args.label or [os.path.basename(os.path.abspath(r)) for r in repos]
    raw: dict[str, list] = {lab: [] for lab in labels}
    for _ in range(args.pairs):
        for repo, lab in zip(repos, labels):
            cmd = [sys.executable, os.path.abspath(__file__), "--worker", "--repo", repo,
                   "--runs", str(args.runs), "--events", str(args.events),
                   "--buckets", str(args.buckets), "--deltas", str(args.deltas),
                   "--cores", str(args.cores), "--hot-fraction", str(args.hot_fraction),
                   "--salt", str(args.salt)] + (["--tmp", args.tmp] if args.tmp else [])
            out = subprocess.run(cmd, capture_output=True, text=True, check=True)
            raw[lab].append(json.loads(out.stdout.strip().splitlines()[-1]))
            print(lab, raw[lab][-1]["runs"], file=sys.stderr)
    report = {
        "setup": {"events": args.events, "buckets": args.buckets,
                  "delta_files_per_bucket": args.deltas, "cores": args.cores,
                  "hot_fraction": args.hot_fraction, "salt_partitions": args.salt,
                  "operation": "salted merge_into" if args.salt else "optimize()",
                  "rounds": args.pairs, "runs_per_round": args.runs},
        "host": {"cpus": os.cpu_count()},
    }
    for lab in labels:
        # the first run of a round pays the session's one-off costs
        # (Python worker start, codegen); the rest run warm
        warm = [r for w in raw[lab] for r in w["runs"][1:]]
        report[lab] = {
            "op_s_warm": _quartiles([r["op_s"] for r in warm]),
            "op_s_first_run": [w["runs"][0]["op_s"] for w in raw[lab]],
            "peak_rss_tree_mb_warm": _quartiles([r["peak_rss_tree_mb"] for r in warm]),
            "peak_rss_one_child_mb_warm": _quartiles([r["peak_rss_one_child_mb"] for r in warm]),
            "live_rows": raw[lab][0]["live_rows"],
            "files_per_bucket": raw[lab][0]["files_per_bucket"],
            "rounds": raw[lab],
        }
    print(json.dumps(report, indent=1))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
