"""Crash-injection soak for the native lake SINK's exactly-once path.

Repeatedly SIGKILLs a ``writeStream.format("lake")`` query mid-flight
(kills land inside executor parquet writes, between epochs, and inside
the driver's manifest commit), restarts it from the SAME checkpoint
each time, and finally checks:

* the resolved table EXACTLY equals an independent DuckDB LWW oracle
  over the staged events — replayed epochs re-write nothing thanks to
  the executor watermark guard, and a retried commit is a batch-id
  no-op, so no kill can double-apply or drop a row;
* progress is monotone across resumes (manifest versions never move
  backwards);
* ``vacuum`` removes every orphan file the kills left behind.

The source is staged as lsn-ordered numbered files and paced with
``maxFilesPerTrigger``, so one run spans many micro-batches (the
interesting kill surface).

Kills are timed from progress, not from process start: each attempt
waits for its first new manifest commit (JVM start and the first epoch
take 10-25 s on a 4-core host, and the whole stream a few seconds
more), then kills 0-3 s later, so every kill lands between or inside
later epochs, commits and (with ``--optimizeevery``) inline
compactions. ``kills_after_commit`` counts the kills that landed on an
attempt which had already committed.

Usage: python BENCH/sink_chaos.py [--events 1000000] [--kills 8]
       [--files 20] [--files-per-trigger 2] [--optimizeevery N] [--uri]
``--uri`` roots the table at a ``file://`` URI: executors write
through pyarrow.fs and the JVM-less commit runs the POSIX-delegated
atomic claims — the r7 URI plane under SIGKILL.
Writes BENCH/sink_chaos_results[_uri].json and prints a summary.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

STAGE = r"""
import os, shutil, sys
sys.path.insert(0, {repo!r})
from picsure_dictionary_etl_spark.session import get_spark
from picsure_dictionary_etl_spark.cdc.generator import change_events
spark = get_spark("sink-chaos-stage", master="local[8]", shuffle_partitions=16)
ev = change_events(spark, {n_events}, n_convs={n_events} // 200,
                   delete_ratio=0.05, hot_fraction=0.2)
step = {n_events} // {files} + 1
os.makedirs({events!r}, exist_ok=True)
for k in range({files}):
    tmp = {events!r} + f"/.stage{{k}}"
    (ev.filter((ev._lsn >= k * step) & (ev._lsn < (k + 1) * step))
       .coalesce(1).write.mode("overwrite").parquet(tmp))
    part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
    os.rename(os.path.join(tmp, part), {events!r} + f"/f{{k:03d}}.parquet")
    shutil.rmtree(tmp)
print("STAGED", flush=True)
"""

WORKER = r"""
import sys
sys.path.insert(0, {repo!r})
from picsure_dictionary_etl_spark.session import get_spark
from picsure_dictionary_etl_spark.cdc.envelope import (
    TRANSCRIPT_KEY, change_event_schema, transcript_table_schema,
)
from picsure_dictionary_etl_spark.lake.table import LakeTable
from picsure_dictionary_etl_spark.streaming.lake_sink import (
    LakeTableSinkDataSource, with_bucket,
)
spark = get_spark("sink-chaos", master="local[8]", shuffle_partitions=16)
spark.dataSource.register(LakeTableSinkDataSource)
if not LakeTable.exists({root!r}):
    LakeTable.create(spark, {root!r}, schema=transcript_table_schema(),
                     key_cols=TRANSCRIPT_KEY, bucket_by=["conv_id"],
                     bucket_count=16)
df = with_bucket(
    spark.readStream.schema(change_event_schema())
    .option("maxFilesPerTrigger", {fpt}).parquet({events!r}),
    {root!r}, repartition=True)
wq = (df.writeStream.format("lake").option("path", {root!r})
      .option("checkpointLocation", {ckpt!r}).option("sinkid", "chaos"))
if {optimize_every}:
    wq = (wq.option("optimizeevery", {optimize_every})
            .option("optimizethreshold", 4))
q = wq.trigger(availableNow=True).start()
q.awaitTermination()
print("SINK_DONE", flush=True)
"""

CHECK = r"""
import json, sys
sys.path.insert(0, {repo!r})
import duckdb
from picsure_dictionary_etl_spark.session import get_spark
from picsure_dictionary_etl_spark.lake.table import LakeTable
spark = get_spark("sink-chaos-check", master="local[8]", shuffle_partitions=16)
t = LakeTable.load(spark, {root!r})
# every live key with its winning lsn, against the oracle's
got = {{tuple(r) for r in t.live().select("conv_id", "turn_idx", "_lsn").collect()}}
want = set(duckdb.sql('''
WITH w AS (SELECT conv_id, turn_idx, arg_max(_op, _lsn) op, max(_lsn) l
           FROM '{events}/*.parquet' GROUP BY 1, 2)
SELECT conv_id, turn_idx, l FROM w WHERE op <> 'D' ''').fetchall())
gc = t.vacuum(keep_snapshots=2)
print("CHECK " + json.dumps({{"engine_rows": len(got), "oracle_rows": len(want),
                              "match": got == want, "vacuum": gc}}), flush=True)
"""


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=1_000_000)
    ap.add_argument("--kills", type=int, default=8)
    ap.add_argument("--files", type=int, default=20)
    ap.add_argument("--files-per-trigger", type=int, default=2)
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--optimizeevery", type=int, default=0,
                    help="enable the sink's inline auto-compaction "
                         "cadence during the soak — kills then land "
                         "around optimize commits too, exercising the "
                         "crashed-claim recovery under fire")
    ap.add_argument("--kill-min", type=float, default=0.0,
                    help="earliest kill after the attempt's first new "
                         "commit (s)")
    ap.add_argument("--kill-max", type=float, default=3.0,
                    help="latest kill after the attempt's first new "
                         "commit (s)")
    ap.add_argument("--uri", action="store_true",
                    help="root the sink table at a file:// URI "
                         "(pyarrow.fs data plane + POSIX-delegated "
                         "JVM-less commit)")
    args = ap.parse_args()
    rng = random.Random(args.seed)

    wd = tempfile.mkdtemp(prefix="sink_chaos_")
    events, root = os.path.join(wd, "events"), os.path.join(wd, "table")
    ckpt = os.path.join(wd, "ck")
    subprocess.run(
        [sys.executable, "-c",
         STAGE.format(repo=REPO, n_events=args.events, events=events,
                      files=args.files)],
        check=True, stderr=subprocess.DEVNULL,
    )
    sink_root = "file://" + root if args.uri else root
    code = WORKER.format(repo=REPO, events=events, root=sink_root, ckpt=ckpt,
                         fpt=args.files_per_trigger,
                         optimize_every=args.optimizeevery)
    version_file = os.path.join(root, "_meta", "VERSION")

    def version() -> int:
        try:
            with open(version_file) as f:
                return int(f.read().strip() or 0)
        except FileNotFoundError:
            return -1

    kills, attempts, progression, after_commit = 0, 0, [], 0
    done = False
    while not done and attempts < args.kills * 4:
        attempts += 1
        v0 = version()
        proc = subprocess.Popen([sys.executable, "-c", code],
                                stdout=subprocess.PIPE,
                                stderr=subprocess.DEVNULL, text=True)
        if kills < args.kills:
            # wait for this attempt's first commit, then kill a random
            # moment later: inside the next epochs, never in startup
            deadline = time.time() + 300
            while proc.poll() is None and version() == v0 and time.time() < deadline:
                time.sleep(0.05)
            time.sleep(rng.uniform(args.kill_min, args.kill_max))
            if proc.poll() is None:
                committed = version() > v0
                proc.send_signal(signal.SIGKILL)
                proc.wait()
                kills += 1
                after_commit += committed
            else:
                done = "SINK_DONE" in (proc.stdout.read() or "")
        else:
            out, _ = proc.communicate()
            done = "SINK_DONE" in (out or "")
        progression.append(version())

    assert done, f"stream never completed (progression={progression})"
    assert all(b >= a for a, b in zip(progression, progression[1:])), progression

    check = subprocess.run(
        [sys.executable, "-c",
         CHECK.format(repo=REPO, root=sink_root, events=events)],
        capture_output=True, text=True, check=True,
    )
    line = next(l for l in check.stdout.splitlines() if l.startswith("CHECK "))
    res = json.loads(line[len("CHECK "):])
    summary = {
        "events": args.events, "kills": kills, "kills_after_commit": after_commit,
        "resume_attempts": attempts, "files": args.files, "files_per_trigger": args.files_per_trigger,
        "version_progression": progression, "uri_root": args.uri,
        "optimize_every": args.optimizeevery, **res,
    }
    suffix = "_uri" if args.uri else ""
    if args.optimizeevery:
        suffix += "_optimizeevery"
    with open(os.path.join(HERE, f"sink_chaos_results{suffix}.json"), "w") as f:
        json.dump(summary, f, indent=2)
    print(json.dumps(summary, indent=2))
    import shutil

    shutil.rmtree(wd, ignore_errors=True)
    assert res["match"], "final state diverged from the oracle"


if __name__ == "__main__":
    main()
