"""Crash-injection soak for the exactly-once commit point.

Repeatedly SIGKILLs a replay subprocess at random moments (including
inside the claim→swap window the round-3 commit protocol introduced),
resumes with a fresh process each time, and finally checks:

* the completed table's live state EXACTLY equals an independent
  DuckDB LWW oracle over the staged events,
* no wedged claims (every resume makes progress),
* every batch's dead-letter directory holds exactly its slice's
  malformed events, once (the merge writes them in its own write job
  and moves them out before the commit),
* vacuum removes every orphan the kills left behind.

Usage: python BENCH/chaos.py [--events 2000000] [--kills 10]
       [--step 100000]
Writes BENCH/chaos_results.json and prints a summary.
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
import sys
sys.path.insert(0, {repo!r})
from picsure_dictionary_etl_spark.session import get_spark
from picsure_dictionary_etl_spark.cdc.generator import change_events
spark = get_spark("chaos-stage", master="local[8]", shuffle_partitions=16)
change_events(spark, {n_events}, n_convs={n_events} // 200, delete_ratio=0.05,
              hot_fraction=0.2, malformed_ratio=0.01
              ).write.mode("overwrite").parquet({events!r})
"""

WORKER = r"""
import sys
sys.path.insert(0, {repo!r})
from picsure_dictionary_etl_spark.session import get_spark
from picsure_dictionary_etl_spark.cdc.runner import CdcRunner, RunnerConfig
spark = get_spark("chaos", master="local[8]", shuffle_partitions=16)
events = spark.read.parquet({events!r})
r = CdcRunner(spark, RunnerConfig(table_root={root!r}, bucket_count=16,
                                  compact_threshold=3, vacuum_every=None,
                                  dead_letter_dir={dlq!r}))
r.replay(events, lsn_step={step}, max_lsn={n_events})
print("REPLAY_DONE", flush=True)
"""


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=2_000_000)
    ap.add_argument("--kills", type=int, default=10)
    ap.add_argument("--step", type=int, default=100_000)
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument(
        "--uri", action="store_true",
        help="root the table at a file: URI so BOTH planes (Hadoop data "
        "FS + HadoopMetadataIO commit point) take the kills",
    )
    args = ap.parse_args()
    rng = random.Random(args.seed)

    wd = tempfile.mkdtemp(prefix="chaos_")
    events, posix_root = os.path.join(wd, "events"), os.path.join(wd, "table")
    root = f"file:{posix_root}" if args.uri else posix_root
    posix_dlq = os.path.join(wd, "dlq")
    dlq = f"file:{posix_dlq}" if args.uri else posix_dlq
    subprocess.run(
        [sys.executable, "-c",
         STAGE.format(repo=REPO, n_events=args.events, events=events)],
        check=True, stderr=subprocess.DEVNULL,
    )

    code = WORKER.format(repo=REPO, events=events, root=root, dlq=dlq,
                         step=args.step, n_events=args.events)
    # observation only — the engine itself never touches the POSIX path
    # in --uri mode
    version_file = os.path.join(posix_root, "_meta", "VERSION")

    def version() -> int:
        try:
            with open(version_file) as f:
                return int(f.read().strip() or 0)
        except FileNotFoundError:
            return -1

    kills, attempts, progression = 0, 0, []
    done = False
    while not done and attempts < args.kills * 4:
        attempts += 1
        proc = subprocess.Popen([sys.executable, "-c", code],
                                stdout=subprocess.PIPE,
                                stderr=subprocess.DEVNULL, text=True)
        if kills < args.kills:
            # let it run a random slice (spanning JVM start through
            # several commits — some kills land mid-claim/mid-write)
            time.sleep(rng.uniform(8.0, 30.0))
            if proc.poll() is None:
                proc.send_signal(signal.SIGKILL)
                proc.wait()
                kills += 1
            else:
                done = "REPLAY_DONE" in (proc.stdout.read() or "")
        else:
            out, _ = proc.communicate()
            done = "REPLAY_DONE" in (out or "")
        progression.append(version())

    assert done, f"replay never completed (progression={progression})"
    # no wedged claims: versions must be non-decreasing and reach the end
    assert all(b >= a for a, b in zip(progression, progression[1:])), progression

    check = subprocess.run(
        [sys.executable, "-c", r"""
import sys, json
sys.path.insert(0, {repo!r})
import duckdb
from picsure_dictionary_etl_spark.session import get_spark
from picsure_dictionary_etl_spark.cdc.runner import CdcRunner, RunnerConfig
spark = get_spark("chaos-check", master="local[8]", shuffle_partitions=16)
r = CdcRunner(spark, RunnerConfig(table_root={root!r}, bucket_count=16))
n = r.state().count()
want = duckdb.sql('''
WITH valid AS (
  SELECT * FROM '{events}/*.parquet'
  WHERE conv_id IS NOT NULL AND lower(trim(conv_id)) <> 'null' AND trim(conv_id) <> ''
    AND turn_idx IS NOT NULL AND turn_idx >= 0 AND _lsn IS NOT NULL AND _op IN ('I','U','D')
), w AS (SELECT conv_id, turn_idx, arg_max(_op, _lsn) op FROM valid GROUP BY 1,2)
SELECT count(*) FROM w WHERE op <> 'D' ''').fetchone()[0]
# dead letters: per batch directory, its rows against the slice's
# malformed events (multiset of key, op, lsn); no batch left out
import os
bad = '''(SELECT conv_id, turn_idx, _op, _lsn FROM '{events}/*.parquet'
  WHERE NOT coalesce(conv_id IS NOT NULL AND lower(trim(conv_id)) <> 'null'
    AND trim(conv_id) <> '' AND turn_idx IS NOT NULL AND turn_idx >= 0
    AND _lsn IS NOT NULL AND _op IN ('I','U','D'), false))'''
dl_rows, dl_ok = 0, True
for b in sorted(os.listdir({posix_dlq!r})):
    lo, hi = b[len("lsn-"):].rsplit("-", 1)
    got = f"(SELECT conv_id, turn_idx, _op, _lsn FROM '{posix_dlq}/{{b}}/*.parquet')"
    want_b = f"(SELECT * FROM {{bad}} WHERE _lsn > {{lo}} AND _lsn <= {{hi}})"
    diff = duckdb.sql(f"SELECT count(*) FROM ((SELECT * FROM {{got}} EXCEPT ALL SELECT * FROM {{want_b}})"
                      f" UNION ALL (SELECT * FROM {{want_b}} EXCEPT ALL SELECT * FROM {{got}}))").fetchone()[0]
    dl_ok &= diff == 0
    dl_rows += duckdb.sql(f"SELECT count(*) FROM {{got}}").fetchone()[0]
dl_want = duckdb.sql(f"SELECT count(*) FROM {{bad}}").fetchone()[0]
gc = r.table.vacuum(keep_snapshots=2)
print("CHECK " + json.dumps({{"engine_rows": n, "oracle_rows": want,
                              "dead_letter_rows": dl_rows, "oracle_dead_letters": dl_want,
                              "match": n == want and dl_ok and dl_rows == dl_want,
                              "vacuum": gc}}), flush=True)
""".format(repo=REPO, root=root, events=events, posix_dlq=posix_dlq)],
        capture_output=True, text=True, check=True,
    )
    line = next(l for l in check.stdout.splitlines() if l.startswith("CHECK "))
    res = json.loads(line[len("CHECK "):])
    summary = {
        "events": args.events, "kills": kills, "resume_attempts": attempts,
        "uri_root": bool(args.uri),
        "version_progression": progression, **res,
    }
    with open(os.path.join(HERE, "chaos_results.json"), "w") as f:
        json.dump(summary, f, indent=2)
    print(json.dumps(summary, indent=2))
    import shutil

    shutil.rmtree(wd, ignore_errors=True)
    assert res["match"], "final state or dead letters diverged from the oracle"


if __name__ == "__main__":
    main()
