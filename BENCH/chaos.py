"""Crash-injection soak for the exactly-once commit point.

Repeatedly SIGKILLs a replay subprocess and resumes with a fresh
process each time. Kills are aimed from what the table shows, not
wall time. Each attempt draws its aim: its FIRST commit (the resume
commit, which takes over a crashed claim or redoes a crashed
compaction: a double crash), the commit after it, or its next
compaction. The kill comes uniform(0, 1.2 x the longest observed
span to the pointer swap) after the aimed commit's first new
``data/c<v>-*`` directory (or, for a compaction, its first new
``base/`` directory), so kills spread over the write, compaction and
claim->swap tail on any host; the first attempt lets commits land
until one has compacted, to time both spans. At each kill the
results record where the commit stood on disk (``kills_by_phase``:
``before_write``, ``write``, ``compaction`` = a new ``c<v+1>-*/base``
no snapshot references, ``claim_swap`` = a ``snap-<v+1>.json`` this
attempt wrote above VERSION, ``after_swap``). Finally it checks:

* the completed table's live state EXACTLY equals an independent
  DuckDB LWW oracle over the staged events,
* no wedged claims (every resume makes progress),
* every batch's dead-letter directory holds exactly its slice's
  malformed events, once (the merge writes them in its own write job
  and moves them out before the commit),
* vacuum removes every orphan the kills left behind.

Usage: python BENCH/chaos.py [--events 2000000] [--kills 10]
       [--step 100000] [--uri]
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

    def commit_files(v: int) -> dict[str, int]:
        """Commit ``v``'s data dirs and claim, each with its mtime."""
        out = {}
        for rel, pre in (("data", f"c{v:08d}-"), ("_meta", f"snap-{v:08d}.json")):
            try:
                names = os.listdir(os.path.join(posix_root, rel))
            except FileNotFoundError:
                continue
            for n in names:
                if n.startswith(pre):
                    full = os.path.join(posix_root, rel, n)
                    try:
                        out[full] = os.stat(full).st_mtime_ns
                    except FileNotFoundError:
                        pass
        return out

    def new_files(v: int, before: dict[str, int]) -> set[str]:
        """Commit ``v``'s files this attempt wrote (a resumed commit
        finds the crashed attempt's dirs and claim already there)."""
        return {p for p, m in commit_files(v).items() if before.get(p) != m}

    def phase(v: int, before: dict[str, int]) -> str:
        """Where this attempt's commit ``v`` stood, by the filesystem."""
        if version() >= v:
            return "after_swap"
        new = new_files(v, before)
        if any(p.endswith(".json") for p in new):
            return "claim_swap"
        if any(os.path.isdir(os.path.join(p, "base")) for p in new):
            return "compaction"
        return "write" if new else "before_write"

    # longest observed span from a commit's first new data dir ("write")
    # or first new compacted base ("base") to its pointer swap (s)
    spans = {"write": 0.0, "base": 0.0}

    def watch(proc, v: int, before: dict[str, int], stop: str) -> dict:
        """Poll commit ``v`` until ``stop`` ("write" or "base") shows,
        it swaps or the process exits; return when each was seen."""
        seen, deadline = {}, time.time() + 300
        while proc.poll() is None and time.time() < deadline:
            now, new = time.time(), new_files(v, before)
            if new:
                seen.setdefault("write", now)
            if any(os.path.isdir(os.path.join(p, "base")) for p in new):
                seen.setdefault("base", now)
            if version() >= v:
                for k in set(seen) & set(spans):
                    spans[k] = max(spans[k], now - seen[k])
                seen["swap"] = now
            if stop in seen or "swap" in seen:
                break
            time.sleep(0.02)
        return seen

    kills, attempts, progression, kill_log = 0, 0, [], []
    done = False
    while not done and attempts < args.kills * 4:
        attempts += 1
        v = max(version(), 0) + 1  # the first attempt creates v0 itself
        before = commit_files(v)
        proc = subprocess.Popen([sys.executable, "-c", code],
                                stdout=subprocess.PIPE,
                                stderr=subprocess.DEVNULL, text=True)
        if kills < args.kills:
            # aim at this attempt's first commit (the resume commit),
            # the one after it, or its first compaction; until a
            # compacting commit has been timed, let commits land
            aim = rng.choice(["first", "next", "compaction"]) if spans["base"] else "time"
            anchor = "base" if aim == "compaction" else "write"
            landed = 0
            while proc.poll() is None:
                ready = {"next": landed, "time": spans["base"]}.get(aim, True)
                if "swap" not in watch(proc, v, before, anchor if ready else "swap"):
                    break  # at the aimed commit's anchor (or the process exited)
                landed, v, before = landed + 1, v + 1, commit_files(v + 1)
            time.sleep(rng.uniform(0.0, 1.2 * spans[anchor]))
            if proc.poll() is None:
                proc.send_signal(signal.SIGKILL)
                proc.wait()
                kills += 1
                kill_log.append({"aim": aim, "aimed_version": v,
                                 "phase": phase(v, before),
                                 "version_at_kill": version()})
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
first_compaction = next((h["version"] for h in r.table.history()
                         if (h["lineage"] or {{}}).get("buckets_compacted")), None)
gc = r.table.vacuum(keep_snapshots=2)
print("CHECK " + json.dumps({{"engine_rows": n, "oracle_rows": want,
                              "first_compaction_version": first_compaction,
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
        "version_progression": progression,
        "commit_span_s": {k: round(t, 3) for k, t in spans.items()},
        "kills_by_phase": {p: sum(k["phase"] == p for k in kill_log)
                           for p in ("before_write", "write", "compaction",
                                     "claim_swap", "after_swap")},
        "kills_by_aim": {a: sum(k["aim"] == a for k in kill_log)
                         for a in ("time", "first", "next", "compaction")},
        "kill_log": kill_log,
        **res,
    }
    with open(os.path.join(HERE, "chaos_results.json"), "w") as f:
        json.dump(summary, f, indent=2)
    print(json.dumps(summary, indent=2))
    import shutil

    shutil.rmtree(wd, ignore_errors=True)
    assert res["match"], "final state or dead letters diverged from the oracle"


if __name__ == "__main__":
    main()
