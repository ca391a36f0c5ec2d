"""The benchmark's workloads: one closed loop each, against the engine's
public API, from a single process.

Both workloads run the same cycle on a pre-loaded table and differ only
in the write path, so a change to one path shows against the other:

* ``replay_micro`` writes each 5,000-event slice as one
  ``CdcRunner.replay`` commit, with the dead-letter queue on. The
  commits are small, so their time is the engine's fixed per-commit
  work: planning, Spark job launches, the dead-letter pass, the
  manifest read and write.
* ``feed_serve`` appends each slice through the ``lake`` sink, with no
  ``with_bucket``, so executors hash the buckets themselves. Sink
  appends never compact, so delta files pile up for the readers; a
  traced run ends with ``optimize()``.

One epoch is one slice write, then the reads a downstream user makes:
a checkpointed ``ChangeFeedConsumer.poll()`` whose diff is
materialised, a ``lake_cdf`` batch read of the same span, and two
``CdcRunner.conversation()`` point lookups, of a hot and of a cold
conversation. A write-side change that leaves more files behind shows
up as slower reads. Epochs repeat until the run's seconds are spent and
``MIN_EPOCHS`` are done (closed loop: one client, each call waits for
the last).
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import events as ev
from oracle import Oracle, OracleMismatch
from spans import NullTracer

SLICE = 5_000  # events per commit or sink append
KEY_CONVS = 500  # pre-load: KEY_CONVS x 50 turns = 25k live keys
BUCKETS = 4  # one bucket per core
PRELOAD = KEY_CONVS * ev.TURNS
SETUP_REPS = 3  # timed set-ups: setup_s is their median
WARMUP_EPOCHS = 1  # untimed epochs on the measured table
MIN_EPOCHS = 3
MAX_EPOCHS = 8
HOT_FRACTION = 0.2
STREAM_EVENTS = (WARMUP_EPOCHS + MAX_EPOCHS) * SLICE
TABLE_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "_op", "_lsn"]


WORKLOADS = ("replay_micro", "feed_serve")
MALFORMED = 0.01  # share of malformed events in replay_micro's stream


@dataclass
class Measured:
    setup_s: list[float] = field(default_factory=list)
    commit_s: list[float] = field(default_factory=list)
    feed_lag_s: list[float] = field(default_factory=list)
    cdf_read_s: list[float] = field(default_factory=list)
    lookup_s: list[float] = field(default_factory=list)
    events_written: int = 0
    attempted: int = 0
    failed: int = 0
    dead_letter_rows: int = 0
    files_live: list[int] = field(default_factory=list)
    bucket_files_per_lookup: list[int] = field(default_factory=list)
    files_per_epoch: list[int] = field(default_factory=list)
    merge_metrics: list[dict] = field(default_factory=list)
    data_bytes_before: int = 0
    data_bytes_after: int = 0
    input_bytes: int = 0
    optimize_bytes: int = 0
    manifest_bytes: int = 0
    epochs: int = 0


def stage_inputs(root: str, seed: int, workload: str) -> dict:
    """Generate and stage the run's events before anything is timed."""
    pre = ev.make_events(seed, 0, PRELOAD, KEY_CONVS, inserts_only=True)
    stream = ev.make_events(
        seed, PRELOAD, STREAM_EVENTS, KEY_CONVS, hot_fraction=HOT_FRACTION,
        # the sink has no dead-letter split: it is fed clean events
        malformed=MALFORMED if workload == "replay_micro" else 0.0,
    )
    paths = {"pre": os.path.join(root, "in", "pre"), "stream": os.path.join(root, "in", "stream")}
    ev.stage(pre, paths["pre"])
    # one row group per slice: each commit's LSN filter reads one group
    ev.stage(stream, paths["stream"], row_group=SLICE)
    return paths


class Cycle:
    """One run of a workload: warm-up, timed set-ups, then epochs until
    time is up."""

    def __init__(self, spark, tracer, root: str, seed: int, workload: str, paths: dict):
        from pyspark.sql import functions as F

        self.F = F
        self.spark, self.tracer, self.root, self.seed = spark, tracer, root, seed
        self.replay = workload == "replay_micro"  # else the sink writes
        self.pre = spark.read.schema(ev.SPARK_SCHEMA).parquet(paths["pre"])
        self.stream = spark.read.schema(ev.SPARK_SCHEMA).parquet(paths["stream"])
        self.paths = paths
        self.oracle = Oracle([os.path.join(paths["pre"], "*.parquet"),
                              os.path.join(paths["stream"], "*.parquet")])
        self.m = Measured()
        self.next_lsn = PRELOAD
        self.hot = [f"conv-{i}" for i in range(ev.HOT_CONVS)]

    # ---------- set-up ----------

    def _runner(self, name: str):
        from picsure_dictionary_etl_spark.cdc import CdcRunner, RunnerConfig

        return CdcRunner(self.spark, RunnerConfig(
            table_root=os.path.join(self.root, name, "table"),
            dead_letter_dir=os.path.join(self.root, name, "dlq") if self.replay else None,
            bucket_count=BUCKETS,
        ))

    def _preload(self, runner) -> None:
        """Load the 25k pre-load keys into a fresh table in one commit
        through the workload's write path."""
        if self.replay:
            res = runner.replay(self.pre, lsn_step=PRELOAD, max_lsn=PRELOAD - 1)
            if len(res) != 1:
                raise RuntimeError(f"pre-load made {len(res)} commits, planned 1")
        else:
            self._sink_append(runner.table.root, self.pre)

    def warm_up(self) -> None:
        """Untimed: create and pre-load the measured table, then run
        ``WARMUP_EPOCHS`` epochs on it, so that the JVM's first passes
        over the write and read paths (code generation, Python
        data-source workers, the JIT) are paid before anything is
        timed."""
        from picsure_dictionary_etl_spark.lake.consume import ChangeFeedConsumer

        t = time.perf_counter()
        self.runner = self._runner("measured")
        self.table = self.runner.table
        self._preload(self.runner)
        self.warmup_s = {"preload": time.perf_counter() - t}
        t = time.perf_counter()
        self.consumer = ChangeFeedConsumer(
            self.table, os.path.join(self.root, "measured", "consumer"),
            start_version=self.table.current_version(),
        )
        # the warm-up epochs are neither counted nor traced
        kept = self.m, self.tracer
        self.m, self.tracer = Measured(), NullTracer()
        for _ in range(WARMUP_EPOCHS):
            self.epoch()
        self.m, self.tracer = kept
        self.warmup_s["epochs"] = time.perf_counter() - t

    def setup(self) -> None:
        """``SETUP_REPS`` timed set-ups, each the same as the measured
        table's: a fresh table, pre-loaded. Each table is deleted after
        it is timed."""
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            runner = self._runner(f"setup{rep}")
            self._preload(runner)
            self.m.setup_s.append(time.perf_counter() - t)
            shutil.rmtree(os.path.join(self.root, f"setup{rep}"))

    # ---------- operations ----------

    def _sink_append(self, root: str, df) -> None:
        df.select(*TABLE_COLS).write.format("lake").mode("append").option("path", root).save()

    def _cdf(self, start: int, end: int):
        return (
            self.spark.read.format("lake_cdf").option("path", self.table.root)
            .option("startversion", start).option("endversion", end).load().toArrow()
        )

    def _write(self, tracer, lo: int, hi: int) -> dict | None:
        F = self.F
        if self.replay:
            with tracer.span("cdc.replay"):
                res = self.runner.replay(self.stream, lsn_step=SLICE, max_lsn=hi)
            if len(res) != 1:
                raise RuntimeError(f"slice ({lo}, {hi}] made {len(res)} commits, planned 1")
            return res[0].metrics
        batch = self.stream.filter((F.col("_lsn") >= lo) & (F.col("_lsn") <= hi))
        with tracer.span("sink.save"):
            self._sink_append(self.table.root, batch)
        return None

    def epoch(self) -> None:
        """One write, then the change feed, the ``lake_cdf`` read and two
        lookups; the checks run after the timed calls."""
        m, tr = self.m, self.tracer

        def op(fn, *args):
            m.attempted += 1
            return fn(*args)

        v0 = self.table.current_version()
        files0 = set(self._files(v0)) if tr.enabled else set()
        lo, hi = self.next_lsn, self.next_lsn + SLICE - 1
        t_start = time.perf_counter()
        metrics = op(self._write, tr, lo, hi)
        m.commit_s.append(time.perf_counter() - t_start)
        m.events_written += SLICE
        self.next_lsn = hi + 1

        def poll():
            batch = self.consumer.poll()
            with tr.span("consume.materialize"):
                return batch, batch.df.toArrow()

        batch, diff = op(poll)
        m.feed_lag_s.append(time.perf_counter() - t_start)
        batch.ack()
        v1 = batch.to_version

        t = time.perf_counter()
        with tr.span("cdf.read"):
            feed = op(self._cdf, v0, v1)
        m.cdf_read_s.append(time.perf_counter() - t)

        # one hot and one cold conversation
        k = m.epochs
        cold = ev.HOT_CONVS + (self.seed * 7919 + k * 104_729) % (KEY_CONVS - ev.HOT_CONVS)
        lookups = {self.hot[k % ev.HOT_CONVS]: None, f"conv-{cold}": None}
        for conv in lookups:
            t = time.perf_counter()
            with tr.span("runner.conversation"):
                lookups[conv] = op(lambda: self.runner.conversation(conv).toArrow())
            m.lookup_s.append(time.perf_counter() - t)

        self.oracle.check_diff(diff, lo - 1, hi)
        self.oracle.check_diff(feed, lo - 1, hi)
        for conv, rows in lookups.items():
            self.oracle.check_rows(rows, hi, conv)
        if metrics is not None:
            m.merge_metrics.append(metrics)
            m.dead_letter_rows += int(metrics.get("dead_letter_rows") or 0)
            want = self.oracle.malformed(lo, hi)
            if int(metrics.get("dead_letter_rows") or 0) != want:
                raise OracleMismatch(f"{metrics.get('dead_letter_rows')} dead letters "
                                     f"in ({lo - 1}, {hi}], oracle has {want}")
        if tr.enabled:
            snap = self.table.snapshot(v1)
            m.files_live.append(sum(len(f) for f in snap.files.values()))
            m.files_per_epoch.append(len(set(self._files(v1)) - files0))
            for conv in lookups:
                m.bucket_files_per_lookup.append(len(snap.files.get(str(self._bucket(conv)), [])))
        m.epochs += 1

    def _files(self, version: int) -> list[str]:
        return [f for fl in self.table.snapshot(version).files.values() for f in fl]

    def _bucket(self, conv: str) -> int:
        """The conversation's bucket, by the table's placement rule."""
        df = self.spark.createDataFrame([(conv,)], "conv_id string")
        return df.selectExpr(f"pmod(xxhash64(conv_id), {BUCKETS})").first()[0]

    # ---------- the run ----------

    def run(self, seconds: float) -> Measured:
        m = self.m
        data = os.path.join(self.table.root, "data")
        m.data_bytes_before = ev.dir_bytes(data)
        deadline = time.perf_counter() + seconds
        while (time.perf_counter() < deadline or m.epochs < MIN_EPOCHS) and m.epochs < MAX_EPOCHS:
            self.epoch()
        m.data_bytes_after = ev.dir_bytes(data)
        m.input_bytes = int(ev.dir_bytes(self.paths["stream"]) * m.events_written
                            / STREAM_EVENTS)
        hi = self.next_lsn - 1
        snap = self.table.current()
        m.manifest_bytes = len(snap.to_json().encode())
        if not self.replay and self.tracer.enabled:
            # per-layer figures only, so untraced runs skip it
            self._optimize()
            # optimize must leave the live state as it was
            self.oracle.check_rows(self.runner.state().toArrow(), hi)
        return m

    def _optimize(self) -> None:
        from picsure_dictionary_etl_spark.lake.merge import optimize

        before = self.table.current()
        # fold every bucket's deltas, as at the end of a feed session; the
        # default trigger (more than 8 files) is not reached in a run
        with self.tracer.span("merge.optimize"):
            after = optimize(self.table, compact_threshold=1)
        if after is not None:
            new = set(f for fl in after.files.values() for f in fl) - set(before.all_files())
            self.m.optimize_bytes = sum(after.file_sizes.get(f, 0) for f in new)
