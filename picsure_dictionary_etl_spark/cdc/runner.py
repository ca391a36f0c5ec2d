"""Micro-batch CDC runner: LSN-sliced replay with exactly-once commits,
checkpointed high-watermark, dead-letter routing, schema evolution, and
per-commit lineage JSONL.

This is the engine analog of the reference's ``/load/initialize``
lifecycle (``loading/DictionaryLoaderService.java:33-64`` +
``ColumnMetaGroupingPipeline.java:25-59``): its pull-iterator +
virtual-thread choreography collapses into Spark stage parallelism; its
single-flight lock collapses into a single-driver micro-batch loop over
idempotent commits.

Resume contract: the LakeTable snapshot carries the authoritative
watermark + applied batch ids (committed atomically with the data); a
side checkpoint JSON mirrors it for fast inspection. Killing the runner
between any two statements and restarting reproduces the identical final
state — verified by the kill -9 resume tests in
tests/test_lake_maintenance.py.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from picsure_dictionary_etl_spark.cdc.envelope import (
    TRANSCRIPT_KEY,
    transcript_table_schema,
)
from picsure_dictionary_etl_spark.cdc.normalize import normalize_events, valid_event_pred
from picsure_dictionary_etl_spark.lake.merge import (
    LSN_COL,
    OP_COL,
    SYSTEM_COLS,
    MergeResult,
    merge_into,
)
from picsure_dictionary_etl_spark.lake.table import LakeTable


@dataclass
class RunnerConfig:
    table_root: str
    dead_letter_dir: str | None = None
    lineage_path: str | None = None  # JSONL, one line per commit
    bucket_count: int = 16
    # UPDATE SET semantics for every batch this runner applies:
    # 'row' (whole-row LWW) | 'coalesce' (D7 partial updates) |
    # 'blank_preserve' (D6). Non-row policies ride the same MOR path
    # (_pu-tagged field-wise deltas, O(batch) writes). Note: with
    # normalize=True, sentinel normalization maps ''/'null' to NULL on
    # the winners BEFORE resolution, so blank strings read as
    # "unspecified" under coalesce too (D6-ish) for normalized columns.
    update_policy: str = "row"
    # Max files per bucket before inline compaction. Scaled by the
    # salt factor internally (salting writes `salt_partitions` files per
    # bucket per batch — a raw file count would trigger compaction churn).
    compact_threshold: int = 8
    # Bytes companion to the count trigger (lake/merge._should_compact):
    # deltas exceeding this compact early even below the count; a base
    # above it with <2% delta bytes defers (bounded at 4x the count).
    compact_target_bytes: int = 64 * 1024 * 1024
    # Hot-bucket salting: spread each bucket's write across N tasks.
    # Leave None unless key skew concentrates a batch into few buckets —
    # the extra shuffle width costs ~15% when skew is absent.
    salt_partitions: int | None = None
    # Adaptive skew response: watch each commit's per-bucket WINNER row
    # counts (free — parquet footers in lineage; winners, not raw
    # events, are what the write tasks feel: event-count skew alone is
    # already absorbed by the map-side LWW combine) and engage salting
    # for SUBSEQUENT batches when the hottest bucket exceeds
    # auto_salt_factor x the median, disengaging when skew subsides.
    # This is the single-writer analog of AQE's skew-join split, applied
    # to the write path AQE cannot rebalance (the dynamic-partition
    # writer's task-per-bucket layout).
    auto_salt: bool = False
    auto_salt_factor: float = 4.0
    auto_salt_partitions: int = 4
    auto_salt_min_rows: int = 10_000
    # Adaptive shuffle-shape response to hot-KEY duplicate storms, the
    # skew auto-salt CANNOT see (per-bucket WINNER counts stay normal
    # when 90% of raw events collapse onto one key): watch each
    # commit's duplicate factor rows_in/winners from the conflict
    # lineage and flip the NEXT batch to the map-side combine-first
    # plan (measured 2.1x under a 90%-one-key storm; within ~10% of
    # the one-shuffle plan when keys are spread), flipping back when
    # the storm subsides.
    auto_combine_first: bool = False
    auto_combine_dup_factor: float = 3.0
    # Disk hygiene for long replays: every N commits, delete data files
    # no retained snapshot references (compaction supersedes delta
    # files; without GC a 10^10-event replay leaks the whole history).
    # None disables. Safe under the single-writer discipline; retained
    # snapshot count = vacuum_keep_snapshots (time-travel horizon).
    vacuum_every: int | None = None
    vacuum_keep_snapshots: int = 2
    normalize: bool = True
    extra_fields: list[T.StructField] = field(default_factory=list)
    # Commit-point implementation for the table's snapshot metadata
    # (None = local/shared-POSIX; inject an object-store/catalog client
    # for deployments without a shared mount — see lake/metadata_io.py).
    metadata_io: Any = None


class CdcRunner:
    def __init__(self, spark: SparkSession, config: RunnerConfig):
        self.spark = spark
        self.config = config
        # adaptive salting state (None = not engaged); manual
        # salt_partitions takes precedence when set
        self._auto_salt_active: int | None = None
        # adaptive shuffle shape (None = merge_into's own default)
        self._auto_combine_active: bool | None = None
        if LakeTable.exists(config.table_root, io=config.metadata_io):
            self.table = LakeTable.load(spark, config.table_root, io=config.metadata_io)
        else:
            self.table = LakeTable.create(
                spark,
                config.table_root,
                schema=transcript_table_schema(config.extra_fields),
                key_cols=TRANSCRIPT_KEY,
                bucket_by=["conv_id"],
                bucket_count=config.bucket_count,
                io=config.metadata_io,
            )

    # ---------- public API ----------

    def watermark(self) -> int:
        return self.table.watermark()

    def apply_batch(
        self, events: DataFrame, batch_id: str, watermark_lsn: int | None = None
    ) -> MergeResult:
        """Schema-evolve → MERGE (dead-letter split, LWW, normalize, one
        write job) → lineage.

        Idempotent: redelivering the same ``batch_id`` is a committed
        no-op (the exactly-once gate lives inside ``merge_into``).
        """
        t0 = time.monotonic()
        if batch_id in self.table.applied_batch_ids():
            return MergeResult(
                self.table.current(), {"batch_id": batch_id, "skipped_duplicate_batch": True}
            )

        self._evolve_for(events)

        # Malformed rows must never vanish silently (reference: error
        # registry always on, loading/ColumnMetaErrorWriter.java:21-38).
        # Validity only reads key/op/lsn fields, which normalize never
        # touches, so merge_into splits the raw events: the dead rows
        # skip the watermark, the reduce and normalize and ride the
        # merge's own write job as bucket -1, whose files move to
        # <dead_letter_dir>/<batch_id> (replacing a redelivery's) before
        # the commit. They hold the table's columns, any the event lacks
        # null-filled. Their count is observed on that write and
        # committed in the lineage. Normalize runs AFTER the LWW reduce,
        # over winners only: the vectorized-UDF volume drops by the
        # duplicate factor at identical final state.
        dl_path = (
            os.path.join(self.config.dead_letter_dir, batch_id)
            if self.config.dead_letter_dir
            else None
        )
        salt = self.config.salt_partitions or self._auto_salt_active
        result = merge_into(
            self.table,
            events,
            batch_id,
            compact_threshold=self.config.compact_threshold * (salt or 1),
            compact_target_bytes=self.config.compact_target_bytes,
            salt_partitions=salt,
            extra_lineage={"salt_partitions": salt, "combine_first": self._auto_combine_active},
            watermark_lsn=watermark_lsn,
            post_reduce_transform=normalize_events if self.config.normalize else None,
            update_policy=self.config.update_policy,
            combine_first=self._auto_combine_active,
            dead_letters=(valid_event_pred(), dl_path),
        )
        self._maybe_adapt_salt(result.metrics)
        self._maybe_adapt_combine(result.metrics)
        if (
            self.config.vacuum_every
            and not result.metrics.get("skipped_duplicate_batch")
            and result.snapshot.version % self.config.vacuum_every == 0
        ):
            result.metrics["vacuum"] = self.table.vacuum(
                keep_snapshots=self.config.vacuum_keep_snapshots
            )
        result.metrics["commit_seconds"] = round(time.monotonic() - t0, 4)
        rows = result.metrics.get("rows_in") or 0
        if rows and result.metrics["commit_seconds"]:
            result.metrics["rows_per_sec"] = round(rows / result.metrics["commit_seconds"], 1)
        self._record_lineage(result)
        return result

    def replay(
        self,
        events: DataFrame,
        lsn_step: int,
        max_lsn: int | None = None,
    ) -> list[MergeResult]:
        """Replay a bounded change stream in LSN-range micro-batches of
        width ``lsn_step``, resuming from the committed watermark.

        The per-batch filter ``lsn > lo AND lsn <= hi`` is a pushed-down
        parquet predicate when ``events`` is a file scan — each batch
        reads only its slice.
        """
        if max_lsn is None:
            from pyspark.sql import functions as F

            max_lsn = events.agg(F.max(LSN_COL)).collect()[0][0]
            if max_lsn is None:
                return []
        results = []
        lo = self.watermark()
        from pyspark.sql import functions as F

        lsn = F.col(LSN_COL)
        while lo < max_lsn:
            hi = min(lo + lsn_step, max_lsn)
            batch = events.filter((lsn > lo) & (lsn <= hi))
            batch_id = f"lsn-{lo}-{hi}"
            # watermark advances to the *range end* so a restarted runner
            # re-slices identical LSN ranges (identical batch ids)
            results.append(self.apply_batch(batch, batch_id, watermark_lsn=hi))
            lo = hi
        return results

    def state(self) -> DataFrame:
        """Current live table (key and payload columns, no system
        columns): :meth:`LakeTable.live`, bucket by bucket, no shuffle."""
        snap = self.table.current()
        from picsure_dictionary_etl_spark.lake.merge import _payload_cols

        return self.table.live(snap).select(*snap.key_cols, *_payload_cols(snap))

    def conversation(self, conv_id: str) -> DataFrame:
        """Serving-path point lookup: one conversation's live turns in
        turn order — :meth:`LakeTable.read_keys` on the current snapshot,
        a driver-side read of the one bucket ``conv_id`` hashes to. No
        Spark job runs until an action on the result. A root pyarrow
        cannot open (``viewfs:``, ``s3a:``) raises
        ``NotImplementedError``."""
        return self.table.read_keys([conv_id])

    # ---------- internals ----------

    def _maybe_adapt_salt(self, metrics: dict) -> None:
        """Engage/disengage auto-salting from the commit's per-bucket
        row counts (parquet-footer lineage — zero extra jobs). Applies
        from the NEXT batch: skew observed now predicts skew next batch
        (hot conversations stay hot across LSN windows)."""
        cfg = self.config
        if not cfg.auto_salt or cfg.salt_partitions:
            return
        per_bucket = metrics.get("per_bucket_rows") or {}
        rows = sorted(per_bucket.values())
        if not rows or sum(rows) < cfg.auto_salt_min_rows:
            return
        median = rows[len(rows) // 2]
        skewed = rows[-1] > cfg.auto_salt_factor * max(median, 1)
        self._auto_salt_active = cfg.auto_salt_partitions if skewed else None

    def _maybe_adapt_combine(self, metrics: dict) -> None:
        """Flip the merge's shuffle shape from the commit's duplicate
        factor (rows_in / winners — the conflict lineage, free): a
        hot-KEY storm collapses map-side under combine-first before any
        bytes shuffle. Applies from the NEXT batch; disengages (back to
        the cheaper one-shuffle plan) when duplicates subside."""
        cfg = self.config
        if not cfg.auto_combine_first:
            return
        rows_in, winners = metrics.get("rows_in"), metrics.get("winners")
        if not rows_in or not winners or rows_in < cfg.auto_salt_min_rows:
            return
        storm = rows_in / max(winners, 1) > cfg.auto_combine_dup_factor
        self._auto_combine_active = True if storm else None

    def _evolve_for(self, events: DataFrame) -> None:
        """Additive schema evolution: new non-system event columns become
        table columns (metadata-only commit). Reference analog: dynamic
        extra CSV columns -> new metadata keys (``CSVUtility.java:38-49``)."""
        snap = self.table.current()
        table_cols = {f.name for f in snap.schema.fields}
        new = [
            f
            for f in events.schema.fields
            if f.name not in table_cols and f.name not in SYSTEM_COLS
        ]
        if new:
            # appended after _lsn; column order is cosmetic (reads are
            # by-name), no data rewrite happens
            self.table.evolve_schema(new)

    def _record_lineage(self, result: MergeResult) -> None:
        if not self.config.lineage_path:
            return
        os.makedirs(os.path.dirname(self.config.lineage_path) or ".", exist_ok=True)
        with open(self.config.lineage_path, "a") as f:
            f.write(json.dumps({"version": result.snapshot.version, **result.metrics}) + "\n")
