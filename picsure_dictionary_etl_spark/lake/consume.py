"""Checkpointed change-feed consumption — the downstream half of the
CDC story (reference analog: the reference's consumers re-read its
Postgres tables wholesale after every load, README.md:247-260; here an
incremental consumer reads only what changed).

A :class:`ChangeFeedConsumer` tails a LakeTable's committed snapshots:
each :meth:`poll` returns the classified diff (``_change ∈ I/U/D``,
via :func:`~.merge.table_changes` — the ``lake_cdf`` executor kernel,
O(changed buckets), never O(table)) between the last ACKNOWLEDGED
version and the current one; a first poll whose base is vacuumed
bootstraps from the empty table (the full live state as ``I`` rows).
D rows carry the deleted row's preimage ``_lsn`` (see
``table_changes``). The consumer acks AFTER durably applying the
batch; a crash between poll and ack simply re-delivers the same
deterministic diff (at-least-once delivery, idempotent by
construction: the diff between two fixed versions is a pure function
of the manifests, and applying a state diff as a patch is idempotent —
see tests/test_table_changes.py::test_state_diff_patch_property).

The checkpoint is one small text object behind the same
:class:`~.metadata_io.MetadataIO` protocol as the table's commit point
(atomic swap), so consumer state survives the same failure domains the
table does. Several independent consumers = several checkpoint paths.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from picsure_dictionary_etl_spark.lake.merge import table_changes
from picsure_dictionary_etl_spark.lake.metadata_io import MetadataIO
from picsure_dictionary_etl_spark.lake.table import LakeTable


class ChangeFeedRetentionError(RuntimeError):
    """The consumer's acked version has fallen behind the table's
    snapshot retention (vacuum removed the manifest its next diff needs)
    — the same condition as a Kafka consumer past the log's retention
    horizon. Recover by re-bootstrapping (a fresh checkpoint re-emits
    the full live state as inserts) or raise ``vacuum``'s
    ``keep_snapshots`` to cover the slowest consumer's lag."""


class ChangeBatch:
    """One polled change set: ``df`` holds the I/U/D rows, and
    ``ack()`` durably advances the checkpoint to ``to_version`` —
    call it only after the batch is applied downstream."""

    def __init__(self, consumer: "ChangeFeedConsumer", df: DataFrame,
                 from_version: int, to_version: int):
        self._consumer = consumer
        self.df = df
        self.from_version = from_version
        self.to_version = to_version

    def ack(self) -> None:
        self._consumer._write_ckpt(self.to_version)


class ChangeFeedConsumer:
    def __init__(
        self,
        table: LakeTable,
        checkpoint_path: str,
        io: MetadataIO | None = None,
        start_version: int = 0,
    ):
        self.table = table
        self.checkpoint_path = checkpoint_path
        # default to the TABLE's commit-point IO so the checkpoint
        # really does live behind the same protocol / failure domain
        # (a URI-rooted table gets the Hadoop plane, a catalog-backed
        # table its catalog client) — a plain-POSIX default silently
        # downgraded exactly the deployments that need it most
        self.io = io or table.io
        self.start_version = start_version
        parent = os.path.dirname(checkpoint_path)
        if parent:
            self.io.makedirs(parent)

    # ---------- checkpoint ----------

    def acked_version(self) -> int:
        try:
            return int(self.io.read_text(self.checkpoint_path).strip())
        except FileNotFoundError:
            return self.start_version

    def _write_ckpt(self, version: int) -> None:
        # atomic swap: a torn checkpoint can never exist; a crash before
        # this line re-delivers the batch (at-least-once)
        self.io.swap_pointer(self.checkpoint_path, str(version))

    # ---------- consumption ----------

    def poll(self) -> ChangeBatch | None:
        """The diff from the last acked version to the table's current
        version, or None when caught up. Does not advance the
        checkpoint — the caller applies the batch, then ``ack()``s.

        Retention interplay: diffs need BOTH manifests. If vacuum
        removed the from-version's manifest, a from-genesis consumer
        that never acked anything bootstraps (full live state as
        inserts — it has applied nothing, so that IS its diff). A
        consumer with applied state — OR one created with a non-zero
        ``start_version``, whose intent was to SKIP history — raises
        :class:`ChangeFeedRetentionError` instead: silently widening a
        vacuumed skip-point into a full-state bootstrap would replay
        exactly the history the caller asked to skip."""
        last = self.acked_version()
        cur = self.table.current_version()
        if cur <= last:
            return None
        base = last
        try:
            self.table.snapshot(last)
        except FileNotFoundError:
            if not last == self.start_version == 0:
                raise ChangeFeedRetentionError(
                    f"acked version {last} of {self.table.root} is beyond snapshot "
                    f"retention (oldest manifests vacuumed); re-bootstrap with a "
                    f"fresh checkpoint or raise vacuum keep_snapshots"
                ) from None
            base = -1  # nothing applied yet: bootstrap from the empty table
        return ChangeBatch(self, table_changes(self.table, base, cur), last, cur)

    def consume(self, apply_fn, max_batches: int | None = None) -> int:
        """Drain loop: poll → ``apply_fn(df, from_v, to_v)`` → ack,
        until caught up (or ``max_batches``). Returns batches applied.
        ``apply_fn`` must be idempotent per (from_v, to_v) — redelivery
        after a crash re-invokes it with the identical diff."""
        n = 0
        while max_batches is None or n < max_batches:
            batch = self.poll()
            if batch is None:
                return n
            apply_fn(batch.df, batch.from_version, batch.to_version)
            batch.ack()
            n += 1
        return n
