"""LakeTable — a minimal ACID snapshot-manifest table format on Parquet.

The target design is Iceberg ``MERGE INTO`` (the Spark-native analog of
the reference's ``INSERT ... ON CONFLICT`` natural-key upserts,
``concept/ConceptService.java:180-211``). Iceberg jars are not available
in this sandbox, so this module implements the same commit semantics
from scratch — and doubles as documentation of exactly what the engine
needs from a table format:

* **Atomic snapshot commits.** A commit writes immutable data files plus
  one manifest JSON, then atomically swaps a VERSION pointer. Readers
  resolve VERSION -> manifest -> file list; a torn commit is invisible.
  All snapshot/pointer IO goes through an injectable
  :class:`~.metadata_io.MetadataIO` (default: POSIX write-temp +
  ``os.rename``; an object-store/catalog client implements the same
  four-method protocol — the shared-commit-point seam, reference
  analog ``application.properties:1-7``).
* **Idempotent, exactly-once batch application.** Manifest ``properties``
  carry the CDC high-watermark (max applied LSN) and the set of applied
  batch ids, updated atomically with the data — the analog of the
  reference's ``update_info`` stamp (``schema.sql:152-155``) and its
  re-POST-is-a-no-op contract (README.md:285-288), made airtight.
* **Hash-bucket layout for MERGE pruning.** Rows are bucketed by
  ``xxhash64(key) % bucket_count``; a MERGE appends delta files only to
  the buckets its source keys touch, and compaction rewrites only those.
  At 100 TB with (say) 1024 buckets a micro-batch touching 5% of
  conversations never reads or rewrites the other 95%. (Iceberg
  equivalent: ``PARTITIONED BY bucket(N, conv_id)`` + merge-on-read
  MERGE with partition pruning.)
* **Additive schema evolution.** The manifest stores the authoritative
  schema; old data files simply lack new columns and read back as nulls
  (Parquet readers fill missing top-level columns). ``evolve_schema``
  is metadata-only — no rewrite. (Reference analog: the "core columns +
  open-ended extra columns" ingest pattern, ``Utility/CSVUtility.java:38-49``.)

Single-writer discipline is assumed, exactly like the reference's
single-flight ``ReentrantLock`` (``loading/DictionaryLoaderController.java:58``).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from picsure_dictionary_etl_spark.lake.expr_memo import memo_exprs
from picsure_dictionary_etl_spark.lake.fs import move_dir
from picsure_dictionary_etl_spark.lake.metadata_io import MetadataIO, PosixMetadataIO

META_DIR = "_meta"
VERSION_FILE = "VERSION"
BUCKET_COL = "_bucket"
# Bounded history of batch ids kept for exactly-once redelivery checks.
MAX_REMEMBERED_BATCHES = 10_000


class ConcurrentCommitError(RuntimeError):
    """Another writer claimed this snapshot version first. The losing
    commit changed nothing durable — re-read the table and retry (or
    fix the deployment: the engine assumes one live writer per table,
    like the reference's single-flight lock)."""


class TimeTravelError(ValueError):
    """A timestamp-based lookup cannot be answered from the retained
    history: the requested time predates the oldest retained (or oldest
    timestamp-stamped) snapshot. Raise retention (``vacuum``'s
    ``keep_snapshots``/``older_than``) to keep more history, or read by
    explicit version."""


@dataclass
class Snapshot:
    version: int
    parent: int | None
    schema_json: str
    bucket_count: int
    key_cols: list[str]
    bucket_by: list[str]
    # bucket id (as str, JSON keys are strings) -> list of repo-relative files
    files: dict[str, list[str]]
    properties: dict[str, Any] = field(default_factory=dict)
    lineage: dict[str, Any] = field(default_factory=dict)
    # rel path -> bytes, recorded at commit time (one stat per NEW file,
    # on the just-written commit dir) so size-aware decisions — the
    # compaction trigger — read METADATA instead of HEAD-ing every
    # existing file per commit (the Iceberg per-file-stats analog).
    # May be sparse on pre-upgrade manifests; readers must fall back.
    file_sizes: dict[str, int] = field(default_factory=dict)
    # Commit wall-clock, epoch MICROS UTC, stamped at publish time by
    # _write_snapshot and forced strictly monotone vs the parent
    # (max(now, parent+1)) so timestamp -> version resolution is a
    # well-defined binary search even under clock skew (the Delta/
    # Iceberg commit-timestamp analog). None on pre-upgrade manifests.
    committed_at: int | None = None

    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(json.loads(self.schema_json))

    def all_files(self) -> list[str]:
        return [f for fl in self.files.values() for f in fl]

    def _as_dict(self) -> dict[str, Any]:
        return {
            "version": self.version,
            "parent": self.parent,
            "schema": json.loads(self.schema_json),
            "bucket_count": self.bucket_count,
            "key_cols": self.key_cols,
            "bucket_by": self.bucket_by,
            "files": self.files,
            "file_sizes": self.file_sizes,
            "properties": self.properties,
            "lineage": self.lineage,
            "committed_at": self.committed_at,
        }

    def to_json(self) -> str:
        return json.dumps(self._as_dict(), sort_keys=True)

    def intent_json(self) -> str:
        """The commit's content with publish-time bookkeeping
        (``committed_at``) stripped — a crashed metadata-only commit
        retried later is the SAME intent even though the retry stamps a
        fresh wall-clock."""
        d = self._as_dict()
        d.pop("committed_at")
        return json.dumps(d, sort_keys=True)

    @staticmethod
    def from_json(raw: str) -> "Snapshot":
        d = json.loads(raw)
        return Snapshot(
            version=d["version"],
            parent=d.get("parent"),
            schema_json=json.dumps(d["schema"]),
            bucket_count=d["bucket_count"],
            key_cols=d["key_cols"],
            bucket_by=d["bucket_by"],
            files=d["files"],
            properties=d.get("properties", {}),
            lineage=d.get("lineage", {}),
            file_sizes=d.get("file_sizes", {}),
            committed_at=d.get("committed_at"),
        )


def to_micros(ts: Any) -> int:
    """Normalize a user-supplied timestamp to epoch micros UTC.

    Accepts an int/integer string (epoch MICROS when >= 10^12, epoch
    SECONDS below — 10^12 us is 1973-01-11 and 10^12 s is the year
    33658, so real timestamps are unambiguous; the split stops the
    silent-wrong case where ``time.time()``-style integer seconds were
    read as 1970-era micros and a stream quietly replayed the full
    table), a float (epoch SECONDS, matching ``time.time()``), a
    ``datetime`` (naive = UTC, like Spark session time in this
    engine's tests), or an ISO-8601 string."""
    import datetime as _dt

    if isinstance(ts, bool):
        raise TypeError(f"not a timestamp: {ts!r}")
    if isinstance(ts, int):
        return ts if abs(ts) >= 10**12 else ts * 1_000_000
    if isinstance(ts, float):
        return int(ts * 1_000_000)
    if isinstance(ts, str):
        s = ts.strip()
        # datasource options arrive as strings: same integer rule,
        # decimal strings epoch seconds, the rest ISO-8601
        if s.isdigit() or (s.startswith("-") and s[1:].isdigit()):
            return to_micros(int(s))
        try:
            return int(float(s) * 1_000_000)
        except ValueError:
            pass
        ts = _dt.datetime.fromisoformat(s)
    if isinstance(ts, _dt.datetime):
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=_dt.timezone.utc)
        return int(ts.timestamp() * 1_000_000)
    raise TypeError(f"not a timestamp: {ts!r}")


def bucket_expr(bucket_by: list[str], bucket_count: int) -> F.Column:
    """Deterministic bucket id: pmod(xxhash64(bucket cols), n).

    xxhash64 is a JVM-side codegen'd expression — no Python in the
    partitioning path. Built once per layout (:mod:`.expr_memo`).
    """
    return memo_exprs(
        ("bucket_expr", tuple(bucket_by), bucket_count),
        lambda: F.pmod(
            F.xxhash64(*[F.col(c) for c in bucket_by]), F.lit(bucket_count)
        ).cast("int"),
    )


class LakeTable:
    """Handle to one snapshot-committed table rooted at ``root``."""

    def __init__(self, spark: SparkSession, root: str, io: MetadataIO | None = None):
        from picsure_dictionary_etl_spark.lake.fs import is_uri

        self.spark = spark
        # URI roots (file:/hdfs:/s3a:/...) pass through verbatim — the
        # data plane then runs on Hadoop FS (lake/fs.py); plain local
        # paths take the POSIX fast path
        self.root = root.rstrip("/") if is_uri(root) else os.path.abspath(root)
        self._fs = None  # lazy: data_fs may probe the scheme (see .fs)
        if io is not None:
            self.io = io
        elif is_uri(self.root):
            if spark is not None:
                # URI roots default to the Hadoop commit point, so BOTH
                # planes run off POSIX with zero configuration; a
                # catalog / conditional-PUT client can still be
                # injected explicitly.
                from picsure_dictionary_etl_spark.lake.metadata_io import (
                    HadoopMetadataIO,
                )

                self.io = HadoopMetadataIO(spark, self.root)
            elif self.root.startswith("file:"):
                # JVM-less handle (datasource worker): a file: URI IS a
                # POSIX path — PosixMetadataIO maps the scheme itself,
                # keeping the exact atomic-claim/swap guarantees the
                # chaos harness certifies
                self.io = PosixMetadataIO()
            else:
                raise NotImplementedError(
                    f"JVM-less LakeTable handle on {self.root!r}: the "
                    "commit point needs an atomic claim/swap primitive "
                    "(conditional PUT / catalog CAS) — inject a "
                    "MetadataIO implementing it, or open the table "
                    "with a live SparkSession for the Hadoop plane"
                )
        else:
            self.io = PosixMetadataIO()

    @property
    def fs(self):
        """Data-plane filesystem, resolved on first use: scheme probing
        (pyarrow.fs / Hadoop FS) must not fail handle construction for
        callers that only touch the metadata plane."""
        if self._fs is None:
            from picsure_dictionary_etl_spark.lake.fs import data_fs

            self._fs = data_fs(self.spark, self.root)
        return self._fs

    # ---------- creation / loading ----------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        schema: T.StructType,
        key_cols: list[str],
        bucket_by: list[str] | None = None,
        bucket_count: int = 16,
        properties: dict[str, Any] | None = None,
        io: MetadataIO | None = None,
    ) -> "LakeTable":
        t = cls(spark, root, io=io)
        if cls.exists(root, io=t.io):
            # the pointer is the source of truth: creating over a live
            # table would un-publish every committed snapshot (reset
            # watermark + applied batches, orphan all data files) —
            # callers wanting a fresh start use truncate()
            raise ConcurrentCommitError(
                f"table already exists at {t.root} (VERSION pointer present); "
                "load() it, or truncate() for a clean slate"
            )
        resolved_bucket_by = bucket_by or [key_cols[0]]
        if not set(resolved_bucket_by) <= set(key_cols):
            # a non-key-functional bucket column would let an update
            # hash a key's new version into a DIFFERENT bucket than its
            # stored row — the stale version stays live and deletes
            # miss; refuse at create time
            raise ValueError(
                f"bucket_by {resolved_bucket_by} must be a subset of "
                f"key_cols {key_cols} (bucket placement must be "
                "key-functional)"
            )
        t.io.makedirs(os.path.join(t.root, META_DIR))
        snap = Snapshot(
            version=0,
            parent=None,
            schema_json=schema.json(),
            bucket_count=bucket_count,
            key_cols=key_cols,
            bucket_by=resolved_bucket_by,
            files={},
            properties=properties or {},
        )
        t._write_snapshot(snap)
        return t

    @classmethod
    def load(cls, spark: SparkSession, root: str, io: MetadataIO | None = None) -> "LakeTable":
        t = cls(spark, root, io=io)
        t.current()  # raises if missing
        return t

    @staticmethod
    def exists(root: str, io: MetadataIO | None = None) -> bool:
        from picsure_dictionary_etl_spark.lake.fs import is_uri

        base = root.rstrip("/") if is_uri(root) else os.path.abspath(root)
        return (io or PosixMetadataIO()).exists(
            os.path.join(base, META_DIR, VERSION_FILE)
        )

    # ---------- snapshot IO (all through self.io, the commit point) ----------

    def current_version(self) -> int:
        return int(
            self.io.read_text(os.path.join(self.root, META_DIR, VERSION_FILE)).strip()
        )

    def current(self) -> Snapshot:
        return self.snapshot(self.current_version())

    def snapshot(self, version: int) -> Snapshot:
        path = os.path.join(self.root, META_DIR, f"snap-{version:08d}.json")
        return Snapshot.from_json(self.io.read_text(path))

    def _write_snapshot(self, snap: Snapshot, prev: Snapshot | None = None) -> None:
        """Claim-then-swap commit with optimistic concurrency detection.

        The manifest write is an atomic CLAIM (``create_exclusive``): if
        version N is already claimed by a DIFFERENT commit, a second
        live writer is racing this table and the commit aborts with
        :class:`ConcurrentCommitError` before any pointer moves. A claim
        left by a crashed attempt of the SAME commit (matching batch id,
        or identical metadata-only intent) is taken over — that's the
        resume path, where the retried batch has already rewritten the
        claim's data directory. (Iceberg analog: manifest CAS against
        the catalog; the reference analog: the DB's unique constraint on
        ``update_info``.)"""
        if snap.committed_at is None:
            # publish-time wall-clock, forced strictly monotone vs the
            # parent so timestamp->version lookups binary-search cleanly
            # even if the writer host's clock stepped backwards between
            # commits; ``prev`` (when the caller holds it) saves the
            # parent-manifest re-read on remote commit points
            parent_ts = 0
            if prev is not None and prev.version == snap.parent:
                parent_ts = prev.committed_at or 0
            elif snap.parent is not None:
                try:
                    parent_ts = self.snapshot(snap.parent).committed_at or 0
                except Exception:
                    parent_ts = 0  # vacuumed parent: now() is fine
            snap.committed_at = max(time.time_ns() // 1_000, parent_ts + 1)
        meta = os.path.join(self.root, META_DIR)
        snap_path = os.path.join(meta, f"snap-{snap.version:08d}.json")
        payload = snap.to_json()
        if not self.io.create_exclusive(snap_path, payload):
            try:
                existing = Snapshot.from_json(self.io.read_text(snap_path))
            except Exception:
                # torn/empty claim from a crashed foreign writer (our own
                # IO publishes claims all-or-nothing): nothing durable
                # depends on it — take over
                existing = None
            if existing is not None and not self._same_commit_intent(
                existing, snap
            ):
                raise ConcurrentCommitError(
                    f"snapshot v{snap.version} of {self.root} was claimed by a "
                    f"different commit (theirs: {existing.lineage!r}, "
                    f"ours: {snap.lineage!r})"
                )
            self.io.write_atomic(snap_path, payload)  # take over our crashed claim
        self.io.swap_pointer(os.path.join(meta, VERSION_FILE), str(snap.version))

    @staticmethod
    def _same_commit_intent(a: Snapshot, b: Snapshot) -> bool:
        """Is an existing claim a crashed attempt of THIS commit? Batch
        ids identify data commits across retries (data file names are
        attempt-unique, so the manifests differ even for the same
        batch); metadata-only commits (evolve/truncate/create) retry
        byte-identically, so anything short of full equality there is a
        different commit (e.g. create() racing a populated table must
        never reset the pointer)."""
        ba, bb = a.lineage.get("batch_id"), b.lineage.get("batch_id")
        if ba is not None or bb is not None:
            return ba == bb
        # intent_json strips committed_at: a retried metadata-only
        # commit stamps a fresh wall-clock but is still the same intent
        return a.intent_json() == b.intent_json()

    # ---------- reads ----------

    def read(
        self, snapshot: Snapshot | None = None, files: list[str] | None = None
    ) -> DataFrame:
        """Current table state as a DataFrame (system columns included),
        unresolved; ``files`` (table-relative) scans only those."""
        snap = snapshot or self.current()
        rel = snap.all_files() if files is None else files
        paths = [os.path.join(self.root, f) for f in rel]
        if not paths:
            return self.spark.createDataFrame([], snap.schema)
        # recursiveFileLookup=true disables partition-directory inference —
        # we hand Spark leaf files from several commit dirs; the explicit
        # manifest schema fills columns missing from pre-evolution files
        # with nulls (additive schema evolution).
        return (
            self.spark.read.schema(snap.schema)
            .option("recursiveFileLookup", "true")
            .parquet(*paths)
        )

    def read_version(self, version: int) -> DataFrame:
        """Time travel: the table as of snapshot ``version`` (manifests
        are immutable, so any retained snapshot is readable — the
        Iceberg ``VERSION AS OF`` equivalent)."""
        return self.read(self.snapshot(version))

    def version_at_timestamp(self, ts: Any) -> int:
        """Greatest retained version committed at-or-before ``ts`` (the
        Delta/Iceberg ``TIMESTAMP AS OF`` resolution). ``ts`` is epoch
        micros, ``time.time()`` float seconds, a datetime, or ISO-8601.

        Commit timestamps are strictly monotone by construction (see
        :class:`Snapshot.committed_at`), so the answer is unique. Scans
        the retained manifests — metadata-only, one small JSON per
        snapshot, bounded by vacuum retention. Raises
        :class:`TimeTravelError` when ``ts`` predates the oldest
        retained stamped snapshot (vacuumed or pre-upgrade history)."""
        ts_us = to_micros(ts)
        current = self.current_version()
        # newest-first walk: commit stamps are strictly monotone in
        # version, so the FIRST version stamped at-or-before the cut is
        # the answer — O(distance from head) manifest reads, not a scan
        # over every retained manifest (review finding)
        oldest_seen = None
        v = current
        while v >= 0:
            try:
                s = self.snapshot(v)
            except Exception:
                break  # vacuumed below here
            if s.committed_at is None:
                break  # pre-upgrade manifest: unstamped history below
            if s.committed_at <= ts_us:
                return v
            oldest_seen = (s.committed_at, v)
            v -= 1
        oldest = (
            f"oldest retained stamped commit is v{oldest_seen[1]} at "
            f"{oldest_seen[0]} us"
            if oldest_seen
            else "no retained snapshot carries a commit timestamp"
        )
        raise TimeTravelError(
            f"{self.root}: no snapshot committed at or before "
            f"{ts_us} us ({oldest}); raise vacuum retention or read "
            f"by explicit version"
        )

    def read_timestamp(self, ts: Any) -> DataFrame:
        """Time travel by wall-clock: the table as of the last commit
        at-or-before ``ts`` — ``SELECT ... TIMESTAMP AS OF``."""
        return self.read_version(self.version_at_timestamp(ts))

    def live(
        self, snapshot: Snapshot | None = None, buckets: list[int] | None = None
    ) -> DataFrame:
        """The LIVE rows of ``snapshot`` (default: current), of
        ``buckets`` only when given: key, payload, ``_op`` and ``_lsn``
        columns, the shape a compacted base holds. A Spark scan grouped
        by bucket, each bucket resolved in one Python task by the change
        feed's LWW kernel (:func:`~.merge._live_rows`).

        Memory bound: one bucket is one pandas frame (all its files' raw
        rows, plus the resolve's sort) in one Python worker. A bucket
        beyond a worker's memory fails its task, and with it the job;
        :func:`~.merge.rebucket` to more buckets is the remedy."""
        from picsure_dictionary_etl_spark.lake.merge import _live_rows

        snap = snapshot or self.current()
        wanted = snap.files if buckets is None else {str(b) for b in buckets}
        files = [f for b, fl in snap.files.items() if b in wanted for f in fl]
        return _live_rows(self, snap, files).drop(BUCKET_COL)

    def read_keys(
        self, bucket_key_values: list, snapshot: Snapshot | None = None
    ) -> DataFrame:
        """Point lookup: the LIVE rows (key and payload columns, ordered
        by the key columns) whose ``bucket_by`` columns equal one of
        ``bucket_key_values`` — a list of values for a single bucket
        column, of tuples for a composite one.

        Runs on the driver, with no Spark job until an action on the
        result: the values hash to their buckets with the numpy XXH64
        (bit-equal to the writer's ``bucket_expr``), one Arrow scan
        reads only those buckets' files with an ``in`` filter per flat
        bucket column (key-sorted row groups are skipped, only matching
        rows materialize) and converts to pandas once, the rows match
        exact tuples (nested columns by their order-rank code, after
        the read) and resolve with the change feed's LWW kernel. The
        result is a DataFrame over the resolved Arrow table. A
        ``bucket_by`` type outside the hash's surface raises
        :class:`UnsupportedVectorType` before any read.

        A root pyarrow cannot open (``viewfs:``, ``s3a:``, ``hdfs:``
        without libhdfs) raises ``NotImplementedError`` before any job
        or file read; there is no Spark-plane fallback."""
        import pandas as pd
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type

        from picsure_dictionary_etl_spark.lake.fs import arrow_fs_and_base
        from picsure_dictionary_etl_spark.lake.merge import _system_extras
        from picsure_dictionary_etl_spark.streaming.cdf_source import (
            _plan_cols,
            _read_bucket,
            _resolve_frame,
            _tie_arrow,
            _to_arrow_batches,
        )
        from picsure_dictionary_etl_spark.streaming.xxhash_vec import (
            UnsupportedVectorType,
            _order_rank,
            _parse_type,
            _type_supported,
            pmod_buckets,
            spark_xxhash64_vec,
        )

        arrow_fs_and_base(self.root)  # a root pyarrow cannot open fails here
        snap = snapshot or self.current()
        keys, payload, dtypes, _ = _plan_cols(snap)
        cols = snap.bucket_by
        bad = [f"{c}:{dtypes[c]}" for c in cols if not _type_supported(dtypes[c])]
        if bad:
            raise UnsupportedVectorType(
                f"read_keys: no xxhash64 path for bucket_by column(s) {bad}"
            )
        vals = [
            tuple(v) if len(cols) > 1 else (v,) for v in bucket_key_values
        ]
        want = [
            pa.array([v[i] for v in vals], type=to_arrow_type(snap.schema[c].dataType))
            for i, c in enumerate(cols)
        ]
        buckets = sorted(set(pmod_buckets(
            spark_xxhash64_vec(want, [dtypes[c] for c in cols]), snap.bucket_count
        ).tolist()))
        tds = {c: _parse_type(dtypes[c]) for c in cols}
        flat = [i for i, c in enumerate(cols) if tds[c][0] in ("scalar", "decimal")]
        extras = _system_extras(snap)
        raw = _read_bucket(
            self.root,
            [f for b in buckets for f in snap.files.get(str(b), [])],
            keys + payload + ["_op", "_lsn"] + extras,
            dtypes,
            filters=[(cols[i], "in", want[i].to_pylist()) for i in flat] or None,
        )
        if len(raw) and (len(cols) > 1 or not flat):
            # exact tuples: rank the wanted and the read values together
            # (Spark's ordering, nested columns included), match codes
            n = len(vals)
            ranks = [
                _order_rank(
                    pa.concat_arrays([w, _tie_arrow(raw[c], dtypes[c]).cast(w.type)]),
                    tds[c],
                )
                for c, w in zip(cols, want)
            ]
            hit = pd.MultiIndex.from_arrays([r[n:] for r in ranks]).isin(
                pd.MultiIndex.from_arrays([r[:n] for r in ranks])
            )
            raw = raw[hit]
        # the kernel sorts by key then _lsn, so its rows come out key-ordered
        live = _resolve_frame(raw, keys, payload, dtypes, extras)
        out = T.StructType([snap.schema[c] for c in keys + payload])
        tbl = pa.Table.from_batches(
            list(_to_arrow_batches(live, out, dtypes)),
            schema=to_arrow_schema(out),
        )
        return self.spark.createDataFrame(tbl, schema=out)

    # ---------- writes ----------

    def _commit_dir(self, version: int, subdir: str | None = None) -> str:
        # attempt-unique suffix: a retried or racing writer gets its OWN
        # directory, so it can never overwrite data files a committed
        # snapshot references (the losing/crashed attempt's dir is
        # unreferenced and vacuum GCs it)
        attempt = uuid.uuid4().hex[:8]
        return f"data/c{version:08d}-{attempt}" + (f"/{subdir}" if subdir else "")

    def write_data_files(
        self,
        df: DataFrame,
        version: int,
        write_partitions: list[F.Column] | None = None,
        subdir: str | None = None,
        repartition: bool = True,
        sort_cols: list[str] | None = None,
        divert: dict[str, str] | None = None,
    ) -> dict[str, list[str]]:
        """Write ``df`` (must carry ``_bucket``) as immutable data files for
        commit ``version``; return bucket -> repo-relative file list.

        ``write_partitions`` lets the caller spread a hot bucket across
        several tasks (salting): we repartition on (_bucket, *salt) but
        still lay files out under their bucket directory. ``subdir``
        separates multiple file sets within one commit (delta vs base).
        ``repartition=False`` skips the exchange when the caller already
        hash-partitioned on ``_bucket`` (the single-shuffle MOR path).
        ``sort_cols`` sorts rows WITHIN each write task before the
        parquet encode (Iceberg write-ordering): row groups get narrow
        key min/max stats, so key-filtered scans skip row groups —
        used by compaction where the sort cost amortizes over many
        reads (hot-path delta appends stay unsorted).
        ``divert`` maps ``_bucket`` values outside the table's layout
        (the merge's dead letters, ``-1``) to a directory: that
        partition's files move there, replacing what it held (or the
        directory is removed when the write left no such partition),
        and stay out of the returned file map.
        """
        rel = self._commit_dir(version, subdir)
        out = os.path.join(self.root, rel)
        if repartition or write_partitions:
            parts = [F.col(BUCKET_COL)] + (write_partitions or [])
            df = df.repartition(*parts)
        if sort_cols:
            df = df.sortWithinPartitions(BUCKET_COL, *sort_cols)
        # The dir is attempt-unique (see _commit_dir), so this write can
        # never touch files another snapshot references; a crash between
        # data write and snapshot commit leaves an unreferenced orphan
        # dir that vacuum GCs.
        df.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(out)
        files: dict[str, list[str]] = {}
        for entry in self.fs.list_names(out):
            if not entry.startswith(f"{BUCKET_COL}="):
                continue
            b = entry.split("=", 1)[1]
            bdir = os.path.join(out, entry)
            if b in (divert or {}):
                continue
            files[b] = sorted(
                f"{rel}/{entry}/{fn}"
                for fn in self.fs.list_names(bdir)
                if fn.endswith(".parquet")
            )
        for b, dst in (divert or {}).items():
            move_dir(self.spark, os.path.join(out, f"{BUCKET_COL}={b}"), dst)
        if not files:
            # no row survived (an all-unmatched matched_only batch, one
            # wholly at or below the watermark or wholly diverted): the
            # writer left only its _SUCCESS marker, so drop the attempt
            # dir now
            attempt = os.path.join(self.root, *rel.split("/")[:2])
            for f in self.fs.list_files_recursive(attempt):
                self.fs.delete(f)
            self.fs.cleanup_empty_dirs(attempt)
        return files

    def commit(
        self,
        appends: dict[str, list[str]],
        replaces: dict[str, list[str]],
        properties_update: dict[str, Any] | None = None,
        lineage: dict[str, Any] | None = None,
        prev: Snapshot | None = None,
        file_sizes_hint: dict[str, int] | None = None,
        bucket_count: int | None = None,
    ) -> Snapshot:
        """Produce snapshot N+1: ``appends`` extend a bucket's file list
        (merge-on-read deltas); ``replaces`` swap it wholesale
        (compaction, rebucket). One atomic pointer swap commits everything.
        ``prev`` lets a single-writer caller that already holds the
        current snapshot skip the re-read (the manifest's file map is
        O(table) JSON — and a remote round trip on catalog commit
        points). ``bucket_count`` overrides the layout — ONLY valid
        when ``replaces`` rewrote every bucket (the rebucket op)."""
        prev = prev or self.current()
        files = dict(prev.files)
        for b, fl in appends.items():
            files[b] = files.get(b, []) + fl
        for b, fl in replaces.items():
            files[b] = fl
        files = {b: fl for b, fl in files.items() if fl}
        # per-file byte sizes: stat ONLY the new files (they sit in this
        # commit's own dir — cheap even on object stores), carry the
        # rest forward, prune entries for files no longer referenced.
        # ``file_sizes_hint`` carries sizes the caller already statted
        # (the compaction trigger's memoized cache) so nothing is
        # statted twice.
        sizes = dict(prev.file_sizes)
        sizes.update(file_sizes_hint or {})
        for fl in (*appends.values(), *replaces.values()):
            for f in fl:
                if f not in sizes:
                    try:
                        sizes[f] = int(self.fs.size(os.path.join(self.root, f)))
                    except Exception:
                        pass  # stat unavailable: readers fall back
        live = {f for fl in files.values() for f in fl}
        sizes = {f: s for f, s in sizes.items() if f in live}
        props = dict(prev.properties)
        props.update(properties_update or {})
        snap = Snapshot(
            version=prev.version + 1,
            parent=prev.version,
            schema_json=prev.schema_json,
            bucket_count=bucket_count or prev.bucket_count,
            key_cols=prev.key_cols,
            bucket_by=prev.bucket_by,
            files=files,
            properties=props,
            lineage=lineage or {},
            file_sizes=sizes,
        )
        self._write_snapshot(snap, prev)
        return snap

    # ---------- schema evolution ----------

    def evolve_schema(self, new_fields: list[T.StructField]) -> Snapshot:
        """Additive-only schema evolution: append columns, metadata-only
        commit (no data rewrite). Non-additive changes are rejected —
        matching Iceberg's safe-evolution rules and the reference's
        extra-columns-as-new-metadata-keys behavior.
        """
        prev = self.current()
        schema = prev.schema
        existing = {f.name for f in schema.fields}
        added = [f for f in new_fields if f.name not in existing]
        if not added:
            return prev
        new_schema = T.StructType(schema.fields + added)
        snap = Snapshot(
            version=prev.version + 1,
            parent=prev.version,
            schema_json=new_schema.json(),
            bucket_count=prev.bucket_count,
            key_cols=prev.key_cols,
            bucket_by=prev.bucket_by,
            files=prev.files,
            properties=dict(prev.properties),
            lineage={"schema_evolution": [f.name for f in added]},
            file_sizes=dict(prev.file_sizes),
        )
        self._write_snapshot(snap, prev)
        return snap

    # ---------- history / recovery ----------

    def history(self) -> list[dict[str, Any]]:
        """Commit log over the retained snapshots (oldest first) — the
        Iceberg ``table.history``/``snapshots`` metadata-table analog:
        version, parent, file/bucket counts, exactly-once properties,
        and the commit's lineage (batch id, rows, conflicts)."""
        meta = os.path.join(self.root, META_DIR)
        current = self.current_version()
        out = []
        for fn in self.io.list(meta):
            if not (fn.startswith("snap-") and fn.endswith(".json")):
                continue
            try:
                s = Snapshot.from_json(self.io.read_text(os.path.join(meta, fn)))
            except Exception:
                continue  # torn foreign claim; never part of history
            if s.version > current:
                continue  # unswapped claim above the pointer
            out.append(
                {
                    "version": s.version,
                    "parent": s.parent,
                    "committed_at": s.committed_at,
                    "n_files": len(s.all_files()),
                    "n_buckets": len(s.files),
                    "watermark_lsn": s.properties.get("watermark_lsn", -1),
                    "lineage": s.lineage,
                }
            )
        return sorted(out, key=lambda d: d["version"])

    def rollback(self, version: int) -> Snapshot:
        """Roll the table back to snapshot ``version`` — as a NEW
        forward commit cloning the old file list and properties
        (Iceberg ``rollback_to_snapshot``; history stays append-only,
        the bad commits remain inspectable until vacuum). The
        exactly-once bookkeeping reverts with it: the watermark drops
        to the target's, so replaying the same WAL deterministically
        re-applies everything after the rollback point — the recovery
        path for a bad batch."""
        target = self.snapshot(version)
        prev = self.current()
        snap = Snapshot(
            version=prev.version + 1,
            parent=prev.version,
            schema_json=target.schema_json,
            bucket_count=target.bucket_count,
            key_cols=target.key_cols,
            bucket_by=target.bucket_by,
            files=dict(target.files),
            properties=dict(target.properties),
            lineage={"rollback_to": version},
            file_sizes=dict(target.file_sizes),
        )
        self._write_snapshot(snap, prev)
        return snap

    def clone(
        self,
        target_root: str,
        version: int | None = None,
        reset_exactly_once: bool = False,
    ) -> "LakeTable":
        """Clone this table (optionally AS OF ``version``) into a new
        root — the Delta ``CLONE`` analog, zero bytes copied on POSIX.

        Data files are IMMUTABLE by design (CDF derives change spans
        from manifest file-list diffs — see table_changes), so the
        clone HARD-LINKS them when source and target share a POSIX
        device: O(files) metadata ops, no data IO, and the two tables
        can never observe each other's writes — every commit writes
        attempt-unique data dirs, and each table's vacuum unlinks only
        its OWN references (the inode survives until the last link
        goes). Cross-device or URI roots stream-copy through
        pyarrow.fs. Shallow by-reference cloning (Delta's absolute-path
        file refs into the source root) was rejected: it would poison
        every reader with two path layouts AND let a source vacuum
        delete files the clone still references — links give the same
        zero-copy without either failure mode.

        The clone's history starts fresh (v0 create + v1 clone commit,
        ``lineage.clone_of`` recording provenance); its change feed
        therefore serves ``table_changes(clone, 0, 1)`` = the full
        cloned state as inserts — a consumer bootstraps the fork the
        same way it bootstraps any table. With ``reset_exactly_once``
        the watermark/applied-batch bookkeeping resets so the clone
        can replay a WAL from scratch; by default it carries over, so
        continuing the SAME feed on the fork stays exactly-once. A
        clone interrupted mid-copy leaves the target partially
        created — re-cloning raises on the existing root (the create
        guard); remove the target and re-run.

        Reference analog: the reference's only path to a second
        environment is truncating and re-running the whole load into
        another database (``Utility/DatabaseCleanupUtility.java:14-41``
        + the loader controller); this forks 100 TB in O(files)
        metadata time."""
        import shutil
        import uuid

        src = self.snapshot(
            self.current_version() if version is None else version
        )
        props = dict(src.properties)
        if reset_exactly_once:
            props["watermark_lsn"] = -1
            props["applied_batches"] = []
        target = LakeTable.create(
            self.spark,
            target_root,
            schema=src.schema,
            key_cols=src.key_cols,
            bucket_by=src.bucket_by,
            bucket_count=src.bucket_count,
            properties=props,
        )

        from picsure_dictionary_etl_spark.lake.fs import arrow_fs_and_base

        fs_s, base_s = arrow_fs_and_base(self.root)
        fs_d, base_d = arrow_fs_and_base(target.root)
        made: set[str] = set()
        for rel in src.all_files():
            sp = os.path.join(base_s, rel)
            dp = os.path.join(base_d, rel)
            dd = os.path.dirname(dp)
            if dd not in made:
                if fs_d is None:
                    os.makedirs(dd, exist_ok=True)
                else:
                    fs_d.create_dir(dd, recursive=True)
                made.add(dd)
            if fs_s is None and fs_d is None:
                try:
                    os.link(sp, dp)  # zero-copy fast path
                except OSError:  # cross-device (EXDEV) etc.
                    shutil.copyfile(sp, dp)
            else:
                import pyarrow.fs as pafs

                lfs = pafs.LocalFileSystem()
                with (fs_s or lfs).open_input_stream(sp) as fin, (
                    fs_d or lfs
                ).open_output_stream(dp) as fout:
                    shutil.copyfileobj(fin, fout)

        snap = Snapshot(
            version=1,
            parent=0,
            schema_json=src.schema_json,
            bucket_count=src.bucket_count,
            key_cols=src.key_cols,
            bucket_by=src.bucket_by,
            files={b: list(fl) for b, fl in src.files.items()},
            properties=props,
            lineage={
                "clone_of": self.root,
                "source_version": src.version,
                "batch_id": f"clone-{uuid.uuid4().hex[:8]}",
            },
            file_sizes=dict(src.file_sizes),
        )
        target._write_snapshot(snap)
        return target

    # ---------- maintenance ----------

    def truncate(self, reset_exactly_once: bool = True) -> Snapshot:
        """H1/A14 clean-slate truncate: snapshot N+1 references ZERO data
        files — a metadata-only commit (no file IO; superseded snapshots
        stay time-travel readable until :meth:`vacuum`). With
        ``reset_exactly_once`` the watermark and applied-batch history
        also reset, so the same WAL can replay from scratch — the
        reference's ``TRUNCATE ... CASCADE`` before a fresh load
        (``Utility/DatabaseCleanupUtility.java:14-41``, invoked by
        ``loading/DictionaryLoaderController.java:60-62``; pass
        ``reset_exactly_once=False`` to keep the bookkeeping, the analog
        of its preserved ``update_info`` table)."""
        prev = self.current()
        props = dict(prev.properties)
        if reset_exactly_once:
            props["watermark_lsn"] = -1
            props["applied_batches"] = []
        snap = Snapshot(
            version=prev.version + 1,
            parent=prev.version,
            schema_json=prev.schema_json,
            bucket_count=prev.bucket_count,
            key_cols=prev.key_cols,
            bucket_by=prev.bucket_by,
            files={},
            properties=props,
            lineage={"truncate": True},
        )
        self._write_snapshot(snap, prev)
        return snap

    def vacuum(
        self, keep_snapshots: int = 2, older_than: Any | None = None
    ) -> dict[str, int]:
        """Remove data files unreferenced by the retained snapshots, and
        manifests older than those (compaction + crash retries leave
        orphans). Returns {files_removed, snapshots_kept}.

        Retention is the UNION of two windows: the last
        ``keep_snapshots`` versions (count-based floor, never shrinks
        below it) and — when ``older_than`` is given — every snapshot
        committed at-or-after that wall-clock (the Delta
        ``VACUUM ... RETAIN`` analog; accepts the same forms as
        :meth:`version_at_timestamp`). Commit timestamps are monotone,
        so the time window is a contiguous suffix; pre-upgrade
        unstamped manifests only survive via the count window.

        Safe under the single-writer assumption: only files no
        retained snapshot references are deleted."""
        current = self.current_version()
        kept_versions = list(range(max(0, current - keep_snapshots + 1), current + 1))
        if older_than is not None:
            cutoff = to_micros(older_than)
            v = min(kept_versions) - 1
            while v >= 0:
                try:
                    s = self.snapshot(v)
                except Exception:
                    break  # already vacuumed below here
                if s.committed_at is None or s.committed_at < cutoff:
                    break  # monotone: everything older is older too
                kept_versions.insert(0, v)
                v -= 1
        referenced: set[str] = set()
        for v in kept_versions:
            referenced.update(self.snapshot(v).all_files())
        removed = 0
        # Data-file GC lists the data plane through self.fs — the POSIX
        # fast path locally, Hadoop FS (the layer Spark wrote through)
        # for URI roots.
        data_root = os.path.join(self.root, "data")
        for full in self.fs.list_files_recursive(data_root):
            rel = self._rel(full)
            if rel is None:
                continue
            if full.endswith(".parquet") and rel not in referenced:
                self.fs.delete(full)
                removed += 1
            elif not full.endswith(".parquet"):
                # writer side-files (_SUCCESS, .crc) are never referenced
                self.fs.delete(full)
        self.fs.cleanup_empty_dirs(data_root)
        meta = os.path.join(self.root, META_DIR)
        for fn in self.io.list(meta):
            # parse the FULL version token ({:08d} grows past 8 digits
            # beyond version 10^8 — a fixed slice would misparse and
            # delete the live manifest)
            if fn.startswith("snap-") and fn.endswith(".json"):
                if int(fn[len("snap-"):-len(".json")]) not in kept_versions:
                    self.io.remove(os.path.join(meta, fn))
        return {"files_removed": removed, "snapshots_kept": len(kept_versions)}

    def _rel(self, full: str) -> str | None:
        """Repo-relative path of an absolute data-plane path, tolerant
        of Hadoop's URI normalization (file:///x vs file:/x)."""
        candidates = [self.root]
        if self.root.startswith("file:"):
            local = self.root[len("file:"):]
            while local.startswith("//"):
                local = local[1:]
            candidates += [f"file:{local}", f"file://{local}", f"file:///{local.lstrip('/')}", local]
        for cand in candidates:
            if full.startswith(cand + "/"):
                return full[len(cand) + 1:]
        if "://" in self.root or "://" in full:
            # URI roots where the FS qualified the authority differently
            # (hdfs://nn:8020/... listed vs hdfs://nn/... root): relpath
            # would return "../..." — never in `referenced` — and vacuum
            # would delete live files. Skip the file instead.
            return None
        try:
            return os.path.relpath(full, self.root)
        except ValueError:
            return None

    # ---------- exactly-once bookkeeping ----------

    def watermark(self) -> int:
        return int(self.current().properties.get("watermark_lsn", -1))

    def applied_batch_ids(self) -> set[str]:
        return set(self.current().properties.get("applied_batches", []))

    def exactly_once_props(
        self, batch_id: str, max_lsn: int,
        prev_properties: dict[str, Any] | None = None,
    ) -> dict[str, Any]:
        prev = prev_properties if prev_properties is not None else self.current().properties
        batches = list(prev.get("applied_batches", []))
        batches.append(batch_id)
        return {
            "watermark_lsn": max(int(prev.get("watermark_lsn", -1)), int(max_lsn)),
            "applied_batches": batches[-MAX_REMEMBERED_BATCHES:],
        }
