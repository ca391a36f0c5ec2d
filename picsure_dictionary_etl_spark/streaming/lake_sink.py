"""Structured-Streaming SINK for the lake: ``writeStream.format("lake")``.

Completes the DataSource symmetry with the ``lake_cdf`` source — a
stream of change events (key + payload + ``_op`` + ``_lsn``) lands in a
LakeTable as per-epoch merge-on-read delta appends with an atomic
manifest commit, no ``foreachBatch`` glue::

    spark.dataSource.register(LakeTableSinkDataSource)
    (df.writeStream.format("lake").option("path", table_root)
       .option("checkpointLocation", ckpt).start())

``spark.read``'s batch twin (``df.write.format("lake").mode("append")``)
applies one batch the same way.

Semantics — an append-only CDC ingest (the MOR fast path):

* **Rows append as per-bucket delta files**; readers resolve LWW at
  read time exactly like every other MOR write. No LWW reduce runs in
  the sink (a Python datasource writer cannot shuffle), so one key may
  appear in several epochs' files — ``resolve_live`` picks the winner
  by ``(_lsn, tie-hash)`` regardless. Compaction happens on the next
  ``merge_into`` touching the bucket, or via table maintenance.
* **Bucket placement is exact**: if the stream carries a ``_bucket``
  column (add it JVM-side with :func:`with_bucket` — also enables the
  one-shuffle-per-epoch repartition), the sink trusts it; otherwise
  each executor computes ``pmod(xxhash64(bucket_by), bucket_count)``
  with the engine's bit-equal VECTORIZED numpy XXH64
  (:mod:`.xxhash_vec` — whole-column ufunc passes, scale-safe, nested
  key types included). A bucket-key type outside its surface fails
  typed when the writer is planned.
* **Exactly-once on the resolved state** (the engine's standard
  model): executors drop rows at-or-below the table's committed
  watermark (read per task from the manifest, version-cached per
  worker process), so a replayed epoch re-writes nothing; the driver
  commit carries a batch id (``sink-<sinkid>-<epoch>``) through the
  lake's applied-batch dedup, so a retried COMMIT of the same epoch is
  a committed no-op. Crash between data write and manifest commit
  leaves unreferenced orphan files that ``vacuum`` GCs — identical to
  the engine's merge path. Non-monotone sources note: like
  ``merge_into``, a late row with ``_lsn`` ≤ the watermark is dropped
  (stale inserts must never resurrect physical deletes).
* **Empty epochs commit nothing** — no version churn on idle streams.
* **Composes with the source**: appends change bucket file lists, so
  ``table_changes`` and a downstream ``lake_cdf`` stream see exactly
  the resolved-state diff.

* **Field-wise tables** (``update_policy`` other than ``row``): the
  sink synthesizes the ``_pu``/``_del_lsn`` markers exactly as
  ``merge_into``'s MOR deltas carry them, so readers resolve its
  appends field-wise.

Roots: plain local paths take the pure-POSIX fast path; URI roots run
the ``lake_cdf`` pattern — executors write parquet and read the
watermark through ``pyarrow.fs`` (scheme-generic), and the JVM-less
driver commit runs on POSIX syscalls for ``file:`` roots (a file: URI
IS a POSIX path — same atomic claim/swap the chaos harness certifies,
see ``BENCH/sink_chaos.py --uri``). Typed errors at plan time:
non-file URI schemes (the commit point needs a conditional-PUT /
catalog CAS that a datasource option string cannot carry — use
``foreachBatch`` + ``merge_into`` with an injected MetadataIO), and
any mode but append.

Reference analog: the reference's core is exactly this sink — JDBC
``ON CONFLICT`` upserts (``loading/service/ColumnMetaMapper.java``) —
re-expressed as snapshot-committed bucket appends.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass, field

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceStreamArrowWriter,
    WriterCommitMessage,
)

from picsure_dictionary_etl_spark.lake.table import (
    BUCKET_COL,
    META_DIR,
    VERSION_FILE,
    LakeTable,
    Snapshot,
)

LSN_COL = "_lsn"
# field-wise marker columns (same names the merge plane uses,
# lake/merge.py DEL_LSN_COL/PU_COL — string-duplicated here so the
# executor-side module never imports the pyspark-heavy merge module)
DEL_LSN_COL = "_del_lsn"
PU_COL = "_pu"


@dataclass
class _SinkCommit(WriterCommitMessage):
    files: dict = field(default_factory=dict)  # bucket -> [rel paths]
    sizes: dict = field(default_factory=dict)  # rel path -> bytes
    rows: int = 0
    max_lsn: int | None = None
    dropped_stale: int = 0


def _is_uri(root: str) -> bool:
    return "://" in root or root.startswith("file:")


def _read_meta_text(root: str, *rel: str) -> str:
    # URI roots (file:/s3:/...) read through pyarrow.fs — the same
    # JVM-less plane the lake_cdf source uses; plain local paths stay
    # on the engine's PosixMetadataIO (both via cdf_source._read_text)
    from picsure_dictionary_etl_spark.streaming.cdf_source import _read_text

    return _read_text(root, META_DIR, *rel)


# worker-process cache: root -> (version, watermark). VERSION is a tiny
# read per task; the manifest (O(files) JSON) re-reads only when the
# version moved.
_WM_CACHE: dict = {}


def _current_watermark(root: str) -> int:
    v = int(_read_meta_text(root, VERSION_FILE).strip())
    hit = _WM_CACHE.get(root)
    if hit is not None and hit[0] == v:
        return hit[1]
    snap = Snapshot.from_json(_read_meta_text(root, f"snap-{v:08d}.json"))
    wm = int(snap.properties.get("watermark_lsn", -1))
    _WM_CACHE[root] = (v, wm)
    return wm


class _LakeSinkWriter(DataSourceStreamArrowWriter):
    """Executor write + driver commit for the ``lake`` sink (doubles as
    the batch writer through :class:`_LakeBatchWriter`)."""

    def __init__(self, options, schema, overwrite: bool):
        raw = options.get("path")
        if not raw:
            raise ValueError("lake sink requires .option('path', <table_root>)")
        if overwrite:
            raise NotImplementedError(
                "lake sink supports append output only; use "
                "LakeTable.truncate() + append for a full rewrite"
            )
        self.is_uri = _is_uri(raw)
        if self.is_uri:
            # URI roots: executors write parquet through pyarrow.fs and
            # read the watermark the same way (the lake_cdf pattern).
            # The COMMIT point is the gate: these callbacks run in
            # plain Python workers (no JVM), and only a file: root has
            # an atomic claim/swap there (POSIX syscalls). Anything
            # else genuinely needs a conditional-PUT / catalog
            # MetadataIO, which a datasource option string can't carry.
            self.root = raw.rstrip("/")
            if not self.root.startswith("file:"):
                raise NotImplementedError(
                    f"lake sink on {self.root!r}: the data plane is "
                    "scheme-generic (pyarrow.fs), but the JVM-less "
                    "commit point needs an atomic claim/swap primitive "
                    "(conditional PUT / catalog CAS) that generic "
                    "object-store filesystems don't expose; use "
                    "foreachBatch + merge_into with an injected "
                    "MetadataIO for such roots"
                )
        else:
            self.root = os.path.abspath(raw)
        t = LakeTable(None, self.root)
        snap = t.current()
        tschema = snap.schema
        names = {f.name for f in tschema.fields}
        fieldwise = PU_COL in names or DEL_LSN_COL in names
        want = {f.name: f.dataType.simpleString() for f in tschema.fields}
        got = {f.name: f.dataType.simpleString() for f in schema.fields}
        extra_bucket = got.pop(BUCKET_COL, None)
        if extra_bucket not in (None, "int", "bigint"):
            raise ValueError(
                f"lake sink: {BUCKET_COL} must be int/bigint, got "
                f"{extra_bucket}"
            )
        # Field-wise (_pu) tables: a plain change-event stream appends
        # as marker-stamped deltas — the sink synthesizes
        # ``_pu = (table update_policy != 'row')`` and ``_del_lsn =
        # null`` per row (exactly what merge_into null-fills for a
        # marker-less batch, merge.py _with_markers), and the read-time
        # mixed reduce resolves them. The per-field LWW is associative
        # across the watermark-monotone epochs, so raw appends converge
        # to merge_into's pre-reduced winners. A stream that already
        # carries the markers is trusted via the exact-schema path.
        self.synthesize_markers = False
        self.pu_value = False
        self.blank_null_cols: list[str] = []
        if fieldwise and PU_COL not in got and DEL_LSN_COL not in got:
            self.synthesize_markers = True
            policy = snap.properties.get("update_policy", "row")
            self.pu_value = policy != "row"
            if policy == "blank_preserve":
                # merge's _specified treats ALL-whitespace strings as
                # unspecified at BATCH time; read-time specification is
                # always null-based (resolve_live docstring: a stored
                # blank reads as specified). Raw appends must therefore
                # null blanks BEFORE storing, or a blank update would
                # overwrite committed text the merge path preserves —
                # the vectorized executor twin of the guard.
                syscols = set(snap.key_cols) | {
                    "_op", LSN_COL, PU_COL, DEL_LSN_COL,
                }
                self.blank_null_cols = [
                    f.name for f in tschema.fields
                    if f.dataType.simpleString() == "string"
                    and f.name not in syscols
                ]
            want = {
                n: ty for n, ty in want.items()
                if n not in (PU_COL, DEL_LSN_COL)
            }
        elif not fieldwise and (PU_COL in got or DEL_LSN_COL in got):
            raise ValueError(
                "lake sink: input carries field-wise marker columns "
                f"({PU_COL}/{DEL_LSN_COL}) but table {self.root} is "
                "row-policy; run one merge_into(update_policy=...) to "
                "evolve the table first"
            )
        missing = sorted(n for n in want if n not in got)
        mismatched = sorted(
            n for n in got if n in want and got[n] != want[n]
        )
        if missing or mismatched:
            raise ValueError(
                f"lake sink: input columns {sorted(got.items())} must "
                f"cover table schema {sorted(want.items())} with "
                f"matching types (missing={missing}, type "
                f"mismatches={mismatched}; an optional precomputed "
                f"{BUCKET_COL} and ADDITIVE new nullable columns are "
                "allowed — see with_bucket() / schema evolution)"
            )
        extra = [
            f.name for f in schema.fields
            if f.name not in want and f.name != BUCKET_COL
            and f.name not in (PU_COL, DEL_LSN_COL)
        ]
        if extra:
            # additive schema evolution, the merge path's rule
            # (merge.py evolves for marker columns the same way):
            # metadata-only commit, old files read as null-filled
            from pyspark.sql import types as T

            extra_set = set(extra)
            snap = t.evolve_schema(
                [
                    T.StructField(f.name, f.dataType, True)
                    for f in schema.fields
                    if f.name in extra_set
                ]
            )
            tschema = snap.schema
        self.has_bucket = extra_bucket is not None
        self.cols = [f.name for f in tschema.fields]  # write order
        self.keys = snap.key_cols
        self.bucket_by = snap.bucket_by
        self.bucket_count = snap.bucket_count
        self.bucket_dtypes = [want[c] for c in snap.bucket_by]
        if not self.has_bucket:
            from picsure_dictionary_etl_spark.streaming.xxhash_vec import (
                UnsupportedVectorType,
                _type_supported,
            )

            bad = [
                f"{c}:{ty}"
                for c, ty in zip(self.bucket_by, self.bucket_dtypes)
                if not _type_supported(ty)
            ]
            if bad:
                raise UnsupportedVectorType(
                    f"lake sink: no xxhash64 path for bucket_by column(s) "
                    f"{bad}; precompute {BUCKET_COL} JVM-side with "
                    "with_bucket()"
                )
        # per-query suffix: restarted queries get a fresh writer (and
        # suffix), so a replayed epoch is deduped by the WATERMARK
        # guard, not the batch id; the id dedups same-run commit
        # retries. .option("sinkid", ...) pins it across restarts.
        self.sinkid = options.get("sinkid") or uuid.uuid4().hex[:8]
        # opt-in inline maintenance: every N non-empty epochs, compact
        # qualifying buckets (same count+bytes trigger as merge/
        # optimize) right in the commit worker — see _auto_optimize
        self.optimize_every = int(options.get("optimizeevery", 0) or 0)
        self.optimize_max_buckets = int(
            options.get("optimizemaxbuckets", 8) or 8
        )
        self.optimize_threshold = int(options.get("optimizethreshold", 8) or 8)
        self.optimize_target_bytes = int(
            options.get("optimizetargetbytes", 64 * 1024 * 1024) or 0
        )

    # ---------- executor side ----------

    def _bucket_ids(self, batch):
        """int64 numpy bucket id per row: trust a precomputed _bucket,
        else whole-column numpy XXH64 (:mod:`.xxhash_vec`), bit-equal to
        ``bucket_expr``'s ``pmod(xxhash64(...), n)``, so a naive
        ``df.writeStream.format("lake")`` is scale-safe. The bucket-key
        types were checked when the writer was planned."""
        from picsure_dictionary_etl_spark.streaming.xxhash_vec import (
            pmod_buckets,
            spark_xxhash64_vec,
        )

        if self.has_bucket:
            arr = batch.column(batch.schema.names.index(BUCKET_COL))
            return arr.to_numpy(zero_copy_only=False).astype("int64")
        cols = [batch.column(batch.schema.names.index(c)) for c in self.bucket_by]
        return pmod_buckets(
            spark_xxhash64_vec(cols, self.bucket_dtypes), self.bucket_count
        )

    def _write_parquet(self, rel: str, tbl) -> int:
        """Write one parquet data file at ``<root>/<rel>`` (POSIX fast
        path or pyarrow.fs for URI roots) and return its byte size."""
        import pyarrow.parquet as pq

        if self.is_uri:
            import posixpath

            from picsure_dictionary_etl_spark.lake.fs import arrow_fs_and_base

            afs, abase = arrow_fs_and_base(self.root)
            full = posixpath.join(abase, rel)
            afs.create_dir(posixpath.dirname(full), recursive=True)
            pq.write_table(tbl, full, filesystem=afs, compression="zstd")
            return int(afs.get_file_info(full).size)
        full = os.path.join(self.root, rel)
        os.makedirs(os.path.dirname(full), exist_ok=True)
        pq.write_table(tbl, full, compression="zstd")
        return os.path.getsize(full)

    def write(self, iterator):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        wm = _current_watermark(self.root)
        per_bucket: dict[int, list] = {}
        rows = 0
        dropped = 0
        max_lsn = None
        for batch in iterator:
            if batch.num_rows == 0:
                continue
            lsn = batch.column(batch.schema.names.index(LSN_COL))
            keep = pc.greater(lsn, pa.scalar(wm, type=lsn.type))
            kept_n = pc.sum(keep).as_py() or 0
            dropped += batch.num_rows - kept_n
            if kept_n == 0:
                continue
            if kept_n < batch.num_rows:
                batch = batch.filter(keep)
            buckets = self._bucket_ids(batch)
            tbl = pa.Table.from_batches([batch])
            if self.synthesize_markers:
                for c in self.blank_null_cols:
                    # blank_preserve: all-whitespace (\s, not just ' ')
                    # payload strings become null = unspecified
                    i = tbl.schema.get_field_index(c)
                    col = tbl.column(i)
                    blank = pc.equal(
                        pc.replace_substring_regex(col, r"\s", ""), ""
                    )
                    tbl = tbl.set_column(
                        i, tbl.schema.field(i),
                        pc.if_else(
                            pc.fill_null(blank, False),
                            pa.scalar(None, type=col.type), col,
                        ),
                    )
                nr = tbl.num_rows
                tbl = tbl.append_column(
                    DEL_LSN_COL, pa.nulls(nr, pa.int64())
                ).append_column(
                    PU_COL, pa.array(np.full(nr, self.pu_value), pa.bool_())
                )
            tbl = tbl.select(self.cols)
            m = pc.max(tbl.column(LSN_COL)).as_py()
            if m is not None:
                max_lsn = m if max_lsn is None else max(max_lsn, m)
            rows += tbl.num_rows
            # stable argsort + contiguous zero-copy slices per bucket run
            order = np.argsort(buckets, kind="stable")
            sorted_tbl = tbl.take(pa.array(order))
            sb = buckets[order]
            bounds = np.flatnonzero(np.r_[True, sb[1:] != sb[:-1], True])
            for i in range(len(bounds) - 1):
                lo, hi = int(bounds[i]), int(bounds[i + 1])
                per_bucket.setdefault(int(sb[lo]), []).append(
                    sorted_tbl.slice(lo, hi - lo)
                )
        if not per_bucket:
            return _SinkCommit(dropped_stale=dropped)
        # attempt-unique dir per task: racing/replayed attempts can
        # never clobber committed files (the engine's data-dir rule)
        rel_dir = f"data/s-{uuid.uuid4().hex[:8]}/delta"
        files: dict[str, list[str]] = {}
        sizes: dict[str, int] = {}
        for b, tables in sorted(per_bucket.items()):
            rel = (
                f"{rel_dir}/{BUCKET_COL}={b}/"
                f"part-00000-{uuid.uuid4().hex}.zstd.parquet"
            )
            sizes[rel] = self._write_parquet(rel, pa.concat_tables(tables))
            files[str(b)] = [rel]
        return _SinkCommit(
            files=files, sizes=sizes, rows=rows,
            max_lsn=max_lsn, dropped_stale=dropped,
        )

    # ---------- driver side ----------

    @staticmethod
    def _pending_claim(t, version):
        """The unswapped manifest claim at ``version``, if any (a
        crashed commit's leftover); None when absent or torn."""
        path = os.path.join(t.root, META_DIR, f"snap-{version:08d}.json")
        try:
            from picsure_dictionary_etl_spark.lake.table import Snapshot

            return Snapshot.from_json(t.io.read_text(path))
        except Exception:
            return None

    def _commit(self, messages, batch_id: str, epoch=None) -> None:
        appends: dict[str, list[str]] = {}
        sizes: dict[str, int] = {}
        rows = 0
        dropped = 0
        max_lsn = None
        for m in messages:
            if m is None:
                continue
            for b, fl in m.files.items():
                appends.setdefault(b, []).extend(fl)
            sizes.update(m.sizes)
            rows += m.rows
            dropped += m.dropped_stale
            if m.max_lsn is not None:
                max_lsn = (
                    m.max_lsn if max_lsn is None else max(max_lsn, m.max_lsn)
                )
        t = LakeTable(None, self.root)
        prev = t.current()
        # ONE pending-claim probe serves both crash-recovery rules —
        # and it must run even for EMPTY epochs: a crashed
        # auto-optimize claim would otherwise sit unrecovered on an
        # idle stream (replayed rows all fall under the watermark ->
        # appends empty), wedging every EXTERNAL writer (merge_into,
        # optimize()) on ConcurrentCommitError (review finding).
        #
        # 1. A crashed auto-optimize (killed between its claim and the
        #    pointer swap) leaves a `sink-optimize-v{N+1}` claim NO
        #    later commit's batch id matches — finish it first (same
        #    version => same retry-stable batch id => takeover;
        #    force_commit clears the claim even when the candidate set
        #    resolves empty). Unconditional on optimizeevery: a
        #    restarted writer that DROPPED the option must still
        #    recover, not wedge on ConcurrentCommitError forever.
        # 2. Crashed EPOCH claim (the engine rule: same-batch claim =>
        #    resume): a restarted query gets a fresh random sinkid, so
        #    its batch id differs and the claim compare would raise
        #    forever. If the claim is a SINK commit for this same
        #    EPOCH, adopt ITS batch id — the commit then matches the
        #    claim's intent and takes it over; the crashed attempt's
        #    data files (attempt-unique) become vacuum-able orphans.
        claim = self._pending_claim(t, prev.version + 1)
        if claim is not None and claim.lineage.get("sink_auto"):
            self._auto_optimize(t, prev, force_commit=True)
            prev = t.current()
        elif (
            epoch is not None
            and claim is not None
            and claim.lineage.get("stream_sink")
            and claim.lineage.get("epoch") == epoch
        ):
            batch_id = claim.lineage.get("batch_id", batch_id)
        if not appends:
            return  # empty/fully-stale epoch: no version churn
        if batch_id in prev.properties.get("applied_batches", []):
            return  # same-run commit retry: committed no-op
        props = t.exactly_once_props(
            batch_id,
            max_lsn if max_lsn is not None else -1,
            prev_properties=prev.properties,
        )
        cnt = 0
        if self.optimize_every:
            cnt = int(prev.properties.get("sink_commits_since_optimize", 0)) + 1
            props["sink_commits_since_optimize"] = cnt
        lineage = {
            "batch_id": batch_id,
            "stream_sink": True,
            "rows_written": rows,
            "dropped_stale": dropped,
            "buckets_touched": len(appends),
        }
        if epoch is not None:
            lineage["epoch"] = epoch
        snap = t.commit(
            appends, {}, props, lineage, prev=prev, file_sizes_hint=sizes
        )
        if self.optimize_every and cnt >= self.optimize_every:
            self._auto_optimize(t, snap)

    def _auto_optimize(self, t, snap, force_commit: bool = False) -> None:
        """Inline bounded compaction, every ``optimizeevery`` non-empty
        epochs: select buckets with the engine's count+bytes trigger
        (metadata-only — manifest file lists + recorded sizes), resolve
        each candidate's live state with the VECTORIZED pandas twins the
        ``lake_cdf`` executor path certifies (bit-equal LWW ties,
        field-wise markers, delete boundaries), rewrite it as one
        key-sorted base, and commit a ``replaces`` snapshot (empty
        buckets get the explicit ``[]`` guard).

        Scale shape: the commit worker has no Spark session, so this is
        single-process BY DESIGN — bounded to ``optimizemaxbuckets``
        buckets per cadence (default 8), each bounded by the trigger's
        target bytes; a backlog drains over subsequent cadences. The
        parallel path for bulk debt remains the external
        :func:`~..lake.merge.optimize` Spark job. Crash between the
        epoch commit and this one re-triggers next epoch (the counter
        property only resets in THIS commit); the retry-stable batch id
        lets a crashed claim be taken over, exactly like optimize()."""
        import pyarrow as pa

        from picsure_dictionary_etl_spark.lake.merge import (
            _bucket_file_bytes,
            _payload_cols,
            _should_compact,
        )
        from picsure_dictionary_etl_spark.streaming.cdf_source import (
            _read_bucket,
            _resolve_live_pd,
            _resolve_live_pd_fieldwise,
            _to_arrow_batches,
        )

        threshold, target = self.optimize_threshold, self.optimize_target_bytes
        cache: dict = {}
        cands: list[str] = []
        for b in sorted(snap.files, key=int):
            if len(cands) >= self.optimize_max_buckets:
                break  # bounded per cadence — backlog drains next time
            fl = snap.files[b]
            n = len(fl)
            if n <= 1:
                continue
            if n > 4 * threshold:
                cands.append(b)
                continue
            base = [f for f in fl if "/delta/" not in f]
            delta = [f for f in fl if "/delta/" in f]
            if _should_compact(
                n, threshold,
                _bucket_file_bytes(t, base, snap, cache),
                _bucket_file_bytes(t, delta, snap, cache),
                target,
            ):
                cands.append(b)
        if not cands and not force_commit:
            return  # counter stays >= N: re-check next epoch (cheap)
        from pyspark.sql import types as T

        schema = snap.schema
        names = [f.name for f in schema.fields]
        dtypes = {f.name: f.dataType.simpleString() for f in schema.fields}
        keys, payload = snap.key_cols, _payload_cols(snap)
        fieldwise = PU_COL in names
        version = snap.version + 1
        rel_dir = f"data/o{version:08d}-{uuid.uuid4().hex[:8]}/base"
        replaces: dict[str, list[str]] = {}
        sizes: dict[str, int] = {}
        out_schema = T.StructType(
            [schema[n] for n in keys + payload + ["_op", "_lsn"]]
        )
        for b in cands:
            pdf = _read_bucket(self.root, snap.files[b], names, dtypes)
            resolve = (
                _resolve_live_pd_fieldwise if fieldwise else _resolve_live_pd
            )
            live = resolve(pdf, keys, payload, dtypes, keep_op=True)
            if live.empty:
                replaces[b] = []  # zero live rows: explicit empty guard
                continue
            live = live.sort_values(keys, kind="stable")
            batches = list(_to_arrow_batches(live, out_schema, dtypes))
            tbl = pa.Table.from_batches(batches)
            rel = (
                f"{rel_dir}/{BUCKET_COL}={b}/"
                f"part-00000-{uuid.uuid4().hex}.zstd.parquet"
            )
            sizes[rel] = self._write_parquet(rel, tbl)
            replaces[b] = [rel]
        t.commit(
            {}, replaces, {"sink_commits_since_optimize": 0},
            {
                "batch_id": f"sink-optimize-v{version}",
                "optimize": {"buckets": [int(b) for b in cands]},
                "sink_auto": True,
            },
            prev=snap, file_sizes_hint=sizes,
        )

    def commit(self, messages, batchId: int) -> None:
        self._commit(messages, f"sink-{self.sinkid}-{batchId}", epoch=batchId)

    def abort(self, messages, batchId: int) -> None:
        # written files are unreferenced by any manifest — orphans that
        # vacuum GCs; best-effort eager cleanup here
        if self.is_uri:
            import posixpath

            from picsure_dictionary_etl_spark.lake.fs import arrow_fs_and_base

            afs, abase = arrow_fs_and_base(self.root)

            def _rm(rel):
                afs.delete_file(posixpath.join(abase, rel))
        else:

            def _rm(rel):
                os.remove(os.path.join(self.root, rel))

        for m in messages:
            if m is None:
                continue
            for fl in m.files.values():
                for rel in fl:
                    try:
                        _rm(rel)
                    except Exception:
                        pass


class _LakeBatchWriter(DataSourceArrowWriter):
    """``df.write.format("lake").mode("append")`` — one batch through
    the same executor path; the batch id is attempt-unique (the
    watermark guard still drops redelivered stale rows)."""

    def __init__(self, options, schema, overwrite: bool):
        self._w = _LakeSinkWriter(options, schema, overwrite)

    def write(self, iterator):
        return self._w.write(iterator)

    def commit(self, messages):
        # attempt-unique id, NEVER the (possibly pinned) sinkid: a
        # batch write has no replay concept, and a constant id would
        # make a SECOND append under the same sinkid a silent
        # committed no-op that drops its rows (review finding). The
        # watermark guard still provides redelivery protection.
        self._w._commit(messages, f"sink-{uuid.uuid4().hex[:8]}-batch")

    def abort(self, messages):
        self._w.abort(messages, -1)


class LakeTableSinkDataSource(DataSource):
    """``format("lake")`` — streaming + batch append sink over a
    LakeTable root (see module docstring)."""

    @classmethod
    def name(cls) -> str:
        return "lake"

    def streamWriter(self, schema, overwrite):
        return _LakeSinkWriter(self.options, schema, overwrite)

    def writer(self, schema, overwrite):
        return _LakeBatchWriter(self.options, schema, overwrite)


def with_bucket(df, root: str, repartition: bool = False):
    """Add the table's ``_bucket`` column JVM-side (the sink's fast
    path: vectorized ``xxhash64`` in the plan, no per-row Python in the
    executors). Reads the bucket config from the current manifest —
    metadata-only, driver-side.

    ``repartition=True`` additionally hash-partitions the stream on
    ``_bucket`` so each bucket lands in ONE task per epoch — file count
    drops from O(tasks × buckets) to O(buckets) per epoch (4× measured
    in BENCH/sink_bench.py) at the cost of one shuffle per epoch.
    Leave it off for low-latency small epochs; turn it on when epochs
    are large or compaction cadence is slow."""
    from pyspark.sql import functions as F

    from picsure_dictionary_etl_spark.lake.table import bucket_expr

    r = root.rstrip("/") if _is_uri(root) else os.path.abspath(root)
    # driver-side with a live session: any scheme the session's Hadoop
    # layer reaches works here (the sink itself gates the commit point)
    snap = LakeTable(df.sparkSession, r).current()
    out = df.withColumn(
        BUCKET_COL, bucket_expr(snap.bucket_by, snap.bucket_count)
    )
    if repartition:
        out = out.repartition(F.col(BUCKET_COL))
    return out
