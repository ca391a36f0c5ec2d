"""MERGE INTO for LakeTable — the CDC core.

Semantics (the Iceberg statement this implements, and what the engine
would run verbatim on a cluster with Iceberg extensions)::

    MERGE INTO target t
    USING (SELECT <LWW winners per key>) s
    ON  t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx
    WHEN MATCHED AND s.op = 'D' AND s.lsn > t.lsn THEN DELETE
    WHEN MATCHED AND s.lsn > t.lsn               THEN UPDATE SET *
    WHEN NOT MATCHED AND s.op <> 'D'             THEN INSERT *

Reference parity: natural-key array-batch upsert D1
(``concept/ConceptService.java:180-211``), LWW-vs-first-wins dedup D2
(``loading/ColumnMetaTreeBuilder.java:52-77`` — the engine standardizes
on last-writer-wins by max LSN), delete path H4
(``concept/ConceptController.java:119-143``).

One physical write, merge-on-read (Iceberg's MOR): append the
LWW-reduced winner rows (including 'D' tombstones) as per-bucket *delta
files*; reads resolve LWW across base+delta files; buckets whose file
count exceeds ``compact_threshold`` are compacted (LWW rewrite,
tombstones dropped) inside the same commit. Write cost is proportional
to the *batch*, not the table — the sustained-throughput design for a
10^10-event replay. Compaction is amortized O(table/threshold); a batch
load that wants fully rewritten buckets runs :func:`optimize` after it.

Table-level resolves (reads, compaction, ``matched_only``, rebucket)
scan the table's files through Spark, group the rows by bucket and
resolve each bucket in one Python task with the change feed's pandas
LWW kernel (:func:`_live_rows`, behind :meth:`LakeTable.live` and
:func:`_compact_buckets`).

Stages of a merge (JVM-side codegen for stages 1-2, except a caller's
``post_reduce_transform``: the CDC runner's normalize runs its
Arrow-batched pandas UDF over the winners, in the reduce/write stage):

1. **Batch LWW reduce** — ``groupBy(keys).agg(max_by(struct(payload), lsn))``
   (sort-based aggregate: struct buffers aren't hash-mutable, but still
   no window/row_number full-sort-and-rank). Two shuffle shapes, picked
   by ``combine_first``: single-shuffle bucket-first (default), or
   map-side-combine-first when skew salting engages — the partial
   aggregate then collapses hot-key storms *before* the shuffle.
2. **Bucket-local deltas** — each winner lands in its
   ``xxhash64(bucket_by) % n`` bucket's delta files; untouched buckets
   carry over by reference. Dead letters, when asked for, share this
   write as bucket ``-1`` and move out before the commit.
3. **Compaction**, amortized-rare: the touched buckets the candidate
   rule selects are rewritten as bases, in one more job.
4. **Atomic commit** with watermark/batch-id properties (exactly-once).

The unresolved Column trees of a merge (alignment, bucket tag,
observations, the LWW aggregate) are built once per table and source
shape and reused on every batch (:mod:`.expr_memo`).
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from picsure_dictionary_etl_spark.lake.expr_memo import ByIdentity, memo_exprs
from picsure_dictionary_etl_spark.lake.table import (
    BUCKET_COL,
    ConcurrentCommitError,
    LakeTable,
    Snapshot,
    bucket_expr,
)

OP_COL = "_op"
LSN_COL = "_lsn"
OP_INSERT, OP_UPDATE, OP_DELETE = "I", "U", "D"


@dataclass
class MergeResult:
    snapshot: Snapshot
    metrics: dict[str, Any]


DEL_LSN_COL = "_del_lsn"
PU_COL = "_pu"  # marks a row as a partial-update (field-wise) delta
SYSTEM_COLS = {LSN_COL, OP_COL, DEL_LSN_COL, PU_COL}


def _payload_cols(snap: Snapshot) -> list[str]:
    """Table columns that aren't key or system columns."""
    system = {*SYSTEM_COLS, *snap.key_cols}
    return [f.name for f in snap.schema.fields if f.name not in system]


def _system_extras(snap: Snapshot) -> list[str]:
    """System columns beyond (_op, _lsn) present in this table's schema —
    non-empty only for tables that received field-wise MOR deltas."""
    names = {f.name for f in snap.schema.fields}
    return [c for c in (DEL_LSN_COL, PU_COL) if c in names]


def lww_winners(
    source: DataFrame,
    key_cols: list[str],
    payload_cols: list[str],
    carry_cols: list[str] | None = None,
    schema: T.StructType | None = None,
) -> DataFrame:
    """Per-key last-writer-wins reduce by max LSN.

    ``max_by`` over a struct = one aggregate (SortAggregate — struct
    buffers are sort-based, still no window rank) generalizing the
    reference's first-wins ``putIfAbsent``
    (``ColumnMetaTreeBuilder.java:52-77``). When the caller does NOT
    pre-partition the input, Catalyst plans the partial aggregate on
    the map side — the hot-key-storm absorber ``merge_into`` engages
    via ``combine_first``. Output: carry + keys + payload + _op + _lsn.

    ``carry_cols`` are key-functional columns (e.g. the bucket id)
    added to the groupBy so an existing partitioning on them satisfies
    the aggregate's distribution — Catalyst then skips the exchange.
    ``schema`` types the payload columns; ``source.schema`` (one plan
    analysis) when None.

    Ties on ``_lsn`` (a source stamping one LSN per multi-statement
    transaction) break deterministically by a payload hash
    (:func:`_lsn_order`), so replay/resume reproduces the identical
    winner regardless of shuffle encounter order. Equal-LSN events must
    arrive in the SAME batch — the watermark guard treats an LSN at or
    below the committed watermark as already applied (the source must
    not split a transaction across batch boundaries, the standard CDC
    batching contract).
    """
    carry = carry_cols or []
    aggs, out = _lww_exprs(key_cols, payload_cols, carry, schema or source.schema)
    return source.groupBy(*carry, *key_cols).agg(*aggs).select(*out)


def _lww_exprs(key_cols, payload_cols, carry, schema: T.StructType):
    """(aggregates, projection) of :func:`lww_winners`, built once per
    shape (:mod:`.expr_memo`). Only map-typed payload columns change
    the tree (:func:`_lsn_order` canonicalizes them), so only their
    types enter the key."""
    maps = tuple(
        (f.name, f.dataType.json())
        for f in schema.fields
        if f.name in payload_cols and _contains_map(f.dataType)
    )

    def build():
        winner = F.max_by(
            F.struct(*payload_cols, OP_COL), _lsn_order(payload_cols, schema)
        ).alias("_w")
        aggs = (winner, F.max(LSN_COL).alias(LSN_COL))
        out = (
            *carry, *key_cols,
            *[F.col(f"_w.{c}").alias(c) for c in payload_cols],
            F.col(f"_w.{OP_COL}").alias(OP_COL), LSN_COL,
        )
        return aggs, out

    return memo_exprs(
        ("lww", tuple(key_cols), tuple(payload_cols), tuple(carry), maps), build
    )


def _contains_map(dt) -> bool:
    if isinstance(dt, T.MapType):
        return True
    if isinstance(dt, T.ArrayType):
        return _contains_map(dt.elementType)
    if isinstance(dt, T.StructType):
        return any(_contains_map(f.dataType) for f in dt.fields)
    return False


def _canon_type(dt):
    """Type of :func:`_canon_col`'s output: every map node becomes
    ``array<struct<key,value>>`` (the ``map_entries`` shape)."""
    if isinstance(dt, T.MapType):
        return T.ArrayType(
            T.StructType(
                [
                    T.StructField("key", _canon_type(dt.keyType), False),
                    T.StructField(
                        "value", _canon_type(dt.valueType), dt.valueContainsNull
                    ),
                ]
            )
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_canon_type(dt.elementType), dt.containsNull)
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _canon_type(f.dataType), f.nullable)
                for f in dt.fields
            ]
        )
    return dt


def _canon_col(col: F.Column, dt) -> F.Column:
    """Hash/digest canonicalization: rewrite every map node in the
    subtree as its KEY-SORTED entry array (``array_sort(map_entries)``,
    values canonicalized FIRST since raw maps aren't orderable) so the
    result is hashable by ``F.xxhash64`` and entry-order-insensitive.
    Identity on map-free subtrees — existing tables' tie-break hashes
    stay bit-identical. Key-sort alone is a total order because Spark
    dedups/normalizes map keys at creation (duplicate-key error), so
    the struct comparison never reaches the value field."""
    if not _contains_map(dt):
        return col
    if isinstance(dt, T.MapType):
        ent = F.map_entries(col)
        if _contains_map(dt.valueType):
            ent = F.transform(
                ent,
                lambda e: F.struct(
                    e["key"].alias("key"),
                    _canon_col(e["value"], dt.valueType).alias("value"),
                ),
            )
        return F.array_sort(ent)
    if isinstance(dt, T.ArrayType):
        return F.transform(col, lambda x: _canon_col(x, dt.elementType))
    rebuilt = F.struct(
        *[
            _canon_col(col.getField(f.name), f.dataType).alias(f.name)
            for f in dt.fields
        ]
    )
    return F.when(col.isNull(), F.lit(None).cast(_canon_type(dt))).otherwise(
        rebuilt
    )


def _lsn_order(payload_cols: list[str], schema: T.StructType | None = None) -> F.Column:
    """Deterministic LWW ordering key: (lsn, payload hash). The hash
    term only matters on equal-LSN ties, where it picks the same winner
    on every run/replay — content-determined, never encounter-order.
    Map-typed payload columns enter the hash as their canonical
    key-sorted entry arrays (:func:`_canon_col` — ``F.xxhash64`` rejects
    raw MapType); the executor-side hash (``xxhash_vec``, via
    ``_canon_map_arrow``) hashes that exact shape bit-equal."""
    by_name = {f.name: f.dataType for f in schema.fields} if schema is not None else {}
    cols = [
        _canon_col(F.col(c), by_name[c]) if c in by_name else F.col(c)
        for c in payload_cols
    ]
    return F.struct(
        F.col(LSN_COL).alias("l"),
        F.xxhash64(*cols, OP_COL).alias("t"),
    )


def resolve_live(
    df: DataFrame,
    key_cols: list[str],
    payload_cols: list[str],
    schema=None,
) -> DataFrame:
    """Merge-on-read resolution on the Spark plane: LWW across
    base+delta rows, tombstones dropped. Idempotent on already-resolved
    (compacted) data. Tables resolve with :meth:`LakeTable.live`; this
    is the independent reference that kernel is tested against.

    Dispatch: if the rows carry the ``_pu`` marker column the table has
    (or had) field-wise deltas, and resolution runs the MIXED field-wise
    reduce — full rows (``_pu`` null/false: compacted bases, row-policy
    deltas) specify *every* field at their LSN, nulls included, while
    partial rows contribute only the fields they specified.

    Specification at READ time is always null-based (coalesce): the
    blank-vs-null rule is a BATCH-REDUCE-time policy — a
    ``blank_preserve`` batch nulls its blanks before they're ever
    stored, so a blank string found in a stored partial delta was
    SPECIFIED by a coalesce batch and must stay specified even if the
    table's latest batch policy is blank_preserve (otherwise an older
    value resurrects over the committed blank). The table's
    ``update_policy`` property therefore plays no part in reads."""
    if PU_COL in df.columns:
        out = lww_winners_fieldwise(
            df, key_cols, payload_cols,
            policy="coalesce",
            schema=schema, full_row_col=PU_COL,
        )
        return out.filter(F.col(OP_COL) != OP_DELETE).drop(DEL_LSN_COL)
    return lww_winners(df, key_cols, payload_cols).filter(F.col(OP_COL) != OP_DELETE)


def _specified(c: F.Column, dtype, policy: str) -> F.Column:
    """Is this source field 'provided'? ``coalesce`` (D7): non-null.
    ``blank_preserve`` (D6): non-null and non-blank for strings — the
    reference's ``defaultIfBlank``/``isNotBlank`` update guards
    (``facet/FacetLoaderService.java:168-174,285-286``). Blank means
    ALL-whitespace (Java ``isBlank``), not just spaces — ``F.trim``
    strips only ' ', so tab/newline-only strings need the regex."""
    from pyspark.sql import types as T

    if policy == "blank_preserve" and isinstance(dtype, T.StringType):
        return c.isNotNull() & (F.regexp_replace(c, r"\s", "") != "")
    return c.isNotNull()


def lww_winners_fieldwise(
    source: DataFrame,
    key_cols: list[str],
    payload_cols: list[str],
    carry_cols: list[str] | None = None,
    policy: str = "coalesce",
    schema=None,
    full_row_col: str | None = None,
) -> DataFrame:
    """Per-key FIELD-WISE last-specified-writer-wins reduce — the partial
    -update (D6/D7) generalization of :func:`lww_winners`.

    Each payload column independently takes its value from the latest
    event that *specified* it (see :func:`_specified`), but only if that
    event came after the key's latest delete — a tombstone resets every
    field, so pre-delete values can't leak into a reinserted row.
    Unspecified-everywhere fields come out null (preserved against the
    target at read time, where the stored rows resolve with the delta).

    Still ONE map-side-combinable groupBy: per column a
    ``max_by(struct(lsn, value), specified ? lsn : null)`` aggregate
    (Spark's max_by ignores null orderings), plus the delete-boundary
    max. Output carries ``_del_lsn`` so a second reduce over stored
    base+delta rows keeps respecting the boundary.

    ``full_row_col`` names a boolean column marking rows as partial
    (true) vs FULL (null/false — compacted bases, row-policy deltas).
    Full rows specify *every* field at their LSN — nulls included — so
    a committed null can never be resurrected by an older version's
    non-null value, and mixed row-policy/field-wise histories resolve
    correctly in ONE aggregate (the field-wise read path and compaction
    both use this).

    Reference parity: selective-field upsert D7
    (``consent/ConsentController.java:170-189`` — ``Optional.ifPresent``
    setters) and blank-preserving upsert D6
    (``facet/FacetLoaderService.java:168-174``).
    """
    carry = carry_cols or []
    has_del_in = DEL_LSN_COL in source.columns
    is_full = (
        ~F.coalesce(F.col(full_row_col), F.lit(False)) if full_row_col else None
    )
    lsn_ord = _lsn_order(payload_cols, source.schema)  # equal-LSN tie-break
    aggs = []
    for c in payload_cols:
        dtype = schema[c].dataType if schema is not None else None
        spec = _specified(F.col(c), dtype, policy)
        order = F.when(spec, lsn_ord)
        if is_full is not None:
            order = F.when(is_full, lsn_ord).otherwise(order)
        aggs.append(
            F.max_by(
                F.struct(F.col(LSN_COL).alias("l"), F.col(c).alias("v")),
                order,
            ).alias(f"_w_{c}")
        )
    del_in = (
        F.greatest(
            F.when(F.col(OP_COL) == OP_DELETE, F.col(LSN_COL)), F.col(DEL_LSN_COL)
        )
        if has_del_in
        else F.when(F.col(OP_COL) == OP_DELETE, F.col(LSN_COL))
    )
    aggs.append(F.max(del_in).alias(DEL_LSN_COL))
    aggs.append(F.max_by(F.col(OP_COL), lsn_ord).alias(OP_COL))
    aggs.append(F.max(LSN_COL).alias(LSN_COL))
    g = source.groupBy(*carry, *key_cols).agg(*aggs)
    live_field = lambda c: F.when(  # noqa: E731
        F.col(DEL_LSN_COL).isNull() | (F.col(f"_w_{c}.l") > F.col(DEL_LSN_COL)),
        F.col(f"_w_{c}.v"),
    )
    return g.select(
        *carry,
        *key_cols,
        *[live_field(c).alias(c) for c in payload_cols],
        F.col(OP_COL),
        F.col(LSN_COL),
        F.col(DEL_LSN_COL),
    )


def merge_into(
    table: LakeTable,
    source: DataFrame,
    batch_id: str,
    compact_threshold: int = 8,
    salt_partitions: int | None = None,
    extra_lineage: dict[str, Any] | None = None,
    watermark_lsn: int | None = None,
    post_reduce_transform=None,
    update_policy: str = "row",
    matched_only: bool = False,
    combine_first: bool | None = None,
    compact_target_bytes: int = 64 * 1024 * 1024,
    dead_letters: tuple[F.Column, str | None] | None = None,
) -> MergeResult:
    """Apply one change batch with exactly-once semantics.

    ``source`` must contain the table's key columns, payload columns
    (missing ones null-filled), ``_op`` ('I'/'U'/'D') and ``_lsn``.

    Redelivered ``batch_id``s are committed no-ops; events at or below
    the committed watermark are dropped (already part of the applied
    prefix — prevents stale inserts resurrecting physical deletes).

    ``update_policy`` selects the UPDATE SET semantics:

    * ``"row"`` (default) — whole-row LWW, ``UPDATE SET *``.
    * ``"coalesce"`` (D7) — per-column ``coalesce(s.col, t.col)``:
      null source fields preserve the target value (partial-update
      events; ``consent/ConsentController.java:170-189``).
    * ``"blank_preserve"`` (D6) — like coalesce, but blank ('' or
      whitespace) string fields also preserve the target
      (``facet/FacetLoaderService.java:168-174`` ``defaultIfBlank``).

    Non-row policies append their field-wise winner rows as per-bucket
    deltas tagged ``_pu=true`` and carrying ``_del_lsn`` (the table
    schema evolves once, additively, to hold both system columns) —
    O(batch) writes, the sustained-throughput shape for a 10^10-event
    partial-update stream; reads and compaction resolve with the MIXED
    field-wise reduce (see :func:`lww_winners_fieldwise`). The policy
    cannot express "set field to null" — inherent to the semantics,
    same as the reference's ``Optional``-guarded setters. The latest
    non-row policy is recorded as the table property ``update_policy``.

    ``matched_only`` (D11): only keys LIVE in the target are touched —
    unmatched (or deleted) source keys are dropped, never inserted or
    resurrected (the reference's update-only endpoints return 404
    instead of creating). The winners are semi-joined against the live
    keys of the buckets they touch, and the survivors append as
    ordinary deltas: one extra pass over the batch, never a table scan.
    ``winners`` in the metrics then counts the matched keys.

    ``combine_first`` picks the reduce's shuffle shape; ``None`` (auto)
    = True iff salting is engaged:

    * False — ONE shuffle: repartition raw events on ``_bucket``, the
      (bucket, keys) aggregate runs exchange-free, the write reuses the
      partitioning. Cheapest when keys are well-spread (the common
      case), but a hot-KEY event storm lands whole on one reduce task
      (max_by lowers to SortAggregate — struct buffers are sort-based —
      and an explicit repartition leaves no map-side combine).
    * True — partial-aggregate FIRST on the input partitions (a storm
      of duplicates for one key collapses map-side to one row per input
      partition), then Catalyst's (bucket, keys) exchange carries only
      winners, and the write repartitions winners onto (bucket, salt).
      Two shuffles, but both skew-proof and the second is winner-sized.

    ``dead_letters=(predicate, path)`` routes source rows for which
    ``predicate`` is not true (malformed events) out of the merge
    without a pass of their own: they skip the watermark filter, the
    reduce and ``post_reduce_transform``, and ride the merge's own
    write job (its dynamic-partition write) as the reserved bucket ``-1``.
    Before the commit, those files move into ``path``, replacing what an
    earlier delivery of the batch left there; they hold the table's
    columns (keys, payload, ``_op``, ``_lsn``; the field-wise system
    columns null), with any the source lacks null-filled. ``path=None``
    drops them. Either way their count, observed on the write job, is
    committed as ``dead_letter_rows`` in the lineage. Cannot combine
    with ``matched_only`` (its semi-join would drop them): that fails
    with ``ValueError`` before anything runs.
    """
    if dead_letters is not None and matched_only:
        raise ValueError(
            "merge_into: dead_letters cannot combine with matched_only "
            "(the live-key semi-join would drop the dead rows)"
        )
    # ONE manifest read serves the whole merge (single-writer
    # discipline: it cannot change underneath us) — the applied-batch
    # check, watermark, schema, and the final commit all derive from
    # this snapshot instead of five VERSION+manifest round trips.
    snap = table.current()
    if batch_id in set(snap.properties.get("applied_batches", [])):
        return MergeResult(snap, {"batch_id": batch_id, "skipped_duplicate_batch": True})

    if update_policy not in ("row", "coalesce", "blank_preserve"):
        raise ValueError(f"unknown update_policy {update_policy!r}")
    if update_policy != "row":
        # field-wise deltas persist the delete boundary and the partial
        # marker; additive, metadata-only, idempotent
        snap_cols = {f.name for f in snap.schema.fields}
        need = [
            f
            for f in (
                T.StructField(DEL_LSN_COL, T.LongType(), True),
                T.StructField(PU_COL, T.BooleanType(), True),
            )
            if f.name not in snap_cols
        ]
        if need:
            snap = table.evolve_schema(need)
    # compaction and matched_only resolve with the pandas LWW kernel:
    # a type it cannot take fails here, before any file is written
    from picsure_dictionary_etl_spark.streaming.cdf_source import _check_types

    _check_types(table.root, snap)
    keys = snap.key_cols
    payload = _payload_cols(snap)
    pred, dl_path = dead_letters if dead_letters is not None else (None, None)
    x = _merge_exprs(snap, source.schema, pred)

    if combine_first is None:
        combine_first = bool(salt_partitions)

    # One projection aligns the source to the table's columns and tags
    # each row with its bucket — or, with dead letters, with bucket -1
    # when it fails the predicate.
    # Single-shuffle plan (combine_first=False): repartition once on the
    # bucket id, then group by (_bucket, keys) — HashPartitioning(_bucket)
    # satisfies the aggregate's ClusteredDistribution(_bucket, keys), so
    # the LWW reduce runs exchange-free and the per-bucket write reuses
    # the same partitioning. combine_first=True skips the explicit
    # repartition so Catalyst plans a map-side partial aggregate before
    # its own exchange (hot-key storm absorption; see docstring).
    tagged = source.select(*x.aligned)
    dobs = Observation(f"dead-{batch_id}")
    dead = None
    if dl_path is not None:
        # Dead rows branch off before the exchange: their scan tasks run
        # in the write stage, so a commit is two jobs (map, write). Also
        # shuffling them made a third job (a map stage of their own) for
        # the same commit time.
        dead = tagged.filter(x.dead_rows).observe(dobs, x.dead_count)
    elif pred is not None:
        # counted, not kept: the count rides the merge's own write
        tagged = tagged.observe(dobs, x.dead_count)
    if not combine_first:
        tagged = tagged.repartition(x.bucket)

    wm_prev = int(snap.properties.get("watermark_lsn", -1))
    cond = x.valid_rows if pred is not None else None
    if wm_prev >= 0:
        above = x.lsn > wm_prev
        cond = above if cond is None else cond & above
    bucketed = tagged.filter(cond) if cond is not None else tagged

    obs = Observation(f"merge-{batch_id}")
    bucketed = bucketed.observe(obs, *x.observed)

    if update_policy == "row":
        winners = lww_winners(
            bucketed, keys, payload, carry_cols=[BUCKET_COL], schema=x.schema
        )
        if post_reduce_transform is not None:
            # Normalization is per-row pure and key/LSN-preserving, so
            # it commutes with whole-ROW LWW — running it on winners
            # (not raw events) cuts the vectorized-UDF volume by the
            # duplicate factor.
            winners = post_reduce_transform(winners)
    else:
        # Field-wise reduces do NOT commute with normalization: a field
        # the normalizer maps to null (sentinels, control-char-only
        # text) must read as null BEFORE specification is decided, or
        # the winner stores a value-then-nulled field as 'unspecified'
        # and shadows an earlier specified value. Normalize the raw
        # events here and pay the duplicate factor — partial-update
        # streams are update-heavy, not duplicate-heavy.
        src = (
            post_reduce_transform(bucketed)
            if post_reduce_transform is not None
            else bucketed
        )
        winners = lww_winners_fieldwise(
            src, keys, payload, carry_cols=[BUCKET_COL],
            policy=update_policy, schema=snap.schema,
        ).withColumn(PU_COL, F.lit(True))
        if dead is not None:
            dead = dead.withColumns(
                {DEL_LSN_COL: F.lit(None).cast("long"), PU_COL: F.lit(None).cast("boolean")}
            )

    cached = touched = None
    if matched_only:
        # the touched buckets must be known before the write (only their
        # live keys join), so persist the winners and collect their
        # distinct bucket ids (<= bucket_count rows). Tombstoned keys
        # resolve to no live row, so a deleted key is never resurrected.
        cached = winners.persist()
        touched = [r[0] for r in cached.select(BUCKET_COL).distinct().collect()]
        if touched:
            live_keys = table.live(snap, buckets=touched).select(*keys)
            winners = cached.join(live_keys, keys, "left_semi")

    # conflict-count lineage, piggybacked on the write job (no extra
    # action): winners = distinct keys surviving the in-batch LWW
    # reduce (and the matched_only join); conflicts = superseded
    # duplicates the reduce suppressed
    wobs = Observation(f"winners-{batch_id}")
    winners = winners.observe(wobs, x.winners_count)
    if dead is not None:
        # dead rows skip the watermark filter, the reduce and normalize,
        # and share the write job: its dynamic-partition write lays them
        # out as bucket -1, which write_data_files moves to dl_path
        winners = winners.unionByName(dead)

    salt = [F.pmod(F.xxhash64(*keys), F.lit(salt_partitions))] if salt_partitions else None
    version = snap.version + 1

    if touched == []:
        # no winner at all: nothing to write, no job to run
        appends, replaces, compacted, sizes_hint = {}, {}, [], {}
    else:
        # the semi-join drops the _bucket partitioning, so matched_only
        # writes repartition like the salted and combine-first plans
        appends, replaces, compacted, sizes_hint = _mor_write(
            table, snap, winners, salt, version, compact_threshold,
            write_repartition=matched_only or bool(salt) or combine_first,
            compact_target_bytes=compact_target_bytes,
            divert={str(DEAD_BUCKET): dl_path} if dl_path is not None else None,
        )
    if cached is not None:
        cached.unpersist()

    dead_metric = (
        {"dead_letter_rows": int(dobs.get["dead_letter_rows"] or 0)}
        if pred is not None
        else {}
    )
    changed = sorted({int(b) for b in (*appends, *replaces)})
    if not changed:
        props = table.exactly_once_props(
            batch_id,
            watermark_lsn if watermark_lsn is not None else wm_prev,
            prev_properties=snap.properties,
        )
        snap2 = table.commit(
            {}, {}, props,
            {"batch_id": batch_id, "empty_batch": True, **dead_metric}, prev=snap,
        )
        return MergeResult(snap2, {"batch_id": batch_id, "rows_in": 0, **dead_metric})

    if update_policy != "row":
        extra_lineage = {**(extra_lineage or {}), "update_policy": update_policy}

    m = {k: (int(v) if v is not None else None) for k, v in obs.get.items()}
    winners_n = int(wobs.get["winners"] or 0)
    written = {**appends, **replaces}
    per_bucket = _bucket_row_counts(table, written)
    metrics: dict[str, Any] = {
        "batch_id": batch_id,
        "buckets_touched": len(changed),
        "buckets_compacted": compacted,
        "buckets_total": snap.bucket_count,
        "rows_written": sum(per_bucket.values()) if per_bucket else winners_n,
        "per_bucket_rows": per_bucket,
        "winners": winners_n,
        "lww_conflicts": max(0, (m.get("rows_in") or 0) - winners_n),
        **m,
        **dead_metric,
        **(extra_lineage or {}),
    }
    # explicit None checks: a legitimate max_lsn of 0 must still advance
    # the watermark from its initial -1
    max_lsn = m.get("max_lsn")
    if watermark_lsn is not None:
        wm = watermark_lsn
    elif max_lsn is not None:
        wm = max_lsn
    else:
        wm = wm_prev
    props = table.exactly_once_props(batch_id, wm, prev_properties=snap.properties)
    if update_policy != "row":
        props["update_policy"] = update_policy
    snap2 = table.commit(
        appends, replaces, props, metrics, prev=snap, file_sizes_hint=sizes_hint
    )
    return MergeResult(snap2, metrics)


DEAD_BUCKET = -1  # the write partition dead letters take (never a bucket id)


@dataclass(frozen=True)
class _MergeExprs:
    """The unresolved trees one ``merge_into`` shape needs, built once
    per shape by :func:`_merge_exprs`."""

    schema: T.StructType  # of the aligned rows (without _bucket)
    aligned: tuple  # keys, payload (missing ones null), _op, _lsn, _bucket tag
    bucket: F.Column
    lsn: F.Column
    valid_rows: F.Column
    dead_rows: F.Column
    dead_count: F.Column
    observed: tuple
    winners_count: F.Column


def _merge_exprs(snap: Snapshot, src_schema: T.StructType, pred) -> _MergeExprs:
    """Key: the table schema, key and bucket layout, the source's
    columns and types, and the dead-letter predicate (by identity).
    The update policy shapes the reduce, not these trees; a field-wise
    policy evolves the table schema, which is in the key."""
    src = {f.name: f for f in src_schema.fields}

    def build() -> _MergeExprs:
        table_schema = snap.schema
        keys, payload = snap.key_cols, _payload_cols(snap)
        fields = [
            src[c] if c in src else table_schema[c] for c in (*keys, *payload)
        ] + [src.get(OP_COL, table_schema[OP_COL]), T.StructField(LSN_COL, T.LongType())]
        bucket = F.col(BUCKET_COL)
        tag = bucket_expr(snap.bucket_by, snap.bucket_count)
        if pred is not None:
            tag = F.when(pred, tag).otherwise(F.lit(DEAD_BUCKET))  # NULL fails too
        dead_rows = bucket == DEAD_BUCKET
        lsn = F.col(LSN_COL)
        one = F.lit(1)
        return _MergeExprs(
            schema=T.StructType(fields),
            aligned=(
                *[F.col(k) for k in keys],
                *[
                    (F.col(c) if c in src else F.lit(None).cast(table_schema[c].dataType)).alias(c)
                    for c in payload
                ],
                F.col(OP_COL),
                lsn.cast("long").alias(LSN_COL),
                tag.alias(BUCKET_COL),
            ),
            bucket=bucket,
            lsn=lsn,
            valid_rows=bucket >= 0,
            dead_rows=dead_rows,
            dead_count=F.sum(F.when(dead_rows, 1).otherwise(0)).alias("dead_letter_rows"),
            observed=(
                F.count(one).alias("rows_in"),
                F.sum(F.when(F.col(OP_COL) == OP_DELETE, 1).otherwise(0)).alias("deletes_in"),
                F.min(LSN_COL).alias("min_lsn"),
                F.max(LSN_COL).alias("max_lsn"),
            ),
            winners_count=F.count(one).alias("winners"),
        )

    return memo_exprs(
        (
            "merge", snap.schema_json, tuple(snap.key_cols), tuple(snap.bucket_by),
            snap.bucket_count, src_schema.json(),
            ByIdentity(pred) if pred is not None else None,
        ),
        build,
    )


def _should_compact(
    n_files: int,
    threshold: int,
    base_bytes: int | None,
    delta_bytes: int | None,
    target_bytes: int,
) -> bool:
    """Count + bytes compaction trigger for one bucket.

    A pure count trigger mis-handles mixed delta sizes at 10^10-event
    scale in both directions: it lets a few LARGE deltas sit unmerged
    (read amplification) until the count fires, and it rewrites a
    large healthy base because N TINY deltas landed (write
    amplification — absorbing 1% of the bytes re-writes 100%). Rules,
    sizes permitting (``None`` sizes = stat unavailable → pure count
    behavior):

    * below the count threshold, compact early iff the accumulated
      delta bytes alone exceed ``target_bytes`` — they are already a
      full output file's worth of read amp;
    * at the count threshold, DEFER iff the base exceeds
      ``target_bytes`` and the deltas are under 2% of it — bounded by a
      hard cap of 4× the count threshold so deferral can't starve
      compaction (read amp stays O(threshold) files).
    """
    if n_files <= threshold:
        return delta_bytes is not None and delta_bytes > target_bytes
    if (
        base_bytes
        and delta_bytes is not None
        and n_files <= 4 * threshold
        and base_bytes > target_bytes
        and delta_bytes < 0.02 * base_bytes
    ):
        return False
    return True


def _bucket_file_bytes(
    table, rel_files: list[str], snap=None, stat_cache: dict | None = None
) -> int | None:
    """Total bytes of a file set: committed files from the manifest's
    ``file_sizes`` (metadata, no filesystem round trip); others (this
    batch's fresh deltas) by one data-plane stat each, memoized into
    ``stat_cache``, which ``commit()`` then reuses. None when a stat
    fails — the trigger then degrades to pure count."""
    known = snap.file_sizes if snap is not None else {}
    cache = stat_cache if stat_cache is not None else {}
    try:
        total = 0
        for f in rel_files:
            if f in known:
                total += known[f]
            elif f in cache:
                total += cache[f]
            else:
                s = int(table.fs.size(os.path.join(table.root, f)))
                cache[f] = s
                total += s
        return total
    except Exception:
        return None


def _compact_candidates(
    table,
    snap: Snapshot,
    files_by_bucket: dict[str, list[str]],
    threshold: int,
    target_bytes: int,
    limit: int | None = None,
    stat_cache: dict | None = None,
) -> list[str]:
    """The one candidate rule of every compaction: the buckets of
    ``files_by_bucket`` (bucket -> all its files, committed and just
    written) the count+bytes trigger selects, in bucket order, at most
    ``limit``. Metadata-only (see :func:`_bucket_file_bytes`). A
    one-file bucket is never a candidate, and one over 4x the
    threshold always is, without byte math."""
    cache = stat_cache if stat_cache is not None else {}
    out: list[str] = []
    for b in sorted(files_by_bucket, key=int):
        if limit is not None and len(out) >= limit:
            break
        files = files_by_bucket[b]
        n = len(files)
        if n <= 1:
            continue
        base = [f for f in files if "/delta/" not in f]
        delta = [f for f in files if "/delta/" in f]
        if n > 4 * threshold or _should_compact(
            n, threshold, _bucket_file_bytes(table, base, snap, cache),
            _bucket_file_bytes(table, delta, snap, cache), target_bytes,
        ):
            out.append(b)
    return out


def _live_schema(snap: Snapshot) -> T.StructType:
    """A resolved live row, the shape a compacted base holds: keys,
    payload (schema order), the winner's ``_op``, ``_lsn``."""
    return T.StructType(
        [snap.schema[c] for c in (*snap.key_cols, *_payload_cols(snap), OP_COL, LSN_COL)]
    )


def _bucket_resolver(snap: Snapshot):
    """``(cols, dtypes, resolve)``: the raw columns a bucket is read
    with, their Spark types, and ``resolve(frame) -> pyarrow.Table``,
    the change feed's LWW kernel over one bucket's raw rows (field-wise
    when the snapshot carries ``_pu``): its live rows, key-ordered, in
    the :func:`_live_schema` shape."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from picsure_dictionary_etl_spark.streaming.cdf_source import (
        _plan_cols,
        _resolve_frame,
        _to_arrow_batches,
    )

    keys, payload, dtypes, _ = _plan_cols(snap)
    extras, live = _system_extras(snap), _live_schema(snap)
    arrow = to_arrow_schema(live)

    def resolve(raw):
        rows = _resolve_frame(raw, keys, payload, dtypes, extras, keep_op=True)
        return pa.Table.from_batches(list(_to_arrow_batches(rows, live, dtypes)), arrow)

    return [*keys, *payload, OP_COL, LSN_COL, *extras], dtypes, resolve


def _live_rows(
    table, snap: Snapshot, rel_files: list[str], bucket_count: int | None = None
) -> DataFrame:
    """The live rows of ``rel_files`` with their ``_bucket`` under a
    layout of ``bucket_count`` buckets (default: the snapshot's). One
    Spark scan reads the files through the session's Hadoop FileSystem,
    so every root Spark writes works (``hdfs:``/``s3a:`` too); the raw
    rows group by bucket (a shuffle that spills) and each bucket
    resolves in one Python task (:func:`_bucket_resolver`). Types
    outside the kernel's surface fail typed before any job.

    Memory bound: one bucket is one pandas frame in one Python worker;
    :func:`rebucket`, which resolves under the NEW layout, is the
    remedy for a bucket beyond it."""
    import pyarrow as pa

    from picsure_dictionary_etl_spark.streaming.cdf_source import _arrow_frame, _check_types

    _check_types(table.root, snap)
    cols, dtypes, resolve = _bucket_resolver(snap)

    def run(key, tbl):
        out = resolve(_arrow_frame(tbl, cols, dtypes))
        return out.append_column(BUCKET_COL, pa.array([key[0].as_py()] * out.num_rows, pa.int32()))

    n = bucket_count or snap.bucket_count
    raw = table.read(snap, files=rel_files).select(
        *cols, bucket_expr(snap.bucket_by, n).alias(BUCKET_COL)
    )
    out = [*_live_schema(snap).fields, T.StructField(BUCKET_COL, T.IntegerType())]
    return raw.groupBy(BUCKET_COL).applyInArrow(run, T.StructType(out))


def _compact_buckets(
    table, snap: Snapshot, files_by_bucket: dict[str, list[str]], version: int,
    salt: list | None = None, bucket_count: int | None = None,
):
    """The one compaction kernel: ``(replaces, new file sizes)`` of
    commit ``version``, each bucket of ``files_by_bucket`` rewritten as
    a key-ordered base of its live rows (field-wise history collapsed
    into full rows) under an attempt-unique ``data/c<version>-<attempt>/base/``,
    and an explicit EMPTY list for a bucket with no live row left. With
    a Spark session: one job over :func:`_live_rows`, written through
    Spark (over ``salt`` tasks per bucket when given; ``bucket_count``
    re-hashes for :func:`rebucket`). Without one (the sink's commit
    worker): each bucket read with pyarrow, resolved and written as one
    zstd file in-process."""
    replaces: dict[str, list[str]] = {b: [] for b in files_by_bucket}
    if table.spark is not None:
        files = [f for fl in files_by_bucket.values() for f in fl]
        replaces.update(table.write_data_files(
            _live_rows(table, snap, files, bucket_count), version,
            write_partitions=salt, subdir="base", repartition=False,
            sort_cols=snap.key_cols,
        ))
        return replaces, {}
    from picsure_dictionary_etl_spark.lake.fs import write_parquet
    from picsure_dictionary_etl_spark.streaming.cdf_source import _read_bucket

    cols, dtypes, resolve = _bucket_resolver(snap)
    rel_dir, sizes = table._commit_dir(version, "base"), {}
    for b, files in sorted(files_by_bucket.items(), key=lambda kv: int(kv[0])):
        tbl = resolve(_read_bucket(table.root, files, cols, dtypes))
        if tbl.num_rows:
            rel = f"{rel_dir}/{BUCKET_COL}={b}/part-00000-{uuid.uuid4().hex}.zstd.parquet"
            sizes[rel] = write_parquet(table.root, rel, tbl)
            replaces[b] = [rel]
    return replaces, sizes


def _mor_write(
    table, snap, winners, salt, version, threshold,
    write_repartition=False,
    compact_target_bytes: int = 64 * 1024 * 1024,
    divert: dict[str, str] | None = None,
):
    """Merge-on-read: ONE pass over the batch — winner rows (including
    'D' tombstones, and ``_pu``-tagged field-wise partials) stream
    straight into per-bucket delta files via the dynamic-partition
    writer; the touched-bucket set falls out of the write result (no
    pruning pre-pass, no cache). Touched buckets the candidate rule
    selects are compacted (:func:`_compact_buckets`, its base writes
    spread over ``salt`` like the deltas') from their files plus the
    fresh deltas in a second, amortized-rare job; a batch that compacts
    nothing runs no second job and reads no manifest.

    Returns (appends, replaces, compacted_bucket_ids, new_file_sizes) —
    the last holds the trigger's memoized stats and the compacted
    bases' sizes, handed to ``commit()`` so no new file is ever
    statted twice. ``divert`` is handed to ``write_data_files`` (the
    dead letters' bucket)."""
    appends = table.write_data_files(
        winners, version, write_partitions=salt, subdir="delta",
        repartition=write_repartition, divert=divert,
    )
    files = {b: snap.files.get(b, []) + fl for b, fl in appends.items()}
    new_sizes: dict[str, int] = {}
    to_compact = _compact_candidates(
        table, snap, files, threshold, compact_target_bytes, stat_cache=new_sizes
    )
    replaces: dict[str, list[str]] = {}
    if to_compact:
        replaces, sizes = _compact_buckets(
            table, snap, {b: files[b] for b in to_compact}, version, salt=salt
        )
        new_sizes.update(sizes)
        for b in to_compact:
            # superseded deltas become unreferenced files (GC'able);
            # commit() prunes their entries from the sizes
            appends.pop(b)
    return appends, replaces, [int(b) for b in to_compact], new_sizes


def merge_into_concurrent(
    table: LakeTable,
    source: DataFrame,
    batch_id: str,
    retries: int = 5,
    **merge_kwargs: Any,
) -> MergeResult:
    """Optimistic multi-writer :func:`merge_into`: retry on commit
    conflicts — the Delta/Iceberg optimistic-concurrency loop over the
    engine's claim-then-swap commit point.

    Each attempt re-reads the CURRENT snapshot (``merge_into`` always
    does) and re-derives the whole merge against the winner's state, so
    a retried batch observes the competing commit's rows exactly as a
    later batch would; correctness needs no coordination beyond the
    atomic claim. Safe because:

    * data files are attempt-unique — a losing attempt's files are
      unreferenced orphans ``vacuum`` GCs, never clobbered state;
    * the batch-id dedup makes the call idempotent: if the "conflict"
      was actually THIS batch's own crashed claim, the takeover rule
      resumes it; if this batch already committed, the retry is a
      committed no-op.

    Exponential backoff between attempts (50 ms base) gives the
    competing writer time to SWAP its pointer; after ``retries``
    conflicts the last error re-raises. Inherent seam (documented on
    the claim protocol): a claim from a writer that died between claim
    and swap never expires on its own — distinguishing dead from slow
    needs a catalog/CAS commit point, so this loop re-raises rather
    than stealing foreign claims.
    """
    import time as _time

    last: ConcurrentCommitError | None = None
    for attempt in range(retries + 1):
        if attempt:
            _time.sleep(0.05 * (2 ** (attempt - 1)))
        try:
            return merge_into(table, source, batch_id, **merge_kwargs)
        except ConcurrentCommitError as e:
            last = e
    assert last is not None
    raise last


def optimize(
    table: LakeTable,
    compact_threshold: int = 8,
    compact_target_bytes: int = 64 * 1024 * 1024,
    buckets: list[int] | None = None,
) -> "Snapshot | None":
    """Standalone bucket compaction — the Delta ``OPTIMIZE`` analog.

    ``merge_into`` compacts inline, but only buckets IT touches; a
    table fed by the streaming sink (append-only deltas) or one that
    stopped ingesting accumulates per-bucket delta files forever.
    ``optimize`` selects buckets by the one count+bytes candidate rule
    (:func:`_compact_candidates`, metadata-only) and runs the
    compaction kernel (:func:`_compact_buckets`) over them in ONE Spark
    job: a scan of only those buckets' files, grouped by bucket, each
    bucket's live state resolved (policy-aware, tombstones collapse) in
    one Python task and written back as a key-sorted base. Returns the
    new snapshot, or None when no bucket qualifies — a no-op decision
    that costs zero data IO.

    Memory bound: one bucket is one pandas frame in one Python worker.
    A bucket beyond a worker's memory fails its task, so the job fails
    and nothing commits (finished tasks' files are orphans ``vacuum``
    collects); :func:`rebucket` to more buckets is the remedy.

    Compaction changes no live row: ``table_changes`` across the
    boundary is empty (the CDF planner sees changed file LISTS, the
    value diff is empty — tested). ``buckets`` restricts the candidate
    set (operational partial runs on huge tables)."""
    snap = table.current()
    files = (
        {str(b): snap.files[str(b)] for b in buckets if str(b) in snap.files}
        if buckets is not None
        else snap.files
    )
    to_compact = _compact_candidates(
        table, snap, files, compact_threshold, compact_target_bytes
    )
    if not to_compact:
        return None
    version = snap.version + 1
    replaces, sizes = _compact_buckets(
        table, snap, {b: files[b] for b in to_compact}, version
    )
    return table.commit(
        {}, replaces, None,
        {
            # retry-stable id (same rule as rebucket): a crashed claim's
            # data dirs are attempt-unique, so only the id lets the
            # retry take the claim over instead of dying forever
            "batch_id": f"optimize-v{version}",
            "optimize": {"buckets": [int(b) for b in to_compact]},
        },
        prev=snap, file_sizes_hint=sizes,
    )


def rebucket(table: LakeTable, new_bucket_count: int) -> "Snapshot":
    """Change the table's bucket layout — the operational escape hatch
    for a bucket_count chosen at create time that the data outgrew
    (32 buckets at 10^8 rows is right; at 10^10 each bucket is 300x too
    fat for a single compaction task).

    One-time O(table) rewrite, exactly like Iceberg's
    ``rewrite_data_files`` after a partition-spec change: scan every
    raw row, re-hash it under the new count, resolve each NEW bucket
    (:func:`_compact_buckets` with ``bucket_count``, policy-aware),
    write key-sorted bases, and commit a snapshot that REPLACES every
    old bucket (explicit ``[]`` entries — the empty-bucket guard — so
    no stale file list survives) with the new layout. The re-hash is a
    Spark shuffle that spills, and the resolve holds one bucket of the
    NEW layout per Python worker, so a table whose buckets outgrew
    worker memory rebuckets to a count whose buckets fit. Exactly-once
    bookkeeping (watermark, applied batches) carries through untouched;
    merges after the commit read the new ``bucket_count`` from the
    snapshot, so nothing else changes. Rebucketing changes no live row:
    ``table_changes`` across the boundary is empty (tested)."""
    snap = table.current()
    if new_bucket_count == snap.bucket_count:
        return snap
    if new_bucket_count < 1:
        raise ValueError(f"bucket_count must be >= 1, got {new_bucket_count}")
    version = snap.version + 1
    replaces, _ = _compact_buckets(
        table, snap, snap.files, version, bucket_count=new_bucket_count
    )
    return table.commit(
        {}, replaces, None,
        {
            # retry-stable batch id: a rebucket killed between claim and
            # pointer swap leaves a claim whose data dirs are
            # attempt-unique, so full-JSON intent equality can never
            # match — without this id the retry (and every later
            # commit) would die on ConcurrentCommitError forever
            "batch_id": f"rebucket-{snap.bucket_count}-{new_bucket_count}-v{version}",
            "rebucket": {"from": snap.bucket_count, "to": new_bucket_count},
        },
        prev=snap, bucket_count=new_bucket_count,
    )


def table_changes(
    table: LakeTable, from_version: int, to_version: int
) -> DataFrame:
    """Change data feed between two snapshots (the Iceberg/Delta CDF
    analog): one row per key whose live state differs, classified
    ``_change ∈ I/U/D``, carrying the new row for I/U and the old key
    for D. Downstream consumers chain incremental pipelines off this
    instead of re-reading the table. ``from_version=-1`` is the empty
    table: the feed is then the full live state at ``to_version`` as
    ``I`` rows (a consumer's bootstrap).

    D rows carry the DELETED row's last live ``_lsn`` (the preimage,
    Delta-style) — the tombstone's own LSN is not in the live state.
    Consequence for consumers folding the feed into a materialized
    state by max-LSN per key: "update at LSN L, then delete" across
    two spans emits a U and a D both stamped L, so equal-``_lsn`` ties
    must resolve in favor of D. That rule is always correct here: the
    watermark guard means no later event can carry an LSN ≤ a row it
    follows, so an equal-LSN D is necessarily the logically-later
    change. (Exercised end to end by BENCH/stream_soak.py.)

    Runs on the ``lake_cdf`` executor kernel (``streaming/cdf_source``),
    the one change-feed implementation, through ``mapInArrow``. Both
    manifests load through the table's own MetadataIO. Planning is
    metadata-only: data files are immutable and keys never move buckets
    within a layout, so only buckets whose manifest FILE LIST differs
    become tasks; a span across a rebucket collapses to ONE global task.
    Columns added by schema evolution read null on the older side.
    Unsupported column types and map-typed keys fail typed here, and so
    does a root pyarrow cannot open (``viewfs:``, ``s3a:``, ``hdfs:``
    without libhdfs): the tasks read with pyarrow, and the feed has no
    Spark-plane fallback."""
    from picsure_dictionary_etl_spark.streaming.cdf_source import (
        _plan_cols,
        _read_span_partition,
        _span_tasks,
    )

    snap_to = table.snapshot(to_version)
    snap_from = None if from_version < 0 else table.snapshot(from_version)
    keys, payload, dtypes, out_schema = _plan_cols(snap_to)
    tasks = _span_tasks(table.root, keys, payload, dtypes, snap_from, snap_to)

    def run(batches):
        for b in batches:
            for i in b.column(0).to_pylist():
                yield from _read_span_partition(tasks[i], out_schema)

    n = len(tasks)
    return table.spark.range(n, numPartitions=max(n, 1)).mapInArrow(run, out_schema)


def state_diff(
    old: DataFrame, new: DataFrame, keys: list[str], payload: list[str]
) -> DataFrame:
    """Classify the difference between two resolved live states (one
    row per key, ``_lsn`` carried): one full outer join on the keys,
    ``_change ∈ I/U/D`` from null-sides and a per-row payload-hash
    comparison — no window, no collect. Diffs plain DataFrames (the
    ``cdc_change_feed`` driver query uses it); table feeds run on
    :func:`table_changes`' executor kernel."""

    def digest(col, dt) -> "F.Column":
        # one 32-char md5 per value, '-' for null (md5 hex never
        # contains '-', so the concatenation parses unambiguously).
        # BINARY hashes its bytes directly: cast("string") decodes as
        # UTF-8 with replacement chars, so two different non-UTF-8
        # payloads could collapse to one string and a real update
        # would classify as unchanged. ARRAYS digest element-wise via
        # one HOF fold: cast("string") renders array('a, b') and
        # array('a','b') both as '[a, b]' — a REAL update between them
        # would classify as unchanged (same ambiguity class as the
        # separator scheme below). Element digests are fixed-width, so
        # the join can't shift content across element boundaries;
        # empty array (md5 of '') stays distinct from null array
        # ('-'). STRUCTS digest field-wise, null struct distinct from
        # struct-of-nulls.
        if isinstance(dt, T.BinaryType):
            return F.coalesce(F.md5(col), F.lit("-"))
        if isinstance(dt, T.MapType):
            # MAPS digest as their canonical key-sorted entry array
            # (:func:`_canon_col`) — entry STORAGE order is not part of
            # map equality, so {a:1,b:2} == {b:2,a:1} must classify as
            # unchanged; the sorted array<struct<key,value>> shape then
            # reuses the array/struct digest rules below.
            return digest(_canon_col(col, dt), _canon_type(dt))
        if isinstance(dt, T.ArrayType):
            folded = F.array_join(
                F.transform(col, lambda x: digest(x, dt.elementType)), ""
            )
            return F.coalesce(F.md5(folded), F.lit("-"))
        if isinstance(dt, T.StructType):
            parts = [digest(col.getField(f.name), f.dataType) for f in dt.fields]
            return F.when(col.isNull(), F.lit("-")).otherwise(
                F.md5(F.concat(*parts))
            )
        return F.coalesce(F.md5(col.cast("string")), F.lit("-"))

    def hashed(df: DataFrame, side: str) -> DataFrame:
        # per-column md5s concatenated (fixed width): unambiguous — a
        # separator/sentinel scheme over raw values lets adjacent
        # columns shift content across the boundary ('a\x01b','c' vs
        # 'a','b\x01c') and classify a real update as unchanged.
        types = {f.name: f.dataType for f in df.schema.fields}
        h = F.md5(F.concat(*[digest(F.col(c), types[c]) for c in payload]))
        return df.select(
            *[F.col(k).alias(f"{side}_{k}") for k in keys],
            *[F.col(c).alias(f"{side}_{c}") for c in payload],
            F.col(LSN_COL).alias(f"{side}_lsn"),
            h.alias(f"{side}_hash"),
        )

    old, new = hashed(old, "o"), hashed(new, "n")
    cond = [old[f"o_{k}"] == new[f"n_{k}"] for k in keys]
    joined = old.join(new, cond, "full_outer")
    change = (
        F.when(F.col(f"o_{keys[0]}").isNull(), F.lit("I"))
        .when(F.col(f"n_{keys[0]}").isNull(), F.lit("D"))
        .when(F.col("o_hash") != F.col("n_hash"), F.lit("U"))
    )
    return (
        joined.withColumn("_change", change)
        .filter(F.col("_change").isNotNull())
        .select(
            "_change",
            *[F.coalesce(F.col(f"n_{k}"), F.col(f"o_{k}")).alias(k) for k in keys],
            *[F.col(f"n_{c}").alias(c) for c in payload],
            F.coalesce(F.col("n_lsn"), F.col("o_lsn")).alias(LSN_COL),
        )
    )


def materialize_feed(
    feed: DataFrame, keys: list[str], payload: list[str]
) -> DataFrame:
    """Fold a (possibly multi-span) change feed back into live state —
    the consumer-side inverse of :func:`table_changes`: per key the
    highest-``_lsn`` change wins, with equal-``_lsn`` ties broken in
    favor of D (the preimage rule documented on ``table_changes`` —
    update-then-delete across spans emits U and D at the SAME LSN);
    D winners drop the key.

    Library form of the fold so downstream consumers don't hand-roll
    the tie-break (BENCH/stream_soak.py re-derives it independently in
    DuckDB as the soak's oracle). One hash-shaped aggregate keyed on
    the table keys — no window, no collect; at cluster scale this is a
    single shuffle on the same keys the table is bucketed by."""
    is_d = (F.col("_change") == F.lit("D")).cast("int")
    order = F.struct(F.col(LSN_COL), is_d.alias("_is_d"))
    win = feed.groupBy(*keys).agg(
        F.max_by(
            F.struct(F.col("_change"), *[F.col(c) for c in payload], F.col(LSN_COL)),
            order,
        ).alias("_w")
    )
    return (
        win.filter(F.col("_w._change") != F.lit("D"))
        .select(
            *keys,
            *[F.col(f"_w.{c}").alias(c) for c in payload],
            F.col(f"_w.{LSN_COL}").alias(LSN_COL),
        )
    )


def iceberg_merge_sql(
    target: str,
    source: str,
    key_cols: list[str],
    payload_cols: list[str],
    update_policy: str = "row",
    matched_only: bool = False,
    string_cols: set[str] | None = None,
) -> str:
    """The exact Iceberg ``MERGE INTO`` statement this module's merge
    implements — the drop-in equivalent on a cluster with Iceberg
    extensions (the integration seam documented in the module
    docstring). ``source`` must be the LWW-reduced winners view (one row
    per key, ``lww_winners`` / ``lww_winners_fieldwise`` output).

    Policies render as per-column UPDATE SET lists: ``coalesce`` (D7)
    -> ``coalesce(s.c, t.c)``; ``blank_preserve`` (D6) ->
    ``coalesce(nullif(trim(s.c), ''), t.c)`` for ``string_cols``.
    ``matched_only`` (D11) drops the NOT MATCHED clause."""
    on = " AND ".join(f"t.{k} = s.{k}" for k in key_cols)
    if update_policy == "row":
        set_clause = "UPDATE SET *"
    else:
        strings = string_cols or set()
        parts = []
        for c in payload_cols:
            if update_policy == "blank_preserve" and c in strings:
                # blank = ALL-whitespace; the kept source value stays
                # verbatim (no trim), matching the engine's semantics
                parts.append(
                    f"t.{c} = CASE WHEN s.{c} IS NULL "
                    f"OR regexp_replace(s.{c}, '\\\\s', '', 'g') = '' "
                    f"THEN t.{c} ELSE s.{c} END"
                )
            else:
                parts.append(f"t.{c} = coalesce(s.{c}, t.{c})")
        parts += [f"t.{LSN_COL} = s.{LSN_COL}", f"t.{OP_COL} = s.{OP_COL}"]
        set_clause = "UPDATE SET " + ", ".join(parts)
    lines = [
        f"MERGE INTO {target} t",
        f"USING {source} s",
        f"ON {on}",
        f"WHEN MATCHED AND s.{OP_COL} = 'D' AND s.{LSN_COL} > t.{LSN_COL} THEN DELETE",
        f"WHEN MATCHED AND s.{LSN_COL} > t.{LSN_COL} THEN {set_clause}",
    ]
    if not matched_only:
        lines.append(f"WHEN NOT MATCHED AND s.{OP_COL} <> 'D' THEN INSERT *")
    return "\n".join(lines)


def _bucket_row_counts(table: LakeTable, bucket_files: dict[str, list[str]]) -> dict[str, int]:
    """Per-partition rows-applied lineage, read from Parquet footers —
    metadata-only, no extra Spark job. URI roots (Hadoop data plane)
    skip the footer reads and return {} — lineage then falls back to
    the in-plan winner count and auto-salt's per-bucket signal is
    unavailable (documented in RunnerConfig)."""
    from picsure_dictionary_etl_spark.lake.fs import is_uri

    if is_uri(table.root):
        return {}
    import pyarrow.parquet as pq

    counts: dict[str, int] = {}
    for b, files in bucket_files.items():
        counts[b] = sum(
            pq.ParquetFile(os.path.join(table.root, f)).metadata.num_rows for f in files
        )
    return counts
