"""Compaction and the bucket-local live resolve, checked against the
Spark-plane reference resolve (``resolve_live`` over a full read), never
against the kernel itself.

Every entry point that compacts runs the one per-bucket kernel:
``optimize()``, ``merge_into``'s inline compaction and the sink's
``optimizeevery``. Each is covered on flat, ``struct<...>`` and
``array<...>`` keys, with a map and a timestamp in the payload, for
row-policy and field-wise (``_pu``) tables. Compaction commits must
leave the live state as it was: the reference resolve over the
pre-compaction snapshot equals both the reference and ``LakeTable.live``
over the compacted one, and ``table_changes`` across the commit is
empty."""

import datetime

import pytest
from pyspark.sql import types as T

from picsure_dictionary_etl_spark.lake.merge import (
    _payload_cols,
    merge_into,
    optimize,
    resolve_live,
    table_changes,
)
from picsure_dictionary_etl_spark.lake.table import LakeTable
from picsure_dictionary_etl_spark.streaming.lake_sink import LakeTableSinkDataSource

TS = datetime.datetime(2024, 1, 1, 12, 0, 0)

# key shape -> (key fields, key values of the six test keys)
KEY_SHAPES = {
    "flat": (
        [T.StructField("k", T.StringType(), False),
         T.StructField("n", T.IntegerType(), False)],
        [(f"k{i % 3}", i % 2) for i in range(6)],
    ),
    "struct": (
        [T.StructField("k", T.StructType([
            T.StructField("a", T.StringType()),
            T.StructField("b", T.IntegerType())]), False)],
        [((f"a{i % 3}", i % 2),) for i in range(6)],
    ),
    "array": (
        [T.StructField("k", T.ArrayType(T.IntegerType()), False)],
        [([i % 3, i % 2],) for i in range(6)],
    ),
}
PAYLOAD = [
    T.StructField("v", T.StringType()),
    T.StructField("m", T.MapType(T.StringType(), T.LongType())),
    T.StructField("ts", T.TimestampType()),
]
SYSTEM = [T.StructField("_op", T.StringType(), False),
          T.StructField("_lsn", T.LongType(), False)]


def _batches():
    """Four LSN-ordered batches of (key index, op, v, m, ts, lsn):
    inserts, partial updates (nulls) and a delete, an equal-LSN tie and
    a re-insert after the delete, then a delete and an update."""
    return [
        [(i, "I", f"v{i}", {"x": i}, TS, i + 1) for i in range(6)],
        [(0, "U", "v0b", None, None, 7), (1, "U", None, {"y": 2}, None, 8),
         (3, "U", "v3b", {"x": 30, "y": 31}, TS, 9), (5, "D", None, None, None, 10)],
        [(0, "U", "tie-a", None, None, 11), (0, "U", "tie-b", None, None, 11),
         (5, "I", None, {"z": 5}, None, 12), (1, "U", "v1c", {"z": 3}, None, 13)],
        [(2, "D", None, None, None, 14), (3, "U", None, None, TS, 15)],
    ]


def _schemas(shape):
    key_fields, key_vals = KEY_SHAPES[shape]
    table = T.StructType(key_fields + PAYLOAD + SYSTEM)
    return table, [f.name for f in key_fields], key_vals


def _events(spark, shape, rows):
    table, _, key_vals = _schemas(shape)
    data = [(*key_vals[i], v, m, ts, op, lsn) for i, op, v, m, ts, lsn in rows]
    return spark.createDataFrame(data, table)


def _canon(x):
    if isinstance(x, dict):
        return tuple(sorted((k, _canon(v)) for k, v in x.items()))
    if isinstance(x, (list, tuple)):
        return tuple(_canon(v) for v in x)
    return x


def _rows(df, keys):
    cols = keys + ["v", "m", "ts", "_lsn"]
    return {_canon(tuple(r)) for r in df.select(*cols).collect()}


def _reference(t, snap):
    """The reference live state of ``snap``: resolve_live over all of
    its raw rows."""
    return _rows(
        resolve_live(t.read(snap), snap.key_cols, _payload_cols(snap), schema=snap.schema),
        snap.key_cols,
    )


def _create(spark, tmp_path, name, shape):
    table, keys, _ = _schemas(shape)
    return LakeTable.create(spark, str(tmp_path / name), schema=table,
                            key_cols=keys, bucket_count=2)


def _assert_compaction_commit(t, v):
    """Commit ``v`` compacted: it changed no live row."""
    pre, post = t.snapshot(v - 1), t.snapshot(v)
    want = _reference(t, pre)
    assert want, "the test state must not be empty"
    assert _reference(t, post) == want
    assert _rows(t.live(post), post.key_cols) == want
    assert table_changes(t, v - 1, v).count() == 0


@pytest.mark.parametrize("policy", ["row", "coalesce"])
@pytest.mark.parametrize("shape", sorted(KEY_SHAPES))
def test_optimize_and_inline_compaction_match_reference(spark, tmp_path, shape, policy):
    """Twin tables take the same batches, one compacting inline on
    every write (``compact_threshold=1``), one never. The compacted
    twin's state equals the reference over the uncompacted one; then
    ``optimize()`` compacts the uncompacted twin without changing a
    live row."""
    inline = _create(spark, tmp_path, "inline", shape)
    plain = _create(spark, tmp_path, "plain", shape)
    compacted = []
    for i, rows in enumerate(_batches()):
        ev = _events(spark, shape, rows)
        r = merge_into(inline, ev, f"b{i}", update_policy=policy, compact_threshold=1)
        compacted += r.metrics.get("buckets_compacted") or []
        merge_into(plain, ev, f"b{i}", update_policy=policy, compact_threshold=100)
    assert compacted, "inline compaction never ran"
    want = _reference(plain, plain.current())
    snap = inline.current()
    assert _reference(inline, snap) == want
    assert _rows(inline.live(snap), snap.key_cols) == want

    before = plain.current()
    assert all(len(fl) > 1 for fl in before.files.values())
    after = optimize(plain, compact_threshold=1)
    assert after is not None and after.version == before.version + 1
    assert all(len(fl) <= 1 and all("/base/" in f for f in fl)
               for fl in after.files.values()), after.files
    _assert_compaction_commit(plain, after.version)


@pytest.mark.parametrize("policy", ["row", "coalesce"])
@pytest.mark.parametrize("shape", sorted(KEY_SHAPES))
def test_sink_optimizeevery_matches_reference(spark, tmp_path, shape, policy):
    """The sink's inline compaction (``optimizeevery``) runs the same
    kernel in its commit worker. The first batch lands through
    ``merge_into`` (Spark-written files, and the field-wise schema for
    ``coalesce``), the rest through the sink, so compaction reads
    buckets that mix both writers' files."""
    spark.dataSource.register(LakeTableSinkDataSource)
    t = _create(spark, tmp_path, "sink", shape)
    first, *rest = _batches()
    merge_into(t, _events(spark, shape, first), "seed", update_policy=policy)
    for rows in rest:
        (_events(spark, shape, rows).write.format("lake").mode("append")
         .option("path", t.root).option("optimizeevery", 1)
         .option("optimizethreshold", 1).save())
    auto = [h["version"] for h in t.history()
            if h.get("lineage", {}).get("sink_auto")]
    assert len(auto) == len(rest), t.history()
    for v in auto:
        _assert_compaction_commit(t, v)
