"""Driver-side point lookups (``LakeTable.read_keys``,
``CdcRunner.conversation``) against an independent oracle: the
Spark-plane ``resolve_live`` over a full ``read()``, filtered to the
looked-up keys."""

import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from picsure_dictionary_etl_spark.cdc.envelope import (
    TRANSCRIPT_KEY,
    change_event_schema,
    transcript_table_schema,
)
from picsure_dictionary_etl_spark.cdc.runner import CdcRunner, RunnerConfig
from picsure_dictionary_etl_spark.lake.merge import (
    _payload_cols,
    merge_into,
    optimize,
    resolve_live,
)
from picsure_dictionary_etl_spark.lake.metadata_io import InMemoryMetadataIO
from picsure_dictionary_etl_spark.lake.table import LakeTable
from picsure_dictionary_etl_spark.streaming.xxhash_vec import UnsupportedVectorType

TS1 = datetime.datetime(2025, 1, 1, 12, 0, 0)
TS2 = datetime.datetime(2025, 2, 2, 8, 30, 0, 123456)


def _ev(spark, rows, lang=None):
    # rows: (lsn, op, conv_id, turn_idx, role, text, tool, ts)
    df = spark.createDataFrame(rows, change_event_schema())
    return df if lang is None else df.withColumn("lang", F.lit(lang))


def _oracle(t, values):
    """Live rows of ``values``' keys, key-ordered: ``resolve_live`` over
    the full table read, filtered on the driver."""
    snap = t.current()
    keys, payload = snap.key_cols, _payload_cols(snap)
    live = resolve_live(t.read(snap), keys, payload, schema=snap.schema)
    cols = snap.bucket_by
    want = {tuple(v) if len(cols) > 1 else (v,) for v in values}
    return [
        tuple(r)
        for r in live.select(*keys, *payload).orderBy(*keys).collect()
        if tuple(r[c] for c in cols) in want
    ]


def _assert_lookup(t, values):
    snap = t.current()
    got = t.read_keys(values)
    cols = snap.key_cols + _payload_cols(snap)
    assert got.schema == T.StructType([snap.schema[c] for c in cols])
    rows = [tuple(r) for r in got.collect()]
    assert rows == _oracle(t, values)
    return rows


@pytest.mark.parametrize("policy", ["row", "coalesce"])
def test_lookup_matches_spark_plane_resolve(spark, tmp_path, policy):
    """Row-policy and field-wise (``_pu``) tables: deletes, null-outs,
    delete-then-reinsert, an equal-LSN tie across two files, a compacted
    base under later deltas, a timestamp payload and a column added by
    schema evolution that older files lack."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"), schema=transcript_table_schema(),
        key_cols=TRANSCRIPT_KEY, bucket_by=["conv_id"], bucket_count=4,
    )

    def merge(rows, bid, **kw):
        merge_into(t, _ev(spark, rows, kw.pop("lang", None)), bid,
                   update_policy=policy, **kw)

    merge([(1 + 3 * c + i, "I", f"c{c}", i, "user", f"t{c}{i}", "tool", TS1)
           for c in range(8) for i in range(3)], "b1")
    merge([
        (30, "U", "c0", 0, "assistant", None, None, TS2),  # null-out (row)
        (31, "D", "c1", 1, None, None, None, None),
        (32, "D", "c2", 0, None, None, None, None),
        (33, "I", "c2", 0, None, "back", None, None),  # reinsert after delete
        (34, "U", "c3", 2, None, "edited", None, None),
    ], "b2")
    optimize(t, compact_threshold=1, buckets=[0, 1])
    # equal-LSN tie across two files: the first batch leaves the
    # watermark below its own LSN so the second one's event survives
    merge([(40, "U", "c4", 0, "tie-A", "a", None, TS2)], "b3", watermark_lsn=39)
    merge([(40, "U", "c4", 0, "tie-B", "b", None, TS1)], "b4")
    t.evolve_schema([T.StructField("lang", T.StringType())])
    merge([(50, "U", "c5", 1, "user", "hola", None, TS2),
           (51, "I", "c5", 3, "user", "nuevo", None, None)], "b5", lang="es")

    for c in range(8):
        assert _assert_lookup(t, [f"c{c}"])
    assert len(_assert_lookup(t, ["c5", "c0", "nope", "c5"])) == 7
    assert _assert_lookup(t, ["nope"]) == []
    assert _assert_lookup(t, []) == []
    # the runner's lookup is the same read, in turn order
    r = CdcRunner(spark, RunnerConfig(table_root=t.root))
    got = [tuple(x) for x in r.conversation("c5").collect()]
    assert got == _oracle(t, ["c5"])
    assert [x[1] for x in got] == [0, 1, 2, 3]
    assert {x[-1] for x in got} == {None, "es"}


def test_composite_bucket_key_matches_exact_tuples(spark, tmp_path, bucket_reads):
    """Per-column `in` filters admit cross pairs; the lookup keeps only
    the exact requested tuples."""
    schema = T.StructType([
        T.StructField("a", T.StringType()), T.StructField("b", T.IntegerType()),
        T.StructField("c", T.IntegerType()), T.StructField("v", T.StringType()),
        T.StructField("_op", T.StringType()), T.StructField("_lsn", T.LongType()),
    ])
    t = LakeTable.create(spark, str(tmp_path / "t"), schema=schema,
                         key_cols=["a", "b", "c"], bucket_by=["a", "b"],
                         bucket_count=4)
    rows = [(a, b, c, f"{a}{b}{c}", "I", 1 + i)
            for i, (a, b, c) in enumerate(
                (a, b, c) for a in "xyz" for b in (1, 2) for c in (0, 1))]
    merge_into(t, spark.createDataFrame(rows, schema), "b1")
    merge_into(t, spark.createDataFrame(
        [("x", 1, 0, None, "D", 20), ("y", 2, 1, "new", "U", 21)], schema), "b2")
    got = _assert_lookup(t, [("x", 1), ("y", 2)])
    assert [r[:3] for r in got] == [("x", 1, 1), ("y", 2, 0), ("y", 2, 1)]
    assert all(f == [("a", "in", ["x", "y"]), ("b", "in", [1, 2])]
               for _files, f in bucket_reads)


def test_nested_bucket_key_matches_after_the_read(spark, tmp_path, bucket_reads):
    """A struct bucket key pushes no filter; rows match the requested
    values by their order-rank code after the read."""
    kt = T.StructType([T.StructField("s", T.StringType()),
                       T.StructField("n", T.IntegerType())])
    schema = T.StructType([
        T.StructField("k", kt), T.StructField("i", T.IntegerType()),
        T.StructField("v", T.StringType()),
        T.StructField("_op", T.StringType()), T.StructField("_lsn", T.LongType()),
    ])
    t = LakeTable.create(spark, str(tmp_path / "t"), schema=schema,
                         key_cols=["k", "i"], bucket_by=["k"], bucket_count=2)
    rows = [((s, n), i, f"{s}{n}{i}", "I", 1 + 10 * n + i)
            for s in ("p", "q") for n in (1, 2, 3) for i in (0, 1)]
    rows.append((None, 0, "null key", "I", 99))
    merge_into(t, spark.createDataFrame(rows, schema), "b1")
    got = _assert_lookup(t, [("p", 2), ("q", 3), ("r", 1)])
    assert [(r[0]["s"], r[0]["n"], r[1]) for r in got] == [
        ("p", 2, 0), ("p", 2, 1), ("q", 3, 0), ("q", 3, 1)]
    assert bucket_reads and all(f is None for _files, f in bucket_reads)


def test_uri_root_and_in_memory_commit_point(spark, tmp_path):
    """A ``file:`` URI root reads through pyarrow.fs; a non-POSIX
    commit point reaches the manifest through ``t.snapshot()``."""
    rows = [(1, "I", "c1", 0, "user", "a", None, TS1),
            (2, "I", "c1", 1, "user", "b", None, TS2),
            (3, "I", "c2", 0, "user", "c", None, None),
            (4, "D", "c1", 0, None, None, None, None)]
    r = CdcRunner(spark, RunnerConfig(table_root=f"file:{tmp_path}/u",
                                      bucket_count=2, normalize=False))
    r.apply_batch(_ev(spark, rows), "b1")
    assert [tuple(x) for x in r.conversation("c1").collect()] == _oracle(r.table, ["c1"])
    assert len(_assert_lookup(r.table, ["c1", "c2"])) == 2

    t = LakeTable.create(
        spark, str(tmp_path / "m"), schema=transcript_table_schema(),
        key_cols=TRANSCRIPT_KEY, bucket_count=2, io=InMemoryMetadataIO(),
    )
    merge_into(t, _ev(spark, rows), "b1")
    assert not (tmp_path / "m" / "_meta").exists()
    assert len(_assert_lookup(t, ["c1", "c2"])) == 2


def test_lookup_starts_no_job_before_an_action(spark, tmp_path):
    r = CdcRunner(spark, RunnerConfig(table_root=str(tmp_path / "t"),
                                      bucket_count=2, normalize=False))
    r.apply_batch(_ev(spark, [(1, "I", "c1", 0, "user", "a", None, TS1)]), "b1")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("point-lookup", "no job before an action")
    try:
        dfs = [r.conversation("c1"), r.table.read_keys(["c1", "c9"])]
        assert tracker.getJobIdsForGroup("point-lookup") == []
        assert [d.count() for d in dfs] == [1, 1]
        assert tracker.getJobIdsForGroup("point-lookup")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_unhashable_bucket_type_fails_before_any_read(spark, tmp_path, bucket_reads):
    schema = T.StructType([
        T.StructField("k", T.VariantType()), T.StructField("v", T.StringType()),
        T.StructField("_op", T.StringType()), T.StructField("_lsn", T.LongType()),
    ])
    t = LakeTable.create(spark, str(tmp_path / "t"), schema=schema, key_cols=["k"])
    with pytest.raises(UnsupportedVectorType, match="k:variant"):
        t.read_keys(["x"])
    assert bucket_reads == []
