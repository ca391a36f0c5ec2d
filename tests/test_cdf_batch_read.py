"""Batch change-feed reads through the lake_cdf DataSource:
``spark.read.format("lake_cdf")`` == ``spark_plane_changes`` over the same
span, with version/timestamp bounds, the initial-snapshot full-state
read, and typed plan-time errors for bad bounds — the Delta batch
``readChangeFeed`` analog over the SAME vectorized executor path the
stream uses."""

import datetime

import pytest

from picsure_dictionary_etl_spark.cdc.envelope import change_event_schema
from picsure_dictionary_etl_spark.cdc.runner import CdcRunner, RunnerConfig
from picsure_dictionary_etl_spark.lake.consume import ChangeFeedRetentionError
from picsure_dictionary_etl_spark.lake.table import LakeTable
from picsure_dictionary_etl_spark.streaming.cdf_source import (
    LakeChangeFeedDataSource,
)
from tests.cdf_oracle import spark_plane_changes

TS = datetime.datetime(2024, 1, 1, 12, 0, 0)
COLS = ["_change", "conv_id", "turn_idx", "role", "text", "tool", "ts", "_lsn"]


def _ev(spark, rows):
    return spark.createDataFrame(rows, change_event_schema())


def _table(spark, tmp_path):
    """3 data commits: v1 inserts c1/c2, v2 edits c1 + deletes c2 +
    inserts c3, v3 edits c3."""
    root = str(tmp_path / "t")
    r = CdcRunner(spark, RunnerConfig(table_root=root, bucket_count=4,
                                      normalize=False))
    r.apply_batch(_ev(spark, [
        (1, "I", "c1", 0, "user", "hello", None, TS),
        (2, "I", "c2", 0, "user", "hi", None, TS)]), "b1")
    r.apply_batch(_ev(spark, [
        (3, "U", "c1", 0, "user", "hello EDITED", None, TS),
        (4, "D", "c2", 0, None, None, None, None),
        (5, "I", "c3", 0, "user", "new conv", None, TS)]), "b2")
    r.apply_batch(_ev(spark, [
        (6, "U", "c3", 0, "user", "new conv EDITED", None, TS)]), "b3")
    return root, LakeTable.load(spark, root)


def _rows(df):
    return {tuple(r) for r in df.select(*COLS).collect()}


def _read(spark, root, **opts):
    rd = spark.read.format("lake_cdf").option("path", root)
    for k, v in opts.items():
        rd = rd.option(k, str(v))
    return rd.load()


def test_batch_read_matches_table_changes(spark, tmp_path):
    """Version bounds: startversion is the EXCLUSIVE base and endversion
    the inclusive end — exactly spark_plane_changes(t, start, end); the
    default span is (0, current]."""
    spark.dataSource.register(LakeChangeFeedDataSource)
    root, t = _table(spark, tmp_path)
    cur = t.current_version()
    assert cur >= 3

    assert _rows(_read(spark, root)) == _rows(spark_plane_changes(t, 0, cur))
    for sv in range(cur):
        got = _rows(_read(spark, root, startversion=sv))
        assert got == _rows(spark_plane_changes(t, sv, cur)), f"sv={sv}"
    got = _rows(_read(spark, root, startversion=1, endversion=2))
    assert got == _rows(spark_plane_changes(t, 1, 2))
    # the planner fans out per changed bucket, not per table
    assert _read(spark, root, startversion=cur - 1).rdd.getNumPartitions() \
        <= 4


def test_batch_read_timestamp_bounds(spark, tmp_path):
    """startingtimestamp (at-or-after) / endingtimestamp (at-or-before)
    resolve against the manifests' monotone committed_at stamps; int
    micros and ISO-8601 forms both parse."""
    spark.dataSource.register(LakeChangeFeedDataSource)
    root, t = _table(spark, tmp_path)
    cur = t.current_version()
    ts = [t.snapshot(v).committed_at for v in range(cur + 1)]

    got = _rows(_read(spark, root, startingtimestamp=ts[2]))
    assert got == _rows(spark_plane_changes(t, 1, cur))
    got = _rows(_read(spark, root, endingtimestamp=ts[2]))
    assert got == _rows(spark_plane_changes(t, 0, 2))
    got = _rows(_read(spark, root,
                      startingtimestamp=ts[2], endingtimestamp=ts[2]))
    assert got == _rows(spark_plane_changes(t, 1, 2))
    iso = datetime.datetime.fromtimestamp(
        ts[2] / 1e6, datetime.timezone.utc).isoformat()
    assert _rows(_read(spark, root, startingtimestamp=iso)) == \
        _rows(spark_plane_changes(t, 1, cur))
    # an ending cut before all history is a typed empty-feed error
    with pytest.raises(Exception, match="predates every commit"):
        _read(spark, root, endingtimestamp=ts[0] - 1).collect()


def test_batch_initial_snapshot_is_full_state(spark, tmp_path):
    """initialsnapshot=true reads the full resolved state at the end
    bound as I rows — the batch twin of the stream bootstrap, correct
    even when early history is vacuumed."""
    spark.dataSource.register(LakeChangeFeedDataSource)
    root, t = _table(spark, tmp_path)
    cur = t.current_version()

    from picsure_dictionary_etl_spark.lake.merge import resolve_live

    snap_df = _read(spark, root, initialsnapshot="true")
    assert {r["_change"] for r in snap_df.select("_change").collect()} == {"I"}
    live = {tuple(r) for r in
            resolve_live(t.read(), ["conv_id", "turn_idx"],
                         ["role", "text", "tool", "ts"])
            .select("conv_id", "turn_idx", "role", "text").collect()}
    got = {tuple(r) for r in
           snap_df.select("conv_id", "turn_idx", "role", "text").collect()}
    assert got == live and len(got) == 2  # c1 + c3 (c2 deleted)

    # at an earlier end bound: the state as of that version
    past = _read(spark, root, initialsnapshot="true", endversion=1)
    assert past.count() == 2  # c1 + c2, pre-delete
    assert {r["conv_id"] for r in past.select("conv_id").collect()} == \
        {"c1", "c2"}

    # vacuumed early history: bootstrap still plans (old side is EMPTY,
    # no old manifest needed) while startversion=0 raises retention
    t.vacuum(keep_snapshots=1)
    assert _read(spark, root, initialsnapshot="true").count() == 2
    with pytest.raises(Exception, match="beyond retention"):
        _read(spark, root, startversion=0).collect()
    # direct construction surfaces the typed class itself
    from picsure_dictionary_etl_spark.streaming.cdf_source import (
        _CdfBatchReader,
    )

    with pytest.raises(ChangeFeedRetentionError):
        _CdfBatchReader({"path": root, "startversion": "0"})


def test_batch_read_bad_bounds_fail_typed_at_plan_time(spark, tmp_path):
    """Option conflicts, out-of-history bounds, backwards spans, and
    stream-only pacing options all fail typed BEFORE any executor
    work."""
    from picsure_dictionary_etl_spark.streaming.cdf_source import (
        _CdfBatchReader,
    )

    spark.dataSource.register(LakeChangeFeedDataSource)
    root, t = _table(spark, tmp_path)
    cur = t.current_version()

    with pytest.raises(ValueError, match="mutually exclusive"):
        _CdfBatchReader({"path": root, "startversion": "1",
                         "startingtimestamp": "0"})
    with pytest.raises(ValueError, match="mutually exclusive"):
        _CdfBatchReader({"path": root, "endversion": "1",
                         "endingtimestamp": "0"})
    with pytest.raises(ValueError, match="mutually exclusive"):
        _CdfBatchReader({"path": root, "initialsnapshot": "true",
                         "startversion": "1"})
    with pytest.raises(ValueError, match="outside"):
        _CdfBatchReader({"path": root, "endversion": str(cur + 1)})
    with pytest.raises(ValueError, match="backwards span"):
        _CdfBatchReader({"path": root, "startversion": "2",
                         "endversion": "1"})
    with pytest.raises(ValueError, match="paces a STREAM"):
        _CdfBatchReader({"path": root, "maxversionsperbatch": "2"})
    with pytest.raises(ValueError, match="paces a STREAM"):
        _CdfBatchReader({"path": root, "maxbytesperbatch": "1024"})


def test_batch_read_on_file_uri_root(spark, tmp_path):
    """URI table roots batch-read through the same pyarrow.fs plane the
    stream uses (datasource callbacks have no JVM): a file:-URI root
    matches spark_plane_changes span-for-span."""
    spark.dataSource.register(LakeChangeFeedDataSource)
    root, t = _table(spark, tmp_path)
    cur = t.current_version()
    uri = "file://" + root
    got = _rows(_read(spark, uri, startversion=1))
    assert got == _rows(spark_plane_changes(t, 1, cur))
    snap = _read(spark, uri, initialsnapshot="true")
    assert snap.count() == 2 and \
        {r["_change"] for r in snap.select("_change").collect()} == {"I"}


def test_batch_read_empty_span_returns_empty_dataframe(spark, tmp_path):
    """A change-free span — the natural 'any new changes since v?' poll
    — must return an EMPTY DataFrame, not crash: the Spark 4 python
    datasource runner substitutes [None] for an empty partitions() list
    and still calls read() (review finding, reproduced), so the planner
    emits one no-op task instead."""
    spark.dataSource.register(LakeChangeFeedDataSource)
    root, t = _table(spark, tmp_path)
    cur = t.current_version()
    assert _read(spark, root, startversion=cur).count() == 0
    assert _read(spark, root, startversion=cur, endversion=cur).count() == 0
