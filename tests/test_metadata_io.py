"""The MetadataIO commit-point seam: LakeTable runs create -> merge ->
resume against a NON-POSIX metadata implementation (the object-store /
catalog stand-in), with zero snapshot bytes on local disk."""

import os

from picsure_dictionary_etl_spark.cdc.envelope import (
    TRANSCRIPT_KEY,
    change_event_schema,
    transcript_table_schema,
)
from picsure_dictionary_etl_spark.cdc.runner import CdcRunner, RunnerConfig
from picsure_dictionary_etl_spark.lake.merge import merge_into, resolve_live
from picsure_dictionary_etl_spark.lake.metadata_io import InMemoryMetadataIO
from picsure_dictionary_etl_spark.lake.table import META_DIR, LakeTable


def _events(spark, rows):
    return spark.createDataFrame(rows, change_event_schema())


def test_create_merge_resume_on_non_posix_commit_point(spark, tmp_path):
    io = InMemoryMetadataIO()
    root = str(tmp_path / "t")
    t = LakeTable.create(
        spark, root, schema=transcript_table_schema(), key_cols=TRANSCRIPT_KEY,
        bucket_by=["conv_id"], bucket_count=4, io=io,
    )
    merge_into(t, _events(spark, [
        (1, "I", "c1", 0, "user", "hello", None, None),
        (2, "I", "c2", 0, "user", "bye", None, None),
    ]), "b1")
    merge_into(t, _events(spark, [
        (3, "U", "c1", 0, "user", "edited", None, None),
        (4, "D", "c2", 0, None, None, None, None),
    ]), "b2")

    # every manifest + the VERSION pointer live ONLY in the store
    assert not os.path.exists(os.path.join(root, META_DIR, "VERSION"))
    assert io.swaps >= 3  # create + two commits went through the CAS seam
    assert any(k.endswith("VERSION") for k in io.store)

    # a FRESH handle sharing the same store (a second driver against the
    # same catalog) resumes: watermark, applied batches, identical state
    t2 = LakeTable.load(spark, root, io=InMemoryMetadataIO(io.store))
    assert t2.watermark() == 4
    assert {"b1", "b2"} <= t2.applied_batch_ids()
    live = resolve_live(
        t2.read(), TRANSCRIPT_KEY, ["role", "text", "tool", "ts"]
    )
    got = {(r["conv_id"], r["turn_idx"]): r["text"] for r in live.collect()}
    assert got == {("c1", 0): "edited"}

    # redelivery through the resumed handle is still a committed no-op
    r = merge_into(t2, _events(
        spark, [(3, "U", "c1", 0, "user", "edited", None, None)]), "b2")
    assert r.metrics.get("skipped_duplicate_batch")


def test_runner_on_non_posix_commit_point(spark, tmp_path):
    io = InMemoryMetadataIO()
    cfg = RunnerConfig(table_root=str(tmp_path / "rt"), bucket_count=4,
                       metadata_io=io)
    r1 = CdcRunner(spark, cfg)
    r1.apply_batch(_events(spark, [
        (1, "I", "c9", 0, "user", "hi", None, None)]), "b1")
    # a second runner instance (fresh process analog) sees the commit
    r2 = CdcRunner(spark, RunnerConfig(
        table_root=cfg.table_root, bucket_count=4,
        metadata_io=InMemoryMetadataIO(io.store)))
    assert r2.watermark() == 1
    assert r2.state().count() == 1

    # the change feed plans through the table's own MetadataIO: the
    # consumer bootstraps, then reads one commit's diff
    from picsure_dictionary_etl_spark.lake.consume import ChangeFeedConsumer
    from tests.cdf_oracle import spark_plane_changes

    c = ChangeFeedConsumer(r2.table, os.path.join(cfg.table_root, "_consumer"))
    b = c.poll()
    assert {tuple(r) for r in b.df.collect()} == {
        ("I", "c9", 0, "user", "hi", None, None, 1)}
    b.ack()
    r2.apply_batch(_events(spark, [
        (2, "U", "c9", 0, "user", "hi again", None, None),
        (3, "I", "c8", 1, "user", "new", None, None)]), "b2")
    b = c.poll()
    want = spark_plane_changes(r2.table, b.from_version, b.to_version)
    assert {tuple(r) for r in b.df.collect()} == {tuple(r) for r in want.collect()}
    assert len(want.collect()) == 2
    b.ack()
    assert c.poll() is None


def test_concurrent_commit_detected(spark, tmp_path):
    """Two live writers racing the same version: the second claim is a
    different batch -> ConcurrentCommitError, and the winner's commit
    (pointer AND manifest) is untouched."""
    import pytest

    from picsure_dictionary_etl_spark.lake.table import ConcurrentCommitError

    io = InMemoryMetadataIO()
    root = str(tmp_path / "cc")
    t1 = LakeTable.create(
        spark, root, schema=transcript_table_schema(), key_cols=TRANSCRIPT_KEY,
        bucket_by=["conv_id"], bucket_count=2, io=io,
    )
    t2 = LakeTable.load(spark, root, io=InMemoryMetadataIO(io.store))
    # both handles observe v0; t1 commits first
    merge_into(t1, _events(spark, [
        (1, "I", "c1", 0, "user", "a", None, None)]), "writer1")
    # t2 raced: it computed version 1 from its stale v0 read BEFORE
    # writer1 swapped — its claim of v1 must lose at the claim, not
    # silently clobber (commit() itself re-reads the pointer, so the
    # interleaving is simulated at the snapshot-write seam)
    from picsure_dictionary_etl_spark.lake.table import Snapshot

    stale = t2.snapshot(0)
    loser = Snapshot(
        version=1, parent=0, schema_json=stale.schema_json,
        bucket_count=stale.bucket_count, key_cols=stale.key_cols,
        bucket_by=stale.bucket_by, files={}, properties={},
        lineage={"batch_id": "writer2"},
    )
    with pytest.raises(ConcurrentCommitError):
        t2._write_snapshot(loser)
    # winner intact: pointer at v1, batch writer1 applied, state readable
    assert t2.current().version == 1
    assert "writer1" in t2.applied_batch_ids()
    live = resolve_live(t2.read(), TRANSCRIPT_KEY, ["role", "text", "tool", "ts"])
    assert live.count() == 1


def test_crashed_claim_takeover_resumes(spark, tmp_path):
    """A manifest claimed by a crashed attempt of the SAME batch id is
    taken over on retry (the kill-between-claim-and-swap window)."""
    import json
    import os as _os

    io = InMemoryMetadataIO()
    root = str(tmp_path / "tk")
    t = LakeTable.create(
        spark, root, schema=transcript_table_schema(), key_cols=TRANSCRIPT_KEY,
        bucket_by=["conv_id"], bucket_count=2, io=io,
    )
    # simulate the crashed attempt: v1 manifest claimed with our batch id,
    # pointer still at v0
    orphan = t.current()
    orphan_json = json.loads(orphan.to_json())
    orphan_json["version"], orphan_json["parent"] = 1, 0
    orphan_json["lineage"] = {"batch_id": "b1"}
    meta = _os.path.join(t.root, "_meta")
    assert io.create_exclusive(
        _os.path.join(meta, "snap-00000001.json"), json.dumps(orphan_json))
    assert t.current().version == 0

    r = merge_into(t, _events(spark, [
        (1, "I", "c1", 0, "user", "a", None, None)]), "b1")
    assert r.snapshot.version == 1
    assert t.current().version == 1
    assert t.watermark() == 1  # the retried commit's props won, not the orphan's


def test_torn_claim_is_taken_over(spark, tmp_path):
    """A zero-byte/torn manifest from a crashed foreign writer must not
    wedge retries forever: the claim is unreadable, nothing durable
    depends on it, the next commit takes over."""
    import os as _os

    root = str(tmp_path / "torn")
    t = LakeTable.create(spark, root, schema=transcript_table_schema(),
                         key_cols=TRANSCRIPT_KEY, bucket_by=["conv_id"],
                         bucket_count=2)
    with open(_os.path.join(root, "_meta", "snap-00000001.json"), "w"):
        pass  # torn: zero bytes
    r = merge_into(t, _events(spark, [
        (1, "I", "c1", 0, "user", "a", None, None)]), "b1")
    assert r.snapshot.version == 1 and t.current().version == 1


def test_create_over_populated_table_raises(spark, tmp_path):
    """LakeTable.create on a root that already holds a committed table
    must raise, never reset the pointer / clobber the v0 manifest."""
    import pytest

    from picsure_dictionary_etl_spark.lake.table import ConcurrentCommitError

    root = str(tmp_path / "pop")
    t = LakeTable.create(spark, root, schema=transcript_table_schema(),
                         key_cols=TRANSCRIPT_KEY, bucket_by=["conv_id"],
                         bucket_count=2)
    merge_into(t, _events(spark, [
        (1, "I", "c1", 0, "user", "a", None, None)]), "b1")
    with pytest.raises(ConcurrentCommitError):
        LakeTable.create(spark, root, schema=transcript_table_schema(),
                         key_cols=TRANSCRIPT_KEY, bucket_by=["conv_id"],
                         bucket_count=4)  # different layout -> different intent
    assert t.current().version == 1  # untouched


def test_create_over_vacuumed_table_still_raises(spark, tmp_path):
    """The guard must hold on the POINTER, not the v0 manifest: after
    vacuum() removes snap-0, a create with a different layout used to
    claim v0 successfully and reset the pointer."""
    import pytest

    from picsure_dictionary_etl_spark.lake.table import ConcurrentCommitError

    root = str(tmp_path / "vac")
    t = LakeTable.create(spark, root, schema=transcript_table_schema(),
                         key_cols=TRANSCRIPT_KEY, bucket_by=["conv_id"],
                         bucket_count=2)
    for i in range(3):
        merge_into(t, _events(spark, [
            (i + 1, "I", f"c{i}", 0, "user", "x", None, None)]), f"b{i}")
    t.vacuum(keep_snapshots=2)  # snap-0 manifest is gone
    with pytest.raises(ConcurrentCommitError):
        LakeTable.create(spark, root, schema=transcript_table_schema(),
                         key_cols=TRANSCRIPT_KEY, bucket_by=["conv_id"],
                         bucket_count=8)
    assert t.current().version == 3


def test_data_dirs_are_attempt_unique(spark, tmp_path):
    """Two write attempts at the same version land in DIFFERENT dirs, so
    a racing/crashed attempt can never overwrite files a committed
    snapshot references; vacuum GCs the orphan."""
    import os as _os

    root = str(tmp_path / "uniq")
    t = LakeTable.create(spark, root, schema=transcript_table_schema(),
                         key_cols=TRANSCRIPT_KEY, bucket_by=["conv_id"],
                         bucket_count=2)
    df = spark.createDataFrame(
        [("c1", 0, "user", "a", None, None, "I", 1)],
        transcript_table_schema(),
    )
    from picsure_dictionary_etl_spark.lake.table import bucket_expr
    from pyspark.sql import functions as F

    bucketed = df.withColumn("_bucket", bucket_expr(["conv_id"], 2))
    f1 = t.write_data_files(bucketed, version=1)   # crashed attempt (orphan)
    f2 = t.write_data_files(bucketed, version=1)   # retry
    d1 = {p.split("/")[1] for fl in f1.values() for p in fl}
    d2 = {p.split("/")[1] for fl in f2.values() for p in fl}
    assert d1.isdisjoint(d2)
    t.commit(f2, {}, None, {"batch_id": "b1"})
    removed = t.vacuum(keep_snapshots=2)["files_removed"]
    assert removed >= 1  # the orphan attempt's files are GC'd
    assert t.read().count() == 1  # committed files untouched


def test_vacuum_through_metadata_io(spark, tmp_path):
    io = InMemoryMetadataIO()
    t = LakeTable.create(
        spark, str(tmp_path / "v"), schema=transcript_table_schema(),
        key_cols=TRANSCRIPT_KEY, bucket_by=["conv_id"], bucket_count=2, io=io,
    )
    for i in range(4):
        merge_into(t, _events(
            spark, [(i + 1, "I", f"c{i}", 0, "user", "x", None, None)]), f"b{i}")
    before = sum(1 for k in io.store if "snap-" in k)
    t.vacuum(keep_snapshots=2)
    after = sum(1 for k in io.store if "snap-" in k)
    assert after == 2 < before
    assert t.current().version == 4


def test_create_rejects_non_key_bucket_by(spark, tmp_path):
    """bucket placement must be key-functional: a bucket_by outside the
    key set would strand stale versions in old buckets."""
    import pytest

    with pytest.raises(ValueError, match="key-functional"):
        LakeTable.create(
            spark, str(tmp_path / "bad"), schema=transcript_table_schema(),
            key_cols=["conv_id", "turn_idx"], bucket_by=["role"],
            bucket_count=2)


def test_vacuum_parses_wide_version_numbers(spark, tmp_path):
    """Manifest version tokens wider than 8 digits (version >= 10^8 on
    a long replay) parse fully — a fixed slice would misparse and GC
    the live manifest."""
    import json
    import os as _os

    t = LakeTable.create(
        spark, str(tmp_path / "wide"), schema=transcript_table_schema(),
        key_cols=TRANSCRIPT_KEY, bucket_by=["conv_id"], bucket_count=2)
    merge_into(t, _events(spark, [
        (1, "I", "c1", 0, "user", "x", None, None)]), "b1")
    # simulate a crashed far-future claim with a 9-digit version
    meta = _os.path.join(t.root, "_meta")
    d = json.loads(t.current().to_json())
    d["version"] = 123456789
    with open(_os.path.join(meta, "snap-123456789.json"), "w") as f:
        f.write(json.dumps(d))
    t.vacuum(keep_snapshots=2)
    assert t.current().version == 1          # live manifest intact
    assert t.read().count() == 1
    assert not _os.path.exists(_os.path.join(meta, "snap-123456789.json"))


def test_arrow_fs_data_fs_roundtrips_uri_paths(tmp_path):
    """ArrowFsDataFS (the JVM-less URI data plane the sink's commit
    worker uses): callers hand it table-URI-form paths and get
    URI-form paths back; list/exists/size/delete/cleanup all work on a
    file:// root without a Spark session."""
    import os

    from picsure_dictionary_etl_spark.lake.fs import ArrowFsDataFS

    root = tmp_path / "t"
    (root / "data" / "c1" / "_bucket=0").mkdir(parents=True)
    f1 = root / "data" / "c1" / "_bucket=0" / "a.parquet"
    f1.write_bytes(b"xyz")
    (root / "data" / "empty" / "deep").mkdir(parents=True)
    uri = "file://" + str(root)
    fs = ArrowFsDataFS(uri)
    assert fs.exists(uri + "/data/c1/_bucket=0/a.parquet")
    assert fs.size(uri + "/data/c1/_bucket=0/a.parquet") == 3
    assert fs.list_names(uri + "/data") == ["c1", "empty"]
    rec = fs.list_files_recursive(uri + "/data")
    assert rec == [uri + "/data/c1/_bucket=0/a.parquet"]
    assert fs.list_files_recursive(uri + "/nope") == []
    fs.cleanup_empty_dirs(uri + "/data")
    assert not (root / "data" / "empty").exists()
    assert f1.exists()  # non-empty tree untouched
    fs.delete(uri + "/data/c1/_bucket=0/a.parquet")
    assert not f1.exists()


def test_jvmless_laketable_on_file_uri_and_typed_seam(tmp_path):
    """LakeTable(spark=None, 'file://...') self-configures POSIX
    commit plane + arrow data plane; non-file schemes raise typed at
    handle creation; .fs stays lazy for injected-io handles."""
    import pytest

    from picsure_dictionary_etl_spark.lake.metadata_io import (
        InMemoryMetadataIO,
    )
    from picsure_dictionary_etl_spark.lake.table import LakeTable

    with pytest.raises(NotImplementedError, match="conditional PUT"):
        LakeTable(None, "s3a://bucket/t")
    # injected io: handle constructs even on a scheme pyarrow can't
    # resolve (fs is lazy); metadata plane works immediately
    t = LakeTable(None, "weird://cat/t", io=InMemoryMetadataIO())
    assert t.io.exists("anything") is False
