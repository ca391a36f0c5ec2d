"""URI table roots: the data plane runs through Hadoop FileSystem (the
layer Spark's executors write through), exercised end-to-end on the
``file:`` scheme — create -> merge -> resume -> point lookup -> vacuum,
plus the documented degrades (footer lineage -> winner counts)."""

import os

from picsure_dictionary_etl_spark.cdc.envelope import change_event_schema
from picsure_dictionary_etl_spark.cdc.runner import CdcRunner, RunnerConfig
from picsure_dictionary_etl_spark.lake.table import LakeTable


def _ev(spark, rows):
    return spark.createDataFrame(rows, change_event_schema())


def test_file_uri_root_full_lifecycle(spark, tmp_path):
    root = f"file:{tmp_path}/t"
    r = CdcRunner(spark, RunnerConfig(table_root=root, bucket_count=4,
                                      normalize=False))
    m = r.apply_batch(_ev(spark, [
        (1, "I", "c1", 0, "user", "hello", None, None),
        (2, "I", "c2", 0, "user", "bye", None, None),
        (3, "D", "c2", 0, None, None, None, None),
    ]), "b1").metrics
    # footer lineage degrades to the in-plan winner count on URI roots
    assert m["per_bucket_rows"] == {} and m["rows_written"] == m["winners"] == 2
    assert {(x["conv_id"], x["turn_idx"]) for x in r.state().collect()} == {("c1", 0)}

    # resume through a fresh handle on the URI root
    r2 = CdcRunner(spark, RunnerConfig(table_root=root, bucket_count=4,
                                       normalize=False))
    assert r2.watermark() == 3
    assert r2.apply_batch(_ev(spark, [
        (1, "I", "c1", 0, "user", "hello", None, None)]), "b1"
    ).metrics.get("skipped_duplicate_batch")

    # point lookup + conversation work through the Hadoop listing
    assert r2.conversation("c1").count() == 1
    got = LakeTable.load(spark, root).read_keys(["c1"]).count()
    assert got == 1


def test_file_uri_vacuum_gc(spark, tmp_path):
    root = f"file:{tmp_path}/v"
    r = CdcRunner(spark, RunnerConfig(table_root=root, bucket_count=2,
                                      normalize=False, compact_threshold=1))
    for i in range(4):
        r.apply_batch(_ev(spark, [
            (i + 1, "I", f"c{i}", 0, "user", "x", None, None)]), f"b{i}")
    stats = r.table.vacuum(keep_snapshots=2)
    assert stats["files_removed"] >= 1  # superseded deltas GC'd via Hadoop FS
    assert r.state().count() == 4
    # only referenced parquet files remain on disk
    local = str(tmp_path / "v")
    on_disk = {
        os.path.relpath(os.path.join(dp, f), local)
        for dp, _d, fs in os.walk(os.path.join(local, "data")) for f in fs
        # Hadoop LocalFileSystem checksum siblings (.part-*.crc) are
        # hidden from its listings and travel with their data file;
        # object stores don't have them — exclude from the GC check
        if not f.startswith((".", "_"))
    }
    cur = r.table.current_version()
    referenced = set()
    for v in (cur - 1, cur):  # keep_snapshots=2
        referenced.update(r.table.snapshot(v).all_files())
    assert on_disk <= referenced
    assert all(f.endswith(".parquet") for f in on_disk)  # side-files GC'd


def test_file_uri_all_unmatched_batch_leaves_data_dir_as_it_was(spark, tmp_path):
    """A write that keeps no row removes its attempt directory through
    the Hadoop data plane too, not only its files; vacuum then leaves
    no empty directory behind either."""
    from picsure_dictionary_etl_spark.lake.merge import merge_into

    root = f"file:{tmp_path}/m"
    r = CdcRunner(spark, RunnerConfig(table_root=root, bucket_count=2, normalize=False))
    r.apply_batch(_ev(spark, [(1, "I", "c1", 0, "user", "hi", None, None)]), "b1")
    data = str(tmp_path / "m" / "data")
    before = sorted(os.walk(data))
    m = merge_into(r.table, _ev(spark, [(2, "U", "c7", 0, None, "x", None, None)]),
                   "b2", matched_only=True).metrics
    assert not m.get("winners")
    assert sorted(os.walk(data)) == before

    r.table.truncate()
    r.table.vacuum(keep_snapshots=1)
    assert not os.path.exists(data)


def test_file_uri_fieldwise_partial_updates(spark, tmp_path):
    """Field-wise MOR deltas (schema evolution + _pu tagging +
    compaction) through the Hadoop data plane on a file: root."""
    root = f"file:{tmp_path}/pu"
    r = CdcRunner(spark, RunnerConfig(table_root=root, bucket_count=2,
                                      normalize=False, update_policy="coalesce",
                                      compact_threshold=2))
    r.apply_batch(_ev(spark, [
        (1, "I", "c1", 0, "user", "hello", "cli", None)]), "seed")
    for i, patch in enumerate([
        (2, "U", "c1", 0, None, "e1", None, None),
        (3, "U", "c1", 0, "adm", None, None, None),
        (4, "U", "c1", 0, None, None, "web", None),
    ]):
        r.apply_batch(_ev(spark, [patch]), f"p{i}")
    row = r.state().collect()[0]
    assert (row["role"], row["text"], row["tool"]) == ("adm", "e1", "web")
    # compaction ran through the URI listing (threshold 2, 4 commits)
    assert any(
        r.table.snapshot(v).lineage.get("buckets_compacted")
        for v in range(2, r.table.current_version() + 1)
        if r.table.snapshot(v).lineage
    )


def test_file_uri_defaults_to_hadoop_commit_point(spark, tmp_path):
    """URI roots auto-select HadoopMetadataIO: BOTH planes (data via
    HadoopDataFS, metadata via FileContext rename) run off POSIX."""
    from picsure_dictionary_etl_spark.lake.fs import HadoopDataFS
    from picsure_dictionary_etl_spark.lake.metadata_io import HadoopMetadataIO

    root = f"file:{tmp_path}/hp"
    r = CdcRunner(spark, RunnerConfig(table_root=root, bucket_count=2,
                                      normalize=False))
    assert isinstance(r.table.io, HadoopMetadataIO)
    assert isinstance(r.table.fs, HadoopDataFS)
    r.apply_batch(_ev(spark, [
        (1, "I", "c1", 0, "user", "hi", None, None)]), "b1")
    assert r.state().count() == 1


def test_hadoop_metadata_io_primitives(spark, tmp_path):
    """The commit-point contract on the Hadoop FileSystem API:
    all-or-nothing exclusive claims, atomic pointer overwrite, listing,
    FileNotFoundError mapping."""
    import pytest

    from picsure_dictionary_etl_spark.lake.metadata_io import HadoopMetadataIO

    root = f"file:{tmp_path}/prim"
    io = HadoopMetadataIO(spark, root)
    m = f"{root}/_meta"
    io.makedirs(m)

    assert io.create_exclusive(f"{m}/claim", "winner")
    assert not io.create_exclusive(f"{m}/claim", "loser")
    assert io.read_text(f"{m}/claim") == "winner"  # loser never clobbers

    io.swap_pointer(f"{m}/VERSION", "1")
    io.swap_pointer(f"{m}/VERSION", "2")  # overwrite is allowed + atomic
    assert io.read_text(f"{m}/VERSION") == "2"

    io.write_atomic(f"{m}/obj", "a")
    io.write_atomic(f"{m}/obj", "b")
    assert io.read_text(f"{m}/obj") == "b"

    with pytest.raises(FileNotFoundError):
        io.read_text(f"{m}/missing")
    assert io.list(f"{m}/nodir") == []
    # losing claims + temp files never surface in listings
    assert io.list(m) == ["VERSION", "claim", "obj"]
    assert io.exists(f"{m}/claim") and not io.exists(f"{m}/missing")
    io.remove(f"{m}/obj")
    assert not io.exists(f"{m}/obj")


def test_file_uri_kill_between_claim_and_swap_resumes(spark, tmp_path):
    """Field-wise MOR + the kill-resume cycle with BOTH planes on
    Hadoop: a crash after the manifest claim but before the pointer
    swap leaves the claim orphaned; the retried batch takes it over and
    the final state matches the uncrashed run."""
    import json

    root = f"file:{tmp_path}/kr"
    r = CdcRunner(spark, RunnerConfig(table_root=root, bucket_count=2,
                                      normalize=False,
                                      update_policy="coalesce"))
    r.apply_batch(_ev(spark, [
        (1, "I", "c1", 0, "user", "hello", "cli", None)]), "seed")
    t = r.table

    # simulate the crashed attempt: the NEXT version's manifest claimed
    # with batch id "p0", pointer not yet swapped (exactly the kill
    # window mid-commit)
    v = t.current().version
    orphan = json.loads(t.current().to_json())
    orphan["version"], orphan["parent"] = v + 1, v
    orphan["lineage"] = {"batch_id": "p0"}
    assert t.io.create_exclusive(
        f"{t.root}/_meta/snap-{v + 1:08d}.json", json.dumps(orphan))
    assert t.current().version == v  # readers can't see the orphan

    # a stale pointer temp from the same crash must also be invisible
    t.io._write_tmp(f"{t.root}/_meta/VERSION", "999")
    assert t.current().version == v

    # fresh runner (process restart analog) retries the same batch
    r2 = CdcRunner(spark, RunnerConfig(table_root=root, bucket_count=2,
                                       normalize=False,
                                       update_policy="coalesce"))
    r2.apply_batch(_ev(spark, [
        (2, "U", "c1", 0, None, "edited", None, None)]), "p0")
    assert r2.table.current().version == v + 1
    row = r2.state().collect()[0]
    # partial update merged field-wise: text patched, role/tool kept
    assert (row["role"], row["text"], row["tool"]) == ("user", "edited", "cli")
    # redelivery is still a committed no-op after the takeover
    assert r2.apply_batch(_ev(spark, [
        (2, "U", "c1", 0, None, "edited", None, None)]), "p0"
    ).metrics.get("skipped_duplicate_batch")


def test_hadoop_io_local_scheme_delegates_to_posix(spark, tmp_path):
    """On file: roots the atomic primitives MUST go through POSIX
    syscalls: Hadoop's client-side OVERWRITE rename on LocalFs is
    delete-then-rename (a kill in between leaves NO pointer) and its
    NONE rename is check-then-act (two racers can both win). The
    delegate restores os.rename / os.link semantics."""
    import pytest

    from picsure_dictionary_etl_spark.lake.metadata_io import (
        HadoopMetadataIO,
        PosixMetadataIO,
    )

    io = HadoopMetadataIO(spark, f"file:{tmp_path}/d")
    assert isinstance(io._posix, PosixMetadataIO)
    m = f"file:{tmp_path}/d/_meta"
    io.makedirs(m)
    io.swap_pointer(f"{m}/VERSION", "1")
    assert io.read_text(f"{m}/VERSION") == "1"
    assert io.create_exclusive(f"{m}/c", "w") and not io.create_exclusive(f"{m}/c", "l")
    # error-contract parity with the POSIX plane
    with pytest.raises(FileNotFoundError):
        io.remove(f"{m}/never-existed")

    # Hadoop delete()==False with the path still present (permissions,
    # transient FS fault) must RAISE, not silently report success —
    # vacuum would otherwise believe a manifest was removed when it was
    # not (advisor finding r4)
    class _StuckFs:
        def delete(self, p, recursive):
            return False

        def exists(self, p):
            return True

    io_stuck = HadoopMetadataIO(spark, f"file:{tmp_path}/d")
    io_stuck._fs = _StuckFs()
    with pytest.raises(OSError, match="still exists"):
        io_stuck.remove(f"{m}/VERSION")


def test_hadoop_only_root_resolves_and_compacts(spark, tmp_path):
    """A root only Spark's Hadoop layer reaches (``viewfs:``, which
    pyarrow cannot open): inline compaction, ``optimize``,
    ``matched_only``, ``state()`` and ``rebucket`` all resolve through
    Spark scans, and each state equals the reference resolve."""
    import pytest
    from pyspark.sql import types as T

    from picsure_dictionary_etl_spark.lake.fs import arrow_fs_and_base
    from picsure_dictionary_etl_spark.lake.merge import (
        merge_into,
        optimize,
        rebucket,
        resolve_live,
    )

    mount = f"lake{abs(hash(str(tmp_path)))}"
    spark._jsc.hadoopConfiguration().set(
        f"fs.viewfs.mounttable.{mount}.link./t", f"file://{tmp_path}"
    )
    root = f"viewfs://{mount}/t/tbl"
    with pytest.raises(NotImplementedError):
        arrow_fs_and_base(root)
    schema = T.StructType([
        T.StructField("k", T.StringType(), False),
        T.StructField("v", T.LongType(), True),
        T.StructField("_op", T.StringType(), False),
        T.StructField("_lsn", T.LongType(), False),
    ])
    t = LakeTable.create(spark, root, schema=schema, key_cols=["k"], bucket_count=2)
    src = "k string, v long, _op string, _lsn long"

    def check():
        got = {tuple(r) for r in t.live().select("k", "v").collect()}
        ref = {tuple(r) for r in resolve_live(t.read(), ["k"], ["v"]).select("k", "v").collect()}
        assert got == ref and got

    compacted = []
    for i in range(3):
        rows = [(f"k{j}", i * 10 + j, "D" if j % 5 == 0 else "U", i * 100 + j) for j in range(20)]
        m = merge_into(t, spark.createDataFrame(rows, src), f"b{i}", compact_threshold=2).metrics
        compacted += m["buckets_compacted"]
    assert compacted  # a bucket past the threshold compacted inline
    check()
    merge_into(t, spark.createDataFrame([(f"k{j}", 7, "U", 1000 + j) for j in range(4)], src), "b3")
    assert optimize(t, compact_threshold=1) is not None
    check()
    m = merge_into(t, spark.createDataFrame(
        [("k1", 999, "U", 2000), ("new", 1, "U", 2001)], src), "m", matched_only=True).metrics
    assert m["winners"] == 1
    check()
    assert rebucket(t, 3).bucket_count == 3
    check()
    r = CdcRunner(spark, RunnerConfig(table_root=root, bucket_count=3,
                                      normalize=False, metadata_io=t.io))
    assert r.state().count() == t.live().count()


def test_hadoop_only_root_driver_reads_fail_typed(spark, tmp_path, bucket_reads):
    """The reads that run pyarrow on the driver cannot open a root only
    Hadoop reaches: ``read_keys``, ``CdcRunner.conversation()`` and
    ``table_changes`` raise ``NotImplementedError`` before any Spark job
    starts and before any bucket file is read."""
    import pytest

    from picsure_dictionary_etl_spark.cdc.envelope import TRANSCRIPT_KEY, transcript_table_schema
    from picsure_dictionary_etl_spark.lake.merge import table_changes

    mount = f"lake{abs(hash(str(tmp_path)))}"
    spark._jsc.hadoopConfiguration().set(
        f"fs.viewfs.mounttable.{mount}.link./t", f"file://{tmp_path}"
    )
    root = f"viewfs://{mount}/t/tbl"
    t = LakeTable.create(spark, root, schema=transcript_table_schema(),
                         key_cols=TRANSCRIPT_KEY, bucket_by=["conv_id"], bucket_count=2)
    r = CdcRunner(spark, RunnerConfig(table_root=root, bucket_count=2,
                                      normalize=False, metadata_io=t.io))
    r.apply_batch(_ev(spark, [(1, "I", "c1", 0, "user", "hello", None, None)]), "b1")
    v = t.current_version()

    sc = spark.sparkContext
    sc.setJobGroup("hadoop-only-driver-reads", "must start no job")
    try:
        for read in (lambda: t.read_keys(["c1"]), lambda: r.conversation("c1"),
                     lambda: table_changes(t, v - 1, v)):
            with pytest.raises(NotImplementedError, match="pyarrow"):
                read()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("hadoop-only-driver-reads")) == []
    assert bucket_reads == []
