"""The ``lake`` streaming/batch SINK datasource: per-epoch MOR delta
appends with atomic manifest commits, watermark-guard exactly-once,
engine-bit-equal bucket placement, and composition with merge_into and
the lake_cdf source."""

import datetime
import glob
import os

import pytest

from picsure_dictionary_etl_spark.cdc.envelope import change_event_schema
from picsure_dictionary_etl_spark.lake.merge import (
    merge_into,
    resolve_live,
    table_changes,
)
from picsure_dictionary_etl_spark.lake.table import LakeTable, bucket_expr
from picsure_dictionary_etl_spark.streaming.lake_sink import (
    LakeTableSinkDataSource,
    with_bucket,
)
from tests.cdf_oracle import spark_plane_changes

TS = datetime.datetime(2024, 1, 1, 12, 0, 0)
PAYLOAD = ["role", "text", "tool", "ts"]
KEYS = ["conv_id", "turn_idx"]


def _ev(spark, rows):
    return spark.createDataFrame(rows, change_event_schema())


def _mk_table(spark, tmp_path, name="t", buckets=4):
    from picsure_dictionary_etl_spark.cdc.envelope import (
        TRANSCRIPT_KEY,
        transcript_table_schema,
    )

    root = str(tmp_path / name)
    LakeTable.create(spark, root, schema=transcript_table_schema(),
                     key_cols=TRANSCRIPT_KEY, bucket_by=["conv_id"],
                     bucket_count=buckets)
    return root


def _run_sink(spark, src_dir, root, ckpt, prebucket=False):
    df = spark.readStream.schema(change_event_schema()).parquet(src_dir)
    if prebucket:
        df = with_bucket(df, root)
    q = (df.writeStream.format("lake").option("path", root)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(180)


def _state(spark, root):
    t = LakeTable.load(spark, root)
    live = resolve_live(t.read(), KEYS, PAYLOAD)
    return {tuple(r) for r in
            live.select("conv_id", "turn_idx", "text", "_lsn").collect()}


def test_stream_sink_appends_and_is_exactly_once(spark, tmp_path):
    """availableNow pass lands the WAL as MOR deltas (resolved state =
    LWW incl. D tombstones); a second pass from the same checkpoint is
    a no-op; NEW source data streams incrementally; a FRESH checkpoint
    over already-applied data is fully dropped by the watermark guard
    (no version churn, state unchanged)."""
    spark.dataSource.register(LakeTableSinkDataSource)
    root = _mk_table(spark, tmp_path)
    src = str(tmp_path / "src")
    _ev(spark, [
        (1, "I", "c1", 0, "user", "hello", None, TS),
        (2, "I", "c2", 0, "user", "hi", None, TS),
        (3, "U", "c1", 0, "user", "hello EDITED", None, TS),
        (4, "D", "c2", 0, None, None, None, None),
    ]).coalesce(1).write.mode("append").parquet(src)

    ckpt = str(tmp_path / "ck")
    _run_sink(spark, src, root, ckpt)
    assert _state(spark, root) == {("c1", 0, "hello EDITED", 3)}
    t = LakeTable.load(spark, root)
    v_after = t.current_version()
    assert v_after == 1  # one non-empty epoch = one commit
    assert t.watermark() == 4

    # same checkpoint, no new data: empty epoch, no commit
    _run_sink(spark, src, root, ckpt)
    assert LakeTable.load(spark, root).current_version() == v_after

    # new source data: incremental epoch
    _ev(spark, [
        (5, "I", "c3", 0, "user", "new", None, TS),
        (6, "U", "c1", 0, "user", "hello v3", None, TS),
    ]).coalesce(1).write.mode("append").parquet(src)
    _run_sink(spark, src, root, ckpt)
    assert _state(spark, root) == {
        ("c1", 0, "hello v3", 6), ("c3", 0, "new", 5)}
    assert LakeTable.load(spark, root).watermark() == 6

    # fresh checkpoint over the SAME source: every row is at-or-below
    # the committed watermark -> guard drops all, nothing commits
    v_before = LakeTable.load(spark, root).current_version()
    _run_sink(spark, src, root, str(tmp_path / "ck2"))
    t = LakeTable.load(spark, root)
    assert t.current_version() == v_before
    assert _state(spark, root) == {
        ("c1", 0, "hello v3", 6), ("c3", 0, "new", 5)}


@pytest.mark.parametrize("prebucket", [False, True])
def test_sink_bucket_placement_is_engine_bit_equal(spark, tmp_path,
                                                   prebucket):
    """Every sink-written file sits under the _bucket dir the engine's
    own bucket_expr assigns its rows — for BOTH paths: the executor-side
    numpy hash and the JVM-side with_bucket() fast path. The executor
    path also places a nested (struct) bucket key."""
    from pyspark.sql import functions as F

    spark.dataSource.register(LakeTableSinkDataSource)
    root = _mk_table(spark, tmp_path, name=f"t{int(prebucket)}", buckets=4)
    src = str(tmp_path / f"src{int(prebucket)}")
    rows = [(i, "I", f"c{i}", i % 3, "user", f"txt {i}", None, TS)
            for i in range(1, 41)]
    _ev(spark, rows).write.mode("append").parquet(src)
    _run_sink(spark, src, root,
              str(tmp_path / f"ck{int(prebucket)}"), prebucket=prebucket)

    files = glob.glob(os.path.join(root, "data", "s-*", "delta",
                                   "_bucket=*", "*.parquet"))
    assert files
    for f in files:
        b = int(f.split("_bucket=")[1].split(os.sep)[0])
        got = (spark.read.parquet(f)
               .select(F.pmod(F.xxhash64("conv_id"), F.lit(4)).alias("b"))
               .distinct().collect())
        assert [r["b"] for r in got] == [b], f
    # and the table resolves all 40 keys
    assert len(_state(spark, root)) == 40
    if not prebucket:
        _assert_struct_key_placement(spark, tmp_path)


def _assert_struct_key_placement(spark, tmp_path):
    """A table keyed and bucketed on ``struct<a:string,b:int>``,
    written without with_bucket(): executors hash the struct column,
    and every row lands in the bucket ``bucket_expr`` computes."""
    from pyspark.sql import types as T

    kt = T.StructType([T.StructField("a", T.StringType()),
                       T.StructField("b", T.IntegerType())])
    schema = T.StructType([
        T.StructField("k", kt), T.StructField("v", T.StringType()),
        T.StructField("_op", T.StringType(), False),
        T.StructField("_lsn", T.LongType(), False),
    ])
    root = str(tmp_path / "struct_keyed")
    LakeTable.create(spark, root, schema=schema, key_cols=["k"],
                     bucket_count=4)
    rows = [({"a": None if i % 7 == 0 else f"c{i}",
              "b": None if i % 5 == 0 else i}, f"v{i}", "I", i)
            for i in range(1, 41)]
    (spark.createDataFrame(rows, schema).write.format("lake")
     .mode("append").option("path", root).save())

    files = glob.glob(os.path.join(root, "data", "s-*", "delta",
                                   "_bucket=*", "*.parquet"))
    assert len({f.split("_bucket=")[1] for f in files}) > 1
    n_rows = 0
    for f in files:
        b = int(f.split("_bucket=")[1].split(os.sep)[0])
        got = (spark.read.parquet(f)
               .groupBy(bucket_expr(["k"], 4).alias("b")).count().collect())
        assert [r["b"] for r in got] == [b], f
        n_rows += got[0]["count"]
    assert n_rows == 40

    # the change feed groups and joins the struct key by its order rank
    from picsure_dictionary_etl_spark.streaming.cdf_source import (
        LakeChangeFeedDataSource,
    )

    spark.dataSource.register(LakeChangeFeedDataSource)
    t = LakeTable.load(spark, root)
    cur = t.current_version()
    got = {tuple(r) for r in table_changes(t, 0, cur).collect()}
    assert got == {tuple(r) for r in spark_plane_changes(t, 0, cur).collect()}
    assert len(got) == 40
    feed = spark.read.format("lake_cdf").option("path", root).load()
    assert {tuple(r) for r in feed.collect()} == got


def test_sink_composes_with_merge_and_cdf(spark, tmp_path):
    """Sink appends interleave with engine merge_into commits (shared
    watermark/batch bookkeeping), and the lake_cdf source streams the
    sink-written table exactly as table_changes reports it."""
    from picsure_dictionary_etl_spark.streaming.cdf_source import (
        LakeChangeFeedDataSource,
    )

    spark.dataSource.register(LakeTableSinkDataSource)
    spark.dataSource.register(LakeChangeFeedDataSource)
    root = _mk_table(spark, tmp_path)
    src = str(tmp_path / "src")
    _ev(spark, [
        (1, "I", "c1", 0, "user", "a", None, TS),
        (2, "I", "c2", 0, "user", "b", None, TS),
    ]).coalesce(1).write.mode("append").parquet(src)
    _run_sink(spark, src, root, str(tmp_path / "ck"))

    t = LakeTable.load(spark, root)
    merge_into(t, _ev(spark, [
        (3, "U", "c1", 0, "user", "a v2", None, TS),
        (4, "I", "c3", 0, "user", "c", None, TS),
    ]), "engine-b1")
    assert _state(spark, root) == {
        ("c1", 0, "a v2", 3), ("c2", 0, "b", 2), ("c3", 0, "c", 4)}

    cur = t.current_version()
    want = {tuple(r) for r in spark_plane_changes(t, 0, cur)
            .select("_change", "conv_id", "text", "_lsn").collect()}
    batch = {tuple(r) for r in
             spark.read.format("lake_cdf").option("path", root).load()
             .select("_change", "conv_id", "text", "_lsn").collect()}
    assert batch == want and len(want) == 3


def test_batch_writer_and_typed_errors(spark, tmp_path):
    """df.write.format('lake').mode('append') applies one batch through
    the same path; URI roots, field-wise tables, schema drift, and
    overwrite mode fail typed at plan time."""
    from pyspark.sql import types as T

    from picsure_dictionary_etl_spark.streaming.lake_sink import (
        _LakeSinkWriter,
    )

    spark.dataSource.register(LakeTableSinkDataSource)
    root = _mk_table(spark, tmp_path)
    _ev(spark, [
        (1, "I", "c1", 0, "user", "x", None, TS),
    ]).write.format("lake").mode("append").option("path", root).save()
    assert _state(spark, root) == {("c1", 0, "x", 1)}

    sch = change_event_schema()
    with pytest.raises(NotImplementedError, match="conditional PUT"):
        _LakeSinkWriter({"path": "s3a://b/t"}, sch, False)
    # file: URIs are accepted verbatim — the pyarrow.fs plane
    w = _LakeSinkWriter({"path": "file://" + root}, sch, False)
    assert w.root == "file://" + root and w.is_uri
    with pytest.raises(NotImplementedError, match="append output only"):
        _LakeSinkWriter({"path": root}, sch, True)
    bad = T.StructType([f for f in sch.fields if f.name != "text"])
    with pytest.raises(ValueError, match="missing="):
        _LakeSinkWriter({"path": root}, bad, False)
    # a bucket key outside the executor hash's surface fails typed
    # when the writer is planned, naming the column
    from picsure_dictionary_etl_spark.streaming.xxhash_vec import (
        UnsupportedVectorType,
    )

    vsch = T.StructType([
        T.StructField("k", T.VariantType()),
        T.StructField("_op", T.StringType(), False),
        T.StructField("_lsn", T.LongType(), False),
    ])
    vroot = str(tmp_path / "variant_keyed")
    LakeTable.create(spark, vroot, schema=vsch, key_cols=["k"])
    with pytest.raises(UnsupportedVectorType, match="k:variant"):
        _LakeSinkWriter({"path": vroot}, vsch, False)

    # field-wise table: a plain change-event stream is accepted — the
    # writer synthesizes the _pu/_del_lsn markers per the table's
    # stored update policy (r7; full parity test in
    # test_sink_fieldwise_table_matches_merge_coalesce)
    t = LakeTable.load(spark, root)
    merge_into(t, _ev(spark, [
        (2, "U", "c1", 0, None, "y", None, None),
    ]), "pu-b", update_policy="coalesce")
    assert "_pu" in [f.name for f in t.current().schema.fields]
    w_fw = _LakeSinkWriter({"path": root}, sch, False)
    assert w_fw.synthesize_markers and w_fw.pu_value is True
    # but marker columns on a ROW-policy table still refuse, typed
    root2 = _mk_table(spark, tmp_path, name="rowpol")
    pu_sch = T.StructType(
        sch.fields + [T.StructField("_pu", T.BooleanType(), True)]
    )
    with pytest.raises(ValueError, match="row-policy"):
        _LakeSinkWriter({"path": root2}, pu_sch, False)


def test_sink_restart_takes_over_crashed_commit_claim(spark, tmp_path,
                                                      monkeypatch):
    """A driver killed between create_exclusive(claim) and the pointer
    swap leaves an unswapped manifest claim. A RESTARTED query gets a
    fresh random sinkid — its batch id differs, so without claim
    adoption every retry would die on ConcurrentCommitError forever
    (review finding). The commit must recognize the pending claim as a
    SINK commit for the same epoch, adopt its batch id, and take it
    over; the crashed attempt's files publish, the retry's become
    vacuum-able orphans."""
    import pyarrow as pa

    from picsure_dictionary_etl_spark.lake.metadata_io import PosixMetadataIO
    from picsure_dictionary_etl_spark.streaming.lake_sink import (
        _LakeSinkWriter,
    )

    root = _mk_table(spark, tmp_path)
    sch = change_event_schema()
    rows = _ev(spark, [
        (1, "I", "c1", 0, "user", "a", None, TS),
        (2, "I", "c2", 0, "user", "b", None, TS),
    ])
    batches = rows.toArrow().to_batches()

    # attempt 1: write + crash INSIDE commit (after the claim is
    # created, before the pointer swap)
    w1 = _LakeSinkWriter({"path": root}, sch, False)
    msg1 = w1.write(iter(batches))

    real_swap = PosixMetadataIO.swap_pointer

    def crash(self, path, value):
        raise RuntimeError("injected crash between claim and swap")

    monkeypatch.setattr(PosixMetadataIO, "swap_pointer", crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        w1._commit([msg1], f"sink-{w1.sinkid}-0", epoch=0)
    monkeypatch.setattr(PosixMetadataIO, "swap_pointer", real_swap)

    # restart: fresh writer = fresh random sinkid; same epoch replayed
    # (rows are NOT stale — the crashed commit never advanced the
    # watermark). Without adoption this raises ConcurrentCommitError.
    w2 = _LakeSinkWriter({"path": root}, sch, False)
    assert w2.sinkid != w1.sinkid
    msg2 = w2.write(iter(rows.toArrow().to_batches()))
    w2._commit([msg2], f"sink-{w2.sinkid}-0", epoch=0)

    t = LakeTable.load(spark, root)
    assert _state(spark, root) == {("c1", 0, "a", 1), ("c2", 0, "b", 2)}
    assert t.watermark() == 2
    # the adopted commit carries attempt 1's batch id
    assert f"sink-{w1.sinkid}-0" in t.applied_batch_ids()
    # the retry's duplicate files are unreferenced orphans -> vacuumed
    gc = t.vacuum(keep_snapshots=1)
    assert gc["files_removed"] >= 1
    assert _state(spark, root) == {("c1", 0, "a", 1), ("c2", 0, "b", 2)}


def test_batch_writer_sequential_appends_both_land(spark, tmp_path):
    """Two sequential df.write appends under ONE pinned sinkid must
    BOTH commit — batch ids are attempt-unique, never the sinkid
    (review finding: a constant id made the second append a silent
    committed no-op); with_bucket accepts the same file:-scheme root
    the writer does."""
    spark.dataSource.register(LakeTableSinkDataSource)
    root = _mk_table(spark, tmp_path)
    for lsn, conv, txt in [(1, "c1", "a"), (2, "c2", "b")]:
        df = with_bucket(
            _ev(spark, [(lsn, "I", conv, 0, "user", txt, None, TS)]),
            "file://" + root)  # file: root through the fast path too
        (df.write.format("lake").mode("append")
           .option("path", root).option("sinkid", "pinned").save())
    assert _state(spark, root) == {("c1", 0, "a", 1), ("c2", 0, "b", 2)}


def test_stream_sink_on_file_uri_root(spark, tmp_path):
    """The sink on a file:-URI table root — the r7 URI plane: the table
    is CREATED and read back through the session's Hadoop layer under a
    file:// root, the sink's executors write parquet through pyarrow.fs
    and the JVM-less driver commit lands via POSIX-delegated atomic
    claims. Second pass from the same checkpoint stays a no-op; resolved
    state equals the plain-path semantics (incl. D tombstones)."""
    from picsure_dictionary_etl_spark.cdc.envelope import (
        TRANSCRIPT_KEY,
        transcript_table_schema,
    )

    spark.dataSource.register(LakeTableSinkDataSource)
    root = "file://" + str(tmp_path / "turi")
    LakeTable.create(spark, root, schema=transcript_table_schema(),
                     key_cols=TRANSCRIPT_KEY, bucket_by=["conv_id"],
                     bucket_count=4)
    src = str(tmp_path / "src")
    _ev(spark, [
        (1, "I", "c1", 0, "user", "hello", None, TS),
        (2, "I", "c2", 0, "user", "hi", None, TS),
        (3, "U", "c1", 0, "user", "hello EDITED", None, TS),
        (4, "D", "c2", 0, None, None, None, None),
    ]).coalesce(1).write.mode("append").parquet(src)
    ckpt = str(tmp_path / "ck")
    _run_sink(spark, src, root, ckpt)  # default path: vectorized hash
    assert _state(spark, root) == {("c1", 0, "hello EDITED", 3)}
    t = LakeTable.load(spark, root)
    assert t.current_version() == 1 and t.watermark() == 4
    # no-op replay from the same checkpoint
    _run_sink(spark, src, root, ckpt)
    assert LakeTable.load(spark, root).current_version() == 1
    # with_bucket accepts the URI root too (JVM-side fast path)
    _ev(spark, [(5, "I", "c3", 0, "user", "new", None, TS)]) \
        .coalesce(1).write.mode("append").parquet(src)
    _run_sink(spark, src, root, ckpt, prebucket=True)
    assert _state(spark, root) == {
        ("c1", 0, "hello EDITED", 3), ("c3", 0, "new", 5)}


def test_sink_non_file_uri_scheme_is_typed_seam(spark):
    from picsure_dictionary_etl_spark.streaming.lake_sink import (
        _LakeSinkWriter,
    )

    with pytest.raises(NotImplementedError, match="conditional PUT"):
        _LakeSinkWriter({"path": "s3a://bucket/t"}, None, overwrite=False)


def test_sink_additive_schema_evolution(spark, tmp_path):
    """A stream that gained a new nullable column auto-evolves the
    table at writer init (the merge path's additive rule): metadata-only
    commit, pre-evolution rows read as null, and the final state equals
    merge_into's on the same evolved input."""
    from pyspark.sql import types as T

    from picsure_dictionary_etl_spark.cdc.envelope import (
        TRANSCRIPT_KEY,
        transcript_table_schema,
    )

    spark.dataSource.register(LakeTableSinkDataSource)
    root = _mk_table(spark, tmp_path)
    # epoch 1: original schema
    _ev(spark, [
        (1, "I", "c1", 0, "user", "old", None, TS),
    ]).write.format("lake").mode("append").option("path", root).save()

    # epoch 2: schema grew a nullable double column
    evo_schema = T.StructType(
        change_event_schema().fields
        + [T.StructField("score", T.DoubleType(), True)]
    )
    rows = [
        (2, "I", "c2", 0, "user", "new", None, TS, 0.5),
        (3, "U", "c1", 0, "user", "old EDITED", None, TS, 0.9),
    ]
    spark.createDataFrame(rows, evo_schema).write.format("lake") \
        .mode("append").option("path", root).save()

    t = LakeTable.load(spark, root)
    assert "score" in [f.name for f in t.current().schema.fields]
    live = resolve_live(t.read(), KEYS, PAYLOAD + ["score"])
    got = {tuple(r) for r in
           live.select("conv_id", "text", "score", "_lsn").collect()}
    assert got == {("c1", "old EDITED", 0.9, 3), ("c2", "new", 0.5, 2)}

    # twin table fed by merge_into over the same slices resolves equal
    mroot = _mk_table(spark, tmp_path, name="m")
    tm = LakeTable.load(spark, mroot)
    merge_into(tm, _ev(spark, [(1, "I", "c1", 0, "user", "old", None, TS)]),
               "b1")
    tm.evolve_schema([T.StructField("score", T.DoubleType(), True)])
    tm = LakeTable.load(spark, mroot)
    merge_into(tm, spark.createDataFrame(rows, evo_schema), "b2")
    mlive = resolve_live(tm.read(), KEYS, PAYLOAD + ["score"])
    mgot = {tuple(r) for r in
            mlive.select("conv_id", "text", "score", "_lsn").collect()}
    assert got == mgot

    # non-additive input (type change) still refuses, typed
    bad = T.StructType(
        [f if f.name != "text" else T.StructField("text", T.LongType())
         for f in change_event_schema().fields]
    )
    from picsure_dictionary_etl_spark.streaming.lake_sink import (
        _LakeSinkWriter,
    )

    with pytest.raises(ValueError, match="mismatches"):
        _LakeSinkWriter({"path": root}, bad, False)


def test_sink_fieldwise_table_matches_merge_coalesce(spark, tmp_path):
    """Field-wise (_pu) tables accept plain change-event streams: the
    sink stamps each row _pu=<policy!='row'>, _del_lsn=null — exactly
    merge_into's marker null-fill — and the read-time mixed reduce
    resolves raw appended deltas to the SAME state merge_into(
    update_policy='coalesce') produces on identical slices, ties and
    delete-boundary resets included."""
    spark.dataSource.register(LakeTableSinkDataSource)
    roots = {}
    for name in ("fsink", "fmerge"):
        roots[name] = _mk_table(spark, tmp_path, name=name)
        # slice 0 through merge establishes the field-wise layout +
        # stored update_policy on BOTH tables
        merge_into(
            LakeTable.load(spark, roots[name]),
            _ev(spark, [
                (1, "I", "c1", 0, "user", "hello", "t0", TS),
                (2, "I", "c2", 0, "user", "base", None, TS),
            ]),
            "seed", update_policy="coalesce",
        )
    slices = [
        # partial update: only text specified (tool/role stay) + a tie
        # pair at one LSN (content-hash tie-break must agree)
        [(3, "U", "c1", 0, None, "patched", None, None),
         (4, "U", "c2", 0, None, "tie-A", None, None),
         (4, "U", "c2", 0, None, "tie-B", None, None)],
        # delete resets every field; later partial reinserts only text
        [(5, "D", "c1", 0, None, None, None, None),
         (6, "U", "c1", 0, None, "reborn", None, None)],
    ]
    for i, rows in enumerate(slices):
        # path A: native sink (batch append, markers synthesized)
        _ev(spark, rows).write.format("lake").mode("append") \
            .option("path", roots["fsink"]).save()
        # path B: engine merge
        merge_into(LakeTable.load(spark, roots["fmerge"]), _ev(spark, rows),
                   f"s{i}", update_policy="coalesce")
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "_lsn"]
    a = resolve_live(LakeTable.load(spark, roots["fsink"]).read(),
                     KEYS, PAYLOAD).select(cols)
    b = resolve_live(LakeTable.load(spark, roots["fmerge"]).read(),
                     KEYS, PAYLOAD).select(cols)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # the delete boundary really reset: role is null post-rebirth
    reborn = {tuple(r) for r in a.filter("conv_id='c1'").collect()}
    assert reborn == {("c1", 0, None, "reborn", None, 6)}


def test_sink_auto_optimize_cadence(spark, tmp_path):
    """.option('optimizeevery', N): every N non-empty epochs the commit
    worker compacts qualifying buckets inline (python-resolve twins) —
    bounded file counts with NO external maintenance loop; live state
    unchanged; table_changes across the optimize boundary is empty; the
    cadence counter resets on the optimize commit."""
    spark.dataSource.register(LakeTableSinkDataSource)
    root = _mk_table(spark, tmp_path, buckets=2)
    for e in range(4):
        rows = [
            (e * 10 + i, "U" if e else "I", f"c{i%3}", 0,
             "user", f"t{e}-{i}", None, TS)
            for i in range(1, 7)
        ]
        (with_bucket(_ev(spark, rows), root)
         .write.format("lake").mode("append").option("path", root)
         .option("optimizeevery", 2).option("optimizethreshold", 2)
         .save())
    t = LakeTable.load(spark, root)
    snap = t.current()
    # 4 epochs of appends would leave >=4 delta files/bucket; with the
    # cadence every 2 epochs, each bucket holds a compacted base plus
    # at most ~2 uncompacted epochs of deltas
    assert all(len(fl) <= 3 for fl in snap.files.values()), snap.files
    assert int(snap.properties["sink_commits_since_optimize"]) <= 1
    # live state is the plain LWW fold of all events
    got = {tuple(r) for r in
           resolve_live(t.read(), KEYS, PAYLOAD)
           .select("conv_id", "text", "_lsn").collect()}
    assert got == {("c0", "t3-6", 36), ("c1", "t3-4", 34),
                   ("c2", "t3-5", 35)}
    # compaction commits changed no live row: the CDF across each
    # optimize boundary is empty
    hist = t.history()
    opt_versions = [h["version"] for h in hist
                    if h.get("lineage", {}).get("sink_auto")]
    assert opt_versions, "no auto-optimize commit landed"
    for v in opt_versions:
        assert table_changes(t, v - 1, v).count() == 0


def test_sink_recovers_from_crashed_auto_optimize_claim(spark, tmp_path):
    """A driver killed between the auto-optimize CLAIM and its pointer
    swap leaves a sink-optimize-v{N+1} claim no later epoch's batch id
    matches — the next commit must finish the optimize first (same
    version => same retry-stable id => takeover; force_commit clears
    the claim even with an empty candidate set) instead of dying on
    ConcurrentCommitError forever."""
    import json
    import os as _os

    from picsure_dictionary_etl_spark.lake.table import META_DIR, Snapshot

    spark.dataSource.register(LakeTableSinkDataSource)
    root = _mk_table(spark, tmp_path, buckets=2)
    (with_bucket(_ev(spark, [(1, "I", "c1", 0, "user", "a", None, TS)]), root)
     .write.format("lake").mode("append").option("path", root)
     .option("optimizeevery", 2).option("optimizethreshold", 2).save())
    t = LakeTable.load(spark, root)
    v = t.current_version()
    # forge the crashed optimize claim at v+1 (unswapped: VERSION
    # still points at v)
    prev = t.current()
    claim = Snapshot(
        version=v + 1, parent=v, schema_json=prev.schema_json,
        bucket_count=prev.bucket_count, key_cols=prev.key_cols,
        bucket_by=prev.bucket_by, files=dict(prev.files),
        properties=dict(prev.properties),
        lineage={"batch_id": f"sink-optimize-v{v + 1}",
                 "optimize": {"buckets": []}, "sink_auto": True},
        file_sizes=dict(prev.file_sizes),
    )
    claim.committed_at = (prev.committed_at or 0) + 1
    path = _os.path.join(root, META_DIR, f"snap-{v + 1:08d}.json")
    assert t.io.create_exclusive(path, claim.to_json())
    assert t.current_version() == v  # pointer untouched — a real claim

    # next sink append must take the claim over and then land
    (with_bucket(_ev(spark, [(2, "U", "c1", 0, "user", "b", None, TS)]), root)
     .write.format("lake").mode("append").option("path", root)
     .option("optimizeevery", 2).option("optimizethreshold", 2).save())
    t2 = LakeTable.load(spark, root)
    assert t2.current_version() >= v + 2  # optimize takeover + epoch
    assert _state(spark, root) == {("c1", 0, "b", 2)}
    hist = t2.history()
    assert any(h["lineage"].get("sink_auto") for h in hist)
    # counter reset by the takeover commit path
    assert int(t2.current().properties.get(
        "sink_commits_since_optimize", 0)) <= 1


def test_sink_fieldwise_blank_preserve_matches_merge(spark, tmp_path):
    """blank_preserve tables: merge's _specified treats ALL-whitespace
    strings as unspecified at batch time, but read-time specification
    is null-based — so raw sink appends must NULL blanks before
    storing, or a blank update overwrites committed text the merge
    path preserves (review finding). Parity on slices containing a
    tab/newline-only update, a real update, and a delete."""
    spark.dataSource.register(LakeTableSinkDataSource)
    roots = {}
    for name in ("bsink", "bmerge"):
        roots[name] = _mk_table(spark, tmp_path, name=name)
        merge_into(
            LakeTable.load(spark, roots[name]),
            _ev(spark, [(1, "I", "c1", 0, "user", "keep me", "t0", TS),
                        (2, "I", "c2", 0, "user", "base", None, TS)]),
            "seed", update_policy="blank_preserve",
        )
    slices = [
        # blank text (tab+newline — F.trim would miss it) must NOT
        # overwrite; tool updates normally
        [(3, "U", "c1", 0, None, " \t\n ", "t1", None),
         (4, "U", "c2", 0, None, "real", None, None)],
        [(5, "D", "c2", 0, None, None, None, None)],
    ]
    for i, rows in enumerate(slices):
        _ev(spark, rows).write.format("lake").mode("append") \
            .option("path", roots["bsink"]).save()
        merge_into(LakeTable.load(spark, roots["bmerge"]), _ev(spark, rows),
                   f"s{i}", update_policy="blank_preserve")
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "_lsn"]
    a = resolve_live(LakeTable.load(spark, roots["bsink"]).read(),
                     KEYS, PAYLOAD).select(cols)
    b = resolve_live(LakeTable.load(spark, roots["bmerge"]).read(),
                     KEYS, PAYLOAD).select(cols)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    got = {tuple(r) for r in a.collect()}
    # the blank never landed: text stays "keep me", tool advanced to t1
    assert got == {("c1", 0, "user", "keep me", "t1", 3)}


def test_empty_epoch_still_recovers_crashed_optimize_claim(spark, tmp_path):
    """An idle/replayed stream (every row at-or-below the watermark ->
    empty commit) must STILL finish a crashed auto-optimize claim —
    otherwise external writers (merge_into, optimize()) wedge on
    ConcurrentCommitError until new data happens to arrive (review
    finding)."""
    import os as _os

    from picsure_dictionary_etl_spark.lake.table import META_DIR, Snapshot
    from picsure_dictionary_etl_spark.streaming.lake_sink import (
        _LakeSinkWriter,
    )

    spark.dataSource.register(LakeTableSinkDataSource)
    root = _mk_table(spark, tmp_path, buckets=2)
    _ev(spark, [(1, "I", "c1", 0, "user", "a", None, TS)]) \
        .write.format("lake").mode("append").option("path", root).save()
    t = LakeTable.load(spark, root)
    prev = t.current()
    v = prev.version
    claim = Snapshot(
        version=v + 1, parent=v, schema_json=prev.schema_json,
        bucket_count=prev.bucket_count, key_cols=prev.key_cols,
        bucket_by=prev.bucket_by, files=dict(prev.files),
        properties=dict(prev.properties),
        lineage={"batch_id": f"sink-optimize-v{v + 1}", "sink_auto": True},
        file_sizes=dict(prev.file_sizes),
    )
    claim.committed_at = (prev.committed_at or 0) + 1
    assert t.io.create_exclusive(
        _os.path.join(root, META_DIR, f"snap-{v + 1:08d}.json"),
        claim.to_json())

    # an EMPTY epoch (no messages carried appends) through the writer
    w = _LakeSinkWriter({"path": root}, change_event_schema(), False)
    w._commit([], f"sink-{w.sinkid}-0", epoch=0)

    t2 = LakeTable.load(spark, root)
    assert t2.current_version() == v + 1  # claim finished + swapped
    # external writer proceeds
    merge_into(t2, _ev(spark, [(2, "U", "c1", 0, "user", "b", None, TS)]),
               "after")
    assert _state(spark, root) == {("c1", 0, "b", 2)}


def test_sink_with_map_payload_and_inline_optimize(spark, tmp_path):
    """r7 map surface through the SINK: a table whose payload carries a
    map column accepts sink appends (arrow data plane), the inline
    auto-optimize's pandas resolve twin compacts over the map column
    (equal-LSN ties break on the canonical key-sorted hash), and the
    compacted state equals merge_into's on the same events — with
    table_changes empty across the optimize boundary."""
    from pyspark.sql import types as T

    spark.dataSource.register(LakeTableSinkDataSource)
    root = str(tmp_path / "mapsink")
    sch = T.StructType([
        T.StructField("id", T.StringType(), False),
        T.StructField("attrs", T.MapType(T.StringType(), T.LongType()), True),
        T.StructField("_op", T.StringType(), False),
        T.StructField("_lsn", T.LongType(), False),
    ])
    LakeTable.create(spark, root, schema=sch, key_cols=["id"],
                     bucket_count=2)
    ev_schema = T.StructType(
        [T.StructField("_lsn", T.LongType(), False),
         T.StructField("_op", T.StringType(), False),
         T.StructField("id", T.StringType(), False),
         T.StructField("attrs",
                       T.MapType(T.StringType(), T.LongType()), True)])
    batches = [
        [(1, "I", "a", {"x": 1, "y": 2}), (2, "I", "b", {})],
        # entry-order re-assert of a + a real edit of b
        [(3, "U", "a", {"y": 2, "x": 1}), (4, "U", "b", {"n": 9})],
        # equal-LSN tie on a fresh key + a delete
        [(5, "I", "e", {"t": 1}), (5, "I", "e", {"t": 2}),
         (6, "D", "b", None)],
        [(7, "U", "a", {"z": 3})],
    ]
    for rows in batches:
        (with_bucket(spark.createDataFrame(rows, ev_schema), root)
         .write.format("lake").mode("append").option("path", root)
         .option("optimizeevery", 2).option("optimizethreshold", 2)
         .save())
    t = LakeTable.load(spark, root)
    hist = t.history()
    opt_versions = [h["version"] for h in hist
                    if h.get("lineage", {}).get("sink_auto")]
    assert opt_versions, "no auto-optimize commit landed over the map table"
    for v in opt_versions:
        assert table_changes(t, v - 1, v).count() == 0

    # reference: the same events through merge_into on a twin table
    root2 = str(tmp_path / "mapref")
    t2 = LakeTable.create(spark, root2, schema=sch, key_cols=["id"],
                          bucket_count=2)
    for i, rows in enumerate(batches):
        merge_into(t2, spark.createDataFrame(rows, ev_schema), f"b{i}")

    def state(tbl):
        return {
            (r["id"], tuple(sorted(r["attrs"].items()))
             if r["attrs"] is not None else None, r["_lsn"])
            for r in resolve_live(tbl.read(), ["id"], ["attrs"]).collect()
        }

    assert state(t) == state(t2)
    assert {s[0] for s in state(t)} == {"a", "e"}  # b deleted
