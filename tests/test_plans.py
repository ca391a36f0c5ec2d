"""Plan-shape regression tests: pushdown, pruning, broadcast — the
Catalyst behaviors the 100 TB design depends on (SURVEY.md §4)."""

from pyspark.sql import functions as F

from picsure_dictionary_etl_spark.plans.explain import (
    assert_broadcast_join,
    assert_exchange_count,
    assert_pushed_filters,
    assert_read_schema_only,
)


def test_lsn_slice_filter_pushdown(spark, tmp_path):
    """The per-batch LSN-range filter must reach the parquet scan —
    each micro-batch reads only its slice."""
    from picsure_dictionary_etl_spark.cdc.generator import change_events

    p = str(tmp_path / "ev")
    change_events(spark, 1000, n_convs=10).write.parquet(p)
    ev = spark.read.parquet(p)
    batch = ev.filter((F.col("_lsn") > 100) & (F.col("_lsn") <= 200))
    assert_pushed_filters(batch, "GreaterThan(_lsn,100)", "LessThanOrEqual(_lsn,200)")


def test_column_pruning(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("s"))
    assert_read_schema_only(q, {"l_returnflag", "l_quantity"})


def test_dim_join_broadcasts(spark, sf_dir):
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    q = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).groupBy("n_name").count()
    assert_broadcast_join(q)


def test_study_filter_pushdown(spark, sf_dir):
    """B1: the allow-list predicate reaches the scan of the dim table."""
    r = spark.read.parquet(f"{sf_dir}/region.parquet")
    q = r.filter(F.col("r_name") == "ASIA").select("r_regionkey")
    assert_pushed_filters(q, "EqualTo(r_name,ASIA)")


def _cdc_frame(spark):
    from picsure_dictionary_etl_spark.lake.table import bucket_expr

    df = spark.range(1000).select(
        F.col("id").alias("_lsn"),
        F.lit("U").alias("_op"),
        (F.col("id") % 50).cast("string").alias("conv_id"),
        (F.col("id") % 7).cast("int").alias("turn_idx"),
        F.lit("x").alias("text"),
        F.lit(None).cast("string").alias("role"),
    )
    return df.withColumn("_bucket", bucket_expr(["conv_id"], 8)).repartition(
        F.col("_bucket")
    )


def test_lww_reduce_is_single_shuffle(spark):
    """The batch MERGE's one-exchange plan: repartition(_bucket) is the
    ONLY exchange; the (bucket, keys) groupBy's distribution is already
    satisfied, so the LWW reduce runs exchange-free."""
    from picsure_dictionary_etl_spark.lake.merge import lww_winners

    w = lww_winners(_cdc_frame(spark), ["conv_id", "turn_idx"], ["text", "role"],
                    carry_cols=["_bucket"])
    assert_exchange_count(w, 1)


def test_combine_first_partial_agg_before_exchange(spark):
    """The skew-mode reduce (no explicit repartition) must plan a
    map-side partial aggregate BELOW the exchange — that's what absorbs
    a hot-key duplicate storm before any bytes move."""
    from picsure_dictionary_etl_spark.lake.merge import lww_winners
    from picsure_dictionary_etl_spark.lake.table import bucket_expr

    df = spark.range(1000).select(
        F.col("id").alias("_lsn"),
        F.lit("U").alias("_op"),
        (F.col("id") % 50).cast("string").alias("conv_id"),
        (F.col("id") % 7).cast("int").alias("turn_idx"),
        F.lit("x").alias("text"),
        F.lit(None).cast("string").alias("role"),
    ).withColumn("_bucket", bucket_expr(["conv_id"], 8))  # NO repartition
    w = lww_winners(df, ["conv_id", "turn_idx"], ["text", "role"], carry_cols=["_bucket"])
    plan = w._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    exchange_at = next(i for i, l in enumerate(lines) if "Exchange" in l)
    # toString prints children after parents: an Aggregate below the
    # exchange line = partial aggregation on the map side
    assert any("Aggregate" in l for l in lines[exchange_at + 1 :]), plan
    assert sum(1 for l in lines if "Exchange" in l and "Reused" not in l) == 1


def test_reingest_has_no_single_partition_exchange(spark, tmp_path):
    """The export re-ingest derives synthetic LSNs from a key hash —
    there must be NO Exchange SinglePartition (the global row_number
    sort it replaced) anywhere in the plan."""
    from picsure_dictionary_etl_spark.cdc.export import import_as_change_stream

    p = str(tmp_path / "exp")
    spark.range(100).select(
        F.col("id").cast("string").alias("conv_id"),
        (F.col("id") % 5).cast("int").alias("turn_idx"),
        F.lit("t").alias("text"),
    ).write.parquet(p)
    stream = import_as_change_stream(spark, p, fmt="parquet")
    plan = stream._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan
    # LSNs must clear start_lsn and be constant per key
    rows = stream.select("_lsn").collect()
    assert all(r["_lsn"] > 0 for r in rows)


def test_fieldwise_reduce_is_single_shuffle(spark):
    """The partial-update (D6/D7) reduce keeps the same one-exchange
    property — per-column max_by aggregates add no shuffle."""
    from picsure_dictionary_etl_spark.lake.merge import lww_winners_fieldwise

    w = lww_winners_fieldwise(
        _cdc_frame(spark), ["conv_id", "turn_idx"], ["text", "role"],
        carry_cols=["_bucket"],
    )
    assert_exchange_count(w, 1)


def test_mixed_resolve_is_single_shuffle(spark):
    """The MOR field-wise READ path (mixed full/partial resolve) is
    still one aggregate: the full-row ordering branch adds a per-column
    CASE, never a join or second exchange."""
    from picsure_dictionary_etl_spark.lake.merge import lww_winners_fieldwise

    df = _cdc_frame(spark).withColumn("_pu", F.col("_lsn") % 2 == 1)
    w = lww_winners_fieldwise(
        df, ["conv_id", "turn_idx"], ["text", "role"],
        carry_cols=["_bucket"], full_row_col="_pu",
    )
    assert_exchange_count(w, 1)
    plan = w._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan


def test_point_lookup_pushes_key_filter(spark, tmp_path):
    """read_keys must reach the parquet scan as an In() filter — that's
    what turns key-sorted row groups into skipped IO, on top of the
    bucket-level file pruning."""
    from picsure_dictionary_etl_spark.cdc.envelope import (
        TRANSCRIPT_KEY,
        change_event_schema,
        transcript_table_schema,
    )
    from picsure_dictionary_etl_spark.lake.merge import merge_into
    from picsure_dictionary_etl_spark.lake.table import LakeTable

    t = LakeTable.create(
        spark, str(tmp_path / "t"), schema=transcript_table_schema(),
        key_cols=TRANSCRIPT_KEY, bucket_by=["conv_id"], bucket_count=8,
    )
    rows = [(i + 1, "I", f"c{i % 20}", i % 7, "user", "x", None, None)
            for i in range(200)]
    merge_into(t, spark.createDataFrame(rows, change_event_schema()), "b0")
    # conv c3 appears at i = 3, 23, 43, ... (10 events) over distinct
    # turn_idx values i % 7 — LWW keeps one row per (conv, turn) key
    expect = len({i % 7 for i in range(3, 200, 20)})
    q = t.read_keys(["c3"])
    # Catalyst rewrites a 1-value isin to EqualTo; either form must
    # reach the scan's PushedFilters
    assert_pushed_filters(q, "EqualTo(conv_id,c3)")
    assert q.count() == expect
    q2 = t.read_keys(["c3", "c4"])
    assert_pushed_filters(q2, "In(conv_id, [c3,c4])")
    expect2 = expect + len({i % 7 for i in range(4, 200, 20)})
    assert q2.count() == expect2


def test_cdf_reads_only_changed_buckets(spark, tmp_path):
    """table_changes must be O(change): a commit touching ONE bucket
    plans tasks over only that bucket's files on both sides — never the
    full snapshots. The changed-bucket set is a metadata-only manifest
    diff, so unchanged buckets produce zero IO. (The reads run on
    executors, so the test checks the planned tasks' file lists.)"""
    from picsure_dictionary_etl_spark.cdc.envelope import (
        TRANSCRIPT_KEY,
        change_event_schema,
        transcript_table_schema,
    )
    from picsure_dictionary_etl_spark.lake.merge import merge_into, table_changes
    from picsure_dictionary_etl_spark.lake.table import LakeTable
    from picsure_dictionary_etl_spark.streaming.cdf_source import (
        _plan_cols,
        _span_tasks,
    )

    t = LakeTable.create(
        spark, str(tmp_path / "t"), schema=transcript_table_schema(),
        key_cols=TRANSCRIPT_KEY, bucket_by=["conv_id"], bucket_count=8,
    )
    rows = [(i + 1, "I", f"c{i % 40}", i % 5, "user", f"t{i}", None, None)
            for i in range(400)]
    merge_into(t, spark.createDataFrame(rows, change_event_schema()), "b0")
    v1 = t.current().version
    snap1 = t.snapshot(v1)
    assert len(snap1.files) == 8  # every bucket populated

    # batch 2 touches exactly one conversation -> exactly one bucket
    merge_into(t, spark.createDataFrame(
        [(1000, "U", "c7", 2, "user", "edited", None, None)],
        change_event_schema()), "b1")
    v2 = t.current().version
    snap2 = t.snapshot(v2)
    changed = {b for b in set(snap1.files) | set(snap2.files)
               if snap1.files.get(b) != snap2.files.get(b)}
    assert len(changed) == 1
    allowed = set()
    for b in changed:
        allowed.update(snap1.files.get(b, []))
        allowed.update(snap2.files.get(b, []))
    forbidden = (set(snap1.all_files()) | set(snap2.all_files())) - allowed
    assert forbidden  # the guard below must actually guard something

    keys, payload, dtypes, _ = _plan_cols(snap2)
    tasks = _span_tasks(t.root, keys, payload, dtypes, snap1, snap2)
    assert len(tasks) == 1
    read = {f for p in tasks for f in (*p.old_files, *p.new_files)}
    assert read, "CDF plans no files at all"
    assert read <= allowed
    assert not read & forbidden

    out = {(r["_change"], r["conv_id"], r["turn_idx"]): r["text"]
           for r in table_changes(t, v1, v2).collect()}
    assert out == {("U", "c7", 2): "edited"}

    # self-diff stays a zero-IO no-op
    assert _span_tasks(t.root, keys, payload, dtypes, snap2, snap2) == []
    assert table_changes(t, v2, v2).count() == 0


def test_keyed_pivot_skips_distinct_keys_job(spark):
    """F3/F1: pivot WITH explicit keys must not run Spark's eager
    distinct-values collection job at plan-build time (r5 verdict #6 —
    the reference enumerates and sorts keys anyway,
    DictionaryCSVService.java:455)."""
    from picsure_dictionary_etl_spark.operators import pivots

    sc = spark.sparkContext
    df = spark.createDataFrame(
        [("a", 1), ("b", 2), ("a", 3)], ["grp", "val"])

    sc.setJobGroup("pivot-keyed", "keyed pivot build")
    keyed = pivots.index_aligned_pivot(df, "grp", "val", keys=["a", "b"])
    assert list(sc.statusTracker().getJobIdsForGroup("pivot-keyed")) == []

    sc.setJobGroup("pivot-unkeyed", "unkeyed pivot build")
    unkeyed = pivots.index_aligned_pivot(df, "grp", "val")
    assert len(sc.statusTracker().getJobIdsForGroup("pivot-unkeyed")) >= 1
    sc.setJobGroup(None, None)

    assert ({tuple(r) for r in keyed.collect()}
            == {tuple(r) for r in unkeyed.collect()})
