"""The lake_cdf Structured-Streaming source: offset/partition planning,
executor-side pyarrow resolve, and bit-exact parity with the
Spark-plane change-feed oracle (tests/cdf_oracle.py)."""

import datetime

import pytest

from picsure_dictionary_etl_spark.cdc.envelope import change_event_schema
from picsure_dictionary_etl_spark.cdc.runner import CdcRunner, RunnerConfig
from picsure_dictionary_etl_spark.lake.table import LakeTable
from picsure_dictionary_etl_spark.streaming.cdf_source import (
    LakeChangeFeedDataSource,
    _resolve_live_pd,
)
from picsure_dictionary_etl_spark.streaming.xxhash_vec import spark_xxhash64_vec
from tests.cdf_oracle import spark_plane_changes
from tests.hash_parity import assert_xxhash64_parity

TS = datetime.datetime(2024, 1, 1, 12, 0, 0)
COLS = ["_change", "conv_id", "turn_idx", "role", "text", "tool", "ts", "_lsn"]


def _reader_rows(rd, parts):
    """Flatten the reader's pyarrow RecordBatch yield into value tuples
    (tz-aware datetimes made naive to compare with collect())."""
    out = set()
    for p in parts:
        for batch in rd.read(p):
            for row in batch.to_pylist():
                out.add(tuple(
                    v.replace(tzinfo=None)
                    if isinstance(v, datetime.datetime) else v
                    for v in row.values()
                ))
    return out


def _ev(spark, rows):
    return spark.createDataFrame(rows, change_event_schema())


def _collect_stream(spark, root, ckpt, out_dir):
    """Checkpointed pass into a parquet sink (the memory sink cannot
    recover offsets); returns THIS pass's rows (new files only)."""
    import glob
    import os

    before = set(glob.glob(os.path.join(out_dir, "*.parquet")))
    q = (
        spark.readStream.format("lake_cdf").option("path", root).load()
        .writeStream.format("parquet").option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    new = [f for f in glob.glob(os.path.join(out_dir, "*.parquet"))
           if f not in before and os.path.getsize(f) > 0]
    if not new:
        return set()
    return {tuple(r) for r in
            spark.read.parquet(*new).select(*COLS).collect()}


def test_stream_matches_batch_cdf_and_resumes(spark, tmp_path):
    """One availableNow pass == spark_plane_changes(0, current); a SECOND pass
    from the same checkpoint delivers ONLY the new versions' diff —
    Spark's offset log replaces the hand-rolled ack loop."""
    spark.dataSource.register(LakeChangeFeedDataSource)
    root = str(tmp_path / "t")
    r = CdcRunner(spark, RunnerConfig(table_root=root, bucket_count=4,
                                      normalize=False))
    r.apply_batch(_ev(spark, [
        (1, "I", "c1", 0, "user", "hello", None, TS),
        (2, "I", "c2", 0, "user", "hi", None, TS),
        (3, "I", "c1", 1, "assistant", "yo", None, TS)]), "b1")
    r.apply_batch(_ev(spark, [
        (4, "U", "c1", 0, "user", "hello EDITED", None, TS),
        (5, "D", "c2", 0, None, None, None, None),
        (6, "I", "c3", 0, "user", "new conv", None, TS)]), "b2")

    t = LakeTable.load(spark, root)
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    got = _collect_stream(spark, root, ckpt, out)
    want = {tuple(r) for r in
            spark_plane_changes(t, 0, t.current_version()).select(*COLS).collect()}
    assert got == want and len(got) == 3

    # advance the table; the SAME checkpoint must deliver only the delta
    v_before = t.current_version()
    r.apply_batch(_ev(spark, [
        (7, "U", "c3", 0, "user", "edited again", None, TS),
        (8, "D", "c1", 1, None, None, None, None)]), "b3")
    got2 = _collect_stream(spark, root, ckpt, out)
    want2 = {tuple(r) for r in
             spark_plane_changes(t, v_before, t.current_version())
             .select(*COLS).collect()}
    assert got2 == want2 and {r[0] for r in got2} == {"U", "D"}

    # caught up: another pass delivers nothing
    assert _collect_stream(spark, root, ckpt, out) == set()


def test_xxhash64_matches_spark(spark):
    """The streaming reader's LWW tie-break must be the engine's: the
    numpy XXH64 is bit-equal to F.xxhash64 across the payload type
    surface (string lengths straddling every block
    boundary, ints/longs at extremes, timestamps incl. pre-epoch,
    doubles incl. -0.0, nulls interleaved)."""
    from pyspark.sql import types as T

    rows = [
        ("", None, None, None),
        ("a", 1, 2 ** 40, True),
        ("x" * 31, -2147483648, -9223372036854775808, False),
        ("y" * 32, 2147483647, 9223372036854775807, True),
        ("z" * 33, 0, 0, None),
        ("w" * 100, -1, -1, False),
        ("unicode é ü 漢字", 7, 42, True),
        (None, None, None, None),
    ]
    schema = T.StructType([
        T.StructField("s", T.StringType()), T.StructField("i", T.IntegerType()),
        T.StructField("l", T.LongType()), T.StructField("b", T.BooleanType()),
    ])
    assert_xxhash64_parity(
        spark, spark.createDataFrame(rows, schema).toArrow().columns,
        ["string", "integer", "long", "boolean"])

    rows2 = [(datetime.datetime(2024, 5, 1, 12, 30, 15, 123456), 3.14159),
             (datetime.datetime(1969, 12, 31, 23, 59, 59), -0.0),
             (None, 0.0),
             (None, float("nan"))]  # NaN is a VALUE for doubles in Spark
    schema2 = T.StructType([T.StructField("t", T.TimestampType()),
                            T.StructField("d", T.DoubleType())])
    assert_xxhash64_parity(
        spark, spark.createDataFrame(rows2, schema2).toArrow().columns,
        ["timestamp", "double"])

    # r6 surface widening: float (incl. -0.0f/NaN), date (pre-epoch),
    # binary (block-boundary lengths, non-UTF-8), decimal(p<=18),
    # timestamp_ntz
    import decimal as _dec

    rows3 = [
        (1.5, datetime.date(2024, 5, 1), b"", _dec.Decimal("1.50"),
         datetime.datetime(2024, 5, 1, 12, 30, 15, 123456)),
        (-0.0, datetime.date(1969, 6, 30), b"\xff\xfe\x00raw", _dec.Decimal("-0.01"),
         datetime.datetime(1969, 12, 31, 23, 59, 59)),
        (float("nan"), datetime.date(1970, 1, 1), b"x" * 32, _dec.Decimal("0.00"),
         None),
        (0.0, None, b"y" * 33, _dec.Decimal("12345678901234.56"), None),
        (3.25, datetime.date(2100, 1, 2), None, None, None),
        (None, None, b"z" * 7, _dec.Decimal("-99999999999999.99"), None),
    ]
    schema3 = T.StructType([
        T.StructField("f", T.FloatType()), T.StructField("dt", T.DateType()),
        T.StructField("bin", T.BinaryType()),
        T.StructField("dec", T.DecimalType(16, 2)),
        T.StructField("tn", T.TimestampNTZType()),
    ])
    types3 = ["float", "date", "binary", "decimal(16,2)", "timestamp_ntz"]
    assert_xxhash64_parity(
        spark, spark.createDataFrame(rows3, schema3).toArrow().columns,
        types3)

    # late-r6 nested surface: arrays element-chain with null elements
    # SKIPPED ([1,null,2] == [1,2]; []/NULL leave the hash unchanged),
    # structs field-chain, wide decimals (p>18) hash their
    # BigInteger.toByteArray twos-complement bytes
    _dt = datetime.datetime
    rows4 = [
        (["a", "b"], [1, None, 2], {"k": "x", "v": 1},
         _dec.Decimal("123456789012345678901234.5678"), [1.5, float("nan")],
         [_dt(2024, 5, 1, 12, 30, 15, 123456), None]),
        (["a, b"], [], None, _dec.Decimal("-0.0001"), [-0.0],
         [_dt(1969, 12, 31, 23, 59, 59)]),
        (None, None, {"k": None, "v": None}, None, None, []),
        ([None, "x"], [0], {"k": "", "v": -1}, _dec.Decimal("0.0000"),
         [0.0, None], None),
        ([""], [1, 2], {"k": "y", "v": 2 ** 62},
         _dec.Decimal("-99999999999999999999999999.9999"), [2.5] * 5,
         [_dt(2024, 1, 1), _dt(2024, 1, 2)]),
    ]
    schema4 = T.StructType([
        T.StructField("ss", T.ArrayType(T.StringType())),
        T.StructField("ll", T.ArrayType(T.LongType())),
        T.StructField("st", T.StructType([
            T.StructField("k", T.StringType()),
            T.StructField("v", T.LongType())])),
        T.StructField("wd", T.DecimalType(30, 4)),
        T.StructField("dd", T.ArrayType(T.DoubleType())),
        T.StructField("ts", T.ArrayType(T.TimestampType())),
    ])
    types4 = [f.dataType.simpleString() for f in schema4.fields]
    assert_xxhash64_parity(
        spark, spark.createDataFrame(rows4, schema4).toArrow().columns,
        types4)

    # depth-unbounded nesting (late r6): array<array<long>>,
    # array<struct<..array..>>, struct<struct<..>, array<..>> — the
    # hash recurses with the same null-skip at every level
    rows5 = [
        ([[1, 2], [], None, [3, None]],
         [{"k": "a", "vs": [1.5, float("nan")]}, None],
         {"inner": {"x": 7}, "tags": ["t1", None]}),
        ([[]], [], {"inner": None, "tags": []}),
        (None, [{"k": None, "vs": None}], None),
        ([[0], [0]], [{"k": "", "vs": [-0.0]}],
         {"inner": {"x": None}, "tags": None}),
    ]
    schema5 = T.StructType([
        T.StructField("aa", T.ArrayType(T.ArrayType(T.LongType()))),
        T.StructField("asx", T.ArrayType(T.StructType([
            T.StructField("k", T.StringType()),
            T.StructField("vs", T.ArrayType(T.DoubleType()))]))),
        T.StructField("sn", T.StructType([
            T.StructField("inner", T.StructType([
                T.StructField("x", T.LongType())])),
            T.StructField("tags", T.ArrayType(T.StringType()))])),
    ])
    types5 = [f.dataType.simpleString() for f in schema5.fields]
    assert_xxhash64_parity(
        spark, spark.createDataFrame(rows5, schema5).toArrow().columns,
        types5)

    # r7 (judge ADVICE, high): BigInteger.toByteArray byte-LENGTH edges.
    # Unscaled values exactly -2^(8k-1) (-128, -32768, -2^31, -2^63,
    # -2^119) have Java bitLength 8k-1 -> MINIMAL k bytes (b'\x80...'),
    # where Python's v.bit_length() (magnitude bits) over-lengthens with
    # a redundant 0xFF. Their neighbours and the +2^(8k-1) duals (which
    # DO need the extra sign byte) pin both directions. decimal(38,2)
    # keeps every unscaled value in range (2^119 ~ 6.6e35, 36 digits).
    edge_unscaled = []
    for k8 in (7, 15, 31, 63, 119):
        edge_unscaled += [-(2 ** k8), -(2 ** k8) - 1, -(2 ** k8) + 1,
                          2 ** k8, 2 ** k8 - 1]
    rows6 = [(_dec.Decimal(u).scaleb(-2),) for u in edge_unscaled]
    schema6 = T.StructType([T.StructField("wd2", T.DecimalType(38, 2))])
    assert_xxhash64_parity(
        spark, spark.createDataFrame(rows6, schema6).toArrow().columns,
        ["decimal(38,2)"])

    # r7: decimal INSIDE struct/array — `struct<a:decimal(16,2),b:..>`
    # was false-rejected before the _split_top paren fix (the comma in
    # `(16,2)` split the field list); now it must parse AND hash
    # bit-equal, incl. the -2^(8k-1) minimal-byte-length edge
    rows7 = [
        ({"d": _dec.Decimal("-1.28"), "s": "x"}, [_dec.Decimal("2.50"), None]),
        ({"d": None, "s": ""}, []),
        (None, [_dec.Decimal("-0.01")]),
    ]
    schema7 = T.StructType([
        T.StructField("sd", T.StructType([
            T.StructField("d", T.DecimalType(20, 2)),
            T.StructField("s", T.StringType())])),
        T.StructField("ad", T.ArrayType(T.DecimalType(16, 2))),
    ])
    types7 = [f.dataType.simpleString() for f in schema7.fields]
    assert_xxhash64_parity(
        spark, spark.createDataFrame(rows7, schema7).toArrow().columns,
        types7)


def test_xxhash64_matches_spark_on_canonical_maps(spark):
    """r7 map surface: the numpy hash's map branch (key-sorted entry
    chaining) must be bit-equal to the ENGINE's hash of the canonical
    form — ``F.xxhash64(_canon_col(col))``, i.e. the key-sorted
    ``array_sort(map_entries(...))`` rewrite the Spark-side tie-break
    uses (raw MapType is unhashable by F.xxhash64). Covers: entry-order
    insensitivity ({a,b} built b-first), empty map vs NULL map, null
    VALUES (skipped like null array elements), non-string scalar keys
    (long / double incl. NaN and -0.0 / date / decimal / binary /
    boolean), nested values (array / struct / map-in-map), and the
    string-key code-point-vs-UTF-8 order edge (multi-byte chars)."""
    import datetime as _dt
    import decimal as _dec

    from pyspark.sql import types as T

    nan = float("nan")
    rows = [
        ({"a": 1, "b": 2}, {}, None, None, None),
        # same content as row 0's m1, but built in the OTHER entry
        # order — must hash identically (asserted below)
        ({"b": 2, "a": 1}, None, {2.5: "x", nan: "n", 0.0: "z"},
         {7: [1, None, 2]}, {"outer": {"in": 9}}),
        ({"": 0, "é漢": None}, {-0.0: "neg"}, {1.5: None},
         {-1: [], 0: None}, {"e": {}}),
        (None, {0.0: "pos"}, {}, None, {"n": None}),
    ]
    schema = T.StructType([
        T.StructField("m1", T.MapType(T.StringType(), T.LongType())),
        T.StructField("m2", T.MapType(T.DoubleType(), T.StringType())),
        T.StructField("m3", T.MapType(T.DoubleType(), T.StringType())),
        T.StructField("ma", T.MapType(
            T.LongType(), T.ArrayType(T.LongType()))),
        T.StructField("mm", T.MapType(T.StringType(), T.MapType(
            T.StringType(), T.LongType()))),
    ])
    tbl = spark.createDataFrame(rows, schema).toArrow()
    types = [f.dataType.simpleString() for f in schema.fields]
    assert_xxhash64_parity(spark, tbl.columns, types)
    # entry-order insensitivity: rows 0 and 1 share m1 content
    h = assert_xxhash64_parity(spark, [tbl.column("m1")], types[:1])
    assert h[0] == h[1]

    # scalar key types beyond string/double: date, decimal, binary,
    # boolean, timestamp — each sorted by natural value in both planes
    rows2 = [
        ({_dt.date(2024, 5, 1): 1, _dt.date(1969, 6, 30): 2},
         {_dec.Decimal("2.50"): "b", _dec.Decimal("-0.01"): "a"},
         {b"\xff": 1, b"\x00": 2}, {True: "t", False: "f"},
         {_dt.datetime(2024, 5, 1, 12, 0, 0, 123456): 1,
          _dt.datetime(1969, 12, 31, 23, 59, 59): 2}),
        (None, {_dec.Decimal("0.00"): ""}, {}, {False: None}, None),
    ]
    schema2 = T.StructType([
        T.StructField("kd", T.MapType(T.DateType(), T.LongType())),
        T.StructField("kc", T.MapType(T.DecimalType(16, 2), T.StringType())),
        T.StructField("kb", T.MapType(T.BinaryType(), T.LongType())),
        T.StructField("ko", T.MapType(T.BooleanType(), T.StringType())),
        T.StructField("kt", T.MapType(T.TimestampType(), T.LongType())),
    ])
    types2 = [f.dataType.simpleString() for f in schema2.fields]
    assert_xxhash64_parity(
        spark, spark.createDataFrame(rows2, schema2).toArrow().columns,
        types2)

    # maps buried INSIDE arrays and structs (any depth)
    rows3 = [
        ([{"x": 1}, None, {}], {"m": {"k": 2.0}, "tag": "t"}),
        ([], {"m": None, "tag": None}),
        (None, None),
    ]
    schema3 = T.StructType([
        T.StructField("am", T.ArrayType(
            T.MapType(T.StringType(), T.LongType()))),
        T.StructField("sm", T.StructType([
            T.StructField("m", T.MapType(T.StringType(), T.DoubleType())),
            T.StructField("tag", T.StringType())])),
    ])
    types3 = [f.dataType.simpleString() for f in schema3.fields]
    assert_xxhash64_parity(
        spark, spark.createDataFrame(rows3, schema3).toArrow().columns,
        types3)


def test_map_hash_property_hypothesis(spark):
    """Property (r7): for ANY map content — random string/long keys,
    nullable long / nested array values, extreme ints — the numpy
    map hash is (a) bit-equal to the engine's
    ``F.xxhash64(_canon_col(...))`` and (b) invariant under entry
    PERMUTATION (the physical order a writer happened to emit)."""
    import pyarrow as pa
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    longs = st.one_of(
        st.integers(-(2 ** 63), 2 ** 63 - 1), st.integers(-5, 5))
    m1 = st.dictionaries(st.text(alphabet="abéµ 1", max_size=4),
                         st.one_of(st.none(), longs), max_size=5)
    m2 = st.dictionaries(longs, st.one_of(
        st.none(), st.lists(st.one_of(st.none(), longs), max_size=3)),
        max_size=4)
    row = st.tuples(st.one_of(st.none(), m1), st.one_of(st.none(), m2))

    types = ["map<string,bigint>", "map<bigint,array<bigint>>"]
    arrow_types = [pa.map_(pa.string(), pa.int64()),
                   pa.map_(pa.int64(), pa.list_(pa.int64()))]

    @given(st.lists(row, min_size=1, max_size=6), st.randoms())
    @settings(max_examples=12, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    def check(rows, rnd):
        entries = [[None if r[j] is None else list(r[j].items()) for r in rows]
                   for j in range(len(arrow_types))]
        got = assert_xxhash64_parity(
            spark, [pa.array(c, t) for c, t in zip(entries, arrow_types)],
            types)
        # permutation invariance: shuffle each map's entry list
        for col in entries:
            for items in col:
                if items:
                    rnd.shuffle(items)
        shuf = [pa.array(c, t) for c, t in zip(entries, arrow_types)]
        assert list(spark_xxhash64_vec(shuf, types)) == list(got), rows

    check()


def test_pandas_resolve_matches_engine_on_equal_lsn_ties(spark):
    """Equal-LSN rows for one key: the engine breaks the tie by
    xxhash64(payload..., _op) (never bare LSN — r3 rule); the pyarrow
    reader must pick the IDENTICAL winner."""
    import pandas as pd

    from picsure_dictionary_etl_spark.lake.merge import resolve_live

    rows = [
        ("c1", 0, "user", "candidate A", None, "I", 10),
        ("c1", 0, "user", "candidate B", None, "I", 10),  # same LSN!
        ("c1", 0, "user", "older", None, "I", 5),
        ("c2", 0, "user", "lone", None, "I", 10),
        ("c3", 0, None, None, None, "D", 10),
        ("c3", 0, "user", "dead candidate", None, "I", 10),  # ties a delete
    ]
    from pyspark.sql import types as T

    cols = ["conv_id", "turn_idx", "role", "text", "tool", "_op", "_lsn"]
    schema = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("_op", T.StringType()),
        T.StructField("_lsn", T.LongType()),
    ])
    sdf = spark.createDataFrame(rows, schema)
    engine = {(r["conv_id"], r["turn_idx"]): (r["role"], r["text"])
              for r in resolve_live(sdf, ["conv_id", "turn_idx"],
                                    ["role", "text", "tool"]).collect()}
    pdf = pd.DataFrame(rows, columns=cols)
    mine = {(r.conv_id, r.turn_idx): (r.role, r.text)
            for r in _resolve_live_pd(
                pdf, ["conv_id", "turn_idx"], ["role", "text", "tool"],
                {"role": "string", "text": "string", "tool": "string"},
            ).itertuples()}
    assert mine == engine
    assert ("c1", 0) in engine  # the tie resolved to exactly one winner


def test_stream_rebucket_span_matches_batch_cdf(spark, tmp_path):
    """A rebucket inside the offset span moves keys across buckets: a
    per-bucket diff would fabricate D+I for every moved key. The source
    must collapse to one global-diff task and match spark_plane_changes
    exactly (review finding r5)."""
    from picsure_dictionary_etl_spark.lake.merge import rebucket
    from picsure_dictionary_etl_spark.streaming.cdf_source import _CdfStreamReader

    spark.dataSource.register(LakeChangeFeedDataSource)
    root = str(tmp_path / "rb")
    r = CdcRunner(spark, RunnerConfig(table_root=root, bucket_count=2,
                                      normalize=False))
    r.apply_batch(_ev(spark, [
        (i + 1, "I", f"c{i}", 0, "user", f"t{i}", None, TS) for i in range(8)
    ]), "b1")
    t = LakeTable.load(spark, root)
    v_before = t.current_version()

    rebucket(t, 8)  # keys redistribute across 8 buckets
    r2 = CdcRunner(spark, RunnerConfig(table_root=root, bucket_count=8,
                                       normalize=False))
    r2.apply_batch(_ev(spark, [
        (100, "U", "c0", 0, "user", "edited", None, TS)]), "b2")

    t = LakeTable.load(spark, root)
    rd = _CdfStreamReader({"path": root})
    parts = rd.partitions({"version": v_before},
                          {"version": t.current_version()})
    assert len(parts) == 1  # global-diff fallback, not per-bucket

    got = _reader_rows(rd, parts)
    want = {tuple(r) for r in
            spark_plane_changes(t, v_before, t.current_version())
            .select(*COLS).collect()}
    assert got == want  # ONLY the real edit; no phantom D+I from moves
    assert {row[0] for row in got} == {"U"}


def test_vacuumed_offset_is_typed_retention_error(spark, tmp_path):
    """A vacuumed from-version must surface the same typed retention
    error the batch consumer gives — never a raw FileNotFoundError."""
    from picsure_dictionary_etl_spark.lake.consume import ChangeFeedRetentionError
    from picsure_dictionary_etl_spark.streaming.cdf_source import _CdfStreamReader

    root = str(tmp_path / "vac")
    r = CdcRunner(spark, RunnerConfig(table_root=root, bucket_count=2,
                                      normalize=False))
    for i in range(4):
        r.apply_batch(_ev(spark, [
            (i + 1, "I", f"c{i}", 0, "user", "x", None, TS)]), f"b{i}")
    r.table.vacuum(keep_snapshots=2)
    rd = _CdfStreamReader({"path": root})
    with pytest.raises(ChangeFeedRetentionError, match="startversion"):
        rd.partitions({"version": 0}, {"version": 4})


def test_randomized_spans_match_batch_cdf(spark, tmp_path):
    """Seeded random workload (inserts/updates/deletes over a small hot
    key space, shuffled arrival order): for EVERY version span the
    reader's union-of-partitions output must equal spark_plane_changes —
    the streaming source's core contract under arbitrary histories."""
    import random

    from picsure_dictionary_etl_spark.streaming.cdf_source import _CdfStreamReader

    rng = random.Random(7)
    root = str(tmp_path / "rand")
    r = CdcRunner(spark, RunnerConfig(table_root=root, bucket_count=4,
                                      normalize=False))
    lsn = 0
    for b in range(3):
        rows = []
        for _ in range(40):
            lsn += 1
            conv, turn = f"c{rng.randrange(6)}", rng.randrange(3)
            op = rng.choice(["I", "U", "U", "D"])
            if op == "D":
                rows.append((lsn, "D", conv, turn, None, None, None, None))
            else:
                rows.append((lsn, op, conv, turn, "user",
                             f"t{lsn}", None, TS))
        r.apply_batch(_ev(spark, rows), f"b{b}")

    t = LakeTable.load(spark, root)
    cur = t.current_version()
    rd = _CdfStreamReader({"path": root})

    for sv in range(cur):
        for ev_ in range(sv + 1, cur + 1):
            got = _reader_rows(
                rd, rd.partitions({"version": sv}, {"version": ev_}))
            want = {tuple(r) for r in
                    spark_plane_changes(t, sv, ev_).select(*COLS).collect()}
            assert got == want, f"span {sv}->{ev_}"


def test_fieldwise_table_stream_matches_batch_cdf(spark, tmp_path):
    """Field-wise (_pu) tables stream natively: the pandas twin of
    lww_winners_fieldwise must match spark_plane_changes on EVERY span of a
    partial-update history — full-row-marker rules, delete boundaries,
    and equal-LSN ties included (r5 verdict item 4)."""
    from picsure_dictionary_etl_spark.streaming.cdf_source import _CdfStreamReader

    root = str(tmp_path / "pu")
    r = CdcRunner(spark, RunnerConfig(table_root=root, bucket_count=2,
                                      normalize=False, update_policy="coalesce"))
    r.apply_batch(_ev(spark, [
        (1, "I", "c1", 0, "user", "hello", "t0", TS),
        (2, "I", "c2", 0, "user", "hi", None, TS)]), "b1")
    # partial updates: only non-null fields specified
    r.apply_batch(_ev(spark, [
        (3, "U", "c1", 0, None, "hello EDITED", None, None),
        (4, "U", "c2", 0, "assistant", None, None, None)]), "b2")
    # delete + reinsert-partial + equal-LSN tie inside one batch
    r.apply_batch(_ev(spark, [
        (5, "D", "c1", 0, None, None, None, None),
        (6, "U", "c1", 0, None, "post-delete", None, None),
        (7, "U", "c2", 0, "tie-A", None, None, None),
        (7, "U", "c2", 0, "tie-B", None, None, None)]), "b3")

    t = LakeTable.load(spark, root)
    cur = t.current_version()
    rd = _CdfStreamReader({"path": root})
    for sv in range(cur):
        for ev_ in range(sv + 1, cur + 1):
            got = _reader_rows(
                rd, rd.partitions({"version": sv}, {"version": ev_}))
            want = {tuple(r) for r in
                    spark_plane_changes(t, sv, ev_).select(*COLS).collect()}
            assert got == want, f"span {sv}->{ev_}"


def test_file_uri_root_stream_matches_batch_cdf(spark, tmp_path):
    """URI-rooted tables stream through pyarrow.fs (the datasource
    callbacks have no JVM) — reader output must equal spark_plane_changes,
    and a registered availableNow pass must deliver the same rows
    (r5 verdict item 3)."""
    from picsure_dictionary_etl_spark.streaming.cdf_source import _CdfStreamReader

    spark.dataSource.register(LakeChangeFeedDataSource)
    root = f"file:{tmp_path}/uri"
    r = CdcRunner(spark, RunnerConfig(table_root=root, bucket_count=2,
                                      normalize=False))
    r.apply_batch(_ev(spark, [
        (1, "I", "c1", 0, "user", "hello", None, TS),
        (2, "I", "c2", 0, "user", "hi", None, TS)]), "b1")
    r.apply_batch(_ev(spark, [
        (3, "U", "c1", 0, "user", "edited", None, TS),
        (4, "D", "c2", 0, None, None, None, None)]), "b2")

    t = LakeTable.load(spark, root)
    rd = _CdfStreamReader({"path": root})
    got = _reader_rows(
        rd, rd.partitions({"version": 0}, {"version": t.current_version()}))
    want = {tuple(r) for r in
            spark_plane_changes(t, 0, t.current_version()).select(*COLS).collect()}
    assert got == want and len(got) == 1  # c1 insert+update folds; c2 I+D folds

    got_stream = _collect_stream(spark, root,
                                 str(tmp_path / "ckpt"), str(tmp_path / "out"))
    assert got_stream == want


def test_nan_vs_null_doubles_match_batch_cdf(spark, tmp_path):
    """A stored NaN double is a VALUE, not NULL (r5 advice): NaN->NaN
    must classify unchanged, NULL->NaN must classify as an update, and
    the streamed row must carry the NaN — exactly like the oracle's
    string-cast compare ('NaN' != NULL)."""
    import math

    from pyspark.sql import types as T

    from picsure_dictionary_etl_spark.lake.merge import merge_into
    from picsure_dictionary_etl_spark.streaming.cdf_source import _CdfStreamReader

    root = str(tmp_path / "nan")
    schema = T.StructType([
        T.StructField("id", T.StringType(), False),
        T.StructField("score", T.DoubleType(), True),
        T.StructField("_op", T.StringType(), False),
        T.StructField("_lsn", T.LongType(), False),
    ])
    t = LakeTable.create(spark, root, schema=schema, key_cols=["id"],
                         bucket_count=2)
    ev_schema = T.StructType([
        T.StructField("_lsn", T.LongType(), False),
        T.StructField("_op", T.StringType(), False),
        T.StructField("id", T.StringType(), False),
        T.StructField("score", T.DoubleType(), True),
    ])
    nan = float("nan")
    merge_into(t, spark.createDataFrame(
        [(1, "I", "a", nan), (2, "I", "b", None), (3, "I", "c", 1.5)],
        ev_schema), "b1")
    v1 = t.current_version()
    merge_into(t, spark.createDataFrame(
        [(4, "U", "a", nan),     # NaN -> NaN: unchanged
         (5, "U", "b", nan),     # NULL -> NaN: a change
         (6, "U", "c", None)],   # value -> NULL: a change
        ev_schema), "b2")
    v2 = t.current_version()

    rd = _CdfStreamReader({"path": root})
    got = {}
    for p in rd.partitions({"version": v1}, {"version": v2}):
        for batch in rd.read(p):
            for row in batch.to_pylist():
                got[(row["_change"], row["id"])] = row["score"]
    want = {}
    for r in spark_plane_changes(t, v1, v2).collect():
        want[(r["_change"], r["id"])] = r["score"]
    assert set(got) == set(want) == {("U", "b"), ("U", "c")}
    assert math.isnan(got[("U", "b")]) and math.isnan(want[("U", "b")])
    assert got[("U", "c")] is None and want[("U", "c")] is None


def test_max_versions_per_batch_paces_catchup(spark, tmp_path):
    """`.option("maxversionsperbatch", N)` bounds how many table
    versions one micro-batch spans: a stream far behind catches up in
    N-version steps (bounded tasks, incremental checkpoints) instead
    of one giant batch — and the paced stream emits the INTERMEDIATE
    states a single fold would collapse (same semantics as the poll/ack
    consumer's per-span reads). Nothing may be lost across passes."""
    from picsure_dictionary_etl_spark.streaming.cdf_source import _CdfStreamReader

    spark.dataSource.register(LakeChangeFeedDataSource)
    root = str(tmp_path / "paced")
    r = CdcRunner(spark, RunnerConfig(table_root=root, bucket_count=2,
                                      normalize=False))
    # 4 versions; c1 is touched twice so pacing is OBSERVABLE: the
    # per-version stream carries c1's intermediate value, a single
    # 0->4 fold would not
    r.apply_batch(_ev(spark, [(1, "I", "c1", 0, "user", "v1", None, TS)]), "b1")
    r.apply_batch(_ev(spark, [(2, "I", "c2", 0, "user", "v2", None, TS)]), "b2")
    r.apply_batch(_ev(spark, [(3, "U", "c1", 0, "user", "v3", None, TS)]), "b3")
    r.apply_batch(_ev(spark, [(4, "I", "c3", 0, "user", "v4", None, TS)]), "b4")
    t = LakeTable.load(spark, root)
    cur = t.current_version()
    assert cur >= 4

    # reader-level: drive the engine's offset protocol by hand
    rd = _CdfStreamReader({"path": root, "maxversionsperbatch": "1"})
    prev = int(rd.initialOffset()["version"])
    spans, rows = [], set()
    for _ in range(cur + 2):
        end = int(rd.latestOffset()["version"])
        if end == prev:
            break
        spans.append((prev, end))
        rows |= _reader_rows(rd, rd.partitions(
            {"version": prev}, {"version": end}))
        prev = end
    assert spans == [(v, v + 1) for v in range(cur)]  # paced 1 by 1
    want = set()
    for sv, ev_ in spans:
        want |= {tuple(r) for r in
                 spark_plane_changes(t, sv, ev_).select(*COLS).collect()}
    assert rows == want
    texts = {r[4] for r in rows if r[1] == "c1"}
    assert texts == {"v1", "v3"}  # intermediate state delivered

    # restart safety, mimicking the ENGINE's observed restart protocol
    # (traced via SPARK_GRAFT_CDF_DEBUG): a fresh runner process first
    # replays partitions(committed, committed) — a degenerate span even
    # when the last batch committed cleanly — which re-seeds the pace
    # cursor BEFORE any pacing decision; latestOffset then paces
    # forward from the checkpointed position, never behind it.
    rd2 = _CdfStreamReader({"path": root, "maxversionsperbatch": "1"})
    committed = cur - 1  # pretend the checkpoint sits one version back
    rd2.partitions({"version": committed}, {"version": committed})
    assert int(rd2.latestOffset()["version"]) == committed + 1 == cur

    # end-to-end: registered source + availableNow with the cap must
    # deliver everything (possibly across passes), losing nothing
    import glob
    import os

    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    got = set()
    for _ in range(cur + 2):
        q = (spark.readStream.format("lake_cdf").option("path", root)
             .option("maxversionsperbatch", "2").load()
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(180)
        files = [f for f in glob.glob(os.path.join(out, "*.parquet"))
                 if os.path.getsize(f) > 0]
        got = {tuple(r) for r in
               spark.read.parquet(*files).select(*COLS).collect()} if files else set()
        batches = sorted(int(f) for f in
                         os.listdir(os.path.join(ckpt, "offsets"))
                         if f.isdigit())
        last = open(os.path.join(ckpt, "offsets", str(batches[-1]))).read()
        if f'"version": {cur}' in last:
            break
    # every pass's offsets advanced by at most 2 versions
    import re as _re

    ends = []
    for f in sorted(int(x) for x in os.listdir(os.path.join(ckpt, "offsets"))
                    if x.isdigit()):
        txt = open(os.path.join(ckpt, "offsets", str(f))).read()
        m = _re.search(r'"version":\s*(\d+)', txt)
        if m:
            ends.append(int(m.group(1)))
    assert ends and ends[-1] == cur
    assert all(b - a <= 2 for a, b in zip(ends, ends[1:]))
    # delivered rows == the union of per-span batch change feeds over
    # the ACTUAL checkpointed spans (pacing may split one fold into
    # several, legitimately turning a folded I into I-then-U — so the
    # oracle is the span-wise oracle, not a single 0->cur fold)
    want_e2e = set()
    for sv, ev_ in zip([0] + ends, ends):
        want_e2e |= {tuple(r) for r in
                     spark_plane_changes(t, sv, ev_).select(*COLS).collect()}
    assert got == want_e2e


def test_max_bytes_per_batch_paces_by_manifest_sizes(spark, tmp_path):
    """`.option("maxbytesperbatch", B)` bounds a micro-batch's span by
    the manifests' recorded file sizes (metadata-only estimate of the
    span's write volume). A 1-byte budget degrades to one version per
    batch (the first version is always admitted — an oversized commit
    cannot stall the stream); a huge budget spans everything; nothing
    is lost either way."""
    from picsure_dictionary_etl_spark.streaming.cdf_source import _CdfStreamReader

    root = str(tmp_path / "bytes")
    r = CdcRunner(spark, RunnerConfig(table_root=root, bucket_count=2,
                                      normalize=False))
    for i in range(1, 5):
        r.apply_batch(_ev(spark, [(i, "I", f"c{i}", 0, "user", f"v{i}", None,
                                   TS)]), f"b{i}")
    t = LakeTable.load(spark, root)
    cur = t.current_version()
    assert cur >= 4

    def drive(opts):
        rd = _CdfStreamReader({"path": root, **opts})
        prev = int(rd.initialOffset()["version"])
        spans, rows = [], set()
        for _ in range(cur + 2):
            end = int(rd.latestOffset()["version"])
            if end == prev:
                break
            spans.append((prev, end))
            rows |= _reader_rows(rd, rd.partitions(
                {"version": prev}, {"version": end}))
            prev = end
        return spans, rows

    spans_tiny, rows_tiny = drive({"maxbytesperbatch": "1"})
    assert spans_tiny == [(v, v + 1) for v in range(cur)]  # 1 version/step

    spans_big, rows_big = drive({"maxbytesperbatch": str(1 << 40)})
    assert spans_big == [(0, cur)]  # budget covers everything: one span

    # composition: the tighter of the two caps wins
    spans_both, _ = drive({"maxbytesperbatch": "1",
                           "maxversionsperbatch": "10"})
    assert spans_both == spans_tiny

    # nothing lost under either pacing; the single-span fold may
    # collapse intermediate states, so compare against span-wise feeds
    for spans, rows in ((spans_tiny, rows_tiny), (spans_big, rows_big)):
        want = set()
        for sv, ev_ in spans:
            want |= {tuple(r) for r in
                     spark_plane_changes(t, sv, ev_).select(*COLS).collect()}
        assert rows == want

    # the budget walk matches the manifests: version 1's new-file bytes
    # exceed 1 byte (so the tiny budget really was the binding cap)
    snap1 = t.snapshot(1)
    assert sum(snap1.file_sizes.values()) > 1


def test_exotic_payload_types_stream_matches_batch_cdf(spark, tmp_path):
    """r6 type-surface widening, end to end: a table whose payload mixes
    float / date / binary / decimal(16,2) / timestamp_ntz streams
    bit-equal to spark_plane_changes — including the adversarial cases that
    motivated the per-type code: non-UTF-8 binary pairs that collapse
    under cast('string') (b'\\xff' vs b'\\xfe' must classify as a
    CHANGE in both planes), -0.0f vs 0.0f (a change), NaN->NaN float
    (unchanged), and an equal-LSN tie whose winner is picked by the
    xxhash64 ACROSS these types."""
    import math

    from pyspark.sql import types as T

    from picsure_dictionary_etl_spark.lake.merge import merge_into
    from picsure_dictionary_etl_spark.streaming.cdf_source import _CdfStreamReader

    root = str(tmp_path / "exotic")
    schema = T.StructType([
        T.StructField("id", T.StringType(), False),
        T.StructField("f", T.FloatType(), True),
        T.StructField("dt", T.DateType(), True),
        T.StructField("bin", T.BinaryType(), True),
        T.StructField("dec", T.DecimalType(16, 2), True),
        T.StructField("tn", T.TimestampNTZType(), True),
        T.StructField("_op", T.StringType(), False),
        T.StructField("_lsn", T.LongType(), False),
    ])
    t = LakeTable.create(spark, root, schema=schema, key_cols=["id"],
                         bucket_count=2)
    ev_schema = T.StructType(
        [T.StructField("_lsn", T.LongType(), False),
         T.StructField("_op", T.StringType(), False)] + list(schema.fields[:6])
    )
    import decimal as _dec

    d0, d1 = datetime.date(2024, 5, 1), datetime.date(1969, 6, 30)
    n0 = datetime.datetime(2024, 5, 1, 12, 30, 15, 123456)
    nan = float("nan")
    merge_into(t, spark.createDataFrame([
        (1, "I", "a", nan, d0, b"\xff\xfe\x00", _dec.Decimal("1.50"), n0),
        (2, "I", "b", -0.0, d1, b"x" * 33, _dec.Decimal("-0.01"), None),
        (3, "I", "c", 1.5, None, None, None, n0),
        (4, "I", "d", 2.5, d0, b"keep", _dec.Decimal("7.00"), n0),
    ], ev_schema), "b1")
    v1 = t.current_version()
    merge_into(t, spark.createDataFrame([
        (5, "U", "a", nan, d0, b"\xfe\xfe\x00", _dec.Decimal("1.50"), n0),
        # ^ ONLY the binary differs, and only in non-UTF-8 bytes
        (6, "U", "b", 0.0, d1, b"x" * 33, _dec.Decimal("-0.01"), None),
        # ^ ONLY -0.0f -> 0.0f
        (7, "U", "c", 1.5, d1, None, _dec.Decimal("0.00"), None),
        (8, "U", "d", 2.5, d0, b"keep", _dec.Decimal("7.00"), n0),
        # ^ byte-identical re-assert: NOT a change
        # equal-LSN tie on a fresh key: winner = max xxhash64 tie hash
        (9, "I", "e", 1.0, d0, b"tie-A", _dec.Decimal("1.00"), n0),
        (9, "I", "e", 2.0, d1, b"tie-B", _dec.Decimal("2.00"), None),
    ], ev_schema), "b2")
    v2 = t.current_version()

    cols = ["_change", "id", "f", "dt", "bin", "dec", "tn", "_lsn"]
    rd = _CdfStreamReader({"path": root})
    for sv, ev_ in [(v1, v2), (0, v2)]:
        got = _reader_rows(rd, rd.partitions({"version": sv}, {"version": ev_}))
        want = {tuple(r) for r in
                spark_plane_changes(t, sv, ev_).select(*cols).collect()}
        # NaN != NaN breaks set equality — compare via repr-normalized
        norm = lambda rows: {tuple("NaN" if isinstance(v, float)
                                   and math.isnan(v) else v for v in r)
                             for r in rows}
        assert norm(got) == norm(want), f"span {sv}->{ev_}"
    span = _reader_rows(rd, rd.partitions({"version": v1}, {"version": v2}))
    changed = {r[1] for r in span}
    assert changed == {"a", "b", "c", "e"}  # d is byte-identical: no row


def _canon(v):
    """Hashable, NaN- and tz-stable canonical form for nested
    collect/arrow rows (arrow yields tz-aware UTC datetimes where
    collect() yields session-naive ones — same instant)."""
    import math

    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None)
    if isinstance(v, list):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    return v


def test_nested_payload_types_stream_matches_batch_cdf(spark, tmp_path):
    """r6 nested-surface widening, end to end: array<string> /
    array<double> / struct<k,v> / decimal(30,4) payloads stream
    bit-equal to spark_plane_changes — including the adversarial cases that
    motivated the element-wise code: ['a, b'] -> ['a','b'] renders
    identically under cast('string') ('[a, b]') but MUST classify as a
    change in both planes; [] vs NULL array is a change; a NaN element
    re-asserted is NOT a change; 0.0 -> -0.0 inside an array is; a
    struct field nulling out is; and an equal-LSN tie on a fresh key
    picks the winner via the nested xxhash64."""
    import decimal as _dec

    from pyspark.sql import types as T

    from picsure_dictionary_etl_spark.lake.merge import merge_into
    from picsure_dictionary_etl_spark.streaming.cdf_source import (
        _CdfStreamReader,
    )

    root = str(tmp_path / "nested")
    tschema = T.StructType([
        T.StructField("id", T.StringType(), False),
        T.StructField("tags", T.ArrayType(T.StringType()), True),
        T.StructField("scores", T.ArrayType(T.DoubleType()), True),
        T.StructField("meta", T.StructType([
            T.StructField("k", T.StringType()),
            T.StructField("v", T.LongType())]), True),
        T.StructField("wd", T.DecimalType(30, 4), True),
        T.StructField("tss", T.ArrayType(T.TimestampType()), True),
        T.StructField("_op", T.StringType(), False),
        T.StructField("_lsn", T.LongType(), False),
    ])
    t = LakeTable.create(spark, root, schema=tschema, key_cols=["id"],
                         bucket_count=2)
    ev_schema = T.StructType(
        [T.StructField("_lsn", T.LongType(), False),
         T.StructField("_op", T.StringType(), False)] + list(tschema.fields[:6])
    )
    nan = float("nan")
    ts0 = datetime.datetime(2024, 5, 1, 12, 30, 15, 123456)
    ts1 = datetime.datetime(1969, 12, 31, 23, 59, 59)
    merge_into(t, spark.createDataFrame([
        (1, "I", "a", ["a, b"], [1.0, nan], {"k": "x", "v": 1},
         _dec.Decimal("1.5000"), [ts0, None]),
        (2, "I", "b", [], [0.0], None, _dec.Decimal("-2.0000"), []),
        (3, "I", "c", None, None, {"k": None, "v": 2}, None, None),
        (4, "I", "d", ["keep"], [2.5], {"k": "z", "v": 9},
         _dec.Decimal("7.0000"), [ts1]),
    ], ev_schema), "b1")
    v1 = t.current_version()
    merge_into(t, spark.createDataFrame([
        # ONLY ['a, b'] -> ['a','b']: both cast to '[a, b]' — ambiguous
        (5, "U", "a", ["a", "b"], [1.0, nan], {"k": "x", "v": 1},
         _dec.Decimal("1.5000"), [ts0, None]),
        # [] -> NULL array AND 0.0 -> -0.0 element
        (6, "U", "b", None, [-0.0], None, _dec.Decimal("-2.0000"), []),
        # byte-identical re-assert (NaN element included): NOT a change
        (7, "U", "c", None, None, {"k": None, "v": 2}, None, None),
        # struct field -> null AND a nested pre-epoch timestamp edit
        (8, "U", "d", ["keep"], [2.5], {"k": "z", "v": None},
         _dec.Decimal("7.0000"), [ts1, ts0]),
        # equal-LSN tie on a fresh key: winner = nested tie-break hash
        (9, "I", "e", ["t1"], [1.0], {"k": "a", "v": 1},
         _dec.Decimal("1.0000"), [ts0]),
        (9, "I", "e", ["t2"], [2.0], {"k": "b", "v": 2},
         _dec.Decimal("2.0000"), [ts1]),
    ], ev_schema), "b2")
    v2 = t.current_version()

    cols = ["_change", "id", "tags", "scores", "meta", "wd", "tss", "_lsn"]
    rd = _CdfStreamReader({"path": root})
    for sv, ev_ in [(v1, v2), (0, v2)]:
        got = set()
        for p in rd.partitions({"version": sv}, {"version": ev_}):
            for batch in rd.read(p):
                for row in batch.to_pylist():
                    got.add(tuple(_canon(row[c]) for c in cols))
        want = {
            tuple(_canon(r.asDict(recursive=True)[c]) for c in cols)
            for r in spark_plane_changes(t, sv, ev_).select(*cols).collect()
        }
        assert got == want, f"span {sv}->{ev_}"
    span_keys = set()
    for p in rd.partitions({"version": v1}, {"version": v2}):
        for batch in rd.read(p):
            span_keys |= {row["id"] for row in batch.to_pylist()}
    assert span_keys == {"a", "b", "d", "e"}  # c byte-identical: no row

    # and through the REAL engine: a readStream pass forwards the
    # nested arrow batches through the worker conversion path intact
    spark.dataSource.register(LakeChangeFeedDataSource)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (spark.readStream.format("lake_cdf").option("path", root).load()
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    got_stream = {
        tuple(_canon(r.asDict(recursive=True)[c]) for c in cols)
        for r in spark.read.parquet(out).select(*cols).collect()
    }
    want_full = {
        tuple(_canon(r.asDict(recursive=True)[c]) for c in cols)
        for r in spark_plane_changes(t, 0, v2).select(*cols).collect()
    }
    assert got_stream == want_full


def test_deep_nested_payloads_stream_matches_batch_cdf(spark, tmp_path):
    """Depth-unbounded nesting end to end (late r6): array<array<long>>,
    array<struct<..,array<double>>> and struct<struct,array> payloads
    stream bit-equal to spark_plane_changes — inner-level ambiguity
    ([['a, b']] -> [['a','b']]) classifies as a change, a deep NaN
    re-assert does NOT, a deep [] vs NULL does, and an equal-LSN tie
    resolves via the recursive hash identically in both planes."""
    from pyspark.sql import types as T

    from picsure_dictionary_etl_spark.lake.merge import merge_into
    from picsure_dictionary_etl_spark.streaming.cdf_source import (
        _CdfStreamReader,
    )

    root = str(tmp_path / "deep")
    tschema = T.StructType([
        T.StructField("id", T.StringType(), False),
        T.StructField("aa", T.ArrayType(T.ArrayType(T.StringType())), True),
        T.StructField("asx", T.ArrayType(T.StructType([
            T.StructField("k", T.StringType()),
            T.StructField("vs", T.ArrayType(T.DoubleType()))])), True),
        T.StructField("sn", T.StructType([
            T.StructField("inner", T.StructType([
                T.StructField("x", T.LongType())])),
            T.StructField("tags", T.ArrayType(T.StringType()))]), True),
        T.StructField("_op", T.StringType(), False),
        T.StructField("_lsn", T.LongType(), False),
    ])
    t = LakeTable.create(spark, root, schema=tschema, key_cols=["id"],
                         bucket_count=2)
    ev_schema = T.StructType(
        [T.StructField("_lsn", T.LongType(), False),
         T.StructField("_op", T.StringType(), False)] + list(tschema.fields[:4])
    )
    nan = float("nan")
    merge_into(t, spark.createDataFrame([
        (1, "I", "a", [["a, b"]], [{"k": "x", "vs": [1.0, nan]}],
         {"inner": {"x": 1}, "tags": ["t"]}),
        (2, "I", "b", [[]], [], {"inner": None, "tags": []}),
        (3, "I", "c", None, [{"k": None, "vs": [2.5]}],
         {"inner": {"x": None}, "tags": None}),
    ], ev_schema), "b1")
    v1 = t.current_version()
    merge_into(t, spark.createDataFrame([
        # inner-level ambiguity: [['a, b']] -> [['a','b']] must be U
        (4, "U", "a", [["a", "b"]], [{"k": "x", "vs": [1.0, nan]}],
         {"inner": {"x": 1}, "tags": ["t"]}),
        # deep [] -> NULL inner array must be U
        (5, "U", "b", [None], [], {"inner": None, "tags": []}),
        # byte-identical deep re-assert (NaN inside): NOT a change
        (6, "U", "c", None, [{"k": None, "vs": [2.5]}],
         {"inner": {"x": None}, "tags": None}),
        # equal-LSN tie on a fresh key -> recursive tie-break hash
        (7, "I", "e", [["p"]], [{"k": "a", "vs": [1.0]}], None),
        (7, "I", "e", [["q"]], [{"k": "b", "vs": [2.0]}], None),
    ], ev_schema), "b2")
    v2 = t.current_version()

    cols = ["_change", "id", "aa", "asx", "sn", "_lsn"]
    rd = _CdfStreamReader({"path": root})
    for sv, ev_ in [(v1, v2), (0, v2)]:
        got = set()
        for p in rd.partitions({"version": sv}, {"version": ev_}):
            for batch in rd.read(p):
                for row in batch.to_pylist():
                    got.add(tuple(_canon(row[c]) for c in cols))
        want = {
            tuple(_canon(r.asDict(recursive=True)[c]) for c in cols)
            for r in spark_plane_changes(t, sv, ev_).select(*cols).collect()
        }
        assert got == want, f"span {sv}->{ev_}"
    span_keys = set()
    for p in rd.partitions({"version": v1}, {"version": v2}):
        for batch in rd.read(p):
            span_keys |= {row["id"] for row in batch.to_pylist()}
    assert span_keys == {"a", "b", "e"}  # c byte-identical: no row


def test_map_payload_types_stream_matches_batch_cdf(spark, tmp_path):
    """r7 map surface, end to end: map<string,bigint> /
    array<map<...>> / map-in-map payloads stream bit-equal to
    spark_plane_changes — including THE map-defining case: the same content
    re-asserted with a different physical ENTRY ORDER ({a:1,b:2} vs
    {b:2,a:1}) must classify as NOT a change in both planes (map
    equality is set-of-entries, not entry-sequence); {} vs NULL map IS
    a change; a nested map-value edit is; and an equal-LSN tie on a
    fresh key resolves via the canonical key-sorted hash identically
    in both planes."""
    from pyspark.sql import types as T

    from picsure_dictionary_etl_spark.lake.merge import merge_into
    from picsure_dictionary_etl_spark.streaming.cdf_source import (
        _CdfStreamReader,
    )

    def cm(v):
        """Canonical map form for BOTH planes: Spark collect() yields
        dicts, arrow to_pylist() yields lists of (k, v) pairs."""
        if v is None:
            return None
        items = list(v.items()) if isinstance(v, dict) else list(v)
        return tuple(sorted(
            (k, cm(x) if isinstance(x, (dict, list)) else x)
            for k, x in items))

    def cam(v):
        return None if v is None else tuple(cm(e) for e in v)

    canon = {"m": cm, "am": cam, "mm": cm}

    root = str(tmp_path / "maps")
    tschema = T.StructType([
        T.StructField("id", T.StringType(), False),
        T.StructField("m", T.MapType(T.StringType(), T.LongType()), True),
        T.StructField("am", T.ArrayType(
            T.MapType(T.StringType(), T.LongType())), True),
        T.StructField("mm", T.MapType(T.StringType(), T.MapType(
            T.StringType(), T.StringType())), True),
        T.StructField("note", T.StringType(), True),
        T.StructField("_op", T.StringType(), False),
        T.StructField("_lsn", T.LongType(), False),
    ])
    t = LakeTable.create(spark, root, schema=tschema, key_cols=["id"],
                         bucket_count=2)
    ev_schema = T.StructType(
        [T.StructField("_lsn", T.LongType(), False),
         T.StructField("_op", T.StringType(), False)] + list(tschema.fields[:5])
    )
    merge_into(t, spark.createDataFrame([
        (1, "I", "a", {"a": 1, "b": 2}, [{"x": 1}, {}],
         {"o": {"i": "v"}}, "n1"),
        (2, "I", "b", {}, [], None, "n2"),
        (3, "I", "c", {"k": 1}, None, {"o": {}}, "n3"),
        (4, "I", "d", {"d": 1}, [{"p": 7}], None, "keep"),
    ], ev_schema), "b1")
    v1 = t.current_version()
    merge_into(t, spark.createDataFrame([
        # SAME content, REVERSED physical entry order: NOT a change
        (5, "U", "a", {"b": 2, "a": 1}, [{"x": 1}, {}],
         {"o": {"i": "v"}}, "n1"),
        # {} -> NULL map: a change
        (6, "U", "b", None, [], None, "n2"),
        # nested map-VALUE edit: a change
        (7, "U", "c", {"k": 1}, None, {"o": {"i2": "w"}}, "n3"),
        # byte-identical re-assert: no row
        (8, "U", "d", {"d": 1}, [{"p": 7}], None, "keep"),
        # equal-LSN tie on a fresh key -> canonical map tie-break hash
        (9, "I", "e", {"t": 1}, None, None, "tie-A"),
        (9, "I", "e", {"t": 2}, None, None, "tie-B"),
    ], ev_schema), "b2")
    v2 = t.current_version()

    cols = ["_change", "id", "m", "am", "mm", "note", "_lsn"]
    rd = _CdfStreamReader({"path": root})
    for sv, ev_ in [(v1, v2), (0, v2)]:
        got = set()
        for p in rd.partitions({"version": sv}, {"version": ev_}):
            for batch in rd.read(p):
                for row in batch.to_pylist():
                    got.add(tuple(
                        canon.get(c, lambda x: x)(row[c]) for c in cols))
        want = {
            tuple(canon.get(c, lambda x: x)(r.asDict(recursive=True)[c])
                  for c in cols)
            for r in spark_plane_changes(t, sv, ev_).select(*cols).collect()
        }
        assert got == want, f"span {sv}->{ev_}"
    span_keys = set()
    for p in rd.partitions({"version": v1}, {"version": v2}):
        for batch in rd.read(p):
            span_keys |= {row["id"] for row in batch.to_pylist()}
    # a: entry order only — no row; d: byte-identical — no row
    assert span_keys == {"b", "c", "e"}

    # through the REAL engine: readStream forwards arrow MAP batches
    # through the python-datasource worker conversion intact
    spark.dataSource.register(LakeChangeFeedDataSource)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (spark.readStream.format("lake_cdf").option("path", root).load()
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    got_stream = {
        tuple(canon.get(c, lambda x: x)(r.asDict(recursive=True)[c])
              for c in cols)
        for r in spark.read.parquet(out).select(*cols).collect()
    }
    want_full = {
        tuple(canon.get(c, lambda x: x)(r.asDict(recursive=True)[c])
              for c in cols)
        for r in spark_plane_changes(t, 0, v2).select(*cols).collect()
    }
    assert got_stream == want_full


def test_fieldwise_table_with_array_column_streams(spark, tmp_path):
    """Field-wise (_pu) resolve over a nested column: a partial update
    that leaves the array unspecified must keep the older array value
    (coalesce read), and the stream must match spark_plane_changes."""
    import decimal as _dec

    from pyspark.sql import types as T

    from picsure_dictionary_etl_spark.lake.merge import merge_into
    from picsure_dictionary_etl_spark.streaming.cdf_source import (
        _CdfStreamReader,
    )

    root = str(tmp_path / "fw")
    tschema = T.StructType([
        T.StructField("id", T.StringType(), False),
        T.StructField("tags", T.ArrayType(T.StringType()), True),
        T.StructField("note", T.StringType(), True),
        T.StructField("_op", T.StringType(), False),
        T.StructField("_lsn", T.LongType(), False),
    ])
    t = LakeTable.create(spark, root, schema=tschema, key_cols=["id"],
                         bucket_count=2)
    ev_schema = T.StructType(
        [T.StructField("_lsn", T.LongType(), False),
         T.StructField("_op", T.StringType(), False)]
        + list(tschema.fields[:3])
    )
    merge_into(t, spark.createDataFrame([
        (1, "I", "a", ["x", "y"], "first"),
        (2, "I", "b", ["b0"], "keep"),
    ], ev_schema), "b1")
    v1 = t.current_version()
    merge_into(t, spark.createDataFrame([
        # partial: note changes, tags UNSPECIFIED -> older ['x','y'] holds
        (3, "U", "a", None, "second"),
        # partial: tags change, note unspecified
        (4, "U", "b", ["b1", "b2"], None),
    ], ev_schema), "b2", update_policy="coalesce")
    v2 = t.current_version()

    cols = ["_change", "id", "tags", "note", "_lsn"]
    rd = _CdfStreamReader({"path": root})
    parts = rd.partitions({"version": v1}, {"version": v2})
    # the span flips the table's update_policy, which reads never
    # consult (they dispatch on _pu): it plans only the changed buckets
    s1, s2 = t.snapshot(v1), t.snapshot(v2)
    assert s1.properties.get("update_policy", "row") == "row"
    assert s2.properties["update_policy"] == "coalesce"
    changed = [b for b in sorted(set(s1.files) | set(s2.files))
               if s1.files.get(b) != s2.files.get(b)]
    assert [p.new_files for p in parts] == [s2.files[b] for b in changed]
    got = set()
    for p in parts:
        for batch in rd.read(p):
            for row in batch.to_pylist():
                got.add(tuple(_canon(row[c]) for c in cols))
    want = {
        tuple(_canon(r.asDict(recursive=True)[c]) for c in cols)
        for r in spark_plane_changes(t, v1, v2).select(*cols).collect()
    }
    assert got == want
    by_id = {r[1]: r for r in got}
    assert by_id["a"][2] == ("x", "y")  # unspecified array held
    assert by_id["a"][3] == "second"
    assert by_id["b"][2] == ("b1", "b2")
    assert by_id["b"][3] == "keep"  # unspecified scalar held


def test_fieldwise_table_with_map_column_streams(spark, tmp_path):
    """Field-wise (_pu) resolve over a MAP column (r7): a partial
    update that leaves the map unspecified keeps the older map value
    (coalesce read), a specified map replaces WHOLE-VALUE (field-wise
    granularity is per COLUMN, never per map entry), and the stream
    must match spark_plane_changes — exercising the pandas fieldwise twin's
    take/where path on an ArrowDtype map column."""
    from pyspark.sql import types as T

    from picsure_dictionary_etl_spark.lake.merge import merge_into
    from picsure_dictionary_etl_spark.streaming.cdf_source import (
        _CdfStreamReader,
    )

    def cmap(v):
        if v is None:
            return None
        items = list(v.items()) if isinstance(v, dict) else list(v)
        return tuple(sorted(items))

    root = str(tmp_path / "fwm")
    tschema = T.StructType([
        T.StructField("id", T.StringType(), False),
        T.StructField("attrs", T.MapType(T.StringType(), T.LongType()), True),
        T.StructField("note", T.StringType(), True),
        T.StructField("_op", T.StringType(), False),
        T.StructField("_lsn", T.LongType(), False),
    ])
    t = LakeTable.create(spark, root, schema=tschema, key_cols=["id"],
                         bucket_count=2)
    ev_schema = T.StructType(
        [T.StructField("_lsn", T.LongType(), False),
         T.StructField("_op", T.StringType(), False)]
        + list(tschema.fields[:3])
    )
    merge_into(t, spark.createDataFrame([
        (1, "I", "a", {"x": 1, "y": 2}, "first"),
        (2, "I", "b", {"b": 0}, "keep"),
    ], ev_schema), "b1")
    v1 = t.current_version()
    merge_into(t, spark.createDataFrame([
        # partial: note changes, map UNSPECIFIED -> older {x,y} holds
        (3, "U", "a", None, "second"),
        # partial: map REPLACED whole-value ({'b':0} does not merge in)
        (4, "U", "b", {"c": 9}, None),
    ], ev_schema), "b2", update_policy="coalesce")
    v2 = t.current_version()

    cols = ["_change", "id", "attrs", "note", "_lsn"]
    rd = _CdfStreamReader({"path": root})
    got = set()
    for p in rd.partitions({"version": v1}, {"version": v2}):
        for batch in rd.read(p):
            for row in batch.to_pylist():
                got.add(tuple(
                    cmap(row[c]) if c == "attrs" else row[c] for c in cols))
    want = {
        tuple(cmap(r.asDict(recursive=True)[c]) if c == "attrs" else
              r.asDict(recursive=True)[c] for c in cols)
        for r in spark_plane_changes(t, v1, v2).select(*cols).collect()
    }
    assert got == want
    by_id = {r[1]: r for r in got}
    assert by_id["a"][2] == (("x", 1), ("y", 2))  # unspecified map held
    assert by_id["a"][3] == "second"
    assert by_id["b"][2] == (("c", 9),)  # whole-value replace
    assert by_id["b"][3] == "keep"


def test_stream_across_additive_schema_evolution(spark, tmp_path):
    """Additive evolve() and the stream (r7 pin of the documented
    contract): a reader planned BEFORE the evolution keeps the narrow
    schema for its lifetime — a row whose change is ONLY in the new
    column classifies as unchanged; a reader planned AFTER (the
    restart path — Structured Streaming re-creates sources on
    restart) reads spans straddling the boundary with the new column
    null-filled from pre-evolution files, matching spark_plane_changes. A
    checkpointed engine-level restart across the boundary resumes
    cleanly and delivers the widened rows."""
    from pyspark.sql import types as T

    from picsure_dictionary_etl_spark.lake.merge import merge_into
    from picsure_dictionary_etl_spark.streaming.cdf_source import (
        _CdfStreamReader,
    )

    spark.dataSource.register(LakeChangeFeedDataSource)
    root = str(tmp_path / "evo")
    r = CdcRunner(spark, RunnerConfig(table_root=root, bucket_count=2,
                                      normalize=False))
    r.apply_batch(_ev(spark, [
        (1, "I", "c1", 0, "user", "hello", None, TS),
        (2, "I", "c2", 0, "user", "hi", None, TS)]), "b1")
    t = LakeTable.load(spark, root)
    v1 = t.current_version()

    rd_narrow = _CdfStreamReader({"path": root})  # pins pre-evolution

    # engine pass 1 (pre-evolution, checkpointed)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    got1 = _collect_stream(spark, root, ckpt, out)
    assert {g[1] for g in got1} == {"c1", "c2"}

    t.evolve_schema([T.StructField("model", T.StringType(), True)])
    wide = T.StructType([
        T.StructField("_lsn", T.LongType()),
        T.StructField("_op", T.StringType()),
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("model", T.StringType()),
    ])
    merge_into(t, spark.createDataFrame([
        # c1: a REAL text change (model stays null)
        (3, "U", "c1", 0, "user", "edited", None, TS, None),
        # c2: the ONLY change is the NEW column
        (4, "U", "c2", 0, "user", "hi", None, TS, "m-1"),
    ], wide), "b2")
    v2 = t.current_version()

    # narrow reader (planned pre-evolution): c2's model-only change is
    # invisible — exactly the documented fixed-schema contract
    got_narrow = _reader_rows(
        rd_narrow, rd_narrow.partitions({"version": v1}, {"version": v2}))
    assert {g[1] for g in got_narrow} == {"c1"}
    assert all(len(g) == len(COLS) for g in got_narrow)

    # wide reader (the restart path): both rows, model null-filled
    # where pre-evolution files lack it — bit-equal to spark_plane_changes
    rd_wide = _CdfStreamReader({"path": root})
    wcols = COLS[:-1] + ["model", "_lsn"]
    got_wide = set()
    for p in rd_wide.partitions({"version": v1}, {"version": v2}):
        for batch in rd_wide.read(p):
            for row in batch.to_pylist():
                got_wide.add(tuple(
                    v.replace(tzinfo=None)
                    if isinstance(v, datetime.datetime) else v
                    for v in (row[c] for c in wcols)))
    want = {tuple(r) for r in
            spark_plane_changes(t, v1, v2).select(*wcols).collect()}
    assert got_wide == want
    assert {(g[1], g[7]) for g in got_wide} == {("c1", None), ("c2", "m-1")}

    # full-history span through the wide reader: pre-evolution winners
    # carry model=null, equal to the batch plane
    got_full = set()
    for p in rd_wide.partitions({"version": 0}, {"version": v2}):
        for batch in rd_wide.read(p):
            for row in batch.to_pylist():
                got_full.add(tuple(
                    v.replace(tzinfo=None)
                    if isinstance(v, datetime.datetime) else v
                    for v in (row[c] for c in wcols)))
    want_full = {tuple(r) for r in
                 spark_plane_changes(t, 0, v2).select(*wcols).collect()}
    assert got_full == want_full

    # engine-level restart across the boundary: same checkpoint, the
    # re-created source plans the WIDE schema and delivers the span
    import glob as _glob
    import os as _os

    before = set(_glob.glob(_os.path.join(out, "*.parquet")))
    q = (spark.readStream.format("lake_cdf").option("path", root).load()
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    new = [f for f in _glob.glob(_os.path.join(out, "*.parquet"))
           if f not in before and _os.path.getsize(f) > 0]
    got2 = {(r["conv_id"], r["_change"], r["text"], r["model"])
            for r in spark.read.parquet(*new).collect()}
    assert got2 == {("c1", "U", "edited", None), ("c2", "U", "hi", "m-1")}


def test_initial_snapshot_bootstraps_vacuumed_history(spark, tmp_path):
    """`.option("initialsnapshot", "true")`: the FIRST micro-batch
    delivers the table's full resolved state as 'I' rows (old side =
    EMPTY) even when v0 is beyond retention — the only sound bootstrap
    for a vacuumed table (startversion=0 raises retention, and the
    oldest retained version would silently miss keys last touched
    before it). Later batches stream incrementally from the same
    checkpoint; pacing never slices the bootstrap span."""
    from picsure_dictionary_etl_spark.lake.consume import (
        ChangeFeedRetentionError,
    )
    from picsure_dictionary_etl_spark.lake.merge import resolve_live
    from picsure_dictionary_etl_spark.streaming.cdf_source import (
        _CdfStreamReader,
    )

    spark.dataSource.register(LakeChangeFeedDataSource)
    root = str(tmp_path / "t")
    r = CdcRunner(spark, RunnerConfig(table_root=root, bucket_count=4,
                                      normalize=False))
    r.apply_batch(_ev(spark, [
        (1, "I", "c1", 0, "user", "hello", None, TS),
        (2, "I", "c2", 0, "user", "early key", None, TS)]), "b1")
    r.apply_batch(_ev(spark, [
        (3, "U", "c1", 0, "user", "hello v2", None, TS)]), "b2")
    r.apply_batch(_ev(spark, [
        (4, "I", "c3", 0, "user", "late key", None, TS)]), "b3")
    t = LakeTable.load(spark, root)
    t.vacuum(keep_snapshots=2)  # v0/v1 gone: c2 only exists pre-retention

    # plain startversion=0 is beyond retention now
    with pytest.raises(ChangeFeedRetentionError):
        rd = _CdfStreamReader({"path": root})
        rd.partitions({"version": 0}, {"version": t.current_version()})

    # bootstrap: one availableNow pass == the FULL live state as I rows
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    got = _collect_stream_opts(spark, root, ckpt, out,
                               {"initialsnapshot": "true"})
    live = resolve_live(t.read(), ["conv_id", "turn_idx"],
                        ["role", "text", "tool", "ts"])
    want = {("I",) + tuple(r) for r in live.select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts", "_lsn"
    ).collect()}
    assert got == want and {r[1] for r in got} == {"c1", "c2", "c3"}
    assert all(r[0] == "I" for r in got)

    # the SAME checkpoint continues incrementally
    v_before = t.current_version()
    r.apply_batch(_ev(spark, [
        (5, "U", "c2", 0, "user", "edited later", None, TS),
        (6, "D", "c3", 0, None, None, None, None)]), "b4")
    got2 = _collect_stream_opts(spark, root, ckpt, out,
                                {"initialsnapshot": "true"})
    want2 = {tuple(r) for r in
             spark_plane_changes(t, v_before, t.current_version())
             .select(*COLS).collect()}
    assert got2 == want2 and {r[0] for r in got2} == {"U", "D"}

    # mutually exclusive with startversion
    with pytest.raises(ValueError, match="mutually exclusive"):
        _CdfStreamReader({"path": root, "initialsnapshot": "true",
                          "startversion": "1"})

    # pacing composes: version cap does NOT slice the bootstrap span
    rd = _CdfStreamReader({"path": root, "initialsnapshot": "true",
                           "maxversionsperbatch": "1"})
    assert rd.initialOffset() == {"version": -1}
    first_end = rd.latestOffset()["version"]
    assert first_end == t.current_version()  # uncapped bootstrap
    rows = _reader_rows(rd, rd.partitions({"version": -1},
                                          {"version": first_end}))
    assert {r[1] for r in rows} == {"c1", "c2"}  # c3 deleted by now
    assert all(r[0] == "I" for r in rows)
    # pre-snapshot replay (restart before first commit) plans nothing
    assert rd.partitions({"version": -1}, {"version": -1}) == []


def _collect_stream_opts(spark, root, ckpt, out_dir, opts):
    """_collect_stream with extra reader options."""
    import glob
    import os

    before = set(glob.glob(os.path.join(out_dir, "*.parquet")))
    reader = spark.readStream.format("lake_cdf").option("path", root)
    for k, v in opts.items():
        reader = reader.option(k, v)
    q = (reader.load()
         .writeStream.format("parquet").option("path", out_dir)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    new = [f for f in glob.glob(os.path.join(out_dir, "*.parquet"))
           if f not in before and os.path.getsize(f) > 0]
    if not new:
        return set()
    return {tuple(r) for r in
            spark.read.parquet(*new).select(*COLS).collect()}


def test_startingtimestamp_resolves_to_version_base(spark, tmp_path):
    """`.option("startingtimestamp", ts)`: stream every change committed
    at-or-after the wall-clock — resolved to a base version at PLAN
    time from the manifests' monotone committed_at stamps. A cut after
    the head waits at the head; one before all history is the bootstrap
    offset; one whose base is vacuumed raises the typed retention
    error; mutually exclusive with startversion/initialsnapshot."""
    from picsure_dictionary_etl_spark.lake.consume import (
        ChangeFeedRetentionError,
    )
    from picsure_dictionary_etl_spark.streaming.cdf_source import (
        _CdfStreamReader,
        _version_before_timestamp,
    )

    spark.dataSource.register(LakeChangeFeedDataSource)
    root = str(tmp_path / "t")
    r = CdcRunner(spark, RunnerConfig(table_root=root, bucket_count=4,
                                      normalize=False))
    r.apply_batch(_ev(spark, [
        (1, "I", "c1", 0, "user", "one", None, TS)]), "b1")
    r.apply_batch(_ev(spark, [
        (2, "I", "c2", 0, "user", "two", None, TS)]), "b2")
    r.apply_batch(_ev(spark, [
        (3, "U", "c1", 0, "user", "one v2", None, TS)]), "b3")
    t = LakeTable.load(spark, root)
    cur = t.current_version()
    ts = [t.snapshot(v).committed_at for v in range(cur + 1)]

    # at v2's stamp -> base 1 (v2+v3 stream); just before v3 -> base 2;
    # after the head -> the head (waits); before all -> bootstrap (-1)
    assert _version_before_timestamp(root, ts[2]) == 1
    assert _version_before_timestamp(root, ts[3] - 1) == 2
    assert _version_before_timestamp(root, ts[3] + 10**9) == cur
    assert _version_before_timestamp(root, ts[0] - 1) == -1

    # end to end through readStream: int-micros and ISO forms
    import datetime as dt
    want = {tuple(x) for x in
            spark_plane_changes(t, 1, cur).select(*COLS).collect()}
    got = _collect_stream_opts(spark, root, str(tmp_path / "ck1"),
                               str(tmp_path / "o1"),
                               {"startingtimestamp": str(ts[2])})
    assert got == want and {x[1] for x in got} == {"c1", "c2"}
    iso = dt.datetime.fromtimestamp(
        ts[2] / 1e6, dt.timezone.utc).isoformat()
    got_iso = _collect_stream_opts(spark, root, str(tmp_path / "ck2"),
                                   str(tmp_path / "o2"),
                                   {"startingtimestamp": iso})
    assert got_iso == want

    # plan-time option conflicts
    with pytest.raises(ValueError, match="mutually exclusive"):
        _CdfStreamReader({"path": root, "startingtimestamp": str(ts[2]),
                          "startversion": "1"})
    with pytest.raises(ValueError, match="mutually exclusive"):
        _CdfStreamReader({"path": root, "startingtimestamp": str(ts[2]),
                          "initialsnapshot": "true"})

    # a cut whose base version is vacuumed fails typed at plan time
    t.vacuum(keep_snapshots=1)
    with pytest.raises(ChangeFeedRetentionError):
        _CdfStreamReader({"path": root, "startingtimestamp": str(ts[2])})



def _canon(v):
    """One Arrow-read value, hashable and comparable: naive datetimes,
    maps (dicts or lists of key-value tuples) order-free, and a NaN
    double as the string ``"NaN"`` (so NaN equals NaN, never null)."""
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None)
    if isinstance(v, float) and v != v:
        return "NaN"
    if isinstance(v, dict):
        return tuple(sorted(((k, _canon(x)) for k, x in v.items()), key=repr))
    if isinstance(v, (list, tuple)):
        items = tuple(_canon(x) for x in v)
        # a map reads as a list of (key, value) tuples: order-free
        is_map = isinstance(v, list) and v and isinstance(v[0], tuple)
        return tuple(sorted(items, key=repr)) if is_map else items
    return v


def _arrow_feed(df, cols):
    """A feed DataFrame as a set of hashable rows, read through Arrow:
    maps whose keys are arrays or structs have no Python dict form."""
    return {tuple(_canon(v) for v in r.values())
            for r in df.select(*cols).toArrow().to_pylist()}


def _assert_feeds_match_oracle(spark, t, spans, cols):
    """table_changes and the lake_cdf batch read equal the Spark-plane
    oracle on every span."""
    from picsure_dictionary_etl_spark.lake.merge import table_changes

    spark.dataSource.register(LakeChangeFeedDataSource)
    for sv, ev_ in spans:
        want = _arrow_feed(spark_plane_changes(t, sv, ev_), cols)
        assert _arrow_feed(table_changes(t, sv, ev_), cols) == want, (sv, ev_)
        opts = ({"initialsnapshot": "true"} if sv < 0
                else {"startversion": str(sv)})
        rd = (spark.read.format("lake_cdf").option("path", t.root)
              .option("endversion", str(ev_)).options(**opts).load())
        assert _arrow_feed(rd, cols) == want, (sv, ev_)


def test_unsupported_seams_are_typed_plan_time_errors(spark, tmp_path):
    """Plan-time checks fail typed: payload types outside the xxhash64
    surface, map-typed keys, unresolvable root schemes, and a
    caller-reordered schema (which would silently flip the equal-LSN
    tie-break hash order). Nested map keys and array keys plan, and
    their feeds equal the Spark-plane oracle."""
    from pyspark.sql import types as T

    from picsure_dictionary_etl_spark.lake.merge import merge_into, table_changes
    from picsure_dictionary_etl_spark.streaming.cdf_source import (
        _CdfStreamReader,
        _check_supported,
    )

    root = str(tmp_path / "dt")
    schema = T.StructType([
        T.StructField("id", T.StringType(), False),
        # maps with NESTED keys sort their entries by _order_rank
        T.StructField("m", T.MapType(
            T.ArrayType(T.LongType()), T.StringType()), True),
        T.StructField("_op", T.StringType(), False),
        T.StructField("_lsn", T.LongType(), False),
    ])
    t = LakeTable.create(spark, root, schema=schema, key_cols=["id"],
                         bucket_count=2)
    _CdfStreamReader({"path": root})  # plans
    ev_schema = T.StructType([schema.fields[3], schema.fields[2],
                              *schema.fields[:2]])
    merge_into(t, spark.createDataFrame([
        (1, "I", "a", {(1, 2): "x", (1,): "y", (1, None): "n"}),
        (2, "I", "b", {(3,): "z"}),
        (3, "I", "c", {}),
    ], ev_schema), "m1")
    v1 = t.current_version()
    merge_into(t, spark.createDataFrame([
        # same entries, another physical order: NOT a change
        (4, "U", "a", {(1, None): "n", (1,): "y", (1, 2): "x"}),
        (5, "U", "b", {(3,): "z", (3, None): "w"}),
        (6, "U", "c", None),
        # equal-LSN tie on a fresh key: the canonical map hash decides
        (7, "I", "e", {(5,): "p", (): "q"}),
        (7, "I", "e", {(5, 1): "p"}),
    ], ev_schema), "m2")
    cols = ["_change", "id", "m", "_lsn"]
    _assert_feeds_match_oracle(
        spark, t, [(v1, t.current_version()), (-1, t.current_version())], cols)
    span = table_changes(t, v1, t.current_version())
    assert {r[1] for r in _arrow_feed(span, cols)} == {"b", "c", "e"}

    # deeper nesting (array-of-array, array-in-struct) and scalar-keyed
    # maps inside arrays plan cleanly
    root2 = str(tmp_path / "dt2")
    schema2 = T.StructType([
        T.StructField("id", T.StringType(), False),
        T.StructField("aa", T.ArrayType(T.ArrayType(T.LongType())), True),
        T.StructField("sa", T.StructType([
            T.StructField("a", T.ArrayType(T.LongType()))]), True),
        T.StructField("_op", T.StringType(), False),
        T.StructField("_lsn", T.LongType(), False),
    ])
    LakeTable.create(spark, root2, schema=schema2, key_cols=["id"],
                     bucket_count=2)
    _CdfStreamReader({"path": root2})  # plans fine: deep nesting is real

    root2b = str(tmp_path / "dt2b")
    schema2b = T.StructType([
        T.StructField("id", T.StringType(), False),
        T.StructField("am", T.ArrayType(
            T.MapType(T.StringType(), T.LongType())), True),
        T.StructField("_op", T.StringType(), False),
        T.StructField("_lsn", T.LongType(), False),
    ])
    LakeTable.create(spark, root2b, schema=schema2b, key_cols=["id"],
                     bucket_count=2)
    _CdfStreamReader({"path": root2b})  # plans fine: map-in-array is real

    # array KEY columns plan: the kernel sorts, groups and joins them
    # by their _order_rank code
    root3 = str(tmp_path / "dt3")
    schema3 = T.StructType([
        T.StructField("k", T.ArrayType(T.LongType()), False),
        T.StructField("v", T.StringType(), True),
        T.StructField("_op", T.StringType(), False),
        T.StructField("_lsn", T.LongType(), False),
    ])
    t3 = LakeTable.create(spark, root3, schema=schema3, key_cols=["k"],
                          bucket_count=2)
    _CdfStreamReader({"path": root3})
    ev3 = T.StructType([schema3.fields[3], schema3.fields[2],
                        *schema3.fields[:2]])
    merge_into(t3, spark.createDataFrame([
        (1, "I", [1, 2], "a"), (2, "I", [1], "b"), (3, "I", [1, None], "c"),
        (4, "I", [], "d"), (5, "I", [2], "e"),
    ], ev3), "k1")
    v31 = t3.current_version()
    merge_into(t3, spark.createDataFrame([
        (6, "U", [1, 2], "a2"), (7, "D", [1], None), (8, "U", [1, None], "c"),
        (9, "I", [3, 4], "tie-A"), (9, "I", [3, 4], "tie-B"), (10, "U", [], "d2"),
    ], ev3), "k2")
    _assert_feeds_match_oracle(
        spark, t3, [(v31, t3.current_version()), (0, t3.current_version())],
        ["_change", "k", "v", "_lsn"])

    # map-typed KEY columns still fail typed: Spark cannot group on maps
    root3m = str(tmp_path / "dt3m")
    schema3m = T.StructType([
        T.StructField("k", T.MapType(T.StringType(), T.LongType()), False),
        T.StructField("v", T.StringType(), True),
        T.StructField("_op", T.StringType(), False),
        T.StructField("_lsn", T.LongType(), False),
    ])
    LakeTable.create(spark, root3m, schema=schema3m, key_cols=["k"],
                     bucket_count=2)
    with pytest.raises(NotImplementedError, match=r"KEY columns.*k:map"):
        _CdfStreamReader({"path": root3m})

    ok_root = str(tmp_path / "ok")
    r = CdcRunner(spark, RunnerConfig(table_root=ok_root, bucket_count=2,
                                      normalize=False))
    r.apply_batch(_ev(spark, [(1, "I", "c1", 0, "user", "x", None, TS)]), "b1")
    snap = LakeTable.load(spark, ok_root).current()
    with pytest.raises(NotImplementedError, match="scheme|resolve"):
        _check_supported("weird-scheme://bucket/x", snap)

    good = _CdfStreamReader({"path": ok_root}).out_schema
    reordered = T.StructType(list(reversed(good.fields)))
    with pytest.raises(ValueError, match="tie-break"):
        _CdfStreamReader({"path": ok_root}, schema=reordered)


# ---------------------------------------------------------------------------
# the key-scoped span kernel: each file read once, only touched keys diffed
# ---------------------------------------------------------------------------

NAN = float("nan")
# six keys in ONE bucket; full rows, scores NaN, 1.0, 2.0, 3.0, NaN, null
SCOPED_SEED = [(i + 1, "I", f"c{i}", 0, "user", f"t{i}", None, TS, sc)
               for i, sc in enumerate([NAN, 1.0, 2.0, 3.0, NAN, None])]
# steps after the seed, each changing a strict subset of the bucket's
# keys: ("row"|"coalesce", events) merges under that update policy,
# ("optimize"|"evolve", None) compacts or adds a ``model`` column
SCOPED_CASES = {
    # c1's only earlier row sits in the seed file, shared by both sides
    "delete_of_shared_key": [
        ("row", [(10, "D", "c1", 0, None, None, None, None, None)])],
    # c2 is seeded at LSN 3: the redelivery ties it across two files
    "equal_lsn_tie_shared_vs_added": [
        ("row", [(3, "U", "c2", 0, "user", "tie", None, TS, 2.0)])],
    "compaction_in_span": [
        ("row", [(10, "U", "c1", 0, "user", "t1-v2", None, TS, 1.0)]),
        ("optimize", None),
        ("row", [(11, "U", "c3", 0, "user", "t3-v2", None, TS, 3.0)])],
    "row_to_coalesce_with_new_column": [
        ("evolve", None),
        ("coalesce", [(10, "U", "c2", 0, None, None, None, None, None, "m-1"),
                      (11, "U", "c3", 0, None, "t3-v2", None, None, None, None)])],
    # NaN -> null and null -> NaN change; NaN -> NaN does not
    "nan_vs_null_double": [
        ("row", [(10, "U", "c4", 0, "user", "t4", None, TS, None),
                 (11, "U", "c5", 0, "user", "t5", None, TS, NAN),
                 (12, "U", "c0", 0, "user", "t0", None, TS, NAN)])],
}


def _kernel_feed(t, sv, ev_):
    """``(rows, tasks, columns)`` of the span ``sv -> ev_`` from the
    executor kernel run in-process on ``table_changes``' plan."""
    from picsure_dictionary_etl_spark.streaming.cdf_source import (
        _plan_cols,
        _read_span_partition,
        _span_tasks,
    )

    snap = t.snapshot(ev_)
    keys, payload, dtypes, out = _plan_cols(snap)
    tasks = _span_tasks(t.root, keys, payload, dtypes, t.snapshot(sv), snap)
    rows = {tuple(_canon(v) for v in r.values())
            for p in tasks for b in _read_span_partition(p, out) for r in b.to_pylist()}
    return rows, tasks, out.names


@pytest.mark.parametrize("case", sorted(SCOPED_CASES))
def test_key_scoped_spans_match_spark_plane(spark, tmp_path, case):
    """Spans whose changed files touch only some of a bucket's keys
    (one bucket holds them all): the kernel resolves only those keys,
    and every span of the history equals spark_plane_changes."""
    from pyspark.sql import types as T

    from picsure_dictionary_etl_spark.cdc.envelope import (
        TRANSCRIPT_KEY,
        transcript_table_schema,
    )
    from picsure_dictionary_etl_spark.lake.merge import merge_into, optimize

    extra = [T.StructField("score", T.DoubleType(), True)]
    t = LakeTable.create(
        spark, str(tmp_path / case), schema=transcript_table_schema(extra),
        key_cols=TRANSCRIPT_KEY, bucket_by=["conv_id"], bucket_count=1)
    # watermark 0 lets a later batch redeliver an applied LSN (the tie)
    merge_into(t, spark.createDataFrame(SCOPED_SEED, change_event_schema(extra)),
               "seed", watermark_lsn=0)
    for i, (kind, rows) in enumerate(SCOPED_CASES[case]):
        if kind == "optimize":
            optimize(t, compact_threshold=1)
        elif kind == "evolve":
            extra = extra + [T.StructField("model", T.StringType(), True)]
            t.evolve_schema(extra[-1:])
        else:
            merge_into(t, spark.createDataFrame(rows, change_event_schema(extra)),
                       f"b{i}", watermark_lsn=0, update_policy=kind)
    cur, scoped = t.current_version(), 0
    for sv in range(cur):
        for ev_ in range(sv + 1, cur + 1):
            got, tasks, cols = _kernel_feed(t, sv, ev_)
            assert got == _arrow_feed(spark_plane_changes(t, sv, ev_), cols), (sv, ev_)
            scoped += any(set(p.old_files) & set(p.new_files) for p in tasks)
    assert scoped, "no span kept a file on both sides"


def test_span_task_opens_each_file_once(spark, tmp_path, monkeypatch):
    """One span task reads ``old ∪ new`` in one pass: each of its files,
    the ones both sides share too, is opened exactly once."""
    import collections
    import posixpath

    import pyarrow.fs as pafs

    from picsure_dictionary_etl_spark.streaming import cdf_source

    root = str(tmp_path / "once")
    r = CdcRunner(spark, RunnerConfig(table_root=root, bucket_count=1, normalize=False))
    for b in range(3):
        r.apply_batch(_ev(spark, [(10 * b + i, "U", f"c{i}", 0, "user", f"t{b}", None, TS)
                                  for i in range(1, 4 - b)]), f"b{b}")
    t = LakeTable.load(spark, root)
    local, opens = pafs.LocalFileSystem(), collections.Counter()

    class Counting(pafs.FileSystemHandler):
        def get_type_name(self):
            return "counting"

        def normalize_path(self, path):
            return local.normalize_path(path)

        def get_file_info(self, paths):
            return local.get_file_info(paths)

        def get_file_info_selector(self, selector):
            return local.get_file_info(selector)

        def open_input_file(self, path):
            opens[path] += 1
            return local.open_input_file(path)

        def open_input_stream(self, path):
            opens[path] += 1
            return local.open_input_stream(path)

        def _unused(self, *args):
            raise NotImplementedError

        create_dir = delete_dir = delete_dir_contents = delete_root_dir_contents = _unused
        delete_file = move = copy_file = open_output_stream = open_append_stream = _unused

    rd = cdf_source._CdfStreamReader({"path": root})
    cur = t.current_version()
    [task] = rd.partitions({"version": cur - 2}, {"version": cur})
    assert set(task.old_files) & set(task.new_files)
    monkeypatch.setattr(cdf_source, "arrow_fs_and_base",
                        lambda root: (pafs.PyFileSystem(Counting()), root))
    rows = [r for b in rd.read(task) for r in b.to_pylist()]
    assert rows
    assert sorted(opens) == sorted(posixpath.join(root, f)
                                   for f in set(task.old_files) | set(task.new_files))
    assert set(opens.values()) == {1}, opens


def test_read_bucket_one_scan_equals_per_file_reads(spark, tmp_path):
    """``_read_bucket`` reads a bucket in one Arrow scan. A Spark INT96
    file that lacks a later evolution column and two nested columns,
    beside a pyarrow file with tz-aware timestamps and those columns,
    reads as each file converted on its own and concatenated (missing
    columns null), with and without a pushed key filter."""
    import os

    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from picsure_dictionary_etl_spark.streaming.cdf_source import _arrow_frame, _read_bucket

    spark.createDataFrame(
        [("a", TS, 1, "I", 1), ("b", None, 2, "I", 2)],
        "id string, ts timestamp, n bigint, _op string, _lsn bigint",
    ).coalesce(1).write.parquet(str(tmp_path / "spark"))
    [spark_file] = [f for f in os.listdir(tmp_path / "spark") if f.endswith(".parquet")]
    int96 = pq.read_schema(str(tmp_path / "spark" / spark_file)).field("ts").type
    assert int96 == pa.timestamp("ns")
    utc = datetime.timezone.utc
    pq.write_table(pa.table({
        "id": ["a", "c"],
        "ts": pa.array([TS.replace(tzinfo=utc), None], pa.timestamp("us", tz="UTC")),
        "n": pa.array([3, None], pa.int64()),
        "model": ["m-1", None],
        "tags": pa.array([[1, None], None], pa.list_(pa.int64())),
        "st": pa.array([{"x": 1}, None], pa.struct([("x", pa.int32())])),
        "_op": ["U", "I"],
        "_lsn": pa.array([3, 4], pa.int64()),
    }), str(tmp_path / "new.parquet"))
    files = [f"spark/{spark_file}", "new.parquet"]
    dtypes = {"id": "string", "ts": "timestamp", "n": "bigint", "model": "string",
              "tags": "array<bigint>", "st": "struct<x:int>", "_op": "string", "_lsn": "bigint"}
    cols = list(dtypes)

    def py(v):
        if v is None or v is pd.NA or (isinstance(v, float) and v != v):
            return None
        if isinstance(v, pd.Timestamp):
            return v.to_pydatetime()
        if isinstance(v, dict):
            return {k: py(x) for k, x in v.items()}
        if isinstance(v, (list, np.ndarray)):
            return [py(x) for x in v]
        return v.item() if isinstance(v, np.generic) else v

    for filters in (None, [("id", "in", ["a"])]):
        got = _read_bucket(str(tmp_path), files, cols, dtypes, filters=filters)
        want = pd.concat(
            [_arrow_frame(pq.read_table(str(tmp_path / f), filters=filters), cols, dtypes)
             for f in files], ignore_index=True)
        assert list(got.columns) == cols
        assert len(got) == len(want) == (4 if filters is None else 2)
        for c in cols:
            old = want[c] if c in want else pd.Series([None] * len(want))
            assert [py(v) for v in got[c]] == [py(v) for v in old], c
        assert str(got["ts"].dtype) == "datetime64[us, UTC]"
        assert isinstance(got["tags"].dtype, pd.ArrowDtype)
