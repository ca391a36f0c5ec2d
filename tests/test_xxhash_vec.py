"""The numpy XXH64 (streaming/xxhash_vec.py) — the one Python
implementation of Spark's ``F.xxhash64``: the lake sink's default
bucket-hash path and the lake_cdf tie-break. Bit-equality is pinned
against ``F.xxhash64`` itself, row by row, on randomized columns of
every supported type (all the known edge families, nested arrays,
structs and maps included, sliced inputs too), and via the sink
placement test in test_lake_sink.py (prebucket=False exercises this
path)."""

import datetime
import decimal
import random
import struct

import numpy as np
import pyarrow as pa
import pytest

from picsure_dictionary_etl_spark.streaming.xxhash_vec import (
    UnsupportedVectorType,
    pmod_buckets,
    spark_xxhash64_vec,
)
from tests.hash_parity import assert_xxhash64_parity


def _nullable(rng, gen, n, p=0.12):
    return [None if rng.random() < p else gen() for _ in range(n)]


N = 1500


def test_scalar_parity_per_type(spark):
    rng = random.Random(20260818)
    # strings: empty, short, >=32B multi-stripe, utf-8 multibyte,
    # realistic id shapes (few distinct lengths — the grouped fast case)
    strs = _nullable(
        rng,
        lambda: rng.choice(
            [
                "",
                "x" * rng.randrange(1, 100),
                f"conv-{rng.randrange(10**6)}",
                "é" * rng.randrange(1, 20),
                "é中文" * rng.randrange(1, 12),
            ]
        ),
        N,
    )
    assert_xxhash64_parity(spark, [pa.array(strs, pa.string())], ["string"])

    longs = _nullable(rng, lambda: rng.randrange(-(2**63), 2**63), N)
    assert_xxhash64_parity(spark, [pa.array(longs, pa.int64())], ["long"])

    ints = _nullable(rng, lambda: rng.randrange(-(2**31), 2**31), N)
    assert_xxhash64_parity(spark, [pa.array(ints, pa.int32())], ["integer"])

    shorts = _nullable(rng, lambda: rng.randrange(-(2**15), 2**15), N)
    assert_xxhash64_parity(spark, [pa.array(shorts, pa.int16())], ["short"])

    tiny = _nullable(rng, lambda: rng.randrange(-128, 128), N)
    assert_xxhash64_parity(spark, [pa.array(tiny, pa.int8())], ["byte"])

    bools = _nullable(rng, lambda: rng.random() < 0.5, N)
    assert_xxhash64_parity(spark, [pa.array(bools, pa.bool_())], ["boolean"])

    # doubles: -0.0 normalization, NaN collapse, infinities
    dbls = _nullable(
        rng,
        lambda: rng.choice(
            [0.0, -0.0, float("nan"), float("inf"), -float("inf"),
             rng.uniform(-1e12, 1e12)]
        ),
        N,
    )
    assert_xxhash64_parity(spark, [pa.array(dbls, pa.float64())], ["double"])

    flts = [
        None if v is None else struct.unpack("<f", struct.pack("<f", v))[0]
        for v in _nullable(
            rng,
            lambda: rng.choice(
                [0.0, -0.0, float("nan"), rng.uniform(-1e5, 1e5)]
            ),
            N,
        )
    ]
    assert_xxhash64_parity(spark, [pa.array(flts, pa.float32())], ["float"])

    bins = _nullable(
        rng,
        lambda: bytes(rng.randrange(256) for _ in range(rng.randrange(0, 70))),
        N,
    )
    assert_xxhash64_parity(spark, [pa.array(bins, pa.binary())], ["binary"])

    import pandas as pd

    tss = _nullable(
        rng,
        lambda: pd.Timestamp(rng.randrange(0, 2**41), unit="us", tz="UTC"),
        N,
    )
    assert_xxhash64_parity(
        spark, [pa.array(tss, pa.timestamp("us", tz="UTC"))], ["timestamp"]
    )

    dates = _nullable(
        rng,
        lambda: datetime.date(1970, 1, 1)
        + datetime.timedelta(days=rng.randrange(-25000, 25000)),
        N,
    )
    assert_xxhash64_parity(spark, [pa.array(dates, pa.date32())], ["date"])

    decs = _nullable(
        rng,
        lambda: decimal.Decimal(rng.randrange(-(10**17), 10**17)).scaleb(-2),
        N,
    )
    assert_xxhash64_parity(
        spark, [pa.array(decs, pa.decimal128(18, 2))], ["decimal(18,2)"]
    )


def test_scalar_parity_chained_and_sliced(spark):
    """Multi-column seed chaining with interleaved nulls (the null-skip
    rule), plus sliced arrays (nonzero arrow offsets on offsets/values/
    validity buffers)."""
    rng = random.Random(7)
    strs = _nullable(rng, lambda: f"k-{rng.randrange(1000)}", N, p=0.2)
    longs = _nullable(rng, lambda: rng.randrange(-(2**63), 2**63), N, p=0.2)
    ints = _nullable(rng, lambda: rng.randrange(-(2**31), 2**31), N, p=0.2)
    arrays = [
        pa.array(strs, pa.string()),
        pa.array(longs, pa.int64()),
        pa.array(ints, pa.int32()),
    ]
    dtypes = ["string", "long", "integer"]
    assert_xxhash64_parity(spark, arrays, dtypes)
    lo, hi = 113, 1113
    assert_xxhash64_parity(
        spark, [a.slice(lo, hi - lo) for a in arrays], dtypes)


def test_nested_parity(spark):
    """array / struct / map at depth: element chaining with null
    elements skipped, empty vs null values, struct fields under null
    rows, map entries in arbitrary physical order (the hash chains
    them key-sorted), map-in-map and maps inside arrays — whole and
    sliced."""
    rng = random.Random(424242)
    n = 600

    def lng():
        return rng.choice([rng.randrange(-(2**63), 2**63), rng.randrange(-3, 3)])

    def lst(gen, k=5):
        return [gen() for _ in range(rng.randrange(k))]

    def entries(kgen, vgen, k=5):
        # dict dedups keys (Spark maps never repeat one); list order
        # stays the generator's, not sorted
        return list({kgen(): vgen() for _ in range(rng.randrange(k))}.items())

    def nl(gen, p=0.15):
        return lambda: None if rng.random() < p else gen()

    def text():
        return rng.choice(["", "k", "é漢", "x" * rng.randrange(1, 40)])

    nan = float("nan")
    cols = [
        (pa.list_(pa.int64()), "array<bigint>",
         nl(lambda: lst(nl(lng)))),
        (pa.list_(pa.string()), "array<string>",
         nl(lambda: lst(nl(text)))),
        (pa.list_(pa.list_(pa.int64())), "array<array<bigint>>",
         nl(lambda: lst(nl(lambda: lst(nl(lng)))))),
        (pa.struct([("a", pa.string()), ("b", pa.int32()),
                    ("c", pa.list_(pa.float64()))]),
         "struct<a:string,b:int,c:array<double>>",
         nl(lambda: {"a": nl(text)(),
                     "b": nl(lambda: rng.randrange(-(2**31), 2**31))(),
                     "c": nl(lambda: lst(nl(lambda: rng.choice(
                         [0.0, -0.0, nan, rng.uniform(-1e6, 1e6)]))))()})),
        (pa.map_(pa.string(), pa.int64()), "map<string,bigint>",
         nl(lambda: entries(text, nl(lng)))),
        (pa.map_(pa.float64(), pa.string()), "map<double,string>",
         nl(lambda: entries(lambda: rng.choice([nan, 0.0, 1.5, -2.0, 1e300]),
                            nl(text)))),
        (pa.map_(pa.int64(), pa.list_(pa.int64())),
         "map<bigint,array<bigint>>",
         nl(lambda: entries(lng, nl(lambda: lst(nl(lng)))))),
        (pa.map_(pa.string(), pa.map_(pa.string(), pa.int64())),
         "map<string,map<string,bigint>>",
         nl(lambda: entries(text, nl(lambda: entries(text, nl(lng)))))),
        (pa.list_(pa.map_(pa.decimal128(16, 2), pa.int64())),
         "array<map<decimal(16,2),bigint>>",
         nl(lambda: lst(nl(lambda: entries(
             lambda: decimal.Decimal(rng.randrange(-999, 999)).scaleb(-2),
             nl(lng)))))),
    ]
    for typ, dtype, gen in cols:
        arr = pa.array([gen() for _ in range(n)], typ)
        assert_xxhash64_parity(spark, [arr], [dtype])
        assert_xxhash64_parity(spark, [arr.slice(37, 400)], [dtype])
    # every nested family chained in one hash, sliced together
    arrays = [pa.array([gen() for _ in range(n)], typ) for typ, _, gen in cols]
    dtypes = [d for _, d, _ in cols]
    assert_xxhash64_parity(spark, arrays, dtypes)
    assert_xxhash64_parity(
        spark, [a.slice(101, 333) for a in arrays], dtypes)


def test_all_null_column_leaves_hash_unchanged():
    strs = ["a", "b", None]
    nulls = [None, None, None]
    got = spark_xxhash64_vec(
        [pa.array(strs, pa.string()), pa.array(nulls, pa.int64())],
        ["string", "long"],
    )
    want = spark_xxhash64_vec([pa.array(strs, pa.string())], ["string"])
    assert np.array_equal(got, want)


def test_unsupported_type_raises_typed():
    """Map keys must be scalar: the canonical form key-sorts entries."""
    arr = pa.array(
        [[([1, 2], 3)]], pa.map_(pa.list_(pa.int64()), pa.int64())
    )
    with pytest.raises(UnsupportedVectorType):
        spark_xxhash64_vec([arr], ["map<array<bigint>,bigint>"])


def test_wide_decimal_parity(spark):
    """decimal(p>18): the vector path hashes Java's minimal
    BigInteger.toByteArray() form — parity incl. the -2^(8k-1) family
    (Java bitLength drops a byte there), its neighbours, the +2^(8k-1)
    duals (which NEED the sign byte), zero, and random wide values."""
    rng = random.Random(11)
    edge = [0, 1, -1]
    for k8 in (7, 15, 31, 63, 119):
        edge += [-(2 ** k8), -(2 ** k8) - 1, -(2 ** k8) + 1,
                 2 ** k8, 2 ** k8 - 1]
    vals = [decimal.Decimal(u).scaleb(-2) for u in edge]
    vals += _nullable(
        rng,
        lambda: decimal.Decimal(rng.randrange(-(10**35), 10**35)).scaleb(-2),
        600,
    )
    assert_xxhash64_parity(
        spark, [pa.array(vals, pa.decimal128(38, 2))], ["decimal(38,2)"]
    )
    # sliced + a second wide precision (different scale)
    arr = pa.array(vals, pa.decimal128(38, 2)).slice(7, 500)
    assert_xxhash64_parity(spark, [arr], ["decimal(38,2)"])
    v30 = _nullable(
        rng,
        lambda: decimal.Decimal(rng.randrange(-(10**26), 10**26)).scaleb(-4),
        400,
    )
    assert_xxhash64_parity(
        spark, [pa.array(v30, pa.decimal128(30, 4))], ["decimal(30,4)"]
    )


def test_pmod_matches_engine_rule():
    h = np.array([-7, -1, 0, 1, 7, -(2**63), 2**63 - 1], dtype=np.int64)
    got = pmod_buckets(h, 4)
    want = np.array([((int(x) % 4) + 4) % 4 for x in h], dtype=np.int64)
    assert np.array_equal(got, want)


def test_spark_f_xxhash64_parity(spark):
    """One Spark round-trip: the vector twin == F.xxhash64 on a
    multi-column mix (string key + long + timestamp + double), the
    sink's realistic bucket_by shapes."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    rng = random.Random(99)
    rows = [
        (
            None if rng.random() < 0.1 else f"conv-{rng.randrange(10**5)}",
            None if rng.random() < 0.1 else rng.randrange(-(2**62), 2**62),
            None
            if rng.random() < 0.1
            else datetime.datetime(2024, 1, 1)
            + datetime.timedelta(microseconds=rng.randrange(0, 10**12)),
            None if rng.random() < 0.1 else rng.choice(
                [0.0, -0.0, rng.uniform(-1e9, 1e9)]
            ),
        )
        for _ in range(400)
    ]
    schema = T.StructType(
        [
            T.StructField("s", T.StringType()),
            T.StructField("l", T.LongType()),
            T.StructField("t", T.TimestampType()),
            T.StructField("d", T.DoubleType()),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    pdf = df.select("s", "l", "t", "d", F.xxhash64("s", "l", "t", "d").alias("h")).toArrow()
    got = spark_xxhash64_vec(
        [pdf.column("s"), pdf.column("l"), pdf.column("t"), pdf.column("d")],
        ["string", "long", "timestamp", "double"],
    )
    want = pdf.column("h").to_numpy(zero_copy_only=False).astype(np.int64)
    assert np.array_equal(got, want)


def test_large_string_and_chunked_inputs():
    """large_string uses int64 offsets (the arrow type big concats
    produce); ChunkedArray inputs are combined transparently."""
    rng = random.Random(3)
    strs = [None if rng.random() < 0.1 else f"doc-{rng.randrange(10**4)}"
            for _ in range(800)]
    want = spark_xxhash64_vec([pa.array(strs, pa.string())], ["string"])
    got_large = spark_xxhash64_vec(
        [pa.array(strs, pa.large_string())], ["string"])
    assert np.array_equal(got_large, want)
    chunked = pa.chunked_array(
        [pa.array(strs[:300], pa.string()), pa.array(strs[300:], pa.string())]
    )
    got_chunked = spark_xxhash64_vec([chunked], ["string"])
    assert np.array_equal(got_chunked, want)
