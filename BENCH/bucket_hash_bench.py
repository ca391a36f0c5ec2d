"""Micro-bench: the sink's executor bucket hash — whole-column numpy
XXH64 (streaming/xxhash_vec.py) on realistic bucket keys.

A sink write WITHOUT ``with_bucket()`` computes
``pmod(xxhash64(conv_id, turn_idx), n)`` on the executors with no
per-row Python. The bench hashes N (conv_id string, turn_idx long)
pairs and reports warm best-of rows/sec. Bit-equality with
``F.xxhash64`` is pinned by tests/test_xxhash_vec.py, not here.

Usage: python BENCH/bucket_hash_bench.py [--rows 1000000]
Writes BENCH/bucket_hash_bench_results.json.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import time

import numpy as np
import pyarrow as pa

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
import sys

sys.path.insert(0, REPO)

from picsure_dictionary_etl_spark.streaming.xxhash_vec import (
    pmod_buckets,
    spark_xxhash64_vec,
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=1_000_000)
    ap.add_argument("--buckets", type=int, default=64)
    args = ap.parse_args()
    rng = random.Random(42)
    n = args.rows
    convs = [f"conv-{rng.randrange(n // 20 or 1)}" for _ in range(n)]
    turns = [rng.randrange(0, 500) for _ in range(n)]
    arrays = [pa.array(convs, pa.string()), pa.array(turns, pa.int64())]
    dtypes = ["string", "long"]

    # warm (first call pays numpy/pyarrow import-page + cache faults;
    # the repo-wide rule: report warm best-of, never a cold run 1)
    spark_xxhash64_vec([a.slice(0, 10_000) for a in arrays], dtypes)
    vec_s = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        bv = pmod_buckets(spark_xxhash64_vec(arrays, dtypes), args.buckets)
        vec_s = min(vec_s, time.perf_counter() - t0)

    res = {
        "rows": n,
        "buckets": args.buckets,
        "vector_sec": round(vec_s, 4),
        "vector_rows_per_s": round(n / vec_s),
        "distinct_buckets": int(len(np.unique(bv))),
    }
    with open(os.path.join(HERE, "bucket_hash_bench_results.json"), "w") as f:
        json.dump(res, f, indent=2)
    print(json.dumps(res, indent=2))


if __name__ == "__main__":
    main()
