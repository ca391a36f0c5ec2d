"""One change-feed span task, layer by layer.

Runs ``cdf_source._read_span_partition`` (the executor kernel behind
``table_changes``, the change-feed consumer and both ``lake_cdf``
readers) in-process on bucket files written with pyarrow, with no
Spark session, and splits its wall time into layers by timing the
module functions it calls:

* ``read_s``: the bucket-file reads (``_scan_bucket``, or
  ``_read_bucket`` where a checkout has no ``_scan_bucket``; the
  latter includes its per-file pandas conversion);
* ``resolve_s``: both sides' LWW resolves (``_resolve_frame``);
* ``diff_s``: ``_diff_states_pd``;
* ``yield_s``: the Arrow RecordBatch yield (``_to_arrow_batches``);
* ``scope_s``: the rest of the task: key scoping and the pandas
  conversion of the kept rows, where a checkout has them.

Shapes (one bucket each; base files carry Spark's INT96 timestamps,
deltas pyarrow's tz-aware ones, as a sink writes them):

* ``feed_serve``: cdcbench's ``feed_serve`` bucket, a 4,000-key base
  and seven 1,000-event deltas; the span appends an eighth delta
  (8 -> 9 files, ~12k raw rows).
* ``big``: a 1,000,000-key base after three 5,000-event deltas. The
  timed span is the last delta (1 version); the full span (base ->
  after three deltas) and the bootstrap span (empty -> all) run once
  each, for their output.

Events are 30% updates, 5% deletes and the rest inserts, a fifth of the
updates and deletes on 4 hot keys. Each span's output (sorted by key)
is digested; ``--check OTHER.json`` asserts the digests equal another
run's, e.g. the parent commit's. The change's run also times the read
with the Arrow scan's ``use_threads`` on and off (``read_threads``).
Run from the root of a checkout; the same script measures any commit:

    python3 BENCH/span_task_bench.py --label parent --out /tmp/parent.json
    python3 BENCH/span_task_bench.py --label change \\
        --out BENCH/span_task_bench_change.json --check /tmp/parent.json

Prints one JSON object and writes it to ``--out``. The bucket files
live under one temporary directory, deleted at the end.
"""

from __future__ import annotations

import argparse
import datetime
import hashlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

from picsure_dictionary_etl_spark.streaming import cdf_source  # noqa: E402

KEYS = ["conv_id", "turn_idx"]
PAYLOAD = ["role", "text", "tool", "ts"]
DTYPES = {"conv_id": "string", "turn_idx": "int", "role": "string", "text": "string",
          "tool": "string", "ts": "timestamp", "_op": "string", "_lsn": "bigint"}
OUT = T.StructType(
    [T.StructField("_change", T.StringType(), False),
     T.StructField("conv_id", T.StringType(), False),
     T.StructField("turn_idx", T.IntegerType(), False)]
    + [T.StructField(c, T.StringType()) for c in ("role", "text", "tool")]
    + [T.StructField("ts", T.TimestampType()), T.StructField("_lsn", T.LongType())]
)
T0 = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
LAYERS = {"_scan_bucket": "read_s", "_read_bucket": "read_s", "_resolve_frame": "resolve_s",
          "_diff_states_pd": "diff_s", "_to_arrow_batches": "yield_s"}


class Writer:
    """Writes one bucket's files: a base of ``n`` inserts, then deltas."""

    def __init__(self, root: str, rng: np.random.Generator):
        self.root, self.rng, self.lsn, self.n_keys, self.files = root, rng, 0, 0, []

    def _write(self, keys: np.ndarray, ops: np.ndarray, int96: bool) -> None:
        n = len(keys)
        lsn = self.lsn + 1 + np.arange(n, dtype=np.int64)
        self.lsn += n
        live = ops != "D"
        tbl = pa.table({
            "conv_id": pa.array([f"c{k // 8:07d}" for k in keys]),
            "turn_idx": pa.array(keys % 8, pa.int32()),
            "role": pa.array(np.where(live, np.where(keys % 2 == 0, "user", "assistant"), None)),
            "text": pa.array([f"t{v}" if ok else None for v, ok in zip(lsn, live)]),
            "tool": pa.array(np.where(live & (keys % 5 == 0), "search", None)),
            "ts": pa.array([T0 + datetime.timedelta(seconds=int(v)) if ok else None
                            for v, ok in zip(lsn, live)], pa.timestamp("us", tz="UTC")),
            "_op": pa.array(ops),
            "_lsn": pa.array(lsn),
        })
        rel = f"data/f{len(self.files):03d}.parquet"
        os.makedirs(os.path.join(self.root, "data"), exist_ok=True)
        pq.write_table(tbl, os.path.join(self.root, rel), use_deprecated_int96_timestamps=int96)
        self.files.append(rel)

    def base(self, n: int) -> None:
        self._write(np.arange(n, dtype=np.int64), np.full(n, "I"), int96=True)
        self.n_keys = n

    def delta(self, n: int) -> None:
        u = self.rng.random(n)
        ops = np.where(u < 0.05, "D", np.where(u < 0.35, "U", "I"))
        old = self.rng.integers(0, self.n_keys, n)
        hot = self.rng.random(n) < 0.2
        old[hot] = self.rng.integers(0, 4, int(hot.sum()))
        fresh = self.n_keys + np.cumsum(ops == "I") - 1
        keys = np.where(ops == "I", fresh, old)
        self.n_keys += int((ops == "I").sum())
        self._write(keys, ops, int96=False)


def task(root: str, old: list[str], new: list[str]):
    return cdf_source._BucketTask(root=root, keys=KEYS, payload=PAYLOAD, dtypes=DTYPES,
                                  old_files=list(old), new_files=list(new))


def digest(batches) -> dict:
    """Rows and a content digest of a span's output, sorted by key."""
    tbl = pa.Table.from_batches(batches, schema=batches[0].schema) if batches else None
    if tbl is None or tbl.num_rows == 0:
        return {"rows": 0, "sha256": None}
    df = tbl.sort_by([(k, "ascending") for k in KEYS]).to_pandas()
    h = hashlib.sha256(str(tbl.schema).encode())
    h.update(pd.util.hash_pandas_object(df, index=False).to_numpy().tobytes())
    return {"rows": tbl.num_rows,
            "changes": {k: int(v) for k, v in df["_change"].value_counts().items()},
            "sha256": h.hexdigest()}


def run_task(t) -> tuple[dict, list]:
    """One timed span task: its layer times and its output batches."""
    acc = dict.fromkeys(["read_s", "resolve_s", "diff_s", "yield_s"], 0.0)
    real = {n: getattr(cdf_source, n) for n in LAYERS if hasattr(cdf_source, n)}

    def timed(name, fn):
        def call(*a, **k):
            t0 = time.perf_counter()
            out = fn(*a, **k)
            if name == "_to_arrow_batches":
                out = list(out)
            acc[LAYERS[name]] += time.perf_counter() - t0
            return out
        return call

    for n, fn in real.items():
        setattr(cdf_source, n, timed(n, fn))
    try:
        t0 = time.perf_counter()
        batches = list(cdf_source._read_span_partition(t, OUT))
        total = time.perf_counter() - t0
    finally:
        for n, fn in real.items():
            setattr(cdf_source, n, fn)
    acc["scope_s"] = max(total - sum(acc.values()), 0.0)
    acc["total_s"] = total
    return acc, batches


def timed_span(t, reps: int) -> dict:
    runs, out = [], None
    for _ in range(reps + 1):  # the first run warms caches, untimed
        layers, batches = run_task(t)
        runs.append(layers)
        out = out or digest(batches)
    runs = runs[1:] or runs
    return {"reps": reps, **{k: round(statistics.median(r[k] for r in runs), 4)
                             for k in runs[0]}, "output": out}


def read_threads(t, reps: int) -> dict:
    """Median ``_scan_bucket`` time of the span's files with the scan's
    ``use_threads`` forced on and off."""
    import pyarrow.dataset as ds

    if not hasattr(cdf_source, "_scan_bucket"):
        return {}
    real = ds.dataset
    files = t.old_files + [f for f in t.new_files if f not in set(t.old_files)]
    cols = KEYS + PAYLOAD + ["_op", "_lsn"]
    out = {}
    for on in (True, False):
        class Threads:
            def __init__(self, d):
                self.d = d

            def scanner(self, **kw):
                return self.d.scanner(**{**kw, "use_threads": on})

        ds.dataset = lambda *a, **k: Threads(real(*a, **k))
        try:
            times = []
            for _ in range(reps + 1):
                t0 = time.perf_counter()
                cdf_source._scan_bucket(t.root, files, cols, DTYPES)
                times.append(time.perf_counter() - t0)
        finally:
            ds.dataset = real
        out["on" if on else "off"] = round(statistics.median(times[1:]), 4)
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--reps", type=int, default=20, help="timed runs of the feed_serve span")
    ap.add_argument("--big-reps", type=int, default=3, help="timed runs of the 1M-row span")
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--label", default=None)
    ap.add_argument("--out", default=None)
    ap.add_argument("--check", default=None,
                    help="a run's JSON whose outputs must equal this one's")
    args = ap.parse_args()

    tmp = tempfile.mkdtemp(prefix="span_task_bench_")
    try:
        res = {"label": args.label, "seed": args.seed, "host_cpus": os.cpu_count(),
               "pyarrow": pa.__version__}
        w = Writer(os.path.join(tmp, "feed"), np.random.default_rng(args.seed))
        w.base(4_000)
        for _ in range(8):
            w.delta(1_000)
        span = task(w.root, w.files[:-1], w.files)
        res["feed_serve"] = timed_span(span, args.reps)
        res["feed_serve"]["read_threads"] = read_threads(span, args.reps)

        w = Writer(os.path.join(tmp, "big"), np.random.default_rng(args.seed + 1))
        w.base(1_000_000)
        for _ in range(3):
            w.delta(5_000)
        span = task(w.root, w.files[:-1], w.files)
        res["big_1version"] = timed_span(span, args.big_reps)
        res["big_1version"]["read_threads"] = read_threads(span, args.big_reps)
        for name, old in (("big_full", w.files[:1]), ("big_bootstrap", [])):
            res[name] = timed_span(task(w.root, old, w.files), 0)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    if args.check:
        with open(args.check) as f:
            other = json.load(f)
        for name in ("feed_serve", "big_1version", "big_full", "big_bootstrap"):
            assert res[name]["output"] == other[name]["output"], (
                f"{name}: output differs from {args.check}")
        res["outputs_equal_to"] = other.get("label") or args.check
    text = json.dumps(res, indent=1)
    print(text)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text + "\n")


if __name__ == "__main__":
    main()
