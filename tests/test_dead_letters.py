"""What the dead-letter queue holds: per batch, exactly the slice's
malformed events, once, under redelivery and kill-and-resume, on POSIX
and ``file:`` URI roots.

The oracle decides malformedness in pandas, from the rule the
reference's error registry applies (``loading/ColumnMetaSource.java:81-98``):
a null, blank or ``"null"`` conv_id, a null or negative turn_idx, a null
LSN or an op outside I/U/D. It never calls the engine's predicate.
"""

import os
from collections import Counter

import pyarrow.dataset as ds
import pytest

from picsure_dictionary_etl_spark.cdc.generator import change_events
from picsure_dictionary_etl_spark.cdc.runner import CdcRunner, RunnerConfig
from picsure_dictionary_etl_spark.lake.merge import LSN_COL, OP_COL
from picsure_dictionary_etl_spark.lake.table import LakeTable

ROW = ["conv_id", "turn_idx", OP_COL, LSN_COL]
ROOTS = pytest.mark.parametrize("uri", [False, True], ids=["posix", "file_uri"])


def _malformed(pdf) -> Counter:
    conv = pdf["conv_id"]
    bad = (
        conv.isna()
        | conv.fillna("").str.strip(" ").str.lower().eq("null")
        | conv.fillna("").str.strip(" ").eq("")
        | pdf["turn_idx"].isna()
        | (pdf["turn_idx"].fillna(0) < 0)
        | pdf[LSN_COL].isna()
        | ~pdf[OP_COL].isin(["I", "U", "D"])
    )
    return Counter(_tuples(pdf[bad]))


def _tuples(pdf):
    return [
        (None if c is None or c != c else c, int(t), o, int(lsn))
        for c, t, o, lsn in pdf[ROW].itertuples(index=False)
    ]


def _dlq(path: str) -> Counter:
    """Rows of one batch's dead-letter directory (none if it is absent)."""
    local = path[len("file:"):] if path.startswith("file:") else path
    if not os.path.isdir(local):
        return Counter()
    return Counter(_tuples(ds.dataset(local, format="parquet").to_table(columns=ROW).to_pandas()))


def _slice(pdf, lo, hi):
    return pdf[(pdf[LSN_COL] > lo) & (pdf[LSN_COL] <= hi)]


def _data_files(root: str) -> set:
    data = os.path.join(root, "data")
    return {os.path.join(dp, f) for dp, _d, fs in os.walk(data) for f in fs}


def _runner(spark, tmp_path, uri, **kw):
    prefix = "file:" if uri else ""
    return CdcRunner(spark, RunnerConfig(
        table_root=f"{prefix}{tmp_path}/t", dead_letter_dir=f"{prefix}{tmp_path}/dlq",
        bucket_count=4, **kw))


def _events(spark, n=3000, **kw):
    return change_events(spark, n, n_convs=20, turns_per_conv=10, delete_ratio=0.1,
                         hot_fraction=0.3, malformed_ratio=0.05, **kw)


@ROOTS
def test_each_batch_holds_exactly_its_malformed_events(spark, tmp_path, uri):
    events = _events(spark)
    pdf = events.toPandas()
    runner = _runner(spark, tmp_path, uri)
    results = runner.replay(events, lsn_step=1000)
    assert len(results) == 3
    dlq = runner.config.dead_letter_dir
    for r in results:
        lo, hi = r.metrics["batch_id"][len("lsn-"):].rsplit("-", 1)
        want = _malformed(_slice(pdf, int(lo), int(hi)))
        assert sum(want.values()) > 0
        assert _dlq(os.path.join(dlq, r.metrics["batch_id"])) == want
        assert r.metrics["dead_letter_rows"] == sum(want.values())


@ROOTS
def test_redelivery_and_resume_leave_one_copy(spark, tmp_path, uri):
    events = _events(spark)
    pdf = events.toPandas()
    runner = _runner(spark, tmp_path, uri)
    dlq = runner.config.dead_letter_dir
    want = {
        f"lsn-{lo}-{lo + 1000}": _malformed(_slice(pdf, lo, lo + 1000))
        for lo in (-1, 999, 1999)
    }

    # kill the second batch between its dead-letter write and its commit
    real = LakeTable.commit

    def crash(self, appends, replaces, props=None, lineage=None, **kw):
        if (lineage or {}).get("batch_id") == "lsn-999-1999":
            raise RuntimeError("killed before the commit")
        return real(self, appends, replaces, props, lineage, **kw)

    LakeTable.commit = crash
    try:
        with pytest.raises(RuntimeError, match="killed"):
            runner.replay(events, lsn_step=1000)
    finally:
        LakeTable.commit = real
    assert runner.watermark() == 999
    assert _dlq(os.path.join(dlq, "lsn-999-1999")) == want["lsn-999-1999"]

    resumed = _runner(spark, tmp_path, uri)  # a fresh process
    assert [r.metrics["batch_id"] for r in resumed.replay(events, lsn_step=1000)] == [
        "lsn-999-1999", "lsn-1999-2999"]
    # a redelivered batch id is a no-op that leaves its letters alone
    b = events.filter((events[LSN_COL] > -1) & (events[LSN_COL] <= 999))
    assert resumed.apply_batch(b, "lsn--1-999").metrics.get("skipped_duplicate_batch")
    for bid, rows in want.items():
        assert _dlq(os.path.join(dlq, bid)) == rows, bid


@ROOTS
def test_all_malformed_slice_commits_empty_and_keeps_its_letters(spark, tmp_path, uri):
    from pyspark.sql import functions as F

    runner = _runner(spark, tmp_path, uri)
    runner.replay(_events(spark, 1000), lsn_step=1000)
    local_root = f"{tmp_path}/t"
    files = _data_files(local_root)
    bad = _events(spark, 500, start_lsn=1000).withColumn("conv_id", F.lit(None).cast("string"))
    want = _malformed(bad.toPandas())
    assert sum(want.values()) == 500

    r = runner.apply_batch(bad, "all-bad", watermark_lsn=1499)
    assert r.snapshot.lineage.get("empty_batch")
    assert r.metrics["dead_letter_rows"] == 500
    assert _dlq(os.path.join(runner.config.dead_letter_dir, "all-bad")) == want
    assert _data_files(local_root) == files
    assert runner.watermark() == 1499
