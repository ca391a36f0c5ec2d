"""CDC relay (streaming/mirror.py): lake_cdf → foreachBatch →
merge_into replicates one lake table into another, exactly-once,
including the D-preimage equal-LSN case the LSN remap exists for."""

import datetime
import os
import re

from picsure_dictionary_etl_spark.cdc.envelope import change_event_schema
from picsure_dictionary_etl_spark.cdc.runner import CdcRunner, RunnerConfig
from picsure_dictionary_etl_spark.lake.merge import table_changes
from picsure_dictionary_etl_spark.lake.table import LakeTable
from picsure_dictionary_etl_spark.streaming.mirror import (
    apply_feed_batch,
    mirror_table,
)
from tests.cdf_oracle import spark_plane_changes

TS = datetime.datetime(2024, 1, 1, 12, 0, 0)
PAYLOAD = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def _ev(spark, rows):
    return spark.createDataFrame(rows, change_event_schema())


def _live(spark, root):
    """A table's live state as a set of payload tuples (system columns
    excluded — the mirror's _lsn is remapped epochs by design)."""
    t = LakeTable.load(spark, root)
    return {
        tuple(r)
        for r in spark_plane_changes(t, 0, t.current_version())
        .select(*PAYLOAD)
        .collect()
    }


def _drain(spark, src_root, dst_root, ckpt, opts=None, max_passes=16):
    """availableNow passes (one micro-batch each for a Python source)
    until the checkpoint catches the source's current version."""
    cur = LakeTable.load(spark, src_root).current_version()
    for p in range(max_passes):
        q = mirror_table(spark, src_root, dst_root, ckpt,
                         reader_options=opts)
        q.awaitTermination(180)
        offs = sorted(int(x) for x in os.listdir(os.path.join(ckpt, "offsets"))
                      if x.isdigit())
        m = re.search(r'"version":\s*(\d+)',
                      open(os.path.join(ckpt, "offsets", str(offs[-1]))).read())
        if m and int(m.group(1)) >= cur:
            return p + 1
    raise AssertionError("mirror did not catch up")


def test_mirror_replicates_including_preimage_ties(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    ckpt = str(tmp_path / "ckpt")
    r = CdcRunner(spark, RunnerConfig(table_root=src, bucket_count=2,
                                      normalize=False))
    # b2 updates a@7; b3 deletes a (the D arrives stamped with preimage
    # LSN 7 — replaying source LSNs verbatim would drop it at the
    # mirror's watermark guard and resurrect the row) and re-inserts c
    r.apply_batch(_ev(spark, [(1, "I", "a", 0, "user", "v1", None, TS),
                              (2, "I", "b", 0, "user", "w1", None, TS),
                              (3, "I", "c", 0, "user", "x1", None, TS)]), "b1")
    r.apply_batch(_ev(spark, [(7, "U", "a", 0, "user", "v2", None, TS),
                              (8, "D", "c", 0, None, None, None, None)]), "b2")
    r.apply_batch(_ev(spark, [(9, "D", "a", 0, None, None, None, None),
                              (10, "I", "c", 0, "user", "x2", None, TS)]), "b3")

    # paced 1 version/batch: every span (and thus every preimage tie
    # boundary) becomes its own epoch
    _drain(spark, src, dst, ckpt, opts={"maxversionsperbatch": "1"})
    assert _live(spark, dst) == _live(spark, src)
    assert _live(spark, dst) == {("b", 0, "user", "w1", None, TS),
                                 ("c", 0, "user", "x2", None, TS)}

    # incremental: more source changes, SAME checkpoint — the relay
    # picks up where the offset log left off, no re-bootstrap
    r.apply_batch(_ev(spark, [(11, "U", "b", 0, "user", "w2", None, TS),
                              (12, "I", "d", 0, "user", "z1", None, TS)]),
                  "b4")
    _drain(spark, src, dst, ckpt, opts={"maxversionsperbatch": "1"})
    assert _live(spark, dst) == _live(spark, src)

    # the mirror applied each span as its own batch (epochs advanced);
    # its exactly-once properties live in the lake's own bookkeeping
    d = LakeTable.load(spark, dst)
    assert d.watermark() >= 1


def test_mirror_redelivered_epoch_is_noop(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    r = CdcRunner(spark, RunnerConfig(table_root=src, bucket_count=2,
                                      normalize=False))
    r.apply_batch(_ev(spark, [(1, "I", "a", 0, "user", "v1", None, TS)]), "b1")
    t = LakeTable.load(spark, src)
    feed = table_changes(t, 0, t.current_version())

    dst_t = LakeTable.create(
        spark, dst,
        schema=t.current().schema,
        key_cols=list(t.current().key_cols),
        bucket_by=list(t.current().bucket_by),
        bucket_count=2)
    apply_feed_batch(dst_t, feed, epoch_id=0)
    v_after = dst_t.current_version()
    state = _live(spark, dst)
    # a foreachBatch retry redelivers the same epoch: committed no-op
    apply_feed_batch(dst_t, feed, epoch_id=0)
    assert dst_t.current_version() == v_after
    assert _live(spark, dst) == state == {("a", 0, "user", "v1", None, TS)}
