"""The commit's Column trees are built once and reused (lake/expr_memo):
a reused tree must never be stale. Each case changes one thing the
trees depend on between cached commits — the table schema, the layout
of a second table, the update policy — and checks the final state
against the oracle; one spy checks the dead letters share the merge's
only write action."""

import os

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from picsure_dictionary_etl_spark.cdc.generator import change_events
from picsure_dictionary_etl_spark.cdc.normalize import split_dead_letter
from picsure_dictionary_etl_spark.cdc.runner import CdcRunner, RunnerConfig
from picsure_dictionary_etl_spark.lake.merge import LSN_COL, OP_COL
from tests.test_cdc_core import _assert_state_equal, _oracle_frame

PAYLOAD = ["role", "text", "tool", "ts"]


def _runner(spark, tmp_path, name, **kw):
    return CdcRunner(spark, RunnerConfig(
        table_root=str(tmp_path / name), dead_letter_dir=str(tmp_path / f"{name}-dlq"), **kw))


def test_column_gained_mid_stream_after_cached_commits(spark, tmp_path):
    runner = _runner(spark, tmp_path, "t", bucket_count=4)
    e1 = change_events(spark, 1200, n_convs=10, malformed_ratio=0.02)
    assert len(runner.replay(e1, lsn_step=400)) == 3
    e2 = change_events(spark, 800, n_convs=10, start_lsn=1200, with_tool_args=True,
                       malformed_ratio=0.02)
    assert len(runner.replay(e2, lsn_step=400)) == 2
    state = runner.state()
    assert "tool_args" in state.columns
    oracle = _oracle_frame(spark, e1.unionByName(e2, allowMissingColumns=True))
    _assert_state_equal(state, oracle, extra_cols=("tool_args",))


def test_second_table_with_other_schema_and_bucket_count(spark, tmp_path):
    a = _runner(spark, tmp_path, "a", bucket_count=4)
    b = _runner(spark, tmp_path, "b", bucket_count=3,
                extra_fields=[T.StructField("tool_args", T.StringType(), True)])
    ea = change_events(spark, 1200, n_convs=10, malformed_ratio=0.02)
    eb = change_events(spark, 1200, n_convs=12, with_tool_args=True, seed=7,
                       malformed_ratio=0.02)
    for hi in (399, 799, 1199):  # interleaved commits
        a.replay(ea, lsn_step=400, max_lsn=hi)
        b.replay(eb, lsn_step=400, max_lsn=hi)
    _assert_state_equal(a.state(), _oracle_frame(spark, ea))
    _assert_state_equal(b.state(), _oracle_frame(spark, eb), extra_cols=("tool_args",))
    # every row sits in the bucket its key hashes to under its own count
    for runner, n in ((a, 4), (b, 3)):
        snap = runner.table.current()
        for bucket, files in snap.files.items():
            rows = spark.read.parquet(*[os.path.join(runner.table.root, f) for f in files])
            got = rows.select(F.pmod(F.xxhash64("conv_id"), F.lit(n))).distinct().collect()
            assert {r[0] for r in got} == {int(bucket)}


def test_coalesce_batches_after_row_batches(spark, tmp_path):
    events = change_events(spark, 1600, n_convs=10, turns_per_conv=8, delete_ratio=0.1,
                           malformed_ratio=0.02)
    cfg = dict(bucket_count=4, normalize=False)
    _runner(spark, tmp_path, "t", **cfg).replay(events, lsn_step=400, max_lsn=799)
    runner = _runner(spark, tmp_path, "t", update_policy="coalesce", **cfg)
    assert len(runner.replay(events, lsn_step=400)) == 2

    # sequential oracle: whole rows up to LSN 799, then null fields keep
    # the stored value; a delete resets every field
    valid, _ = split_dead_letter(events)
    state = {}
    for d in valid.toPandas().sort_values(LSN_COL).to_dict("records"):
        key = (d["conv_id"], d["turn_idx"])
        if d[OP_COL] == "D":
            state.pop(key, None)
        elif d[LSN_COL] <= 799 or key not in state:
            state[key] = {c: d[c] for c in PAYLOAD}
        else:
            state[key] = {c: d[c] if d[c] is not None and d[c] == d[c] else state[key][c]
                          for c in PAYLOAD}
    oracle = pd.DataFrame([{"conv_id": k[0], "turn_idx": k[1], **v} for k, v in state.items()])
    _assert_state_equal(runner.state(), oracle)


def test_dead_letters_share_the_merge_write_action(spark, tmp_path, monkeypatch):
    from pyspark.sql.readwriter import DataFrameWriter

    actions = []
    for name in ("parquet", "save", "csv", "json", "orc", "text", "saveAsTable", "insertInto"):
        real = getattr(DataFrameWriter, name)

        def spy(self, *args, _real=real, _name=name, **kwargs):
            actions.append(_name)
            return _real(self, *args, **kwargs)

        monkeypatch.setattr(DataFrameWriter, name, spy)
    runner = _runner(spark, tmp_path, "t", bucket_count=4)
    r = runner.apply_batch(change_events(spark, 500, n_convs=5, malformed_ratio=0.05), "b1")
    assert r.metrics["dead_letter_rows"] > 0 and r.metrics["winners"] > 0
    assert actions == ["parquet"]
