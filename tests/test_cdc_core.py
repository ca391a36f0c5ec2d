"""End-to-end CDC core: generator → normalize → LWW MERGE → final-state
equality vs the pandas oracle (the reference's replay-reproduces-state
contract, ``export/DictionaryCSVServiceTest.java:105-179``)."""

import pandas as pd
import pytest

from picsure_dictionary_etl_spark.cdc.generator import change_events, expected_final_state
from picsure_dictionary_etl_spark.cdc.normalize import normalize_events, split_dead_letter
from picsure_dictionary_etl_spark.cdc.runner import CdcRunner, RunnerConfig
from picsure_dictionary_etl_spark.lake.merge import LSN_COL, optimize

# the runner tests read their final state from both layouts a table can
# hold: "mor" leaves the inline-compaction layout (deltas over bases);
# "cow" also compacts every bucket (optimize, threshold 1), so the state
# is read from rewritten, resolved bases — the layout a copy-on-write
# merge leaves
LAYOUTS = pytest.mark.parametrize("compact", [True, False], ids=["cow", "mor"])


def _oracle_frame(spark, events_df):
    """Normalize exactly like the engine, then apply in LSN order in pandas."""
    valid, _ = split_dead_letter(normalize_events(events_df))
    return expected_final_state(valid.toPandas())


def _assert_state_equal(state_df, oracle_pdf, extra_cols=()):
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts", *extra_cols]
    got = (
        state_df.toPandas()[cols]
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    want = oracle_pdf
    if len(want):
        want = want[cols].sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert len(got) == len(want), f"row count {len(got)} != oracle {len(want)}"
    if len(want):
        pd.testing.assert_frame_equal(got, want, check_dtype=False)


@LAYOUTS
def test_replay_matches_oracle(spark, tmp_path, compact):
    events = change_events(
        spark, 4000, n_convs=40, turns_per_conv=20, delete_ratio=0.1,
        hot_fraction=0.3, malformed_ratio=0.02,
    )
    runner = CdcRunner(
        spark,
        RunnerConfig(
            table_root=str(tmp_path / "t"),
            dead_letter_dir=str(tmp_path / "dlq"),
            lineage_path=str(tmp_path / "lineage.jsonl"),
            bucket_count=8,
            compact_threshold=3,
        ),
    )
    results = runner.replay(events, lsn_step=1000)
    assert len(results) == 4
    assert runner.watermark() == 3999
    if compact:
        optimize(runner.table, compact_threshold=1)
        assert all(len(f) == 1 for f in runner.table.current().files.values())

    _assert_state_equal(runner.state(), _oracle_frame(spark, events))

    # lineage written per commit
    import json

    lines = [json.loads(l) for l in open(tmp_path / "lineage.jsonl")]
    assert len(lines) == 4
    assert all("per_bucket_rows" in l and "rows_in" in l for l in lines)
    assert lines[0]["dead_letter_rows"] > 0
    # threshold 3 over 4 batches forces at least one inline compaction
    assert any(l.get("buckets_compacted") for l in lines[1:])


def test_exactly_once_redelivery(spark, tmp_path):
    events = change_events(spark, 1000, n_convs=10, delete_ratio=0.1)
    runner = CdcRunner(spark, RunnerConfig(table_root=str(tmp_path / "t"), bucket_count=4))
    runner.replay(events, lsn_step=500)
    v1 = runner.table.current_version()
    state1 = runner.state().toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)

    # redeliver an already-applied batch id → skipped, no new snapshot
    b = events.filter((events[LSN_COL] >= 0) & (events[LSN_COL] < 500))
    r = runner.apply_batch(b, "lsn--1-499")
    assert r.metrics.get("skipped_duplicate_batch")
    assert runner.table.current_version() == v1

    # redeliver the same *data* under a new batch id → LWW makes it a
    # no-op on state (a commit happens, state is unchanged)
    runner.apply_batch(b, "redelivered-under-new-id")
    state2 = runner.state().toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(state1, state2, check_dtype=False)


@LAYOUTS
def test_resume_from_checkpoint(spark, tmp_path, compact):
    """Kill mid-replay and restart: final state identical to one-shot."""
    events = change_events(spark, 2000, n_convs=20, delete_ratio=0.08)
    root = str(tmp_path / "t")
    cfg = dict(table_root=root, bucket_count=4, compact_threshold=3)
    r1 = CdcRunner(spark, RunnerConfig(**cfg))
    r1.replay(events, lsn_step=500, max_lsn=999)  # "crash" after 2 batches
    assert r1.watermark() == 999
    if compact:
        # a maintenance commit between crash and restart keeps the
        # watermark the restart resumes from
        optimize(r1.table, compact_threshold=1)
        assert r1.watermark() == 999

    r2 = CdcRunner(spark, RunnerConfig(**cfg))  # fresh process
    r2.replay(events, lsn_step=500)  # resumes from watermark
    _assert_state_equal(r2.state(), _oracle_frame(spark, events))


def test_schema_evolution_additive(spark, tmp_path):
    root = str(tmp_path / "t")
    runner = CdcRunner(spark, RunnerConfig(table_root=root, bucket_count=4))
    e1 = change_events(spark, 800, n_convs=10)
    runner.replay(e1, lsn_step=800)

    e2 = change_events(spark, 800, n_convs=10, start_lsn=800, with_tool_args=True)
    runner.replay(e2, lsn_step=800)

    state = runner.state()
    assert "tool_args" in state.columns
    both = e1.unionByName(e2, allowMissingColumns=True)
    oracle = _oracle_frame(spark, both)
    if "tool_args" not in oracle.columns:
        oracle["tool_args"] = None
    _assert_state_equal(state, oracle, extra_cols=("tool_args",))


def test_delete_all_then_reinsert(spark, tmp_path):
    from pyspark.sql import Row

    runner = CdcRunner(spark, RunnerConfig(table_root=str(tmp_path / "t"), bucket_count=2))
    rows = [
        Row(_lsn=1, _op="I", conv_id="c1", turn_idx=0, role="user", text="hi", tool=None, ts=None),
        Row(_lsn=2, _op="D", conv_id="c1", turn_idx=0, role=None, text=None, tool=None, ts=None),
        Row(_lsn=3, _op="I", conv_id="c1", turn_idx=0, role="user", text="again", tool=None, ts=None),
    ]
    from picsure_dictionary_etl_spark.cdc.envelope import change_event_schema

    df = spark.createDataFrame(rows, change_event_schema())
    runner.apply_batch(df.filter(df._lsn <= 2), "b1")
    assert runner.state().count() == 0
    runner.apply_batch(df.filter(df._lsn == 3), "b2")
    out = runner.state().collect()
    assert len(out) == 1 and out[0]["text"] == "again"


def test_conflict_count_lineage(spark, tmp_path):
    """Per-commit lineage carries winners + lww_conflicts (superseded
    in-batch duplicates) — observed on the write job, no extra action."""
    from picsure_dictionary_etl_spark.cdc.envelope import (
        TRANSCRIPT_KEY,
        change_event_schema,
        transcript_table_schema,
    )
    from picsure_dictionary_etl_spark.lake.merge import merge_into
    from picsure_dictionary_etl_spark.lake.table import LakeTable

    t = LakeTable.create(
        spark, str(tmp_path / "t"), schema=transcript_table_schema(),
        key_cols=TRANSCRIPT_KEY, bucket_by=["conv_id"], bucket_count=2,
    )
    ev = spark.createDataFrame(
        [
            (1, "I", "c1", 0, "user", "v1", None, None),
            (2, "U", "c1", 0, "user", "v2", None, None),  # supersedes lsn 1
            (3, "I", "c2", 0, "user", "x", None, None),
        ],
        change_event_schema(),
    )
    m = merge_into(t, ev, "b1").metrics
    assert m["rows_in"] == 3 and m["winners"] == 2 and m["lww_conflicts"] == 1


def _one_key_table(spark, tmp_path, name):
    from picsure_dictionary_etl_spark.cdc.envelope import (
        TRANSCRIPT_KEY,
        transcript_table_schema,
    )
    from picsure_dictionary_etl_spark.lake.table import LakeTable

    return LakeTable.create(
        spark, str(tmp_path / name), schema=transcript_table_schema(),
        key_cols=TRANSCRIPT_KEY, bucket_by=["conv_id"], bucket_count=2,
    )


def test_mor_compaction_of_fully_deleted_bucket_sticks(spark, tmp_path):
    """Regression (hypothesis-found): a bucket whose keys all died by
    compaction time must swap to an empty file list — the
    dynamic-partition writer emits no dir for an empty bucket, and a
    missing replaces entry would keep its pre-compaction files alive."""
    from picsure_dictionary_etl_spark.cdc.envelope import change_event_schema
    from picsure_dictionary_etl_spark.lake.merge import merge_into, resolve_live

    t = _one_key_table(spark, tmp_path, "mordel")
    ev = lambda rows: spark.createDataFrame(rows, change_event_schema())  # noqa: E731
    merge_into(t, ev([(1, "I", "c0", 0, "user", "a", None, None)]), "b0",
               compact_threshold=2)
    # tombstone delta + threshold breach in one batch -> compaction of a
    # bucket that resolves to empty
    merge_into(t, ev([(2, "D", "c0", 0, None, None, None, None)]), "b1",
               compact_threshold=1)
    live = resolve_live(t.read(), ["conv_id", "turn_idx"],
                        ["role", "text", "tool", "ts"])
    assert live.count() == 0
    assert t.current().files == {}
