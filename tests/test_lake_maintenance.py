"""Lake maintenance: time travel, vacuum, kill -9 crash recovery,
LWW property test (hypothesis)."""

import os
import signal
import subprocess
import sys
import time

import pandas as pd

from picsure_dictionary_etl_spark.cdc.generator import change_events, expected_final_state
from picsure_dictionary_etl_spark.cdc.normalize import normalize_events, split_dead_letter
from picsure_dictionary_etl_spark.cdc.runner import CdcRunner, RunnerConfig
from picsure_dictionary_etl_spark.lake.merge import resolve_live


def test_time_travel_and_vacuum(spark, tmp_path):
    events = change_events(spark, 1200, n_convs=15, delete_ratio=0.1)
    runner = CdcRunner(
        spark,
        RunnerConfig(table_root=str(tmp_path / "t"), bucket_count=4, compact_threshold=2),
    )
    runner.replay(events, lsn_step=400)
    t = runner.table
    v_final = t.current_version()
    assert v_final >= 3

    # time travel: version 1 state differs from final, both readable
    keys, payload = ["conv_id", "turn_idx"], ["role", "text", "tool", "ts"]
    v1_rows = resolve_live(t.read_version(1), keys, payload).count()
    final_rows = runner.state().count()
    assert v1_rows > 0 and v1_rows != final_rows

    # vacuum keeps the last 2 snapshots; older manifests + orphans go
    n_parquet_before = sum(
        len(fs) for _, _, fs in os.walk(tmp_path / "t" / "data") for f in [fs]
    )
    stats = t.vacuum(keep_snapshots=2)
    assert stats["snapshots_kept"] == 2
    # current state unchanged after vacuum
    assert runner.state().count() == final_rows
    # old snapshot no longer readable
    import pytest

    with pytest.raises(FileNotFoundError):
        t.snapshot(v_final - 2)
    _ = n_parquet_before


KILL_WORKER = """
import sys
sys.path.insert(0, {repo!r})
from picsure_dictionary_etl_spark.session import get_spark
from picsure_dictionary_etl_spark.cdc.generator import change_events
from picsure_dictionary_etl_spark.cdc.runner import CdcRunner, RunnerConfig
spark = get_spark("kill-worker", master="local[2]", shuffle_partitions=4)
events = change_events(spark, 3000, n_convs=30, delete_ratio=0.1)
r = CdcRunner(spark, RunnerConfig(table_root={root!r}, bucket_count=4))
r.replay(events, lsn_step=300)
print("REPLAY_DONE", flush=True)
"""


def test_kill9_midreplay_then_resume(spark, tmp_path):
    """SIGKILL the replay process once a commit lands; a fresh runner
    resumes from the committed watermark and converges to the oracle."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    root = str(tmp_path / "t")
    code = KILL_WORKER.format(repo=repo, root=root)
    proc = subprocess.Popen(
        [sys.executable, "-c", code], stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL
    )
    version_file = os.path.join(root, "_meta", "VERSION")
    deadline = time.time() + 240
    while time.time() < deadline:
        if os.path.exists(version_file):
            with open(version_file) as f:
                if int(f.read().strip() or 0) >= 2:
                    break
        if proc.poll() is not None:
            break  # finished before we could kill — still a valid (weaker) run
        time.sleep(0.2)
    if proc.poll() is None:
        proc.send_signal(signal.SIGKILL)
        proc.wait()

    events = change_events(spark, 3000, n_convs=30, delete_ratio=0.1)
    runner = CdcRunner(spark, RunnerConfig(table_root=root, bucket_count=4))
    assert runner.watermark() >= -1
    runner.replay(events, lsn_step=300)

    valid, _ = split_dead_letter(normalize_events(events))
    oracle = expected_final_state(valid.toPandas())
    got = (
        runner.state()
        .toPandas()[["conv_id", "turn_idx", "text"]]
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    want = (
        oracle[["conv_id", "turn_idx", "text"]]
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_lww_property_hypothesis(spark):
    """Property: for ANY event sequence, engine LWW+delete semantics
    equal the sequential pandas oracle."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from picsure_dictionary_etl_spark.cdc.envelope import change_event_schema
    from picsure_dictionary_etl_spark.lake.merge import OP_COL, lww_winners
    from pyspark.sql import functions as F

    event = st.tuples(
        st.integers(0, 3),               # conv
        st.integers(0, 3),               # turn
        st.sampled_from(["I", "U", "D"]),
        st.text(alphabet="abc ", max_size=5),
    )

    @given(st.lists(event, min_size=1, max_size=25))
    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    def check(seq):
        rows = [
            (i, op, f"c{conv}", turn, "user", text, None, None)
            for i, (conv, turn, op, text) in enumerate(seq)
        ]
        df = spark.createDataFrame(rows, change_event_schema())
        live = (
            lww_winners(df, ["conv_id", "turn_idx"], ["role", "text", "tool", "ts"])
            .filter(F.col(OP_COL) != "D")
        )
        got = {
            (r["conv_id"], r["turn_idx"]): r["text"] for r in live.collect()
        }
        state = {}
        for i, (conv, turn, op, text) in enumerate(seq):
            key = (f"c{conv}", turn)
            if op == "D":
                state.pop(key, None)
            else:
                state[key] = text
        assert got == state

    check()


def test_fieldwise_property_hypothesis(spark):
    """Property: for ANY partial-event sequence, the field-wise reduce
    (D7 coalesce semantics) equals the sequential pandas oracle — each
    field keeps the latest SPECIFIED value, deletes reset all fields."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from picsure_dictionary_etl_spark.cdc.envelope import change_event_schema
    from picsure_dictionary_etl_spark.lake.merge import OP_COL, lww_winners_fieldwise
    from pyspark.sql import functions as F

    event = st.tuples(
        st.integers(0, 2),                              # conv
        st.integers(0, 2),                              # turn
        st.sampled_from(["I", "U", "U", "D"]),
        st.one_of(st.none(), st.text(alphabet="ab", max_size=3)),   # text
        st.one_of(st.none(), st.sampled_from(["user", "tool"])),    # role
    )

    @given(st.lists(event, min_size=1, max_size=25))
    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    def check(seq):
        rows = [
            (i, op, f"c{conv}", turn, role, text, None, None)
            for i, (conv, turn, op, text, role) in enumerate(seq)
        ]
        df = spark.createDataFrame(rows, change_event_schema())
        live = lww_winners_fieldwise(
            df, ["conv_id", "turn_idx"], ["role", "text", "tool", "ts"],
            policy="coalesce",
        ).filter(F.col(OP_COL) != "D")
        got = {
            (r["conv_id"], r["turn_idx"]): (r["text"], r["role"])
            for r in live.collect()
        }
        state = {}
        last_op = {}
        for i, (conv, turn, op, text, role) in enumerate(seq):
            key = (f"c{conv}", turn)
            if op == "D":
                state.pop(key, None)
                last_op[key] = "D"
                continue
            cur = state.get(key, (None, None))
            state[key] = (text if text is not None else cur[0],
                          role if role is not None else cur[1])
            last_op[key] = op
        want = {k: v for k, v in state.items() if last_op[k] != "D"}
        assert got == want

    check()


def test_mixed_policy_mor_matches_oracle_hypothesis(spark, tmp_path):
    """Property: a stream of batches with MIXED update policies (row /
    coalesce per batch) — field-wise _pu deltas interleaved with
    row-policy deltas and inline compaction — resolves to the state of
    a sequential oracle."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from picsure_dictionary_etl_spark.cdc.envelope import (
        TRANSCRIPT_KEY,
        change_event_schema,
        transcript_table_schema,
    )
    from picsure_dictionary_etl_spark.lake.merge import (
        _payload_cols,
        merge_into,
        resolve_live,
    )
    from picsure_dictionary_etl_spark.lake.table import LakeTable

    event = st.tuples(
        st.integers(0, 1),                                  # conv
        st.integers(0, 1),                                  # turn
        st.sampled_from(["I", "U", "U", "D"]),
        st.one_of(st.none(), st.text(alphabet="ab", max_size=2)),  # text
        st.one_of(st.none(), st.sampled_from(["user", "tool"])),   # role
    )
    batch = st.tuples(st.sampled_from(["row", "coalesce"]),
                      st.lists(event, min_size=1, max_size=6))

    counter = [0]

    @given(st.lists(batch, min_size=1, max_size=3))
    @settings(max_examples=5, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    def check(batches):
        counter[0] += 1
        t = LakeTable.create(
            spark, str(tmp_path / f"mix-{counter[0]}"),
            schema=transcript_table_schema(),
            key_cols=TRANSCRIPT_KEY, bucket_by=["conv_id"], bucket_count=2,
        )
        state, lsn = {}, 0
        for bi, (policy, seq) in enumerate(batches):
            rows = []
            for conv, turn, op, text, role in seq:
                lsn += 1
                rows.append((lsn, op, f"c{conv}", turn, role, text, None, None))
                key = (f"c{conv}", turn)
                if op == "D":
                    state.pop(key, None)
                elif policy == "row":
                    state[key] = (text, role)
                else:
                    cur = state.get(key, (None, None))
                    state[key] = (text if text is not None else cur[0],
                                  role if role is not None else cur[1])
            df = spark.createDataFrame(rows, change_event_schema())
            merge_into(t, df, f"b{bi}", update_policy=policy,
                       compact_threshold=2)
        snap = t.current()
        payload = _payload_cols(snap)
        raw = t.read(snap)
        live = resolve_live(raw, TRANSCRIPT_KEY, payload, schema=snap.schema)
        got = {(r["conv_id"], r["turn_idx"]): (r["text"], r["role"])
               for r in live.collect()}
        assert got == state, f"{got} != {state}"

    check()


def test_history_and_rollback_replay(spark, tmp_path):
    """history() exposes the commit log; rollback() reverts state AND
    the exactly-once bookkeeping as a forward commit, so replaying the
    same WAL deterministically re-applies everything after the rollback
    point — the bad-batch recovery path."""
    from picsure_dictionary_etl_spark.cdc.generator import change_events
    from picsure_dictionary_etl_spark.cdc.runner import CdcRunner, RunnerConfig

    events = change_events(spark, 3000, n_convs=20, delete_ratio=0.1)
    r = CdcRunner(spark, RunnerConfig(table_root=str(tmp_path / "t"), bucket_count=4))
    r.replay(events, lsn_step=1000)

    hist = r.table.history()
    assert [h["version"] for h in hist] == [0, 1, 2, 3]
    assert hist[1]["lineage"]["batch_id"] == "lsn--1-999"
    assert hist[3]["watermark_lsn"] == 2999

    golden = {
        (row["conv_id"], row["turn_idx"]): row["text"]
        for row in r.state().collect()
    }

    snap = r.table.rollback(1)  # undo batches 2 and 3
    assert snap.version == 4 and snap.lineage == {"rollback_to": 1}
    assert r.table.watermark() == 999
    # state reverted exactly to the version-1 snapshot
    keys, payload = ["conv_id", "turn_idx"], ["role", "text", "tool", "ts"]
    assert r.state().count() == resolve_live(r.table.read_version(1), keys, payload).count()

    # deterministic replay from the rolled-back watermark reproduces the
    # original final state bit-for-bit
    r.replay(events, lsn_step=1000)
    assert r.table.watermark() == 2999
    got = {
        (row["conv_id"], row["turn_idx"]): row["text"]
        for row in r.state().collect()
    }
    assert got == golden
    assert r.table.history()[-1]["version"] == 6


def test_point_lookup_reads_one_bucket(spark, tmp_path, bucket_reads):
    """read_keys / CdcRunner.conversation touch only the bucket the key
    hashes to — verified against the full-scan answer AND by the read
    file set being a strict subset of the table's."""
    events = change_events(spark, 4000, n_convs=40, delete_ratio=0.05)
    r = CdcRunner(spark, RunnerConfig(table_root=str(tmp_path / "t"),
                                      bucket_count=16))
    r.replay(events, lsn_step=2000)

    full = {
        (row["conv_id"], row["turn_idx"]): row["text"]
        for row in r.state().collect()
    }
    conv = next(iter(sorted({k[0] for k in full})))
    got = r.conversation(conv).collect()
    assert [row["turn_idx"] for row in got] == sorted(row["turn_idx"] for row in got)
    assert {(row["conv_id"], row["turn_idx"]): row["text"] for row in got} == {
        k: v for k, v in full.items() if k[0] == conv
    }
    # pruning: the point lookup reads strictly fewer files than a scan
    all_files = set(r.table.current().all_files())
    bucket_reads.clear()
    r.table.read_keys([conv])
    [(point_files, _filters)] = bucket_reads
    assert point_files and set(point_files) < all_files


def test_should_compact_trigger_matrix():
    """Count + bytes trigger rules (lake/merge._should_compact)."""
    from picsure_dictionary_etl_spark.lake.merge import _should_compact

    MB = 1024 * 1024
    # pure-count behavior when sizes are unavailable
    assert not _should_compact(8, 8, None, None, 64 * MB)
    assert _should_compact(9, 8, None, None, 64 * MB)
    # below count: early-compact only when deltas alone exceed target
    assert _should_compact(3, 8, 0, 65 * MB, 64 * MB)
    assert not _should_compact(3, 8, 0, 1 * MB, 64 * MB)
    # count fired, large healthy base, trivial deltas -> defer
    assert not _should_compact(9, 8, 500 * MB, 2 * MB, 64 * MB)
    # ...but a small base never defers (rewrite is cheap)
    assert _should_compact(9, 8, 10 * MB, 2 * MB, 64 * MB)
    # ...nor do non-trivial deltas (>2% of base)
    assert _should_compact(9, 8, 500 * MB, 30 * MB, 64 * MB)
    # ...and the 4x hard cap bounds deferral
    assert _should_compact(33, 8, 500 * MB, 2 * MB, 64 * MB)


def test_bytes_trigger_compacts_early(spark, tmp_path):
    """Deltas whose accumulated bytes exceed compact_target_bytes merge
    before the count threshold fires (tiny target to trip at test
    scale)."""
    from picsure_dictionary_etl_spark.cdc.envelope import change_event_schema
    from picsure_dictionary_etl_spark.cdc.runner import CdcRunner, RunnerConfig

    r = CdcRunner(spark, RunnerConfig(
        table_root=str(tmp_path / "bt"), bucket_count=1, normalize=False,
        compact_threshold=50, compact_target_bytes=500))
    for i in range(3):
        r.apply_batch(spark.createDataFrame(
            [(i + 1, "I", "c1", i, "user", "x" * 200, None, None)],
            change_event_schema()), f"b{i}")
    compacted = [
        v for v in range(1, r.table.current_version() + 1)
        if r.table.snapshot(v).lineage.get("buckets_compacted")
    ]
    assert compacted  # fired on bytes, never on count (3 files < 50)
    assert r.state().count() == 3


def test_manifest_records_file_sizes_and_trigger_avoids_stats(spark, tmp_path):
    """Commits record per-file byte sizes in the manifest (one stat per
    NEW file); the compaction trigger reads committed sizes from
    metadata — it must never re-stat the table's existing files (a
    HEAD-per-file tax on object stores at 10^10 scale)."""
    from picsure_dictionary_etl_spark.cdc.envelope import change_event_schema
    from picsure_dictionary_etl_spark.cdc.runner import CdcRunner, RunnerConfig

    r = CdcRunner(spark, RunnerConfig(
        table_root=str(tmp_path / "fs"), bucket_count=2, normalize=False,
        compact_threshold=50, compact_target_bytes=500))
    for i in range(2):
        r.apply_batch(spark.createDataFrame(
            [(i + 1, "I", "c1", i, "user", "x" * 200, None, None)],
            change_event_schema()), f"b{i}")
    t = r.table
    snap = t.current()
    # every referenced file has a recorded size matching the disk
    import os
    for f in snap.all_files():
        assert snap.file_sizes[f] == os.path.getsize(os.path.join(t.root, f))

    statted = []
    orig = t.fs.size

    def spy(path):
        statted.append(path)
        return orig(path)

    t.fs.size = spy
    try:
        r.apply_batch(spark.createDataFrame(
            [(3, "I", "c1", 7, "user", "x" * 200, None, None)],
            change_event_schema()), "b2")
    finally:
        t.fs.size = orig
    old_files = {os.path.join(t.root, f) for f in snap.all_files()}
    assert statted, "no stats at all — trigger and commit both idle?"
    assert not (set(statted) & old_files), (
        "trigger re-statted committed files instead of reading the manifest")


def test_rebucket_preserves_state_and_bookkeeping(spark, tmp_path):
    """rebucket(): live state identical under the new layout, CDF
    across the boundary is EMPTY (no row changed), exactly-once
    bookkeeping carries through, and subsequent merges use the new
    bucket count."""
    from picsure_dictionary_etl_spark.cdc.envelope import (
        TRANSCRIPT_KEY,
        change_event_schema,
        transcript_table_schema,
    )
    from picsure_dictionary_etl_spark.lake.merge import (
        _payload_cols,
        merge_into,
        rebucket,
        resolve_live,
        table_changes,
    )
    from picsure_dictionary_etl_spark.lake.table import LakeTable

    t = LakeTable.create(
        spark, str(tmp_path / "rb"), schema=transcript_table_schema(),
        key_cols=TRANSCRIPT_KEY, bucket_by=["conv_id"], bucket_count=4,
    )

    def ev(rows):
        return spark.createDataFrame(rows, change_event_schema())

    rows = [(i + 1, "I", f"c{i % 20}", i % 5, "user", f"t{i}", None, None)
            for i in range(200)]
    merge_into(t, ev(rows), "b0")
    merge_into(t, ev([(300, "U", "c3", 0, "user", "edited", None, None),
                      (301, "D", "c4", 4, None, None, None, None)]), "b1")

    def state():
        snap = t.current()
        live = resolve_live(t.read(), TRANSCRIPT_KEY, _payload_cols(snap))
        return {(r["conv_id"], r["turn_idx"]): r["text"] for r in live.collect()}

    before, v_before = state(), t.current().version
    snap2 = rebucket(t, 16)
    assert snap2.bucket_count == 16
    assert state() == before                       # no live row changed
    assert t.watermark() == 301                    # bookkeeping intact
    assert "b1" in t.applied_batch_ids()
    assert table_changes(t, v_before, snap2.version).count() == 0  # empty CDF
    assert len(t.current().files) > 4              # actually spread wider
    # old 4-bucket file lists are fully gone (explicit [] replaces)
    assert all(
        f.startswith(f"data/c{snap2.version:08d}")
        for fl in t.current().files.values() for f in fl
    )

    # redelivery of an applied batch is still a no-op; new merges land
    # in the 16-bucket layout
    assert merge_into(t, ev([(300, "U", "c3", 0, "user", "edited", None,
                              None)]), "b1").metrics.get("skipped_duplicate_batch")
    merge_into(t, ev([(400, "I", "c99", 0, "user", "post", None, None)]), "b2")
    after = state()
    assert after[("c99", 0)] == "post" and after[("c3", 0)] == "edited"
    # rebucket to the same count is a no-op commit-wise
    assert rebucket(t, 16).version == t.current().version


def test_rebucket_resolves_per_new_bucket(spark, tmp_path):
    """rebucket() resolves each bucket of the NEW layout, not the old
    one: a one-bucket table (the whole table one pandas frame when read)
    rebuckets to 8 with every resolve group, and so every Python task's
    frame, one new bucket; the live state is the reference's."""
    from pyspark.sql import functions as F

    from picsure_dictionary_etl_spark.cdc.envelope import (
        TRANSCRIPT_KEY,
        change_event_schema,
        transcript_table_schema,
    )
    from picsure_dictionary_etl_spark.lake.merge import (
        _live_rows,
        _payload_cols,
        merge_into,
        rebucket,
        resolve_live,
    )
    from picsure_dictionary_etl_spark.lake.table import BUCKET_COL, LakeTable, bucket_expr

    t = LakeTable.create(
        spark, str(tmp_path / "rb1"), schema=transcript_table_schema(),
        key_cols=TRANSCRIPT_KEY, bucket_by=["conv_id"], bucket_count=1,
    )
    ev = change_event_schema()
    for b in range(3):
        merge_into(t, spark.createDataFrame(
            [(b * 100 + i + 1, "D" if i % 7 == 0 else "U", f"c{i % 40}", i % 3,
              "user", f"t{b}-{i}", None, None) for i in range(90)], ev), f"b{b}")
    snap = t.current()
    live = _live_rows(t, snap, snap.all_files(), bucket_count=8)
    # each row carries the bucket of the new layout it was resolved in
    assert live.filter(F.col(BUCKET_COL) != bucket_expr(["conv_id"], 8)).count() == 0
    assert live.select(BUCKET_COL).distinct().count() > 1
    ref = resolve_live(t.read(), TRANSCRIPT_KEY, _payload_cols(snap))
    want = {(r["conv_id"], r["turn_idx"], r["text"]) for r in ref.collect()}
    out = rebucket(t, 8)
    assert len(out.files) > 1 and all(len(fl) == 1 for fl in out.files.values())
    got = {(r["conv_id"], r["turn_idx"], r["text"]) for r in t.live().collect()}
    assert got == want


def test_rebucket_crashed_claim_is_taken_over(spark, tmp_path):
    """A rebucket killed between manifest claim and pointer swap must be
    retryable: the retry-stable batch id makes the orphan claim a
    takeover, not a permanent ConcurrentCommitError."""
    import json

    from picsure_dictionary_etl_spark.cdc.envelope import (
        TRANSCRIPT_KEY,
        change_event_schema,
        transcript_table_schema,
    )
    from picsure_dictionary_etl_spark.lake.merge import merge_into, rebucket
    from picsure_dictionary_etl_spark.lake.table import LakeTable

    t = LakeTable.create(
        spark, str(tmp_path / "rk"), schema=transcript_table_schema(),
        key_cols=TRANSCRIPT_KEY, bucket_by=["conv_id"], bucket_count=2,
    )
    merge_into(t, spark.createDataFrame(
        [(1, "I", "c1", 0, "user", "x", None, None)],
        change_event_schema()), "b0")
    v = t.current().version

    # simulate the crashed attempt: claim v+1 with the rebucket batch id
    # (attempt-unique data dirs -> manifest bytes differ from any retry)
    orphan = json.loads(t.current().to_json())
    orphan["version"], orphan["parent"] = v + 1, v
    orphan["lineage"] = {"batch_id": f"rebucket-2-8-v{v + 1}"}
    assert t.io.create_exclusive(
        f"{t.root}/_meta/snap-{v + 1:08d}.json", json.dumps(orphan))
    assert t.current().version == v

    snap = rebucket(t, 8)  # retry takes the claim over
    assert snap.version == v + 1 and snap.bucket_count == 8
    assert t.read().count() == 1


def test_commit_timestamps_and_timestamp_travel(spark, tmp_path):
    """Every commit stamps a strictly-monotone ``committed_at`` (epoch
    micros) in the manifest; ``version_at_timestamp``/``read_timestamp``
    resolve TIMESTAMP AS OF over it; ``vacuum(older_than=...)`` retains
    the wall-clock window (Delta RETAIN analog)."""
    import datetime as dt

    import pytest

    from picsure_dictionary_etl_spark.lake.table import TimeTravelError

    root = str(tmp_path / "t")
    r = CdcRunner(spark, RunnerConfig(table_root=root, bucket_count=4))
    events = change_events(spark, 900, n_convs=12, delete_ratio=0.1)
    r.replay(events, lsn_step=300)  # v0 create + 3 data commits
    t = r.table
    cur = t.current_version()
    assert cur >= 3

    stamps = [t.snapshot(v).committed_at for v in range(cur + 1)]
    assert all(isinstance(s, int) for s in stamps)
    assert all(b > a for a, b in zip(stamps, stamps[1:]))

    # boundaries: ts == commit time -> that version; between commits ->
    # the earlier; after the head -> current; before all -> typed error
    for v in range(cur + 1):
        assert t.version_at_timestamp(stamps[v]) == v
    assert t.version_at_timestamp(stamps[2] - 1) == 1
    assert t.version_at_timestamp(stamps[-1] + 10**9) == cur
    with pytest.raises(TimeTravelError):
        t.version_at_timestamp(stamps[0] - 1)

    keys, payload = ["conv_id", "turn_idx"], ["role", "text", "tool", "ts"]
    a = resolve_live(t.read_timestamp(stamps[1]), keys, payload).count()
    b = resolve_live(t.read_version(1), keys, payload).count()
    assert a == b > 0

    # datetime / ISO string / float-seconds forms resolve identically
    as_dt = dt.datetime.fromtimestamp(stamps[2] / 1e6, dt.timezone.utc)
    assert t.version_at_timestamp(as_dt) == 2
    assert t.version_at_timestamp(as_dt.isoformat()) == 2
    assert t.version_at_timestamp(stamps[2] / 1e6) == 2

    # history surfaces the stamps in order
    assert [h["committed_at"] for h in t.history()] == stamps

    # time-based retention: keep commits at-or-after v(cur-1)'s stamp
    # (count floor of 1 is narrower, the union keeps 2)
    stats = t.vacuum(keep_snapshots=1, older_than=stamps[cur - 1])
    assert stats["snapshots_kept"] == 2
    with pytest.raises(FileNotFoundError):
        t.snapshot(cur - 2)
    assert resolve_live(t.read_version(cur - 1), keys, payload).count() > 0
    with pytest.raises(TimeTravelError):
        t.version_at_timestamp(stamps[0])


def test_metadata_retry_ignores_fresh_wallclock(spark, tmp_path):
    """A crashed metadata-only commit retried later stamps a NEW
    committed_at; the takeover intent-compare strips it (a raw
    byte-equality compare would turn every such retry into a spurious
    ConcurrentCommitError). A claim with genuinely different content
    still raises."""
    import os

    import pytest

    from picsure_dictionary_etl_spark.lake.table import (
        META_DIR,
        ConcurrentCommitError,
        Snapshot,
    )

    root = str(tmp_path / "t")
    r = CdcRunner(spark, RunnerConfig(table_root=root, bucket_count=4))
    events = change_events(spark, 300, n_convs=6, delete_ratio=0.1)
    r.replay(events, lsn_step=300)
    t = r.table
    prev = t.current()

    # simulate truncate() crashing AFTER the claim, BEFORE the pointer
    # swap — stamped with the crashed attempt's wall-clock
    props = dict(prev.properties)
    props["watermark_lsn"] = -1
    props["applied_batches"] = []
    crashed = Snapshot(
        version=prev.version + 1,
        parent=prev.version,
        schema_json=prev.schema_json,
        bucket_count=prev.bucket_count,
        key_cols=prev.key_cols,
        bucket_by=prev.bucket_by,
        files={},
        properties=props,
        lineage={"truncate": True},
        committed_at=12_345,  # long before the retry's clock
    )
    claim = os.path.join(root, META_DIR, f"snap-{crashed.version:08d}.json")
    assert t.io.create_exclusive(claim, crashed.to_json())

    snap = t.truncate()  # the retry: same intent, fresh committed_at
    assert snap.version == crashed.version
    assert snap.committed_at != 12_345
    assert t.current_version() == snap.version

    # different content at the next version is a REAL conflict
    foreign = Snapshot(
        version=snap.version + 1,
        parent=snap.version,
        schema_json=snap.schema_json,
        bucket_count=snap.bucket_count,
        key_cols=snap.key_cols,
        bucket_by=snap.bucket_by,
        files={},
        properties={"watermark_lsn": 999, "applied_batches": []},
        lineage={"truncate": True},
        committed_at=777,
    )
    claim2 = os.path.join(root, META_DIR, f"snap-{foreign.version:08d}.json")
    assert t.io.create_exclusive(claim2, foreign.to_json())
    with pytest.raises(ConcurrentCommitError):
        t.truncate()


def test_optimize_compacts_sink_style_delta_buildup(spark, tmp_path):
    """Standalone optimize() (the Delta OPTIMIZE analog): buckets whose
    delta files piled up past the trigger collapse to one key-sorted
    base each — resolved state identical, value-level CDF across the
    boundary EMPTY, tombstoned-out buckets swap to empty file lists,
    and a healthy table is a metadata-only no-op (returns None)."""
    import datetime

    from picsure_dictionary_etl_spark.cdc.envelope import (
        TRANSCRIPT_KEY,
        change_event_schema,
        transcript_table_schema,
    )
    from picsure_dictionary_etl_spark.lake.merge import (
        merge_into,
        optimize,
        table_changes,
    )
    from picsure_dictionary_etl_spark.lake.table import LakeTable

    TS = datetime.datetime(2024, 1, 1)
    root = str(tmp_path / "t")
    t = LakeTable.create(spark, root, schema=transcript_table_schema(),
                         key_cols=TRANSCRIPT_KEY, bucket_by=["conv_id"],
                         bucket_count=2)
    ev = lambda rows: spark.createDataFrame(rows, change_event_schema())  # noqa: E731
    # 6 delta-append commits, inline compaction suppressed
    lsn = 0
    for i in range(6):
        lsn += 1
        merge_into(t, ev([
            (lsn, "U", f"c{i % 4}", 0, "user", f"v{lsn}", None, TS)]),
            f"b{i}", compact_threshold=100)
    keys, payload = TRANSCRIPT_KEY, ["role", "text", "tool", "ts"]
    before = {tuple(r) for r in resolve_live(t.read(), keys, payload)
              .select("conv_id", "text", "_lsn").collect()}
    assert any(len(fs) > 2 for fs in t.current().files.values())
    v = t.current_version()

    snap = optimize(t, compact_threshold=2)
    assert snap is not None and snap.version == v + 1
    assert all(len(fs) == 1 for fs in snap.files.values())
    after = {tuple(r) for r in resolve_live(t.read(), keys, payload)
             .select("conv_id", "text", "_lsn").collect()}
    assert after == before
    # compaction changes file LISTS but no live row: empty value diff
    assert table_changes(t, v, v + 1).count() == 0
    # healthy table: metadata-only no-op
    assert optimize(t, compact_threshold=2) is None

    # tombstone every key of bucket holding c0..c3 -> optimize swaps the
    # bucket(s) to EMPTY lists, never resurrects
    lsn += 1
    dels = [(lsn + j, "D", f"c{j}", 0, None, None, None, None)
            for j in range(4)]
    merge_into(t, ev(dels), "bdel", compact_threshold=100)
    v2 = t.current_version()
    snap2 = optimize(t, compact_threshold=0)  # force: every multi-file bucket
    assert snap2 is not None
    assert resolve_live(t.read(), keys, payload).count() == 0
    assert snap2.files == {}  # all buckets resolved to zero live rows
    assert table_changes(t, v2, snap2.version).count() == 0


def test_to_micros_integer_seconds_vs_micros(spark):
    """Integer timestamps below 10^12 are epoch SECONDS (the
    time.time() convention), at-or-above are MICROS — the silent-wrong
    case where integer seconds parsed as 1970-era micros (and a stream
    quietly replayed the whole table) is gone (review finding)."""
    from picsure_dictionary_etl_spark.lake.table import to_micros

    assert to_micros(1_755_400_000) == 1_755_400_000 * 1_000_000
    assert to_micros("1755400000") == 1_755_400_000 * 1_000_000
    assert to_micros(1_755_400_000_000_000) == 1_755_400_000_000_000
    assert to_micros("1755400000000000") == 1_755_400_000_000_000
    assert to_micros(1_755_400_000.5) == 1_755_400_000_500_000


def test_merge_into_concurrent_retries_past_racing_commit(spark, tmp_path):
    """Optimistic multi-writer loop: writer A reads snapshot v, writer B
    commits v+1 underneath it, A's claim conflicts (foreign batch id)
    and merge_into raises — merge_into_concurrent retries, re-reads the
    winner's state, and lands A's batch on v+2 with BOTH batches'
    effects in the final fold; the losing attempt's orphan files
    vacuum away."""
    from picsure_dictionary_etl_spark.cdc.envelope import (
        TRANSCRIPT_KEY,
        change_event_schema,
        transcript_table_schema,
    )
    from picsure_dictionary_etl_spark.lake.merge import (
        merge_into,
        merge_into_concurrent,
        resolve_live,
    )
    from picsure_dictionary_etl_spark.lake.table import LakeTable

    root = str(tmp_path / "race")
    LakeTable.create(spark, root, schema=transcript_table_schema(),
                     key_cols=TRANSCRIPT_KEY, bucket_by=["conv_id"],
                     bucket_count=4)
    import datetime

    ts = datetime.datetime(2024, 1, 1)

    def ev(rows):
        return spark.createDataFrame(rows, change_event_schema())

    ta = LakeTable.load(spark, root)
    tb = LakeTable.load(spark, root)

    # inject writer B's real commit between A's snapshot read and A's
    # claim: wrap A's commit so its FIRST invocation first lets B merge
    raced = {"done": False}
    orig_commit = ta.commit

    def racing_commit(*args, **kwargs):
        if not raced["done"]:
            raced["done"] = True
            merge_into(tb, ev([(1, "I", "cB", 0, "user", "from B", None, ts)]),
                       "batch-B")
        return orig_commit(*args, **kwargs)

    ta.commit = racing_commit
    res = merge_into_concurrent(
        ta, ev([(2, "I", "cA", 0, "user", "from A", None, ts)]), "batch-A")
    ta.commit = orig_commit
    assert res.snapshot.version == 2  # create=0, B=1, A lands on retry=2

    t = LakeTable.load(spark, root)
    live = {tuple(r) for r in
            resolve_live(t.read(), TRANSCRIPT_KEY,
                         ["role", "text", "tool", "ts"])
            .select("conv_id", "text", "_lsn").collect()}
    assert live == {("cA", "from A", 2), ("cB", "from B", 1)}
    assert "batch-A" in t.applied_batch_ids()
    assert "batch-B" in t.applied_batch_ids()
    gc = t.vacuum(keep_snapshots=1)
    assert gc["files_removed"] >= 1  # the losing attempt's orphans


def test_clone_hardlink_fork_is_independent(spark, tmp_path):
    """clone(): a POSIX same-device clone hard-links every data file
    (zero bytes copied — verified via inode identity), reproduces the
    exact source state, and the fork is fully independent: merges into
    either side don't leak into the other, the clone's CDF bootstraps
    as (0 -> 1] full-state inserts, and a source rewrite + vacuum
    cannot break the clone (the inode survives the source's unlink)."""
    import pytest

    from picsure_dictionary_etl_spark.cdc.envelope import change_event_schema
    from picsure_dictionary_etl_spark.lake.merge import (
        merge_into,
        table_changes,
    )
    from picsure_dictionary_etl_spark.lake.table import (
        ConcurrentCommitError,
        LakeTable,
    )

    src_root = str(tmp_path / "src")
    r = CdcRunner(spark, RunnerConfig(table_root=src_root, bucket_count=4,
                                      normalize=False))
    events = change_events(spark, 800, n_convs=12, delete_ratio=0.1)
    r.replay(events, lsn_step=300)
    t = r.table
    keys, payload = ["conv_id", "turn_idx"], ["role", "text", "tool", "ts"]

    def state(tbl):
        return {tuple(row) for row in
                resolve_live(tbl.read(), keys, payload)
                .select("conv_id", "turn_idx", "text", "_lsn").collect()}

    want = state(t)
    clone_root = str(tmp_path / "fork")
    c = t.clone(clone_root)
    assert state(c) == want

    # zero-copy: every cloned file shares its source inode
    src_snap, c_snap = t.current(), c.current()
    assert c_snap.files == src_snap.files
    for rel in c_snap.all_files():
        assert os.stat(os.path.join(clone_root, rel)).st_ino == \
            os.stat(os.path.join(src_root, rel)).st_ino, rel

    # CDF bootstrap on the fork: (0 -> 1] is the full state as inserts
    boot = table_changes(c, 0, 1)
    assert boot.filter("_change != 'I'").count() == 0
    assert boot.count() == len(want)

    # independence: divergent merges stay on their own side
    ev = spark.createDataFrame(
        [(10_000, "U", "c0", 0, "user", "fork-only", None, None)],
        change_event_schema())
    merge_into(c, ev, "fork-b1")
    ev2 = spark.createDataFrame(
        [(10_001, "U", "c1", 0, "user", "src-only", None, None)],
        change_event_schema())
    merge_into(t, ev2, "src-b1")
    s_t, s_c = state(t), state(c)
    assert ("c0", 0, "fork-only", 10_000) in s_c
    assert ("c0", 0, "fork-only", 10_000) not in s_t
    assert ("c1", 0, "src-only", 10_001) in s_t
    assert ("c1", 0, "src-only", 10_001) not in s_c

    # exactly-once carries over by default: redelivering a batch id the
    # SOURCE already applied is a no-op on the clone too
    applied = t.snapshot(1).lineage.get("batch_id")
    if applied:
        before = state(c)
        merge_into(c, ev2, applied)  # stale watermark + applied id
        assert state(c) == before

    # source churn + vacuum: the clone keeps reading its own links
    for i in range(3):
        merge_into(t, spark.createDataFrame(
            [(20_000 + i, "U", "c2", 0, "user", f"churn-{i}", None, None)],
            change_event_schema()), f"churn-{i}")
    t.vacuum(keep_snapshots=1)
    assert state(c) == s_c  # fork unaffected by source GC

    # re-cloning over an existing root refuses loudly
    with pytest.raises(ConcurrentCommitError):
        t.clone(clone_root)


def test_clone_as_of_version_and_uri_root(spark, tmp_path):
    """clone(version=v): time-travel fork reproduces the OLD state; a
    file:-URI target exercises the stream-copy path (no hard links
    across planes) with identical results."""
    from picsure_dictionary_etl_spark.lake.merge import resolve_live as rl

    src_root = str(tmp_path / "src2")
    r = CdcRunner(spark, RunnerConfig(table_root=src_root, bucket_count=2,
                                      normalize=False))
    events = change_events(spark, 600, n_convs=8, delete_ratio=0.1)
    r.replay(events, lsn_step=200)
    t = r.table
    keys, payload = ["conv_id", "turn_idx"], ["role", "text", "tool", "ts"]

    def state_of(tbl, snap=None):
        df = tbl.read(snap) if snap is not None else tbl.read()
        return {tuple(row) for row in
                rl(df, keys, payload)
                .select("conv_id", "turn_idx", "text", "_lsn").collect()}

    v1_state = state_of(t, t.snapshot(1))
    final_state = state_of(t)
    assert v1_state != final_state

    c_old = t.clone(str(tmp_path / "fork_v1"), version=1)
    assert state_of(c_old) == v1_state
    assert c_old.current().lineage["source_version"] == 1

    c_uri = t.clone(f"file:{tmp_path}/fork_uri")
    assert state_of(c_uri) == final_state


def test_clone_fieldwise_table_preserves_policy(spark, tmp_path):
    """clone() of a field-wise (_pu) table: the update_policy property
    carries over, so partial updates merged into the FORK keep coalesce
    semantics (unspecified fields held), independent of the source."""
    from pyspark.sql import types as T

    from picsure_dictionary_etl_spark.lake.merge import merge_into

    root = str(tmp_path / "fwsrc")
    sch = T.StructType([
        T.StructField("id", T.StringType(), False),
        T.StructField("a", T.StringType(), True),
        T.StructField("b", T.StringType(), True),
        T.StructField("_op", T.StringType(), False),
        T.StructField("_lsn", T.LongType(), False),
    ])
    from picsure_dictionary_etl_spark.lake.table import LakeTable

    t = LakeTable.create(spark, root, schema=sch, key_cols=["id"],
                         bucket_count=2)
    ev = T.StructType([
        T.StructField("_lsn", T.LongType(), False),
        T.StructField("_op", T.StringType(), False),
        T.StructField("id", T.StringType(), False),
        T.StructField("a", T.StringType(), True),
        T.StructField("b", T.StringType(), True),
    ])
    merge_into(t, spark.createDataFrame(
        [(1, "I", "k", "a0", "b0")], ev), "b1", update_policy="coalesce")

    c = t.clone(str(tmp_path / "fwfork"))
    assert c.current().properties.get("update_policy") == \
        t.current().properties.get("update_policy")

    # partial update on the FORK: b unspecified -> held from the clone
    merge_into(c, spark.createDataFrame(
        [(2, "U", "k", "a1", None)], ev), "fork-b2",
        update_policy="coalesce")
    row = resolve_live(
        c.read(), ["id"], ["a", "b"],
        schema=c.current().schema,
    ).collect()[0]
    assert (row["a"], row["b"]) == ("a1", "b0")
    # source untouched
    srow = resolve_live(
        t.read(), ["id"], ["a", "b"],
        schema=t.current().schema,
    ).collect()[0]
    assert (srow["a"], srow["b"]) == ("a0", "b0")
