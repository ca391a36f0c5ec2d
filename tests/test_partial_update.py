"""D6/D7/D11 merge modes: selective-field (coalesce) upserts, blank-
preserving upserts, and matched-only updates.

Reference parity: ``consent/ConsentController.java:170-189`` (PUT
/consent/counts — ``Optional.ifPresent`` setters update only provided
fields, 404 instead of insert) and
``facet/FacetLoaderService.java:168-174,285-286`` (``defaultIfBlank`` /
``isNotBlank`` guards preserve target values on blank source fields).
"""

import datetime
import os

import pytest

from picsure_dictionary_etl_spark.cdc.envelope import (
    TRANSCRIPT_KEY,
    change_event_schema,
    transcript_table_schema,
)
from picsure_dictionary_etl_spark.lake.merge import merge_into, optimize, resolve_live
from picsure_dictionary_etl_spark.lake.table import LakeTable

TS1 = datetime.datetime(2025, 1, 1, 12, 0, 0)
TS2 = datetime.datetime(2025, 2, 2, 8, 30, 0)
PAYLOAD = ["role", "text", "tool", "ts"]

# every semantic test runs on BOTH layouts a reader can meet: "mor"
# leaves each batch as _pu-tagged field-wise deltas resolved at read;
# "cow" compacts after every merge (optimize, threshold 1), so the next
# merge and the read meet rewritten, resolved bases — the layout a
# copy-on-write merge leaves
LAYOUTS = pytest.mark.parametrize("compact", [True, False], ids=["cow", "mor"])


def _table(spark, tmp_path):
    return LakeTable.create(
        spark,
        str(tmp_path / "t"),
        schema=transcript_table_schema(),
        key_cols=TRANSCRIPT_KEY,
        bucket_by=["conv_id"],
        bucket_count=4,
    )


def _events(spark, rows):
    # rows: (lsn, op, conv_id, turn_idx, role, text, tool, ts)
    return spark.createDataFrame(
        [(r[0], r[1], r[2], r[3], *r[4:]) for r in rows], change_event_schema()
    )


def _state(table):
    live = resolve_live(table.read(), TRANSCRIPT_KEY, PAYLOAD)
    return {
        (r["conv_id"], r["turn_idx"]): (r["role"], r["text"], r["tool"], r["ts"])
        for r in live.collect()
    }


def _merge(table, df, batch_id, compact, **kw):
    merge_into(table, df, batch_id, **kw)
    if compact:
        optimize(table, compact_threshold=1)


def _seed(spark, table):
    full = _events(
        spark,
        [
            (1, "I", "c1", 0, "user", "hello", None, TS1),
            (2, "I", "c1", 1, "assistant", "hi", "search", TS1),
        ],
    )
    merge_into(table, full, "seed")


@LAYOUTS
def test_coalesce_preserves_unspecified_fields(spark, tmp_path, compact):
    t = _table(spark, tmp_path)
    _seed(spark, t)
    partial = _events(
        spark,
        [
            # only text specified: role/tool/ts must survive from the target
            (3, "U", "c1", 0, None, "hello-edited", None, None),
            # unmatched key without matched_only: inserts with null gaps
            (4, "U", "c2", 0, None, "orphan", None, None),
        ],
    )
    _merge(t, partial, "b2", compact, update_policy="coalesce")
    s = _state(t)
    assert s[("c1", 0)] == ("user", "hello-edited", None, TS1)
    assert s[("c1", 1)] == ("assistant", "hi", "search", TS1)
    assert s[("c2", 0)] == (None, "orphan", None, None)


@LAYOUTS
def test_blank_preserve_keeps_target_on_blank_strings(spark, tmp_path, compact):
    t = _table(spark, tmp_path)
    _seed(spark, t)
    partial = _events(
        spark,
        [
            # '' role and whitespace text are "not provided"; tool updates
            (3, "U", "c1", 1, "", "   ", "calc", TS2),
        ],
    )
    _merge(t, partial, "b2", compact, update_policy="blank_preserve")
    s = _state(t)
    assert s[("c1", 1)] == ("assistant", "hi", "calc", TS2)


def test_matched_only_never_inserts(spark, tmp_path):
    t = _table(spark, tmp_path)
    _seed(spark, t)
    batch = _events(
        spark,
        [
            (3, "U", "c1", 0, None, "updated", None, None),
            (4, "I", "c9", 9, "user", "should-not-appear", None, TS2),
        ],
    )
    r = merge_into(t, batch, "b2", update_policy="coalesce", matched_only=True)
    s = _state(t)
    assert s[("c1", 0)] == ("user", "updated", None, TS1)
    assert ("c9", 9) not in s
    # a delta sized to the matched winner: one row, never the touched
    # bucket's other seeded key
    assert r.metrics["winners"] == 1 and r.metrics["rows_written"] == 1, r.metrics
    # an all-unmatched batch commits no files and leaves no data dir
    files = t.current().files
    data = tmp_path / "t" / "data"
    dirs = set(os.listdir(data))
    r = merge_into(t, _events(spark, [(5, "U", "c7", 0, None, "x", None, None)]),
                   "b3", update_policy="coalesce", matched_only=True)
    assert r.snapshot.files == files and not r.metrics.get("winners")
    assert set(os.listdir(data)) == dirs
    # neither does a batch wholly at or below the watermark, in either
    # write shape
    for bid, only in (("b4", False), ("b5", True)):
        r = merge_into(t, _events(spark, [(2, "U", "c1", 0, None, "old", None, None)]),
                       bid, update_policy="coalesce", matched_only=only)
        assert r.snapshot.files == files and r.metrics["rows_in"] == 0
        assert set(os.listdir(data)) == dirs
    assert _state(t) == s


def test_matched_only_rejects_dead_letters_at_plan_time(spark, tmp_path):
    """The live-key semi-join would drop the dead rows, so the
    combination fails typed before any job runs or anything commits."""
    from picsure_dictionary_etl_spark.cdc.normalize import valid_event_pred

    t = _table(spark, tmp_path)
    _seed(spark, t)
    v = t.current_version()
    batch = _events(spark, [(3, "U", "c1", 0, None, "x", None, None)])
    with pytest.raises(ValueError, match="matched_only"):
        merge_into(t, batch, "b2", matched_only=True,
                   dead_letters=(valid_event_pred(), str(tmp_path / "dlq" / "b2")))
    assert t.current_version() == v and not (tmp_path / "dlq").exists()


@LAYOUTS
def test_delete_resets_fields_within_batch(spark, tmp_path, compact):
    t = _table(spark, tmp_path)
    _seed(spark, t)
    batch = _events(
        spark,
        [
            # delete then partial re-insert in ONE batch: pre-delete
            # fields (role=user, ts) must NOT leak into the fresh row
            (10, "D", "c1", 0, None, None, None, None),
            (11, "I", "c1", 0, None, "fresh", None, None),
        ],
    )
    _merge(t, batch, "b2", compact, update_policy="coalesce")
    s = _state(t)
    assert s[("c1", 0)] == (None, "fresh", None, None)


@LAYOUTS
def test_delete_across_batches_then_partial_insert(spark, tmp_path, compact):
    t = _table(spark, tmp_path)
    _seed(spark, t)
    merge_into(t, _events(spark, [(10, "D", "c1", 0, None, None, None, None)]), "b2")
    assert ("c1", 0) not in _state(t)
    _merge(
        t,
        _events(spark, [(11, "I", "c1", 0, None, "reborn", None, None)]),
        "b3",
        compact,
        update_policy="coalesce",
    )
    s = _state(t)
    # the committed delete removed the row; the partial insert starts clean
    assert s[("c1", 0)] == (None, "reborn", None, None)


@LAYOUTS
def test_partial_batch_redelivery_is_noop(spark, tmp_path, compact):
    t = _table(spark, tmp_path)
    _seed(spark, t)
    partial = _events(spark, [(3, "U", "c1", 0, None, "edited", None, None)])
    _merge(t, partial, "b2", compact, update_policy="coalesce")
    v1 = t.current().version
    s1 = _state(t)
    r = merge_into(t, partial, "b2", update_policy="coalesce")
    assert r.metrics.get("skipped_duplicate_batch")
    assert t.current().version == v1
    assert _state(t) == s1


@LAYOUTS
def test_multiple_partials_per_key_in_one_batch(spark, tmp_path, compact):
    t = _table(spark, tmp_path)
    _seed(spark, t)
    batch = _events(
        spark,
        [
            (3, "U", "c1", 0, None, "v3", None, None),
            (4, "U", "c1", 0, "admin", None, None, None),
            (5, "U", "c1", 0, None, None, "web", None),
        ],
    )
    _merge(t, batch, "b2", compact, update_policy="coalesce")
    s = _state(t)
    # each field independently from its own latest specifier
    assert s[("c1", 0)] == ("admin", "v3", "web", TS1)


def test_matched_only_does_not_resurrect_deleted_key(spark, tmp_path):
    """A key whose latest committed state is a tombstone does NOT exist
    for matched_only purposes — the reference 404s instead of creating."""
    t = _table(spark, tmp_path)
    _seed(spark, t)
    merge_into(t, _events(spark, [(10, "D", "c1", 0, None, None, None, None)]), "b2")
    merge_into(
        t,
        _events(spark, [(11, "U", "c1", 0, None, "zombie", None, None)]),
        "b3",
        update_policy="coalesce",
        matched_only=True,
    )
    assert ("c1", 0) not in _state(t)


@LAYOUTS
def test_row_null_out_not_resurrected_by_later_partial(spark, tmp_path, compact):
    """ADVICE r2 (medium): a field a ROW-policy update set to null must
    stay null when a later field-wise batch touches the same bucket —
    raw MOR versions of a key must row-resolve among themselves, never
    feed an older non-null into the field-wise union."""
    t = _table(spark, tmp_path)
    _seed(spark, t)  # (c1,0) has tool=None; (c1,1) has tool="search"
    # ROW-policy full update nulls (c1,1).tool via MOR delta (uncompacted)
    merge_into(
        t,
        _events(spark, [(5, "U", "c1", 1, "assistant", "hi", None, TS1)]),
        "null-out",
    )
    assert _state(t)[("c1", 1)] == ("assistant", "hi", None, TS1)
    # later coalesce batch touches ANOTHER key in the same small table;
    # every key in a touched bucket is re-reduced at read (and, compacted,
    # at rewrite) — (c1,1).tool must not resurrect to "search" from the
    # pre-null-out version
    _merge(
        t,
        _events(spark, [(6, "U", "c1", 0, None, "edited", None, None)]),
        "partial",
        compact,
        update_policy="coalesce",
    )
    s = _state(t)
    assert s[("c1", 1)] == ("assistant", "hi", None, TS1)
    assert s[("c1", 0)] == ("user", "edited", None, TS1)


def test_mor_fieldwise_writes_are_batch_sized_and_compaction_resolves(spark, tmp_path):
    """The MOR field-wise path appends deltas (no bucket rewrite) until
    the threshold, then compaction collapses the _pu history into full
    rows — state identical before and after."""
    t = _table(spark, tmp_path)
    _seed(spark, t)
    expected = ("user", "hello", None, TS1)
    for i, (lsn, field_updates) in enumerate(
        [(10, (None, "e1", None, None)), (11, ("adm", None, None, None)),
         (12, (None, None, "web", None)), (13, (None, "e4", None, TS2))]
    ):
        r = merge_into(
            t,
            _events(spark, [(lsn, "U", "c1", 0, *field_updates)]),
            f"p{i}",
            update_policy="coalesce",
            compact_threshold=3,
        )
        if not r.metrics.get("buckets_compacted"):
            # O(batch) writes: a 1-event partial batch appends 1 winner
            # row — never the touched bucket's full contents (a bucket
            # rewrite would write both seeded keys)
            assert r.metrics["rows_written"] == 1, r.metrics
    s = _state(t)
    assert s[("c1", 0)] == ("adm", "e4", "web", TS2)
    # at least one compaction ran (threshold 3, 4+ files in the hot bucket)
    versions = t.current().version
    assert versions >= 5
    lineage = [t.snapshot(v).lineage for v in range(2, versions + 1)]
    assert any(lg.get("buckets_compacted") for lg in lineage if lg), lineage
    # unchanged second key resolved intact through the mixed reduce
    assert s[("c1", 1)] == ("assistant", "hi", "search", TS1)


def test_runner_partial_update_stream(spark, tmp_path):
    """The standard runner surface drives the MOR field-wise path:
    RunnerConfig(update_policy='coalesce') applies partial batches with
    O(batch) delta writes, and state() resolves mixed history."""
    from picsure_dictionary_etl_spark.cdc.runner import CdcRunner, RunnerConfig

    r = CdcRunner(spark, RunnerConfig(
        table_root=str(tmp_path / "rt"), bucket_count=4, normalize=False))
    r.apply_batch(_events(spark, [
        (1, "I", "c1", 0, "user", "hello", "cli", TS1)]), "seed")

    rp = CdcRunner(spark, RunnerConfig(
        table_root=str(tmp_path / "rt"), bucket_count=4, normalize=False,
        update_policy="coalesce"))
    res = rp.apply_batch(_events(spark, [
        (2, "U", "c1", 0, None, "edited", None, None)]), "p1")
    assert res.metrics["rows_written"] == 1  # delta, not bucket rewrite
    rows = {(x["conv_id"], x["turn_idx"]): x for x in rp.state().collect()}
    row = rows[("c1", 0)]
    assert (row["role"], row["text"], row["tool"], row["ts"]) == (
        "user", "edited", "cli", TS1)
    # system columns never leak out of state()
    assert not {"_pu", "_del_lsn", "_op", "_lsn"} & set(rp.state().columns)


def test_fieldwise_with_additive_schema_evolution(spark, tmp_path):
    """A new column arriving mid-stream (additive evolution) composes
    with field-wise MOR deltas: old rows read the column as null, a
    partial update specifying ONLY the new column leaves every old
    field intact."""
    from pyspark.sql import types as T

    from picsure_dictionary_etl_spark.cdc.runner import CdcRunner, RunnerConfig

    r = CdcRunner(spark, RunnerConfig(
        table_root=str(tmp_path / "rt"), bucket_count=4, normalize=False,
        update_policy="coalesce"))
    r.apply_batch(_events(spark, [
        (1, "I", "c1", 0, "user", "hello", "cli", TS1)]), "seed")

    evolved = spark.createDataFrame(
        [(2, "U", "c1", 0, "gpt-5")],
        T.StructType([
            T.StructField("_lsn", T.LongType()),
            T.StructField("_op", T.StringType()),
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("model", T.StringType()),  # NEW column
        ]),
    )
    r.apply_batch(evolved, "evolve")
    row = r.state().collect()[0].asDict()
    assert row["model"] == "gpt-5"
    assert (row["role"], row["text"], row["tool"], row["ts"]) == (
        "user", "hello", "cli", TS1)


def test_blank_stored_by_coalesce_survives_policy_flip(spark, tmp_path):
    """Blank-ness is a batch-reduce-time rule: a blank string a
    COALESCE batch committed must stay committed when a later
    blank_preserve batch flips the table's latest policy — read-time
    specification is null-based, so the stored '' never reads as
    'unspecified' (which would resurrect the pre-blank value)."""
    t = _table(spark, tmp_path)
    _seed(spark, t)  # (c1,0).text == "hello" via a full row
    merge_into(
        t,
        _events(spark, [(3, "U", "c1", 0, None, "", None, None)]),
        "blank-it",
        update_policy="coalesce",  # '' IS specified under coalesce
    )
    assert _state(t)[("c1", 0)][1] == ""
    # a blank_preserve batch elsewhere flips the table's latest policy
    merge_into(
        t,
        _events(spark, [(4, "U", "c1", 1, None, None, "calc", None)]),
        "other-key",
        update_policy="blank_preserve",
    )
    s = _state(t)
    assert s[("c1", 0)][1] == "", "committed blank resurrected to the older value"
    assert s[("c1", 1)][2] == "calc"


def test_iceberg_merge_sql_rendering():
    """The documented Iceberg integration seam renders the exact
    statement for each policy."""
    from picsure_dictionary_etl_spark.lake.merge import iceberg_merge_sql

    row = iceberg_merge_sql("lake.t", "winners", ["conv_id", "turn_idx"],
                            ["role", "text"])
    assert "ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx" in row
    assert "THEN DELETE" in row and "UPDATE SET *" in row
    assert "WHEN NOT MATCHED AND s._op <> 'D' THEN INSERT *" in row

    part = iceberg_merge_sql(
        "lake.t", "winners", ["conv_id"], ["role", "text"],
        update_policy="blank_preserve", matched_only=True,
        string_cols={"role", "text"},
    )
    assert ("t.role = CASE WHEN s.role IS NULL "
            "OR regexp_replace(s.role, '\\\\s', '', 'g') = '' "
            "THEN t.role ELSE s.role END") in part
    assert "NOT MATCHED" not in part


def test_normalize_runs_before_fieldwise_reduce(spark, tmp_path):
    """Field-wise reduces don't commute with normalization: a field the
    normalizer nulls (control-char-only text) must read as UNSPECIFIED
    before the winner is decided, so it can't shadow an earlier
    specified value in the same batch."""
    from picsure_dictionary_etl_spark.cdc.runner import CdcRunner, RunnerConfig

    r = CdcRunner(spark, RunnerConfig(
        table_root=str(tmp_path / "t"), bucket_count=2,
        update_policy="coalesce"))  # normalize=True default
    r.apply_batch(_events(spark, [
        (1, "I", "c1", 0, "user", "hi", None, None),
        (2, "U", "c1", 0, None, "\x02\x03", None, None),  # normalizes to null
    ]), "b1")
    row = r.state().collect()[0]
    assert row["text"] == "hi"


@LAYOUTS
def test_blank_preserve_treats_tabs_newlines_as_blank(spark, tmp_path, compact):
    """Java isBlank semantics: tab/newline-only strings are 'not
    provided' under blank_preserve (F.trim strips only spaces)."""
    t = _table(spark, tmp_path)
    _seed(spark, t)
    _merge(t, _events(spark, [
        (3, "U", "c1", 1, "\t\n", None, "calc", TS2)]),
        "b2", compact, update_policy="blank_preserve")
    s = _state(t)
    assert s[("c1", 1)] == ("assistant", "hi", "calc", TS2)


def test_equal_lsn_ties_resolve_deterministically(spark, tmp_path):
    """A source stamping one LSN per multi-statement transaction: ties
    break by a content hash, so the two shuffle shapes (bucket-first
    and combine-first: different encounter orders) agree, and
    re-running agrees with itself."""
    winners = set()
    for i, combine_first in enumerate([False, True, False]):
        t = _table(spark, tmp_path / f"tie{i}")
        merge_into(t, _events(spark, [
            (1, "I", "c1", 0, "user", "A", None, None),
            (1, "I", "c1", 0, "user", "B", None, None),  # same LSN
        ]), "b1", combine_first=combine_first)
        winners.add(_state(t)[("c1", 0)][1])
    assert len(winners) == 1, f"nondeterministic tie: {winners}"
