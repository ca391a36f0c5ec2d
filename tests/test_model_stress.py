"""Model-based stress: a deterministic random interleaving of merges
(bucket-first/combine-first shuffle x row/coalesce), redeliveries, rollbacks, truncates, and
vacuums, checked against a pure-Python oracle AFTER EVERY operation
(state + watermark snapshot per table version). Wider sweeps (4 seeds
x 40 ops) ran clean in round 3; this pins one seed at 25 ops."""

import random

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

SEED, N_OPS = 1, 25


def test_model_stress_random_op_interleavings(spark, tmp_path):
    rng = random.Random(SEED)
    table = LakeTable.create(
        spark, str(tmp_path / "t"), schema=transcript_table_schema(),
        key_cols=TRANSCRIPT_KEY, bucket_by=["conv_id"], bucket_count=4,
    )

    lsn = 0
    state: dict = {}
    versions = {0: ({}, -1)}  # version -> (state, watermark)
    watermark = -1
    last_batch = None
    bid = 0

    def engine_state():
        snap = table.current()
        payload = _payload_cols(snap)
        raw = table.read(snap)
        live = resolve_live(
            raw, TRANSCRIPT_KEY, payload,
            schema=snap.schema,
        )
        return {(r["conv_id"], r["turn_idx"]): (r["text"], r["role"])
                for r in live.collect()}

    def rand_events(n):
        nonlocal lsn
        rows = []
        for _ in range(n):
            lsn += 1
            rows.append((
                lsn,
                rng.choice(["I", "U", "U", "D"]),
                f"c{rng.randint(0, 2)}",
                rng.randint(0, 2),
                rng.choice([None, "user", "tool"]),
                rng.choice([None, "a", "b", "ab"]),
                None,
                None,
            ))
        return rows

    def apply_oracle(rows, policy):
        for row_lsn, op, conv, turn, role, text, _tool, _ts in rows:
            if row_lsn <= watermark:
                continue
            k = (conv, turn)
            if op == "D":
                state.pop(k, None)
            elif policy == "row":
                state[k] = (text, role)
            else:
                cur = state.get(k, (None, None))
                state[k] = (text if text is not None else cur[0],
                            role if role is not None else cur[1])

    trail = []
    for step in range(N_OPS):
        op = rng.choices(
            ["merge", "merge", "merge", "redeliver", "rollback",
             "truncate", "vacuum"],
            weights=[3, 3, 3, 1, 1, 1, 1],
        )[0]
        if op == "merge":
            bid += 1
            rows = rand_events(rng.randint(1, 8))
            combine_first = rng.choice([False, True])
            policy = rng.choice(["row", "row", "coalesce"])
            df = spark.createDataFrame(rows, change_event_schema())
            r = merge_into(table, df, f"b{bid}", combine_first=combine_first,
                           update_policy=policy, compact_threshold=3)
            apply_oracle(rows, policy)
            watermark = max(watermark, max(x[0] for x in rows))
            versions[r.snapshot.version] = (dict(state), watermark)
            last_batch = (df, f"b{bid}", combine_first, policy)
            trail.append(f"merge:{combine_first}:{policy}")
        elif op == "redeliver" and last_batch is not None:
            df, b, combine_first, policy = last_batch
            r = merge_into(table, df, b, combine_first=combine_first,
                           update_policy=policy, compact_threshold=3)
            assert r.metrics.get("skipped_duplicate_batch")
            trail.append("redeliver")
        elif op == "rollback":
            target = rng.choice(sorted(versions))
            try:
                snap = table.rollback(target)
            except FileNotFoundError:
                trail.append("rollback(vacuumed,skip)")
                continue
            state, watermark = dict(versions[target][0]), versions[target][1]
            versions[snap.version] = (dict(state), watermark)
            last_batch = None  # applied set reverted with the rollback
            trail.append(f"rollback->{target}")
        elif op == "truncate":
            snap = table.truncate()
            state, watermark = {}, -1
            versions[snap.version] = ({}, -1)
            last_batch = None
            trail.append("truncate")
        elif op == "vacuum":
            keep = rng.randint(2, 4)
            table.vacuum(keep_snapshots=keep)
            cur = table.current_version()
            versions = {v: s for v, s in versions.items() if v > cur - keep}
            versions.setdefault(cur, (dict(state), watermark))
            trail.append(f"vacuum(keep={keep})")
        got = engine_state()
        assert got == state, f"step {step} after {trail[-3:]}: {got} != {state}"
