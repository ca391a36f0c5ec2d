"""Seeded change-event generator for the benchmark.

Events are built with numpy and pyarrow and written straight to parquet,
so the engine under test receives only the generated files: no Spark job
and no engine code runs to make them. The shape matches the engine's
change-event envelope (``_lsn, _op, conv_id, turn_idx, role, text, tool,
ts``). Every live row's ``text`` ends its LSN part with ``rev <lsn>``,
which survives the engine's text normalisation, so the oracle can read
the winning LSN of each key back out of the table.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

ROLES = ["user", "assistant", "tool", "system"]
TOOLS = ["search", "python", "browser"]
TURNS = 50
EPOCH_S = 1_735_689_600  # 2025-01-01T00:00:00Z
DIRTY = "  \tx\x01y  "  # control chars and runs of blanks for normalisation
# The traffic mix is the repository's own change-event generator's
# (cdc/generator.py): its default op ratios and its one-in-five share
# of dirty text. HOT_CONVS is the skewed key set the workloads name.
UPDATE_RATIO, DELETE_RATIO = 0.30, 0.05
DIRTY_SHARE = 0.2
HOT_CONVS = 4
STAGE_FILES = 4  # one scan task per core

SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("_op", pa.string()),
        ("_lsn", pa.int64()),
    ]
)
SPARK_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp, _op string, _lsn bigint"
)


def _strs(values: np.ndarray) -> pa.Array:
    return pc.cast(pa.array(values), pa.string())


def make_events(
    seed: int,
    start_lsn: int,
    n: int,
    n_convs: int,
    *,
    hot_fraction: float = 0.0,
    malformed: float = 0.0,
    inserts_only: bool = False,
) -> pa.Table:
    """``n`` events with LSNs ``start_lsn .. start_lsn + n - 1``.

    ``inserts_only`` gives every key of the ``n_convs x TURNS`` key space
    exactly once (a pre-load); otherwise keys are drawn at random, with
    ``hot_fraction`` of the events on ``HOT_CONVS`` conversations and
    ``malformed`` of them broken in one of three ways the engine must
    dead-letter (null conv_id, the string ``"null"``, turn_idx -1).
    The same arguments always give the same table."""
    rng = np.random.default_rng([seed, start_lsn, n])
    lsn = np.arange(start_lsn, start_lsn + n, dtype=np.int64)
    if inserts_only:
        if n != n_convs * TURNS:
            raise ValueError("an insert-only pre-load covers the key space once")
        key = rng.permutation(n)
        conv, turn = key // TURNS, key % TURNS
        op = np.full(n, "I")
    else:
        hot = rng.random(n) < hot_fraction
        conv = np.where(hot, rng.integers(0, HOT_CONVS, n), rng.integers(0, n_convs, n))
        turn = rng.integers(0, TURNS, n)
        draw = rng.random(n)
        op = np.where(
            draw < DELETE_RATIO, "D", np.where(draw < DELETE_RATIO + UPDATE_RATIO, "U", "I")
        )
    turn = turn.astype(np.int32)
    is_del = pa.array(op == "D")

    conv_s = _strs(conv)
    turn_s = _strs(turn)
    text = pc.binary_join_element_wise(
        "turn ", turn_s, " of conv ", conv_s, " rev ", _strs(lsn), ""
    )
    dirty = pa.array(rng.random(n) < DIRTY_SHARE)
    text = pc.if_else(dirty, pc.binary_join_element_wise(text, DIRTY, ""), text)
    role = pa.array(ROLES).take(pa.array(turn % 4))
    tool = pc.if_else(
        pc.equal(role, "tool"),
        pa.array(TOOLS).take(pa.array(rng.integers(0, len(TOOLS), n))),
        pa.nulls(n, pa.string()),
    )
    ts = pa.array((EPOCH_S + lsn % 86_400) * 1_000_000, pa.timestamp("us", tz="UTC"))
    conv_id = pc.binary_join_element_wise("conv-", conv_s, "")
    turn_idx = pa.array(turn)

    if malformed > 0:
        bad = rng.random(n) < malformed
        kind = rng.integers(0, 3, n)
        conv_id = pc.if_else(
            pa.array(bad & (kind == 0)), pa.nulls(n, pa.string()), conv_id
        )
        conv_id = pc.if_else(pa.array(bad & (kind == 1)), "null", conv_id)
        turn_idx = pa.array(np.where(bad & (kind == 2), -1, turn).astype(np.int32))

    def payload(a: pa.Array) -> pa.Array:
        return pc.if_else(is_del, pa.nulls(n, a.type), a)

    return pa.table(
        [
            conv_id,
            turn_idx,
            payload(role),
            payload(text),
            payload(tool),
            payload(ts),
            pa.array(op),
            pa.array(lsn),
        ],
        schema=SCHEMA,
    )


def stage(table: pa.Table, path: str, row_group: int | None = None) -> int:
    """Write ``table`` as ``STAGE_FILES`` parquet files under ``path``, in
    row groups of ``row_group`` rows; return the bytes written."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // STAGE_FILES)
    for i in range(STAGE_FILES):
        pq.write_table(
            table.slice(i * step, step),
            os.path.join(path, f"part-{i:03d}.parquet"),
            row_group_size=row_group,
        )
    return dir_bytes(path)


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, names in os.walk(path):
        for name in names:
            total += os.path.getsize(os.path.join(base, name))
    return total
