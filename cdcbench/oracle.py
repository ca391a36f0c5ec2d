"""DuckDB oracle for the benchmark: folds the staged change events into
the state the engine must produce, and compares the engine's output
against it.

The fold is written here from the event semantics alone, not from the
engine's code: an event is valid when its key and op are well formed;
per key ``(conv_id, turn_idx)`` the valid event with the highest LSN
wins; a winning ``D`` leaves the key absent. Every live row's ``text``
carries ``rev <lsn>``, so the winning LSN is read back out of the
engine's output and compared key by key.

``python3 cdcbench/oracle.py`` runs the toy-scale self-test.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa

VALID = (
    "conv_id IS NOT NULL AND lower(trim(conv_id)) <> 'null' "
    "AND trim(conv_id) <> '' AND turn_idx IS NOT NULL AND turn_idx >= 0 "
    "AND _op IN ('I', 'U', 'D')"
)
REV = r"CAST(regexp_extract(text, 'rev ([0-9]+)', 1) AS BIGINT)"


class OracleMismatch(AssertionError):
    """The engine's output differs from the oracle's fold."""


class Oracle:
    """Fold over one workload's staged events (``events`` is an arrow
    table or a list of parquet globs). LSN bounds are inclusive."""

    def __init__(self, events):
        self.con = duckdb.connect()
        self.con.execute("SET threads = 1")
        if isinstance(events, pa.Table):
            self.con.register("ev_arrow", events)
            src = "SELECT * FROM ev_arrow"
        else:
            globs = ", ".join(f"'{g}'" for g in events)
            src = f"SELECT * FROM read_parquet([{globs}])"
        self.con.execute(f"CREATE TABLE ev AS {src}")

    def _scalar(self, sql: str, *params) -> int:
        return int(self.con.execute(sql, list(params)).fetchone()[0] or 0)

    def malformed(self, lo: int, hi: int) -> int:
        return self._scalar(
            f"SELECT count(*) FROM ev WHERE _lsn BETWEEN ? AND ? "
            f"AND NOT coalesce({VALID}, false)",
            lo, hi,
        )

    def live_sql(self, hi: int) -> str:
        """The live state after every event with LSN <= ``hi``:
        ``conv_id, turn_idx, lsn``."""
        return (
            f"SELECT conv_id, turn_idx, lsn FROM ("
            f"  SELECT conv_id, turn_idx, max(_lsn) AS lsn, arg_max(_op, _lsn) AS op"
            f"  FROM ev WHERE _lsn <= {int(hi)} AND coalesce({VALID}, false)"
            f"  GROUP BY conv_id, turn_idx) WHERE op <> 'D'"
        )

    def live_keys(self, hi: int) -> int:
        return self._scalar(f"SELECT count(*) FROM ({self.live_sql(hi)})")

    def check_rows(self, got: pa.Table, hi: int, conv_id: str | None = None) -> int:
        """Compare the engine's live rows (``conv_id, turn_idx, text``)
        with the fold at ``hi``, for the whole table or one
        conversation. Raises :class:`OracleMismatch`; returns the row
        count."""
        want = self.live_sql(hi)
        if conv_id is not None:
            want = f"SELECT * FROM ({want}) WHERE conv_id = '{conv_id}'"
        self.con.register("got_rows", got)
        missing, extra, wrong, n = self.con.execute(
            f"""SELECT count(*) FILTER (WHERE g.conv_id IS NULL),
                       count(*) FILTER (WHERE w.conv_id IS NULL),
                       count(*) FILTER (WHERE w.lsn IS DISTINCT FROM g.rev),
                       count(g.conv_id)
                FROM ({want}) w FULL OUTER JOIN
                     (SELECT conv_id, turn_idx, {REV} AS rev FROM got_rows) g
                ON w.conv_id = g.conv_id AND w.turn_idx = g.turn_idx"""
        ).fetchone()
        self.con.unregister("got_rows")
        if missing or extra or wrong:
            scope = f"conversation {conv_id}" if conv_id else "table"
            raise OracleMismatch(
                f"{scope} at lsn {hi}: {missing} keys missing, {extra} extra, "
                f"{wrong} with the wrong winning LSN"
            )
        return int(n)

    def check_diff(self, got: pa.Table, lo: int, hi: int) -> int:
        """Compare a change feed (``_change, conv_id, turn_idx, text``)
        spanning the events in ``(lo, hi]`` with the difference of the
        two folds. Returns the change count."""
        self.con.register("got_diff", got)
        bad, n = self.con.execute(
            f"""WITH a AS ({self.live_sql(lo)}), b AS ({self.live_sql(hi)}),
                want AS (
                  SELECT CASE WHEN a.conv_id IS NULL THEN 'I'
                              WHEN b.conv_id IS NULL THEN 'D' ELSE 'U' END AS c,
                         coalesce(b.conv_id, a.conv_id) AS conv_id,
                         coalesce(b.turn_idx, a.turn_idx) AS turn_idx,
                         b.lsn AS lsn
                  FROM a FULL OUTER JOIN b
                    ON a.conv_id = b.conv_id AND a.turn_idx = b.turn_idx
                  WHERE a.lsn IS DISTINCT FROM b.lsn),
                g AS (SELECT _change AS c, conv_id, turn_idx,
                             CASE WHEN _change = 'D' THEN NULL ELSE {REV} END AS lsn
                      FROM got_diff)
                SELECT (SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL SELECT * FROM g))
                     + (SELECT count(*) FROM (SELECT * FROM g EXCEPT ALL SELECT * FROM want)),
                       (SELECT count(*) FROM g)"""
        ).fetchone()
        self.con.unregister("got_diff")
        if bad:
            raise OracleMismatch(f"change feed ({lo}, {hi}]: {bad} rows differ")
        return int(n)

    def close(self) -> None:
        self.con.close()


def _engine_like_state(o: Oracle, hi: int) -> pa.Table:
    """What a correct engine returns: the fold, rendered with ``rev``."""
    return o.con.execute(
        f"SELECT conv_id, turn_idx, 'turn ' || turn_idx || ' rev ' || lsn AS text "
        f"FROM ({o.live_sql(hi)}) ORDER BY conv_id, turn_idx"
    ).fetch_arrow_table()


def self_test() -> None:
    """Shows on toy inputs that the fold is right and that the checks
    flag one dropped key and one swapped LSN."""
    from events import make_events

    # hand-checked fold: k1 updated (winner lsn 2), k2 deleted last,
    # k3 deleted then re-inserted, one malformed row ignored
    toy = pa.table(
        {
            "conv_id": ["c1", "c2", "c1", "c2", "c3", "c3", None, "c3"],
            "turn_idx": pa.array([0, 0, 0, 0, 1, 1, 0, 1], pa.int32()),
            "text": ["rev 0", "rev 1", "rev 2", None, "rev 4", None, "rev 6", "rev 7"],
            "_op": ["I", "I", "U", "D", "I", "D", "I", "I"],
            "_lsn": pa.array(range(8), pa.int64()),
        }
    )
    o = Oracle(toy)
    rows = o.con.execute(f"{o.live_sql(7)} ORDER BY conv_id").fetchall()
    if rows != [("c1", 0, 2), ("c3", 1, 7)] or o.malformed(0, 7) != 1:
        raise OracleMismatch(f"toy fold is wrong: {rows}")
    o.close()

    ev = make_events(3, 0, 4000, 20, hot_fraction=0.2, malformed=0.05)
    o = Oracle(ev)
    hi = ev.num_rows - 1
    good = _engine_like_state(o, hi)
    if o.check_rows(good, hi) != o.live_keys(hi):
        raise OracleMismatch("a correct state did not pass")
    dropped = good.slice(1)
    revs = good.column("text").to_pylist()
    revs[0], revs[1] = revs[1], revs[0]
    swapped = good.set_column(2, "text", pa.array(revs))
    for name, bad in (("dropped key", dropped), ("swapped LSN", swapped)):
        try:
            o.check_rows(bad, hi)
        except OracleMismatch:
            continue
        raise OracleMismatch(f"the oracle missed a {name}")

    lo = 1999
    diff = o.con.execute(
        f"""SELECT CASE WHEN a.conv_id IS NULL THEN 'I'
                        WHEN b.conv_id IS NULL THEN 'D' ELSE 'U' END AS _change,
                   coalesce(b.conv_id, a.conv_id) AS conv_id,
                   coalesce(b.turn_idx, a.turn_idx) AS turn_idx,
                   CASE WHEN b.conv_id IS NOT NULL THEN 'rev ' || b.lsn END AS text
            FROM ({o.live_sql(lo)}) a FULL OUTER JOIN ({o.live_sql(hi)}) b
              ON a.conv_id = b.conv_id AND a.turn_idx = b.turn_idx
            WHERE a.lsn IS DISTINCT FROM b.lsn"""
    ).fetch_arrow_table()
    o.check_diff(diff, lo, hi)
    try:
        o.check_diff(diff.slice(1), lo, hi)
    except OracleMismatch:
        pass
    else:
        raise OracleMismatch("the oracle missed a dropped change")
    o.close()


if __name__ == "__main__":
    self_test()
    print("oracle self-test passed")
