"""The lake's change-feed kernel, and the ``lake_cdf`` data source on it.

One implementation serves every feed reader: :func:`_span_tasks` plans
a change span and :func:`_read_span_partition` resolves and diffs one
task in a Python worker. :func:`~..lake.merge.table_changes` (and the
:class:`~..lake.consume.ChangeFeedConsumer` on it) runs the tasks
through ``mapInArrow``; the PySpark 4 Python DataSource ``lake_cdf``
runs them as a stream (checkpointed offsets, triggers, pacing) or as a
bounded batch read::

    spark.dataSource.register(LakeChangeFeedDataSource)
    (spark.readStream.format("lake_cdf").option("path", table_root).load()
          .writeStream...)

* **Offsets are table versions**; planning is metadata-only: only
  buckets whose manifest FILE LISTS differ become tasks (a commit
  touching 1 of 1024 buckets plans 1 task). A span across a rebucket
  collapses to one global task.
* **Each task reads only its bucket's files** (old + new list) with
  pyarrow, resolves both sides and diffs them vectorized (pandas/numpy
  masks over an index-only key join), and yields ``pyarrow.RecordBatch``
  chunks — a columnar pipeline end to end, no driver collects.
* **LWW parity is bit-exact**: rows order by ``(_lsn, xxhash64(payload
  ..., _op))`` with :mod:`.xxhash_vec`'s XXH64, hashed only inside
  equal-LSN tie groups, so ties pick the winner the engine's merge and
  compaction pick. Field-wise (``_pu``) tables resolve with the
  full-row marker rules of :func:`~..lake.merge.lww_winners_fieldwise`.
* **Nested (array/struct) keys** sort, group and join as their
  :func:`~.xxhash_vec._order_rank` code (Spark's ordering) and are
  emitted as stored. Map-typed keys, which Spark cannot group either,
  and types outside :func:`~.xxhash_vec._type_supported` fail typed at
  plan time.
* **Value semantics match ``state_diff``**: NaN is a value (NaN==NaN
  unchanged, NULL<->NaN a change), maps compare as their canonical
  key-sorted entry arrays, arrays and structs element- and field-wise.
* **Roots**: plain paths read POSIX; URI roots read through
  ``pyarrow.fs`` (the workers have no JVM); unresolvable schemes fail
  typed at plan time. ``table_changes`` loads its manifests through the
  table's own MetadataIO, so any commit point has a feed.
* **Bootstrap**: ``.option("initialsnapshot", "true")`` (or
  ``table_changes(t, -1, v)``) diffs from the EMPTY table, so the first
  span is the full resolved state as ``I`` rows — the only sound start
  for a table whose early history is vacuumed. It is never paced:
  ``diff(EMPTY, v_k)`` is right at any first-span end ``k``.
* **D rows carry the deleted row's preimage ``_lsn``** (the contract on
  ``table_changes``): a consumer folding the feed lets D win equal-LSN
  ties.

A caller-supplied ``.schema(...)`` must match the source schema exactly
(payload order pins the tie-break hash order).

Reference analog: the reference's consumers re-read whole Postgres
tables after every load (README.md:247-260); this streams only the
diff, continuously.
"""

from __future__ import annotations

import os
import posixpath
from dataclasses import dataclass, field

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from picsure_dictionary_etl_spark.lake.fs import arrow_fs_and_base
from picsure_dictionary_etl_spark.lake.merge import _payload_cols, _system_extras
from picsure_dictionary_etl_spark.lake.table import META_DIR, VERSION_FILE, Snapshot
from picsure_dictionary_etl_spark.streaming.xxhash_vec import (
    SUPPORTED_TYPES,
    _canon_map_arrow,
    _map_entries_td,
    _order_rank,
    _orderable,
    _parse_type,
    _type_supported,
    spark_xxhash64_vec,
)

# ---------------------------------------------------------------------------
# filesystem plane (POSIX fast path; pyarrow.fs for URI roots — the
# datasource callbacks run in plain Python workers with no JVM, so the
# engine's HadoopMetadataIO is unreachable here by construction)
# ---------------------------------------------------------------------------


def _read_text(root: str, *rel: str) -> str:
    fs, base = arrow_fs_and_base(root)
    if fs is None:
        # local plane rides the engine's MetadataIO (never bare open()
        # under _meta — CLAUDE.md rule)
        from picsure_dictionary_etl_spark.lake.metadata_io import PosixMetadataIO

        return PosixMetadataIO().read_text(os.path.join(base, *rel))
    with fs.open_input_stream(posixpath.join(base, *rel)) as f:
        return f.read().decode("utf-8")


# ---------------------------------------------------------------------------
# per-bucket resolve + diff (executor side, pyarrow/pandas — vectorized)
# ---------------------------------------------------------------------------


@dataclass
class _BucketTask(InputPartition):
    root: str
    keys: list[str]
    payload: list[str]
    dtypes: dict[str, str]  # column -> spark simpleString
    old_files: list[str]
    new_files: list[str]
    # system columns beyond (_op,_lsn) present in each side's snapshot
    # schema; '_pu' present <=> that side resolves FIELD-WISE (mirrors
    # the reference resolve_live's dispatch, by _system_extras per snapshot)
    old_extras: list[str] = field(default_factory=list)
    new_extras: list[str] = field(default_factory=list)


def _read_bucket(root: str, rel_files: list[str], cols: list[str], dtypes,
                 filters=None):
    """Read ``cols`` of a bucket's files into one pandas frame (columns
    an older file lacks read null). ``filters`` is handed to
    ``pq.read_table`` as is (DNF tuples, e.g. ``[("conv_id", "in",
    [...])]``): pyarrow skips row groups whose statistics exclude it and
    materializes only the matching rows."""
    import pandas as pd
    import pyarrow.parquet as pq

    fs, base = arrow_fs_and_base(root)
    frames = []
    for rel in rel_files:
        if fs is None:
            tbl = pq.read_table(os.path.join(base, rel), filters=filters)
        else:
            tbl = pq.read_table(
                posixpath.join(base, rel), filesystem=fs, filters=filters
            )
        frames.append(_arrow_frame(tbl, cols, dtypes))
    if not frames:
        return pd.DataFrame(columns=cols)
    df = pd.concat(frames, ignore_index=True)
    for c in cols:  # additive schema evolution: older files lack the col
        if c not in df.columns:
            df[c] = None
    return df[cols]


def _arrow_frame(tbl, cols: list[str], dtypes):
    """The ``cols`` of a pyarrow Table that ``tbl`` carries, as the
    pandas frame the LWW kernel takes — from a parquet file
    (:func:`_read_bucket`) or from a Spark scan's Arrow batches."""
    import pandas as pd
    import pyarrow as pa

    # nullable pandas dtypes keep parquet NULL distinct from a real NaN
    # double (plain float64 collapses both to nan — the tie-break and
    # diff would then treat a stored NaN as null, diverging from the
    # engine, which hashes NaN and stringifies it as a value). Nested
    # columns (array/struct) stay ARROW-backed (pd.ArrowDtype): the
    # default to_pandas turns list<int64> into float64 numpy arrays —
    # null elements become NaN and values past 2^53 lose precision.
    flat = {
        pa.int64(): pd.Int64Dtype(),
        pa.int32(): pd.Int32Dtype(),
        pa.int16(): pd.Int16Dtype(),
        pa.float64(): pd.Float64Dtype(),
        pa.float32(): pd.Float32Dtype(),
        pa.bool_(): pd.BooleanDtype(),
    }

    def mapper(t):
        m = flat.get(t)
        if m is not None:
            return m
        if (
            pa.types.is_list(t)
            or pa.types.is_large_list(t)
            or pa.types.is_struct(t)
            or pa.types.is_map(t)
        ):
            return pd.ArrowDtype(t)
        return None
    # Spark writes naive INT96 (UTC), pyarrow writers tz-aware micros,
    # Spark's Arrow batches carry the session zone: one type, or a
    # bucket mixing them concatenates to object dtype
    utc = pa.timestamp("us", tz="UTC")
    tbl = tbl.select([c for c in cols if c in tbl.column_names])
    for i, c in enumerate(tbl.column_names):
        if dtypes.get(c) == "timestamp" and tbl.schema.field(i).type != utc:
            tbl = tbl.set_column(i, c, tbl.column(i).cast(utc))
    return tbl.to_pandas(types_mapper=mapper)


def _tie_arrow(s, t: str):
    """One tie-subset pandas column -> the pyarrow array the hash takes.
    Arrow-backed columns (nested types, the read path's ArrowDtype)
    unwrap zero-copy, and so does a nested column's additive
    schema-evolution fill (all-None object -> a null array, which
    leaves the hash unchanged). Flat masked dtypes keep NaN-as-value
    vs NA-as-null distinct; decimals build against the DECLARED (p,s)
    so pyarrow can't infer a different scale and silently change the
    unscaled value."""
    import pandas as pd
    import pyarrow as pa

    td = _parse_type(t)
    if isinstance(s.dtype, pd.ArrowDtype) or td[0] in ("array", "struct", "map"):
        return _as_arrow(s, None)
    if td[0] == "decimal":
        return pa.array(
            [None if v is None or v is pd.NA else v for v in s],
            type=pa.decimal128(td[1], td[2]),
        )
    flat = {
        "string": pa.string(), "binary": pa.binary(),
        "long": pa.int64(), "bigint": pa.int64(),
        "integer": pa.int32(), "int": pa.int32(),
        "short": pa.int16(), "smallint": pa.int16(),
        "byte": pa.int8(), "tinyint": pa.int8(),
        "boolean": pa.bool_(), "double": pa.float64(),
        "float": pa.float32(), "date": pa.date32(),
    }
    if td[1] in ("timestamp", "timestamp_ntz"):
        return pa.array(s)  # keep the source unit/tz (the hash converts)
    return pa.array(s, type=flat[td[1]])


def _key_codes(df, keys: list[str], dtypes):
    """``(df, sort_keys)``: the frame with one int64 ``_order_rank``
    code column per nested (array/struct) key, and the key names to
    sort, group and deduplicate on — the code stands in for the nested
    key, whose original column is still what gets emitted."""
    tds = {k: _parse_type(dtypes.get(k, "string")) for k in keys}
    nested = [k for k in keys if tds[k][0] in ("array", "struct")]
    if not nested:
        return df, keys
    codes = {f"_rk_{k}": _order_rank(_as_arrow(df[k], None), tds[k]) for k in nested}
    return df.assign(**codes), [f"_rk_{k}" if k in nested else k for k in keys]


def _tie_col(df, keys: list[str], payload: list[str], dtypes):
    """int64 Series: xxhash64(payload..., _op) for rows inside
    (keys,_lsn)-duplicated tie groups, 0 elsewhere — the deterministic
    equal-LSN tie-break. The common unique-LSN path never pays any
    hash; tie rows hash column-wise (:mod:`.xxhash_vec`), since a
    mass-redelivery batch can make every row a tie. (Hash order =
    payload in SNAPSHOT-SCHEMA order; the reader pins that order at
    plan time.)"""
    import pandas as pd

    tie = df.duplicated(subset=keys + ["_lsn"], keep=False)
    hcol = pd.Series(0, index=df.index, dtype="int64")
    if not tie.any():
        return hcol
    ptypes = [dtypes[c] for c in payload] + ["string"]
    sub = df.loc[tie]
    arrays = [_tie_arrow(sub[c], t) for c, t in zip(payload + ["_op"], ptypes)]
    hcol.loc[tie] = spark_xxhash64_vec(arrays, ptypes)
    return hcol


def _resolve_live_pd(df, keys: list[str], payload: list[str], dtypes,
                     keep_op: bool = False):
    """Row-policy LWW twin of :func:`~..lake.merge.resolve_live`: winner
    per key by (_lsn, xxhash64(payload..., _op)); tombstone winners drop.
    ``keep_op=True`` additionally returns the winner's ``_op`` (the
    compacted-base shape every compaction writes)."""
    out_cols = keys + payload + ["_lsn"] + (["_op"] if keep_op else [])
    if df.empty:
        return df.iloc[0:0].reindex(columns=out_cols)
    df, sk = _key_codes(df.reset_index(drop=True), keys, dtypes)
    df = df.assign(_tie=_tie_col(df, sk, payload, dtypes)).sort_values(
        sk + ["_lsn", "_tie"], kind="stable"
    )
    win = df.groupby(sk, as_index=False, sort=False, dropna=False).tail(1)
    live = win[win["_op"] != "D"]
    return live[out_cols].reset_index(drop=True)


def _resolve_live_pd_fieldwise(df, keys: list[str], payload: list[str], dtypes,
                               keep_op: bool = False):
    """FIELD-WISE twin of :func:`~..lake.merge.lww_winners_fieldwise`
    (+ resolve_live's live filter): each payload column independently
    takes its value from the latest event that SPECIFIED it, ordered by
    (_lsn, tie-hash) — full rows (``_pu`` null/false) specify every
    field at their LSN, nulls included (a committed null can never be
    resurrected — CLAUDE.md rule); partial rows only their non-null
    fields (read-time specification is always coalesce, see
    resolve_live's docstring). A field's winner only survives if it
    post-dates the key's delete boundary (max of 'D'-op LSNs and any
    carried ``_del_lsn``); the row itself survives if the overall
    latest event isn't a delete. Vectorized: one stable sort, then
    per-group ``np.maximum.reduceat`` reductions — no per-row Python
    beyond the shared tie-hash."""
    import numpy as np
    import pandas as pd

    out_cols = keys + payload + ["_lsn"] + (["_op"] if keep_op else [])
    if df.empty:
        return df.iloc[0:0].reindex(columns=out_cols)
    df, sk = _key_codes(df.reset_index(drop=True), keys, dtypes)
    s = df.assign(_tie=_tie_col(df, sk, payload, dtypes)).sort_values(
        sk + ["_lsn", "_tie"], kind="stable"
    ).reset_index(drop=True)
    gid = s.groupby(sk, sort=False, dropna=False).ngroup().to_numpy()
    n = len(s)
    seq = np.arange(n, dtype=np.int64)
    starts = np.flatnonzero(np.r_[True, gid[1:] != gid[:-1]])
    last = np.r_[starts[1:], n] - 1  # per-group final (winning) row
    lsn = s["_lsn"].to_numpy(dtype="int64")

    NEG = np.iinfo(np.int64).min
    op = s["_op"].to_numpy()
    dl = np.where(op == "D", lsn, NEG)
    if "_del_lsn" in s.columns:
        carried = (
            s["_del_lsn"].astype("Int64").to_numpy(dtype="int64", na_value=NEG)
        )
        dl = np.maximum(dl, carried)
    dl_g = np.maximum.reduceat(dl, starts)

    if "_pu" in s.columns:
        full = ~s["_pu"].astype("boolean").fillna(False).to_numpy(dtype=bool)
    else:
        full = np.ones(n, dtype=bool)

    data = {k: s[k].take(last).reset_index(drop=True) for k in keys}
    for c in payload:
        spec = full | s[c].notna().to_numpy(dtype=bool)
        idx = np.where(spec, seq, np.int64(-1))
        w = np.maximum.reduceat(idx, starts)
        safe_w = np.where(w >= 0, w, 0)
        alive = (w >= 0) & ((dl_g == NEG) | (lsn[safe_w] > dl_g))
        vals = s[c].take(safe_w).reset_index(drop=True)
        data[c] = vals.where(pd.Series(alive), other=pd.NA)
    data["_lsn"] = pd.Series(lsn[last])
    if keep_op:
        data["_op"] = pd.Series(op[last])
    res = pd.DataFrame(data)
    return res[op[last] != "D"].reset_index(drop=True)[out_cols]


def _as_arrow(s, pa_type):
    """pandas Series -> pyarrow Array. ArrowDtype columns (the nested
    read path) unwrap zero-copy; plain object columns (the additive
    schema-evolution fill, typically all-None) build against the
    declared arrow type."""
    import pandas as pd
    import pyarrow as pa

    if isinstance(s.dtype, pd.ArrowDtype):
        arr = s.array._pa_array
        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        return arr
    return pa.array(
        [None if v is None or v is pd.NA else v for v in s.tolist()],
        type=pa_type,
    )


def _arrow_elem_same(vo, vn, td):
    """Positionally-aligned arrow arrays -> boolean 'same' mask with
    the engine's scalar semantics: both-null same, null vs value a
    change; double/float compare NaN==NaN as same and +-0.0 as a
    change; everything else exact ``pc.equal``. Nested element types
    (array-of-array, struct fields holding arrays, maps at any depth,
    ...) recurse back through :func:`_arrow_nested_same` —
    depth-unbounded."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if td[0] in ("array", "struct", "map"):
        return _arrow_nested_same(vo, vn, td)
    eno = pc.is_null(vo).to_numpy(zero_copy_only=False)
    enn = pc.is_null(vn).to_numpy(zero_copy_only=False)
    if td[0] == "scalar" and td[1] in ("double", "float"):
        do = vo.cast(pa.float64()).to_numpy(zero_copy_only=False)
        dn = vn.cast(pa.float64()).to_numpy(zero_copy_only=False)
        v_nan_o = np.isnan(do) & ~eno  # stored NaN VALUES (not nulls)
        v_nan_n = np.isnan(dn) & ~enn
        eq = ((do == dn) & (np.signbit(do) == np.signbit(dn))) | (
            v_nan_o & v_nan_n
        )
        return (eno & enn) | (~eno & ~enn & eq)
    eq = (
        pc.fill_null(pc.equal(vo, vn), False)
        .to_numpy(zero_copy_only=False)
        .astype(bool)
    )
    return (eno & enn) | (~eno & ~enn & eq)


def _arrow_nested_same(ao, an, td):
    """Vectorized 'unchanged' mask for nested arrow arrays, ANY depth
    (mutual recursion with :func:`_arrow_elem_same`).

    Arrays: lengths via ``bincount(list_parent_indices)`` (slice- and
    null-row-safe), then a single positional gather aligns both sides'
    flattened element buffers for candidate rows (non-null, equal
    length) and one ``_arrow_elem_same`` pass + per-row mismatch
    bincount decides — no per-row Python anywhere, at any level.
    Structs: field-wise ``_arrow_elem_same`` under the level's validity
    mask (child slots under null parents are arbitrary — masked)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if td[0] == "map":
        return _arrow_nested_same(
            _canon_map_arrow(ao, td), _canon_map_arrow(an, td), _map_entries_td(td)
        )
    na_o = pc.is_null(ao).to_numpy(zero_copy_only=False)
    na_n = pc.is_null(an).to_numpy(zero_copy_only=False)
    both = ~na_o & ~na_n
    same = na_o & na_n
    if not both.any():
        return same
    if td[0] == "struct":
        ok = np.ones(len(ao), dtype=bool)
        for name, ftd in td[1]:
            # child slots under null parents are arbitrary — masked by
            # ``both`` below
            ok &= _arrow_elem_same(ao.field(name), an.field(name), ftd)
        return same | (both & ok)
    elem_td = td[1]
    n_rows = len(ao)
    parent_o = pc.list_parent_indices(ao).to_numpy(zero_copy_only=False)
    parent_n = pc.list_parent_indices(an).to_numpy(zero_copy_only=False)
    len_o = np.bincount(parent_o, minlength=n_rows).astype(np.int64)
    len_n = np.bincount(parent_n, minlength=n_rows).astype(np.int64)
    cand = both & (len_o == len_n)
    ok = cand.copy()  # equal-length empties are equal; rest verified below
    idx = np.flatnonzero(cand & (len_o > 0))
    if len(idx):
        # list_flatten drops null-row slots, so starts come from the
        # same bincount lengths (null rows contribute 0) — alignment
        # is exact even for sliced/offset arrays
        flat_o, flat_n = pc.list_flatten(ao), pc.list_flatten(an)
        start_o = np.concatenate(([0], np.cumsum(len_o)[:-1]))
        start_n = np.concatenate(([0], np.cumsum(len_n)[:-1]))
        L = len_o[idx]
        within = np.arange(int(L.sum()), dtype=np.int64) - np.repeat(
            np.concatenate(([0], np.cumsum(L)[:-1])), L
        )
        vo = pc.take(flat_o, pa.array(np.repeat(start_o[idx], L) + within))
        vn = pc.take(flat_n, pa.array(np.repeat(start_n[idx], L) + within))
        es = _arrow_elem_same(vo, vn, elem_td)
        seg = np.repeat(np.arange(len(idx)), L)
        ok[idx] = np.bincount(seg[~es], minlength=len(idx)) == 0
    return same | (both & ok)


def _col_same(o, n, t: str, pa_type=None):
    """Vectorized per-column 'unchanged' mask matching the engine's
    comparison (state_diff): both-null is same, null vs anything is a
    change; for doubles NaN==NaN is same, NULL<->NaN is a change, and
    +0.0 vs -0.0 is a change; arrays/structs compare element-/field-
    wise with the same scalar rules (state_diff's element-digest
    fold)."""
    import numpy as np

    td = _parse_type(t)
    if td[0] in ("array", "struct", "map"):
        return _arrow_nested_same(_as_arrow(o, pa_type), _as_arrow(n, pa_type), td)
    na_o = o.isna().to_numpy(dtype=bool)
    na_n = n.isna().to_numpy(dtype=bool)
    if t in ("double", "float"):
        do = o.to_numpy(dtype="float64", na_value=np.nan)
        dn = n.to_numpy(dtype="float64", na_value=np.nan)
        vo = np.isnan(do) & ~na_o  # stored NaN VALUES (not nulls)
        vn = np.isnan(dn) & ~na_n
        eq = ((do == dn) & (np.signbit(do) == np.signbit(dn))) | (vo & vn)
        return (na_o & na_n) | (~na_o & ~na_n & eq)
    eq = o == n
    if hasattr(eq, "fillna"):
        eq = eq.fillna(False)
    return (na_o & na_n) | (~na_o & ~na_n & np.asarray(eq, dtype=bool))


def _merge_indices(old, new, keys: list[str], dtypes):
    """Outer-join the two states on the key columns, returning only
    POSITIONAL indices (io, i_n; -1 = absent on that side). The join
    runs on ONE packed int64 code column (factorize over both sides;
    a nested key enters as its ``_order_rank`` over both sides), so no
    payload column is ever copied into a merged frame — output
    materialization later is O(changes), not O(rows). Falls back to a
    direct multi-column key merge on the (astronomically rare) bucket
    whose per-key code-space product overflows int64."""
    import numpy as np
    import pandas as pd

    n_o, n_n = len(old), len(new)
    both_sides, keys = _key_codes(
        pd.concat([old[keys], new[keys]], ignore_index=True), keys, dtypes
    )
    old, new = both_sides.iloc[:n_o], both_sides.iloc[n_o:]
    ko = np.zeros(n_o, dtype=np.int64)
    kn = np.zeros(n_n, dtype=np.int64)
    space = 1
    for k in keys:
        both = both_sides[k]
        # use_na_sentinel=False: a null key is a regular code, so NA
        # keys match each other — same as pandas' merge-on-keys
        codes, uniques = pd.factorize(both, use_na_sentinel=False)
        card = max(len(uniques), 1)
        space *= card
        if space > 2**62:
            break
        ko = ko * card + codes[:n_o]
        kn = kn * card + codes[n_o:]
    if space > 2**62:  # fallback: still index-only, just multi-column
        lo = old[keys].assign(_io=np.arange(n_o, dtype=np.int64))
        ln = new[keys].assign(_in=np.arange(n_n, dtype=np.int64))
        m = lo.merge(ln, on=keys, how="outer")
    else:
        lo = pd.DataFrame({"_jk": ko, "_io": np.arange(n_o, dtype=np.int64)})
        ln = pd.DataFrame({"_jk": kn, "_in": np.arange(n_n, dtype=np.int64)})
        m = lo.merge(ln, on="_jk", how="outer")
    io = m["_io"].astype("Int64").to_numpy(dtype="int64", na_value=-1)
    i_n = m["_in"].astype("Int64").to_numpy(dtype="int64", na_value=-1)
    return io, i_n


def _diff_states_pd(
    old, new, keys: list[str], payload: list[str], dtypes, pa_types=None
):
    """``state_diff`` twin, fully vectorized: an index-only outer join
    on the keys, boolean column masks over positionally-aligned takes,
    one output DataFrame (_change, keys, new-side payload — nulled for
    D — and the change's _lsn). Only the kept change rows are ever
    materialized. ``pa_types`` (col -> arrow type) backs the nested-
    column compare's schema-evolution fallback."""
    import numpy as np
    import pandas as pd

    out_cols = ["_change"] + keys + payload + ["_lsn"]
    if len(old) == 0 and len(new) == 0:
        return pd.DataFrame(columns=out_cols)
    if len(old) == 0:  # everything inserts; nothing to compare
        out = new[keys + payload + ["_lsn"]].reset_index(drop=True)
        out.insert(0, "_change", "I")
        return out[out_cols]
    if len(new) == 0:  # everything deletes; payload nulls out
        out = old[keys].reset_index(drop=True)
        out.insert(0, "_change", "D")
        for c in payload:
            out[c] = pd.NA
        out["_lsn"] = old["_lsn"].reset_index(drop=True)
        return out[out_cols]

    io, i_n = _merge_indices(old, new, keys, dtypes)
    has_o, has_n = io >= 0, i_n >= 0
    safe_o, safe_n = np.where(has_o, io, 0), np.where(has_n, i_n, 0)
    same = np.ones(len(io), dtype=bool)
    for c in payload:
        ov = old[c].take(safe_o).reset_index(drop=True)
        nv = new[c].take(safe_n).reset_index(drop=True)
        same &= _col_same(
            ov,
            nv,
            dtypes.get(c, "string"),
            pa_types.get(c) if pa_types else None,
        )
    keep = ~(has_o & has_n) | ~same
    so, sn = safe_o[keep], safe_n[keep]
    ho, hn = has_o[keep], has_n[keep]
    hn_s = pd.Series(hn)
    data = {"_change": pd.Series(np.where(~ho, "I", np.where(~hn, "D", "U")))}
    for k in keys:
        kv_n = new[k].take(sn).reset_index(drop=True)
        kv_o = old[k].take(so).reset_index(drop=True)
        data[k] = kv_n.where(hn_s, kv_o)
    for c in payload:  # new-side values; NA on deletes
        data[c] = (
            new[c].take(sn).reset_index(drop=True).where(hn_s, other=pd.NA)
        )
    data["_lsn"] = (
        new["_lsn"].take(sn).reset_index(drop=True)
        .where(hn_s, old["_lsn"].take(so).reset_index(drop=True))
    )
    return pd.DataFrame(data)[out_cols]


_ARROW_CHUNK_ROWS = 1 << 17  # bound per-batch memory on huge hot buckets


def _to_arrow_batches(pdf, out_schema, dtypes):
    """pandas diff frame -> pyarrow.RecordBatch chunks whose arrow
    types match Spark's to_arrow_schema of the declared output schema
    (the worker forwards RecordBatches as-is). Timestamps stored
    tz-naive (session-UTC micros) are LOCALIZED — never converted — to
    UTC for the tz-aware arrow type."""
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    pa_schema = to_arrow_schema(out_schema)
    n = len(pdf)
    for lo in range(0, n, _ARROW_CHUNK_ROWS):
        chunk = pdf.iloc[lo : lo + _ARROW_CHUNK_ROWS]
        arrays = []
        for fld in pa_schema:
            s = chunk[fld.name]
            if dtypes.get(fld.name) == "timestamp":
                s = pd.to_datetime(s)
                s = (
                    s.dt.tz_localize("UTC")
                    if s.dt.tz is None
                    else s.dt.tz_convert("UTC")
                )
            arr = pa.Array.from_pandas(s, type=fld.type)
            if arr.type != fld.type:
                # from_pandas IGNORES the requested type for
                # arrow-backed input (e.g. a naive list<timestamp>
                # where the schema wants tz-aware): cast explicitly —
                # naive micros are session-UTC, so the cast localizes
                arr = arr.cast(fld.type)
            arrays.append(arr)
        yield pa.RecordBatch.from_arrays(arrays, schema=pa_schema)


# ---------------------------------------------------------------------------
# the DataSource
# ---------------------------------------------------------------------------


def _load_snapshot(root: str, version: int) -> Snapshot:
    from picsure_dictionary_etl_spark.lake.consume import ChangeFeedRetentionError

    try:
        return Snapshot.from_json(
            _read_text(root, META_DIR, f"snap-{version:08d}.json")
        )
    except FileNotFoundError:
        raise ChangeFeedRetentionError(
            f"snapshot v{version} of {root} is beyond retention (vacuumed). "
            f"Start a fresh stream with .option('startversion', <oldest "
            f"retained version>) — list {posixpath.join(root, META_DIR)} for "
            f"the surviving snap-*.json — or raise vacuum keep_snapshots to "
            f"cover the slowest stream's lag"
        ) from None


def _current_version(root: str) -> int:
    return int(_read_text(root, META_DIR, VERSION_FILE).strip())


def _version_before_timestamp(root: str, ts) -> int:
    """Base offset for ``startingtimestamp``: (first version committed
    at-or-after ``ts``) − 1, so the first span (base, head] contains
    exactly the commits stamped at-or-after the cut.

    Walks retained manifests newest→oldest (metadata-only; commit
    timestamps are strictly monotone, so the walk stops at the first
    older commit). Every commit at-or-after the cut must have a
    DIFFABLE base: if the walk needs a manifest beyond retention — or
    hits a pre-upgrade manifest with no timestamp — the retention
    error from :func:`_load_snapshot` propagates at PLAN time with the
    startversion/initialsnapshot remedies. A timestamp after the
    latest commit resolves to the head (the stream waits for new
    commits)."""
    from picsure_dictionary_etl_spark.lake.consume import ChangeFeedRetentionError
    from picsure_dictionary_etl_spark.lake.table import to_micros

    ts_us = to_micros(ts)
    cur = _current_version(root)
    base = cur
    v = cur
    while v >= 0:
        snap = _load_snapshot(root, v)  # raises retention if vacuumed
        if snap.committed_at is None:
            raise ChangeFeedRetentionError(
                f"startingtimestamp={ts_us} us reaches back into "
                f"history of {root} that predates commit-timestamp "
                f"tracking (snapshot v{v} carries no committed_at); "
                f"use .option('startversion', <version>) or "
                f".option('initialsnapshot', 'true')"
            )
        if snap.committed_at < ts_us:
            break
        base = v - 1
        v -= 1
    # base -1 (the cut predates even v0): v0's base is the EMPTY
    # table, and offset -1 is exactly the initial-snapshot bootstrap —
    # the first span delivers the net of every commit as I rows, which
    # is the faithful feed for a consumer that predates all history
    return base


def _version_at_or_before(root: str, ts) -> int:
    """``endingtimestamp`` resolution: greatest version committed
    at-or-before ``ts`` — the inclusive twin of
    :func:`_version_before_timestamp` (commit stamps are integer micros,
    so at-or-before ``ts`` ≡ strictly-before ``ts+1µs``). Raises the
    same retention/pre-upgrade errors; a cut before all history is a
    typed ValueError (an empty feed bound, not a bootstrap)."""
    from picsure_dictionary_etl_spark.lake.table import to_micros

    v = _version_before_timestamp(root, to_micros(ts) + 1)
    if v < 0:
        raise ValueError(
            f"endingtimestamp={to_micros(ts)} us predates every commit "
            f"of {root}: the requested feed is empty"
        )
    return v


def _check_supported(root: str, snap: Snapshot) -> None:
    """Typed plan-time checks of a feed: unresolvable root schemes, then
    :func:`_check_types` — never mid-batch on the first equal-LSN tie."""
    arrow_fs_and_base(root)  # raises NotImplementedError on unknown schemes
    _check_types(root, snap)


def _check_types(root: str, snap: Snapshot) -> None:
    """Typed plan-time check that the pandas LWW kernel can resolve the
    table: column types outside the tie hash's surface and unorderable
    (map-typed) keys raise ``NotImplementedError``."""
    bad = [
        f"{f.name}:{f.dataType.simpleString()}"
        for f in snap.schema.fields
        if f.name not in ("_op", "_lsn", "_del_lsn", "_pu")
        and not _type_supported(f.dataType.simpleString())
    ]
    if bad:
        raise NotImplementedError(
            f"the LWW kernel supports column types {sorted(SUPPORTED_TYPES)}, "
            f"decimal(p,s) at any precision, and array/struct/map nesting "
            f"at any depth over those (map KEYS must not contain a map); "
            f"table {root} carries unsupported column(s) {bad}"
        )
    by_name = {f.name: f.dataType.simpleString() for f in snap.schema.fields}
    map_keys = [
        f"{k}:{by_name[k]}"
        for k in snap.key_cols
        if not _orderable(_parse_type(by_name[k]))
    ]
    if map_keys:
        raise NotImplementedError(
            f"LWW kernel: KEY columns must be orderable (Spark cannot "
            f"group on maps); table {root} keys on {map_keys}"
        )


def _plan_cols(snap: Snapshot):
    """``(keys, payload, dtypes, out_schema)`` of a feed read against
    ``snap``: payload in schema order (it pins the equal-LSN tie-break
    hash order), spark dtypes by column, and :func:`_output_schema`."""
    dtypes = {f.name: f.dataType.simpleString() for f in snap.schema.fields}
    dtypes.setdefault("_op", "string")
    dtypes.setdefault("_lsn", "bigint")
    return snap.key_cols, _payload_cols(snap), dtypes, _output_schema(snap)


def _pin_plan(root: str, schema):
    """Pin the read plan from the table's CURRENT snapshot (shared by
    the stream and batch readers): supported-surface check and
    :func:`_plan_cols`. A caller-supplied ``.schema(...)`` must match
    the source schema exactly — payload ORDER pins the equal-LSN
    tie-break hash order, so a reordered schema would silently flip tie
    winners."""
    snap = _load_snapshot(root, _current_version(root))
    _check_supported(root, snap)
    plan = _plan_cols(snap)
    expected = plan[3]
    if schema is not None and [f.name for f in schema.fields] != [
        f.name for f in expected.fields
    ]:
        raise ValueError(
            f"lake_cdf: user-supplied schema columns "
            f"{[f.name for f in schema.fields]} must match the source "
            f"schema {[f.name for f in expected.fields]} exactly (column "
            f"order pins the LWW tie-break hash order)"
        )
    return plan


def _span_tasks(root, keys, payload, dtypes, snap_from, snap_to):
    """Input partitions for the change span ``snap_from -> snap_to`` —
    the one planning core of ``table_changes``, the change-feed
    consumer and both ``lake_cdf`` readers. Metadata-only: diffs the
    two manifests' per-bucket file lists; only buckets whose lists
    differ become tasks. ``snap_from=None`` is the full-state bootstrap
    (old side EMPTY — every live row emits as ``I``)."""
    if snap_from is None:
        import dataclasses as _dc

        snap_from = _dc.replace(snap_to, files={}, file_sizes={})
    _check_supported(root, snap_to)
    same_layout = (
        snap_from.bucket_count == snap_to.bucket_count
        and snap_from.bucket_by == snap_to.bucket_by
    )
    common = dict(
        root=root,
        keys=keys,
        payload=payload,
        dtypes=dtypes,
        old_extras=_system_extras(snap_from),
        new_extras=_system_extras(snap_to),
    )
    if not same_layout:
        # a rebucket inside the span moves keys across buckets: a
        # per-bucket diff would emit spurious changes. Collapse to ONE
        # global-diff task. Rare one-time maintenance; the next span
        # fans back out.
        return [
            _BucketTask(
                old_files=snap_from.all_files(),
                new_files=snap_to.all_files(),
                **common,
            )
        ]
    changed = sorted(
        b
        for b in set(snap_from.files) | set(snap_to.files)
        if snap_from.files.get(b) != snap_to.files.get(b)
    )
    return [
        _BucketTask(
            old_files=snap_from.files.get(b, []),
            new_files=snap_to.files.get(b, []),
            **common,
        )
        for b in changed
    ]


def _resolve_files(root, rel_files, keys, payload, dtypes, extras,
                   keep_op: bool = False):
    """Live rows of one bucket's files: :func:`_read_bucket`, then the
    row or field-wise LWW kernel (``'_pu' in extras`` picks field-wise).
    Key-ordered, as the kernel sorts by key before it picks winners."""
    cols = keys + payload + ["_op", "_lsn"] + list(extras)
    raw = _read_bucket(root, rel_files, cols, dtypes)
    return _resolve_frame(raw, keys, payload, dtypes, extras, keep_op=keep_op)


def _resolve_frame(raw, keys, payload, dtypes, extras, keep_op: bool = False):
    """Live rows of one bucket's raw rows: the row or field-wise LWW
    kernel (``'_pu' in extras`` picks field-wise), key-ordered."""
    resolve = (
        _resolve_live_pd_fieldwise if "_pu" in extras else _resolve_live_pd
    )
    return resolve(raw, keys, payload, dtypes, keep_op=keep_op)


def _read_span_partition(partition: _BucketTask, out_schema):
    """Executor read of one span task (shared by every feed reader):
    resolve each side's live state, vectorized diff, yield arrow
    RecordBatches."""
    from pyspark.sql.pandas.types import to_arrow_schema

    p = partition
    old = _resolve_files(p.root, p.old_files, p.keys, p.payload, p.dtypes, p.old_extras)
    new = _resolve_files(p.root, p.new_files, p.keys, p.payload, p.dtypes, p.new_extras)
    pa_schema = to_arrow_schema(out_schema)
    pa_types = {f.name: f.type for f in pa_schema}
    diff = _diff_states_pd(
        old,
        new,
        partition.keys,
        partition.payload,
        partition.dtypes,
        pa_types,
    )
    yield from _to_arrow_batches(diff, out_schema, partition.dtypes)


class _CdfStreamReader(DataSourceStreamReader):
    def __init__(self, options, schema=None):
        self.root = options.get("path")
        if not self.root:
            raise ValueError("lake_cdf requires .option('path', <table_root>)")
        self.start_version = int(options.get("startversion", 0))
        # initial-snapshot bootstrap (the Delta initial-snapshot
        # analog): the stream's FIRST span treats the old side as
        # EMPTY, so batch one delivers the table's full resolved state
        # as 'I' rows and later spans stream incrementally. This is
        # how a consumer/mirror bootstraps a table whose early history
        # is beyond retention (vacuumed v0 ⇒ startversion=0 raises
        # ChangeFeedRetentionError, and starting at the oldest RETAINED
        # version would silently miss every key last touched before
        # it). Encoded as offset version -1 — correct under pacing by
        # construction, because diff(EMPTY, v_k) is the full state at
        # ANY first-span end k.
        if options.get("initialsnapshot", "false").lower() in ("true", "1"):
            if "startversion" in options:
                raise ValueError(
                    "initialsnapshot and startversion are mutually "
                    "exclusive: the bootstrap span delivers the full "
                    "state at the first batch's end version"
                )
            self.start_version = -1
        st = options.get("startingtimestamp")
        if st is not None:
            # the Delta startingTimestamp analog: stream every change
            # committed AT OR AFTER the wall-clock. Resolved to a base
            # version at PLAN time (typed-seam rule: never mid-batch)
            # by walking retained manifests newest-first — commit
            # timestamps are strictly monotone by construction
            # (lake/table.py Snapshot.committed_at), so the walk stops
            # at the first commit older than the cut. A timestamp
            # after the latest commit starts at the head (the stream
            # waits); one that predates retention raises the same
            # retention error a vacuumed startversion does, with
            # initialsnapshot as the documented bootstrap.
            if "startversion" in options or self.start_version < 0:
                raise ValueError(
                    "startingtimestamp is mutually exclusive with "
                    "startversion and initialsnapshot: each pins the "
                    "stream's starting point its own way"
                )
            self.start_version = _version_before_timestamp(self.root, st)
        # catch-up rate limit: cap how many table VERSIONS one
        # micro-batch may span (0 = unbounded). A stream resuming after
        # a long gap otherwise plans a single batch over every pending
        # version — unbounded executor tasks and no incremental
        # checkpoints. The cap is tracked against the last offset THIS
        # reader returned; after a query restart the engine's first
        # call is ALWAYS partitions(committed, committed) — a
        # degenerate replay even when the last batch committed cleanly
        # (traced empirically via SPARK_GRAFT_CDF_DEBUG) — which
        # re-seeds the cursor at the checkpointed position before any
        # pacing decision. Bounded-by-construction never
        # under-delivers, because the cap only ever lowers the batch
        # END, never skips versions.
        self.max_versions = int(options.get("maxversionsperbatch", 0))
        if self.max_versions < 0:
            raise ValueError("maxversionsperbatch must be >= 0")
        # byte-budget pacing (the Delta maxBytesPerTrigger analog): a
        # version cap alone does not bound WORK — one version can touch
        # every bucket with arbitrarily large files. The budget is
        # estimated metadata-only from the manifests' recorded
        # file_sizes (bytes NEWLY referenced by each version vs its
        # parent — an upper bound on the span's write volume, a proxy
        # for its read cost); at least one version always ships, so a
        # single oversized commit can never stall the stream. Composes
        # with maxversionsperbatch (tighter cap wins) — which also
        # bounds the metadata walk itself: the version cap applies
        # FIRST, so a far-behind stream loads at most max_versions
        # manifests per trigger even with a generous byte budget.
        self.max_bytes = int(options.get("maxbytesperbatch", 0))
        if self.max_bytes < 0:
            raise ValueError("maxbytesperbatch must be >= 0")
        # Seeded HERE, not in initialOffset: the engine calls
        # latestOffset() BEFORE initialOffset() on a fresh query
        # (observed call order of the Spark 4 python runner), and a
        # restarted query runs in a fresh process that first replays
        # partitions(committed_start, committed_end) — which
        # re-raises the cursor via the monotone update below before
        # any pacing decision is made.
        self._last_end: int | None = self.start_version
        # columns are PINNED at stream start (the Structured Streaming
        # contract: a source's schema is fixed for the query's
        # lifetime). An additive evolve() mid-stream keeps streaming the
        # declared columns — rows that only changed in a NEW column
        # classify as unchanged until the stream restarts with the wider
        # schema.
        self.keys, self.payload, self.dtypes, self.out_schema = _pin_plan(
            self.root, schema
        )

    def _dbg(self, msg):
        """Ops tracing for the engine<->reader protocol (the runner
        lives in a separate python process, so print() is lost): set
        SPARK_GRAFT_CDF_DEBUG=<file> to append one line per call."""
        f = os.environ.get("SPARK_GRAFT_CDF_DEBUG")
        if f:
            with open(f, "a") as fh:
                fh.write(f"pid={os.getpid()} id={id(self)} {msg}\n")

    def initialOffset(self) -> dict:
        self._dbg(f"initialOffset -> {self.start_version}")
        return {"version": self.start_version}

    def latestOffset(self) -> dict:
        cur = _current_version(self.root)
        # pacing never applies to the initial-snapshot span (cursor
        # -1): the bootstrap jumps straight to a RETAINED version —
        # intermediate versions may be vacuumed, and a snapshot is one
        # unit of work regardless of how many versions it covers
        if self._last_end is not None and self._last_end >= 0:
            if self.max_versions:
                cur = min(cur, self._last_end + self.max_versions)
            if self.max_bytes and cur > self._last_end + 1:
                cur = self._cap_end_by_bytes(self._last_end, cur)
        self._last_end = cur
        self._dbg(f"latestOffset -> {cur}")
        return {"version": cur}

    def _cap_end_by_bytes(self, start: int, cur: int) -> int:
        """Largest end version in (start, cur] whose span stays within
        the byte budget — walking version-pairwise manifest diffs and
        summing the sizes of files NEWLY referenced by each step
        (metadata-only; no data IO). The first version is always
        admitted. Files missing from file_sizes (pre-size-tracking
        manifests) count as 0 — the budget is an estimate, never a
        correctness gate."""
        # start == -1 (initial-snapshot bootstrap): the pre-snapshot
        # state is EMPTY, so every file of the first version is new
        prev_files: dict = (
            {} if start < 0 else _load_snapshot(self.root, start).files
        )
        total = 0
        end = start + 1
        for v in range(start + 1, cur + 1):
            snap = _load_snapshot(self.root, v)
            step = 0
            for b, files in snap.files.items():
                old = set(prev_files.get(b, ()))
                step += sum(
                    snap.file_sizes.get(f, 0) for f in files if f not in old
                )
            if v > start + 1 and total + step > self.max_bytes:
                break
            total += step
            end = v
            prev_files = snap.files
            if total >= self.max_bytes:
                break
        return end

    def partitions(self, start: dict, end: dict):
        sv, ev = int(start["version"]), int(end["version"])
        self._dbg(f"partitions {sv}->{ev}")
        if ev < sv:
            # never plan a BACKWARDS span: diffing v_hi -> v_lo would
            # emit reverse changes as if they were forward ones. This
            # can only arise if pacing mis-tracked a restart position;
            # failing loudly beats silent wrongness.
            raise ValueError(
                f"lake_cdf: refusing backwards span v{sv}->v{ev} "
                f"(pacing cursor desync? file a bug with the "
                f"SPARK_GRAFT_CDF_DEBUG trace)"
            )
        # a restarted query reveals its checkpointed position here
        # first (fresh runner process); keep the pace cursor monotone
        if self._last_end is None or ev > self._last_end:
            self._last_end = ev
        if ev < 0:  # pre-snapshot replay (restart before first commit)
            return []
        return _span_tasks(
            self.root, self.keys, self.payload, self.dtypes,
            None if sv < 0 else _load_snapshot(self.root, sv),
            _load_snapshot(self.root, ev),
        )

    def read(self, partition: _BucketTask):
        yield from _read_span_partition(partition, self.out_schema)

    def commit(self, end: dict) -> None:
        pass  # offsets live in Spark's checkpoint; nothing table-side to ack


class _CdfBatchReader(DataSourceReader):
    """``spark.read.format("lake_cdf")`` — one bounded change span as a
    batch DataFrame (the Delta batch ``readChangeFeed`` analog). Same
    planning (metadata-only manifest diff → changed-bucket tasks) and
    executor path (vectorized resolve+diff, arrow-batch yield) as the
    stream; the span bounds come from options instead of offsets:

    * ``startversion`` (default 0) — EXCLUSIVE base: changes strictly
      after this version, the same convention as the stream option and
      ``table_changes(t, start, end)``.
    * ``endversion`` — INCLUSIVE end (default: the current version at
      plan time).
    * ``startingtimestamp`` / ``endingtimestamp`` — wall-clock bounds
      resolved against the manifests' monotone ``committed_at`` stamps:
      changes committed at-or-after / at-or-before the cut. Each is
      mutually exclusive with its version twin.
    * ``initialsnapshot=true`` — not a feed but the full resolved state
      at the end bound, emitted as ``I`` rows (base −1): the batch twin
      of the stream's bootstrap, and the sound first load for a table
      whose early history is vacuumed.

    Stream-only pacing options (``maxversionsperbatch``,
    ``maxbytesperbatch``) are rejected: a batch read is one span by
    definition. Retention violations (a vacuumed bound) raise the same
    typed ``ChangeFeedRetentionError`` the stream raises, at plan time.
    """

    def __init__(self, options, schema=None):
        self.root = options.get("path")
        if not self.root:
            raise ValueError("lake_cdf requires .option('path', <table_root>)")
        for opt in ("maxversionsperbatch", "maxbytesperbatch"):
            if opt in options:
                raise ValueError(
                    f"lake_cdf batch read: {opt} paces a STREAM's "
                    f"micro-batches; a batch read is one span — bound it "
                    f"with endversion/endingtimestamp instead"
                )
        cur = _current_version(self.root)
        self.end = cur
        if "endversion" in options:
            if "endingtimestamp" in options:
                raise ValueError(
                    "endversion and endingtimestamp are mutually "
                    "exclusive: each pins the span's end its own way"
                )
            self.end = int(options["endversion"])
            if self.end > cur or self.end < 0:
                raise ValueError(
                    f"endversion={self.end} is outside {self.root}'s "
                    f"history (current version {cur})"
                )
        elif "endingtimestamp" in options:
            self.end = _version_at_or_before(
                self.root, options["endingtimestamp"]
            )
        self.start = int(options.get("startversion", 0))
        if options.get("initialsnapshot", "false").lower() in ("true", "1"):
            if "startversion" in options or "startingtimestamp" in options:
                raise ValueError(
                    "initialsnapshot is mutually exclusive with "
                    "startversion/startingtimestamp: it reads the full "
                    "state at the end bound, not a feed"
                )
            self.start = -1
        elif "startingtimestamp" in options:
            if "startversion" in options:
                raise ValueError(
                    "startingtimestamp is mutually exclusive with "
                    "startversion: each pins the span's base its own way"
                )
            self.start = _version_before_timestamp(
                self.root, options["startingtimestamp"]
            )
        if self.end < self.start:
            raise ValueError(
                f"lake_cdf batch read: empty/backwards span — start "
                f"bound v{self.start} is beyond end bound v{self.end}"
            )
        self.keys, self.payload, self.dtypes, self.out_schema = _pin_plan(
            self.root, schema
        )
        if self.start >= 0:
            # fail on a vacuumed BASE at plan time (the end snapshot is
            # validated inside _pin_plan/partitions)
            _load_snapshot(self.root, self.start)

    def partitions(self):
        tasks = _span_tasks(
            self.root, self.keys, self.payload, self.dtypes,
            None if self.start < 0 else _load_snapshot(self.root, self.start),
            _load_snapshot(self.root, self.end),
        )
        if not tasks:
            # a change-free span (or an empty table's bootstrap) is a
            # legal EMPTY result — but the Spark 4 python-datasource
            # runner substitutes [None] for an empty partitions() list
            # and still calls read(None). Plan one no-op task (empty
            # file lists diff to zero rows) so the query returns an
            # empty DataFrame instead of crashing.
            tasks = [
                _BucketTask(
                    root=self.root, keys=self.keys, payload=self.payload,
                    dtypes=self.dtypes, old_files=[], new_files=[],
                )
            ]
        return tasks

    def read(self, partition: _BucketTask):
        yield from _read_span_partition(partition, self.out_schema)


def _output_schema(snap: Snapshot) -> T.StructType:
    """The stream's output schema from a snapshot — field order must
    mirror _diff_states_pd's frame exactly: _change, keys in KEY_COLS
    order, payload in SCHEMA order, _lsn."""
    by_name = {f.name: f for f in snap.schema.fields}
    fields = [T.StructField("_change", T.StringType(), False)]
    fields += [by_name[k] for k in snap.key_cols]
    fields += [
        f
        for f in snap.schema.fields
        if f.name not in set(snap.key_cols)
        and f.name not in ("_op", "_lsn", "_del_lsn", "_pu")
    ]
    fields.append(T.StructField("_lsn", T.LongType(), True))
    return T.StructType(fields)


class LakeChangeFeedDataSource(DataSource):
    """``spark.readStream.format("lake_cdf")`` over a LakeTable root —
    and ``spark.read.format("lake_cdf")`` for a bounded change span
    (batch), see :class:`_CdfBatchReader`."""

    @classmethod
    def name(cls) -> str:
        return "lake_cdf"

    def schema(self):
        root = self.options.get("path")
        if not root:
            raise ValueError("lake_cdf requires .option('path', <table_root>)")
        return _pin_plan(root, None)[3]

    def streamReader(self, schema):
        return _CdfStreamReader(self.options, schema)

    def reader(self, schema):
        return _CdfBatchReader(self.options, schema)
