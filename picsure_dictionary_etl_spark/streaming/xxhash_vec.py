"""Spark's ``F.xxhash64`` over whole pyarrow columns (numpy XXH64) —
the one Python implementation of the hash. The lake sink places rows
with it (``pmod(xxhash64(bucket_by), n)``) and the ``lake_cdf`` reader
breaks equal-LSN ties with it (``xxhash64(payload..., _op)``); both
must match the engine bit for bit.

* one uint64 numpy array carries the running seed-chained hash for
  EVERY row at once; each column updates it in a handful of
  whole-column ufunc passes (C speed, no Python per row);
* fixed-width types (long/int/boolean/timestamp/date/double/float/
  decimal(p<=18)) are single-shot: grab the arrow values buffer, apply
  the 5-instruction XXH64 long/int round;
* var-length types (string/binary, decimal(p>18) as Java's minimal
  ``BigInteger.toByteArray`` bytes) group rows by BYTE LENGTH and hash
  each group as an (n_rows, L) uint8 matrix — the XXH64 stripe/word/
  tail loops run over L while every numpy op spans all rows of the
  group;
* arrays walk element positions ``j = 0..max_len-1`` over the list
  offsets: element ``j`` of every row that has one chains into its own
  row's running hash, in one vector pass per position;
* structs chain field by field (declared order) on the rows where the
  struct is valid;
* maps hash as their canonical key-sorted ``list<struct<key,value>>``
  (:func:`_canon_map_arrow`) — the engine's ``_canon_col`` form, since
  ``F.xxhash64`` rejects raw MapType;
* nulls — whole values, array elements, struct fields — leave the
  running hash unchanged (Spark's rule), applied as a boolean mask.

This module also owns the Spark simpleString type grammar
(:func:`_parse_type`) and the supported surface (:func:`_type_supported`);
types outside it raise :class:`UnsupportedVectorType` — callers check
at plan time. Bit-equality with ``F.xxhash64`` is pinned by
tests/test_xxhash_vec.py and tests/test_cdf_stream_source.py across
every supported type, including the edges that broke naive ports: NaN
canonicalization, -0.0/-0.0f, empty strings, >=32-byte strings
(multi-stripe), 32-bit truncation of int-family values, BigInteger
byte lengths, null-skip chaining and sliced inputs.

All arithmetic is uint64 numpy ARRAY ops (C wraparound semantics); no
scalar numpy temporaries, so no overflow warnings and no Python-int
boxing.
"""

from __future__ import annotations

import re
from functools import lru_cache

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)
_NAN64 = np.uint64(0x7FF8000000000000)  # Double.doubleToLongBits(NaN)
_NAN32 = np.uint64(0x7FC00000)  # Float.floatToIntBits(NaN)
# precomputed wrapped sums (scalar numpy adds would warn on overflow)
_P1P2 = np.uint64((0x9E3779B185EBCA87 + 0xC2B2AE3D27D4EB4F) & 0xFFFFFFFFFFFFFFFF)
_P5_8 = np.uint64(0x27D4EB2F165667C5 + 8)
_P5_4 = np.uint64(0x27D4EB2F165667C5 + 4)


class UnsupportedVectorType(TypeError):
    """The column type is outside the hash's supported surface."""


# The scalar types the hash (and the lake_cdf executor path built on
# it) supports, at the top level and inside array/struct/map nesting.
SUPPORTED_TYPES = frozenset(
    {
        "string",
        "long",
        "bigint",
        "integer",
        "int",
        "short",
        "smallint",
        "byte",
        "tinyint",
        "boolean",
        "timestamp",
        "timestamp_ntz",
        "double",
        "float",
        "date",
        "binary",
    }
)

_DECIMAL_RE = re.compile(r"^decimal\((\d+),(\d+)\)$")


def _split_top(s: str) -> list[str]:
    """Split a simpleString field list on TOP-LEVEL commas only
    (nested ``array<struct<a:int,b:int>>`` commas don't count; neither
    does the comma inside ``decimal(16,2)`` — parens nest too)."""
    parts, depth, cur = [], 0, []
    for ch in s:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur))
    return parts


@lru_cache(maxsize=None)
def _parse_type(t: str):
    """Spark simpleString -> type descriptor tree:
    ('scalar', name) | ('decimal', p, s) | ('array', elem_td) |
    ('map', key_td, value_td) |
    ('struct', ((field_name, field_td), ...)) | ('other', raw)."""
    t = t.strip()
    m = _DECIMAL_RE.match(t)
    if m:
        return ("decimal", int(m.group(1)), int(m.group(2)))
    if t.startswith("array<") and t.endswith(">"):
        return ("array", _parse_type(t[6:-1]))
    if t.startswith("map<") and t.endswith(">"):
        kt, vt = _split_top(t[4:-1])
        return ("map", _parse_type(kt), _parse_type(vt))
    if t.startswith("struct<") and t.endswith(">"):
        fields = []
        for part in _split_top(t[7:-1]):
            name, sub = part.split(":", 1)
            fields.append((name, _parse_type(sub)))
        return ("struct", tuple(fields))
    if "<" in t:  # array-of-array etc. handled by recursion above
        return ("other", t)
    return ("scalar", t)


def _td_supported(td) -> bool:
    kind = td[0]
    if kind == "decimal":
        return True  # any precision: p<=18 unscaled-long, p>18 byte-array
    if kind == "scalar":
        return td[1] in SUPPORTED_TYPES
    if kind == "array":
        return _td_supported(td[1])
    if kind == "map":
        # keys must be ORDERABLE (the canonical form key-sorts the
        # entries; Spark itself rejects map-typed keys and guarantees
        # non-null deduped ones); values recurse over the full surface.
        return _orderable(td[1]) and _td_supported(td[1]) and _td_supported(td[2])
    if kind == "struct":
        return len(td[1]) > 0 and all(_td_supported(ft) for _, ft in td[1])
    return False  # udt, ...


def _type_supported(t: str) -> bool:
    """Whitelist predicate over Spark simpleString type names: all
    :data:`SUPPORTED_TYPES` scalars, ``decimal(p,s)`` at ANY precision,
    plus ``array<...>`` / ``struct<...>`` / ``map<...>`` at ANY nesting
    depth over that scalar set. What's left out: map KEYS that contain
    a map (Spark cannot order them either), variants and UDTs."""
    return _td_supported(_parse_type(t))


def _orderable(td) -> bool:
    """Spark sorts, groups and joins on every type but maps, at any depth."""
    if td[0] == "array":
        return _orderable(td[1])
    if td[0] == "struct":
        return all(_orderable(ft) for _, ft in td[1])
    return td[0] != "map"


def _dense(code: np.ndarray) -> np.ndarray:
    return np.unique(code, return_inverse=True)[1].reshape(-1).astype(np.int64)


def _order_rank(arr, td) -> np.ndarray:
    """Dense int64 rank of every row in Spark's ordering: null ranks 0,
    values 1.. with equal values equal. Scalars rank through
    ``pc.rank`` (-0.0 first mapped to 0.0, NaN above every number);
    structs compare field by field, arrays element by element with a
    null element lowest and a shorter prefix first — the orderings
    ``array_sort`` applies to nested elements. Nested key columns
    enter every sort, group and join as this code."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    out = np.zeros(n, dtype=np.int64)
    if n == 0:
        # also sidesteps pyarrow 16's bad child offsets on empty structs
        return out
    valid = arr.is_valid().to_numpy(zero_copy_only=False)
    kind = td[0]
    if kind == "struct":
        code = out
        for i, (_, ftd) in enumerate(td[1]):
            r = _order_rank(arr.field(i), ftd)  # .field honours slices
            code = _dense(code * (int(r.max()) + 1) + r)
    elif kind == "array":
        offsets = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
        starts = offsets[:-1]
        lens = np.where(valid, offsets[1:] - starts, 0)
        elem = _order_rank(arr.values, td[1]) + 1  # 0 = past the end
        code = out
        for j in range(int(lens.max())):
            has = lens > j
            col = np.zeros(n, dtype=np.int64)
            col[has] = elem[starts[has] + j]
            code = _dense(code * (int(elem.max()) + 1) + col)
    elif kind in ("scalar", "decimal"):
        if pa.types.is_floating(arr.type):
            arr = pc.if_else(pc.equal(arr, 0), pa.scalar(0, arr.type), arr)
        code = pc.rank(
            arr, sort_keys="ascending", null_placement="at_end", tiebreaker="dense"
        ).to_numpy(zero_copy_only=False).astype(np.int64)
    else:
        raise UnsupportedVectorType(f"no ordering for type {td}")
    out[valid] = _dense(code[valid]) + 1
    return out


def _canon_map_arrow(a, td):
    """Arrow MapArray (Spark type descriptor ``td``) -> plain
    ``list<struct<key,value>>`` with entries KEY-SORTED per row — the
    arrow form of the engine's ``_canon_col`` canonical form
    (``array_sort(map_entries(m))``). The map hash chains entries in
    this order, so it must be Spark's key order: arrow's ascending sort
    matches it on every scalar key type (byte order for strings and
    binary, false < true, NaN above every number; -0.0 and 0.0 never
    coexist as keys because Spark normalizes them at map creation);
    nested (array/struct) keys sort by their :func:`_order_rank`. One
    C++ ``pc.sort_indices`` over (parent row, key) reorders the
    flattened entries — arrow's native multi-key sort stays vectorized
    for STRING/binary/decimal keys where a numpy argsort would fall
    back to O(n log n) Python-object comparisons
    (BENCH/map_diff_bench.py). Null rows keep their validity."""
    if pa.types.is_map(a.type):
        # list_flatten/list_parent_indices have no map kernels: view the
        # identical physical layout as list<struct<key,value>> first
        a = a.cast(
            pa.list_(
                pa.struct(
                    [
                        pa.field("key", a.type.key_type, nullable=False),
                        pa.field("value", a.type.item_type),
                    ]
                )
            )
        )
    flat = pc.list_flatten(a)  # struct<key,value>; slice-/null-row-safe
    n = len(a)
    parent = pc.list_parent_indices(a).to_numpy(zero_copy_only=False)
    lens = (
        np.bincount(parent, minlength=n).astype(np.int64)
        if len(parent)
        else np.zeros(n, dtype=np.int64)
    )
    if len(parent):
        key = flat.field("key")
        if td[1][0] in ("array", "struct"):
            key = pa.array(_order_rank(key, td[1]))
        order = pc.sort_indices(
            pa.table({"p": pa.array(parent), "k": key}),
            sort_keys=[("p", "ascending"), ("k", "ascending")],
        )
        flat = pc.take(flat, order)
    offsets = np.concatenate(([0], np.cumsum(lens))).astype(np.int32)
    mask = pc.is_null(a).to_numpy(zero_copy_only=False)
    return pa.ListArray.from_arrays(
        pa.array(offsets, type=pa.int32()),
        flat,
        mask=pa.array(mask) if mask.any() else None,
    )


def _map_entries_td(td):
    """Type descriptor of :func:`_canon_map_arrow`'s output."""
    return ("array", ("struct", (("key", td[1]), ("value", td[2]))))


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    r_ = np.uint64(r)
    return (x << r_) | (x >> np.uint64(64 - r))


def _fmix(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> np.uint64(33))
    h = h * _P2
    h = h ^ (h >> np.uint64(29))
    h = h * _P3
    return h ^ (h >> np.uint64(32))


def _hash_long_vec(v: np.ndarray, seed: np.ndarray) -> np.ndarray:
    """XXH64 of one 8-byte little-endian long per row (uint64 in)."""
    h = seed + _P5_8
    h = h ^ (_rotl(v * _P2, 31) * _P1)
    h = _rotl(h, 27) * _P1 + _P4
    return _fmix(h)


def _hash_int_vec(v: np.ndarray, seed: np.ndarray) -> np.ndarray:
    """XXH64 of one 4-byte value per row (``v`` uint64 holding the
    zero-extended 32-bit pattern)."""
    h = seed + _P5_4
    h = h ^ (v * _P1)
    h = _rotl(h, 23) * _P2 + _P3
    return _fmix(h)


def _word64(m: np.ndarray, i: int) -> np.ndarray:
    """Little-endian uint64 read at byte offset ``i`` of every row of a
    contiguous (n, L) uint8 matrix."""
    return np.ascontiguousarray(m[:, i : i + 8]).view(np.uint64).ravel()


def _word32(m: np.ndarray, i: int) -> np.ndarray:
    return (
        np.ascontiguousarray(m[:, i : i + 4])
        .view(np.uint32)
        .ravel()
        .astype(np.uint64)
    )


def _hash_bytes_fixed(m: np.ndarray, seed: np.ndarray) -> np.ndarray:
    """XXH64 over an (n_rows, L) uint8 matrix — every row has the SAME
    length L, so the stripe/word/tail structure is data-independent and
    each step is one whole-column numpy op."""
    n_rows, L = m.shape
    i = 0
    if L >= 32:
        acc0 = seed + _P1P2
        acc1 = seed + _P2
        acc2 = seed.astype(np.uint64, copy=True)
        acc3 = seed - _P1
        while i <= L - 32:
            acc0 = _rotl(acc0 + _word64(m, i) * _P2, 31) * _P1
            acc1 = _rotl(acc1 + _word64(m, i + 8) * _P2, 31) * _P1
            acc2 = _rotl(acc2 + _word64(m, i + 16) * _P2, 31) * _P1
            acc3 = _rotl(acc3 + _word64(m, i + 24) * _P2, 31) * _P1
            i += 32
        h = _rotl(acc0, 1) + _rotl(acc1, 7) + _rotl(acc2, 12) + _rotl(acc3, 18)
        for acc in (acc0, acc1, acc2, acc3):
            h = h ^ (_rotl(acc * _P2, 31) * _P1)
            h = h * _P1 + _P4
    else:
        h = seed + _P5
    h = h + np.uint64(L)
    while i <= L - 8:
        h = h ^ (_rotl(_word64(m, i) * _P2, 31) * _P1)
        h = _rotl(h, 27) * _P1 + _P4
        i += 8
    if i <= L - 4:
        h = h ^ (_word32(m, i) * _P1)
        h = _rotl(h, 23) * _P2 + _P3
        i += 4
    while i < L:
        h = h ^ (m[:, i].astype(np.uint64) * _P5)
        h = _rotl(h, 11) * _P1
        i += 1
    return _fmix(h)


def _hash_varlen(arr: pa.Array, h: np.ndarray, valid: np.ndarray) -> np.ndarray:
    """string/binary column: group rows by byte length, hash each group
    as a fixed-length matrix. ``h`` is updated for valid rows only."""
    offt = np.int64 if pa.types.is_large_string(arr.type) or pa.types.is_large_binary(arr.type) else np.int32
    bufs = arr.buffers()
    # offsets buffer indexes [arr.offset, arr.offset + len] regardless
    # of any slice offset; the data buffer is shared and absolute
    offsets = np.frombuffer(bufs[1], dtype=offt)[arr.offset : arr.offset + len(arr) + 1].astype(np.int64)
    data = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None else np.empty(0, np.uint8)
    starts = offsets[:-1]
    lengths = offsets[1:] - starts
    out = h.copy()
    vrows = np.flatnonzero(valid)
    if len(vrows) == 0:
        return out
    vlen = lengths[vrows]
    # distinct lengths via bincount (O(n), no sort) when lengths are
    # sane; many-distinct-length columns group via one stable argsort
    # instead of a full-column mask scan per length
    if int(vlen.max()) < (1 << 20):
        uls = np.flatnonzero(np.bincount(vlen))
    else:
        uls = np.unique(vlen)
    if len(uls) > 32:
        order = np.argsort(vlen, kind="stable")
        srows, svlen = vrows[order], vlen[order]
        bounds = np.flatnonzero(np.r_[True, svlen[1:] != svlen[:-1], True])
        groups = [
            (int(svlen[bounds[i]]), srows[bounds[i] : bounds[i + 1]])
            for i in range(len(bounds) - 1)
        ]
    else:
        groups = [(int(L), vrows[vlen == L]) for L in uls]
    for L, rows in groups:
        # column-wise 1-D gathers: numpy's 2-D broadcast fancy index
        # takes a ~100x slower path on the same bytes (measured)
        m = np.empty((len(rows), L), dtype=np.uint8)
        sr = starts[rows]
        for j in range(L):
            m[:, j] = data[sr + j]
        out[rows] = _hash_bytes_fixed(m, h[rows])
    return out


def _fixed_values(arr: pa.Array, np_dtype) -> np.ndarray:
    """The raw values buffer of a fixed-width arrow array as numpy,
    honoring the array's slice offset. Null slots carry arbitrary bytes
    — callers mask them out."""
    buf = arr.buffers()[1]
    return np.frombuffer(buf, dtype=np_dtype)[arr.offset : arr.offset + len(arr)]


def _decimal_low64(arr: pa.Array) -> np.ndarray:
    """Low 64 bits of each 128-bit little-endian decimal value — for
    p<=18 this IS the signed unscaled long Spark hashes."""
    buf = arr.buffers()[1]
    lows = np.frombuffer(buf, dtype=np.int64)[arr.offset * 2 : (arr.offset + len(arr)) * 2 : 2]
    return lows


def _bitlen_u64(a: np.ndarray) -> np.ndarray:
    """Vectorized ``int.bit_length()`` for a uint64 array."""
    n = np.zeros(a.shape, dtype=np.uint64)
    v = a.copy()
    for s in (32, 16, 8, 4, 2, 1):
        s_ = np.uint64(s)
        big = v >= (np.uint64(1) << s_)
        n[big] += s_
        v = np.where(big, v >> s_, v)
    return n + (v > 0)


def _hash_wide_decimal(arr: pa.Array, h: np.ndarray, valid: np.ndarray) -> np.ndarray:
    """decimal(p>18): Spark hashes ``BigInteger.toByteArray()`` of the
    unscaled value — big-endian MINIMAL-length two's complement with
    Java's length rule ``bitLength()/8 + 1`` (bitLength of a negative v
    counts ``~v``'s magnitude bits, so -2^(8k-1) stays k bytes). The
    arrow decimal128 buffer already holds the 128-bit two's complement;
    per row we compute the Java byte length from the complemented
    leading-zero count and hash the trailing slice of the byte-reversed
    16-byte block, grouped by length (<=16 vector passes)."""
    n_rows = len(arr)
    buf = arr.buffers()[1]
    raw = np.frombuffer(buf, dtype=np.uint8).reshape(-1, 16)[
        arr.offset : arr.offset + n_rows
    ]
    be = raw[:, ::-1]  # big-endian byte order per row
    words = np.frombuffer(buf, dtype=np.uint64)
    lo = words[arr.offset * 2 : (arr.offset + n_rows) * 2 : 2]
    hi = words[arr.offset * 2 + 1 : (arr.offset + n_rows) * 2 : 2]
    neg = hi.view(np.int64) < 0
    xlo = np.where(neg, ~lo, lo)
    xhi = np.where(neg, ~hi, hi)
    bitlen = np.where(xhi > 0, _bitlen_u64(xhi) + np.uint64(64), _bitlen_u64(xlo))
    nbytes = (bitlen // np.uint64(8) + np.uint64(1)).astype(np.int64)
    out = h.copy()
    vrows = np.flatnonzero(valid)
    if len(vrows) == 0:
        return out
    for L in np.unique(nbytes[vrows]):
        rows = vrows[nbytes[vrows] == L]
        m = np.ascontiguousarray(be[rows][:, 16 - L :])
        out[rows] = _hash_bytes_fixed(m, h[rows])
    return out


_INT_FAMILY = {"integer", "int", "short", "smallint", "byte", "tinyint"}


def _hash_list(arr: pa.Array, elem_td, h: np.ndarray, valid: np.ndarray) -> np.ndarray:
    """array column: one pass per element position ``j``. The rows
    with more than ``j`` elements (a prefix of the rows sorted by
    length) chain their ``j``-th element into their running hash; the
    element pass's own null mask skips null elements.

    Cost is one pass per position up to the LONGEST array, ~60 us a
    pass however few rows are left, and nesting multiplies the passes
    (outer x inner length). Skewed columns pay for it: on a 4-core
    Xeon, 1k ``array<bigint>`` rows where one holds 100k elements take
    ~6.2 s here against ~0.5 s for a per-row Python XXH64 loop, and
    1k ``array<array<bigint>>`` rows where one is 300 x 300 take
    ~6.8 s against ~0.3 s. Short arrays are ~10x faster than that loop
    (1k rows of up to 20 x 20: 0.05 s against 0.43 s)."""
    offsets = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    starts = offsets[:-1]
    lens = np.where(valid, offsets[1:] - starts, 0)
    order = np.argsort(-lens, kind="stable")
    counts = np.bincount(lens)[::-1].cumsum()[::-1]  # counts[j] = #(len >= j)
    values = arr.values
    out = h.copy()
    for j in range(1, len(counts)):
        rows = order[: counts[j]]
        elems = values.take(pa.array(starts[rows] + (j - 1)))
        out[rows] = _hash_column(elems, elem_td, out[rows])
    return out


def _hash_column(arr: pa.Array, td, h: np.ndarray) -> np.ndarray:
    """Chain one column into the running per-row hash ``h`` (uint64
    array), exactly as Spark's seed-chained XxHash64 does. ``td`` is
    the :func:`_parse_type` descriptor of the column's Spark type."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    if arr.null_count == n:
        return h  # all-null column leaves every row's hash unchanged
    kind = td[0]
    if kind == "map":
        return _hash_column(_canon_map_arrow(arr, td), _map_entries_td(td), h)
    valid = (
        np.ones(n, dtype=bool)
        if arr.null_count == 0
        else arr.is_valid().to_numpy(zero_copy_only=False)
    )
    t = td[1] if kind == "scalar" else None
    if kind == "array":
        return _hash_list(arr, td[1], h, valid)
    if kind == "struct":
        new = h
        for i, (_, ftd) in enumerate(td[1]):
            new = _hash_column(arr.field(i), ftd, new)
    elif kind == "decimal" and td[1] <= 18:
        new = _hash_long_vec(_decimal_low64(arr).view(np.uint64), h)
    elif kind == "decimal":
        return _hash_wide_decimal(arr, h, valid)
    elif t in ("string", "binary"):
        if pa.types.is_fixed_size_binary(arr.type):
            # normalize to var-binary so one matrix path serves both
            arr = arr.cast(pa.binary())
        return _hash_varlen(arr, h, valid)
    elif t in ("long", "bigint"):
        v = _fixed_values(arr, np.int64).view(np.uint64)
        new = _hash_long_vec(v, h)
    elif t in _INT_FAMILY:
        # the 32-bit two's-complement pattern zero-extended (NOT
        # sign-extended) to 64 bits
        if pa.types.is_int8(arr.type) or pa.types.is_int16(arr.type):
            v32 = _fixed_values(
                arr, np.int8 if pa.types.is_int8(arr.type) else np.int16
            ).astype(np.int32)
        else:
            v32 = _fixed_values(arr, np.int32)
        new = _hash_int_vec(v32.view(np.uint32).astype(np.uint64), h)
    elif t == "boolean":
        # bit-packed values buffer -> bytes via arrow cast (null-safe:
        # garbage under nulls is masked below)
        v = pc.fill_null(arr, False).cast(pa.uint8()).to_numpy(zero_copy_only=False)
        new = _hash_int_vec(v.astype(np.uint64), h)
    elif t in ("timestamp", "timestamp_ntz"):
        unit = arr.type.unit
        v = _fixed_values(arr, np.int64)
        if unit == "ns":
            v = v // 1000
        elif unit == "ms":
            v = v * 1000
        elif unit == "s":
            v = v * 1_000_000
        new = _hash_long_vec(v.view(np.uint64), h)
    elif t == "date":
        v32 = _fixed_values(arr, np.int32)
        new = _hash_int_vec(v32.view(np.uint32).astype(np.uint64), h)
    elif t == "double":
        f = _fixed_values(arr, np.float64)
        bits = f.view(np.uint64).copy()
        with np.errstate(invalid="ignore"):
            bits[f == 0.0] = np.uint64(0)  # -0.0 normalizes to +0.0
        bits[np.isnan(f)] = _NAN64  # every NaN collapses (Java rule)
        new = _hash_long_vec(bits, h)
    else:
        # spark_xxhash64_vec's _type_supported check admits nothing else
        assert t == "float", td
        f = _fixed_values(arr, np.float32)
        bits = f.view(np.uint32).copy()
        with np.errstate(invalid="ignore"):
            bits[f == np.float32(0.0)] = np.uint32(0)
        bits[np.isnan(f)] = np.uint32(_NAN32)
        new = _hash_int_vec(bits.astype(np.uint64), h)
    if arr.null_count == 0:
        return new
    return np.where(valid, new, h)


def spark_xxhash64_vec(
    arrays: list, dtypes: list[str], seed: int = 42
) -> np.ndarray:
    """``F.xxhash64(c1, c2, ...)`` for whole pyarrow columns at once:
    returns a SIGNED int64 numpy array, bit-equal to Spark's result per
    row. ``dtypes`` are Spark simpleString type names ('string',
    'bigint', 'decimal(30,4)', 'array<bigint>',
    'struct<a:string,b:int>', 'map<string,bigint>', ...); map columns
    hash as the engine's canonical key-sorted entry arrays.

    Raises :class:`UnsupportedVectorType` (a ``TypeError``) before any
    work when a column type is outside :func:`_type_supported`."""
    if not arrays:
        raise ValueError("spark_xxhash64_vec needs at least one column")
    bad = [t for t in dtypes if not _type_supported(t)]
    if bad:
        raise UnsupportedVectorType(f"no xxhash64 path for types {bad}")
    n = len(arrays[0])
    h = np.full(n, np.uint64(seed), dtype=np.uint64)
    for arr, t in zip(arrays, dtypes):
        h = _hash_column(arr, _parse_type(t), h)
    return h.view(np.int64)


def pmod_buckets(hashes: np.ndarray, n_buckets: int) -> np.ndarray:
    """``pmod(hash, n)`` — numpy's mod already returns a result with
    the divisor's sign, matching Spark's pmod for positive n."""
    return np.mod(hashes, np.int64(n_buckets))
