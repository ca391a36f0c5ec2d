"""Vectorized normalization + validation of change events.

Re-expresses the reference's per-record normalization stage
(``loading/ColumnMetaMapper.java:15-88`` — null sentinels, trims, case
folds, type casts) and its per-row error routing
(``loading/ColumnMetaSource.java:81-98`` + ``LoadingErrorRegistry``) as:

* built-in Column expressions for everything expressible (JVM-side,
  whole-stage codegen), and
* ONE Arrow-batched pandas UDF for text normalization — the mandated
  "vectorized pandas/Arrow UDFs, no per-row Python" slow path.

The text normalization is intentionally SQL-expressible (control-char
strip → whitespace collapse → trim) so the DuckDB oracle can reproduce
it bit-for-bit; ``NORMALIZE_TEXT_SQL`` is the oracle twin.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from picsure_dictionary_etl_spark.lake.expr_memo import memo_exprs
from picsure_dictionary_etl_spark.lake.merge import LSN_COL, OP_COL

# DuckDB twin of normalize_text_udf (keep in lockstep with the UDF!).
NORMALIZE_TEXT_SQL = (
    "nullif(trim(regexp_replace({col}, '[\\x00-\\x20]+', ' ', 'g')), '')"
)


@pandas_udf(T.StringType())
def normalize_text_udf(s: pd.Series) -> pd.Series:
    """Arrow-batched text cleanup: runs of control chars/whitespace
    collapse to one space, trim, empty -> null.

    Implementation detail: the batch is handed straight to pyarrow
    compute (RE2 + C++ kernels) instead of pandas ``.str`` (which calls
    Python ``re`` per element) — ~2x faster, zero per-row Python. This
    is the engine's only Python stage, mandated vectorized by the north
    star; everything else is JVM-side."""
    import pyarrow as pa
    import pyarrow.compute as pc

    # explicit string type: an all-null batch otherwise infers null type
    # and the regex kernel has no null-type overload
    arr = pa.Array.from_pandas(s, type=pa.string())
    a = pc.replace_substring_regex(arr, r"[\x00-\x20]+", " ")
    a = pc.utf8_trim(a, " ")
    a = pc.if_else(pc.equal(a, ""), pa.nulls(len(a), pa.string()), a)
    return a.to_pandas()


def null_sentinels(col: Column) -> Column:
    """'' / 'null' (case-insensitive) -> NULL — the reference's sentinel
    convention (``ColumnMetaMapper.java:22-30``)."""
    return F.when(F.lower(F.trim(col)).isin("", "null"), F.lit(None)).otherwise(col)


def _event_preds() -> tuple[Column, Column]:
    """(valid, dead): the structural validity of a change event and its
    complement, where a NULL validity counts as dead. Built once per
    session (:mod:`..lake.expr_memo`)."""

    def build():
        valid = (
            F.col("conv_id").isNotNull()
            & (F.lower(F.trim(F.col("conv_id"))) != "null")
            & (F.trim(F.col("conv_id")) != "")
            & F.col("turn_idx").isNotNull()
            & (F.col("turn_idx") >= 0)
            & F.col(LSN_COL).isNotNull()
            & F.col(OP_COL).isin("I", "U", "D")
        )
        return valid, ~F.coalesce(valid, F.lit(False))

    return memo_exprs(("event_preds",), build)


def valid_event_pred() -> Column:
    """Structural validity of a change event. Kept as a single reusable
    predicate so the engine, the tests, and the DuckDB oracle agree."""
    return _event_preds()[0]


# Oracle twin of valid_event_pred (DuckDB SQL).
VALID_EVENT_SQL = (
    "conv_id IS NOT NULL AND lower(trim(conv_id)) <> 'null' AND trim(conv_id) <> '' "
    "AND turn_idx IS NOT NULL AND turn_idx >= 0 AND {lsn} IS NOT NULL "
    "AND {op} IN ('I','U','D')"
)


_NORMALIZED = {
    "role": lambda: F.lower(F.trim(null_sentinels(F.col("role")))),
    "tool": lambda: null_sentinels(F.col("tool")),
    "text": lambda: normalize_text_udf(F.col("text")),
}


def normalize_events(df: DataFrame) -> DataFrame:
    """Vectorized normalize: sentinel nulls on role/tool, text cleanup
    via the Arrow UDF, as one ``withColumns`` projection built once per
    column set (:mod:`..lake.expr_memo`). Column set is preserved
    (including any additive schema-evolution columns, which pass
    through untouched)."""
    present = tuple(c for c in _NORMALIZED if c in df.columns)
    if not present:
        return df
    return df.withColumns(
        memo_exprs(
            ("normalize", present),
            lambda: {c: _NORMALIZED[c]() for c in present},
        )
    )


def split_dead_letter(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(valid, dead_letter) — malformed rows leave the main flow but are
    never dropped silently (reference: error registry + error CSV,
    ``loading/ColumnMetaErrorWriter.java:21-38``).

    ``CdcRunner`` does not run this split as its own pass: it hands
    ``valid_event_pred()`` to ``merge_into(dead_letters=...)``, whose
    one write job routes the dead rows, unreduced and unnormalized, to
    the reserved bucket ``-1`` and moves those files to the batch's
    dead-letter directory. Those files hold the table's columns, with
    any the event lacks null-filled; this function keeps the event's
    own columns."""
    valid, dead = _event_preds()
    return df.filter(valid), df.filter(dead)
