"""An independent change-feed oracle: the Spark-plane diff of two full
snapshot reads, for the parity tests of the ``lake_cdf`` executor kernel
(which ``table_changes``, the consumer and both ``lake_cdf`` readers
share)."""

from pyspark.sql import functions as F

from picsure_dictionary_etl_spark.lake.merge import (
    _payload_cols,
    resolve_live,
    state_diff,
)


def spark_plane_changes(t, sv, ev):
    """``state_diff`` of the live states at ``sv`` and ``ev``, each
    ``resolve_live`` over a full ``read_version`` read (no bucket
    pruning). Columns the ``sv`` snapshot lacks read null; ``sv < 0``
    is the empty table."""
    snap = t.snapshot(ev)
    keys, payload = snap.key_cols, _payload_cols(snap)
    types = {f.name: f.dataType for f in snap.schema.fields}

    def live(v):
        df = t.read_version(v) if v >= 0 else t.read_version(ev).limit(0)
        for c in payload:
            if c not in df.columns:
                df = df.withColumn(c, F.lit(None).cast(types[c]))
        return resolve_live(df, keys, payload, schema=snap.schema)

    return state_diff(live(sv), live(ev), keys, payload)
