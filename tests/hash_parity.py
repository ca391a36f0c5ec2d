"""The one parity check for the numpy XXH64: ``spark_xxhash64_vec``
against Spark's own ``F.xxhash64`` on the same arrow columns."""

import numpy as np
import pyarrow as pa

from picsure_dictionary_etl_spark.streaming.xxhash_vec import spark_xxhash64_vec


def assert_xxhash64_parity(spark, arrays, dtypes):
    """``spark_xxhash64_vec`` == ``F.xxhash64`` on the same columns,
    row by row; returns the (signed int64) hashes. Map columns enter
    Spark's hash as the engine's canonical key-sorted entry arrays
    (``_canon_col`` — raw MapType is unhashable), the form the
    tie-break hashes."""
    from pyspark.sql import functions as F

    from picsure_dictionary_etl_spark.lake.merge import _canon_col

    got = spark_xxhash64_vec(arrays, dtypes)
    names = [f"c{i}" for i in range(len(arrays))]
    # Spark gets unsliced copies (its arrow import rejects sliced
    # nested arrays); the vector path above hashed the inputs as given
    idx = pa.array(np.arange(len(got)))
    tbl = pa.table(dict(zip(names, [a.take(idx) for a in arrays]), _i=idx))
    df = spark.createDataFrame(tbl)
    by_name = {f.name: f.dataType for f in df.schema.fields}
    canon = [_canon_col(F.col(c), by_name[c]) for c in names]
    want = (
        df.orderBy("_i").select(F.xxhash64(*canon).alias("h")).toArrow()
        .column("h").to_numpy(zero_copy_only=False).astype(np.int64)
    )
    bad = np.flatnonzero(got != want)
    assert len(bad) == 0, (
        f"rows {bad[:5]}: "
        + repr([[a[int(i)].as_py() for a in arrays] for i in bad[:3]])
    )
    return got
