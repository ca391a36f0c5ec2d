"""picsure_dictionary_etl_spark — a from-scratch PySpark-native CDC /
incremental-ingest engine.

Semantics derived from hms-dbmi/picsure-dictionary-etl (the reference's
idempotent natural-key upsert ETL — see SURVEY.md), re-expressed as a
micro-batched, exactly-once MERGE pipeline over a snapshot-committed
Parquet lake table of multi-turn conversation transcripts keyed
``(conv_id, turn_idx)``, with last-writer-wins dedup by max LSN,
additive schema evolution, hot-key salting, and per-commit lineage.

Architecture is Spark-first: DataFrame/SQL plans optimized by Catalyst,
vectorized pandas/Arrow UDFs only where built-ins can't express the
semantics, and no per-row Python anywhere on the hot path.
"""

__version__ = "0.1.0"

# First: every worker that unpickles a package function installs the patch.
from picsure_dictionary_etl_spark import _zipcache  # noqa: F401
from picsure_dictionary_etl_spark.session import get_spark  # noqa: F401
from picsure_dictionary_etl_spark.lake.table import (  # noqa: F401,E402
    ConcurrentCommitError,
    LakeTable,
    Snapshot,
)
from picsure_dictionary_etl_spark.lake.merge import (  # noqa: F401,E402
    MergeResult,
    merge_into,
    resolve_live,
    state_diff,
    table_changes,
)
from picsure_dictionary_etl_spark.lake.metadata_io import (  # noqa: F401,E402
    InMemoryMetadataIO,
    MetadataIO,
    PosixMetadataIO,
)
