"""Incremental dictionary refresh into a LakeTable (SURVEY.md §3.1 as a
*repeatable* lifecycle): re-POSTing the same columnMeta CSV is a cheap
no-op, a changed file touches only the changed concepts, vanished
concepts delete — the reference's idempotent ``POST /load/initialize``
(``loading/DictionaryLoaderService.java:33-64``; idempotency tested by
``FacetLoaderServiceTest.java:71-147`` load-twice) composed from the
engine's own operators:

1. :func:`pipeline.dictionary.load_column_meta_dictionary` -> concept
   nodes (one declarative plan);
2. D9 no-op suppression — canonical row hash vs the table's current
   live state, changed/new rows only (an anti-join on (key, hash));
3. H5 diff-driven deletes — live keys absent from the load become
   tombstones;
4. D1 MERGE with a per-load LSN generation (watermark+1), exactly-once
   via the load's batch id.

At 100 TB-of-dictionary scale every step stays relational: the hash
anti-join is a broadcast or shuffled equi-join, the merge is
bucket-pruned, and an unchanged re-POST reduces to one join that finds
zero rows and an empty-batch commit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from picsure_dictionary_etl_spark.lake.merge import (
    LSN_COL,
    OP_COL,
    MergeResult,
    merge_into,
)
from picsure_dictionary_etl_spark.lake.table import LakeTable

CONCEPT_KEY = ["concept_path"]

CONCEPT_TABLE_SCHEMA = T.StructType(
    [
        T.StructField("concept_path", T.StringType(), False),
        T.StructField("concept_type", T.StringType(), True),
        T.StructField("values", T.ArrayType(T.StringType()), True),
        T.StructField("min", T.DoubleType(), True),
        T.StructField("max", T.DoubleType(), True),
        T.StructField("is_timestamp", T.BooleanType(), True),
        T.StructField("is_leaf", T.BooleanType(), True),
        T.StructField("parent_path", T.StringType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("dataset", T.StringType(), True),
        T.StructField(OP_COL, T.StringType(), False),
        T.StructField(LSN_COL, T.LongType(), False),
    ]
)

PAYLOAD_COLS = [
    "concept_type", "values", "min", "max", "is_timestamp",
    "is_leaf", "parent_path", "name", "dataset",
]


def concept_table(spark: SparkSession, root: str, bucket_count: int = 16) -> LakeTable:
    if LakeTable.exists(root):
        return LakeTable.load(spark, root)
    return LakeTable.create(
        spark,
        root,
        schema=CONCEPT_TABLE_SCHEMA,
        key_cols=CONCEPT_KEY,
        bucket_by=CONCEPT_KEY,
        bucket_count=bucket_count,
    )


def _row_hash() -> F.Column:
    """Canonical concept hash (D9): doubles via printf so the hash is
    render-stable, arrays joined in their (already sorted) order."""
    return F.md5(
        F.concat_ws(
            "\x01",
            *[
                F.coalesce(
                    F.format_string("%.6f", F.col(c))
                    if c in ("min", "max")
                    else F.array_join(F.col(c), ",")
                    if c == "values"
                    else F.col(c).cast("string"),
                    F.lit("\x00"),
                )
                for c in PAYLOAD_COLS
            ],
        )
    )


def refresh_concepts(table: LakeTable, nodes: DataFrame, batch_id: str) -> MergeResult:
    """Apply one dictionary load: upsert changed/new concepts, delete
    vanished ones, no-op on identical re-loads."""
    gen = table.watermark() + 1
    # both branches below read the live (key, hash) pairs: cached, the
    # table resolves once per refresh instead of once per branch
    live_h = table.live().select("concept_path", _row_hash().alias("_h")).persist()

    src = nodes.select("concept_path", *PAYLOAD_COLS)
    src_h = src.withColumn("_h", _row_hash())

    # D9: drop rows whose (key, hash) already exist — identical re-POST
    # reduces to an empty batch
    changed = src_h.join(live_h, ["concept_path", "_h"], "left_anti").drop("_h")

    # H5: live keys missing from this load are deleted
    vanished = (
        live_h.select("concept_path")
        .join(src.select("concept_path"), "concept_path", "left_anti")
        .select(
            "concept_path",
            *[F.lit(None).cast(CONCEPT_TABLE_SCHEMA[c].dataType).alias(c) for c in PAYLOAD_COLS],
        )
    )

    batch = (
        changed.withColumn(OP_COL, F.lit("U"))
        .unionByName(vanished.withColumn(OP_COL, F.lit("D")))
        .withColumn(LSN_COL, F.lit(gen).cast("long"))
    )
    try:
        return merge_into(table, batch, batch_id, watermark_lsn=gen)
    finally:
        live_h.unpersist()


def refresh_from_csv(
    table: LakeTable,
    spark: SparkSession,
    csv_path: str,
    batch_id: str,
    allowed_studies: list[str] | None = None,
) -> tuple[MergeResult, DataFrame]:
    """CSV -> dictionary pipeline -> incremental refresh. Returns the
    merge result and the load's error rows (dead-letter contract)."""
    from picsure_dictionary_etl_spark.pipeline.dictionary import (
        load_column_meta_dictionary,
    )

    nodes, errors = load_column_meta_dictionary(spark, csv_path, allowed_studies)
    return refresh_concepts(table, nodes, batch_id), errors
