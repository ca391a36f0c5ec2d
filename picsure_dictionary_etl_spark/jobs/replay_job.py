"""spark-submit entry point for the CDC replay job.

Cluster usage (the deployment path the engine is designed for)::

    python setup_pyfiles.py               # builds dist/picsure_etl_spark.zip
    spark-submit \
        --py-files dist/picsure_etl_spark.zip \
        --num-executors 250 --executor-cores 4 \
        picsure_dictionary_etl_spark/jobs/replay_job.py \
        --events s3://bucket/wal/ \
        --table /mnt/shared/lake/transcripts \
        --lsn-step 100000000 --bucket-count 1024

``--events`` can be any Spark-readable URI (s3/hdfs/file). ``--table``
accepts a plain POSIX path (local disk or shared NFS/EFS — the fast
path) OR a URI root: the DATA plane (data-file writes, output-dir
listing, vacuum's GC walk) then runs through the session JVM's Hadoop
FileSystem — the same layer the executors write Parquet through, so
any scheme Spark can write (``file:``/``hdfs:``/``s3a:`` with the
connector jars) works; ``file:`` URIs are exercised end-to-end in
``tests/test_uri_root.py``. The COMMIT POINT (snapshot manifests +
VERSION pointer) goes through ``MetadataIO`` (``lake/metadata_io.py``):
POSIX atomic-rename serves local and ``file:`` roots; a true
object-store root injects a catalog/conditional-PUT implementation via
``RunnerConfig(metadata_io=...)`` (non-POSIX test double in
``tests/test_metadata_io.py``). Footer-derived lineage (per-bucket row
counts, the auto-salt signal) is local-only and degrades to in-plan
winner counts on URI roots.

Local sandbox usage::

    python picsure_dictionary_etl_spark/jobs/replay_job.py \
        --events /tmp/events --table /tmp/table --lsn-step 1000000

The job is restartable: it resumes from the table's committed
high-watermark, and every batch is an idempotent exactly-once commit.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))


def main() -> None:
    ap = argparse.ArgumentParser(description="CDC replay: WAL parquet -> lake transcripts table")
    ap.add_argument("--events", required=True, help="parquet dir of change events")
    ap.add_argument("--table", required=True, help="lake table root")
    ap.add_argument("--lsn-step", type=int, required=True, help="micro-batch LSN range width")
    ap.add_argument("--bucket-count", type=int, default=32)
    ap.add_argument("--compact-threshold", type=int, default=8)
    ap.add_argument("--salt-partitions", type=int, default=None)
    ap.add_argument("--dead-letter-dir", default=None)
    ap.add_argument("--lineage", default=None, help="lineage JSONL path")
    ap.add_argument("--master", default=None, help="override master (default: from spark-submit)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from picsure_dictionary_etl_spark.cdc.runner import CdcRunner, RunnerConfig

    if args.master:
        from picsure_dictionary_etl_spark.session import get_spark

        spark = get_spark("cdc-replay", master=args.master)
    else:
        # under spark-submit the session config comes from the cluster
        spark = SparkSession.builder.appName("cdc-replay").getOrCreate()

    runner = CdcRunner(
        spark,
        RunnerConfig(
            table_root=args.table,
            dead_letter_dir=args.dead_letter_dir,
            lineage_path=args.lineage,
            bucket_count=args.bucket_count,
            compact_threshold=args.compact_threshold,
            salt_partitions=args.salt_partitions,
        ),
    )
    events = spark.read.parquet(args.events)
    results = runner.replay(events, lsn_step=args.lsn_step)
    print(
        json.dumps(
            {
                "batches_applied": len(results),
                "watermark": runner.watermark(),
                "rows_in": sum(r.metrics.get("rows_in") or 0 for r in results),
            }
        )
    )


if __name__ == "__main__":
    main()
