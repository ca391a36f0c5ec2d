"""Per-layer metrics of a traced run, from its spans, from the Spark
status store (stages charged to the span whose job group started them),
from the table's manifests, and from the driver's and the JVM's peak
resident memory over the measured epochs.

Conventions: ``*_s`` from spans is the median per call; ``spark.*`` is
the mean per write (one commit or one sink append); counts are totals
over the run unless named ``per_*``. A layer the workload does not
exercise reads 0.
"""

from __future__ import annotations

import statistics


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(tr, m, mem: dict) -> dict:
    writes = tr.named("cdc.replay") + tr.named("sink.save")
    n_writes = max(len(writes), 1)
    write_stages = tr.stages([s for w in writes for s in tr.subtree(w)])
    delta_stages = tr.stages(tr.named("table.write_delta"))
    exchange = [st for st in delta_stages if st["shuffle_write_b"] > 0]
    reduce = [st for st in delta_stages if st["shuffle_write_b"] == 0 and st["shuffle_read_b"] > 0]
    applies = tr.named("cdc.apply_batch")
    # the apply span's own jobs: the dead-letter write (its second scan)
    dlq_stages = tr.stages(applies)
    rows_in = sum(x.get("rows_in") or 0 for x in m.merge_metrics)
    winners = sum(x.get("winners") or 0 for x in m.merge_metrics)
    cdf_tasks = [
        max((st["tasks"] for st in tr.stages([s])), default=0) for s in tr.named("cdf.read")
    ]
    optimize = tr.named("merge.optimize")
    values = {
        "cdc.apply_self_s": (_median([tr.self_seconds(s) for s in applies]), "s"),
        "cdc.spark_jobs_per_commit": (
            _mean([sum(len(x.jobs) for x in tr.subtree(s)) for s in applies]), "count"),
        "cdc.dead_letter_rows": (m.dead_letter_rows, "count"),
        "merge.self_s": (_median([tr.self_seconds(s) for s in tr.named("merge.merge_into")]), "s"),
        "merge.winners_per_row_in": (winners / rows_in if rows_in else 0.0, "ratio"),
        "merge.optimize_s": (_median([s.seconds for s in optimize]), "s"),
        "merge.optimize_bytes_rewritten": (m.optimize_bytes, "bytes"),
        "table.write_delta_s": (_median([s.seconds for s in tr.named("table.write_delta")]), "s"),
        "table.write_base_s": (_median([s.seconds for s in tr.named("table.write_base")]), "s"),
        "table.commit_s": (_median([s.seconds for s in tr.named("table.commit")]), "s"),
        "table.current_s": (_median([s.seconds for s in tr.named("table.current")]), "s"),
        "table.manifest_bytes": (m.manifest_bytes, "bytes"),
        "table.files_live": (_mean(m.files_live), "count"),
        "table.bucket_files_per_lookup": (_mean(m.bucket_files_per_lookup), "count"),
        "table.bytes_written_per_input_byte": (
            (m.data_bytes_after - m.data_bytes_before) / m.input_bytes if m.input_bytes else 0.0,
            "ratio"),
        "spark.scan_exchange_run_s": (sum(st["run_s"] for st in exchange) / n_writes, "s"),
        "spark.reduce_write_run_s": (sum(st["run_s"] for st in reduce) / n_writes, "s"),
        "spark.reduce_write_tasks": (_median([st["tasks"] for st in reduce]), "count"),
        "spark.dead_letter_run_s": (sum(st["run_s"] for st in dlq_stages) / n_writes, "s"),
        "spark.shuffle_write_mb": (
            sum(st["shuffle_write_b"] for st in write_stages) / n_writes / 1e6, "MB"),
        "spark.spill_mb": (sum(st["spill_b"] for st in write_stages) / n_writes / 1e6, "MB"),
        "spark.jvm_gc_s": (sum(st["gc_s"] for st in write_stages) / n_writes, "s"),
        "spark.executor_cpu_s": (sum(st["cpu_s"] for st in write_stages) / n_writes, "s"),
        "sink.write_s": (_median([s.seconds for s in tr.named("sink.save")]), "s"),
        "sink.files_per_epoch": (
            _mean(m.files_per_epoch) if tr.named("sink.save") else 0.0, "count"),
        "cdf.span_tasks": (_mean(cdf_tasks), "count"),
        "consume.poll_plan_s": (_median([s.seconds for s in tr.named("consume.poll")]), "s"),
        "consume.materialize_s": (
            _median([s.seconds for s in tr.named("consume.materialize")]), "s"),
        "lookup.conversation_s": (
            _median([s.seconds for s in tr.named("runner.conversation")]), "s"),
        "memory.peak_rss_mb": (mem["python_peak_rss"] + mem["jvm_peak_rss"], "MB"),
        "trace.bookkeeping_s_per_epoch": (tr.bookkeeping_s / max(m.epochs, 1), "s"),
        "trace.spans": (len(tr.spans), "count"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}


def span_summary(tr) -> dict:
    """Per span name: calls, total seconds and total self seconds."""
    out: dict[str, dict] = {}
    for s in tr.spans:
        d = out.setdefault(s.name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        d["calls"] += 1
        d["total_s"] += s.seconds
        d["self_s"] += tr.self_seconds(s)
    return out
