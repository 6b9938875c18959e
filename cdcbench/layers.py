"""Per-layer metrics of the traced run.

The traced run drives the layers' public functions itself, in the shape of
``tools/profile_cdc.py``: cumulative phases over the catchup feed (scan,
+ ``last_image_wins``, + ``normalize_text_udf``), ``read_binlog_files`` to
a noop sink over binlog files exported by ``write_binlog_changelog``
(catchup only), and
``candidate_paths`` for the lookup keys. Everything else
comes from spans the workloads recorded around ``apply_batch`` and
``LakeTable.merge`` and from the Spark event log.

Layers a workload does not exercise report 0 and are named in ``NOT_RUN``.
"""

from __future__ import annotations

import os
import statistics

from .trace import EventLog, Span, Tracer

# name -> (unit, better)
PER_LAYER = {
    "pipeline.wrapper_s": ("s", "lower"),
    "pipeline.batches": ("count", "lower"),
    "pipeline.apply_batch_p50_s": ("s", "lower"),
    "binlog.decode_s": ("s", "lower"),
    "binlog.rows_per_core_s": ("1/s", "higher"),
    "binlog.bytes_in": ("B", "lower"),
    "scan.s": ("s", "lower"),
    "scan.bytes_in": ("B", "lower"),
    "dedup.s": ("s", "lower"),
    "dedup.rows_in": ("count", "lower"),
    "dedup.rows_out": ("count", "lower"),
    "dedup.keep_ratio": ("ratio", "lower"),
    "exchange.shuffle_bytes": ("B", "lower"),
    "exchange.task_skew": ("ratio", "lower"),
    "normalize.s": ("s", "lower"),
    "normalize.rows": ("count", "lower"),
    "write.s": ("s", "lower"),
    "write.files": ("count", "lower"),
    "write.bytes_per_row": ("B", "lower"),
    "commit.s": ("s", "lower"),
    "commit.meta_bytes": ("B", "lower"),
    "read.lookup_p50_s": ("s", "lower"),
    "read.scan_s": ("s", "lower"),
    "read.plan_s": ("s", "lower"),
    "read.candidate_files": ("count", "lower"),
    "read.prune_ratio": ("ratio", "lower"),
    "read.delta_files": ("count", "lower"),
    "spark.jobs_per_batch": ("count", "lower"),
    "spark.driver_gap_s": ("s", "lower"),
    "jvm.gc_s": ("s", "lower"),
    "cpu.task_s": ("s", "lower"),
    "gen.late_p50_s": ("s", "lower"),
    "gen.late_max_s": ("s", "lower"),
    "tail.segments_per_batch": ("count", "higher"),
    "tail.backlog_end": ("count", "lower"),
    "scaling_eff_1to4": ("ratio", "higher"),
    # traced minus untraced end-to-end numbers
    "trace.overhead.events_per_s": ("1/s", "higher"),
    "trace.overhead.core_s_per_mevent": ("s", "lower"),
    "trace.overhead.lag_p50_s": ("s", "lower"),
    "trace.overhead.lag_p90_s": ("s", "lower"),
    "trace.overhead.scan_s": ("s", "lower"),
}

NOT_RUN = {
    "catchup": {"gen.*, tail.*": "a backlog has no release schedule"},
    "tail": {
        "binlog.*, scan.*, dedup.s, normalize.s, scaling_eff_1to4":
            "driven in the catchup traced run only",
    },
}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _bytes(paths) -> int:
    return sum(os.path.getsize(p) for p in paths)


def catchup_phases(spark, feed_dir: str, n_buckets: int, tracer: Tracer) -> dict:
    """Cumulative phases over the feed; each layer's time is the difference
    between a phase and the one before it."""
    from pyspark.sql import functions as F

    from mysql_secure_agent_spark.functions.normalize import normalize_text_udf
    from mysql_secure_agent_spark.operators.dedup_changelog import last_image_wins
    from mysql_secure_agent_spark.schemas import CHANGELOG_SCHEMA, PRIMARY_KEY, TRANSCRIPT_SCHEMA

    data = os.path.join(feed_dir, "data")

    def scan():
        return spark.read.schema(CHANGELOG_SCHEMA).parquet(data)

    def dedup():
        # the projection LakeTable.merge applies before its exchange
        projected = scan().select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in TRANSCRIPT_SCHEMA.fields],
            F.col("source_lsn").cast("long").alias("_lsn"),
            (F.col("op") == "D").alias("_deleted"),
        )
        return last_image_wins(
            projected.repartition(n_buckets, *PRIMARY_KEY),
            key_cols=PRIMARY_KEY, order_col="_lsn", strategy="window",
        )

    def normalize():
        return dedup().withColumn("text", normalize_text_udf(F.col("text")))

    walls = {}
    for name, build in (("scan", scan), ("dedup", dedup), ("normalize", normalize)):
        with tracer.span(f"phase.{name}") as s:
            _noop(build())
        walls[name] = s.end - s.start
    files = [os.path.join(data, f) for f in os.listdir(data)]
    return {
        "scan.s": walls["scan"],
        "scan.bytes_in": _bytes(files),
        "dedup.s": walls["dedup"] - walls["scan"],
        "normalize.s": walls["normalize"] - walls["dedup"],
    }


def binlog_phase(spark, binlog_dir: str, tracer: Tracer) -> dict:
    """``read_binlog_files`` over the generated binlog files to a noop sink:
    the per-row decode in ``sources.binlog_file``/``binlog_packets``."""
    from mysql_secure_agent_spark.schemas import TRANSCRIPT_SCHEMA
    from mysql_secure_agent_spark.sources.binlog_file import read_binlog_files

    from . import gen

    fields = TRANSCRIPT_SCHEMA.fields
    ddl = ", ".join(["op string", *(f"{f.name} {f.dataType.simpleString()}" for f in fields),
                     "source_lsn long"])
    with tracer.span("phase.binlog_decode") as s:
        _noop(read_binlog_files(spark, binlog_dir, gen.BINLOG_SCHEMA, gen.BINLOG_TABLE,
                                [f.name for f in fields], ddl))
    files = [os.path.join(binlog_dir, f) for f in os.listdir(binlog_dir)]
    return {"binlog.decode_s": s.end - s.start, "binlog.bytes_in": _bytes(files)}


def read_plan(table, keys: list[tuple[str, int]], tracer: Tracer) -> dict:
    """Listing-level planning for each lookup key: the bucket and bloom
    probe ``LakeTable.lookup`` would use, timed around ``candidate_paths``."""
    from mysql_secure_agent_spark.lake.bloom import key_hash

    walls, cands = [], []
    commit = table.commit_at()
    types = dict(commit.schema)
    live = sum(len(v) for v in commit.files.values())
    for conv_id, turn in keys:
        key = {"conv_id": conv_id, "turn_idx": turn}
        with tracer.span("read.plan") as s:
            c = table.commit_at()
            h = key_hash([key[k] for k in c.bucket_cols], [types[k] for k in c.bucket_cols])
            paths = table.candidate_paths(
                c, buckets=[h % c.n_buckets],
                key_range={k: (v, v) for k, v in key.items()}, key_probe=h,
            )
        walls.append(s.end - s.start)
        cands.append(len(paths))
    mean = statistics.fmean(cands)
    return {
        "read.plan_s": statistics.median(walls),
        "read.candidate_files": mean,
        "read.prune_ratio": mean / live,
        "read.delta_files": sum(table.delta_file_counts().values()),
    }


def table_layers(spark, table) -> dict:
    """Write and commit footprint of the finished table."""
    m = table.metrics(spark).filter("batch_id <> 'NOP'").selectExpr(
        "sum(rows_after_dedup) AS rows", "count(*) AS versions"
    ).first()
    data_bytes = sum(s["bytes"] for s in table.delta_stats().values())
    meta = []
    for sub in ("_commits", "_metrics"):
        d = os.path.join(table.root, sub)
        meta += [os.path.join(d, f) for f in os.listdir(d)]
    return {
        "write.bytes_per_row": data_bytes / m.rows,
        "commit.meta_bytes": _bytes(meta) / m.versions,
    }


def from_spans(tracer: Tracer, log: EventLog) -> dict:
    """Pipeline, merge, exchange and runtime layers from the spans recorded
    around the engine calls and the event log, per ingest (one drain, or
    the whole live stream). ``pipeline.wrapper_s`` and
    ``spark.driver_gap_s`` count only the streaming triggers that read
    input: trigger time outside ``apply_batch``, and trigger time with no
    Spark job running."""
    streams = [(s.start, s.end) for s in tracer.named("pipeline.stream")]
    applies = tracer.named("pipeline.apply_batch")
    merges = tracer.named("lake.merge")
    merge_windows = [(s.start, s.end) for s in merges]
    stream_jobs = log.jobs_in(streams)
    merge_jobs = log.jobs_in(merge_windows)
    write_s = sum(log.busy_s(merge_jobs, a, b) for a, b in merge_windows)
    merge_s = sum(b - a for a, b in merge_windows)
    stream_tasks = log.tasks_of(stream_jobs)
    merge_tasks = log.tasks_of(merge_jobs)
    skews = []
    for stage in {t.stage for t in merge_tasks if t.shuffle_read > 0}:
        runs = [t.run_s for t in merge_tasks if t.stage == stage]
        if len(runs) >= 2 and statistics.median(runs) > 0:
            skews.append(max(runs) / statistics.median(runs))
    # the streaming engine's own cost is counted inside the triggers that
    # carried data only, so a live stream's idle wait between releases is
    # not charged to it
    triggers = log.triggers_in(streams)
    in_trigger = [s.end - s.start for s in applies
                  if any(a <= s.start <= b for a, b in triggers)]
    rows_in = sum(s.result.get("rows_in", 0) for s in merges)
    rows_out = sum(s.result.get("rows_after_dedup", 0) for s in merges)
    n = float(len(streams))
    return {
        "pipeline.wrapper_s": (sum(b - a for a, b in triggers) - sum(in_trigger)) / n,
        "pipeline.batches": len(applies) / n,
        "pipeline.apply_batch_p50_s": statistics.median(s.end - s.start for s in applies),
        "dedup.rows_in": rows_in / n,
        "dedup.rows_out": rows_out / n,
        "dedup.keep_ratio": rows_out / rows_in,
        "normalize.rows": rows_out / n,
        "exchange.shuffle_bytes": sum(t.shuffle_write for t in merge_tasks) / n,
        "exchange.task_skew": statistics.median(skews) if skews else 0.0,
        "write.s": write_s / n,
        "write.files": sum(s.result.get("files_written", 0) for s in merges) / n,
        "commit.s": (merge_s - write_s) / n,
        "spark.jobs_per_batch": len(stream_jobs) / len(applies),
        "spark.driver_gap_s": sum(b - a - log.busy_s(stream_jobs, a, b) for a, b in triggers) / n,
        "jvm.gc_s": sum(t.gc_s for t in stream_tasks) / n,
        "cpu.task_s": sum(t.cpu_s for t in stream_tasks) / n,
    }


def decode_rate(log: EventLog, span: Span, rows: int) -> float:
    """Rows decoded per CPU-second of the decode job's tasks."""
    cpu = sum(t.cpu_s for t in log.tasks_of(log.jobs_in([(span.start, span.end)])))
    return rows / cpu if cpu > 0 else 0.0
