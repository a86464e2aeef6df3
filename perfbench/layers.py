"""Per-layer instrumentation of the traced run.

:func:`install` wraps the program's layer functions where they are
imported (module attributes looked up at call time), so each call
opens a child span of the benchmark's op span.  :func:`metrics` turns
the collected spans into the per-layer metrics.  Times and counts of
layers inside the unit op are per-op means over the timed ops; set-up
and closing layers are per call.
"""

from __future__ import annotations

import statistics

import check
from spans import SPARK_COUNTERS

PIPELINE_FNS = ("historical_backfill", "find_resume_point",
                "incremental_sync", "row_integrity", "repair", "run_sync")
WRITER_FNS = ("write_day_partitioned", "list_days", "remove_empty_days",
              "read_day_partitioned")


def _write_stats(sp, out, args, kwargs, before):
    path = kwargs.get("path", args[1] if len(args) > 1 else None)
    files, nbytes, days = check.written(before, check.snapshot(path))
    sp.attrs.update(files_written=files, bytes_written=nbytes,
                    days_written=days)


def _before_write(args, kwargs):
    return check.snapshot(kwargs.get("path", args[1] if len(args) > 1 else None))


def _touched(sp, out, args, kwargs, state):
    touched = kwargs.get("touched_days", args[2] if len(args) > 2 else ())
    sp.attrs["touched_days"] = len(touched)


def install(tr) -> None:
    from enexory_parquet_export_spark import pipeline
    from enexory_parquet_export_spark.operators import binlog
    from enexory_parquet_export_spark.sources import writer
    from enexory_parquet_export_spark.streaming import cdc_stream

    for fn in ("read_binlog_dir", "parse_binlog_text"):
        tr.wrap(binlog, fn, f"operators.binlog.{fn}")
    # the parse pipeline's output is lazy: run it once, in isolation
    tr.wrap(binlog, "assign_global_seq", "operators.binlog.assign_global_seq",
            after=lambda sp, out, a, k, s: tr.isolated_noop(
                "operators.binlog.exec", out))
    tr.wrap(cdc_stream, "consolidate", "operators.cdc.consolidate",
            after=lambda sp, out, a, k, s: tr.isolated_noop(
                "operators.cdc.consolidate_exec", out))
    tr.wrap(cdc_stream, "apply_changes", "operators.cdc.apply_changes")
    tr.wrap(cdc_stream, "merge_batch", "streaming.cdc_stream.merge_batch")
    hooks = {"write_day_partitioned": (_before_write, _write_stats),
             "remove_empty_days": (None, _touched)}
    for module in (cdc_stream, pipeline, writer):
        for fn in WRITER_FNS:
            before, after = hooks.get(fn, (None, None))
            tr.wrap(module, fn, f"sources.writer.{fn}", before, after)
    for fn in ("mirror_to_replica", "write_reference_layout"):
        tr.wrap(writer, fn, f"sources.writer.{fn}")
    for fn in PIPELINE_FNS:
        tr.wrap(pipeline, fn, f"pipeline.{fn}")


def metrics(tr, wl, session_s: float) -> dict:
    """name -> (value, unit) for every per-layer metric."""
    ops = [s for s in tr.spans
           if s.name in ("op.binlog_apply", "op.sync") and s.attrs["op"] >= 0]
    n = max(1, len(ops))
    op_list = wl.out.ops

    def under(name):
        return [s for op in ops for s in tr.find(name, op)]

    def busy(sp):
        """Span time without the isolated executions inside it."""
        return sp.dur - sum(s.dur for s in tr.subtree(sp, True)
                            if s.isolated and s.id != sp.id)

    def per_op(name, attr=None):
        spans = under(name)
        if attr is None:
            return sum(busy(s) for s in spans) / n
        return sum(s.attrs.get(attr, 0) for s in spans) / n

    def once(name):
        spans = tr.find(name)
        return statistics.median(s.dur for s in spans) if spans else 0.0

    # isolated executions run a lazy layer's output with its inputs: the
    # binlog one includes the text read, consolidate's also the parse
    binlog_exec = per_op("operators.binlog.exec")
    events = sum(s.attrs.get("rows", 0)
                 for s in under("operators.binlog.assign_global_seq"))
    keys = sum(s.attrs.get("rows", 0)
               for s in under("operators.cdc.consolidate"))
    merges = under("streaming.cdc_stream.merge_batch")
    writes = under("sources.writer.write_day_partitioned")

    def scanned(span_list, marker):
        return sum(rows for s in span_list for t in tr.subtree(s)
                   for loc, rows in t.attrs.get("scan_rows", {}).items()
                   if marker in loc)

    mirror_marker = "/" + wl.out.mirror.rstrip("/").split("/")[-1]
    src_rows = sum(o.src_rows for o in op_list)
    mir_rows = sum(o.mirror_rows for o in op_list)
    spark = dict.fromkeys(SPARK_COUNTERS, 0.0)
    for op in ops:
        for k, v in tr.spark_inclusive(op).items():
            spark[k] += v / n
    traced = sorted(o.latency_s for o in op_list)

    m = {
        "session.get_spark_s": (session_s, "s"),
        "pipeline.historical_backfill_s": (once("pipeline.historical_backfill"), "s"),
        "operators.binlog.exec_s": (binlog_exec, "s"),
        "operators.binlog.lines_in": (wl.ctx.binlog_lines / n, "count"),
        "operators.binlog.events_out": (events / n, "count"),
        "operators.cdc.consolidate_exec_s": (
            per_op("operators.cdc.consolidate_exec"), "s"),
        "operators.cdc.keys_per_event": (keys / events if events else 0.0, "ratio"),
        "streaming.cdc_stream.merge_batch_s": (per_op("streaming.cdc_stream.merge_batch"), "s"),
        "streaming.cdc_stream.merge_batch.self_s": (
            sum(s.self_s for s in merges) / n, "s"),
        "streaming.cdc_stream.merge_batch.touched_days": (
            per_op("sources.writer.remove_empty_days", "touched_days"), "count"),
        "streaming.cdc_stream.merge_batch.base_rows_read": (
            scanned(merges, mirror_marker) / n, "count"),
        "sources.writer.write_day_partitioned_s": (
            per_op("sources.writer.write_day_partitioned"), "s"),
        "sources.writer.write_day_partitioned.days_written": (
            sum(s.attrs.get("days_written", 0) for s in writes) / n, "count"),
        "sources.writer.write_day_partitioned.files_written": (
            sum(s.attrs.get("files_written", 0) for s in writes) / n, "count"),
        "sources.writer.write_day_partitioned.bytes_written": (
            sum(s.attrs.get("bytes_written", 0) for s in writes) / n, "B"),
        "sources.writer.list_days_s": (per_op("sources.writer.list_days"), "s"),
        "sources.writer.list_days_calls": (
            len(under("sources.writer.list_days")) / n, "count"),
        "sources.writer.remove_empty_days_s": (
            per_op("sources.writer.remove_empty_days"), "s"),
        "sources.writer.mirror_to_replica_s": (
            per_op("sources.writer.mirror_to_replica"), "s"),
        "sources.writer.write_reference_layout_s": (
            once("sources.writer.write_reference_layout"), "s"),
        "pipeline.find_resume_point_s": (per_op("pipeline.find_resume_point"), "s"),
        "pipeline.incremental_sync_s": (per_op("pipeline.incremental_sync"), "s"),
        "pipeline.row_integrity_s": (per_op("pipeline.row_integrity"), "s"),
        "pipeline.source_rows_read_per_row": (
            scanned(ops, "/source") / src_rows if src_rows else 0.0, "ratio"),
        "pipeline.mirror_rows_read_per_row": (
            scanned(ops, mirror_marker) / mir_rows
            if mir_rows and src_rows else 0.0, "ratio"),
    }
    units = {"jobs": "count", "stages": "count", "tasks": "count",
             "shuffle_read_bytes": "B", "shuffle_write_bytes": "B",
             "spill_bytes": "B", "input_rows": "count", "output_bytes": "B"}
    for k, v in spark.items():
        m[f"spark.{k}"] = (v, units.get(k, "s"))
    m["trace.op_p50_s"] = (statistics.median(traced), "s")
    m["trace.isolated_s"] = (sum(s.dur for op in ops
                                 for s in tr.subtree(op, True)
                                 if s.isolated) / n, "s")
    return m
