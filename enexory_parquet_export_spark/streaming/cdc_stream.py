"""Streaming CDC merge — the reference's cron'd binlog pipeline
(Parquet Export/parse_binlogs.sh → consolidate.cpp) restated as
Structured Streaming ``foreachBatch``.

The reference polls binlogs on a cron, consolidates the window's
events per (day, pk), and merges them into the per-day parquet files.
That is exactly the micro-batch model: ``readStream`` over an
append-only changelog directory, and each micro-batch runs the SAME
batch operators (operators.cdc.consolidate + apply_changes) against
the current mirror, writing back through ``sources.writer.commit``.

Late data: the reference tolerates late rows in the newest day by
refetching that whole day (db_extractor.py:284-291) — partition
rewrite, not row-level watermarking.  The merge path inherits that:
any late event simply lands in a later micro-batch and merges into its
(old) day partition, because the merge is keyed by (day, pk), not by
arrival time.  ``windowed_counts`` below shows the watermarked-window
variant for aggregations that DO need bounded state.

Scale posture: each micro-batch shuffles only its consolidated
changelog (small) against the touched day-partitions of the base
(partition-pruned read); state never accumulates in the stream — the
mirror on disk IS the state, the same copy-on-write philosophy as the
reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..operators.cdc import apply_changes, consolidate
from ..sources.writer import (
    list_days,
    read_day_partitioned,
    remove_empty_days,
    write_day_partitioned,
)

#: changelog wire schema (consolidate.cpp:29-35's struct Change + op)
CHANGELOG_SCHEMA = StructType([
    StructField("seq", LongType(), False),
    StructField("pk", LongType(), False),
    StructField("op", StringType(), False),          # 'I' | 'U' | 'D'
    StructField("date_time", StringType(), False),   # 19-char string
    StructField("value", DoubleType(), True),
    StructField("ts_epoch", LongType(), False),
    StructField("day", StringType(), False),
])


def stream_changelog(spark: SparkSession, path: str,
                     max_files_per_trigger: int | None = None) -> DataFrame:
    """``readStream`` over an append-only parquet changelog directory —
    the streaming stand-in for the mysqlbinlog tail
    (parse_binlogs.sh:70-124)."""
    reader = (spark.readStream.schema(CHANGELOG_SCHEMA)
              .format("parquet"))
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def merge_batch(spark: SparkSession, batch: DataFrame, mirror_path: str) -> None:
    """One micro-batch merge: consolidate the batch, partition-prune the
    base read to touched days, apply delete→update-if-exists→upsert,
    rewrite only those partitions, drop emptied ones."""
    changes = consolidate(batch)
    touched = [r["day"] for r in changes.select("day").distinct().collect()]
    if not touched:
        return
    if list_days(spark, mirror_path):
        base = (read_day_partitioned(spark, mirror_path)
                .filter(F.col("day").isin(touched))
                .select("day", "pk", "date_time", "value", "ts_epoch"))
    else:
        base = spark.createDataFrame(
            [], "day string, pk bigint, date_time string, value double, ts_epoch bigint")
    surviving = write_day_partitioned(apply_changes(base, changes), mirror_path)
    remove_empty_days(spark, mirror_path, touched_days=touched,
                      surviving_days=surviving)


def start_cdc_merge_stream(changelog: DataFrame, mirror_path: str,
                           checkpoint: str, *,
                           available_now: bool = True) -> StreamingQuery:
    """``foreachBatch`` streaming merge into the day-partitioned mirror.

    ``available_now=True`` drains everything currently in the source and
    stops — the cron-batch replacement; ``False`` runs continuously.
    Failure guarantee: each day is swapped in atomically, a commit cut
    by a crash is recovered on the next access, and the restarted query
    re-applies the cut batch, which is idempotent per (day, pk) (the
    reference relies on the same idempotence).
    """
    def _merge(batch: DataFrame, _batch_id: int) -> None:
        merge_batch(batch.sparkSession, batch, mirror_path)

    writer = (changelog.writeStream
              .foreachBatch(_merge)
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_counts(changelog: DataFrame, *, window: str = "1 hour",
                    watermark: str = "2 hours") -> DataFrame:
    """Watermarked per-(window, op) event counts — the bounded-state
    streaming aggregate the reference never had (its audit, O18, is a
    full recount).  Late rows beyond the watermark are dropped;
    within it, counts self-correct."""
    with_ts = changelog.withColumn(
        "event_time", F.to_timestamp(F.from_unixtime(F.col("ts_epoch"))))
    return (with_ts
            .withWatermark("event_time", watermark)
            .groupBy(F.window("event_time", window).alias("w"), "op")
            .agg(F.count("*").alias("n_events"))
            .select(F.col("w.start").alias("window_start"), "op", "n_events"))


def stream_binlog_text(spark: SparkSession, path: str,
                       max_files_per_trigger: int | None = None) -> DataFrame:
    """``readStream`` over a directory of rotated binlog pseudo-SQL
    TEXT segments — the reference's literal input form (the
    ``parse_binlogs.sh`` tail), not a pre-typed changelog.

    ``wholetext`` makes each arriving segment ONE row, so per-file
    line numbers are exact regardless of partitioning (same argument
    as ``operators.binlog.read_binlog_dir``); a segment must be
    complete when it lands, which rotation guarantees.
    """
    reader = spark.readStream.option("wholetext", "true")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return (reader.text(path)
            .select(F.col("_metadata.file_path").alias("file"),
                    F.col("_metadata.file_modification_time")
                     .alias("file_mtime"),
                    "value"))


def start_binlog_text_stream(spark: SparkSession, binlog_dir: str,
                             mirror_path: str, checkpoint: str, *,
                             max_files_per_trigger: int | None = None,
                             available_now: bool = True) -> StreamingQuery:
    """End-to-end streaming CDC from RAW binlog text to the mirror:
    tail the segment directory → parse pseudo-SQL → consolidate →
    delete→update-if-exists→upsert merge, all inside ``foreachBatch``.

    The parse uses window functions (block assembly), which Structured
    Streaming forbids on the unbounded plan — but each micro-batch is
    a STATIC frame inside ``foreachBatch``, where the full batch
    relational plan (including windows) is legal.  This is the same
    layering the reference uses: mysqlbinlog writes a complete text
    segment; the consolidator processes whole segments.

    Failure guarantee: checkpointed file-source offsets + the merge's
    per-day atomic swap, recovered on the next access, and idempotent
    re-apply of a retried batch.

    A micro-batch may contain MANY segments (availableNow drains a
    backlog into one batch); ``assign_global_seq`` rebases the per-file
    line-number seq onto the segment rotation order first, so the
    one-shot consolidation inside the batch is equivalent to the
    reference's sequential per-segment apply regardless of trigger
    batching.
    """
    from ..operators.binlog import assign_global_seq, parse_binlog_text

    raw = stream_binlog_text(spark, binlog_dir,
                             max_files_per_trigger=max_files_per_trigger)

    def _apply(batch: DataFrame, _batch_id: int) -> None:
        lines = batch.select(
            "file", "file_mtime",
            F.posexplode(F.split("value", "\n")).alias("line_no", "line"))
        changelog = assign_global_seq(parse_binlog_text(lines))
        merge_batch(batch.sparkSession, changelog, mirror_path)

    writer = (raw.writeStream
              .foreachBatch(_apply)
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
