"""End-to-end extraction pipeline — the Spark-first restatement of the
reference's daily sync (Parquet Export/db_extractor.py, SURVEY §3.1).

The reference hand-sequences: mode decision (backfill vs incremental,
db_extractor.py:262-264) → chunked day-by-day extraction → per-row
validation → string-datetime normalization → per-day file write →
row-count audit.  Here each stage is a declarative DataFrame
transform, so one ranged query replaces the reference's day-walking
loop (:302-317) — Spark's partition parallelism does what the loop
did, and per-day idempotence comes from the writer's one commit
path (``sources.writer.commit``) instead of per-file rewrites.

``source`` is any DataFrame with the canonical 4 columns (id,
date_time, value, ts) — in production
:func:`..sources.tables.read_source_jdbc` (per-day predicate
partitioning + ``fetchsize``, the exact analog of the reference's
1M-row chunked day loop, db_extractor.py:13,225-230); in this offline
harness, a parquet snapshot.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.datetime import (
    DT_PATTERN,
    SENTINEL_DT,
    day_key,
    normalize_datetime,
)
from .sources.writer import (  # noqa: F401 — remove_empty_days stays importable here
    list_days,
    read_day_partitioned,
    remove_empty_days,
    write_day_partitioned,
)

MIRROR_COLS = ("id", "date_time", "value", "ts")


def validate(source: DataFrame) -> DataFrame:
    """Row-constraint relation (db_extractor.py:78-149): adds boolean
    flags per rule + overall ``valid``.  The reference aborts on first
    violation; callers choose abort (count invalid) or quarantine
    (filter) — both stay distributed."""
    checks = {
        "chk_id": F.col("id").isNotNull() & (F.col("id") >= 0),
        "chk_dt": F.col("date_time").rlike(DT_PATTERN)
                  & (F.length("date_time") == 19),
        "chk_ts": F.col("ts").rlike(DT_PATTERN) & (F.length("ts") == 19),
    }
    out = source
    for name, expr in checks.items():
        out = out.withColumn(name, expr)
    return out.withColumn(
        "valid", F.lit(True) & checks["chk_id"] & checks["chk_dt"]
        & checks["chk_ts"])


def normalize(source: DataFrame) -> DataFrame:
    """Datetime canonicalization with sentinel fallback (O7,
    db_extractor.py:242-245) + derived day partition column (O8)."""
    return (source
            .withColumn("date_time", normalize_datetime(F.col("date_time")))
            .withColumn("ts", normalize_datetime(F.col("ts")))
            .withColumn("day", day_key(F.col("date_time"))))


def historical_backfill(source: DataFrame, mirror_path: str,
                        min_date: str) -> None:
    """One-time backfill of everything before ``min_date``
    (db_extractor.py:195-216).  One ranged scan, one partitioned
    write — the pre-1677 dates that forced the reference into custom
    string formatting are naturally representable because day keys
    stay string prefixes end-to-end."""
    hist = source.filter(F.col("date_time") < F.lit(min_date))
    write_day_partitioned(normalize(hist).select("day", *MIRROR_COLS),
                          mirror_path)


def find_resume_point(spark: SparkSession, mirror_path: str) -> str | None:
    """Latest real timestamp in the mirror (O5, db_extractor.py:51-76):
    max(date_time) excluding the sentinel.  The reference scans files
    newest-first and stops at the first hit; the distributed analog
    prunes to the newest day-partition and reads one column of it."""
    days = list_days(spark, mirror_path)
    if not days:
        return None
    # partition-pruned: only the lexicographically-max day is read,
    # and only its date_time column; sentinel rows (always in day
    # 0001-01-01) can't appear here unless the mirror ONLY has them.
    for day in sorted(days, reverse=True):
        row = (read_day_partitioned(spark, mirror_path)
               .filter(F.col("day") == day)
               .filter(F.col("date_time") != SENTINEL_DT)
               .agg(F.max("date_time").alias("m")).collect()[0])
        if row["m"] is not None:
            return row["m"]
    return None


def incremental_sync(spark: SparkSession, source: DataFrame,
                     mirror_path: str) -> list[str]:
    """Daily sync (db_extractor.py:284-317): refetch the resume day
    wholesale (late-data tolerance by partition rewrite, :284-291) plus
    everything after it, in ONE ranged scan; the per-day swap keeps
    untouched days intact.  Returns the refreshed days."""
    resume = find_resume_point(spark, mirror_path)
    fresh = source
    if resume is not None:
        fresh = source.filter(F.col("date_time") >= F.lit(resume[:10]))
    return write_day_partitioned(normalize(fresh).select("day", *MIRROR_COLS),
                                 mirror_path)


def repair(spark: SparkSession, mirror_path: str) -> int:
    """Re-validate the whole mirror and normalize only invalid rows
    (db_extractor.py:151-193; clean days are never rewritten).  A fixed
    row can MIGRATE days (garbage date_time → sentinel day), so its old
    and new day swap in one commit.  Returns #rows fixed."""
    flagged = validate(read_day_partitioned(spark, mirror_path))
    bad = ~F.col("valid")
    dt = normalize_datetime(F.col("date_time"))
    moves = (flagged.filter(bad)
             .groupBy("day", day_key(dt).alias("to_day")).count().collect())
    if not moves:
        return 0
    days = sorted({r["day"] for r in moves} | {r["to_day"] for r in moves})

    def fix(col: str, fixed):
        return F.when(bad, fixed).otherwise(F.col(col)).alias(col)

    out = (flagged.filter(F.col("day").isin(days))
           .select(fix("day", day_key(dt)), "id", fix("date_time", dt),
                   "value", fix("ts", normalize_datetime(F.col("ts")))))
    write_day_partitioned(out, mirror_path, replace_days=days)
    return sum(r["count"] for r in moves)


@dataclass
class IntegrityReport:
    source_rows: int
    mirror_rows: int
    matches: bool
    difference: int
    per_day_mismatches: list[tuple[str, int, int]]


def row_integrity(spark: SparkSession, source: DataFrame,
                  mirror_path: str) -> IntegrityReport:
    """Count reconciliation (row_integrity.py:48-82) generalized to
    per-day localization (SURVEY §3.3): the reference can only say THAT
    counts differ; per-day diffs say WHERE and sum to the totals, in
    one job.  Parquet footer metadata serves the mirror's counts."""
    src_days = (normalize(source).groupBy("day")
                .agg(F.count("*").alias("n_src")))
    mir_days = (read_day_partitioned(spark, mirror_path).groupBy("day")
                .agg(F.count("*").alias("n_mir")))
    per_day = (src_days.join(mir_days, "day", "full_outer")
               .select("day",
                       F.coalesce("n_src", F.lit(0)).alias("n_src"),
                       F.coalesce("n_mir", F.lit(0)).alias("n_mir"))
               .collect())
    mism = sorted((r["day"], r["n_src"], r["n_mir"]) for r in per_day
                  if r["n_src"] != r["n_mir"])
    n_src, n_mir = (sum(r[c] for r in per_day) for c in ("n_src", "n_mir"))
    return IntegrityReport(n_src, n_mir, n_src == n_mir, n_mir - n_src, mism)


def run_sync(spark: SparkSession, source: DataFrame, mirror_path: str,
             min_date: str = "2010-01-02") -> IntegrityReport:
    """The reference's main() (db_extractor.py:254-325): backfill if
    the mirror is empty, else incremental; always audit."""
    if not list_days(spark, mirror_path):
        historical_backfill(source, mirror_path, min_date)
    incremental_sync(spark, source, mirror_path)
    return row_integrity(spark, source, mirror_path)
