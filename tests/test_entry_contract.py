"""Driver-contract tests for __spark_entry__ and the writer layer."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402


def test_entry_runs_and_has_rows(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"day", "id", "date_time", "value", "ts"}


def test_every_query_has_oracle_or_is_flagged(spark):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert len(qs) >= 42
    missing = set(oracles) - set(qs)
    assert not missing, f"oracle entries without queries: {missing}"
    # every declared query has an oracle unless it is on the explicit
    # rows-only allowlist (genuinely non-cross-engine-comparable output;
    # each entry must document its alternative correctness check)
    ROWS_ONLY_OK = {
        # HLL++ registers are engine-private; 3σ error bound vs exact
        # counts is pytest'd (test_functions.test_approx_distinct_...)
        "x53_approx_distinct",
        # quantile-sketch internals are engine-private; rank-error
        # bound vs exact order statistics is pytest'd
        # (test_functions.test_approx_percentile_error_bound)
        "x74_approx_percentiles",
    }
    weak = set(qs) - set(oracles) - ROWS_ONLY_OK
    assert not weak, f"queries without oracle SQL: {weak}"


def test_queries_return_lazy_dataframes(spark, sf_dir):
    # spot-check a fast pair: callable → DataFrame with named columns
    qs = entrymod.queries()
    df = qs["q01_scan_project"](spark, sf_dir)
    assert df.columns  # analysis succeeded without execution


def test_configure_force_repins_mutated_runtime_conf(spark):
    """configure() is memoized per applicationId (r13: ~20 conf.set
    py4j round trips x 3-4 calls per query construction), so a
    mid-session RUNTIME_CONFS mutation is NOT re-pinned by configure()
    — only configure_force() re-applies it.  Pins the documented
    semantics (r13 VERDICT item 8)."""
    from enexory_parquet_export_spark import session as sess

    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    pinned = sess.RUNTIME_CONFS[key]
    try:
        sess.configure(spark)  # ensure memoized
        spark.conf.set(key, "7m")
        sess.configure(spark)  # memo hit: must NOT silently re-pin
        assert spark.conf.get(key) == "7m"
        sess.configure_force(spark)  # force: must re-pin
        assert spark.conf.get(key) == pinned
        # and a force re-arms nothing extra: plain configure stays memoized
        spark.conf.set(key, "7m")
        sess.configure(spark)
        assert spark.conf.get(key) == "7m"
    finally:
        sess.configure_force(spark)
        assert spark.conf.get(key) == pinned


def test_day_partitioned_roundtrip(spark, tmp_path):
    from enexory_parquet_export_spark.sources.writer import (
        list_days,
        read_day_partitioned,
        remove_empty_days,
        write_day_partitioned,
    )

    df = spark.createDataFrame(
        [("2024-01-01", 1, "2024-01-01 00:00:01", 1.0, 100),
         ("2024-01-02", 2, "2024-01-02 00:00:02", None, 200)],
        "day string, pk bigint, date_time string, value double, ts_epoch bigint")
    path = str(tmp_path / "mirror")
    write_day_partitioned(df, path)
    assert sorted(list_days(spark, path)) == ["2024-01-01", "2024-01-02"]

    back = read_day_partitioned(spark, path)
    assert back.count() == 2
    # per-day swap: rewriting one day leaves the other intact
    upd = df.filter(F.col("day") == "2024-01-01").withColumn("value", F.lit(9.0))
    write_day_partitioned(upd, path)
    back2 = read_day_partitioned(spark, path)
    assert back2.count() == 2
    assert back2.filter(F.col("day") == "2024-01-01").collect()[0]["value"] == 9.0


def test_day_partitioned_orc_roundtrip(spark, tmp_path):
    """Same partition contract over the ORC sink: per-day swap,
    partition listing, and pruning-compatible layout."""
    from enexory_parquet_export_spark.sources.writer import (
        list_days,
        read_day_partitioned,
        write_day_partitioned,
    )

    df = spark.createDataFrame(
        [("2024-01-01", 1, "2024-01-01 00:00:01", 1.0, 100),
         ("2024-01-02", 2, "2024-01-02 00:00:02", None, 200)],
        "day string, pk bigint, date_time string, value double, ts_epoch bigint")
    path = str(tmp_path / "mirror_orc")
    write_day_partitioned(df, path, file_format="orc")
    assert sorted(list_days(spark, path)) == ["2024-01-01", "2024-01-02"]

    upd = df.filter(F.col("day") == "2024-01-01").withColumn("value", F.lit(9.0))
    write_day_partitioned(upd, path, file_format="orc")
    back = read_day_partitioned(spark, path, file_format="orc")
    assert back.count() == 2
    assert back.filter(F.col("day") == "2024-01-01").collect()[0]["value"] == 9.0


def test_driver_window_covers_contract_core():
    """The driver's correctness check hashes only the FIRST 50 entries
    of queries() in iteration order.  Since round 4 the window ROTATES
    (round-3 verdict/advice): the q01–q29 contract core is always
    inside it, and the remaining 21 slots cycle through the rest of
    the inventory so every oracle-paired query eventually earns a
    driver-green CORRECTNESS row.  Invariants: core present, rotation
    slots all oracle-paired (rows-only sketches must not waste a
    slot), and every rotation slot names a real query."""
    names = list(entrymod.queries())
    first50 = names[:50]
    window = set(first50)
    # r14 window: q16–q29 + x30–x34 (MANDATORY — last driver-green
    # r11; driver-verifies the r13 x32 PPJoin change) + the r12 band
    # minus x75–x80 (carried to r15) + x109 (first driver row, per
    # the r13 verdict) — exactly 50; the r13 band sits out after its
    # green round — see the rotation ledger in the module
    must = {f"q{i:02d}" for i in range(16, 30)}
    must |= {f"x{i}" for i in entrymod._R14_XBAND}
    prefixes = {n.split("_")[0] for n in window}
    missing = must - prefixes
    assert not missing, f"driver window misses rotation set: {sorted(missing)}"
    # rows-only sketches must NOT waste window slots
    oracles = entrymod.oracle_sql()
    no_oracle_in_window = [n for n in first50 if n not in oracles]
    assert not no_oracle_in_window, (
        f"rows-only queries waste driver window slots: {no_oracle_in_window}")
    assert len(first50) == 50 and len(names) >= 50


def test_typed_divergence_detector_catches_uncast_window_sum():
    """tools/check_oracle.py must fail on oracle SQL whose DuckDB type
    diverges from Spark's even when every value is equal — the class
    that kept q21 driver-red for two rounds (HUGEINT vs BIGINT)."""
    import duckdb
    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
    from check_oracle import type_mismatches
    from pyspark.sql.types import LongType, StructField, StructType

    con = duckdb.connect()
    con.execute("CREATE VIEW t AS SELECT * FROM range(10) r(v)")
    schema = StructType([StructField("s", LongType())])
    uncast = "SELECT sum(v) OVER () AS s FROM t"       # DuckDB → HUGEINT
    cast = "SELECT CAST(sum(v) OVER () AS BIGINT) AS s FROM t"
    assert type_mismatches(schema, con, uncast), \
        "un-cast window sum (HUGEINT) must be flagged"
    assert not type_mismatches(schema, con, cast)


def test_reference_layout_roundtrip(spark, tmp_path):
    """Compat export (VERDICT r2 #7): one YYYY-MM-DD.parquet per day,
    flat, day in the FILENAME only — reference tooling's layout
    (db_extractor.py:15,211,247) — and the filename-parse read-back."""
    from enexory_parquet_export_spark.sources.writer import (
        read_reference_layout,
        write_reference_layout,
    )

    df = spark.createDataFrame(
        [("2024-01-01", 1, "2024-01-01 10:00:00", 9.0, 100),
         ("2024-01-01", 2, "2024-01-01 11:00:00", 8.0, 101),
         ("2024-01-02", 3, "2024-01-02 10:00:00", 7.0, 102)],
        "day string, pk bigint, date_time string, value double, ts_epoch bigint")
    out = str(tmp_path / "ref")
    assert write_reference_layout(df, out) == ["2024-01-01", "2024-01-02"]
    names = sorted(p.name for p in (tmp_path / "ref").iterdir()
                   if not p.name.startswith((".", "_")))  # FS crc sidecars
    assert names == ["2024-01-01.parquet", "2024-01-02.parquet"]

    back = read_reference_layout(spark, out)
    assert {(r["day"], r["pk"]) for r in back.collect()} == \
        {("2024-01-01", 1), ("2024-01-01", 2), ("2024-01-02", 3)}
    # the day column lives in the filename, not the file
    raw_cols = spark.read.parquet(out + "/2024-01-01.parquet").columns
    assert "day" not in raw_cols

    # idempotent re-export replaces, never duplicates
    write_reference_layout(df.filter(F.col("day") == "2024-01-01"), out)
    assert sorted(p.name for p in (tmp_path / "ref").iterdir()
                  if not p.name.startswith((".", "_"))) == names


def test_mirror_to_replica_byte_identical(spark, tmp_path):
    """O27 second-mirror sink: the replica is a verbatim byte clone of
    the primary's day partitions (the reference rsyncs,
    parse_binlogs.sh:146-151), and re-sync drops days the primary lost."""
    import hashlib

    from enexory_parquet_export_spark.sources.writer import (
        mirror_to_replica,
        write_day_partitioned,
    )

    df = spark.createDataFrame(
        [("2024-01-01", 1, 9.0), ("2024-01-02", 2, 8.0)],
        "day string, pk bigint, value double")
    primary, replica = str(tmp_path / "p"), str(tmp_path / "r")
    write_day_partitioned(df, primary)
    assert mirror_to_replica(spark, primary, replica) == \
        ["2024-01-01", "2024-01-02"]

    def day_hashes(root):
        out = {}
        for daydir in sorted(tmp_path.joinpath(root).iterdir()):
            if not daydir.name.startswith("day="):
                continue
            for f in sorted(daydir.iterdir()):
                if f.name.endswith(".parquet"):
                    out[(daydir.name, f.name)] = hashlib.sha256(
                        f.read_bytes()).hexdigest()
        return out

    assert day_hashes("p") == day_hashes("r") and day_hashes("p")

    # primary loses a day → re-sync removes it from the replica
    import shutil
    shutil.rmtree(tmp_path / "p" / "day=2024-01-02")
    mirror_to_replica(spark, primary, replica)
    assert not (tmp_path / "r" / "day=2024-01-02").exists()
    assert (tmp_path / "r" / "day=2024-01-01").exists()


def test_declared_query_code_never_persists_directly():
    """bench.py's steady-run purity detection observes
    session.materialize and construction-scoped jobs (and, since r6, a
    storage-info snapshot).  Keep the invariant enforceable at source
    level too: declared-query code paths must route every
    materialization through session.materialize — a direct
    .persist()/.cache() would bypass the audit flag, the reliable-
    checkpoint switch, AND the bench purity counter at once (r5
    ADVICE)."""
    import re

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "enexory_parquet_export_spark")
    hits = []
    for root, _dirs, files in os.walk(pkg):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            for i, line in enumerate(open(path), 1):
                code = line.split("#", 1)[0]
                if re.search(r"\.(persist|cache)\(", code):
                    hits.append(f"{path}:{i}: {line.strip()}")
    assert not hits, "direct persist/cache in package code:\n" + "\n".join(hits)
