"""CDC merge semantics — the flagship's nontrivial rules, unit-tested
against the reference's map algebra (consolidate.cpp:56-109,184-214)
plus a randomized replay-oracle differential test (the reference's own
strongest test pattern, HA_test2.py:158-256, restated for the engine).
"""

from __future__ import annotations

import os
import random
from collections import Counter

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from enexory_parquet_export_spark.operators.cdc import (
    apply_changes,
    consolidate,
    derive_changelog,
)

SCHEMA = "seq bigint, pk bigint, op string, date_time string, value double, ts_epoch bigint, day string"
BASE_SCHEMA = "day string, pk bigint, date_time string, value double, ts_epoch bigint"

D = "2024-01-01"


def ev(seq, pk, op, value=1.0):
    return (seq, pk, op, f"{D} 00:00:{seq % 60:02d}", value, 1700000000 + seq, D)


def chg(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def base_df(spark, rows):
    return spark.createDataFrame(
        [(D, pk, f"{D} 00:00:00", v, 1700000000) for pk, v in rows], BASE_SCHEMA)


def merged_dict(df):
    return {(r["day"], r["pk"]): r["value"] for r in df.collect()}


class TestConsolidate:
    def test_last_event_wins(self, spark):
        out = consolidate(chg(spark, [ev(1, 10, "I", 1.0), ev(2, 10, "U", 2.0),
                                      ev(3, 10, "U", 3.0)])).collect()
        assert len(out) == 1
        assert out[0]["op"] == "I"          # I then Us → still an insert fold
        assert out[0]["value"] == 3.0       # ... with the LAST payload

    def test_insert_then_delete_kills(self, spark):
        out = consolidate(chg(spark, [ev(1, 10, "I"), ev(2, 10, "D")])).collect()
        assert out[0]["op"] == "D"

    def test_delete_then_insert_revives(self, spark):
        out = consolidate(chg(spark, [ev(1, 10, "D"), ev(2, 10, "I", 9.0)])).collect()
        assert out[0]["op"] == "I" and out[0]["value"] == 9.0

    def test_update_after_delete_stays_dead(self, spark):
        # consolidate.cpp:194 — the U lands in the update map, but the key
        # no longer exists after the delete phase, so it must not revive.
        out = consolidate(chg(spark, [ev(1, 10, "I"), ev(2, 10, "D"),
                                      ev(3, 10, "U", 7.0)])).collect()
        assert out[0]["op"] == "D"

    def test_only_updates(self, spark):
        out = consolidate(chg(spark, [ev(1, 10, "U", 5.0), ev(2, 10, "U", 6.0)])).collect()
        assert out[0]["op"] == "U" and out[0]["value"] == 6.0

    def test_per_day_per_pk_keys(self, spark):
        rows = [ev(1, 10, "I"), ev(2, 11, "I"),
                (3, 10, "I", "2024-01-02 00:00:03", 1.0, 1700000003, "2024-01-02")]
        assert consolidate(chg(spark, rows)).count() == 3


class TestApplyChanges:
    def test_delete_update_insert_order(self, spark):
        base = base_df(spark, [(1, 1.0), (2, 2.0), (3, 3.0)])
        changes = chg(spark, [ev(10, 1, "D"),           # delete existing
                              ev(11, 2, "U", 20.0),     # update existing
                              ev(12, 4, "I", 40.0)])    # insert new
        changes = consolidate(changes)
        out = merged_dict(apply_changes(base, changes))
        assert out == {(D, 2): 20.0, (D, 3): 3.0, (D, 4): 40.0}

    def test_update_missing_pk_is_noop(self, spark):
        base = base_df(spark, [(1, 1.0)])
        changes = consolidate(chg(spark, [ev(10, 99, "U", 9.0)]))
        out = merged_dict(apply_changes(base, changes))
        assert out == {(D, 1): 1.0}

    def test_insert_upserts_existing(self, spark):
        base = base_df(spark, [(1, 1.0)])
        changes = consolidate(chg(spark, [ev(10, 1, "I", 11.0)]))
        out = merged_dict(apply_changes(base, changes))
        assert out == {(D, 1): 11.0}

    def test_delete_missing_pk_is_noop(self, spark):
        base = base_df(spark, [(1, 1.0)])
        changes = consolidate(chg(spark, [ev(10, 99, "D")]))
        assert merged_dict(apply_changes(base, changes)) == {(D, 1): 1.0}

    def test_merge_to_empty(self, spark):
        base = base_df(spark, [(1, 1.0)])
        changes = consolidate(chg(spark, [ev(10, 1, "D")]))
        assert apply_changes(base, changes).count() == 0


def replay_oracle(base: dict, events: list) -> dict:
    """Single-threaded dict reimplementation of consolidate.cpp's
    consolidate+merge semantics (the reference's EXPECTED_TABLE
    pattern, HA_test2.py:36)."""
    state = dict(base)
    # within-batch consolidation: effective op per key
    by_key: dict = {}
    for seq, pk, op, value in sorted(events):
        k = by_key.setdefault(pk, {"last_i": -1, "last_d": -1, "last": None})
        if op == "I":
            k["last_i"] = seq
        elif op == "D":
            k["last_d"] = seq
        k["last"] = value
    for pk, k in by_key.items():
        if k["last_i"] > k["last_d"]:
            state[pk] = k["last"]                      # insert-as-upsert
        elif k["last_d"] >= 0:
            state.pop(pk, None)                        # delete wins
        elif pk in state:
            state[pk] = k["last"]                      # update-if-exists
    return state


@pytest.mark.parametrize("seed", [7, 42, 1234])
def test_randomized_replay_differential(spark, seed):
    rng = random.Random(seed)
    base_rows = [(pk, float(rng.randint(0, 50))) for pk in rng.sample(range(30), 12)]
    events = []
    for seq in range(200):
        op = rng.choices("IUD", weights=[0.4, 0.4, 0.2])[0]
        events.append((seq, rng.randrange(30), op, float(rng.randint(0, 99))))

    expected = replay_oracle(dict(base_rows), events)

    base = base_df(spark, base_rows)
    changes = consolidate(chg(
        spark, [ev(seq, pk, op, v) for seq, pk, op, v in events]))
    actual = {pk: v for (_, pk), v in merged_dict(apply_changes(base, changes)).items()}
    assert actual == expected


def test_count_parity_invariant(spark):
    """#rows_after = #rows_before − applied_deletes + net_new_inserts
    (the reference's log accounting, consolidate.cpp:216-224)."""
    base = base_df(spark, [(1, 1.0), (2, 2.0), (3, 3.0)])
    changes = consolidate(chg(spark, [
        ev(10, 1, "D"), ev(11, 2, "U", 5.0), ev(12, 9, "I", 6.0),
        ev(13, 8, "U", 7.0)]))  # update-to-missing: no-op
    merged = apply_changes(base, changes)
    assert merged.count() == 3 - 1 + 1


def test_derive_changelog_shape(spark, sf_dir):
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    from enexory_parquet_export_spark.sources.tables import load_table
    events = load_table(spark, sf_dir, "events")
    log = derive_changelog(events)
    assert log.columns == ["seq", "pk", "op", "date_time", "value", "ts_epoch", "day"]
    ops = {r["op"] for r in log.select("op").distinct().collect()}
    assert ops <= {"I", "U", "D"}
    n19 = log.filter(F.length("date_time") != 19).count()
    assert n19 == 0


# ---------------------------------------------------------------------------
# merge_into_sql — the ACID-lakehouse twin of apply_changes (round-3
# verdict item 7).  Delta/Iceberg are not installed here, so the MERGE
# clause semantics are executed by a tiny spec-faithful interpreter
# (per source row: first matching WHEN clause wins) and diffed against
# apply_changes on randomized consolidated batches — if the generated
# clause order ever drifts from the portable path, this fails.
# ---------------------------------------------------------------------------

def run_merge_clauses(base: dict, changes: list) -> dict:
    """Interpret merge_into_sql's clause table per the SQL MERGE spec:
    matched+D → DELETE; matched+U/I → UPDATE; not-matched+I → INSERT;
    anything else → no-op.  ``changes`` is consolidated (unique keys)."""
    state = dict(base)
    for pk, op, value in changes:
        if pk in state:
            if op == "D":
                del state[pk]
            elif op in ("U", "I"):
                state[pk] = value
        elif op == "I":
            state[pk] = value
    return state


def test_merge_into_sql_text_pins_clause_order():
    from enexory_parquet_export_spark.operators.cdc import merge_into_sql

    sql = merge_into_sql("mirror.events_base", "changes_v")
    # delete clause must precede the update clause, which must precede
    # the insert clause — and each carries the exact op guard
    i_del = sql.index("WHEN MATCHED AND s.op = 'D' THEN DELETE")
    i_upd = sql.index("WHEN MATCHED AND s.op IN ('U', 'I') THEN UPDATE SET "
                      "t.date_time = s.date_time, t.value = s.value, "
                      "t.ts_epoch = s.ts_epoch")
    i_ins = sql.index("WHEN NOT MATCHED AND s.op = 'I' THEN")
    assert i_del < i_upd < i_ins
    assert sql.startswith("MERGE INTO mirror.events_base t\nUSING changes_v s\n"
                          "ON t.day = s.day AND t.pk = s.pk")
    assert "INSERT (day, pk, date_time, value, ts_epoch) "\
           "VALUES (s.day, s.pk, s.date_time, s.value, s.ts_epoch)" in sql


@pytest.mark.parametrize("seed", [3, 99, 2024])
def test_merge_clause_table_matches_apply_changes(spark, seed):
    rng = random.Random(seed)
    base_rows = [(pk, float(rng.randint(0, 50)))
                 for pk in rng.sample(range(40), 15)]
    # consolidated batch: one (op, value) per key, keys random
    batch = [(pk, rng.choice("IUD"), float(rng.randint(0, 99)))
             for pk in rng.sample(range(40), 25)]

    expected = run_merge_clauses(dict(base_rows), batch)

    base = base_df(spark, base_rows)
    changes = spark.createDataFrame(
        [(D, pk, op, f"{D} 01:00:00", v, 1700000000) for pk, op, v in batch],
        "day string, pk bigint, op string, date_time string, value double, "
        "ts_epoch bigint")
    actual = {pk: v for (_, pk), v in
              merged_dict(apply_changes(base, changes)).items()}
    assert actual == expected


# ---------------------------------------------------------------------------
# Hypothesis: consolidation + clause-table apply ≡ TRUE sequential
# replay.  The reference never applies events one at a time — it
# consolidates into maps first — but its CLAIM (consolidate.cpp:56-109
# + 184-214) is that the consolidated apply equals sequential
# semantics: I upserts, U updates-if-exists, D deletes.  The engine's
# CASE/WHEN encoding (apply_changes) and the MERGE clause table
# (merge_into_sql) both implement the consolidated form; this property
# pins the algebra itself against the sequential definition with
# shrinking, covering orderings the seeded differential tests may miss
# (U-before-I on a missing key, D-then-U, I-D-I chains, ...).
# ---------------------------------------------------------------------------

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st
    HAVE_HYP = True
except ImportError:          # pragma: no cover
    HAVE_HYP = False


def consolidate_pure(events):
    """Mirror of operators.cdc.consolidate's algebra on plain tuples:
    events = [(seq, pk, op, value)] with unique seqs → {pk: (op, val)}."""
    by_key = {}
    for seq, pk, op, value in sorted(events):
        k = by_key.setdefault(pk, {"last_i": -1, "last_d": -1, "last": None})
        if op == "I":
            k["last_i"] = seq
        elif op == "D":
            k["last_d"] = seq
        k["last"] = value
    return {pk: ("I" if k["last_i"] > k["last_d"]
                 else "D" if k["last_d"] >= 0 else "U", k["last"])
            for pk, k in by_key.items()}


def sequential_replay(base, events):
    state = dict(base)
    for seq, pk, op, value in sorted(events):
        if op == "I":
            state[pk] = value
        elif op == "U":
            if pk in state:
                state[pk] = value
        else:
            state.pop(pk, None)
    return state


if HAVE_HYP:
    _events = st.lists(
        st.tuples(st.integers(0, 10_000),            # seq (dedup below)
                  st.integers(0, 6),                 # pk — forced collisions
                  st.sampled_from("IUD"),
                  st.integers(0, 99).map(float)),
        max_size=40).map(
            lambda evs: [(s, pk, op, v)
                         for s, (pk, op, v) in
                         zip(sorted({e[0] for e in evs}),
                             [(e[1], e[2], e[3]) for e in evs])])
    _base = st.dictionaries(st.integers(0, 6), st.integers(0, 99).map(float),
                            max_size=5)

    @settings(max_examples=300, deadline=None)
    @given(base=_base, events=_events)
    def test_consolidated_apply_equals_sequential_replay(base, events):
        cons = consolidate_pure(events)
        merged = run_merge_clauses(
            base, [(pk, op, v) for pk, (op, v) in cons.items()])
        assert merged == sequential_replay(base, events)

    @settings(max_examples=300, deadline=None)
    @given(events=_events, data=st.data())
    def test_insert_base_plus_tail_is_one_consolidation(events, data):
        """cdc_merge's identity: the replay of every I with seq <= s,
        merged with the rows after s, equals ONE consolidation of
        [I rows <= s] + [all rows > s], keeping the 'I' keys — for any
        split, including below and above every seq."""
        s = data.draw(st.sampled_from([-1, 10_001, *(e[0] for e in events)]))
        base = {pk: v for seq, pk, op, v in sorted(events)
                if op == "I" and seq <= s}
        tail = [e for e in events if e[0] > s]
        cons = consolidate_pure(
            [e for e in events if e[2] == "I" and e[0] <= s] + tail)
        assert ({pk: v for pk, (op, v) in cons.items() if op == "I"}
                == sequential_replay(base, tail))


# ---------------------------------------------------------------------------
# q24 end to end against its DuckDB oracle.  The base is split at the
# EXACT median seq (FIXTURES.md §2.1); an approximate split drifts by
# tens of ranks once events arrive in several partitions, which moves
# rows between base replay and tail merge and changes the answer.
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("sf, parts", [("sf0.001", None), ("sf0.1", 4)])
def test_q24_cdc_merge_matches_oracle(spark, sf_dir, sf, parts):
    from enexory_parquet_export_spark.operators.cdc import cdc_merge
    from enexory_parquet_export_spark.queries import ORACLE_SQL
    from enexory_parquet_export_spark.sources.tables import load_table
    from tools.check_oracle import duck_connection, normalize

    d = os.path.join(os.path.dirname(sf_dir), sf)
    events = load_table(spark, d, "events")
    if parts:
        events = events.repartition(parts)
    got = cdc_merge(events)
    cur = duck_connection(d).execute(ORACLE_SQL["q24_cdc_merge"])
    want_cols = [c[0] for c in cur.description]
    want = normalize(want_cols, cur.fetchall())
    have = normalize(got.columns, [tuple(r) for r in got.collect()])
    assert sorted(got.columns) == sorted(want_cols)
    # (rows only in Spark, rows only in the oracle)
    assert ((Counter(have) - Counter(want)).total(),
            (Counter(want) - Counter(have)).total()) == (0, 0)


@pytest.mark.parametrize("n", [1, 99_999, 100_000])
def test_lower_median_seq_is_exact(spark, n):
    from enexory_parquet_export_spark.operators.cdc import _lower_median_seq

    # gappy, unordered, with repeats, spread over 16 partitions
    log = spark.range(0, 3 * n, 3, numPartitions=16).select(
        (F.col("id") * F.col("id") % 1_000_003).alias("seq"))
    seqs = sorted(r["seq"] for r in log.collect())
    assert _lower_median_seq(log) == seqs[(n + 1) // 2 - 1]
