"""CDC consolidation + merge — the engine's flagship operator (q24).

Spark-first restatement of the reference's binlog merge pipeline
(Parquet Export/consolidate.cpp).  The reference consumes a keyed
I/U/D changelog, consolidates it per (day, pk) in hash maps
(consolidate.cpp:56-109), then merges into the per-day base files with
apply order delete → update-if-exists → insert-as-upsert
(consolidate.cpp:184-214).

Semantics proved from the reference's map algebra (each rule unit-tested):

* within-batch last-event-wins per (day, pk) ordered by ``seq``;
* an I *after* the last D makes the key an upsert whose payload is the
  **last** event's row (a later U folds into the pending insert,
  consolidate.cpp's insert-map fold);
* any D after the last I kills the key — even if Us follow the D,
  because those Us land in the update map and "update" only applies to
  keys that still exist after the delete phase (consolidate.cpp:194);
* a batch with only Us updates the key iff it exists in the base
  (update-to-missing-pk is a silent no-op, consolidate.cpp:194);
* a day whose merged result is empty disappears
  (consolidate.cpp:226-238) — dropped by sources.writer.remove_empty_days.

So the consolidated effective op per (day, pk) is::

    'I'  if last_I_seq > last_D_seq        (payload = overall last row)
    'D'  elif any D                         (payload irrelevant)
    'U'  otherwise (only Us)                (payload = overall last row)

Scale notes: consolidation is ONE hash aggregation on the natural key
(day, pk) — no window sort needed (``max_by`` keeps the last payload),
and map-side partial combine collapses a hot key before the shuffle.
q24 (:func:`cdc_merge`) is that one aggregation plus the exact median
split; :func:`apply_changes` is a keyed full-outer join, kept for the
mirror merge, where the base really is stored data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.datetime import DT_FORMAT, day_key, utc2_render

#: FIXTURES.md §2.1 — deterministic event_type → changelog op mapping
OP_MAPPING = {"signup": "I", "view": "U", "click": "U",
              "purchase": "U", "error": "D"}


def _op_col(event_type: Column) -> Column:
    expr = None
    for etype, op in OP_MAPPING.items():
        cond = event_type == F.lit(etype)
        expr = F.when(cond, F.lit(op)) if expr is None else expr.when(cond, F.lit(op))
    return expr


def derive_changelog(events: DataFrame) -> DataFrame:
    """``events`` fixture → the reference's changelog shape.

    Output: ``seq BIGINT, pk BIGINT, op STRING('I'|'U'|'D'),
    date_time STRING(19), value DOUBLE nullable, ts_epoch BIGINT,
    day STRING(10)`` — mirroring consolidate.cpp's ``struct Change``
    (consolidate.cpp:29-35) with FIXTURES.md §2.1's exact derivation.
    """
    dt = F.date_format("ts", DT_FORMAT)
    return events.select(
        F.col("event_id").alias("seq"),
        F.col("user_id").alias("pk"),
        _op_col(F.col("event_type")).alias("op"),
        dt.alias("date_time"),
        F.when(F.col("event_type") == "purchase", F.lit(None).cast("double"))
         .otherwise(F.col("value")).alias("value"),
        F.unix_timestamp("ts").alias("ts_epoch"),
        day_key(dt).alias("day"),
    )


def consolidate(changelog: DataFrame) -> DataFrame:
    """Within-batch last-event-wins consolidation per (day, pk).

    One hash aggregation (map-side partial combine, single shuffle on
    the merge key) — replaces consolidate.cpp:56-109's three
    unordered_maps.  ``seq`` must be unique within the batch (binlog
    position in the reference; ``event_id`` in the fixture).

    Output: ``day, pk, op('I'|'U'|'D'), date_time, value, ts_epoch``.
    """
    agg = changelog.groupBy("day", "pk").agg(
        F.max(F.when(F.col("op") == "I", F.col("seq"))).alias("_last_i"),
        F.max(F.when(F.col("op") == "D", F.col("seq"))).alias("_last_d"),
        F.max_by(F.struct("date_time", "value", "ts_epoch"), "seq").alias("_last"),
    )
    eff_op = (
        F.when(F.col("_last_i") > F.coalesce(F.col("_last_d"), F.lit(-1)), F.lit("I"))
         .when(F.col("_last_d").isNotNull(), F.lit("D"))
         .otherwise(F.lit("U"))
    )
    return agg.select(
        "day", "pk", eff_op.alias("op"),
        F.col("_last.date_time").alias("date_time"),
        F.col("_last.value").alias("value"),
        F.col("_last.ts_epoch").alias("ts_epoch"),
    )


def apply_changes(base: DataFrame, changes: DataFrame) -> DataFrame:
    """Merge consolidated changes into the base: the reference's
    delete → update-if-exists → insert-as-upsert (consolidate.cpp:184-214)
    as a single keyed full-outer join + CASE.

    ``base``    : day, pk, date_time, value, ts_epoch
    ``changes`` : day, pk, op, date_time, value, ts_epoch (consolidated —
                  exactly one row per (day, pk))

    Per key:  op='D' → drop;  op='U' → new payload iff base row exists;
    op='I' → new payload unconditionally; no change row → keep base row.
    """
    b = base.select(
        "day", "pk", F.lit(True).alias("_in_base"),
        F.col("date_time").alias("_b_dt"), F.col("value").alias("_b_val"),
        F.col("ts_epoch").alias("_b_ts"),
    )
    c = changes.select(
        "day", "pk", F.col("op").alias("_op"),
        F.col("date_time").alias("_c_dt"), F.col("value").alias("_c_val"),
        F.col("ts_epoch").alias("_c_ts"),
    )
    joined = b.join(c, on=["day", "pk"], how="full_outer")
    in_base = F.col("_in_base").isNotNull()
    op = F.col("_op")

    keep = (
        op.isNull()                      # untouched base row
        | (op == "I")                    # upsert always survives
        | ((op == "U") & in_base)        # update only if key exists
    )
    # after the keep-filter, any surviving I/U row takes the change payload
    take_change = op.isin("I", "U")
    return (
        joined.filter(keep)
        .select(
            "day", "pk",
            F.when(take_change, F.col("_c_dt")).otherwise(F.col("_b_dt")).alias("date_time"),
            F.when(take_change, F.col("_c_val")).otherwise(F.col("_b_val")).alias("value"),
            F.when(take_change, F.col("_c_ts")).otherwise(F.col("_b_ts")).alias("ts_epoch"),
        )
    )


def merge_into_sql(base_table: str, changes_rel: str, *,
                   key_cols: tuple[str, ...] = ("day", "pk"),
                   payload_cols: tuple[str, ...] = ("date_time", "value",
                                                    "ts_epoch"),
                   op_col: str = "op") -> str:
    """The ACID-lakehouse twin of :func:`apply_changes`: one ``MERGE
    INTO`` statement with identical semantics (delete →
    update-if-exists → insert-as-upsert, consolidate.cpp:184-214).

    The repo's SHIPPED contract is the portable full-outer+CASE above —
    it runs on any Spark, is oracle-checkable against DuckDB, and with
    AQE gets the same broadcast-vs-shuffle physical choice a MERGE
    would.  On a Delta/Iceberg deployment the transactional path is
    usually preferable (atomic commit, file-level skipping of untouched
    partitions, concurrent-writer safety); this generator emits that
    statement so the two paths cannot drift — it is the single source
    of truth for the clause order, and pytest pins its text against
    ``apply_changes``'s rule table.  ``changes_rel`` must be a
    CONSOLIDATED relation (one row per key, :func:`consolidate`), which
    is also what MERGE itself requires (multiple source matches on one
    target row raise).

    Clause mapping, per consolidated key:

    * ``op='D'`` + matched   → ``DELETE``  (not matched: no-op — a
      delete of an absent key vanishes, as in the reference);
    * ``op='U'`` + matched   → ``UPDATE``  (not matched: no-op —
      update-to-missing-pk is silently dropped, consolidate.cpp:194);
    * ``op='I'``             → matched ``UPDATE`` / not-matched
      ``INSERT`` — the unconditional upsert.
    """
    on = " AND ".join(f"t.{c} = s.{c}" for c in key_cols)
    sets = ", ".join(f"t.{c} = s.{c}" for c in payload_cols)
    all_cols = ", ".join((*key_cols, *payload_cols))
    src_vals = ", ".join(f"s.{c}" for c in (*key_cols, *payload_cols))
    return (
        f"MERGE INTO {base_table} t\n"
        f"USING {changes_rel} s\n"
        f"ON {on}\n"
        f"WHEN MATCHED AND s.{op_col} = 'D' THEN DELETE\n"
        f"WHEN MATCHED AND s.{op_col} IN ('U', 'I') THEN UPDATE SET {sets}\n"
        f"WHEN NOT MATCHED AND s.{op_col} = 'I' THEN\n"
        f"  INSERT ({all_cols}) VALUES ({src_vals})"
    )


def _lower_median_seq(log: DataFrame) -> int:
    """Exact lower median of ``seq``: the value at rank ceil(n/2).

    ``seq <= s`` then selects the same rows as the oracle's
    interpolated ``seq <= median(seq)`` for any n.  Two driver
    aggregations: an approx-percentile bracket at 0.5 ± 2/accuracy,
    whose rank error is at most n/accuracy, so it holds rank ceil(n/2);
    then the count below the bracket plus the sorted seqs inside it.
    Spark's exact ``percentile`` is an object-hash aggregate without
    codegen: 61 s against this helper's 4-6 s on 10M rows, 4 cores.
    """
    acc = 1000
    seq = F.col("seq")
    n, (lo, hi) = log.agg(
        F.count(seq), F.percentile_approx(
            seq, [0.5 - 2 / acc, 0.5 + 2 / acc], acc)).first()
    if n == 0:   # no seq: every split selects the same (empty) rows
        return 0
    below, inside = log.agg(
        F.count(F.when(seq < lo, 1)),
        F.sort_array(F.collect_list(
            F.when(seq.between(lo, hi), seq)))).first()
    i = (n + 1) // 2 - below - 1
    if not 0 <= i < len(inside):
        raise RuntimeError(
            f"median rank {(n + 1) // 2} of {n} outside the approx "
            f"bracket [{lo}, {hi}] ({below} rows below it)")
    return inside[i]


def cdc_merge(events: DataFrame) -> DataFrame:
    """End-to-end q24: replay every 'I' with ``seq <= s`` (s = exact
    median, FIXTURES.md §2.1) as the base, then merge the consolidated
    tail ``seq > s``.  Output rendering as the reference's: ``id``=pk,
    19-char ``date_time``, nullable ``value``, ``ts`` at fixed UTC+2
    (consolidate.cpp:45-53).

    A base row is an 'I' that precedes every tail event, so base and
    tail are ONE consolidation of ``op = 'I' OR seq > s``, keeping the
    keys whose effective op is 'I': a tail D after the last I kills
    the key, a tail I upserts, a U-only tail on a base key folds into
    its 'I' with the last U's payload, and a U-only tail on a missing
    key stays 'U' and is dropped (consolidate.cpp:194).
    """
    # no checkpoint on the changelog: it is scan+project, and block-
    # storing it measured slower at every size (BASELINE r7)
    log = derive_changelog(events)
    s = _lower_median_seq(log)
    merged = consolidate(log.filter((F.col("op") == "I") | (F.col("seq") > s)))
    return merged.filter(F.col("op") == "I").select(
        "day", F.col("pk").alias("id"), "date_time", "value",
        utc2_render(F.col("ts_epoch")).alias("ts"))
