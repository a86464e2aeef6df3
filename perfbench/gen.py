"""Seeded input generator for the benchmark.

Everything the program under test reads is made here from a seed, with
the benchmark's own code only: binlog pseudo-SQL segments are rendered
by :func:`render_segment`, never by the program's own renderer, so a
program change cannot change the inputs.  Same seed and knobs give
byte-identical files.

Layouts produced:

* CDC mirror seed — one ``day=YYYY-MM-DD/part-0.parquet`` per day with
  columns ``pk bigint, date_time string, value double, ts_epoch bigint``
  (the layout ``binlog-apply`` reads and writes);
* binlog segments — ``mysql-bin.NNNNNN`` text files of mysqlbinlog-style
  pseudo-SQL for table ``enexory.api_data_timeseries``;
* sync source — parquet files of ``id bigint, date_time string,
  value double, ts string`` (the ``sync --source-parquet`` shape).
"""

from __future__ import annotations

import datetime as _dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE = "`enexory`.`api_data_timeseries`"
HEADERS = {"I": f"INSERT INTO {TABLE}", "U": f"UPDATE {TABLE}",
           "D": f"DELETE FROM {TABLE}"}
EPOCH0 = _dt.datetime(2024, 1, 1)
SENTINEL = "0001-01-01 00:00:00"


@dataclass(frozen=True)
class Traffic:
    """Traffic dimensions of one workload (the generator's knobs)."""
    days: int                      # days in the seeded mirror / source
    rows_per_day: int              # live rows per day at set-up
    events_per_batch: int = 0      # changelog events per binlog-apply batch
    mix: tuple = (0.2, 0.6, 0.2)   # share of I / U / D events
    missing_update_share: float = 0.0  # share of U events on absent pks
    days_touched: int = 0          # newest days a batch touches (0 = all)
    late_row_share: float = 0.0    # sync: late rows for the resume day
    invalid_dt_share: float = 0.0  # sync: share of unparseable datetimes
    segments_per_batch: int = 1    # binlog segments a batch is split into


def day_str(i: int) -> str:
    return (EPOCH0 + _dt.timedelta(days=i)).strftime("%Y-%m-%d")


def _dt_strings(day_idx: np.ndarray, secs: np.ndarray) -> list[str]:
    base = np.datetime64("2024-01-01T00:00:00")
    stamps = base + (day_idx.astype("int64") * 86400
                     + secs.astype("int64")).astype("timedelta64[s]")
    return [str(s).replace("T", " ") for s in stamps]


def _epoch(day_idx: np.ndarray, secs: np.ndarray) -> np.ndarray:
    return 1704067200 + day_idx.astype("int64") * 86400 + secs.astype("int64")


def _values(rng: np.random.Generator, n: int, null_share: float = 0.02):
    v = np.round(rng.exponential(40.0, n), 2)
    return [None if nul else float(x)
            for x, nul in zip(v, rng.random(n) < null_share)]


# --------------------------------------------------------------- CDC


class CdcState:
    """Seeded CDC inputs: the initial mirror rows and a deterministic
    stream of batches.  Batch ``k`` depends only on (seed, knobs, k)
    and the live key set the generator tracks itself, so every run
    with one seed sees the same batches."""

    def __init__(self, seed: int, t: Traffic):
        self.t = t
        self.seed = seed
        rng = np.random.default_rng([seed, 0])
        n = t.days * t.rows_per_day
        day_idx = np.repeat(np.arange(t.days), t.rows_per_day)
        secs = rng.integers(0, 86400, n)
        pks = np.arange(1, n + 1)
        dts = _dt_strings(day_idx, secs)
        vals = _values(rng, n)
        eps = _epoch(day_idx, secs)
        #: (day, pk) -> (date_time, value, ts_epoch); the live mirror as
        #: the generator believes it, used to pick keys for U/D events
        self.rows: dict = {}
        for d, pk, dt, v, e in zip(day_idx.tolist(), pks.tolist(), dts,
                                   vals, eps.tolist()):
            self.rows[(day_str(d), pk)] = (dt, v, e)
        # a sparse day before the first, which the warm-up batch empties
        for j in range(3):
            self.rows[(day_str(-1), n + 1 + j)] = (
                f"{day_str(-1)} 12:00:0{j}", float(j), 1704024000 + j)
        self.next_pk = n + 4
        self._keys_by_day: dict[str, list[int]] = {}
        for (day, pk) in self.rows:
            self._keys_by_day.setdefault(day, []).append(pk)

    def initial_rows(self):
        return dict(self.rows)

    def purge_sparse_day(self) -> list[tuple]:
        """Delete events for every row of the sparse seed day."""
        day = day_str(-1)
        out = []
        for pk in list(self._keys_by_day.get(day, [])):
            dt, v, e = self.rows.pop((day, pk))
            out.append(("D", pk, dt, v, e))
        self._keys_by_day[day] = []
        return out

    def batch(self, k: int) -> list[tuple]:
        """Events of batch ``k``: (op, pk, date_time, value, ts_epoch)
        in apply order.  Advances the generator's view of the mirror
        with a plain sequential replay."""
        t = self.t
        n = t.events_per_batch
        rng = np.random.default_rng([self.seed, 1, k])
        span = t.days_touched or t.days
        days = t.days - span + rng.integers(0, span, n)
        secs = rng.integers(0, 86400, n)
        ops = rng.choice(["I", "U", "D"], size=n, p=t.mix).tolist()
        missing = (rng.random(n) < t.missing_update_share).tolist()
        picks = rng.random(n).tolist()
        draws = zip(ops, missing, picks, _dt_strings(days, secs),
                    _values(rng, n), _epoch(days, secs).tolist())
        out = []
        for op, miss, pick, dt, val, ep in draws:
            day = dt[:10]
            keys = self._keys_by_day.setdefault(day, [])
            if op == "I" or not keys:
                pk = self.next_pk
                self.next_pk += 1
                op = "I"
            elif op == "U" and miss:
                pk = self.next_pk          # never inserted: a no-op update
                self.next_pk += 1
            else:
                pk = keys[int(pick * len(keys))]
            out.append((op, pk, dt, val, ep))
            key = (day, pk)
            if op == "I":
                if key not in self.rows:
                    keys.append(pk)
                self.rows[key] = (dt, val, ep)
            elif op == "U":
                if key in self.rows:
                    self.rows[key] = (dt, val, ep)
            elif key in self.rows:
                del self.rows[key]
                keys.remove(pk)
        return out


def write_mirror(rows: dict, path: str) -> None:
    """Write ``rows`` ((day, pk) -> payload) in the mirror's layout."""
    by_day: dict[str, list] = {}
    for (day, pk), (dt, v, e) in rows.items():
        by_day.setdefault(day, []).append((pk, dt, v, e))
    schema = pa.schema([("pk", pa.int64()), ("date_time", pa.string()),
                        ("value", pa.float64()), ("ts_epoch", pa.int64())])
    for day, recs in sorted(by_day.items()):
        recs.sort()
        cols = list(zip(*recs))
        d = os.path.join(path, f"day={day}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(pa.table([list(c) for c in cols], schema=schema),
                       os.path.join(d, "part-0.parquet"))


def render_segment(events: list[tuple]) -> str:
    """mysqlbinlog ``--verbose`` style pseudo-SQL for ``events``.

    UPDATE blocks carry a WHERE row-image before the SET image, and
    every block is wrapped in ``# at``/``BEGIN``/``COMMIT`` noise lines
    that the parser must skip."""
    lines = []
    pos = 4
    for op, pk, dt, val, ep in events:
        v = "NULL" if val is None else repr(val)
        img = [f"  @1={pk}", "  @2=0", f"  @3='{dt}'", f"  @4={v}",
               "  @5=0", f"  @6={ep}"]
        lines.append(f"# at {pos}")
        lines.append("BEGIN")
        lines.append(HEADERS[op])
        if op == "U":
            lines += ["WHERE", f"  @1={pk}", "  @2=0", f"  @3='{SENTINEL}'",
                      "  @4=-999999.0", "  @5=0", "  @6=0", "SET"] + img
        elif op == "I":
            lines += ["SET"] + img
        else:
            lines += ["WHERE"] + img
        lines.append("COMMIT/*!*/;")
        pos += 211
    return "\n".join(lines) + "\n"


def write_batch(events: list[tuple], out_dir: str, first_segment: int,
                segments: int) -> int:
    """Split one batch into ``segments`` rotated segment files named in
    rotation order; returns the next segment number."""
    os.makedirs(out_dir, exist_ok=True)
    per = -(-len(events) // segments)
    n = first_segment
    for i in range(0, len(events), per):
        with open(os.path.join(out_dir, f"mysql-bin.{n:06d}"), "w") as f:
            f.write(render_segment(events[i:i + per]))
        n += 1
    return n


# -------------------------------------------------------------- sync

SYNC_SCHEMA = pa.schema([("id", pa.int64()), ("date_time", pa.string()),
                         ("value", pa.float64()), ("ts", pa.string())])
#: unparseable datetimes, all sorting after every day the source holds:
#: ``incremental_sync`` refetches by raw ``date_time >=`` resume day, so
#: mixing in one that sorts before it (``""``) loses that row from the
#: sentinel day (a known defect, pinned by the strict xfail in
#: tests/test_perfbench.py)
INVALID_DT = ("not a date", "2024-13-45 99:99:99", "yesterday")


class SyncSource:
    """A seeded source table that grows by one day per sync op."""

    def __init__(self, seed: int, t: Traffic):
        self.seed = seed
        self.t = t
        self.next_id = 1

    def day_rows(self, d: int, n: int, tag: int) -> pa.Table:
        """``n`` source rows dated day ``d``; a share carry unparseable
        datetimes (they normalize to the sentinel day)."""
        rng = np.random.default_rng([self.seed, 2, d, tag])
        secs = rng.integers(0, 86400, n)
        dts = _dt_strings(np.full(n, d), secs)
        bad = rng.random(n) < self.t.invalid_dt_share
        pick = rng.integers(0, len(INVALID_DT), n)
        dts = [INVALID_DT[p] if b else s for s, b, p in zip(dts, bad, pick)]
        ids = np.arange(self.next_id, self.next_id + n)
        self.next_id += n
        return pa.table([ids, dts, _values(rng, n), dts], schema=SYNC_SCHEMA)
