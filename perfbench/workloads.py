"""The benchmark's workloads.

Each workload is a closed loop with one client (the cron caller waits
for every command), driving the program only through
``enexory_parquet_export_spark.__main__.main([...])`` in-process.  A
run builds its seeded state, warms up with ``WARMUP_OPS`` untimed ops,
then times at least ``FIXED_OPS`` unit ops, and more while the next
one should end within ``--seconds``.  Input generation and output checks run
outside the program's time: ``wall_s`` is the program's time over the
first ``FIXED_OPS`` ops (plus the closing ``export-ref`` of
``mirror_sync``), so it measures a fixed amount of work.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import check
import gen
from gen import Traffic

#: knob values per workload; BENCHMARK.json's ``why`` says why each
#: workload exists, this table is the record of its traffic dimensions
TRAFFIC = {
    # every I/U/D event lands in the newest two of 30 days
    "cdc_recent": Traffic(days=30, rows_per_day=2000, events_per_batch=6000,
                          mix=(0.2, 0.6, 0.2), missing_update_share=0.05,
                          days_touched=2, segments_per_batch=4),
    # small batches spread uniformly over all 30 days (late data)
    "cdc_scattered": Traffic(days=30, rows_per_day=2000, events_per_batch=1000,
                             mix=(0.3, 0.5, 0.2), missing_update_share=0.05,
                             days_touched=0, segments_per_batch=1),
    # 30-day source, one new day plus late rows for the resume day per op
    "mirror_sync": Traffic(days=30, rows_per_day=1500, late_row_share=0.02,
                           invalid_dt_share=0.01),
}
FIXED_OPS = 4
WARMUP_OPS = 3
SETUP_REPS = 3


@dataclass
class Op:
    latency_s: float
    rows: int
    ok: bool
    detail: str = ""
    src_rows: int = 0        # source rows at op start (sync)
    mirror_rows: int = 0     # live mirror rows at op start
    bytes_written: int = 0   # under the mirror and replica
    rows_changed: int = 0


@dataclass
class Outcome:
    setup_s: float = 0.0
    closing_s: float = 0.0   # program time of the closing ops (export)
    ops: list = field(default_factory=list)
    problems: list = field(default_factory=list)
    closing_bytes: int = 0   # written by the closing ops (export)
    mirror: str = ""


def cli(argv: list[str]) -> tuple[int, dict]:
    """Run one program command in-process; (exit code, its JSON)."""
    from enexory_parquet_export_spark.__main__ import main
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(argv)
    lines = buf.getvalue().strip().splitlines()
    return rc, (json.loads(lines[-1]) if lines else {})


class Workload:
    name = ""

    def __init__(self, ctx, seed: int, seconds: float):
        self.ctx = ctx                  # run.Context: spark, tracer, work dir
        self.seed = seed
        self.seconds = seconds
        self.t = TRAFFIC[self.name]
        self.out = Outcome()

    def path(self, *parts) -> str:
        return os.path.join(self.ctx.work, *parts)

    def timed_op(self, k: int, argv: list[str], rows: int, span_name: str,
                 watch: list[str], src_rows: int = 0) -> Op:
        """One unit op: the command runs inside an op span; written bytes
        under ``watch`` are taken from file snapshots around it."""
        tr = self.ctx.tracer
        mirror_rows = check.live_rows(watch[0])
        before = [check.snapshot(p) for p in watch]
        tr.isolated_s = 0.0
        ok, detail = True, ""
        with tr.span(span_name, op=k) as sp:
            try:
                rc, res = cli(argv)
                ok = rc == 0 and res.get("matches", True) is not False
                detail = json.dumps(res)
            except Exception as exc:   # a failed op is counted, not fatal
                ok, detail = False, repr(exc)
        nbytes = sum(check.written(b, check.snapshot(p))[1]
                     for p, b in zip(watch, before))
        return Op(sp.dur - tr.isolated_s, rows, ok, detail, src_rows,
                  mirror_rows, nbytes)

    def loop(self, make_op) -> None:
        """Closed loop: ``make_op(k)`` for at least ``FIXED_OPS`` ops,
        then while the next op, at the median step so far, still ends
        within ``seconds``."""
        t0 = time.perf_counter()
        steps = []
        while (len(steps) < FIXED_OPS or time.perf_counter() - t0
               + statistics.median(steps) <= self.seconds):
            t = time.perf_counter()
            self.out.ops.append(make_op(len(steps)))
            steps.append(time.perf_counter() - t)


class Cdc(Workload):
    """Sequential ``binlog-apply`` batches into a seeded 30-day mirror."""

    def setup(self) -> None:
        reps = []
        for r in range(SETUP_REPS):
            t = time.perf_counter()
            state = gen.CdcState(self.seed, self.t)
            mirror = self.path(f"mirror{r}")
            gen.write_mirror(state.initial_rows(), mirror)
            reps.append(time.perf_counter() - t)
        for r in range(1, SETUP_REPS):
            shutil.rmtree(self.path(f"mirror{r}"))
        self.state, self.mirror = state, self.path("mirror0")
        self.seg = 1
        t = time.perf_counter()
        for k in range(-WARMUP_OPS, 0):
            warm = self.apply(k)
            if not warm.ok:
                self.out.problems.append(f"warm-up batch failed: {warm.detail}")
        self.out.setup_s = statistics.median(reps) + time.perf_counter() - t
        self.out.problems += check.check_cdc(self.mirror, self.state.rows)

    def apply(self, k: int) -> Op:
        """Batch ``k`` (negative: an untimed warm-up) through
        ``binlog-apply``."""
        before = dict(self.state.rows)
        events = self.state.batch(k + WARMUP_OPS)
        if k == -WARMUP_OPS:   # the first batch also empties the sparse seed day
            events = self.state.purge_sparse_day() + events
        d = self.path("binlog", f"b{k + WARMUP_OPS:05d}")
        self.seg = gen.write_batch(events, d, self.seg,
                                   self.t.segments_per_batch)
        if k >= 0:
            for _, f in check.data_files(d):
                with open(f) as text:
                    self.ctx.binlog_lines += sum(1 for ln in text if ln.strip())
        op = self.timed_op(k, ["binlog-apply", "--binlog-text", d,
                               "--mirror", self.mirror],
                           len(events), "op.binlog_apply", [self.mirror])
        # count parity: rows_after = rows_before - deletes + net inserts
        deletes, inserts = check.effect(before, events)
        live = check.live_rows(self.mirror)
        if live != len(before) - deletes + inserts:
            op.ok = False
            op.detail += (f" count parity broken: {live} != {len(before)}"
                          f" - {deletes} + {inserts}")
        op.rows_changed = sum(
            1 for key in {(e[2][:10], e[1]) for e in events}
            if before.get(key) != self.state.rows.get(key))
        shutil.rmtree(d)
        return op

    def run(self) -> None:
        self.loop(lambda k: self.apply(k))
        self.out.problems += check.check_cdc(self.mirror, self.state.rows)
        self.out.mirror = self.mirror


class CdcRecent(Cdc):
    name = "cdc_recent"


class CdcScattered(Cdc):
    name = "cdc_scattered"


class MirrorSync(Workload):
    """Daily ``sync --replica`` cycles over a growing source, closed by
    an ``export-ref``."""
    name = "mirror_sync"

    def setup(self) -> None:
        self.src = self.path("source")
        os.makedirs(self.src)
        self.source = gen.SyncSource(self.seed, self.t)
        for d in range(self.t.days):
            pq.write_table(self.source.day_rows(d, self.t.rows_per_day, 0),
                           os.path.join(self.src, f"d{d:04d}-0.parquet"))
        self.day = self.t.days                  # next day to append
        reps = []
        last = gen.day_str(self.t.days)
        for r in range(SETUP_REPS):
            t = time.perf_counter()
            rc, _ = cli(["backfill", "--source-parquet", self.src,
                         "--mirror", self.path(f"mirror{r}"),
                         "--min-date", last])
            reps.append(time.perf_counter() - t)
            if rc != 0:
                self.out.problems.append(f"backfill exited {rc}")
        for r in range(1, SETUP_REPS):
            shutil.rmtree(self.path(f"mirror{r}"))
        self.mirror, self.replica = self.path("mirror0"), self.path("replica")
        t = time.perf_counter()
        for k in range(-WARMUP_OPS, 0):
            warm = self.sync(k)
            if not warm.ok:
                self.out.problems.append(f"warm-up sync failed: {warm.detail}")
        self.out.setup_s = statistics.median(reps) + time.perf_counter() - t

    def sync(self, k: int) -> Op:
        """Append one new day plus late rows for the resume day (the
        newest mirrored day), then sync."""
        t = self.t
        resume = gen.day_str(self.day - 1)
        pq.write_table(self.source.day_rows(self.day, t.rows_per_day, 0),
                       os.path.join(self.src, f"d{self.day:04d}-0.parquet"))
        late = max(1, int(t.rows_per_day * t.late_row_share))
        pq.write_table(self.source.day_rows(self.day - 1, late, 1),
                       os.path.join(self.src, f"d{self.day - 1:04d}-1.parquet"))
        self.day += 1
        before = check.live_rows(self.mirror)
        fresh = sum(1 for _, full in check.data_files(self.src)
                    for dt in pq.read_table(full, columns=["date_time"])
                    .column(0).to_pylist() if dt >= resume)
        src_rows = check.live_rows(self.src)
        op = self.timed_op(k, ["sync", "--source-parquet", self.src,
                               "--mirror", self.mirror,
                               "--replica", self.replica],
                           fresh, "op.sync", [self.mirror, self.replica],
                           src_rows)
        op.rows_changed = check.live_rows(self.mirror) - before
        return op

    def run(self) -> None:
        self.loop(self.sync)
        self.out.problems += check.check_replica(self.mirror, self.replica)
        # closing op: export in the reference's layout; counts toward
        # wall_s, not toward op latency
        export = self.path("export")
        with self.ctx.tracer.span("op.export_ref") as sp:
            rc, _ = cli(["export-ref", "--mirror", self.mirror,
                         "--out", export])
        self.out.closing_s = sp.dur
        if rc != 0:
            self.out.problems.append(f"export-ref exited {rc}")
        self.out.closing_bytes = check.tree_bytes(export)
        self.out.problems += check.check_sync(
            self.mirror, check.expected_sync(self.src))
        self.out.problems += check.check_export(self.mirror, export)
        self.out.mirror = self.mirror


WORKLOADS = {w.name: w for w in (CdcRecent, CdcScattered, MirrorSync)}
