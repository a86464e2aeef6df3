"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

Fast tests need no Spark.  The oracle and known-defect tests share one
small in-process session; the command tests run ``perfbench/run.py``
as a subprocess (about a minute each).
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import check  # noqa: E402
import gen  # noqa: E402

TINY = gen.Traffic(days=3, rows_per_day=20, events_per_batch=60,
                   mix=(0.3, 0.4, 0.3), missing_update_share=0.2,
                   days_touched=2, segments_per_batch=3)


def _digest(path: str) -> dict[str, str]:
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            with open(os.path.join(root, f), "rb") as fh:
                out[os.path.relpath(fh.name, path)] = hashlib.sha256(
                    fh.read()).hexdigest()
    return out


def _generate(path: str, seed: int) -> None:
    state = gen.CdcState(seed, TINY)
    gen.write_mirror(state.initial_rows(), os.path.join(path, "mirror"))
    seg = 1
    for k in range(3):
        seg = gen.write_batch(state.batch(k), os.path.join(path, f"b{k}"),
                              seg, TINY.segments_per_batch)
    src = gen.SyncSource(seed, gen.Traffic(days=2, rows_per_day=50,
                                           invalid_dt_share=0.2))
    for d in range(2):
        pq.write_table(src.day_rows(d, 50, 0),
                       os.path.join(path, f"src{d}.parquet"))


def test_generator_is_byte_identical_for_a_seed(tmp_path):
    _generate(str(tmp_path / "a"), 7)
    _generate(str(tmp_path / "b"), 7)
    _generate(str(tmp_path / "c"), 8)
    a, b, c = (_digest(str(tmp_path / x)) for x in "abc")
    assert a and a == b
    assert a != c


def test_replay_effect_matches_count_parity():
    state = gen.CdcState(3, TINY)
    for k in range(4):
        before = dict(state.rows)
        events = state.batch(k)
        deletes, inserts = check.effect(before, events)
        assert len(state.rows) == len(before) - deletes + inserts


def test_normalize_matches_reference_rules():
    assert check.normalize("2024-01-05 10:00:00") == "2024-01-05 10:00:00"
    assert check.normalize("2024-01-05T10:00:00") == "2024-01-05 10:00:00"
    assert check.normalize("2024/01/05") == "2024-01-05 00:00:00"
    for bad in gen.INVALID_DT + ("", None):
        assert check.normalize(bad) == check.SENTINEL


def test_written_counts_new_and_changed_files(tmp_path):
    d = tmp_path / "m" / "day=2024-01-01"
    d.mkdir(parents=True)
    (d / "part-0.parquet").write_bytes(b"x" * 10)
    before = check.snapshot(str(tmp_path / "m"))
    (d / "part-1.parquet").write_bytes(b"y" * 7)
    (d / ".part-1.parquet.crc").write_bytes(b"z")
    files, nbytes, days = check.written(before, check.snapshot(str(tmp_path / "m")))
    assert (files, nbytes, days) == (1, 8, 1)


# ------------------------------------------------------- with Spark


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    from enexory_parquet_export_spark.session import get_spark
    s = get_spark("perfbench-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_oracle_agrees_with_program_on_tiny_cdc(spark, tmp_path):
    import workloads
    state = gen.CdcState(11, TINY)
    mirror = str(tmp_path / "mirror")
    gen.write_mirror(state.initial_rows(), mirror)
    seg = 1
    for k in range(3):
        events = state.batch(k)
        if k == 0:
            events = state.purge_sparse_day() + events
        d = str(tmp_path / f"b{k}")
        seg = gen.write_batch(events, d, seg, TINY.segments_per_batch)
        rc, _ = workloads.cli(["binlog-apply", "--binlog-text", d,
                               "--mirror", mirror])
        assert rc == 0
        assert check.check_cdc(mirror, state.rows) == []
    assert gen.day_str(-1) not in check.day_dirs(mirror)
    # the check notices a wrong mirror
    wrong = dict(state.rows)
    wrong.pop(next(iter(wrong)))
    assert check.check_cdc(mirror, wrong) != []


def test_oracle_agrees_with_program_on_tiny_sync(spark, tmp_path):
    import workloads
    t = gen.Traffic(days=3, rows_per_day=40, invalid_dt_share=0.1)
    src = gen.SyncSource(5, t)
    os.makedirs(tmp_path / "src")
    for d in range(3):
        pq.write_table(src.day_rows(d, 40, 0),
                       str(tmp_path / "src" / f"d{d}.parquet"))
    mirror, replica = str(tmp_path / "m"), str(tmp_path / "r")
    rc, res = workloads.cli(["sync", "--source-parquet", str(tmp_path / "src"),
                             "--mirror", mirror, "--replica", replica])
    assert rc == 0 and res["matches"]
    assert check.check_sync(mirror, check.expected_sync(str(tmp_path / "src"))) == []
    assert check.check_replica(mirror, replica) == []
    export = str(tmp_path / "x")
    assert workloads.cli(["export-ref", "--mirror", mirror, "--out", export])[0] == 0
    assert check.check_export(mirror, export) == []


@pytest.mark.xfail(strict=True, reason="incremental_sync refetches by raw "
                   "date_time >= resume day: an invalid value sorting after "
                   "it puts the sentinel day in the overwrite set, and the "
                   "invalid rows sorting before it are then dropped")
def test_known_defect_sync_keeps_invalid_rows_sorting_low(spark, tmp_path):
    import workloads
    schema = gen.SYNC_SCHEMA
    os.makedirs(tmp_path / "src")
    rows = [(1, "2024-01-01 10:00:00", 1.0, "2024-01-01 10:00:00"),
            (2, "", 2.0, ""),
            (4, "not a date", 4.0, "not a date"),
            (3, "2024-01-02 10:00:00", 3.0, "2024-01-02 10:00:00")]
    pq.write_table(pa.table(list(map(list, zip(*rows))), schema=schema),
                   str(tmp_path / "src" / "a.parquet"))
    argv = ["sync", "--source-parquet", str(tmp_path / "src"),
            "--mirror", str(tmp_path / "m")]
    assert workloads.cli(argv)[1]["matches"]
    assert workloads.cli(argv)[1]["matches"]      # second, incremental sync


@pytest.mark.xfail(strict=True, reason="repair re-reads its lazy input "
                   "after overwriting the partitions it reads from")
def test_known_defect_repair_of_a_partly_damaged_day(spark, tmp_path):
    import workloads
    os.makedirs(tmp_path / "src")
    rows = [(i, f"2024-01-01 10:00:0{i}", float(i), f"2024-01-01 10:00:0{i}")
            for i in range(1, 6)]
    pq.write_table(pa.table(list(map(list, zip(*rows))), schema=gen.SYNC_SCHEMA),
                   str(tmp_path / "src" / "a.parquet"))
    mirror = str(tmp_path / "m")
    assert workloads.cli(["sync", "--source-parquet", str(tmp_path / "src"),
                          "--mirror", mirror])[0] == 0
    day = os.path.join(mirror, "day=2024-01-01")
    part = next(f for _, f in check.data_files(day))
    tab = pq.read_table(part)
    dts = tab.column("date_time").to_pylist()
    dts[0] = dts[0].replace(" ", "T")
    tab = tab.set_column(tab.schema.get_field_index("date_time"),
                         "date_time", pa.array(dts, pa.string()))
    crc = os.path.join(day, "." + os.path.basename(part) + ".crc")
    if os.path.exists(crc):
        os.remove(crc)
    pq.write_table(tab, part)
    rc, res = workloads.cli(["repair", "--mirror", mirror])
    assert rc == 0 and res["rewritten_days"] == 1


# ------------------------------------------------------ the command


def _bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(args: list[str], cwd: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=300)


@pytest.mark.parametrize("workload,trace,kind", [
    ("cdc_scattered", "0", "end_to_end"),
    ("mirror_sync", "1", "per_layer"),
])
def test_command_prints_every_metric_with_its_unit(workload, trace, kind):
    spec = _bench_spec()
    p = _run(["--workload", workload, "--seed", "1", "--seconds", "1",
              "--trace", trace], ROOT)
    assert p.returncode == 0, p.stderr[-2000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    want = {m["name"]: m["unit"] for m in spec[kind]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    printed = {ln.split()[0]: ln.split()[2] for ln in lines[:-1]
               if len(ln.split()) >= 3 and ln.split()[0] in want}
    assert printed == want
    assert any(ln.startswith("error_rate 0 ") for ln in lines)
    assert any(ln.startswith("host before ") for ln in lines)


def test_command_fails_without_the_program(tmp_path):
    p = _run(["--workload", "cdc_recent", "--seed", "1", "--seconds", "1",
              "--trace", "0"], str(tmp_path))
    assert p.returncode != 0
    assert not p.stdout.strip()
