"""Crash-safety of the mirror commit path (``sources.writer.commit``).

Each case runs one command whose commit is cut by a failing FS call
after each commit step in turn, then runs the same command again.  The
re-run must leave what one uninterrupted run leaves: the same days with
the same rows, a replica byte-identical to its primary, and no
``_staging`` or ``_prev`` behind.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from collections import Counter

import pyarrow.parquet as pq
import pytest

from enexory_parquet_export_spark.__main__ import main
from enexory_parquet_export_spark.sources import writer
from enexory_parquet_export_spark.streaming.cdc_stream import (
    CHANGELOG_SCHEMA,
    start_cdc_merge_stream,
    stream_changelog,
)

#: step -> (FS call, path under the root it targets, occurrence that fails)
STEPS = {
    "staged": ("rename", "/_prev/", 1),     # nothing set aside yet
    "aside": ("rename", "/_prev/", 2),      # one live day set aside
    "marked": ("rename", "/day=", 1),       # all aside, nothing swapped in
    "swapped": ("delete", "/_staging", 1),  # every staged day renamed in
    "dropping": ("delete", "/_prev", 1),    # _staging dropped, _prev not
}

MIRROR_SCHEMA = "day string, pk bigint, date_time string, value double, ts_epoch bigint"
BASE = [("2024-01-01", 1, "2024-01-01 01:00:00", 1.0, 101),
        ("2024-01-01", 2, "2024-01-01 02:00:00", 2.0, 102),
        ("2024-01-02", 3, "2024-01-02 03:00:00", 3.0, 103),
        ("2024-01-02", 4, "2024-01-02 04:00:00", 4.0, 104),
        ("2024-01-03", 5, "2024-01-03 05:00:00", 5.0, 105),
        ("2024-01-03", 6, "2024-01-03 06:00:00", 6.0, 106)]
# rewrites 2024-01-01 and 2024-01-02, empties 2024-01-03
BATCH = [(1, 1, "U", "2024-01-01 01:00:00", 9.0, 201, "2024-01-01"),
         (2, 7, "I", "2024-01-02 07:00:00", 7.0, 202, "2024-01-02"),
         (3, 5, "D", "2024-01-03 05:00:00", 5.0, 203, "2024-01-03"),
         (4, 6, "D", "2024-01-03 06:00:00", 6.0, 204, "2024-01-03")]
SRC_SCHEMA = "id bigint, date_time string, value double, ts string"
SOURCE = [(1, "2024-01-01 10:00:00", 1.0, "2024-01-01 10:00:00"),
          (2, "2024-01-02 10:00:00", 2.0, "2024-01-02 10:00:00"),
          (3, "2024-01-03 10:00:00", 3.0, "2024-01-03 10:00:00"),
          (4, "not a date", 4.0, "2024-01-03 11:00:00")]
LATE = [(5, "2024-01-03 12:00:00", 5.0, "2024-01-03 12:00:00"),
        (6, "2024-01-04 10:00:00", 6.0, "2024-01-04 10:00:00")]


class Crash(Exception):
    pass


class Fault:
    def __init__(self, root: str, step: str):
        self.call, where, self.nth = STEPS[step]
        self.root, self.prefix = root, root + where
        self.seen = 0
        self.fired = False

    def check(self, call: str, path) -> None:
        target = str(path).removeprefix("file:")
        if self.fired or call != self.call or not target.startswith(self.prefix):
            return
        self.seen += 1
        if self.seen == self.nth:
            self.fired = True
            raise Crash(f"{call} {target}")


class FaultyFS:
    """A Hadoop FileSystem whose rename/delete consult a :class:`Fault`."""

    def __init__(self, fs, fault: Fault):
        self._fs, self._fault = fs, fault

    def __getattr__(self, name):
        return getattr(self._fs, name)

    def rename(self, src, dst):
        self._fault.check("rename", dst)
        return self._fs.rename(src, dst)

    def delete(self, path, recursive):
        self._fault.check("delete", path)
        return self._fs.delete(path, recursive)


# ----------------------------------------------------------------- cases
# case -> (prepare(spark, d): build the inputs under d,
#          run(spark, d): the command under test,
#          the directory under d whose commit is cut)


def _render(spark, rows, out):
    from enexory_parquet_export_spark.operators.binlog import render_binlog_text
    (render_binlog_text(spark.createDataFrame(rows, CHANGELOG_SCHEMA))
     .select("line").coalesce(1).write.mode("overwrite").text(out))


def _prepare_mirror(spark, d):
    writer.write_day_partitioned(spark.createDataFrame(BASE, MIRROR_SCHEMA),
                                 f"{d}/mirror")


def _prepare_binlog(spark, d):
    _prepare_mirror(spark, d)
    _render(spark, BATCH, f"{d}/binlog")


def _run_binlog(spark, d):
    assert main(["binlog-apply", "--binlog-text", f"{d}/binlog",
                 "--mirror", f"{d}/mirror", "--replica", f"{d}/replica"]) == 0


def _prepare_stream(spark, d):
    _prepare_mirror(spark, d)
    spark.createDataFrame(BATCH, CHANGELOG_SCHEMA).coalesce(1) \
        .write.parquet(f"{d}/changelog")


def _run_stream(spark, d):
    q = start_cdc_merge_stream(stream_changelog(spark, f"{d}/changelog"),
                               f"{d}/mirror", f"{d}/ckpt")
    q.awaitTermination(120)


def _prepare_repair(spark, d):
    rows = [("0001-01-01", 1, "0001-01-01 00:00:00", 1.0, "0001-01-01 00:00:00"),
            ("0001-01-01", 2, "0001-01-01 00:00:00", 2.0, "0001-01-01 00:00:00"),
            ("2024-01-02", 3, "garbage", 3.0, "2024-01-02 10:00:00"),
            ("2024-01-03", 4, "2024-01-03 10:00:00", 4.0, "2024-01-03 10:00:00")]
    writer.write_day_partitioned(spark.createDataFrame(
        rows, "day string, " + SRC_SCHEMA), f"{d}/mirror")


def _run_repair(spark, d):
    assert main(["repair", "--mirror", f"{d}/mirror"]) == 0


def _prepare_sync(spark, d):
    spark.createDataFrame(SOURCE, SRC_SCHEMA).write.parquet(f"{d}/source")
    _run_sync(spark, d)
    spark.createDataFrame(LATE, SRC_SCHEMA).write.mode("append") \
        .parquet(f"{d}/source")


def _run_sync(spark, d):
    assert main(["sync", "--source-parquet", f"{d}/source",
                 "--mirror", f"{d}/mirror", "--replica", f"{d}/replica"]) == 0


CASES = {
    "binlog_apply": (_prepare_binlog, _run_binlog, "mirror"),
    "stream_retry": (_prepare_stream, _run_stream, "mirror"),
    "repair": (_prepare_repair, _run_repair, "mirror"),
    "sync_replica": (_prepare_sync, _run_sync, "replica"),
}


# ---------------------------------------------------------------- checks


def _rows_by_day(root: str) -> dict[str, Counter]:
    return {name: Counter(zip(*pq.read_table(os.path.join(root, name))
                              .to_pydict().values()))
            for name in sorted(os.listdir(root)) if name.startswith("day=")}


def _files(root: str) -> dict[str, str]:
    out = {}
    for day in sorted(os.listdir(root)):
        if day.startswith("day="):
            for f in sorted(os.listdir(os.path.join(root, day))):
                if f.endswith(".parquet"):
                    with open(os.path.join(root, day, f), "rb") as fh:
                        out[f"{day}/{f}"] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _leftovers(d: str) -> list[str]:
    return [os.path.join(root, n) for root, dirs, _ in os.walk(d)
            for n in dirs if n in (writer.STAGING, writer.PREV)]


_TEMPLATES: dict[str, tuple[str, dict]] = {}


def _template(spark, tmp_path_factory, case: str) -> tuple[str, dict]:
    """(prepared input dir, mirror rows of one uninterrupted run)."""
    if case not in _TEMPLATES:
        prepare, run, _ = CASES[case]
        tpl = str(tmp_path_factory.mktemp(case))
        prepare(spark, tpl)
        once = str(tmp_path_factory.mktemp(case + "_once"))
        shutil.copytree(tpl, once, dirs_exist_ok=True)
        run(spark, once)
        _TEMPLATES[case] = tpl, _rows_by_day(f"{once}/mirror")
    return _TEMPLATES[case]


@pytest.mark.parametrize("step", list(STEPS))
@pytest.mark.parametrize("case", list(CASES))
def test_cut_commit_converges_on_rerun(spark, tmp_path_factory, tmp_path,
                                       monkeypatch, case, step):
    tpl, expected = _template(spark, tmp_path_factory, case)
    _, run, target = CASES[case]
    d = str(tmp_path / "w")
    shutil.copytree(tpl, d)
    fault = Fault(f"{d}/{target}", step)
    real = writer._hadoop_fs

    def faulty(spark, path):
        fs, *rest = real(spark, path)
        return (FaultyFS(fs, fault) if path.startswith(fault.root) else fs, *rest)

    monkeypatch.setattr(writer, "_hadoop_fs", faulty)
    with pytest.raises(Exception):
        run(spark, d)
    assert fault.fired
    run(spark, d)

    assert _rows_by_day(f"{d}/mirror") == expected
    if os.path.isdir(f"{d}/replica"):
        assert _files(f"{d}/replica") == _files(f"{d}/mirror")
    assert not _leftovers(d)
