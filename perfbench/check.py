"""Output checks that do not depend on the program.

Mirrors are read back with pyarrow, never with the program's reader,
and compared with expectations the benchmark derives on its own: the
generator's sequential replay of the changelog (FIXTURES §2.1) for the
CDC mirror, and a Python normalization of the source for the sync
mirror.  All checks run outside the timed region and return a list of
problems (empty = correct).
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import os

import pyarrow.parquet as pq

SENTINEL = "0001-01-01 00:00:00"
LAX_FORMATS = ("%Y-%m-%d %H:%M:%S", "%Y-%m-%dT%H:%M:%S", "%Y-%m-%d",
               "%Y/%m/%d %H:%M:%S", "%Y/%m/%d")


def data_files(path: str):
    """Data files under ``path`` (no hidden, ``_``-prefixed or crc
    files), as (relative path, absolute path)."""
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        for f in sorted(files):
            if not f.startswith(("_", ".")):
                full = os.path.join(root, f)
                yield os.path.relpath(full, path), full


def day_dirs(path: str) -> list[str]:
    if not os.path.isdir(path):
        return []
    return sorted(d[4:] for d in os.listdir(path) if d.startswith("day="))


def read_days(path: str, columns: list[str]) -> dict[str, list[tuple]]:
    """day -> rows (tuples of ``columns``) of a ``day=`` layout."""
    out: dict[str, list[tuple]] = {}
    for day in day_dirs(path):
        rows = out.setdefault(day, [])
        for _, full in data_files(os.path.join(path, f"day={day}")):
            t = pq.read_table(full, columns=columns).to_pydict()
            rows.extend(zip(*(t[c] for c in columns)))
    return out


def live_rows(path: str) -> int:
    """Row count of a mirror from parquet footers only."""
    return sum(pq.ParquetFile(full).metadata.num_rows
               for _, full in data_files(path))


def tree_bytes(path: str) -> int:
    return sum(os.path.getsize(full) for _, full in data_files(path))


def snapshot(path: str) -> dict[str, tuple]:
    """relpath -> (size, mtime_ns, inode) of every file under ``path``,
    crc side files included (they are written too)."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            try:
                st = os.stat(full)
            except FileNotFoundError:
                continue
            out[os.path.relpath(full, path)] = (st.st_size, st.st_mtime_ns,
                                                st.st_ino)
    return out


def written(before: dict, after: dict) -> tuple[int, int, int]:
    """(data files written, bytes written, days written) between two
    snapshots; crc side files count toward bytes only."""
    files = nbytes = 0
    days = set()
    for rel, meta in after.items():
        if before.get(rel) == meta:
            continue
        nbytes += meta[0]
        name = os.path.basename(rel)
        if not name.startswith((".", "_")):
            files += 1
            days.add(os.path.dirname(rel) or name)
    return files, nbytes, len(days)


# ------------------------------------------------------------- CDC


def check_cdc(mirror: str, expected: dict) -> list[str]:
    """The mirror equals the replay: same (day, pk) keys, same payload,
    and no day directory without rows (an emptied day vanishes)."""
    problems = []
    got_days = read_days(mirror, ["pk", "date_time", "value", "ts_epoch"])
    got = {}
    for day, rows in got_days.items():
        if not rows:
            problems.append(f"empty day directory left behind: {day}")
        for pk, dt, v, ep in rows:
            if (day, pk) in got:
                problems.append(f"duplicate key {(day, pk)}")
            got[(day, pk)] = (dt, v, ep)
    exp_days = {d for d, _ in expected}
    if set(got_days) != exp_days:
        problems.append(f"days differ: extra {sorted(set(got_days) - exp_days)[:5]} "
                        f"missing {sorted(exp_days - set(got_days))[:5]}")
    if got != expected:
        diff = [k for k in set(got) | set(expected)
                if got.get(k) != expected.get(k)]
        problems.append(f"{len(diff)} rows differ from the replay, e.g. "
                        f"{[(k, got.get(k), expected.get(k)) for k in sorted(diff)[:3]]}")
    return problems


def effect(before: dict, batch: list[tuple]) -> tuple[int, int]:
    """(applied deletes, net inserts) of a batch on ``before``, from a
    sequential replay of the batch's events."""
    state: dict = {}
    for op, pk, dt, v, ep in batch:
        day = dt[:10]
        key = (day, pk)
        present = state[key] if key in state else key in before
        if op == "I":
            state[key] = True
        elif op == "D":
            state[key] = False
        else:
            state[key] = present
    deletes = sum(1 for k, live in state.items() if not live and k in before)
    inserts = sum(1 for k, live in state.items() if live and k not in before)
    return deletes, inserts


# ------------------------------------------------------------ sync


def normalize(s: str | None) -> str:
    """The reference's lax datetime normalization, sentinel on failure."""
    if (isinstance(s, str) and len(s) == 19 and s[0] != "0"
            and s[4] == s[7] == "-" and s[10] == " " and s[13] == s[16] == ":"):
        # canonical already: a valid value normalizes to itself
        try:
            _dt.datetime.fromisoformat(s)
            return s
        except ValueError:
            pass
    for fmt in LAX_FORMATS:
        try:
            return _dt.datetime.strptime(s, fmt).strftime("%Y-%m-%d %H:%M:%S")
        except (TypeError, ValueError):
            continue
    return SENTINEL


def expected_sync(source_dir: str) -> dict[int, tuple]:
    """id -> (day, date_time, value, ts) of the normalized source."""
    out = {}
    for _, full in data_files(source_dir):
        t = pq.read_table(full).to_pydict()
        for i, dt, v, ts in zip(t["id"], t["date_time"], t["value"], t["ts"]):
            nd = normalize(dt)
            out[i] = (nd[:10], nd, v, normalize(ts))
    return out


def check_sync(mirror: str, expected: dict) -> list[str]:
    got = {}
    problems = []
    for day, rows in read_days(mirror, ["id", "date_time", "value", "ts"]).items():
        for i, dt, v, ts in rows:
            if i in got:
                problems.append(f"duplicate id {i}")
            got[i] = (day, dt, v, ts)
    if got != expected:
        diff = [k for k in set(got) | set(expected)
                if got.get(k) != expected.get(k)]
        problems.append(f"{len(diff)} mirror rows differ from the normalized "
                        f"source, e.g. {[(k, got.get(k), expected.get(k)) for k in sorted(diff)[:3]]}")
    return problems


def tree_digest(path: str) -> dict[str, str]:
    out = {}
    for rel, full in data_files(path):
        with open(full, "rb") as f:
            out[rel] = hashlib.sha256(f.read()).hexdigest()
    return out


def check_replica(mirror: str, replica: str) -> list[str]:
    a, b = tree_digest(mirror), tree_digest(replica)
    if a == b:
        return []
    return [f"replica differs from mirror in "
            f"{len(set(a.items()) ^ set(b.items()))} files"]


def check_export(mirror: str, export: str) -> list[str]:
    """One ``YYYY-MM-DD.parquet`` per mirror day with the same rows."""
    mine = {d: sorted(r) for d, r in
            read_days(mirror, ["id", "date_time", "value", "ts"]).items()}
    got = {}
    for rel, full in data_files(export):
        if rel.endswith(".parquet"):
            t = pq.read_table(full, columns=["id", "date_time", "value", "ts"])
            d = t.to_pydict()
            got[rel[:-8]] = sorted(zip(d["id"], d["date_time"], d["value"], d["ts"]))
    if got != mine:
        return [f"export differs from mirror: {len(set(got) ^ set(mine))} "
                f"days in one only, {sum(got.get(k) != v for k, v in mine.items())} "
                f"days with other rows"]
    return []
