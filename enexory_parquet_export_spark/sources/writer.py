"""Day-partitioned parquet writer — the reference's partition contract.

The reference writes one snappy parquet file per day named
``YYYY-MM-DD.parquet`` (Parquet Export/db_extractor.py:15,211,247;
consolidate.cpp:116,375) and uses whole-partition rewrite as its only
update primitive.  We adopt the idiomatic Hive layout
(``day=YYYY-MM-DD/part-*.parquet``) and preserve the *contract*, not
the file shape (SURVEY.md §7 risk register):

- per-day overwrite is idempotent → every write is one :func:`commit`;
- a day whose merged result is empty disappears entirely
  (consolidate.cpp:226-238) → ``remove_empty_days`` drops partitions
  that were touched by a merge but produced zero rows.

Scale posture: a commit only rewrites touched
partitions, so a 100 TB mirror with a 3-day CDC window rewrites 3
partitions, never the table.  Its swap is a driver-side
metadata operation on the partition *list*, never a data scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

STAGING, PREV, SWAPPING = "_staging", "_prev", "_swapping"


def _hadoop_fs(spark: SparkSession, path: str):
    Path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    return Path(path).getFileSystem(hconf), Path, Path(path)


def _entries(fs, jdir) -> list[str]:
    """``day=X`` dirs / ``<day>.parquet`` files under ``jdir``."""
    if not fs.exists(jdir):
        return []
    return sorted(n for n in (s.getPath().getName() for s in fs.listStatus(jdir))
                  if not n.startswith(("_", ".")))


def _move(fs, src, dst) -> None:
    if not fs.rename(src, dst):  # Hadoop reports failure, not raises
        raise OSError(f"rename {src} -> {dst} failed")


def recover(spark: SparkSession, root: str) -> None:
    """Undo a commit cut before its commit point (set-aside entries go
    back), finish one cut after it (the rest of ``_staging`` goes in),
    then drop ``_prev`` and ``_staging``."""
    fs, Path, jroot = _hadoop_fs(spark, root)
    staging, prev = Path(jroot, STAGING), Path(jroot, PREV)
    if fs.exists(prev):
        src = staging if fs.exists(Path(prev, SWAPPING)) else prev
        for name in _entries(fs, src):
            if not fs.exists(Path(jroot, name)):
                _move(fs, Path(src, name), Path(jroot, name))
        fs.delete(prev, True)
    if fs.exists(staging):
        fs.delete(staging, True)


def commit(spark: SparkSession, root: str, stage=None,
           drop: list[str] = ()) -> list[str]:
    """The one way a mirror, replica or export changes: ``stage(path)``
    writes new entries under ``<root>/_staging``; the live entries they
    replace, and those in ``drop``, are renamed aside into ``_prev``;
    ``_prev/_swapping`` marks the commit point; the staged entries are
    renamed in; both bookkeeping dirs are dropped.  :func:`recover`
    leaves a cut commit all old or all new.  Between two commits of one
    command (merge then emptied-day drop, sync then replica) per-day
    atomicity is enough: days are independent and consolidated ops are
    idempotent per (day, pk), so re-running the same batch converges.
    One command at a time per root, as under the reference's cron."""
    recover(spark, root)
    fs, Path, jroot = _hadoop_fs(spark, root)
    staging, prev = Path(jroot, STAGING), Path(jroot, PREV)
    if stage is not None:
        stage(str(staging))
    staged = _entries(fs, staging)
    fs.mkdirs(prev)
    for name in sorted(set(staged) | set(drop)):
        if fs.exists(Path(jroot, name)):
            _move(fs, Path(jroot, name), Path(prev, name))
    fs.mkdirs(Path(prev, SWAPPING))
    for name in staged:
        _move(fs, Path(staging, name), Path(jroot, name))
    fs.delete(staging, True)
    fs.delete(prev, True)
    return staged


def write_day_partitioned(df: DataFrame, path: str,
                          file_format: str = "parquet", *,
                          replace_days: list[str] = ()) -> list[str]:
    """One :func:`commit` of the day-partitions present in ``df`` (and
    of removing those in ``replace_days`` it has none of) — the
    equivalent of the reference's per-day file overwrite
    (Parquet Export/db_extractor.py:247-248).

    ``file_format`` selects the columnar sink: ``parquet`` (the
    reference's mirror format, snappy by session conf) or ``orc``
    (same partition contract, same pushdown/pruning story).

    Returns the committed days, read off the staging listing (no job).
    """
    def stage(staging: str) -> None:
        (df.repartition("day")  # one shuffle → at most one writer task per day
           .write.partitionBy("day").format(file_format).save(staging))

    return [e[len("day="):] for e in commit(
        df.sparkSession, path, stage, drop=[f"day={d}" for d in replace_days])]


def list_days(spark: SparkSession, path: str) -> list[str]:
    """Partition values present under ``path`` (metadata only)."""
    recover(spark, path)
    fs, _, jpath = _hadoop_fs(spark, path)
    return [e[len("day="):] for e in _entries(fs, jpath) if e.startswith("day=")]


def remove_empty_days(spark: SparkSession, path: str,
                      touched_days: list[str],
                      surviving_days: list[str]) -> list[str]:
    """Drop day-partitions a merge touched but left empty: a write only
    stages days that have rows, so the reference's delete-file-when-empty
    behavior (consolidate.cpp:226-238) needs this explicit cleanup."""
    doomed = sorted(set(touched_days) - set(surviving_days))
    if doomed:
        commit(spark, path, drop=[f"day={d}" for d in doomed])
    return doomed


def read_day_partitioned(spark: SparkSession, path: str,
                         file_format: str = "parquet") -> DataFrame:
    """Read the mirror back; ``day`` comes from the directory layout,
    so day-filters become partition pruning (no data scan)."""
    recover(spark, path)
    return (spark.read.format(file_format).load(path)
                 .withColumn("day", F.col("day").cast("string")))


def write_clustered(df: DataFrame, path: str, cluster_cols: list[str], *,
                    n_files: int | None = None,
                    mode: str = "overwrite") -> None:
    """Range-cluster ``df`` on ``cluster_cols`` so parquet min/max
    footer statistics prune scans.

    ``repartitionByRange`` gives each output file a disjoint key range
    and ``sortWithinPartitions`` tightens every row group's min/max to
    a narrow slice — a point or range predicate on the cluster key
    then skips whole files (and row groups within them) from the
    footer alone, before any data IO.  At 100 TB this is the
    difference between a key lookup scanning the table and scanning
    one file; it is the flat-file analog of the reference's
    one-day-per-file layout (db_extractor.py:211), generalized to any
    key.  Cost: one range shuffle (sampling pass + exchange) at write
    time — paid once, saved on every subsequent selective read.
    """
    part = (df.repartitionByRange(n_files, *cluster_cols)
            if n_files is not None else df.repartitionByRange(*cluster_cols))
    (part.sortWithinPartitions(*cluster_cols)
         .write.mode(mode).parquet(path))


#: production parquet sweet spot; tests pass something tiny
DEFAULT_TARGET_FILE_BYTES = 128 * 1024 * 1024


def day_file_stats(spark: SparkSession, path: str) -> dict[str, tuple[int, int]]:
    """``{day: (n_files, total_bytes)}`` — pure file-listing metadata."""
    fs, Path, jpath = _hadoop_fs(spark, path)
    out: dict[str, tuple[int, int]] = {}
    for day in list_days(spark, path):
        sizes = [f.getLen() for f in fs.listStatus(Path(jpath, f"day={day}"))
                 if f.isFile() and not f.getPath().getName().startswith(("_", "."))]
        out[day] = (len(sizes), sum(sizes))
    return out


def compact_days(spark: SparkSession, path: str, *,
                 target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES) -> dict[str, int]:
    """Rewrite fragmented day-partitions to ≈``target_file_bytes`` files.

    Long-running CDC merges leave each hot day with one small file per
    merge batch; at 100 TB the resulting listing/open overhead (and
    scan tasks per file) dominates read cost.  This is the maintenance
    twin of the reference's one-file-per-day invariant
    (Parquet Export/db_extractor.py:211) expressed as an explicit,
    idempotent operator: per fragmented day, read → ``repartition(n)``
    with n = ceil(bytes/target), all in ONE :func:`commit`.  Days
    already at their target count are skipped without reading data
    (``day_file_stats`` is listing-only), so the cost is proportional
    to fragmentation, not table size.

    Returns ``{day: new_file_count}`` for the rewritten days.
    """
    todo = {}
    for day, (n_files, total) in day_file_stats(spark, path).items():
        want = max(1, -(-total // target_file_bytes))
        if n_files > want:
            todo[day] = want
    if not todo:
        return todo
    df = read_day_partitioned(spark, path)

    def stage(staging: str) -> None:
        for day, want in todo.items():
            (df.filter(F.col("day") == day)   # partition-pruned scan
               .repartition(want)
               .write.mode("append").partitionBy("day").parquet(staging))

    commit(spark, path, stage)
    return todo


def zorder_key(cols: list, bits: int = 16):
    """Morton (Z-order) interleave of ``cols`` as one BIGINT sort key.

    Each column must already be a non-negative integer rank in
    ``[0, 2^bits)`` (use ``ntile``/width bucketing or a rank window to
    get one); the key interleaves their bits so that sorting by it
    keeps EVERY input dimension locally clustered — per-file min/max
    footer ranges stay narrow on all dimensions at once, where a
    lexicographic sort only tightens the leading column.  Pure
    shift/or expression tree: stays in whole-stage codegen, no UDF.

    This is the standard multi-dimensional data-skipping layout
    (Morton curves; the technique behind OPTIMIZE ZORDER in
    lakehouse table formats), applied to plain parquet.

    ``len(cols) * bits`` must fit below the BIGINT sign bit (≤ 63):
    a top bit at position 63 would make half the keys negative and
    sort BEFORE all positive ones, silently destroying the clustering
    (ADVICE r2).  Each column is masked to ``bits`` wide so an
    out-of-range rank corrupts only its own key, never a neighbor's
    interleave lanes.
    """
    from functools import reduce
    from operator import add

    from pyspark.sql import functions as F

    n = len(cols)
    if n * bits > 63:
        raise ValueError(
            f"zorder_key: {n} cols × {bits} bits = {n * bits} bits "
            f"overflows the BIGINT sign bit (max 63); lower bits to "
            f"{63 // n} or rank fewer columns")
    terms = []
    for b in range(bits):
        for i, c in enumerate(cols):
            # bit b of col i lands at interleaved position b*n + i;
            # the mask clamps ranks outside [0, 2^bits) to their low
            # `bits` bits instead of bleeding into other lanes
            col = F.col(c) if isinstance(c, str) else c
            masked = col.cast("bigint").bitwiseAND(F.lit((1 << bits) - 1))
            bit = F.shiftright(masked, b).bitwiseAND(F.lit(1))
            terms.append(F.shiftleft(bit, b * n + i))
    return reduce(add, terms)


def write_zordered(df: DataFrame, path: str, rank_cols: list[str], *,
                   bits: int = 16, n_files: int | None = None,
                   mode: str = "overwrite") -> None:
    """Cluster ``df`` on the Z-order interleave of ``rank_cols``
    (each pre-ranked to ``[0, 2^bits)``): one range shuffle on the
    Morton key, then a within-partition sort — every dimension's
    footer min/max stays narrow, so selective predicates on ANY of
    the clustered columns prune files, not just the leading one.
    """
    z = zorder_key(list(rank_cols), bits).alias("_z")
    part = df.withColumn("_z", z)
    part = (part.repartitionByRange(n_files, "_z")
            if n_files is not None else part.repartitionByRange("_z"))
    (part.sortWithinPartitions("_z").drop("_z")
         .write.mode(mode).parquet(path))


def write_reference_layout(df: DataFrame, path: str) -> list[str]:
    """Export in the REFERENCE'S file layout: one snappy parquet file
    per day named ``YYYY-MM-DD.parquet`` flat under ``path`` — exactly
    what ``db_extractor.py:15,211,247`` writes and what its repair pass
    parses back out of the filename (db_extractor.py:160-163).

    The engine's native mirror keeps the Hive ``day=`` layout; this
    compat mode lets reference tooling (row_integrity.py, the repair
    walk, downstream consumers globbing ``*.parquet``) consume the
    mirror unchanged during a migration.  The ``day`` column lives in
    the FILENAME only, matching the reference (its per-day files don't
    carry the day as a column).

    Mechanics: one day-partitioned write (one file per day via the
    partition repartition), renamed to ``<day>.parquet`` inside the
    staging area, then one :func:`commit` of those files.  Idempotent:
    an existing ``<day>.parquet`` is replaced; other days stay.

    Returns the day keys written.
    """
    spark = df.sparkSession

    def stage(staging: str) -> None:
        parts = f"{staging}/_parts"
        df.repartition("day").write.partitionBy("day").parquet(parts)
        fs, Path, jparts = _hadoop_fs(spark, parts)
        for entry in _entries(fs, jparts):
            files = [st.getPath() for st in fs.listStatus(Path(jparts, entry))
                     if st.getPath().getName().endswith(".parquet")]
            if len(files) != 1:  # repartition(day) guarantees one file
                raise RuntimeError(f"expected one part file for {entry}, "
                                   f"got {len(files)}")
            _move(fs, files[0], Path(f"{staging}/{entry[len('day='):]}.parquet"))

    return [e[:-len(".parquet")] for e in commit(spark, path, stage)]


def read_reference_layout(spark: SparkSession, path: str) -> DataFrame:
    """Read a reference-layout export back, deriving ``day`` from the
    ``YYYY-MM-DD.parquet`` filename — the inverse of
    :func:`write_reference_layout` and the same filename-as-date parse
    the reference's repair pass performs (db_extractor.py:160-163)."""
    return (spark.read.parquet(path.rstrip("/") + "/*.parquet")
            .withColumn("day", F.regexp_extract(
                F.col("_metadata.file_path"),
                r"(\d{4}-\d{2}-\d{2})\.parquet$", 1)))


def mirror_to_replica(spark: SparkSession, primary: str,
                      replica: str) -> list[str]:
    """Second-target mirror sink (O27): copy day-partitions
    byte-for-byte from the primary mirror to a replica path.

    The reference rsyncs its freshly-written day files to a second
    mirror after every merge (parse_binlogs.sh:146-151); a byte copy of
    the already-written partitions preserves that exactly — the replica
    is a verbatim clone (hash-identical files), not a re-encode, and
    re-running the copy is idempotent (copy to staging, :func:`commit`).
    Driver-side FS operation bounded by day count — the data bytes move
    through the filesystem layer, never through Spark.
    """
    fs, Path, _ = _hadoop_fs(spark, primary)
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    copy = spark.sparkContext._jvm.org.apache.hadoop.fs.FileUtil.copy
    days = list_days(spark, primary)

    def stage(staging: str) -> None:
        for day in days:
            copy(fs, Path(f"{primary}/day={day}"),
                 fs, Path(f"{staging}/day={day}"), False, True, hconf)

    # a day deleted on the primary disappears from the replica too
    stale = [f"day={d}" for d in list_days(spark, replica)]
    return [e[len("day="):] for e in commit(spark, replica, stage, drop=stale)]
