"""SparkSession construction and runtime configuration pinning.

The engine depends on a handful of session-level settings for
determinism and scale; ``configure()`` applies the runtime-settable
ones to *any* session (including one we did not build), and
``get_spark()`` builds a local session with the full set.

Determinism notes (SURVEY.md §2.2 rules):
- session timezone pinned to UTC — the reference renders its ``ts``
  column at a *fixed* UTC+2 offset (Parquet Export/consolidate.cpp:45-53),
  which we express as explicit ``+ INTERVAL 2 HOURS`` on top of UTC,
  never via a named zone.
- the driver-generated fixtures store ``events.ts`` as parquet
  TIMESTAMP(NANOS), which Spark only reads with
  ``spark.sql.legacy.parquet.nanosAsLong=true`` (sources.tables then
  rescales to a proper microsecond timestamp).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Conf that must hold for correctness; all runtime-settable.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    # fixture generations have stored timestamps both as TIMESTAMP(NANOS)
    # (read as long then rescaled in sources.tables) and as µs-naive
    # (inferred NTZ, re-tagged LTZ in sources.tables); keep the nanos
    # conf so either generation loads
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # runtime bloom-filter pruning: a selective join side plants a bloom
    # filter on the probe side's scan — at 100 TB this is the difference
    # between scanning a fact table and scanning the ~1% of it that can
    # match (no-op at fixture scale, semantics-preserving everywhere)
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # AQE: runtime coalescing, skew-join splitting, broadcast demotion
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # coalesce to advisory size, not to max parallelism — the Spark
    # docs' recommended setting; avoids scheduling hundreds of
    # near-empty post-shuffle tasks
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    # With parallelismFirst=false the advisory size IS the post-shuffle
    # parallelism knob.  The 64MB default is sized for multi-GB cluster
    # shuffles; at this deployment's envelope (local[32], ≤ sf0.1) a
    # 60MB window shuffle would coalesce to ~1 task and serialize the
    # sort (measured: binlog parse 2.2s → 1.2s, lag window 0.5s →
    # 0.23s at 4MB).  Deployments at larger scale raise it via
    # SPARK_GRAFT_ADVISORY_PARTITION (64-256MB on a 1000-executor
    # cluster) — partition count tracks data/advisory either way.
    "spark.sql.adaptive.advisoryPartitionSizeInBytes":
        os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION", "4MB"),
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Scan-split cap (r11 VERDICT #2, measured r12): the decon
    # superlinearity at 40.5M docs was GC pressure from scan-task
    # in-flight bytes — snappy text decompresses ~3.3×, so a 128MB
    # disk split is ~420MB of live columnar batches per task; 32
    # concurrent tasks hold ~13GB plus shingle-fold temporaries and
    # the corpus-scan stage GC-thrashed (647s GC over the stage; the
    # 13.5M-doc fixture sat at 72MB splits only because its file
    # count over-split it — per-task bytes GREW with the corpus, the
    # superlinear component).  At 32MB splits the same query read
    # 89.6–97.3s vs 126.9–213.5s, same process, alternating A/B.
    # sf0.1 fixture files are all under 32MB, so the bench envelope
    # is unchanged; a cluster deployment tunes via env (keep
    # disk-split × codec-ratio ≲ per-core memory budget).
    "spark.sql.files.maxPartitionBytes":
        os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "32m"),
    # metadata-only MIN/MAX/COUNT from parquet footers (row_integrity.py:68)
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.parquet.compression.codec": "snappy",
}

#: Conf only honored at session build time.
STATIC_CONFS: dict[str, str] = {
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.sql.shuffle.partitions": "32",
    # Codegen-class cache (r11 VERDICT #7, measured r12): x32's
    # largest-in-set variance band was attributed per-stage to its
    # verification-join kernel flipping 4.1 → 46.6 s aggregate CPU on
    # IDENTICAL input (same 149.2 MB shuffle read, 34 tasks, gc≈0,
    # flat host controls) — a whole-stage-codegen cache miss: the
    # 100-entry default LRU-evicts a busy session's hot kernels
    # (~15-20 compiled stages per complex query), and an evicted
    # kernel re-enters as a FRESH class that runs interpreted/C1
    # until HotSpot re-tiers it.  Raising to 1000 collared x32's warm
    # band to 1.40× in a single-query session BUT cost ~2-8 s on the
    # 107-query whole-set steady total (58.7 s at 100 vs 61.1/66.8 s
    # at 1000, same-day A/B — a thousand resident generated classes
    # pressure the JVM code cache across a full sweep), so the
    # DEFAULT stays stock; sessions dominated by one complex repeated
    # query raise it via env.
    "spark.sql.codegen.cache.maxEntries":
        os.environ.get("SPARK_GRAFT_CODEGEN_CACHE", "100"),
}


#: applicationIds already pinned by :func:`configure` — every entry
#: point calls configure defensively (wrapper + each load_table), so
#: one query construction repeated the ~20 conf.set py4j round trips
#: 3-4×; at ~5 ms per call that billed ~3-4 s of pure driver chatter
#: across a 108-query bench sweep (r13 measurement: 100 configure
#: calls = 0.49 s).  Keyed by applicationId (the _TABLE_MEMO idiom):
#: a fresh session is always pinned once; stale entries are dropped
#: so the set cannot grow across session restarts.
_CONFIGURED: set[str] = set()


def configure(spark: SparkSession) -> SparkSession:
    """Pin runtime confs on an existing session (idempotent, cheap).

    Called at the top of every public entry point so the engine works
    inside a session it did not create (e.g. the verify driver's).
    Applied once per applicationId; pass through
    :func:`configure_force` (or clear ``_CONFIGURED``) after mutating
    any RUNTIME_CONFS key mid-session.
    """
    app_id = spark.sparkContext.applicationId
    if app_id in _CONFIGURED:
        return spark
    return configure_force(spark)


def configure_force(spark: SparkSession) -> SparkSession:
    """Unconditionally (re)apply RUNTIME_CONFS to the session."""
    app_id = spark.sparkContext.applicationId
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            pass  # non-settable on this build — best effort
    _CONFIGURED.difference_update(
        {a for a in _CONFIGURED if a != app_id})
    _CONFIGURED.add(app_id)
    return spark


#: When "1", :func:`materialize` becomes an identity at UNPINNED call
#: sites.  Set ONLY by tools/explain_audit.py: a localCheckpoint
#: executes its prefix as a separate job, so the downstream EXPLAIN
#: starts from the checkpointed RDD and the audit is blind to the
#: upstream shuffle/codegen posture (the r4 verdict's one systematic
#: hole).  PINNED sites (``pinned=True`` — unbounded-loop round state
#: in connected_components, the single-evaluation pin on x44's
#: nondeterministic probe stage) stay active even under "1": skipping
#: them makes construction-time-executing operators recompute full
#: lineage per round (measured 2.7 s → 24 s on x59 at sf0.1 for ONE
#: lazy checkpoint) and un-pins a nondeterministic stage for anything
#: executed under the flag (the r5 ADVICE item).  "all" restores the
#: r5 skip-everything behavior — safe only at small sf, for auditing
#: a loop's end-to-end lineage.  Never set in production — every
#: materialization call site carries a measured A/B win.
NO_MATERIALIZE_ENV = "SPARK_GRAFT_NO_MATERIALIZE"

#: Monotone count of real ``localCheckpoint`` calls (eager OR lazy)
#: issued through :func:`materialize`.  ``bench.py`` snapshots it
#: around plan construction: a query whose build left the counter
#: unmoved (and ran no driver job) is pure-lazy, so its steady-state
#: run may legally re-execute the SAME DataFrame object — re-running
#: a checkpointing plan's object would silently reuse the
#: materialized prefix and under-report, which is why those rebuild.
MATERIALIZE_COUNT = 0

#: When set to a path/URI, :func:`materialize` issues RELIABLE
#: ``df.checkpoint()`` to that directory instead of
#: ``localCheckpoint``.  localCheckpoint blocks live in executor
#: memory/disk and are NOT fault-tolerant: on a 100 TB run, losing
#: one executor after a lineage-truncating checkpoint kills the job,
#: because the truncated lineage cannot recompute the lost blocks.
#: The eager loop call sites (x32 PPJoin shared relations, x59/x82
#: connected components) are exactly where that matters — point this
#: at an HDFS/object-store dir on a cluster.  Local mode keeps the
#: localCheckpoint default (faster, and the same setting surfaced the
#: x93 local-JVM artifact: a 135M-row localCheckpoint at 1.5M docs
#: needs SPARK_GRAFT_DRIVER_MEM=64g in local mode ONLY because
#: driver == sole executor there; reliable checkpoints or a real
#: cluster both dissolve it).
CHECKPOINT_DIR_ENV = "SPARK_GRAFT_CHECKPOINT_DIR"


def materialize(df, *, eager: bool, pinned: bool = False):
    """Central mid-plan materialization gate.

    Every checkpoint in the engine routes through here
    (``df.transform(materialize, eager=...)``), so the plan audit can
    disable them with one env flag and read FULL lineage, and the
    reliable-checkpoint deployment switch covers every call site at
    once (see :data:`CHECKPOINT_DIR_ENV`).  ``pinned=True`` marks the
    call sites whose checkpoint is load-bearing beyond a perf win —
    see :data:`NO_MATERIALIZE_ENV` for exactly which and why.
    """
    skip = os.environ.get(NO_MATERIALIZE_ENV)
    if skip == "all" or (skip == "1" and not pinned):
        return df
    global MATERIALIZE_COUNT
    MATERIALIZE_COUNT += 1
    ckdir = os.environ.get(CHECKPOINT_DIR_ENV)
    if ckdir:
        sc = df.sparkSession.sparkContext
        if not sc.getCheckpointDir():
            sc.setCheckpointDir(ckdir)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def guarded_window(value, base, bound: int, what: str, *,
                   ordered: bool = True):
    """Evaluate a window expression over an UNPARTITIONED spec while
    loudly enforcing the bounded-relation contract that justifies it.

    Single-partition windows are legal ONLY over relations bounded by
    contract (bucket offsets, length histograms, vocabulary heads,
    file lists) — VERDICT r7 #5 asked for the components.py
    ``limit(bound+1)`` discipline at every such site.  Expressed as a
    ZERO-COST plan node instead of an extra action: a full-frame
    ``count`` over the SAME partition/order spec rides in the existing
    Window operator (multiple frames over one spec share one
    WindowExec — no extra exchange, no extra job), and ``raise_error``
    fires on the first produced row once the relation outgrows the
    contract.  ``base`` is the UNFRAMED spec the value's frame was
    built from; ``value`` is the original window expression.  Pass
    ``ordered=False`` for a spec with no ``orderBy`` (its default
    frame is already the full partition; an explicit ROWS frame would
    be rejected there, and the default frame over an ORDERED spec
    would count only up to the current row).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    full = (base.rowsBetween(Window.unboundedPreceding,
                             Window.unboundedFollowing)
            if ordered else base)
    n = F.count(F.lit(1)).over(full)
    return F.when(
        n > bound,
        F.raise_error(F.format_string(
            f"{what}: unpartitioned-window relation exceeded its "
            f"declared bound {bound} (got %s rows) — re-bucket or "
            f"repartition before scaling further", n.cast("string")))
    ).otherwise(value)


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        try:
            return max(1, int(cpus))
        except ValueError:
            pass
    return os.cpu_count() or 8


def get_spark(app_name: str = "enexory-parquet-export-spark",
              master: str | None = None) -> SparkSession:
    """Build (or fetch) a session tuned for this engine.

    Local default is ``local[$SPARK_GRAFT_CPUS]``; on a real cluster
    pass ``master=None`` with an external cluster manager and the same
    confs apply unchanged — nothing here is local-mode specific.
    """
    par = default_parallelism()
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{par}]")
    for key, value in STATIC_CONFS.items():
        builder = builder.config(key, value)
    builder = builder.config("spark.sql.shuffle.partitions", str(par))
    # local mode: the driver JVM IS every executor plus the block
    # store, so it gets cluster-sized memory (the host has 128 GiB;
    # 48g leaves room for a concurrent DuckDB race and pytest).  8g —
    # the old default — made 100M-event CDC merges and 300M-token
    # checkpoints die of heap, masking plan problems as memory ones.
    builder = builder.config("spark.driver.memory",
                             os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
    builder = builder.config("spark.ui.enabled", "false")
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    return configure(builder.getOrCreate())
