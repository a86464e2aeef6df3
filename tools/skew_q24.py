"""q24 CDC merge under hot-key skew — VERDICT r7 #8.

The 10M/100M-event crossovers convert a UNIFORM events fixture; the
reference's real workload has hot days and hot keys (one instrument
dominating a day's binlog).  This experiment derives a skewed variant
of the scaled fixture — ``--hot-frac`` of all events remapped onto ONE
``(hot day, hot pk)`` — runs the identical q24 merge on both variants,
and reports wall time plus per-stage task-duration quantiles
(max/median) read from the Spark UI REST API, so straggler tasks are
measured rather than guessed.

Expected outcome (and the design argument being tested): the merge
pipeline is hot-key-IMMUNE by construction — q24 is ONE ``consolidate``
hash aggregation with map-side partial combine (the hot key collapses
to one row per mapper before the exchange), and the exact-median split
is two driver aggregations with no exchange on the key.  A
skew-sensitive formulation (window dedup over pk, or joining the raw
changelog) would straggle; this one must not.  Criterion: no completed
stage with max task > 4× its median (ignoring sub-second stages, where
scheduler jitter dominates).

Usage::

    python tools/skew_q24.py [--copies 100|1000] [--hot-frac 0.3]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SCRATCH = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), ".scratch")


def build_skewed(spark, src_dir: str, out_dir: str, hot_frac: float) -> str:
    from pyspark.sql import functions as F

    done = os.path.join(out_dir, "_DONE")
    if os.path.exists(done):
        return out_dir
    ev = spark.read.parquet(os.path.join(src_dir, "events.parquet"))
    k = int(round(hot_frac * 10))
    hot = F.col("event_id") % 10 < k
    skewed = ev.select(
        "event_id",
        F.when(hot, F.lit(1)).otherwise(F.col("user_id")).alias("user_id"),
        "event_type",
        # hot rows keep their time-of-day but land on one hot day
        F.when(hot, F.timestamp_seconds(
            F.lit(1704067200) + F.unix_timestamp("ts") % 86400))
         .otherwise(F.col("ts")).alias("ts"),
        "value")
    os.makedirs(out_dir, exist_ok=True)
    skewed.write.mode("overwrite").parquet(os.path.join(out_dir,
                                                        "events.parquet"))
    open(done, "w").close()
    return out_dir


def stage_summaries(ui_port: int) -> list[dict]:
    base = f"http://localhost:{ui_port}/api/v1"
    apps = json.load(urllib.request.urlopen(f"{base}/applications"))
    app = apps[0]["id"]
    stages = json.load(urllib.request.urlopen(
        f"{base}/applications/{app}/stages?status=complete"))
    out = []
    for st in stages:
        sid, att = st["stageId"], st["attemptId"]
        try:
            q = json.load(urllib.request.urlopen(
                f"{base}/applications/{app}/stages/{sid}/{att}/taskSummary"
                f"?quantiles=0.5,1.0"))
        except Exception:
            continue
        med, mx = q["executorRunTime"]
        out.append({"stage": sid, "tasks": st["numCompleteTasks"],
                    "median_ms": med, "max_ms": mx})
    return out


def main() -> int:
    copies = 100
    if "--copies" in sys.argv:
        copies = int(sys.argv[sys.argv.index("--copies") + 1])
    hot_frac = 0.3
    if "--hot-frac" in sys.argv:
        hot_frac = float(sys.argv[sys.argv.index("--hot-frac") + 1])
    src = os.path.join(SCRATCH, f"fixture_events_x{copies}")
    if not os.path.isdir(src):
        print(f"missing fixture {src}", file=sys.stderr)
        return 1

    from pyspark.sql import SparkSession

    from enexory_parquet_export_spark.session import configure
    from enexory_parquet_export_spark import queries as Q

    spark = (SparkSession.builder.master("local[32]")
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.driver.memory",
                     os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
             .config("spark.ui.enabled", "true")
             .config("spark.ui.port", "4047")
             .config("spark.ui.showConsoleProgress", "false")
             .getOrCreate())
    configure(spark)
    skew_dir = build_skewed(spark, src,
                            os.path.join(SCRATCH,
                                         f"fixture_events_skew_x{copies}"),
                            hot_frac)

    results = {}
    seen: set[int] = {s["stage"] for s in stage_summaries(4047)}
    for label, d in (("uniform", src), ("skewed", skew_dir)):
        t0 = time.perf_counter()
        Q.SPARK_QUERIES["q24_cdc_merge"](spark, d) \
            .write.format("noop").mode("overwrite").save()
        wall = round(time.perf_counter() - t0, 1)
        stages = [s for s in stage_summaries(4047)
                  if s["stage"] not in seen]
        seen |= {s["stage"] for s in stages}
        # only stages big enough for the 4× criterion to be meaningful
        heavy = [s for s in stages if s["median_ms"] >= 1000]
        worst = max(heavy, key=lambda s: s["max_ms"] / max(s["median_ms"], 1),
                    default=None)
        results[label] = {"wall_s": wall, "n_stages": len(stages),
                          "worst": worst}
        w = worst or {"stage": "-", "tasks": "-", "median_ms": 0, "max_ms": 0}
        ratio = (w["max_ms"] / w["median_ms"]) if w["median_ms"] else 0.0
        print(f"| {label} | {wall} s | worst heavy stage {w['stage']} "
              f"({w['tasks']} tasks): max {w['max_ms']/1e3:.1f} s / "
              f"median {w['median_ms']/1e3:.1f} s = {ratio:.2f}× |",
              flush=True)

    print(json.dumps({"metric": "q24_skew", "copies": copies,
                      "hot_frac": hot_frac, **results}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
