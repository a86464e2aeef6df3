"""Host-health stamps taken before and after every run, outside the
timed region, so a degraded host window can be told apart from a
regression.

* ``cpu_s`` — median time of a fixed pure-Python arithmetic loop;
* ``dispatch_s`` — median wall of a near-empty JVM-only Spark job with
  one task per core (``local[nproc]``) on both sides of one shuffle,
  i.e. the scheduler's per-job floor.
"""

from __future__ import annotations

import os
import statistics
import time


def cpu_probe(reps: int = 3, n: int = 300_000) -> float:
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        acc = 0
        for i in range(n):
            acc += i * i % 7
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def dispatch_probe(spark, reps: int = 3) -> float:
    n = spark.sparkContext.defaultParallelism or os.cpu_count() or 1
    spark.range(n).repartition(n).count()           # warm the path
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        spark.range(n).repartition(n).count()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def stamp(spark) -> dict:
    return {"cpu_s": round(cpu_probe(), 6),
            "dispatch_s": round(dispatch_probe(spark), 6),
            "tasks": spark.sparkContext.defaultParallelism,
            "loadavg_1m": round(os.getloadavg()[0], 3)}
