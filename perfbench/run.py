"""Benchmark command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Builds the seeded state under
``.perfbench_work/`` (wiped before and after), runs one workload from
``workloads.py`` with Spark on ``local[nproc]``, checks every output
outside the timed region, and prints one JSON object as the last line
of standard output: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``.  Human-readable lines before it
give every metric with its unit, the tail's percentile and sample
count, ``error_rate`` and the host-health stamps.  The full record,
including every span of a traced run, goes to
``.perfbench_out/<workload>-<seed>-trace<0|1>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import workloads  # noqa: E402

END_TO_END = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s",
              "op_tail_s": "s", "rows_per_s": "1/s", "write_amp": "ratio",
              "space_bytes_per_row": "B/row"}


class Context:
    def __init__(self, spark, tracer, work: str):
        self.spark, self.tracer, self.work = spark, tracer, work
        self.binlog_lines = 0


def tail(lat: list[float]) -> tuple[float, str]:
    """Highest percentile with at least ten samples beyond it, but never
    below p75: under 40 samples that percentile sinks below p75 (it is
    the minimum at 11), and the maximum of a handful swings with single
    slow ops, so the tail is p75, interpolated between the two nearest
    samples."""
    s = sorted(lat)
    n = len(s)
    if n >= 40:
        return s[n - 11], f"p{100 * (n - 10) / n:.0f} of {n}"
    if n == 1:
        return s[0], "p75 of 1"
    return (statistics.quantiles(s, n=4, method="inclusive")[2],
            f"p75 of {n}")


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus the JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    try:
        pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    except OSError:
        pass
    return (py_kb + jvm_kb) / 1024


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "enexory_parquet_export_spark")):
        print("perfbench: run from the root of a checkout of the program",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_CPUS", cpus)
    # keep every temporary file inside the checkout; -UsePerfData stops
    # the JVM writing its hsperfdata file under /tmp
    tmp = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "")
        + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData").strip()
    try:
        return _run(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, root: str, work: str) -> int:
    import probes
    import spans
    from enexory_parquet_export_spark import session

    t = time.perf_counter()
    spark = session.get_spark("perfbench")
    session_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    try:
        tracer = spans.Tracer(spark, enabled=bool(args.trace))
        ctx = Context(spark, tracer, work)
        if args.trace:
            import layers
            layers.install(tracer)
        wl = workloads.WORKLOADS[args.workload](ctx, args.seed, args.seconds)
        tracer.isolate = False          # no isolated runs in the warm-up
        with tracer.span("setup"):
            wl.setup()
        # after set-up, so the probe's first job does not pay the cold
        # JVM's start-up cost; still outside every timed figure
        health_before = probes.stamp(spark)
        tracer.isolate = True
        with tracer.span("timed"):
            wl.run()
        tracer.unwrap()
        out = wl.out
        out.setup_s += session_s
        health_after = probes.stamp(spark)
        rss = peak_rss_mb(spark)
        tracer.collect()
        lat = [o.latency_s for o in out.ops]
        failed = sum(1 for o in out.ops if not o.ok)
        tail_s, tail_of = tail(lat)
        fixed = out.ops[:workloads.FIXED_OPS]
        space = check.tree_bytes(out.mirror) / check.live_rows(out.mirror)
        e2e = {
            "setup_s": out.setup_s,
            "wall_s": sum(o.latency_s for o in fixed) + out.closing_s,
            "op_p50_s": statistics.median(lat),
            "op_tail_s": tail_s,
            "rows_per_s": statistics.median(o.rows / o.latency_s
                                            for o in out.ops),
            "write_amp": (sum(o.bytes_written for o in fixed)
                          + out.closing_bytes)
                         / (sum(o.rows_changed for o in fixed) * space),
            "space_bytes_per_row": space,
        }
        per_layer = {}
        if args.trace:
            import layers
            per_layer = layers.metrics(tracer, wl, session_s)
            per_layer["process.peak_rss_mb"] = (rss, "MB")
        correct = not out.problems and failed == 0
        record = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "cpus": os.environ["SPARK_GRAFT_CPUS"],
            "traffic": workloads.TRAFFIC[args.workload].__dict__,
            "end_to_end": e2e, "per_layer": per_layer, "peak_rss_mb": rss,
            "tail": tail_of, "latencies_s": lat,
            "error_rate": failed / len(out.ops),
            "problems": out.problems,
            "failed_ops": [o.detail for o in out.ops if not o.ok],
            "host_before": health_before, "host_after": health_after,
            "spans": tracer.dump() if args.trace else [],
        }
        os.makedirs(os.path.join(root, ".perfbench_out"), exist_ok=True)
        with open(os.path.join(root, ".perfbench_out",
                               f"{args.workload}-{args.seed}-trace{args.trace}.json"),
                  "w") as f:
            json.dump(record, f, indent=1, default=str)
        for name, v in e2e.items():
            extra = f"  ({tail_of})" if name == "op_tail_s" else ""
            print(f"{name} {v:.6g} {END_TO_END[name]}{extra}")
        for name, (v, unit) in per_layer.items():
            print(f"{name} {v:.6g} {unit}")
        if not args.trace:
            print(f"process.peak_rss_mb {rss:.6g} MB")
        print(f"error_rate {failed / len(out.ops):.6g} ratio "
              f"({failed} of {len(out.ops)} ops)")
        print(f"correct {int(correct)}")
        for p in out.problems:
            print(f"problem: {p}")
        print(f"host before {json.dumps(health_before)}")
        print(f"host after {json.dumps(health_after)}")
        if args.trace:
            metrics = {k: {"value": v, "unit": u}
                       for k, (v, u) in per_layer.items()}
        else:
            metrics = {k: {"value": v, "unit": END_TO_END[k]}
                       for k, v in e2e.items()}
        print(json.dumps({"correct": correct, "attempted": len(out.ops),
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        stop(spark)


def stop(spark) -> None:
    """Stop Spark and wait for the JVM the session started to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    raise SystemExit(main())
