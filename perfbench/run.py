"""Ingest benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload bulk_replay --seed 1 --seconds 15 --trace 0

Runs from the root of a source checkout on ``local[4]`` in this process and
writes only under ``.perfbench_work/`` in that checkout, which it removes at
the end. The last line of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` the first half of the window runs untraced and the second
half traced, and the metrics are the per-layer ones. The line before it,
``detail: {...}``, holds the workload's metrics under the names README.md
defines (tails with their percentile and sample count included). The exit
code is 1 when any operation failed or any output check found a wrong
result; the result line is still printed.

See README.md for the workloads and the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3
CORES = 4


def _median(xs) -> float:
    return float(statistics.median(xs))


def tail(xs: list[float]) -> tuple[float | None, float | None, int]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it, and the sample count; None below 20 samples, where
    that percentile would not be above the median."""
    n = len(xs)
    if n < 20:
        return None, None, n
    return sorted(xs)[n - 11], round(100.0 * (n - 10) / n, 1), n


def build_spark(work: str, event_log: str | None):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.default.parallelism", "8")
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # a fixed-size heap: no resizing between runs of the same workload
        .config("spark.driver.extraJavaOptions", "-Xms2g")
    )
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", f"file://{event_log}")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


class Usage:
    """CPU seconds and peak RSS of the Spark JVM plus this process, and the
    host and JVM figures that explain a slow window: CPU time stolen from
    this VM, JVM garbage-collection and JIT-compilation time."""

    def __init__(self, spark):
        self.mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self.jvm = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        self.tick = os.sysconf("SC_CLK_TCK")

    def stalls(self) -> dict[str, float]:
        with open("/proc/stat") as fh:
            steal = int(fh.readline().split()[8]) / self.tick
        gc = sum(b.getCollectionTime() for b in self.mx.getGarbageCollectorMXBeans()) / 1e3
        jit = self.mx.getCompilationMXBean().getTotalCompilationTime() / 1e3
        return {"host_steal_s": steal, "jvm_gc_s": gc, "jvm_jit_s": jit}

    def cpu_s(self) -> float:
        with open(f"/proc/{self.jvm}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        jvm = (int(fields[11]) + int(fields[12])) / self.tick
        me = os.times()
        return jvm + me.user + me.system

    def peak_rss_mb(self) -> float:
        kb = 0
        with open(f"/proc/{self.jvm}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    kb = int(line.split()[1])
        return (kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def lake_stats(lake: str) -> dict[str, float]:
    """Storage figures of a lake: bytes on disk per live byte, data files
    per non-empty bucket, child rows per root row."""
    import reference

    tdir = os.path.join(lake, "tables")
    stored = sum(os.path.getsize(os.path.join(r, f))
                 for r, _d, fs in os.walk(tdir) for f in fs)
    tables = reference.lake_tables(lake)
    live = sum(os.path.getsize(f) for fs in tables.values() for f in fs)
    buckets = sum(len({os.path.dirname(f) for f in fs}) for fs in tables.values())
    rows = reference.table_rows(lake)
    roots = sum(n for t, n in rows.items() if "__" not in t.removeprefix(reference.DROPPED))
    return {
        "stored_bytes_per_live_byte": stored / live if live else 0.0,
        "files_per_bucket": sum(len(fs) for fs in tables.values()) / buckets if buckets else 0.0,
        "child_rows_per_record": (sum(rows.values()) - roots) / roots if roots else 0.0,
    }


def detail_metrics(name: str, ops, setup_s: float, cpu_s: float, rss: float,
                   stats: dict, failed_frac: float) -> dict:
    """The workload's metrics under the names README.md defines."""
    events = sum(o.events for o in ops)
    d = {"setup_s": setup_s, "peak_rss_mb": rss, "failed_frac": failed_frac,
         "events_per_s": events / sum(o.wall_s for o in ops),
         "cpu_s_per_mevent": cpu_s / (events / 1e6)}
    if name == "near_dup_ops":
        from workloads import ANN, CURATION

        d["curation_pass_s"] = _median(sum(o.stages[s] for s, _q in CURATION) for o in ops)
        d["ann_query_s"] = _median(sum(o.stages[s] for s, _q in ANN) for o in ops)
        return d
    batches = [x for o in ops for x in o.batch_s]
    runs = [x for o in ops for x in o.run_s]
    d["batch_s_p50"] = _median(batches)
    d["batch_s_tail"], d["batch_s_tail_pct"], d["batch_s_n"] = tail(batches)
    d["delta_run_s_p50"] = _median(runs)
    d["delta_run_s_tail"], d["delta_run_s_tail_pct"], d["delta_run_s_n"] = tail(runs)
    d["lake_read_s_p50"] = _median(x for o in ops for x in o.read_s)
    d["stored_bytes_per_live_byte"] = stats["stored_bytes_per_live_byte"]
    return d


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    # import the program before any set-up: a checkout without it fails here
    import singer_target_clickhouse_spark  # noqa: F401
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload}; one of {sorted(workloads.WORKLOADS)}")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # keep every temporary file of this process and of the JVMs it starts
    # (the Spark launcher's included) inside the work dir
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    tempfile.tempdir = os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    event_log = os.path.join(work, "eventlog") if args.trace else None
    try:
        return run(args, work, event_log)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, event_log: str | None) -> int:
    import layers
    import spans as tracing
    import workloads

    t0 = time.perf_counter()
    spark = build_spark(work, event_log)
    spark.range(1).count()
    session_s = time.perf_counter() - t0
    try:
        w = workloads.WORKLOADS[args.workload](spark, args.seed)
        preps = []
        for i in range(SETUP_REPEATS):
            t = time.perf_counter()
            w.prepare(os.path.join(work, f"prep{i}"))
            preps.append(time.perf_counter() - t)
        t = time.perf_counter()
        w.warmup()
        warm_s = time.perf_counter() - t
        setup_s = session_s + _median(preps) + warm_s

        usage = Usage(spark)
        attempted = failed = 0
        halves = [("untraced", args.seconds / 2), ("traced", args.seconds / 2)] if args.trace \
            else [("untraced", args.seconds)]
        done: dict[str, list] = {}
        cpu_s = 0.0
        tracer = tracing.Tracer(spark)
        for phase, budget in halves:
            if failed:
                break
            if phase == "traced":
                layers.install(tracer)
                w.tracer = tracer
            ops, spent = [], 0.0
            cpu0, stalls0 = usage.cpu_s(), usage.stalls()
            while spent < budget:
                attempted += 1
                t = time.perf_counter()
                try:
                    op = w.op()
                except Exception:
                    failed += 1
                    traceback.print_exc()
                    break
                spent += time.perf_counter() - t
                problems = w.check(op)
                if problems:
                    failed += 1
                    print(f"check failed: {problems}", file=sys.stderr)
                ops.append(op)
            if phase == "untraced":
                cpu_s = usage.cpu_s() - cpu0
                stalls = {k: v - stalls0[k] for k, v in usage.stalls().items()}
            done[phase] = ops
        tracer.uninstall()
        rss = usage.peak_rss_mb()
        stats = lake_stats(w.lake) if hasattr(w, "lake") else {}
    finally:
        stop_spark(spark)

    base = done["untraced"]
    correct = failed == 0
    if not base:
        print(json.dumps({"correct": False, "attempted": attempted, "failed": failed,
                          "metrics": {}}))
        return 1
    detail = detail_metrics(args.workload, base, setup_s, cpu_s, rss, stats,
                            failed / attempted)
    print("detail: " + json.dumps({"workload": args.workload, "seed": args.seed,
                                   "ops": len(base), "setup_session_s": session_s,
                                   "setup_prepare_s": preps, "setup_warmup_s": warm_s,
                                   "op_s": w.unit_s(base), **stalls,
                                   **detail}))
    if args.trace:
        traced = done.get("traced", [])
        stages = {}
        for o in traced:
            for s, v in o.stages.items():
                stages.setdefault(s, []).append(v)
        outputs = {}
        for o in traced:
            for q, n in o.outputs.items():
                outputs.setdefault(q, []).append(n)
        jobs = tracing.event_log_jobs(event_log)
        metrics = layers.per_layer(tracer, jobs, len(traced), sum(o.events for o in traced),
                                   stages, outputs, stats)
        lat_t, lat_u = w.unit_s(traced), w.unit_s(base)
        metrics["trace.overhead_frac"] = (_median(lat_t) / _median(lat_u) - 1.0) if lat_t else 0.0
        units = {m["name"]: m["unit"] for m in _bench()["per_layer"]}
    else:
        metrics = {
            "setup_s": setup_s,
            "events_per_s": detail["events_per_s"],
            "op_s_p50": _median(w.unit_s(base)),
            "cpu_s_per_mevent": detail["cpu_s_per_mevent"],
            "peak_rss_mb": rss,
        }
        units = {m["name"]: m["unit"] for m in _bench()["end_to_end"]}
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0 if correct else 1


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


if __name__ == "__main__":
    sys.exit(main())
