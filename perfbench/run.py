#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc_replicate --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds inputs from ``--seed``, drives
the workload's loop for at least ``--seconds`` (and at least its minimum
number of rounds) against one Spark session on ``local[<cores>]``,
checks every output, and prints as its last stdout
line one JSON object ``{"correct", "attempted", "failed", "metrics"}``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. A traced run first runs the same arguments untraced in a
child process, so it can report the tracing overhead.

Everything it writes goes under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tests")]

from spans import COUNTERS, Spans, fold_event_log, read_event_log, span_totals  # noqa: E402
from workloads import WORKLOADS, Run, tail  # noqa: E402

E2E = (
    ("setup_s", "s"), ("bulk_rows_per_s", "rows/s"), ("write_p50_s", "s"),
    ("read_p50_s", "s"), ("maintain_s", "s"), ("plans_s", "s"),
)
#: measured like the end-to-end metrics, but their run-to-run spread is
#: above a tenth (tails of a handful of samples; JVM peak RSS follows GC
#: timing), so they are reported with the per-layer metrics
NOISY = (("peak_rss_mb", "MB"), ("write_tail_s", "s"), ("read_tail_s", "s"))
COUNTER_UNITS = {"jobs": "count", "tasks": "count"}
#: the counters kept for the ``plans`` slot
PLAN_COUNTERS = ("wall_s", "task_s", "shuffle_write_bytes")


def _env(work: str, traced: bool) -> None:
    """Session settings, fixed before the JVM starts: all cores of this
    machine, shuffle width at twice the cores (the session factory's
    documented deployment rule), and every scratch path inside ``work``."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": str(2 * cores),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        # no hsperfdata files in the system temp dir from either JVM
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    tempfile.tempdir = None
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    args = ["--conf", shlex.quote(f"spark.driver.extraJavaOptions={java_opts}")]
    if traced:
        logs = os.path.join(work, "eventlog")
        os.makedirs(logs)
        args += ["--conf spark.eventLog.enabled=true",
                 "--conf", shlex.quote(f"spark.eventLog.dir=file://{logs}"),
                 "--conf spark.eventLog.compress=false",
                 "--conf spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def _warm_session(spark, work: str) -> None:
    """One small shuffle and parquet round trip, so that the first timed
    call does not pay the session's first-job costs. The calls' own code
    paths stay cold, as in a cron-started run."""
    path = os.path.join(work, "warm.parquet")
    spark.range(10_000).selectExpr("id % 97 AS k", "id AS v").write.parquet(path)
    spark.read.parquet(path).groupBy("k").count().collect()


def _peak_rss_mb(spark) -> float:
    """Peak resident memory of this process plus its JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def _stop(spark) -> None:
    """Stop the session and the JVM this process launched; wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=60)


def measured(run) -> dict:
    m = {"setup_s": sum(run.setup_parts.values()), "peak_rss_mb": run.peak_rss_mb,
         "bulk_rows_per_s": run.bulk_rows / sum(run.samples["bulk"]),
         "maintain_s": statistics.median(run.samples["maintain"]),
         "plans_s": statistics.median(run.samples["plans"])}
    for slot in ("write", "read"):
        w = run.samples[slot]
        m[f"{slot}_p50_s"] = statistics.median(w)
        m[f"{slot}_tail_s"], run.tail_label[slot] = tail(w)
    return m


def per_layer(run, folded: dict, untraced: dict, traced: dict) -> dict:
    """``<slot>.<counter>``: the counters of every span call timed into
    the slot, per slot sample."""
    totals = span_totals(run.spans.records, folded)
    m = {}
    for slot, spans in run.slot_spans.items():
        for c in PLAN_COUNTERS if slot == "plans" else COUNTERS:
            m[f"{slot}.{c}"] = sum(totals[s][c] for s in spans) / len(run.samples[slot])
    m["store.files"] = run.census["store.files"]
    m["read.input_over_store"] = m["read.input_bytes"] / run.census["store.read_bytes"]
    for name, _ in NOISY:
        m[name] = traced[name]
    for name, _ in E2E:
        m[f"overhead.{name}"] = traced[name] - untraced[name]
    return m


def _unit(name: str) -> str:
    if name in dict(NOISY):
        return dict(NOISY)[name]
    if name.startswith("overhead."):
        return dict(E2E)[name.split(".", 1)[1]]
    if name == "store.files":
        return "count"
    if name == "read.input_over_store":
        return "ratio"
    c = name.split(".", 1)[1]
    return COUNTER_UNITS.get(c, "s" if c.endswith("_s") else "bytes")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload}; have {sorted(WORKLOADS)}")
    traced = bool(args.trace)
    untraced = None
    if traced:
        child = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
            stdout=subprocess.PIPE, check=True, timeout=170, text=True,
        )
        res = json.loads(child.stdout.strip().splitlines()[-1])
        untraced = {k: v["value"] for k, v in res["metrics"].items()}

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        _env(work, traced)
        from mysql2clickhouse_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        try:
            t0 = time.perf_counter()
            _warm_session(spark, work)
            run = Run(spark, Spans(spark, traced), work, args.seed, args.seconds)
            run.setup_parts["session_s"] = session_s
            run.setup_parts["warm_up_s"] = time.perf_counter() - t0
            WORKLOADS[args.workload](run)
            run.peak_rss_mb = _peak_rss_mb(spark)
        finally:
            _stop(spark)
        values = measured(run)
        report = {"workload": args.workload, "seed": args.seed, "inputs": run.props,
                  "setup": run.setup_parts, "tails": run.tail_label,
                  "census": run.census, "samples": run.samples,
                  "failures": run.failures}
        if traced:
            folded, stray = fold_event_log(
                read_event_log(os.path.join(work, "eventlog")), run.spans.records)
            mismatch = [(r["group"], folded[r["group"]]["jobs"], r["tracker_jobs"])
                        for r in run.spans.records
                        if folded[r["group"]]["jobs"] != r["tracker_jobs"]]
            run.check("event-log job counts equal statusTracker counts",
                      mismatch[:3] if mismatch else None)
            run.check("no job inside a span ran outside its job group",
                      f"{len(stray)} jobs: {stray[:3]}" if stray else None)
            report["job_count_crosscheck"] = {
                "spans": len(run.spans.records), "mismatched": len(mismatch),
                "jobs_outside_group": len(stray)}
            report["spans"] = span_totals(run.spans.records, folded)
            metrics = per_layer(run, folded, untraced, values)
            units = {k: _unit(k) for k in metrics}
        else:
            metrics = {k: values[k] for k, _ in E2E}
            units = dict(E2E)
        report["failed_ops_ratio"] = len(run.failures) / max(1, run.attempted)
        print(json.dumps({"report": report}, default=str))
        print(json.dumps({
            "correct": not run.failures,
            "attempted": run.attempted,
            "failed": len(run.failures),
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
