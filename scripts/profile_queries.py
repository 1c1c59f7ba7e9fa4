#!/usr/bin/env python
"""Per-query job-level decomposition for the optimization round.

Runs selected gated queries with the Spark event log enabled, then parses
the log into (job, duration, description) rows plus the driver-side gaps
between jobs — the measurement §1 step: where does each query's wall time
actually go (jobs vs scheduler/driver overhead)?  Jobs of one query may
overlap, so its critical path is the union of its job intervals, not their
sum, and the driver gap (wall - critical path) is never negative.  Jobs
without the query's description that overlap its wall window (threads
that do not inherit local properties, streaming micro-batches, which set
their own) are printed as unattributed, not folded into the gap.  First
it prints one "python task fixed cost" line: what a 1-row Python task
costs over a JVM-only one (ROADMAP aim 1's Arrow/Python layer).

Usage (from the repo root, session at SPARK_GRAFT_CPUS, default all CPUs):
    PYTHONPATH=. python scripts/profile_queries.py q1 q2 ...
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.eventlog import union_ms  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
EVLOG = "/tmp/spark_graft_evlog"
SAMPLES = int(os.environ.get("PROFILE_SAMPLES", "2"))


def python_task_cost(spark) -> None:
    """Print the fixed cost of one Python task: the median 1-row
    mapInPandas collect minus the median JVM-only collect of the same row
    (the Arrow/Python layer with no data in it)."""
    def ident(batches):
        yield from batches

    one = spark.range(1, numPartitions=1)
    samples = 9

    def median_s(run) -> float:
        times = []
        for _ in range(samples):
            t0 = time.perf_counter()
            run()
            times.append(time.perf_counter() - t0)
        return statistics.median(times)

    py = median_s(lambda: one.mapInPandas(ident, "id long").collect())
    jvm = median_s(one.collect)
    print(f"python task fixed cost {py - jvm:.3f}s "
          f"(1-row mapInPandas {py:.3f}s - JVM-only {jvm:.3f}s, "
          f"median of {samples})")


def main() -> None:
    names = sys.argv[1:]
    shutil.rmtree(EVLOG, ignore_errors=True)
    os.makedirs(EVLOG, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # the event log rides spark-submit's own confs; the session is the
    # library's (sources/session.get_spark)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.eventLog.enabled=true",
        f"--conf spark.eventLog.dir={EVLOG}",
        "--conf spark.eventLog.compress=false",
        "--conf spark.eventLog.rolling.enabled=false",
        "pyspark-shell",
    ])
    from streaming_algorithms_spark.sources.session import get_spark

    spark = get_spark("profile")
    sc = spark.sparkContext

    # warm one Python worker per core, importing the library as every
    # library UDF does
    def warm(batches):
        import streaming_algorithms_spark.sketches  # noqa: F401
        yield from batches

    n = sc.defaultParallelism
    spark.range(n, numPartitions=n).mapInPandas(warm, "id long").collect()
    python_task_cost(spark)

    from streaming_algorithms_spark.plans.queries import QUERIES

    marks = []  # (query, sample, t_start, t_end)
    for name in names:
        for s in range(SAMPLES):
            sc.setJobDescription(f"PROFILE::{name}::{s}")
            t0 = time.time()
            QUERIES[name](spark, SF_DIR).collect()
            t1 = time.time()
            marks.append((name, s, t0, t1))
            spark.catalog.clearCache()
            sc.setJobDescription(None)
    app_id = sc.applicationId
    spark.stop()

    # parse the event log (Spark 4 rolling v2 layout: a dir of events_* files)
    path = os.path.join(EVLOG, app_id)
    if not os.path.exists(path):
        cands = [p for p in os.listdir(EVLOG)
                 if app_id in p]
        if not cands:
            raise SystemExit(f"no event log for {app_id} under {EVLOG}")
        path = os.path.join(EVLOG, cands[0])
    if os.path.isdir(path):
        files = sorted(os.path.join(path, f) for f in os.listdir(path)
                       if f.startswith("events_"))
    else:
        files = [path]
    lines = []
    for fp in files:
        with open(fp) as f:
            lines.extend(f)
    jobs = {}
    for line in lines:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "start": ev["Submission Time"] / 1000.0,
                    "desc": props.get("spark.job.description", ""),
                    "site": props.get("callSite.short", ""),
                    "stages": len(ev.get("Stage Infos", [])),
                    "tasks": sum(s.get("Number of Tasks", 0)
                                 for s in ev.get("Stage Infos", [])),
                }
            elif e == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in jobs:
                    jobs[jid]["end"] = ev["Completion Time"] / 1000.0

    for name, s, t0, t1 in marks:
        tag = f"PROFILE::{name}::{s}"
        js = sorted((j for j in jobs.values()
                     if j["desc"] == tag and "end" in j),
                    key=lambda j: j["start"])
        wall = t1 - t0
        spans = [(j["start"], j["end"]) for j in js]
        crit = union_ms(spans, t0, t1)
        other = [(j["start"], j["end"]) for j in jobs.values()
                 if "end" in j and not j["desc"].startswith("PROFILE::")
                 and j["start"] < t1 and j["end"] > t0]
        busy = union_ms(spans + other, t0, t1)
        print(f"\n=== {name} sample {s}: wall {wall:.3f}s, "
              f"{len(js)} jobs critical path {crit:.3f}s, "
              f"{len(other)} unattributed jobs {union_ms(other, t0, t1):.3f}s, "
              f"driver-gap {wall - busy:.3f}s")
        prev_end = t0
        for i, j in enumerate(js):
            # a job starting before the previous ones ended overlaps: no gap
            gap = max(j["start"] - prev_end, 0.0)
            print(f"  job{i:3d} +{gap:6.3f}s gap | {j['end']-j['start']:6.3f}s "
                  f"run | {j['stages']} stages {j['tasks']} tasks | {j['site']}")
            prev_end = max(prev_end, j["end"])
        print(f"  tail gap {t1 - prev_end:6.3f}s")


if __name__ == "__main__":
    main()
