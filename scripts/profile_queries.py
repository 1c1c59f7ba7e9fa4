#!/usr/bin/env python
"""Per-query job-level decomposition for the optimization round.

Runs selected gated queries with the Spark event log enabled, then parses
the log into (job, duration, description) rows plus the driver-side gaps
between jobs — the measurement §1 step: where does each query's wall time
actually go (jobs vs scheduler/driver overhead)?  Jobs of one query may
overlap, so its critical path is the union of its job intervals, not their
sum, and the driver gap (wall - critical path) is never negative.

Usage: PYTHONPATH=/root/repo python scripts/profile_queries.py q1 q2 ...
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.eventlog import union_ms  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
EVLOG = "/tmp/spark_graft_evlog"
SAMPLES = int(os.environ.get("PROFILE_SAMPLES", "2"))


def main() -> None:
    names = sys.argv[1:]
    shutil.rmtree(EVLOG, ignore_errors=True)
    os.makedirs(EVLOG, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    from pyspark.sql import SparkSession

    # mirror sources/session.get_spark exactly, plus the event log
    spark = (
        SparkSession.builder.master("local[32]")
        .appName("profile")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", EVLOG)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    sc = spark.sparkContext

    # warm workers like bench.py does
    import pandas as pd  # noqa: F401

    def noop(batches):
        import numpy  # noqa: F401
        for pdf in batches:
            yield pdf
    spark.range(0, 128, numPartitions=128).mapInPandas(noop, "id long").count()

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
        crit = union_ms([(j["start"], j["end"]) for j in js], t0, t1)
        print(f"\n=== {name} sample {s}: wall {wall:.3f}s, "
              f"{len(js)} jobs critical path {crit:.3f}s, "
              f"driver-gap {wall - crit:.3f}s")
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
