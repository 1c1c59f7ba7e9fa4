#!/usr/bin/env python3
"""Self-tests of the benchmark's own machinery (no Spark session needed).

    python3 perfbench/selftest.py

1. The event-log reader computes the critical path as the union of
   overlapping job intervals, so the driver gap is never negative (summing
   the job durations would make it negative here).
2. The correctness checker fails a perturbed estimate of every workload,
   and the run's failed_frac becomes > 0.
3. The HLL gate sits at HLL_GATE_Z standard errors while error_vs_bound
   still divides by the published three.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import numpy as np  # noqa: E402

from perfbench import eventlog  # noqa: E402
from perfbench import exact as ex  # noqa: E402
from perfbench.run import failed_frac  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    CMS_EPS,
    SCAN_QS,
    SS_K,
    STREAM_QS,
    WORKLOADS,
    StreamExact,
)


def expect(cond: bool, msg: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {msg}")


def _job(jid, start, end, stages):
    return [{"Event": "SparkListenerJobStart", "Job ID": jid,
             "Submission Time": start, "Stage IDs": stages},
            {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end}]


def _task(stage, launch, finish, accs=()):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": finish,
                          "Accumulables": [{"ID": a, "Update": v} for a, v in accs]},
            "Task Metrics": {}}


def test_overlapping_jobs() -> None:
    log = eventlog.EventLog()
    # op wall [1000, 3000]; two jobs run concurrently over the whole op and
    # a third overlaps both: durations sum to 5.0 s against a 2.0 s wall
    events = (_job(1, 1000, 3000, [1]) + _job(2, 1000, 3000, [2])
              + _job(3, 1500, 2500, [3]) + [_task(1, 1000, 3000),
                                            _task(2, 1000, 3000),
                                            _task(3, 1500, 2500)])
    for e in events:
        log.feed(e)
    got = log.op_layers(1000, 3000)
    expect(got["spark.jobs"] == 3, f"3 jobs attributed, got {got['spark.jobs']}")
    expect(abs(got["spark.critical_path_s"] - 2.0) < 1e-9,
           f"critical path is the union (2.0 s), got {got['spark.critical_path_s']}")
    expect(got["spark.driver_gap_s"] >= 0, "driver gap never negative")
    # a gap between two disjoint jobs is driver time; a job running past
    # the op's end is clipped to it
    log = eventlog.EventLog()
    for e in _job(1, 0, 400, [1]) + _job(2, 600, 1500, [2]):
        log.feed(e)
    got = log.op_layers(0, 1000)
    expect(abs(got["spark.critical_path_s"] - 0.8) < 1e-9, "clipped union 0.8 s")
    expect(abs(got["spark.driver_gap_s"] - 0.2) < 1e-9, "driver gap 0.2 s")


def test_single_task_python_stage() -> None:
    log = eventlog.EventLog()
    log.feed({"Event": "SparkListenerSQLExecutionStart", "sparkPlanInfo": {
        "nodeName": "MapInPandas", "children": [],
        "metrics": [{"name": eventlog.PY_SENT, "accumulatorId": 7,
                     "metricType": "size"}]}})
    events = (_job(1, 0, 900, [1, 2])
              + [{"Event": "SparkListenerStageCompleted",
                  "Stage Info": {"Stage ID": 1, "Number of Tasks": 1,
                                 "Submission Time": 0, "Completion Time": 900}},
                 {"Event": "SparkListenerStageCompleted",
                  "Stage Info": {"Stage ID": 2, "Number of Tasks": 2,
                                 "Submission Time": 0, "Completion Time": 500}},
                 _task(1, 0, 900, [(7, 2 << 20)]),
                 _task(2, 0, 500, [(7, 2 << 20)]), _task(2, 0, 100, [(7, 1)])])
    for e in events:
        log.feed(e)
    got = log.op_layers(0, 1000)
    expect(got["spark.python_single_task_stages"] == 1,
           "one single-task stage sent > 1 MB to Python")
    expect(got["arrow.bytes_to_python"] == 2 * (2 << 20) + 1, "bytes to Python summed")
    expect(abs(got["spark.task_skew"] - 1.0) < 1e-9, "longest stage has one task")


def _ops(results: list) -> list:
    return [{"ok": ok} for ok in results]


def test_perturbed_scan() -> None:
    wl = WORKLOADS["scan_sketch"]
    vals = np.arange(1, 1001, dtype=np.float64)
    exact = {"en": {"n": 1000, "distinct": 900, "mean": float(vals.mean()),
                    "hist": [[v, 1] for v in vals]}}
    good = {"lang": "en", "n": 1000, "approx_distinct": 905,
            "mean": float(vals.mean()),
            "qs": [float(np.quantile(vals, q)) for q in SCAN_QS]}
    ok_good = ex.summarize(wl.check([good], exact))[0]
    expect(ok_good, "an in-bound scan result passes")
    for field, bad in (("approx_distinct", 1200), ("mean", good["mean"] * 1.001)):
        res = dict(good, **{field: bad})
        ok_bad = ex.summarize(wl.check([res], exact))[0]
        expect(not ok_bad, f"perturbed scan {field} fails")
        expect(failed_frac(_ops([ok_good, ok_bad])) > 0, "failed_frac > 0")
    bad_q = dict(good, qs=[v + 100 for v in good["qs"]])
    expect(not ex.summarize(wl.check([bad_q], exact))[0], "perturbed KLL fails")


def test_perturbed_heavy_hitters() -> None:
    wl = WORKLOADS["heavy_hitters"]
    n = 100_000
    counts = {f"en_w{i}": 5_000 // (i + 1) for i in range(300)}
    counts["en_rest"] = n - sum(counts.values())
    exact = {"global": counts, "global_n": n, "lang_n": {"en": n},
             "lang_head": {"en": counts}}
    ss = [{"item": t, "count_lo": c, "count_hi": c}
          for t, c in counts.items() if c > n / SS_K]
    cms = [{"lang": "en", "item": "en_w0", "est_count": counts["en_w0"],
            "total_count": n}]
    ok_good = ex.summarize(wl.check({"ss": ss, "cms": cms}, exact))[0]
    expect(ok_good, "an in-bound heavy-hitter result passes")
    over = dict(cms[0], est_count=counts["en_w0"] + int(CMS_EPS * n) + 5)
    under = dict(cms[0], est_count=counts["en_w0"] - 1)
    for bad_cms in (over, under):
        ok_bad = ex.summarize(wl.check({"ss": ss, "cms": [bad_cms]}, exact))[0]
        expect(not ok_bad, "perturbed CMS estimate fails")
    missing = ex.summarize(wl.check({"ss": ss[1:], "cms": cms}, exact))[0]
    expect(not missing, "a heavy item missing from Space-Saving fails")
    expect(failed_frac(_ops([ok_good, missing])) > 0, "failed_frac > 0")


def test_perturbed_stream() -> None:
    keys = np.array(["k00"] * 6)
    batch = np.array([0, 0, 0, 1, 1, 1])
    value = np.array([1.0, 2.0, 3.0, 4.0, 5.0, 6.0])
    first = np.ones(6)
    se = StreamExact(keys, batch, value, first)

    def row(n, qs):
        return dict({"key": "k00", "n_seen": n, "approx_distinct": n},
                    **{f"q{int(round(q * 100))}": v for q, v in zip(STREAM_QS, qs)})

    good = [row(3, [1.0, 1.0, 2.0, 3.0, 3.0]), row(6, [1.0, 2.0, 3.0, 5.0, 6.0])]
    by_batch = se.check(good)
    expect(all(c.ok for cs in by_batch.values() for c in cs),
           "an in-bound stream result passes")
    bad = [dict(good[1], q50=6.0)]
    by_batch = se.check(bad)
    expect(not all(c.ok for c in by_batch[1]), "perturbed stream q50 fails")


def test_hll_gate() -> None:
    # a stream estimate of a correct sketch (34,778 distinct, p=14) just
    # past the three-standard-error bound: ratio > 1, yet the op passes
    c = ex.check_hll("hll", 35_630, 34_778, 14)
    expect(c.ok and c.ratio > 1.0,
           f"an estimate 1.0015x the published bound passes, ratio {c.ratio}")
    gate = ex.hll_bound(34_778, 14, ex.HLL_GATE_Z)
    expect(not ex.check_hll("hll", 34_778 + gate + 1, 34_778, 14).ok,
           "an estimate past the gate fails")


def main() -> int:
    test_overlapping_jobs()
    test_single_task_python_stage()
    test_perturbed_scan()
    test_perturbed_heavy_hitters()
    test_perturbed_stream()
    test_hll_gate()
    print("selftest ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
