#!/usr/bin/env python3
"""sparksketch benchmark runner.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One closed-loop client drives one ``local[nproc]`` Spark session: it runs
the workload's op, waits for the result, checks it against the exact
answer, and starts the next op until ``--seconds`` have passed.  The last
stdout line is one JSON object: {"correct", "attempted", "failed",
"metrics"}; the line before it is a JSON context record (host, nproc,
sample counts, failures).  ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer metrics (README.md).

Works from any directory: the checkout root (this file's parent's parent)
goes on sys.path and on the Python workers' PYTHONPATH.  Everything the
run writes stays under <checkout>/.perfbench_cache.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SETUP_CYCLES = 3
STREAM_WARMUP_OPS = 4
DRIVER_MEM = "1g"
NO_RATIO = {"ratio": 0.0, "ratio_max": 0.0}


def _bootstrap() -> None:
    if not (ROOT / "streaming_algorithms_spark" / "__init__.py").is_file():
        sys.exit(f"perfbench: no streaming_algorithms_spark package in {ROOT}; "
                 "run from a full checkout")
    sys.path.insert(0, str(ROOT))
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + prev if prev else "")


def _spark_env(work: Path, ncpu: int) -> None:
    """Session settings the library reads from the environment, plus JVM
    options that keep every file Spark writes inside ``work``."""
    for d in ("tmp", "spark-local", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    # one shuffle partition per core, not the library default of 32 (sized
    # for a 32-core box): each Python merge task costs ~0.15 s of fixed
    # overhead here, and a stream's state-store partitions (one commit each
    # per batch) are pinned to this value at query start
    os.environ["SPARK_SHUFFLE_PARTITIONS"] = str(ncpu)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--conf spark.local.dir={work / 'spark-local'}",
        f"--conf spark.sql.warehouse.dir={work / 'warehouse'}",
        "--conf spark.ui.showConsoleProgress=false",
        # a fixed-size heap (-Xms = -Xmx) keeps the JVM's share of
        # peak_rss_mb from depending on when the heap happened to grow
        f"--driver-java-options '-Xms{DRIVER_MEM} -Djava.io.tmpdir={work / 'tmp'}'",
        "pyspark-shell",
    ])


def tail_stat(xs: list) -> tuple:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it.  Below 20 samples that percentile would sit under
    the median, so the slowest op is reported instead, as percentile 100."""
    s = sorted(xs)
    n = len(s)
    if n < 20:
        return s[-1], 100.0, n
    k = n - 11  # 0-based index: s[k+1:] holds exactly ten samples
    return s[k], 100.0 * (k + 1) / n, n


def failed_frac(ops: list) -> float:
    """Ops that failed (raised, or returned an out-of-bound result) over
    ops attempted."""
    return sum(not o["ok"] for o in ops) / len(ops)


class Bench:
    """One workload's session, input, exact answers and ops."""

    def __init__(self, wl, seed: int, cache: Path, work: Path):
        self.wl, self.seed, self.cache, self.work = wl, seed, cache, work
        self.spark = None
        self.inp = None
        self.exact = None
        self.data = None
        self.cycles = []     # per setup cycle: session, warm, load seconds
        self.failures = []   # names of failed checks (first few kept)
        self.warmup_ok = True
        self.op_index = 0    # every batch op so far, warm-up included

    # -- setup -----------------------------------------------------------------

    def _session(self, event_log: Path | None) -> tuple:
        from streaming_algorithms_spark.sources.session import get_spark

        if self.spark is not None:
            jvm = self.spark.sparkContext._jvm
            self.spark.stop()
            # SparkConf() of the next context loads JVM system properties
            if event_log is not None:
                event_log.mkdir(parents=True, exist_ok=True)
                for k, v in (("spark.eventLog.enabled", "true"),
                             ("spark.eventLog.dir", event_log.as_uri()),
                             ("spark.eventLog.compress", "false"),
                             ("spark.eventLog.rolling.enabled", "false")):
                    jvm.java.lang.System.setProperty(k, v)
            else:
                jvm.java.lang.System.clearProperty("spark.eventLog.enabled")
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        session_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        t0 = time.perf_counter()
        _warm_workers(self.spark)
        return session_s, time.perf_counter() - t0

    def _load(self) -> float:
        t0 = time.perf_counter()
        self.exact = self.wl.exact(self.inp)
        self.data = self.wl.prepare(self.spark, self.inp)
        return time.perf_counter() - t0

    def setup(self) -> None:
        from perfbench.inputs import ensure_input

        for cycle in range(SETUP_CYCLES):
            session_s, warm_s = self._session(None)
            if cycle == 0:
                # cache miss: generate + compute exact answers, untimed here
                # (input_gen_s records it); the timed load then reads caches
                self.inp = ensure_input(self.spark, self.cache, self.wl.spec, self.seed)
                self.wl.exact(self.inp)
            load_s = self._load()
            self.cycles.append({"session_s": session_s, "warm_s": warm_s,
                                "load_s": load_s})

    def restart_traced(self) -> None:
        self._session(self.work / "eventlog")
        self._load()

    # -- measurement -----------------------------------------------------------

    def _record(self, checks) -> tuple:
        from perfbench.exact import summarize

        ok, mean, worst, failed = summarize(checks)
        if failed and len(self.failures) < 20:
            self.failures.extend(failed[:20 - len(self.failures)])
        return ok, {"ratio": mean, "ratio_max": worst}

    def batch_phase(self, seconds: float, tracer=None) -> list:
        """Closed loop of batch ops; returns one record per op."""
        ops = []
        t_end = time.perf_counter() + seconds
        while not ops or time.perf_counter() < t_end:
            if tracer is not None:
                tracer.op = len(ops)
            t_wall = time.time()
            t0 = time.perf_counter()
            try:
                res, err = self.wl.op(self.data, self.op_index), None
            except Exception:  # an op that raises is a failed op, not a crash
                res, err = None, traceback.format_exc(limit=3)
            dt = time.perf_counter() - t0
            self.op_index += 1
            if err is None:
                ok, ratios = self._record(self.wl.check(res, self.exact))
            else:
                ok, ratios = False, NO_RATIO
                self.failures.append(err)
            ops.append({"s": dt, "start_ms": t_wall * 1e3,
                        "end_ms": t_wall * 1e3 + dt * 1e3, "ok": ok,
                        "rows": self.wl.spec.rows, **ratios})
        return ops

    def warmup(self) -> None:
        """Unmeasured work so JIT, codegen and worker imports are done
        before timing (one op, or a few micro-batches); it is still checked."""
        if self.wl.name == "stream_state":
            self.stream_phase(0.0, "warmup", min_ops=STREAM_WARMUP_OPS)
        else:
            self.warmup_ok = self.batch_phase(0.0)[0]["ok"]

    def stream_phase(self, seconds: float, tag: str, min_ops: int = 1) -> tuple:
        """Closed loop of stream queries over the same input files, each
        from a fresh checkpoint, until ``seconds`` passed and ``min_ops``
        micro-batches completed.  Every query's batch 0 (query start) is
        not an op, so each op sees state built from the same file prefix
        whatever the speed.  Returns (ops, progress records)."""
        ops, progress = [], []
        t_end = time.perf_counter() + seconds
        i = 0
        while len(ops) < min_ops or time.perf_counter() < t_end:
            o, p = self._stream_query(f"{tag}{i}", t_end, min_ops - len(ops))
            ops += o
            progress += p
            i += 1
        return ops, progress

    def _stream_query(self, name: str, t_end: float, need: int) -> tuple:
        """One availableNow query over the input; stopped early once the
        run's time is up and ``need`` ops are done."""
        q = (self.wl.query(self.data).writeStream.format("memory")
             .queryName(name).outputMode("update")
             .option("checkpointLocation", str(self.work / f"ckpt-{name}"))
             .trigger(availableNow=True).start())
        try:
            while q.isActive and (time.perf_counter() < t_end
                                  or len(q.recentProgress) <= need):
                q.awaitTermination(0.05)
            if q.exception() is not None:
                self.failures.append(str(q.exception())[:500])
        finally:
            q.stop()
        progress = [json.loads(p.json) for p in q.recentProgress]
        rows = [r.asDict() for r in self.spark.table(name).collect()]
        self.spark.catalog.dropTempView(name)
        by_batch = self.exact.check(rows)
        if -1 in by_batch:  # rows that match no batch prefix
            self._record(by_batch[-1])
        ops = []
        for p in progress:
            b = p["batchId"]
            checks = by_batch.get(b, [])
            if not checks:
                self.failures.append(f"stream: batch {b} emitted no checked rows")
            ok, ratios = self._record(checks) if checks else (False, NO_RATIO)
            if b == 0:
                self.warmup_ok &= ok
                continue
            dur = p["durationMs"]["triggerExecution"] / 1e3
            start_ms = _iso_ms(p["timestamp"])
            ops.append({"s": dur, "start_ms": start_ms,
                        "end_ms": start_ms + dur * 1e3, "ok": ok,
                        "rows": int(p["numInputRows"]), **ratios})
        return ops, [p for p in progress if p["batchId"] > 0]

    def phase(self, seconds: float, tag: str, tracer=None) -> tuple:
        from perfbench.host import RssSampler

        sampler = RssSampler().start()
        try:
            if self.wl.name == "stream_state":
                ops, progress = self.stream_phase(seconds, tag)
            else:
                ops, progress = self.batch_phase(seconds, tracer), []
        finally:
            peak = sampler.stop()
        return ops, progress, peak

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def _shutdown_jvm() -> None:
    """End the JVM this process launched (and with it the Python daemon)
    and wait for it to exit, so no process outlives the run."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _warm_workers(spark) -> None:
    """One task per core that imports the library and the benchmark's
    worker-side module, so Python workers are up before anything is timed."""
    n = spark.sparkContext.defaultParallelism

    def warm(batches):
        import perfbench.workloads  # noqa: F401
        import streaming_algorithms_spark.sketches  # noqa: F401

        for b in batches:
            yield b

    spark.range(n, numPartitions=n).mapInPandas(warm, "id long").collect()


def _iso_ms(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1e3


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def end_to_end(bench: Bench, ops: list, peak_mb: float) -> dict:
    times = [o["s"] for o in ops]
    if not times:
        raise RuntimeError("no op completed within the run")
    tail, _, _ = tail_stat(times)
    setup = statistics.median(c["session_s"] + c["warm_s"] + c["load_s"]
                              for c in bench.cycles)
    return {
        "setup_s": {"value": setup, "unit": "s"},
        "rows_per_s": {"value": sum(o["rows"] for o in ops) / sum(times), "unit": "rows/s"},
        "op_p50_s": {"value": statistics.median(times), "unit": "s"},
        "op_tail_s": {"value": tail, "unit": "s"},
        "error_vs_bound": {"value": _median(o["ratio"] for o in ops), "unit": "ratio"},
        "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
    }


PER_LAYER_UNITS = {
    "sources.session_start_s": "s", "sources.worker_warm_s": "s",
    "sources.input_gen_s": "s",
    "arrow.rows_to_python": "rows", "arrow.bytes_to_python": "bytes",
    "arrow.bytes_from_python": "bytes", "arrow.python_s": "s",
    "arrow.python_boot_s": "s",
    "sketch_agg.partial_bytes": "bytes", "sketch_agg.partials_out": "rows",
    "sketch_agg.merge_groups": "groups", "sketch_agg.driver_s": "s",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.critical_path_s": "s", "spark.driver_gap_s": "s",
    "spark.python_single_task_stages": "count", "spark.task_skew": "ratio",
    "streaming.trigger_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.state_commit_ms": "ms", "streaming.state_bytes": "bytes",
    "streaming.state_rows": "rows",
    "host.kernel_control_s": "s", "host.disk_mb_s": "MB/s",
    "trace.untraced_op_p50_s": "s", "trace.traced_op_p50_s": "s",
    "trace.overhead_s": "s",
}
for _kind in ("hll", "kll", "running_stats", "space_saving", "cms"):
    PER_LAYER_UNITS[f"sketches.{_kind}.update_items_per_s"] = "items/s"
    for _m in ("merge_s", "to_bytes_s", "from_bytes_s"):
        PER_LAYER_UNITS[f"sketches.{_kind}.{_m}"] = "s"


def per_layer(bench: Bench, untraced: list, traced: list, progress: list,
              tracer, log, controls: list) -> dict:
    """Medians over the traced ops of each layer's numbers."""
    from perfbench.tracing import replay_sketches

    vals: dict = {}
    per_op = [log.op_layers(o["start_ms"], o["end_ms"]) for o in traced]
    for key in per_op[0] if per_op else ():
        vals[key] = _median(p[key] for p in per_op)
    vals["sketch_agg.driver_s"] = _median(tracer.driver_s(i, "sketch_agg.")
                                          for i in range(len(traced)))
    vals["sources.session_start_s"] = _median(c["session_s"] for c in bench.cycles)
    vals["sources.worker_warm_s"] = _median(c["warm_s"] for c in bench.cycles)
    vals["sources.input_gen_s"] = bench.inp.gen_s

    def state(p: dict) -> dict:
        return (p.get("stateOperators") or [{}])[0]

    def prog(get) -> float:
        return _median(float(get(p) or 0.0) for p in progress)

    vals["streaming.trigger_ms"] = prog(lambda p: p["durationMs"].get("triggerExecution"))
    vals["streaming.add_batch_ms"] = prog(lambda p: p["durationMs"].get("addBatch"))
    vals["streaming.state_commit_ms"] = prog(lambda p: state(p).get("commitTimeMs"))
    vals["streaming.state_bytes"] = prog(lambda p: state(p).get("memoryUsedBytes"))
    vals["streaming.state_rows"] = prog(lambda p: state(p).get("numRowsTotal"))
    vals.update(replay_sketches(bench.wl.sample(bench.inp)))
    vals["host.kernel_control_s"] = _median(c["kernel_control_s"] for c in controls)
    vals["host.disk_mb_s"] = _median(c["disk_mb_s"] for c in controls)
    p50_a = _median(o["s"] for o in untraced)
    p50_b = _median(o["s"] for o in traced)
    vals["trace.untraced_op_p50_s"] = p50_a
    vals["trace.traced_op_p50_s"] = p50_b
    vals["trace.overhead_s"] = p50_b - p50_a
    return {k: {"value": float(vals.get(k, 0.0)), "unit": u}
            for k, u in PER_LAYER_UNITS.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0 or args.seconds <= 0:
        ap.error("--seed must be >= 0 and --seconds > 0")
    _bootstrap()

    from perfbench import eventlog, host
    from perfbench.inputs import CACHE_DIRNAME
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]
    cache = ROOT / CACHE_DIRNAME
    work = cache / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    ncpu = host.nproc()
    _spark_env(work, ncpu)

    controls = [host.controls(work)]
    bench = Bench(wl, args.seed, cache, work)
    tracer = None
    try:
        bench.setup()
        bench.warmup()
        if not args.trace:
            ops, _, peak = bench.phase(args.seconds, "run")
            all_ops = ops
        else:
            untraced, _, _ = bench.phase(args.seconds / 2, "untraced")
            bench.restart_traced()
            tracer = Tracer().install()
            try:
                traced, progress, _ = bench.phase(args.seconds / 2, "traced", tracer)
            finally:
                tracer.uninstall()
            all_ops = untraced + traced
        bench.stop()
        controls.append(host.controls(work))
        if not args.trace:
            metrics = end_to_end(bench, ops, peak)
        else:
            log = eventlog.read(work / "eventlog")
            metrics = per_layer(bench, untraced, traced, progress, tracer, log, controls)
            tracer.write(cache / f"spans-{wl.name}-seed{args.seed}.json")
    finally:
        bench.stop()
        _shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(not o["ok"] for o in all_ops)
    times = [o["s"] for o in all_ops]
    _, tail_pct, tail_n = tail_stat(times)
    context = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": ncpu,
        "host_before": controls[0], "host_after": controls[-1],
        "input": {"table": wl.spec.table, "rows": wl.spec.rows,
                  "cached": bench.inp.cached, "gen_s": bench.inp.gen_s},
        "setup_cycles": bench.cycles,
        "ops": len(all_ops), "op_s": [round(t, 4) for t in times],
        "op_tail": {"percentile": tail_pct, "samples": tail_n},
        "error_vs_bound_max": _median(o["ratio_max"] for o in all_ops),
        "failed_frac": failed_frac(all_ops),
        "warmup_ok": bench.warmup_ok,
        "failures": bench.failures[:20],
    }
    print(json.dumps({"context": context}))
    correct = failed == 0 and bench.warmup_ok and not bench.failures
    for m in metrics.values():
        if not math.isfinite(m["value"]):
            correct = False
    print(json.dumps({"correct": correct, "attempted": len(all_ops),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
