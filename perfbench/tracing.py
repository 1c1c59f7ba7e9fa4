"""Tracing for the per-layer run: spans around calls into the library's
public functions, and an in-driver replay of the sketch kernels.

Spans are recorded from the benchmark's own files: ``Tracer.install``
wraps the listed module attributes on the driver, so both the benchmark's
calls and the library's internal calls through those module globals are
timed (``sketch_aggregate`` -> ``build_partials`` nests).  Spans stay in
memory and are written out once, when the run ends.  Worker-side code is
not wrapped; the kernel numbers come from ``replay_sketches``.
"""

from __future__ import annotations

import functools
import importlib
import json
import statistics
import time
from pathlib import Path

import numpy as np

TRACED = {
    "streaming_algorithms_spark.operators.sketch_agg": (
        "build_partials", "merge_partials", "sketch_aggregate",
        "space_saving_topk", "cms_heavy_hitters", "ensure_parallelism",
    ),
    "streaming_algorithms_spark.streaming.stateful": ("streaming_multi_sketch",),
}


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._saved: list[tuple] = []
        self.op = -1  # id of the op in flight; spans carry it

    def install(self) -> "Tracer":
        for mod_name, names in TRACED.items():
            mod = importlib.import_module(mod_name)
            for name in names:
                fn = getattr(mod, name)
                self._saved.append((mod, name, fn))
                setattr(mod, name, self._wrap(f"{mod_name.rsplit('.', 1)[-1]}.{name}", fn))
        return self

    def uninstall(self) -> None:
        for mod, name, fn in reversed(self._saved):
            setattr(mod, name, fn)
        self._saved.clear()

    def _wrap(self, label: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sid = len(self.spans)
            span = {"id": sid, "name": label, "op": self.op,
                    "parent": self._stack[-1] if self._stack else None,
                    "start": time.time()}
            self.spans.append(span)
            self._stack.append(sid)
            try:
                return fn(*args, **kwargs)
            finally:
                self._stack.pop()
                span["end"] = time.time()
        return traced

    def driver_s(self, op: int, prefix: str) -> float:
        """Wall time of the op's outermost spans in one module: driver-side
        plan building (the lazy operators do their work at collect)."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["op"] == op and s["parent"] is None
                   and s["name"].startswith(prefix) and "end" in s)

    def write(self, path: Path) -> None:
        path.write_text(json.dumps(self.spans))


def _per_call_s(fn, min_s: float = 0.02, min_calls: int = 3) -> float:
    """Median wall time of ``fn()`` over repeated calls."""
    times = []
    t_end = time.perf_counter() + min_s
    while len(times) < min_calls or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def replay_sketches(sample: dict) -> dict:
    """Replay one sample of the workload's own input through each sketch
    kernel the way the operators feed them: update, merge of two halves,
    to_bytes and from_bytes.  Keys: sketches.<kind>.<metric>."""
    from streaming_algorithms_spark.sketches import (
        KLL,
        CountMinSketch,
        HyperLogLog,
        RunningStats,
        SpaceSaving,
    )

    hashes = np.asarray(sample["hashes"], np.uint64)
    values = np.asarray(sample["values"], np.float64)
    items = np.array(sample["items"][:16384], dtype=object)
    cms = CountMinSketch(1e-4, 0.01)  # shape of the codec's from_bytes

    def ss_update(sk, xs):
        uniq, cnt = np.unique(xs, return_counts=True)
        sk.update_batch(list(uniq), cnt)

    def cms_update(sk, xs):
        uniq, cnt = np.unique(xs, return_counts=True)
        sk.update_batch(list(uniq), cnt)

    kinds = {
        "hll": (lambda: HyperLogLog(14), lambda sk, xs: sk.add_hashes(xs),
                hashes, HyperLogLog.from_bytes),
        "kll": (lambda: KLL(200), lambda sk, xs: sk.update_batch(xs),
                values, KLL.from_bytes),
        "running_stats": (RunningStats, lambda sk, xs: sk.update_batch(xs),
                          values, RunningStats.from_bytes),
        "space_saving": (lambda: SpaceSaving(256), ss_update, items,
                         SpaceSaving.from_bytes),
        "cms": (lambda: CountMinSketch(1e-4, 0.01), cms_update, items,
                lambda b: CountMinSketch.from_bytes(b, width=cms.width, depth=cms.depth)),
    }
    out = {}
    for kind, (factory, update, xs, from_bytes) in kinds.items():
        def build(part):
            sk = factory()
            update(sk, part)
            return sk

        upd_s = _per_call_s(lambda: build(xs))
        half = len(xs) // 2
        a_bytes = build(xs[:half]).to_bytes()
        b = build(xs[half:])
        full = build(xs)
        blob = full.to_bytes()

        def merge_once():
            a = from_bytes(a_bytes)
            t0 = time.perf_counter()
            a.merge(b)
            return time.perf_counter() - t0

        merge_s = statistics.median(merge_once() for _ in range(5))
        p = f"sketches.{kind}."
        out[p + "update_items_per_s"] = len(xs) / upd_s
        out[p + "merge_s"] = merge_s
        out[p + "to_bytes_s"] = _per_call_s(full.to_bytes)
        out[p + "from_bytes_s"] = _per_call_s(lambda: from_bytes(blob))
    return out
