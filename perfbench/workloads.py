"""The three benchmark workloads: what each op runs and how it is checked.

A batch op builds the plan through the library's public operators and
collects it; the stream op is one micro-batch of ``streaming_multi_sketch``
(see run.py).  ``check`` compares a collected result with the exact answer
and returns ``exact.Check`` records.

This module is imported by Python workers too (the composite sketch below
travels by reference), so it starts nothing at import time.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd

from perfbench import exact as ex
from perfbench.inputs import Input, InputSpec, parquet_files

# ---------------------------------------------------------------------------
# sizes: ops of about 1-5 s on a 4-core box (per-stage fixed cost dominates),
# and a few seconds of generation per seed (README.md, "Sizing")
# ---------------------------------------------------------------------------

WEBPAGES_MULTI = InputSpec("webpages_multi", rows=30_000)
WEBPAGES_SINGLE = InputSpec("webpages_single", rows=700)
EVENTS_STREAM = InputSpec("events_stream", rows=12_500 * 8, files=8)

SCAN_HLL_P = 14
KLL_K = 200
SCAN_QS = (0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)
SS_K = 256
CMS_EPS = 1e-4
CMS_TOP_K = 20
STREAM_HLL_P = 14
STREAM_QS = (0.1, 0.25, 0.5, 0.75, 0.9)


# ---------------------------------------------------------------------------
# scan_sketch: HLL(url) + KLL(len(text)) + Welford(len(text)) in one pass
# ---------------------------------------------------------------------------


class ScanSketch:
    """One partial carrying the three sketches of the scan workload, so a
    single ``sketch_aggregate`` pass computes all three per key.

    ``salt`` is the op's index.  It re-mixes the url hashes and seeds the
    KLL coins, so each op draws its sketch error afresh and the median over
    ops averages it; unsalted, every op of a seed repeated the same
    estimates and error_vs_bound spread 11% over ten seeds (6% salted)."""

    def __init__(self, hll=None, kll=None, stats=None, salt: int = 0):
        from streaming_algorithms_spark.sketches import KLL, HyperLogLog, RunningStats

        if kll is None:
            # per-partial coin salt, as kll_quantiles does (sketches/kll.py)
            from pyspark import TaskContext

            tc = TaskContext.get()
            part = tc.partitionId() if tc is not None else 0
            kll = KLL(KLL_K, seed=(42 + 0x9E3779B9 * part
                                   + 0xBF58476D1CE4E5B9 * salt) % (1 << 64))
        self.hll = hll if hll is not None else HyperLogLog(SCAN_HLL_P)
        self.kll = kll
        self.stats = stats if stats is not None else RunningStats()
        self.salt = np.uint64(salt)

    def update(self, pdf: pd.DataFrame) -> None:
        h = pdf["_h"].to_numpy(np.int64).view(np.uint64)
        self.hll.add_hashes(_mix64(h ^ self.salt))
        v = pdf["_len"].to_numpy(np.float64)
        self.kll.update_batch(v)
        self.stats.update_batch(v)

    def merge(self, other: "ScanSketch") -> "ScanSketch":
        self.hll.merge(other.hll)
        self.kll.merge(other.kll)
        self.stats.merge(other.stats)
        return self

    def to_bytes(self) -> bytes:
        h, k, s = self.hll.to_bytes(), self.kll.to_bytes(), self.stats.to_bytes()
        return (len(h).to_bytes(4, "little") + len(k).to_bytes(4, "little")
                + h + k + s)

    @classmethod
    def from_bytes(cls, buf: bytes) -> "ScanSketch":
        from streaming_algorithms_spark.sketches import KLL, HyperLogLog, RunningStats

        nh = int.from_bytes(buf[0:4], "little")
        nk = int.from_bytes(buf[4:8], "little")
        h = HyperLogLog.from_bytes(buf[8:8 + nh])
        k = KLL.from_bytes(buf[8 + nh:8 + nh + nk])
        s = RunningStats.from_bytes(buf[8 + nh + nk:])
        return cls(h, k, s)


def _scan_update(sk: ScanSketch, pdf: pd.DataFrame) -> None:
    sk.update(pdf)


def _scan_finalize(sk: ScanSketch, rows: int) -> dict:
    return {
        "approx_distinct": int(round(sk.hll.estimate())),
        "qs": [float(sk.kll.quantile(q)) for q in SCAN_QS],
        "n": int(sk.stats.count),
        "mean": float(sk.stats.mean),
    }


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Workload:
    """Why each workload exists is in README.md and BENCHMARK.json."""

    name: str
    spec: InputSpec

    # -- exact answers (cached next to the input) -----------------------------
    def exact(self, inp: Input):
        raise NotImplementedError

    def _exact_path(self, inp: Input) -> Path:
        return inp.path.with_name(inp.path.name + f".exact-{self.name}.json")


class ScanSketchWorkload(Workload):
    def exact(self, inp: Input):
        return ex.cached(self._exact_path(inp), lambda: ex.exact_scan(inp.path))

    def prepare(self, spark, inp: Input):
        return spark.read.parquet(str(inp.path))

    def op(self, df, salt: int):
        from functools import partial

        from pyspark.sql import functions as F

        from streaming_algorithms_spark.operators.sketch_agg import (
            ensure_parallelism,
            sketch_aggregate,
        )

        src = df.select(
            "lang",
            F.xxhash64("url").alias("_h"),
            F.length("text").cast("double").alias("_len"),
        )
        out = sketch_aggregate(
            ensure_parallelism(src), ["lang"],
            factory=partial(ScanSketch, salt=salt), update=_scan_update,
            from_bytes=ScanSketch.from_bytes, finalize=_scan_finalize,
            out_value_schema="approx_distinct bigint, qs array<double>, "
                             "n bigint, mean double",
        )
        return [r.asDict() for r in out.collect()]

    def check(self, rows, exact) -> list:
        checks = [ex.check_equal("scan: one row per lang",
                                 sorted(r["lang"] for r in rows), sorted(exact))]
        for r in rows:
            e = exact.get(r["lang"])
            if e is None:
                checks.append(ex.Check(f"scan: unknown lang {r['lang']}", False))
                continue
            lang = r["lang"]
            checks.append(ex.check_equal(f"scan {lang}: n", r["n"], e["n"]))
            checks.append(ex.check_hll(f"scan {lang}: hll", r["approx_distinct"],
                                       e["distinct"], SCAN_HLL_P))
            checks.append(ex.check_mean(f"scan {lang}: mean", r["mean"], e["mean"]))
            vals = ex.hist_sorted(e["hist"])
            for q, est in zip(SCAN_QS, r["qs"]):
                checks.append(ex.check_kll(f"scan {lang}: kll q{q}", vals, q, est))
        return checks

    def sample(self, inp: Input) -> dict:
        return _webpages_sample(inp)


class HeavyHittersWorkload(Workload):
    def exact(self, inp: Input):
        return ex.cached(self._exact_path(inp),
                         lambda: ex.exact_tokens(inp.path, CMS_TOP_K, CMS_EPS))

    def prepare(self, spark, inp: Input):
        return spark.read.parquet(str(inp.path))

    def op(self, df, salt: int):
        """``salt`` is unused: these library operators take no seed."""
        from pyspark.sql import functions as F

        from streaming_algorithms_spark.operators.sketch_agg import (
            cms_heavy_hitters,
            space_saving_topk,
        )

        toks = df.select("lang", F.explode(F.split("text", " ")).alias("token"))
        ss = space_saving_topk(toks, [], "token", top_k=SS_K, k_counters=SS_K)
        hh = cms_heavy_hitters(toks, ["lang"], "token", top_k=CMS_TOP_K,
                               epsilon=CMS_EPS)
        return {"ss": [r.asDict() for r in ss.collect()],
                "cms": [r.asDict() for r in hh.collect()]}

    def check(self, res, exact) -> list:
        checks = []
        glob, n = exact["global"], exact["global_n"]
        reported = set()
        for r in res["ss"]:
            item, lo, hi = r["item"], r["count_lo"], r["count_hi"]
            reported.add(item)
            c = glob.get(item, 0)
            ok = lo <= c <= hi
            checks.append(ex.Check(f"ss {item}: lo <= exact <= hi", ok,
                                   abs(hi - c) / (n / SS_K)))
        for item, c in glob.items():
            if c > n / SS_K and item not in reported:
                checks.append(ex.Check(f"ss {item}: count > N/k not reported", False))
        per_lang: dict = {}
        for r in res["cms"]:
            per_lang.setdefault(r["lang"], []).append(r)
        checks.append(ex.check_equal("cms: langs", sorted(per_lang),
                                     sorted(exact["lang_n"])))
        for lang, rs in per_lang.items():
            n_lang = exact["lang_n"].get(lang, 0)
            head = exact["lang_head"].get(lang, {})
            for r in rs:
                checks.append(ex.check_equal(f"cms {lang}: total_count",
                                             r["total_count"], n_lang))
                if r["item"] not in head:
                    checks.append(ex.Check(
                        f"cms {lang} {r['item']}: reported but below the "
                        "exact top-k head", False))
                    continue
                checks.append(ex.check_cms(f"cms {lang} {r['item']}",
                                           r["est_count"], head[r["item"]],
                                           CMS_EPS, n_lang))
        return checks

    def sample(self, inp: Input) -> dict:
        return _webpages_sample(inp)


class StreamStateWorkload(Workload):
    """One op = one micro-batch; run.py drives the query."""

    def exact(self, inp: Input):
        return StreamExact.load(inp.path)

    def prepare(self, spark, inp: Input):
        return spark.readStream.schema(
            "key string, user bigint, value double"
        ).option("maxFilesPerTrigger", 1).parquet(str(inp.path))

    def query(self, stream):
        """The stateful query.  Its state-store partition count is pinned to
        spark.sql.shuffle.partitions at start (run.py: one per core)."""
        from streaming_algorithms_spark.streaming.stateful import streaming_multi_sketch

        return streaming_multi_sketch(stream, "key", "user", "value",
                                      p=STREAM_HLL_P, k=KLL_K, qs=STREAM_QS)

    def check(self, rows, exact: "StreamExact") -> dict:
        return exact.check(rows)

    def sample(self, inp: Input) -> dict:
        import pyarrow.parquet as pq

        t = pq.read_table(str(parquet_files(inp.path)[0]))
        user = t.column("user").to_numpy()
        return {
            "hashes": _mix64(user.astype(np.uint64)),
            "values": t.column("value").to_numpy(),
            "items": [str(u).encode() for u in user],
        }


class StreamExact:
    """Exact per-prefix answers for the event stream: the state after batch
    b covers files 0..b, so each emitted (key, n_seen) row identifies its
    prefix by the key's cumulative row count."""

    def __init__(self, keys, batch, value, first):
        self.by_key = {}
        n_files = int(batch.max()) + 1
        for k in np.unique(keys):
            m = keys == k
            b = batch[m]
            cum_n = np.cumsum(np.bincount(b, minlength=n_files))
            cum_d = np.cumsum(np.bincount(b, weights=first[m], minlength=n_files))
            self.by_key[str(k)] = (value[m], cum_n, cum_d.astype(np.int64))

    @classmethod
    def load(cls, path: Path) -> "StreamExact":
        npz = path.with_name(path.name + ".exact-stream_state.npz")
        if not npz.exists():
            import pyarrow.parquet as pq

            keys, batch, value, users = [], [], [], []
            for i, f in enumerate(parquet_files(path)):
                t = pq.read_table(str(f))
                keys.append(t.column("key").to_numpy(zero_copy_only=False).astype(str))
                users.append(t.column("user").to_numpy())
                value.append(t.column("value").to_numpy())
                batch.append(np.full(t.num_rows, i, np.int64))
            names, codes = np.unique(np.concatenate(keys), return_inverse=True)
            users = np.concatenate(users)
            first = np.zeros(codes.size, bool)
            first[np.unique(np.stack([codes, users]), axis=1, return_index=True)[1]] = True
            tmp = npz.with_name(npz.name + ".tmp.npz")
            np.savez(tmp, names=names, codes=codes.astype(np.int16),
                     batch=np.concatenate(batch).astype(np.int16),
                     value=np.concatenate(value), first=first)
            tmp.rename(npz)
        d = np.load(npz)
        return cls(d["names"][d["codes"]], d["batch"].astype(np.int64), d["value"],
                   d["first"].astype(np.float64))

    def check(self, rows) -> dict:
        """Checks per micro-batch id.  A key's row is emitted by the batch
        that first reaches its cumulative count, the earliest prefix with
        that n_seen; a row matching no prefix is filed under batch -1."""
        by_batch: dict = {}
        for r in rows:
            key, n_seen = r["key"], int(r["n_seen"])
            got = self.by_key.get(key)
            if got is None:
                by_batch.setdefault(-1, []).append(
                    ex.Check(f"stream {key}: unknown key", False))
                continue
            vals, cum_n, cum_d = got
            b = int(np.searchsorted(cum_n, n_seen))
            if b >= cum_n.size or cum_n[b] != n_seen:
                by_batch.setdefault(-1, []).append(ex.Check(
                    f"stream {key}: n_seen {n_seen} is no batch prefix", False))
                continue
            checks = by_batch.setdefault(b, [])
            checks.append(ex.check_hll(f"stream {key}@{b}: hll",
                                       r["approx_distinct"], int(cum_d[b]),
                                       STREAM_HLL_P))
            prefix = vals[:n_seen]
            for q in STREAM_QS:
                est = r[f"q{int(round(q * 100))}"]
                lo = np.count_nonzero(prefix < est) / n_seen
                hi = np.count_nonzero(prefix <= est) / n_seen
                err = lo - q if lo > q else (q - hi if hi < q else 0.0)
                checks.append(ex.Check(f"stream {key}@{b}: kll q{q}",
                                       err <= ex.KLL_RANK_EPS, err / ex.KLL_RANK_EPS))
        return by_batch


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer: the scan's per-op re-mix of the url hashes,
    and 64-bit hashes for the in-driver HLL replay."""
    x = x.astype(np.uint64)
    with np.errstate(over="ignore"):
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


_SAMPLE_ROWS = 2_000


def _webpages_sample(inp: Input) -> dict:
    """The first rows of the workload's own input, as the sketch kernels
    see them: 64-bit url hashes, text lengths, and utf-8 tokens."""
    import pyarrow.parquet as pq

    from streaming_algorithms_spark.sketches import xxh64_batch

    f = pq.ParquetFile(str(parquet_files(inp.path)[0]))
    t = next(f.iter_batches(batch_size=_SAMPLE_ROWS, columns=["url", "text"]))
    urls = t.column(0).to_pylist()
    texts = t.column(1).to_pylist()
    return {
        "hashes": xxh64_batch([u.encode() for u in urls]),
        "values": np.array([len(x) for x in texts], np.float64),
        "items": [tok.encode() for x in texts for tok in x.split(" ")],
    }


WORKLOADS = {
    w.name: w for w in (
        ScanSketchWorkload("scan_sketch", WEBPAGES_MULTI),
        HeavyHittersWorkload("heavy_hitters", WEBPAGES_SINGLE),
        StreamStateWorkload("stream_state", EVENTS_STREAM),
    )
}
