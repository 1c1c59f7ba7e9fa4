"""Distributed sketch aggregation — the engine core.

The reference library is a set of single-threaded accumulators
(SURVEY §0); the distributed re-expression is a *two-stage aggregate*
(the treeAggregate / partial-agg shape, SURVEY §3 EP1):

    stage 1 (map side, no shuffle):
        df.mapInPandas(build_partials)  — one sketch per (partition, key),
        updated with vectorized numpy over each Arrow batch; emits rows
        (key..., sketch BINARY, rows BIGINT, partition_id INT,
        wall_ms DOUBLE).  The lineage columns are what checkpoint.py and
        sketch_table.py persist; every partial build goes through here.
    stage 2 (reduce side):
        partials.repartition(n, *keys).groupBy(keys).applyInPandas(merge)
        (merge_partials) — shuffles ONLY the tiny binary partials, merges
        per key (associative monoid), and emits either the finalized
        answer columns or, without a finalizer, re-serialized
        (key..., sketch, rows) rows.  Every merge goes through here.

Shuffle volume is O(input_partitions x distinct_keys x sketch_bytes),
independent of row count — at 10^12 rows the shuffle is still megabytes.
Skewed keys (Zipfian `lang`) cost nothing extra: the skew is absorbed in
stage 1, which is per-partition; stage 2 moves one partial per partition per
key regardless of how many raw rows the hot key had.  An optional
``salt_partitions`` adds an intermediate salted merge stage for the extreme
case of very many partitions x few keys (two-stage merge tree), valid
because every sketch is a commutative monoid (SURVEY §4).
"""

from __future__ import annotations

import re
import time
from typing import Callable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sketches import (
    KLL,
    BloomFilter,
    CountMinSketch,
    HyperLogLog,
    RunningStats,
    SpaceSaving,
    TDigest,
)

# ---------------------------------------------------------------------------
# generic two-stage engine
# ---------------------------------------------------------------------------


def _key_schema(df: DataFrame, keys: Sequence[str]) -> str:
    by_name = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    return ", ".join(f"`{k}` {by_name[k]}" for k in keys)


def encode_utf8(series: pd.Series) -> np.ndarray:
    """Vectorized (C-level) utf-8 encode of a string column to bytes objects."""
    return series.astype(str).str.encode("utf-8").to_numpy()


def distinct_utf8(series: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """(distinct values as ``encode_utf8`` bytes, their counts): factorize
    the column (pandas C hash table), count with bincount, and encode only
    the uniques.  Same multiset of (bytes, count) as encoding every row."""
    codes, uniq = pd.factorize(series.astype(str), use_na_sentinel=False)
    return (encode_utf8(pd.Series(uniq, dtype=object)),
            np.bincount(codes, minlength=len(uniq)))


def _parse_size(s: str) -> int:
    """'128m' / '134217728b' / '4MB' -> bytes."""
    s = str(s).strip().lower()
    for suf, mult in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                      ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30),
                      ("b", 1)):
        if s.endswith(suf):
            return int(float(s[: -len(suf)])) * mult
    return int(float(s))


def estimate_scan_partitions(df: DataFrame) -> int | None:
    """Estimate the scan's task count WITHOUT ``df.rdd`` (which converts the
    whole Catalyst plan to RDDs per call — a per-query tax the hot paths must
    not pay): reproduce Spark's FilePartition split math over
    ``df.inputFiles()`` — maxSplitBytes = min(maxPartitionBytes,
    max(openCostInBytes, totalBytes / defaultParallelism)), tasks ≈
    ceil((total + nFiles·openCost) / maxSplitBytes).  Returns None for
    non-file plans (in-memory test frames) and _ASSUME_PARALLEL for remote
    filesystems where stat is unavailable (callers must then never inject
    a raw-row repartition — see the sentinel's comment)."""
    import os
    from urllib.parse import urlparse

    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    conf = df.sparkSession.conf
    try:
        max_part = _parse_size(conf.get("spark.sql.files.maxPartitionBytes", "128m"))
        open_cost = _parse_size(conf.get("spark.sql.files.openCostInBytes", "4m"))
    except (ValueError, TypeError):
        max_part, open_cost = 128 << 20, 4 << 20
    total = 0
    for f in files:
        u = urlparse(f)
        if u.scheme not in ("", "file"):
            return _ASSUME_PARALLEL  # remote FS: can't stat — never repartition
        try:
            total += os.path.getsize(u.path)
        except OSError:
            # LOCAL file that can't be stat'd (deleted/replaced mid-plan):
            # unlike the remote case, assume-parallel is wrong here — a
            # small local input would silently lose its Python-stage
            # spread; the file count is the conservative local estimate
            return len(files)
    par = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    padded = total + len(files) * open_cost
    max_split = min(max_part, max(open_cost, padded // par or 1))
    return max(1, -(-padded // max_split))


# sentinel: "assume the scan is already parallel enough".  Returned when
# file sizes cannot be stat'd (remote filesystems): reporting len(files)
# there would make ensure_parallelism inject a FULL raw-row repartition of
# an s3://corpus with few large files — the one shuffle this machinery
# exists to avoid.  At production scale missing a repartition costs
# nothing; adding one costs the whole corpus over the wire.
_ASSUME_PARALLEL = 1 << 30


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Small inputs (test-scale single parquet files) arrive as 1-2 input
    partitions, serializing the python stage.  Repartition ONLY when the
    input has fewer partitions than half the cluster — at production scale
    (partitions >> cores) this is a no-op, so no raw-row shuffle is added.
    Partition counts come from file-split math (estimate_scan_partitions),
    never ``df.rdd`` — no RDD conversion in the gated-query plans."""
    par = df.sparkSession.sparkContext.defaultParallelism
    est = estimate_scan_partitions(df)
    if est is None:
        est = df.rdd.getNumPartitions()  # in-memory frames (tests) only
    if est < max(2, par // 2):
        return df.repartition(par)
    return df


def build_partials(df: DataFrame, keys: Sequence[str], factory: Callable[[], object],
                   update: Callable[[object, pd.DataFrame], None]) -> DataFrame:
    """Stage 1: one serialized sketch per (input partition, key), with its
    lineage: (key..., sketch, rows, partition_id, wall_ms).  partition_id
    is the task's partition (= ``spark_partition_id()`` of the rows it
    read), so callers that skip partitions filter JVM-side before this
    stage and no id column crosses Arrow; wall_ms is the task's build
    time."""
    keys = list(keys)
    key_schema = _key_schema(df, keys)
    out_schema = (key_schema + ", " if keys else "") + (
        "sketch binary, rows bigint, partition_id int, wall_ms double")

    def gen(batches):
        from pyspark import TaskContext

        t0 = time.perf_counter()
        acc: dict[tuple, object] = {}
        rows: dict[tuple, int] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            groups = (pdf.groupby(keys, sort=False, dropna=False) if keys
                      else [((), pdf)])
            for kv, sub in groups:
                k = kv if isinstance(kv, tuple) else (kv,)
                sk = acc.get(k)
                if sk is None:
                    sk = acc[k] = factory()
                    rows[k] = 0
                update(sk, sub)
                rows[k] += len(sub)
        pid = TaskContext.get().partitionId()
        wall_ms = (time.perf_counter() - t0) * 1000
        recs = [(*k, sk.to_bytes(), rows[k], pid, wall_ms)
                for k, sk in acc.items()]
        yield pd.DataFrame(recs, columns=[*keys, "sketch", "rows",
                                          "partition_id", "wall_ms"])

    return df.mapInPandas(gen, out_schema)


def merge_partials(partials: DataFrame, keys: Sequence[str],
                   from_bytes: Callable[[bytes], object],
                   finalize: Callable[[object, int], dict] | None = None,
                   out_value_schema: str = "sketch binary, rows bigint") -> DataFrame:
    """Stage 2: shuffle the (key..., sketch, rows) partials by key and merge
    each key's sketches.  With ``finalize`` it emits (key...,
    out_value_schema); without, the merged rows stay serialized as
    (key..., sketch, rows) — what the salted mid-stage, the rollup's finest
    level and sketch-table compaction keep.  Other partial columns
    (lineage) are dropped before the shuffle."""
    keys = list(keys)
    key_schema = _key_schema(partials, keys)
    out_schema = (key_schema + ", " if keys else "") + out_value_schema

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        sk = from_bytes(pdf["sketch"].iloc[0])
        for buf in pdf["sketch"].iloc[1:]:
            sk.merge(from_bytes(buf))
        total_rows = int(pdf["rows"].sum())
        rec = {k: pdf[k].iloc[0] for k in keys}
        rec.update(finalize(sk, total_rows) if finalize is not None
                   else {"sketch": sk.to_bytes(), "rows": total_rows})
        return pd.DataFrame([rec])

    partials = partials.select(*keys, "sketch", "rows")
    if not keys:
        # one group: plans as Exchange SinglePartition
        return partials.groupBy().applyInPandas(merge, out_schema)
    # user-specified repartition: exempt from AQE coalescing so the merge
    # parallelism tracks the key count even though partial rows are tiny
    n_parts = int(partials.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return (
        partials.repartition(n_parts, *keys)
        .groupBy(keys)
        .applyInPandas(merge, out_schema)
    )


def sketch_aggregate(df: DataFrame, keys: Sequence[str],
                     factory: Callable[[], object],
                     update: Callable[[object, pd.DataFrame], None],
                     from_bytes: Callable[[bytes], object],
                     finalize: Callable[[object, int], dict],
                     out_value_schema: str,
                     salt_partitions: int = 0) -> DataFrame:
    """Full two-stage (optionally three-stage salted) sketch aggregation."""
    partials = build_partials(df, keys, factory, update)
    if salt_partitions > 1:
        # intermediate merge per (key, salt): bounds stage-2 fan-in when
        # partitions >> keys.  Monoid associativity makes this semantics-free.
        salted = partials.withColumn(
            "_salt", F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt_partitions))
        )
        partials = merge_partials(salted, [*keys, "_salt"], from_bytes).drop("_salt")
    return merge_partials(partials, keys, from_bytes, finalize, out_value_schema)


# ---------------------------------------------------------------------------
# concrete operators
# ---------------------------------------------------------------------------


def hll_distinct(df: DataFrame, keys: Sequence[str], col: str, p: int = 14,
                 out_col: str = "approx_distinct",
                 jvm_hash: bool = True, salt_partitions: int = 0) -> DataFrame:
    """Approximate COUNT(DISTINCT col) GROUP BY keys via mergeable HLL.
    Replaces the reference workload's external hyperloglog module
    (heka_message_monitor.lua:506-512).

    jvm_hash=True (default): the 64-bit key hash is computed by Spark's
    codegen'd ``xxhash64`` inside the scan projection, so only 8-byte hashes
    cross the Arrow boundary — at 100 TB the string column never leaves the
    JVM (measured 5.5x faster).  jvm_hash=False hashes raw utf-8 bytes with
    our own XXH64 (useful when the sketch must be probed with external keys)."""

    # SQL DISTINCT/aggregate semantics: NULL keys don't count
    df = df.filter(F.col(col).isNotNull())
    if jvm_hash:
        hashed = df.select(*keys, F.xxhash64(col).alias("_h"))

        def update(sk: HyperLogLog, pdf: pd.DataFrame) -> None:
            sk.add_hashes(pdf["_h"].to_numpy(np.int64).view(np.uint64))

        src = hashed
    else:
        def update(sk: HyperLogLog, pdf: pd.DataFrame) -> None:
            sk.update_batch(encode_utf8(pdf[col]))

        src = df.select(*keys, col)

    return sketch_aggregate(
        ensure_parallelism(src), keys,
        factory=lambda: HyperLogLog(p),
        update=update,
        from_bytes=HyperLogLog.from_bytes,
        finalize=lambda sk, rows: {out_col: int(round(sk.estimate())), "rows_seen": rows},
        out_value_schema=f"{out_col} bigint, rows_seen bigint",
        salt_partitions=salt_partitions,
    )


def sketch_rollup(df: DataFrame, keys: Sequence[str], factory,
                  update, from_bytes, finalize, out_value_schema: str,
                  all_label: str = "ALL") -> DataFrame:
    """Hierarchical rollup from ONE scan: build partials at the finest
    granularity (keys[0..n-1]), then derive every coarser level — (keys[0..
    n-2]), ..., () — by re-merging the SERIALIZED sketch rows, never
    re-scanning the data (the hypertable-rollup pattern; sound because every
    sketch here is a commutative monoid).  At 100 TB the coarser levels cost
    O(groups) sketch merges instead of O(rows) passes.

    Rolled-up key columns carry ``all_label`` (not NULL — keeps
    engine-portable semantics for oracles), plus a ``level`` column with the
    number of grouping keys retained.  Keys must be string columns (the
    label shares their type); rows whose key is NULL should be filtered or
    relabeled by the caller first, else they are indistinguishable from the
    subtotal rows."""
    keys = list(keys)
    for k in keys:
        if df.schema[k].dataType.simpleString() != "string":
            raise TypeError(
                f"sketch_rollup requires string key columns (rolled-up "
                f"levels carry {all_label!r}); got {k}: "
                f"{df.schema[k].dataType.simpleString()}"
            )
    partials = build_partials(df, keys, factory, update)
    finest = merge_partials(partials, keys, from_bytes).cache()

    def finalize_level(sk_rows: DataFrame, level: int) -> DataFrame:
        kept = keys[:level]
        # merge_partials both re-merges the finest-level sketch rows down to
        # this level's keys (or globally for kept=[]) and finalizes them
        out = merge_partials(sk_rows, kept, from_bytes, finalize, out_value_schema)
        value_cols = [c for c in out.columns if c not in kept]
        for k in keys[level:]:
            out = out.withColumn(k, F.lit(all_label))
        return out.withColumn("level", F.lit(level)).select(
            *keys, "level", *value_cols
        )

    levels = [finalize_level(finest, lv) for lv in range(len(keys), -1, -1)]
    res = levels[0]
    for l in levels[1:]:
        res = res.unionByName(l)
    return res


# pairs=None enumerates ALL (a < b) key combinations on the driver — an
# O(K^2) list that is only sane for low-cardinality group keys (langs,
# event types, shards).  Above this many keys the all-pairs default refuses
# and callers must pass an explicit pairs= subset (or restructure around a
# join).  512 keys = 130,816 pairs ≈ the most a driver list / one merge
# stage should ever carry.
MAX_AUTO_PAIR_KEYS = 512


def _enumerate_all_pairs(keys: DataFrame, key_col: str, op: str) -> list:
    """Driver-side all-pairs enumeration with the documented cardinality
    guard.  The collect itself is LIMIT-bounded to cap+1 rows, so a
    high-cardinality key blows up in this error message — never in driver
    memory first."""
    rows = keys.select(key_col).limit(MAX_AUTO_PAIR_KEYS + 1).collect()
    if len(rows) > MAX_AUTO_PAIR_KEYS:
        raise ValueError(
            f"{op}: more than {MAX_AUTO_PAIR_KEYS} distinct {key_col!r} "
            "keys — the all-pairs default would enumerate an O(K^2) "
            "driver list; pass an explicit pairs= subset for "
            "high-cardinality keys"
        )
    ks = sorted(r[key_col] for r in rows)
    return [(a, b) for i, a in enumerate(ks) for b in ks[i + 1:]]


def _pairwise_sketch_estimates(df: DataFrame, key_col: str, col: str,
                               factory, update, from_bytes,
                               pair_record, out_value_schema: str,
                               op_name: str,
                               pairs: Sequence[tuple] = None,
                               col_is_hash: bool = False) -> DataFrame:
    """Shared scaffold for every pairwise set-algebra operator: one hashed
    scan -> per-key partial sketches -> merged rows -> (key_a, key_b)
    double join -> Arrow-batch pair estimator.  ``pair_record(A, B)`` maps
    two deserialized sketches to the value tuple matching
    ``out_value_schema``.  The 100-TB shape is the scaffold's whole
    point: one sketch-building corpus scan + O(pairs) register/tag
    merges.  The capped all-pairs enumeration reads the key column alone
    (a JVM distinct, no Python), so nothing is cached or left cached.
    """
    df = df.filter(F.col(col).isNotNull() & F.col(key_col).isNotNull())
    hcol = F.col(col) if col_is_hash else F.xxhash64(col)
    hashed = ensure_parallelism(df.select(F.col(key_col), hcol.alias("_h")))
    partials = build_partials(hashed, [key_col], factory, update)
    merged = merge_partials(partials, [key_col], from_bytes)
    spark = df.sparkSession
    kt = df.schema[key_col].dataType.simpleString()
    if pairs is None:
        pairs = _enumerate_all_pairs(df.select(key_col).distinct(), key_col,
                                     op_name)
    pairs_df = spark.createDataFrame(list(pairs), f"key_a {kt}, key_b {kt}")
    sa = merged.select(F.col(key_col).alias("key_a"),
                       F.col("sketch").alias("_ska"))
    sb = merged.select(F.col(key_col).alias("key_b"),
                       F.col("sketch").alias("_skb"))
    j = pairs_df.join(sa, "key_a").join(sb, "key_b")
    names = [tok.strip().split()[0] for tok in out_value_schema.split(",")]
    out_schema = f"key_a {kt}, key_b {kt}, " + out_value_schema

    def gen(batches):
        for pdf in batches:
            recs = [
                (ka, kb, *pair_record(from_bytes(bytes(ba)),
                                      from_bytes(bytes(bb))))
                for ka, kb, ba, bb in zip(pdf["key_a"], pdf["key_b"],
                                          pdf["_ska"], pdf["_skb"])
            ]
            yield pd.DataFrame(recs, columns=["key_a", "key_b"] + names)

    return j.mapInPandas(gen, out_schema)


def hll_pairwise_overlap(df: DataFrame, key_col: str, col: str,
                         pairs: Sequence[tuple] = None, p: int = 14,
                         col_is_hash: bool = False) -> DataFrame:
    """Distinct-set overlap between groups via HLL sketch ALGEBRA: one scan
    builds per-group register sketches (two-stage, JVM hashing); pair unions
    come from MERGING the groups' serialized sketches — no second scan of
    the data — and |A∩B| = |A| + |B| - |A∪B| (inclusion-exclusion).  The
    corpus-overlap question ("how many distinct tokens/urls do EN and DE
    share?") at 100 TB costs one scan plus O(pairs) 2^p-register merges.

    pairs defaults to all (a < b) combinations of observed keys.  Returns
    (key_a, key_b, est_a, est_b, est_union, est_intersection).  The
    intersection error compounds the three estimates' errors:
    |err| <~ rse*(|A| + |B| + |A∪B|), rse = 1.04/sqrt(2^p); the estimate is
    clamped at 0.  NULL group keys are excluded (a NULL group can't be
    paired); col_is_hash=True treats ``col`` as a precomputed 64-bit hash
    (skips the xxhash64 projection — HLL inserts are idempotent, so feeding
    pre-distinct hashes gives identical registers)."""

    def update(sk: HyperLogLog, pdf: pd.DataFrame) -> None:
        sk.add_hashes(pdf["_h"].to_numpy(np.int64).view(np.uint64))

    def pair_record(A: HyperLogLog, B: HyperLogLog) -> tuple:
        ea, eb = A.estimate(), B.estimate()
        A.merge(B)  # register-max: |A∪B| from the sketches alone
        eu = A.estimate()
        return (int(round(ea)), int(round(eb)), int(round(eu)),
                max(0, int(round(ea + eb - eu))))

    return _pairwise_sketch_estimates(
        df, key_col, col, lambda: HyperLogLog(p), update,
        HyperLogLog.from_bytes, pair_record,
        "est_a bigint, est_b bigint, est_union bigint, "
        "est_intersection bigint",
        "hll_pairwise_overlap", pairs=pairs, col_is_hash=col_is_hash,
    )


def kmv_pairwise_set_ops(df: DataFrame, key_col: str, col: str,
                         k: int = 1024, pairs: Sequence[tuple] = None) -> DataFrame:
    """Theta-sketch set ALGEBRA between groups — union, intersection, and
    one-sided DIFFERENCE — from ONE scan: per-group bottom-k/KMV sketches
    (two-stage partial aggregation), then pair estimates from the merged
    sketches' tag arrays alone (sketches/bottomk.theta_set_estimates).
    The capability HLL register algebra cannot give: inclusion-exclusion
    yields |A∩B| but never |A\\B| with usable error; the Theta cut gives
    every set expression at ~1/sqrt(k) relative error on the union scale,
    and is EXACT while groups are under k distinct values.

    At 100 TB: one scan + O(pairs) tag-array intersections of <= k u64s.
    pairs defaults to all (a < b) combinations of observed keys.  Returns
    (key_a, key_b, est_union, est_intersection, est_a_minus_b,
    est_b_minus_a).

    Hot-path shape: tags are Spark's codegen'd ``xxhash64`` computed in the
    JVM projection — only 8-byte hashes cross the Arrow boundary (never the
    value strings), and the sketches run in tag-only mode (pure-numpy
    bottom-k, no key storage)."""
    from ..sketches import BottomKSample, theta_set_estimates

    def update(sk: BottomKSample, pdf: pd.DataFrame) -> None:
        sk.update_tags(pdf["_h"].to_numpy(np.int64).view(np.uint64))

    def pair_record(A: BottomKSample, B: BottomKSample) -> tuple:
        est = theta_set_estimates(A, B)
        return (int(round(est["est_union"])),
                int(round(est["est_intersection"])),
                int(round(est["est_a_minus_b"])),
                int(round(est["est_b_minus_a"])))

    return _pairwise_sketch_estimates(
        df, key_col, col, lambda: BottomKSample(k), update,
        BottomKSample.from_bytes, pair_record,
        "est_union bigint, est_intersection bigint, "
        "est_a_minus_b bigint, est_b_minus_a bigint",
        "kmv_pairwise_set_ops", pairs=pairs,
    )


class _HllKmv:
    """Combined HLL + bottom-k accumulator: BOTH set-algebra sketch families
    updated from ONE pass over the same 64-bit hashes.  Exists because
    ``hll_pairwise_overlap`` and ``kmv_pairwise_set_ops`` over the same
    (key, value) set each run an identical scan + Python build + merge
    stage — the inputs are the same ``xxhash64`` values, so one build
    yields byte-identical registers AND tag arrays at half the passes.
    Standard sketch-monoid surface (merge/to_bytes/from_bytes), so the
    generic two-stage engine and checkpoint lineage apply unchanged."""

    __slots__ = ("hll", "kmv")

    def __init__(self, p: int = 14, k: int = 1024):
        from ..sketches import BottomKSample

        self.hll = HyperLogLog(p)
        self.kmv = BottomKSample(k)

    def update_hashes(self, h: np.ndarray) -> None:
        self.hll.add_hashes(h)
        self.kmv.update_tags(h)

    def merge(self, other: "_HllKmv") -> "_HllKmv":
        self.hll.merge(other.hll)
        self.kmv.merge(other.kmv)
        return self

    def to_bytes(self) -> bytes:
        hb = self.hll.to_bytes()
        return len(hb).to_bytes(4, "little") + hb + self.kmv.to_bytes()

    @classmethod
    def from_bytes(cls, buf: bytes) -> "_HllKmv":
        from ..sketches import BottomKSample

        buf = bytes(buf)
        n = int.from_bytes(buf[:4], "little")
        sk = cls.__new__(cls)
        sk.hll = HyperLogLog.from_bytes(buf[4:4 + n])
        sk.kmv = BottomKSample.from_bytes(buf[4 + n:])
        return sk


def hll_kmv_pairwise_set_ops(df: DataFrame, key_col: str, col: str,
                             p: int = 14, k: int = 1024,
                             pairs: Sequence[tuple] = None,
                             col_is_hash: bool = False) -> DataFrame:
    """ONE-PASS pairwise set algebra, both sketch families: per-group
    HLL (union/intersection by register merge + inclusion-exclusion) AND
    Theta/KMV (union/intersection/one-sided difference from the tag cut),
    built from a single scan of ``xxhash64(col)``.  Estimates are
    IDENTICAL to running ``hll_pairwise_overlap`` and
    ``kmv_pairwise_set_ops`` separately (both consume the same hash
    values; inserts are idempotent/order-free), at one scan + one Python
    build + one merge stage instead of two of each.

    Returns (key_a, key_b, est_a, est_b, est_union, est_intersection,
    kmv_union, kmv_intersection, est_a_minus_b, est_b_minus_a) — the HLL
    union/intersection under the unprefixed names, the Theta cut under
    ``kmv_*``.  Same 100-TB shape as the single-family ops: one corpus
    scan + O(pairs) register/tag merges; same MAX_AUTO_PAIR_KEYS guard."""
    from ..sketches import theta_set_estimates

    def update(sk: _HllKmv, pdf: pd.DataFrame) -> None:
        sk.update_hashes(pdf["_h"].to_numpy(np.int64).view(np.uint64))

    def pair_record(A: _HllKmv, B: _HllKmv) -> tuple:
        ea, eb = A.hll.estimate(), B.hll.estimate()
        A.hll.merge(B.hll)
        eu = A.hll.estimate()
        th = theta_set_estimates(A.kmv, B.kmv)
        return (int(round(ea)), int(round(eb)), int(round(eu)),
                max(0, int(round(ea + eb - eu))),
                int(round(th["est_union"])),
                int(round(th["est_intersection"])),
                int(round(th["est_a_minus_b"])),
                int(round(th["est_b_minus_a"])))

    return _pairwise_sketch_estimates(
        df, key_col, col, lambda: _HllKmv(p, k), update,
        _HllKmv.from_bytes, pair_record,
        "est_a bigint, est_b bigint, est_union bigint, "
        "est_intersection bigint, kmv_union bigint, kmv_intersection bigint, "
        "est_a_minus_b bigint, est_b_minus_a bigint",
        "hll_kmv_pairwise_set_ops", pairs=pairs, col_is_hash=col_is_hash,
    )


def welford_stats(df: DataFrame, keys: Sequence[str], col: str) -> DataFrame:
    """Exact count/mean/variance/sd/usd via mergeable Welford/Chan
    (reference: running_stats.c + our Chan merge, SURVEY §2.3)."""

    def update(sk: RunningStats, pdf: pd.DataFrame) -> None:
        sk.update_batch(pdf[col].to_numpy(np.float64))

    return sketch_aggregate(
        ensure_parallelism(df.select(*keys, col)), keys,
        factory=RunningStats,
        update=update,
        from_bytes=RunningStats.from_bytes,
        finalize=lambda sk, rows: {
            "n": int(sk.count),
            "avg": sk.mean,
            "variance": sk.variance(),
            "sd": sk.sd(),
            "usd": sk.usd(),
        },
        out_value_schema="n bigint, avg double, variance double, sd double, usd double",
    )


def kll_quantiles(df: DataFrame, keys: Sequence[str], col: str,
                  quantiles: Sequence[float], k: int = 200) -> DataFrame:
    """Mergeable quantiles (KLL).  The distributed replacement for the
    reference's non-mergeable P² (SURVEY §2.2 hard part)."""
    qs = list(quantiles)
    names = [f"q{re.sub(r'[^0-9a-zA-Z_]', '_', str(q))}" for q in qs]

    def update(sk: KLL, pdf: pd.DataFrame) -> None:
        sk.update_batch(pdf[col].to_numpy(np.float64))

    def finalize(sk: KLL, rows: int) -> dict:
        out = {n: float(sk.quantile(q)) for n, q in zip(names, qs)}
        out["n"] = sk.n
        return out

    def factory() -> KLL:
        # per-partial seed salt: equal-sized partials with one shared seed
        # would hit identical (level, n, size) compaction states and flip
        # IDENTICAL coin sequences fleet-wide, voiding KLL's probabilistic
        # rank guarantee on adversarial/sorted inputs.  The partition id is
        # deterministic for a fixed input+partitioning, so oracle gates and
        # checkpoint/resume stay reproducible.
        from pyspark import TaskContext

        tc = TaskContext.get()
        salt = tc.partitionId() if tc is not None else 0
        return KLL(k, seed=42 + 0x9E3779B9 * salt)

    schema = ", ".join(f"{n} double" for n in names) + ", n bigint"
    return sketch_aggregate(
        ensure_parallelism(df.select(*keys, col)), keys,
        factory=factory,
        update=update,
        from_bytes=KLL.from_bytes,
        finalize=finalize,
        out_value_schema=schema,
    )


def bottomk_sample(df: DataFrame, keys: Sequence[str], col: str,
                   k: int = 64) -> DataFrame:
    """Deterministic distributed sample of distinct values per key group
    (bottom-k by key hash — content-deterministic, stable across retries)
    plus the KMV distinct estimate.  Output: keys + (n_sampled,
    kmv_distinct, sample array<string>)."""
    from ..sketches import BottomKSample

    df = df.filter(F.col(col).isNotNull())

    def update(sk: BottomKSample, pdf: pd.DataFrame) -> None:
        sk.update_batch(list(encode_utf8(pdf[col])))

    def finalize(sk: BottomKSample, rows: int) -> dict:
        return {
            "n_sampled": len(sk.keys),
            "kmv_distinct": float(sk.distinct_estimate()),
            "sample": sorted(key.decode() for key in sk.sample()),
        }

    return sketch_aggregate(
        ensure_parallelism(df.select(*keys, col)), keys,
        factory=lambda: BottomKSample(k),
        update=update,
        from_bytes=BottomKSample.from_bytes,
        finalize=finalize,
        out_value_schema="n_sampled int, kmv_distinct double, sample array<string>",
    )


def tdigest_quantiles(df: DataFrame, keys: Sequence[str], col: str,
                      quantiles: Sequence[float], delta: float = 200.0) -> DataFrame:
    """Mergeable quantiles via t-digest (the second distributed-quantile
    engine next to KLL; rank error ~1/delta mid-range, tighter at tails)."""
    qs = list(quantiles)
    names = [f"q{re.sub(r'[^0-9a-zA-Z_]', '_', str(q))}" for q in qs]

    def update(sk: TDigest, pdf: pd.DataFrame) -> None:
        sk.update_batch(pdf[col].to_numpy(np.float64))

    def finalize(sk: TDigest, rows: int) -> dict:
        out = {n: float(sk.quantile(q)) for n, q in zip(names, qs)}
        out["n"] = int(sk.n)
        return out

    schema = ", ".join(f"{n} double" for n in names) + ", n bigint"
    return sketch_aggregate(
        ensure_parallelism(df.select(*keys, col)), keys,
        factory=lambda: TDigest(delta),
        update=update,
        from_bytes=TDigest.from_bytes,
        finalize=finalize,
        out_value_schema=schema,
    )


def space_saving_topk(df: DataFrame, keys: Sequence[str], col: str,
                      top_k: int = 10, k_counters: int = 256) -> DataFrame:
    """Bounded-memory heavy hitters via mergeable Space-Saving — the
    reference workload's `sparse` subtype (heka_message_monitor.lua:562-590)
    with the Metwally guarantee over the N non-null rows of a group: every
    item with count > N/k_counters is tracked, and each reported item
    carries count_lo <= true count <= count_hi.  The output is the top_k
    tracked items by (-count_hi, item), so with top_k >= k_counters every
    item above N/k_counters is reported.

    Per Arrow batch the column is factorized, each distinct value is
    utf-8 encoded once, and the batch's exact (value, count) summary is
    combined into the partial — the same combine that merges partials
    (sketches/space_saving.py), O((k+u) log(k+u)) for u distinct values."""

    df = df.filter(F.col(col).isNotNull())

    def update(sk: SpaceSaving, pdf: pd.DataFrame) -> None:
        sk.update_batch(*distinct_utf8(pdf[col]))

    def finalize(sk: SpaceSaving, rows: int) -> dict:
        top = sk.top_k(top_k)
        return {
            "item": [t[0].decode() for t in top],
            "hi": [t[1] for t in top],
            "err": [t[2] for t in top],
        }

    out = sketch_aggregate(
        ensure_parallelism(df.select(*keys, col)), keys,
        factory=lambda: SpaceSaving(k_counters),
        update=update,
        from_bytes=SpaceSaving.from_bytes,
        finalize=finalize,
        out_value_schema="item array<string>, hi array<long>, err array<long>",
    )
    return out.select(
        *keys, F.explode(F.arrays_zip("item", "hi", "err")).alias("t")
    ).select(*keys, F.col("t.item").alias("item"),
             F.col("t.hi").alias("count_hi"),
             (F.col("t.hi") - F.col("t.err")).alias("count_lo"))


def cms_heavy_hitters(df: DataFrame, keys: Sequence[str], col: str,
                      top_k: int = 20, epsilon: float = 1e-4,
                      delta: float = 0.01, candidates_per_partition: int = None) -> DataFrame:
    """Top-k frequent items per key group: CMS + per-partition candidate sets.

    Classic distributed CMS top-k: each partition tracks its local exact
    counts (bounded candidate set — a partition can only miss a global heavy
    hitter if the item is light in *every* partition, impossible for counts
    > N/partitions) and a CMS partial of everything; merged CMS scores the
    unioned candidates.  Mirrors the reference workload's `sparse` subtype
    (heka_message_monitor.lua:562-590) with bounded-memory guarantees.
    """
    if candidates_per_partition is None:
        candidates_per_partition = max(4 * top_k, 64)

    class _HH:
        def __init__(self):
            self.cms = CountMinSketch(epsilon, delta)
            self.cand: dict[bytes, int] = {}

        def update(self, uniq: np.ndarray, cnt: np.ndarray) -> None:
            self.cms.update_batch(list(uniq), cnt)
            for v, c in zip(uniq, cnt):
                self.cand[v] = self.cand.get(v, 0) + int(c)
            if len(self.cand) > 8 * candidates_per_partition:
                self._trim()

        def _trim(self):
            top = sorted(self.cand.items(), key=lambda kv: (-kv[1], kv[0]))
            self.cand = dict(top[:candidates_per_partition])

        def merge(self, other: "_HH") -> "_HH":
            self.cms.merge(other.cms)
            for v, c in other.cand.items():
                self.cand[v] = self.cand.get(v, 0) + c
            return self

        def to_bytes(self) -> bytes:
            self._trim()
            # length-prefixed records: keys are arbitrary bytes, no separators
            parts = [len(self.cand).to_bytes(4, "little")]
            for v, c in self.cand.items():
                parts.append(len(v).to_bytes(4, "little"))
                parts.append(v)
                parts.append(int(c).to_bytes(8, "little"))
            cand_blob = b"".join(parts)
            cms_blob = self.cms.to_bytes()
            return len(cms_blob).to_bytes(8, "little") + cms_blob + cand_blob

        @classmethod
        def from_bytes(cls, buf: bytes) -> "_HH":
            sk = cls()
            n = int.from_bytes(buf[:8], "little")
            sk.cms = CountMinSketch.from_bytes(
                buf[8 : 8 + n], width=sk.cms.width, depth=sk.cms.depth
            )
            off = 8 + n
            cnt = int.from_bytes(buf[off : off + 4], "little")
            off += 4
            for _ in range(cnt):
                klen = int.from_bytes(buf[off : off + 4], "little")
                off += 4
                key = bytes(buf[off : off + klen])
                off += klen
                sk.cand[key] = int.from_bytes(buf[off : off + 8], "little")
                off += 8
            if off != len(buf):
                raise ValueError("bad heavy-hitter buffer")
            return sk

    df = df.filter(F.col(col).isNotNull())

    def update(sk: _HH, pdf: pd.DataFrame) -> None:
        sk.update(*distinct_utf8(pdf[col]))

    def finalize(sk: _HH, rows: int) -> dict:
        cand = list(sk.cand.items())
        ests = sk.cms.point_query_batch([v for v, _ in cand])
        scored = sorted(
            ((int(e), v.decode()) for (v, _), e in zip(cand, ests)),
            key=lambda t: (-t[0], t[1]),
        )[:top_k]
        return {
            "item": [v for _, v in scored],
            "est_count": [e for e, _ in scored],
            # exact by construction (CMS item_count sums every update and
            # merges additively) — callers needing N for the eps*N error
            # bound read it HERE instead of paying a separate count() scan
            "total_count": sk.cms.item_count,
        }

    out = sketch_aggregate(
        ensure_parallelism(df.select(*keys, col)), keys,
        factory=_HH,
        update=update,
        from_bytes=_HH.from_bytes,
        finalize=finalize,
        out_value_schema=("item array<string>, est_count array<long>, "
                         "total_count bigint"),
    )
    return out.select(
        *keys,
        F.explode(F.arrays_zip("item", "est_count")).alias("hh"),
        "total_count",
    ).select(*keys, F.col("hh.item").alias("item"),
             F.col("hh.est_count").alias("est_count"), "total_count")


def bloom_build(df: DataFrame, col: str, capacity: int, fpr: float = 1e-6) -> BloomFilter:
    """Build one Bloom filter over a column, merged on the driver.

    Intended use at scale: build over the small/dimension side, then
    broadcast the bytes and prefilter the big side before a join —
    sketch-membership replaces the anti-join shuffle (SURVEY §2.7 joins)."""

    def update(sk: BloomFilter, pdf: pd.DataFrame) -> None:
        sk.update_batch(list(encode_utf8(pdf[col])))

    partials = build_partials(df.select(col), [], lambda: BloomFilter(capacity, fpr), update)
    bufs = [r["sketch"] for r in partials.collect()]
    if not bufs:
        return BloomFilter(capacity, fpr)
    sk = BloomFilter.from_bytes(bufs[0])
    for b in bufs[1:]:
        sk.merge(BloomFilter.from_bytes(b))
    return sk


def cuckoo_build(df: DataFrame, col: str, capacity: int,
                 max_keys: int = 4_000_000) -> "CuckooFilter":
    """Build a Cuckoo filter over a column.  Cuckoo filters are NOT monoids
    (insert order + eviction state matter), so unlike Bloom the build
    collects the distinct key bytes and inserts driver-side — correct for
    dimension-sized key sets, which is the broadcast-probe use case; use
    Bloom when the key set itself is huge.

    The collect is LIMIT-bounded to ``max_keys + 1`` (the
    _enumerate_all_pairs guard pattern): a caller pointing this at a
    corpus-cardinality column gets this error message, never a driver
    OOM.  The default budget is ~a few hundred MB of driver strings —
    genuinely dimension-sized; raise it explicitly if you mean it."""
    from ..sketches import CuckooFilter

    rows = df.select(col).distinct().limit(max_keys + 1).collect()
    if len(rows) > max_keys:
        raise ValueError(
            f"cuckoo_build: more than {max_keys} distinct {col!r} keys — "
            "the non-monoid Cuckoo build is driver-side and only sane for "
            "dimension-sized key sets; use bloom_build for huge key sets "
            "or raise max_keys= explicitly"
        )
    cf = CuckooFilter(max(capacity, len(rows), 16))
    cf.update_batch([key_bytes_of(r[col]) for r in rows])
    return cf


def key_bytes_of(v) -> bytes:
    return v.encode("utf-8") if isinstance(v, str) else str(v).encode("utf-8")


def cuckoo_might_contain(df: DataFrame, col: str, cf, out_col: str = "might_contain") -> DataFrame:
    """Vectorized Cuckoo membership probe (deletion-capable Bloom analogue)."""
    from ..sketches import CuckooFilter

    blob = cf.to_bytes()
    out_schema = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields)
    out_schema += f", {out_col} boolean"

    def probe(batches):
        filt = CuckooFilter.from_bytes(blob)
        for pdf in batches:
            pdf = pdf.copy()
            pdf[out_col] = filt.contains_batch(list(encode_utf8(pdf[col])))
            yield pdf

    return df.mapInPandas(probe, out_schema)


def bloom_might_contain(df: DataFrame, col: str, bloom: BloomFilter,
                        out_col: str = "might_contain") -> DataFrame:
    """Vectorized membership probe; the filter bytes ship in the task closure
    (same mechanics as Spark's broadcast for a ~KB-MB payload)."""
    blob = bloom.to_bytes()
    out_schema = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields)
    out_schema += f", {out_col} boolean"

    def probe(batches):
        bf = BloomFilter.from_bytes(blob)
        for pdf in batches:
            pdf = pdf.copy()
            pdf[out_col] = bf.contains_batch(list(encode_utf8(pdf[col])))
            yield pdf

    return df.mapInPandas(probe, out_schema)


# ---------------------------------------------------------------------------
# Gram / covariance summaries of an embedding column
# ---------------------------------------------------------------------------


class _ExactGram:
    """Exact A'A accumulator (d x d float64) — the trivially-mergeable exact
    counterpart of FrequentDirections, used as the gate's exact side and as
    a standalone one-pass covariance operator (d^2 doubles per partial:
    32 KB at d=64, constant in the row count)."""

    def __init__(self, d: int):
        self.d = d
        self.g = np.zeros((d, d), np.float64)
        self.fro_sq = 0.0
        self.n_rows = 0

    def update(self, X: np.ndarray) -> None:
        self.g += X.T @ X
        self.fro_sq += float((X * X).sum())
        self.n_rows += X.shape[0]

    def merge(self, o: "_ExactGram") -> "_ExactGram":
        self.g += o.g
        self.fro_sq += o.fro_sq
        self.n_rows += o.n_rows
        return self

    def to_bytes(self) -> bytes:
        import struct

        return (struct.pack("<Iqd", self.d, self.n_rows, self.fro_sq)
                + self.g.astype("<f8").tobytes())

    @classmethod
    def from_bytes(cls, buf: bytes) -> "_ExactGram":
        import struct

        d, n, f = struct.unpack_from("<Iqd", buf, 0)
        sk = cls(d)
        off = struct.calcsize("<Iqd")
        sk.g = np.frombuffer(buf, "<f8", d * d, off).reshape(d, d).copy()
        sk.n_rows, sk.fro_sq = n, f
        return sk


def _vec_block(pdf: pd.DataFrame, vec_col: str, d: int) -> np.ndarray:
    arrs = pdf[vec_col].to_numpy()
    if not len(arrs):
        return np.zeros((0, d), np.float64)
    return np.vstack([np.asarray(a, np.float64) for a in arrs])


def exact_gram(df: DataFrame, vec_col: str, d: int) -> DataFrame:
    """One-row DataFrame: exact Gram of the embedding column, flattened
    row-major — ``(gram_flat array<double>, fro_sq double, n_rows bigint)``.
    One scan, partial d x d accumulators, associative merge: the exact path
    is itself 100-TB-shaped (shuffle volume = partitions x d^2 doubles)."""
    return sketch_aggregate(
        df.select(vec_col), [],
        lambda: _ExactGram(d),
        lambda sk, pdf: sk.update(_vec_block(pdf, vec_col, d)),
        _ExactGram.from_bytes,
        lambda sk, rows: {
            "gram_flat": sk.g.reshape(-1).tolist(),
            "fro_sq": sk.fro_sq,
            "n_rows": rows,
        },
        "gram_flat array<double>, fro_sq double, n_rows bigint",
    )


def fd_gram(df: DataFrame, vec_col: str, d: int, ell: int = 32) -> DataFrame:
    """Frequent-Directions Gram sketch of an embedding column (Liberty 2013):
    one-row DataFrame ``(gram_flat array<double>, fro_sq double, bound
    double, n_rows bigint)`` with the published guarantee
    ``||A'A - B'B||_2 <= fro_sq / ell`` (entrywise too).  Deterministic,
    mergeable (associativity test-gated), partial size O(ell x d) doubles
    regardless of row count."""
    from ..sketches.frequent_directions import FrequentDirections

    return sketch_aggregate(
        df.select(vec_col), [],
        lambda: FrequentDirections(ell, d),
        lambda sk, pdf: sk.insert_batch(_vec_block(pdf, vec_col, d)),
        FrequentDirections.from_bytes,
        lambda sk, rows: {
            "gram_flat": sk.gram().reshape(-1).tolist(),
            "fro_sq": sk.fro_sq,
            "bound": sk.error_bound(),
            "n_rows": rows,
        },
        "gram_flat array<double>, fro_sq double, bound double, n_rows bigint",
    )


def count_sketch_f2(df: DataFrame, keys: Sequence[str], col: str,
                    width: int = 2048, depth: int = 5) -> DataFrame:
    """Second-moment (F2 = sum of squared frequencies) estimate per key
    group via Count-Sketch / AMS — the self-join-size estimation primitive
    (unbiased, unlike CMS).  JVM-side xxhash64 in the scan projection: only
    (keys, 8-byte hash) cross the Arrow boundary; shuffle carries one
    (depth x width) signed-counter table per (partition, key) — linear
    sketch, element-wise-add merge, any partition order."""
    from ..sketches.count_sketch import CountSketch

    hashed = df.filter(F.col(col).isNotNull()).select(
        *keys, F.xxhash64(col).alias("_h")
    )

    def update(sk: "CountSketch", pdf: pd.DataFrame) -> None:
        sk.update_hashes(pdf["_h"].to_numpy(np.int64).view(np.uint64))

    return sketch_aggregate(
        ensure_parallelism(hashed), keys,
        factory=lambda: CountSketch(width, depth),
        update=update,
        from_bytes=CountSketch.from_bytes,
        finalize=lambda sk, rows: {"f2_estimate": sk.f2_estimate(),
                                   "rows_seen": rows},
        out_value_schema="f2_estimate double, rows_seen bigint",
    )


def count_sketch_build(df: DataFrame, keys: Sequence[str], col: str,
                       width: int = 2048, depth: int = 5) -> DataFrame:
    """Per-key-group merged Count-Sketch, kept SERIALIZED: (keys...,
    sketch binary, rows bigint).  The probe-side counterpart of
    ``count_sketch_f2`` — collect the (few, small) per-group sketches and
    broadcast them to estimate frequencies of candidate keys without
    re-scanning the stream (the bloom_build/might_contain pattern; a
    (5 x 2048) i64 table is 80 KB per group)."""
    from ..sketches.count_sketch import CountSketch

    hashed = df.filter(F.col(col).isNotNull()).select(
        *keys, F.xxhash64(col).alias("_h")
    )

    def update(sk: "CountSketch", pdf: pd.DataFrame) -> None:
        sk.update_hashes(pdf["_h"].to_numpy(np.int64).view(np.uint64))

    partials = build_partials(ensure_parallelism(hashed), keys,
                              lambda: CountSketch(width, depth), update)
    return merge_partials(partials, keys, CountSketch.from_bytes)


def count_sketch_probe(df: DataFrame, key_cols: Sequence[str], col: str,
                       sketches: dict, out_col: str = "cs_estimate") -> DataFrame:
    """Vectorized frequency estimates for candidate rows: ``sketches`` maps
    key-group tuples -> serialized Count-Sketch bytes (from
    ``count_sketch_build``).  Hashing matches the build side exactly (JVM
    xxhash64 in the projection); the sketch bytes ship in the task closure
    like a broadcast."""
    from ..sketches.count_sketch import CountSketch

    key_cols = list(key_cols)
    blobs = {tuple(k) if isinstance(k, (list, tuple)) else (k,): v
             for k, v in sketches.items()}

    def probe(batches):
        cache = {k: CountSketch.from_bytes(v) for k, v in blobs.items()}
        for pdf in batches:
            pdf = pdf.reset_index(drop=True)
            est = np.full(len(pdf), np.nan)
            h = pdf["_h"].to_numpy(np.int64).view(np.uint64)
            for k, sub in pdf.groupby(key_cols, sort=False, dropna=False):
                kk = k if isinstance(k, tuple) else (k,)
                sk = cache.get(kk)
                if sk is not None:
                    pos = sub.index.to_numpy()
                    est[pos] = sk.estimate_hashes(h[pos])
            pdf[out_col] = est
            yield pdf

    prepped = df.withColumn("_h", F.xxhash64(col))
    probe_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in prepped.schema.fields
    ) + f", {out_col} double"
    out_fields = [f.name for f in df.schema.fields]
    return prepped.mapInPandas(probe, probe_schema).select(*out_fields, out_col)
