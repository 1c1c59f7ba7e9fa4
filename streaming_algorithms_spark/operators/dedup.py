"""Deduplication operators for training-data pipelines.

Four tiers, all Spark-first:

- exact: hash-groupBy on content (pure DataFrame ops — one shuffle on a
  64-hex digest, not the full text; at 100 TB group on the digest so shuffle
  rows are ~100 B regardless of document size).
- exact n-gram Jaccard: shingle explode + self-join — the *oracle-grade*
  near-dup (quadratic in candidates; fine at verification scale, and the
  correctness reference for MinHash).
- MinHash + LSH: the scale path — signature via k xxh64 seeds over shingle
  hashes (vectorized numpy), banded into LSH buckets, candidate pairs from
  bucket joins, exact-Jaccard rerank of candidates only.  Linear shuffle
  volume (rows x bands), no all-pairs comparison.
- SimHash: 64-bit near-dup fingerprint (Charikar 2002); equal fingerprints
  (or small Hamming distance via band join) => near-duplicates.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .sketch_agg import ensure_parallelism

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per distinct content: (text_hash, dup_count, min_id).
    Shuffles only (digest, id) pairs."""
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.count("*").alias("dup_count"), F.min(id_col).alias("keep_id"))
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the min-id representative per distinct content.

    No broadcast hint: ``keep`` has one row per DISTINCT document — corpus
    cardinality, not dimension cardinality — so forcing a broadcast would
    OOM the driver/executors at scale.  A plain ``left_semi`` lets AQE pick
    broadcast when the keep-set happens to be small and a shuffled
    hash/sort-merge join (on the 8-byte id) otherwise."""
    keep = exact_dedup_groups(df, id_col, text_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(keep, id_col, "left_semi")


# ---------------------------------------------------------------------------
# shingles + exact n-gram Jaccard (oracle-grade)
# ---------------------------------------------------------------------------


def word_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per doc — pure Catalyst (transform over
    a token array), no Python.

    Docs with fewer than n tokens have NO shingles and are absent from the
    output (F.sequence(0, negative) would otherwise build a descending index
    and crash F.slice) — the same domain the DuckDB oracles' `range(1,
    len(t)-1)` produces, so Jaccard over shingles is simply undefined (and
    every pair query excludes such docs) on both sides."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    sh = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        df.select(F.col(id_col), F.explode(F.array_distinct(sh)).alias("shingle"))
    )


def exact_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        n: int = 3, threshold: float = 0.5) -> DataFrame:
    """All pairs with word-n-gram Jaccard >= threshold.  Exact (quadratic in
    co-shingled docs) — the correctness oracle for MinHash-LSH.

    The size tables are one row per doc (corpus cardinality), so they carry
    NO broadcast hint — AQE broadcasts them when actually small (the
    verification-scale case) and falls back to a shuffled join otherwise."""
    sh = word_shingles(df, id_col, text_col, n).cache()
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, F.col(f"a.shingle") == F.col(f"b.shingle"))
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a").join(sb, "id_b")
        .withColumn("jaccard",
                    F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def exact_containment_pairs(train: DataFrame, eval_df: DataFrame,
                            id_col: str, text_col: str, n: int = 3,
                            threshold: float = 0.5) -> DataFrame:
    """Cross-corpus contamination by ASYMMETRIC containment (Broder 1997):
    |shingles(eval) ∩ shingles(train)| / |shingles(eval)| >= threshold.
    An eval doc wholly quoted inside a much larger train doc scores 1.0
    here while symmetric Jaccard stays tiny — the direction that matters
    for benchmark decontamination.

    Exact and quadratic in co-shingled docs by design (the verification
    oracle; the scale path over full corpora is fingerprint-based — see
    text.cross_fingerprint_overlap).  Joins key on xxhash64(shingle):
    8-byte keys cross the shuffle, never shingle strings.  Output:
    (train_id, eval_id, containment)."""
    sh_t = (
        word_shingles(train, id_col, text_col, n)
        .select(F.col(id_col).alias("train_id"),
                F.xxhash64("shingle").alias("_sh"))
    )
    sh_e = (
        word_shingles(eval_df, id_col, text_col, n)
        .select(F.col(id_col).alias("eval_id"),
                F.xxhash64("shingle").alias("_sh"))
        .cache()
    )
    sizes_e = sh_e.groupBy("eval_id").agg(F.count("*").alias("_sz"))
    inter = (
        sh_e.join(sh_t, "_sh")
        .groupBy("train_id", "eval_id")
        .agg(F.count("*").alias("_inter"))
    )
    return (
        inter.join(sizes_e, "eval_id")
        .withColumn("containment", F.col("_inter") / F.col("_sz"))
        .filter(F.col("containment") >= threshold)
        .select("train_id", "eval_id", "containment")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _doc_chunks(lens: np.ndarray, max_items: int):
    """Yield (lo, hi) doc-index ranges whose total item count stays under
    ``max_items`` (always at least one doc per chunk) — bounds the Python
    stage's temporaries independently of the Arrow batch size."""
    lo, acc = 0, 0
    for i, n in enumerate(lens):
        if acc and acc + int(n) > max_items:
            yield lo, i
            lo, acc = i, 0
        acc += int(n)
    if lo < len(lens):
        yield lo, len(lens)


def exact_jaccard_for_pairs(df: DataFrame, pairs: DataFrame, id_col: str,
                            text_col: str, n: int = 3) -> DataFrame:
    """Exact word-n-gram Jaccard for a GIVEN candidate pair set — the rerank
    half of MinHash-LSH: cost is O(candidate pairs x shingles), never
    all-pairs, and it reuses the same Catalyst ``word_shingles`` definition
    as the full exact operator (single source of tokenization truth; no
    document strings cross the Arrow boundary).  Pairs sharing no shingle
    get jaccard 0; pairs involving a doc with no shingles at all (< n
    tokens, or an id absent from df) are DROPPED — the same domain as
    exact_jaccard_pairs and the SQL oracles, where such docs never appear.

    Shuffle hygiene: shingles are pruned to candidate docs first (semi
    join), and the intersection joins key on xxhash64(shingle) — 8-byte
    keys, never shingle strings (counts are identical up to 64-bit hash
    collisions, the same trade the whole LSH layer already makes)."""
    p = pairs.select("id_a", "id_b")
    cand_ids = p.select(F.explode(F.array("id_a", "id_b")).alias(id_col)).distinct()
    sh = (
        word_shingles(df, id_col, text_col, n)
        .join(cand_ids, id_col, "left_semi")
        .select(F.col(id_col), F.xxhash64("shingle").alias("_shash"))
        .cache()
    )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    sa = sh.select(F.col(id_col).alias("id_a"), "_shash")
    sb = sh.select(F.col(id_col).alias("id_b"), "_shash")
    inter = (
        p.join(sa, "id_a")
        .join(sb, ["id_b", "_shash"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    sz_a = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        p.join(inter, ["id_a", "id_b"], "left")
        .join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .withColumn(
            "jaccard",
            F.coalesce(F.col("inter"), F.lit(0))
            / (F.col("sz_a") + F.col("sz_b") - F.coalesce(F.col("inter"), F.lit(0))),
        )
        .select("id_a", "id_b", "jaccard")
    )


def _shingle_hash_df(df: DataFrame, id_col: str, text_col: str,
                     shingle_n: int) -> DataFrame:
    """(id, _sh: array<long>) of DISTINCT word-shingle hashes — pure
    Catalyst (codegen'd JVM hashing): only fixed-width hashes cross the
    Arrow boundary, never shingle strings.  A shingle's identity is the
    xxhash64 of its ``shingle_n`` consecutive token hashes (no intermediate
    shingle strings are ever built — ~5x cheaper than concat_ws + hashing
    the string, measured at sf0.1).  The token-hash array is materialized in
    its own projection so Catalyst doesn't re-inline the split per shingle
    position.  Docs shorter than shingle_n fall back to one whole-text
    shingle (empty text -> hash of '')."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    staged = df.withColumn("_toks", toks).withColumn(
        "_th", F.transform(F.col("_toks"), lambda t: F.xxhash64(t))
    )
    sh = F.when(
        F.size("_th") >= shingle_n,
        F.transform(
            F.sequence(F.lit(0), F.size("_th") - shingle_n),
            lambda i: F.xxhash64(
                *[F.element_at("_th", i + j + 1) for j in range(shingle_n)]
            ),
        ),
    ).otherwise(F.array(F.xxhash64(F.concat_ws(" ", F.col("_toks")))))
    return staged.select(F.col(id_col), F.array_distinct(sh).alias("_sh"))


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       num_hashes: int = 128, shingle_n: int = 3) -> DataFrame:
    """(id, signature array<long>) — k minhashes over word-shingle hashes.

    Shingling + hashing run JVM-side (codegen'd xxhash64 inside a
    higher-order transform — no strings cross the Arrow boundary); the
    Python stage is fully batch-vectorized: ONE (k x total_hashes)
    multiply-shift permutation matrix per Arrow batch (a*h+b in the natural
    mod-2^64 ring — Dietzfelbinger et al.'s universal family, no expensive
    Mersenne mod) and a segment-min (np.minimum.reduceat) per doc — no
    per-document Python loop.  The (id, text) projection is repartitioned
    before the shingle/permutation stages when the scan has fewer partitions
    than the session's shuffle parallelism (a few-file parquet input would
    otherwise serialize the CPU-bound work onto one worker; at 100 TB the
    scan already has thousands of splits and this is a no-op)."""
    rng = np.random.default_rng(42)
    A = rng.integers(1, 1 << 63, num_hashes, dtype=np.uint64) | np.uint64(1)
    B = rng.integers(0, 1 << 63, num_hashes, dtype=np.uint64)

    out_schema = f"`{id_col}` long, signature array<long>"

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            arrs = pdf["_sh"].to_numpy()
            ids = pdf[id_col].to_numpy()
            lens = np.fromiter((len(a) for a in arrs), np.int64, len(arrs))
            # chunk so the (k x hashes) permutation matrix stays bounded
            # (~64 MB at 2^16 hashes x k=128) no matter how large the Arrow
            # batch is — 65536 long documents would otherwise materialize a
            # multi-GB temporary per task
            for lo, hi in _doc_chunks(lens, 1 << 16):
                flat = np.concatenate(arrs[lo:hi]).astype(np.int64).view(np.uint64)
                with np.errstate(over="ignore"):
                    perms = A[:, None] * flat[None, :] + B[:, None]
                starts = np.zeros(hi - lo, np.int64)
                np.cumsum(lens[lo:hi - 1], out=starts[1:])
                mins = np.minimum.reduceat(perms, starts, axis=1)  # (k, docs)
                sigs = mins.view(np.int64).T
                yield pd.DataFrame({id_col: ids[lo:hi],
                                    "signature": list(sigs)})

    src = ensure_parallelism(df.select(id_col, text_col))
    prepped = _shingle_hash_df(src, id_col, text_col, shingle_n)
    return prepped.mapInPandas(gen, out_schema)


def lsh_candidate_pairs(signatures: DataFrame, id_col: str,
                        bands: int = 32) -> DataFrame:
    """Band the signatures and self-join on (band, band_hash): candidate
    pairs only — shuffle is rows x bands, never all-pairs."""
    sig = signatures
    r = F.size("signature") / bands
    banded = sig.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.slice("signature", (b * r + 1).cast("int"), r.cast("int")).cast("string")
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def minhash_jaccard_estimate(signatures: DataFrame, pairs: DataFrame,
                             id_col: str, broadcast_signatures: bool = True) -> DataFrame:
    """Estimated Jaccard = fraction of agreeing minhash positions.

    broadcast_signatures=True hints the signature table broadcast — right
    when the candidate set is the big side (typical dedup).  Pass False at
    the scale where signatures themselves exceed executor memory (they are
    ~1 KB/doc: fine to ~10M docs per executor GB)."""
    bcast = F.broadcast if broadcast_signatures else (lambda x: x)
    sa = bcast(
        signatures.select(F.col(id_col).alias("id_a"), F.col("signature").alias("sig_a"))
    )
    sb = bcast(
        signatures.select(F.col(id_col).alias("id_b"), F.col("signature").alias("sig_b"))
    )
    agree = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v)
    )
    return (
        pairs.join(sa, "id_a").join(sb, "id_b")
        .withColumn("est_jaccard", agree / F.size("sig_a"))
        .select("id_a", "id_b", "est_jaccard")
    )


def minhash_lsh_dedup_pairs(df: DataFrame, id_col: str, text_col: str,
                            threshold: float = 0.7, num_hashes: int = 128,
                            bands: int = 32, shingle_n: int = 3) -> DataFrame:
    """End-to-end near-dup pairs: signatures -> LSH candidates -> estimate."""
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, shingle_n).cache()
    pairs = lsh_candidate_pairs(sigs, id_col, bands)
    est = minhash_jaccard_estimate(sigs, pairs, id_col)
    return est.filter(F.col("est_jaccard") >= threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash over whitespace tokens (Charikar 2002): sign-sum of
    token-hash bits weighted by term frequency.

    Token hashing runs JVM-side (codegen'd xxhash64 over the token array —
    duplicates kept, so summing per-occurrence equals tf weighting); the
    Python stage is batch-vectorized: one bit-unpack + np.add.reduceat
    segment sum per Arrow batch, np.packbits-style fold to the fingerprint —
    no per-document or per-bit Python loops."""
    out_schema = f"`{id_col}` long, simhash long"
    shifts = np.arange(64, dtype=np.uint64)

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            arrs = pdf["_th"].to_numpy()
            ids = pdf[id_col].to_numpy()
            lens = np.fromiter((len(a) for a in arrs), np.int64, len(arrs))
            # chunk to bound the (tokens x 64) bit matrices (~80 MB at 2^18
            # tokens) independently of the Arrow batch size
            for lo, hi in _doc_chunks(lens, 1 << 18):
                flat = np.concatenate(arrs[lo:hi]).astype(np.int64).view(np.uint64)
                # signed bit matrix (tokens x 64): +1 where bit set else -1
                bits = (((flat[:, None] >> shifts[None, :]) & np.uint64(1))
                        .astype(np.int8) * 2 - 1)
                starts = np.zeros(hi - lo, np.int64)
                np.cumsum(lens[lo:hi - 1], out=starts[1:])
                votes = np.add.reduceat(bits.astype(np.int32), starts, axis=0)
                fp = ((votes > 0).astype(np.uint64)
                      << shifts[None, :]).sum(axis=1)
                yield pd.DataFrame({id_col: ids[lo:hi],
                                    "simhash": fp.astype(np.int64)})

    src = ensure_parallelism(df.select(id_col, text_col))
    # coalesce NULL text to '' JVM-side: split/transform of NULL yields a
    # NULL array, which would reach the Python stage as None and crash it
    prepped = src.select(
        F.col(id_col),
        F.transform(
            F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"),
            lambda t: F.xxhash64(t),
        ).alias("_th"),
    )
    return prepped.mapInPandas(gen, out_schema)


def simhash_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Docs sharing an identical simhash (hamming distance 0)."""
    return (
        simhash(df, id_col, text_col)
        .groupBy("simhash")
        .agg(F.count("*").alias("dup_count"), F.min(id_col).alias("keep_id"))
        .filter(F.col("dup_count") > 1)
    )


def hamming_pairs(sig: DataFrame, id_col: str, sim_col: str = "simhash",
                  max_hamming: int = 3) -> DataFrame:
    """All pairs with popcount(sig_a XOR sig_b) <= max_hamming, EXACTLY
    (recall 1, no all-pairs scan): pigeonhole band join.  Split the 64-bit
    fingerprint into max_hamming+1 bands — a pair within distance k differs
    in <= k bands, so it agrees exactly on >= 1 band; join on (band, band
    bits), verify candidates with codegen'd bit_count.  Shuffle volume is
    rows x (k+1), never quadratic (candidate fan-out is bucket-bounded,
    exactly like MinHash-LSH banding)."""
    nb = max_hamming + 1
    width = 64 // nb
    widths = [width + (1 if b < 64 % nb else 0) for b in range(nb)]
    offs = np.concatenate([[0], np.cumsum(widths)]).tolist()

    def band_key(b: int):
        key = F.shiftrightunsigned(F.col(sim_col), offs[b])
        if widths[b] < 64:  # a 64-bit band needs no mask — and (1<<64)-1
            key = key.bitwiseAND(F.lit((1 << widths[b]) - 1))  # overflows long
        return key

    banded = sig.select(
        F.col(id_col), F.col(sim_col),
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"), band_key(b).alias("key"))
            for b in range(nb)
        ])).alias("bb"),
    ).select(id_col, sim_col, F.col("bb.band"), F.col("bb.key"))
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, ["band", "key"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(
                F.col(f"a.{sim_col}").bitwiseXOR(F.col(f"b.{sim_col}"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_hamming_pairs(df: DataFrame, id_col: str, text_col: str,
                          max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming (the band
    join promised for near-dup detection; reference workload analogue:
    heka_message_monitor.lua duplicate alerting)."""
    return hamming_pairs(simhash(df, id_col, text_col), id_col,
                         "simhash", max_hamming)
