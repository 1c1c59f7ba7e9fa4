"""Distributed correctness of the two-stage sketch aggregation (FIXTURES §B2/§B3).

- estimates vs exact Spark built-ins, within published bounds
- merge associativity/commutativity: repartition(2/8/32) + shuffled row
  order -> byte-identical merged sketch (north_rule requirement)
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from streaming_algorithms_spark.operators import (
    bloom_build,
    bloom_might_contain,
    build_partials,
    cms_heavy_hitters,
    hll_distinct,
    kll_quantiles,
    merge_partials,
    welford_stats,
)
from streaming_algorithms_spark.sketches import HyperLogLog


def test_hll_distinct_urls_per_lang_within_bound(spark, webpages):
    est = {r["lang"]: r["approx_distinct"]
           for r in hll_distinct(webpages, ["lang"], "url", p=12).collect()}
    exact = {r["lang"]: r["exact"]
             for r in webpages.groupBy("lang")
                 .agg(F.countDistinct("url").alias("exact")).collect()}
    assert set(est) == set(exact)
    rse = 1.04 / np.sqrt(2 ** 12)
    for lang, ex in exact.items():
        assert abs(est[lang] - ex) <= max(3 * rse * ex, 3), (lang, ex, est[lang])


def test_hll_global_distinct(spark, webpages):
    row = hll_distinct(webpages, [], "url", p=14).collect()[0]
    exact = webpages.select("url").distinct().count()
    assert abs(row["approx_distinct"] - exact) / exact < 3 * 1.04 / np.sqrt(2 ** 14)
    assert row["rows_seen"] == webpages.count()


def test_welford_exact_vs_builtin(spark, webpages):
    df = webpages.withColumn("text_len", F.length("text"))
    ours = {r["lang"]: r for r in welford_stats(df, ["lang"], "text_len").collect()}
    ref = {r["lang"]: r for r in df.groupBy("lang").agg(
        F.count("text_len").alias("n"),
        F.avg("text_len").alias("avg"),
        F.var_samp("text_len").alias("variance"),
        F.stddev_samp("text_len").alias("sd"),
        F.stddev_pop("text_len").alias("usd"),
    ).collect()}
    for lang, r in ref.items():
        o = ours[lang]
        assert o["n"] == r["n"]
        assert o["avg"] == pytest.approx(r["avg"], rel=1e-9)
        if r["n"] > 1:
            assert o["variance"] == pytest.approx(r["variance"], rel=1e-6)
            assert o["usd"] == pytest.approx(r["usd"], rel=1e-6)


def test_kll_quantiles_within_rank_bound(spark, webpages):
    df = webpages.withColumn("text_len", F.length("text").cast("double"))
    res = {r["lang"]: r for r in
           kll_quantiles(df, ["lang"], "text_len", [0.5, 0.95]).collect()}
    pdf = df.select("lang", "text_len").toPandas()
    for lang, grp in pdf.groupby("lang"):
        xs = grp["text_len"].to_numpy()
        if len(xs) < 50:
            continue
        for q, col in [(0.5, "q0_5"), (0.95, "q0_95")]:
            est = res[lang][col]
            rank = (xs <= est).mean()
            assert abs(rank - q) < 0.03, (lang, q, rank)


def test_cms_heavy_hitters_vs_exact(spark, webpages):
    tokens = webpages.select(
        "lang", F.explode(F.split("text", " ")).alias("token")
    ).filter(F.col("lang") == "en")
    hh = cms_heavy_hitters(tokens, ["lang"], "token", top_k=10, epsilon=1e-4)
    got = [(r["item"], r["est_count"]) for r in hh.collect()]
    exact = {r["token"]: r["cnt"] for r in tokens.groupBy("token")
             .agg(F.count("*").alias("cnt")).collect()}
    n_total = sum(exact.values())
    top_exact = sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    # every reported estimate within [true, true + eps*N]
    for item, est in got:
        assert exact[item] <= est <= exact[item] + 1e-4 * n_total + 1
    # the true top-5 must all be reported (CMS overestimate can reorder the tail)
    got_items = {i for i, _ in got}
    for tok, _ in top_exact[:5]:
        assert tok in got_items


def test_cms_heavy_hitters_matches_per_token_encoding(spark):
    """Distinct tokens are encoded once per batch; the counters must equal a
    CountMinSketch fed every token one by one, so item/est_count/total_count
    are unchanged.  A narrow sketch (eps=0.02) makes collisions decide the
    estimates, and < 64 distinct tokens per lang keeps every token a
    candidate, so the expected answer is the top-k of all point queries."""
    import pandas as pd

    from streaming_algorithms_spark.operators.sketch_agg import encode_utf8
    from streaming_algorithms_spark.sketches import CountMinSketch

    rng = np.random.default_rng(11)
    vocab = ["the", "a", "naïve", "日本", "42", "4.2", "-0.0", "None", ""] + [
        f"w{i}" for i in range(40)]
    rows = [(lang, vocab[min(int(z), len(vocab)) - 1])
            for lang in ("en", "de")
            for z in rng.zipf(1.3, 3000)]
    tokens = spark.createDataFrame(rows, "lang string, token string").repartition(3)
    top_k, eps = 5, 0.02
    got = {}
    for r in cms_heavy_hitters(tokens, ["lang"], "token", top_k=top_k,
                               epsilon=eps).collect():
        got.setdefault(r["lang"], []).append(
            (r["item"], r["est_count"], r["total_count"]))
    for lang in ("en", "de"):
        toks = pd.Series([t for lg, t in rows if lg == lang], dtype=object)
        cms = CountMinSketch(eps, 0.01)
        cms.update_batch(list(encode_utf8(toks)))
        uniq = sorted(set(toks))
        est = [int(e) for e in cms.point_query_batch([u.encode() for u in uniq])]
        want = sorted(zip(uniq, est), key=lambda t: (-t[1], t[0]))[:top_k]
        assert got[lang] == [(u, e, cms.item_count) for u, e in want]


def test_bloom_prefilter_semi_join(spark, webpages):
    seen = webpages.filter(F.col("lang") == "en").select("url").distinct()
    bloom = bloom_build(seen, "url", capacity=max(seen.count(), 10), fpr=1e-6)
    probed = bloom_might_contain(webpages.select("url", "lang"), "url", bloom)
    # no false negatives: every actually-seen url must pass the filter
    missed = probed.join(seen, "url", "inner").filter(~F.col("might_contain")).count()
    assert missed == 0
    # filter is selective: passes ~ |seen| + tiny FP margin
    passed = probed.filter(F.col("might_contain")).select("url").distinct().count()
    assert passed <= seen.count() * 1.01 + 5


# ---------------------------------------------------------------------------
# §B3 merge/partitioning properties
# ---------------------------------------------------------------------------


def _merged_hll_bytes(df, n_parts):
    def update(sk, pdf):
        sk.update_batch(pdf["url"].str.encode("utf-8").to_numpy())

    parts = build_partials(
        df.repartition(n_parts), ["lang"], lambda: HyperLogLog(10), update
    )
    merged = merge_partials(parts, ["lang"], HyperLogLog.from_bytes)
    return {r["lang"]: bytes(r["sketch"]) for r in merged.collect()}


def test_merge_bytes_identical_across_partitionings(spark, webpages):
    """north_rule: sketch merge associative/commutative across partition
    orders — merged bytes identical for repartition(2/8/32) and shuffled rows."""
    df = webpages.select("lang", "url")
    a = _merged_hll_bytes(df, 2)
    b = _merged_hll_bytes(df, 8)
    c = _merged_hll_bytes(df.orderBy(F.rand(7)), 32)
    assert a == b == c


def test_salted_two_stage_equals_unsalted(spark, webpages):
    from streaming_algorithms_spark.operators import sketch_aggregate
    from streaming_algorithms_spark.operators.sketch_agg import encode_utf8

    def update(sk, pdf):
        sk.update_batch(encode_utf8(pdf["url"]))

    kw = dict(
        factory=lambda: HyperLogLog(10),
        update=update,
        from_bytes=HyperLogLog.from_bytes,
        finalize=lambda sk, rows: {"est": int(round(sk.estimate()))},
        out_value_schema="est bigint",
    )
    plain = {r["lang"]: r["est"]
             for r in sketch_aggregate(webpages, ["lang"], **kw).collect()}
    salted = {r["lang"]: r["est"]
              for r in sketch_aggregate(webpages, ["lang"], salt_partitions=16, **kw).collect()}
    assert plain == salted


def test_hll_pairwise_overlap_inclusion_exclusion(spark):
    """Sketch algebra on sets with KNOWN overlap: groups A/B/C of 4000
    elements, |A∩B|=2000, |A∩C|=0 — union and inclusion-exclusion
    intersection estimates must land within the compounded HLL bounds."""
    from streaming_algorithms_spark.operators.sketch_agg import (
        hll_pairwise_overlap,
    )

    rows = (
        [("A", f"x{i}") for i in range(4000)]
        + [("B", f"x{i}") for i in range(2000, 6000)]
        + [("C", f"z{i}") for i in range(4000)]
    )
    df = spark.createDataFrame(rows, "grp string, item string").repartition(8)
    p = 14
    rse = 1.04 / (2 ** p) ** 0.5
    got = {(r["key_a"], r["key_b"]): r
           for r in hll_pairwise_overlap(df, "grp", "item", p=p).collect()}
    assert set(got) == {("A", "B"), ("A", "C"), ("B", "C")}
    exact = {("A", "B"): (4000, 4000, 6000, 2000),
             ("A", "C"): (4000, 4000, 8000, 0),
             ("B", "C"): (4000, 4000, 8000, 0)}
    for pair, (na, nb, nu, ni) in exact.items():
        r = got[pair]
        assert abs(r["est_a"] - na) <= 3 * rse * na + 3
        assert abs(r["est_union"] - nu) <= 3 * rse * nu + 3
        assert abs(r["est_intersection"] - ni) <= 3 * rse * (na + nb + nu) + 5


def test_sketch_rollup_equals_rescan(spark, webpages):
    """Rollup levels derived by re-merging the finest level's sketches must
    give estimates EXACTLY equal to building each level from a fresh scan —
    register-max is associative, so the merged registers are identical."""
    import numpy as np
    from pyspark.sql import functions as F

    from streaming_algorithms_spark.operators.sketch_agg import (
        ensure_parallelism, hll_distinct, sketch_rollup,
    )
    from streaming_algorithms_spark.sketches import HyperLogLog

    wp = webpages.withColumn(
        "host", F.concat(F.lit("h"), F.pmod(F.xxhash64("url"), F.lit(4)).cast("string"))
    )
    hashed = ensure_parallelism(
        wp.select("lang", "host", F.xxhash64("url").alias("_h"))
    )

    def update(sk, pdf):
        sk.add_hashes(pdf["_h"].to_numpy(np.int64).view(np.uint64))

    rolled = sketch_rollup(
        hashed, ["lang", "host"],
        factory=lambda: HyperLogLog(12), update=update,
        from_bytes=HyperLogLog.from_bytes,
        finalize=lambda sk, rows: {"approx": int(round(sk.estimate()))},
        out_value_schema="approx bigint",
    ).collect()
    by_level = {}
    for r in rolled:
        by_level.setdefault(r["level"], {})[(r["lang"], r["host"])] = r["approx"]

    lang_scan = {(r["lang"], "ALL"): r["approx_distinct"] for r in
                 hll_distinct(wp, ["lang"], "url", p=12).collect()}
    assert by_level[1] == lang_scan
    glob_scan = hll_distinct(wp, [], "url", p=12).collect()[0]["approx_distinct"]
    assert by_level[0] == {("ALL", "ALL"): glob_scan}
    assert len(by_level[2]) > len(by_level[1]) >= 2


def test_kmv_theta_set_ops_known_overlap(spark):
    """Theta set algebra on sets with KNOWN difference: A/B/C of 4000
    elements, |A\\B|=|B\\A|=2000, |A\\C|=4000 — union/intersection AND the
    one-sided differences (the op HLL algebra cannot give) must land within
    ~4/sqrt(k) of the union; the kernel is additionally exact under
    capacity (checked with a small pair)."""
    from streaming_algorithms_spark.operators.sketch_agg import (
        kmv_pairwise_set_ops,
    )
    from streaming_algorithms_spark.sketches import (
        BottomKSample, theta_set_estimates,
    )

    rows = (
        [("A", f"x{i}") for i in range(4000)]
        + [("B", f"x{i}") for i in range(2000, 6000)]
        + [("C", f"z{i}") for i in range(4000)]
    )
    df = spark.createDataFrame(rows, "grp string, item string").repartition(8)
    k = 1024
    tol = 4 / (k - 2) ** 0.5
    got = {(r["key_a"], r["key_b"]): r
           for r in kmv_pairwise_set_ops(df, "grp", "item", k=k).collect()}
    exact = {("A", "B"): (6000, 2000, 2000, 2000),
             ("A", "C"): (8000, 0, 4000, 4000),
             ("B", "C"): (8000, 0, 4000, 4000)}
    for pair, (nu, ni, nab, nba) in exact.items():
        r = got[pair]
        assert abs(r["est_union"] - nu) <= tol * nu + 5, (pair, dict(r.asDict()))
        assert abs(r["est_intersection"] - ni) <= tol * nu + 5
        assert abs(r["est_a_minus_b"] - nab) <= tol * nu + 5
        assert abs(r["est_b_minus_a"] - nba) <= tol * nu + 5

    # under capacity -> exact
    sa, sb = BottomKSample(256), BottomKSample(256)
    sa.update_batch([f"a{i}".encode() for i in range(100)])
    sb.update_batch([f"a{i}".encode() for i in range(60, 160)])
    est = theta_set_estimates(sa, sb)
    assert est["theta"] == 1.0
    assert est["est_union"] == 160 and est["est_intersection"] == 40
    assert est["est_a_minus_b"] == 60 and est["est_b_minus_a"] == 60


def test_hll_kmv_combined_matches_separate(spark):
    """The one-pass combined build must give estimates IDENTICAL to the
    two single-family ops on the same input — both consume the same
    xxhash64 values and both kernels are order-free (register max /
    bottom-k cut), so the combined sketch state is the same state."""
    from streaming_algorithms_spark.operators.sketch_agg import (
        hll_kmv_pairwise_set_ops,
        hll_pairwise_overlap,
        kmv_pairwise_set_ops,
    )

    rows = (
        [("A", f"x{i}") for i in range(3000)]
        + [("B", f"x{i}") for i in range(1500, 4500)]
        + [("C", f"z{i}") for i in range(3000)]
    )
    df = spark.createDataFrame(rows, "grp string, item string").repartition(8)
    comb = {(r["key_a"], r["key_b"]): r
            for r in hll_kmv_pairwise_set_ops(df, "grp", "item",
                                              p=12, k=256).collect()}
    hll = {(r["key_a"], r["key_b"]): r
           for r in hll_pairwise_overlap(df, "grp", "item", p=12).collect()}
    kmv = {(r["key_a"], r["key_b"]): r
           for r in kmv_pairwise_set_ops(df, "grp", "item", k=256).collect()}
    assert set(comb) == set(hll) == set(kmv) == {
        ("A", "B"), ("A", "C"), ("B", "C")}
    for pair, r in comb.items():
        h, t = hll[pair], kmv[pair]
        assert (r["est_a"], r["est_b"], r["est_union"],
                r["est_intersection"]) == (
            h["est_a"], h["est_b"], h["est_union"], h["est_intersection"])
        assert (r["kmv_union"], r["kmv_intersection"],
                r["est_a_minus_b"], r["est_b_minus_a"]) == (
            t["est_union"], t["est_intersection"],
            t["est_a_minus_b"], t["est_b_minus_a"])


def test_pairwise_all_pairs_enumeration_capped(spark):
    """pairs=None enumerates O(K^2) pairs on the driver — fine for lang/
    event-type cardinality, refused past MAX_AUTO_PAIR_KEYS with the
    pairs= escape hatch named in the error (a high-cardinality key must
    never silently build a million-element driver list)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from streaming_algorithms_spark.operators.sketch_agg import (
        MAX_AUTO_PAIR_KEYS,
        _enumerate_all_pairs,
    )

    small = spark.range(4).select(F.col("id").alias("k"))
    pairs = _enumerate_all_pairs(small, "k", "op")
    assert len(pairs) == 6 and pairs[0] == (0, 1)

    big = spark.range(MAX_AUTO_PAIR_KEYS + 1).select(F.col("id").alias("k"))
    with _pytest.raises(ValueError, match="pairs="):
        _enumerate_all_pairs(big, "k", "op")
