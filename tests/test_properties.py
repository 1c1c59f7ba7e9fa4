"""Property-based kernel invariants (hypothesis) — the guarantees the engine
sells, tested on arbitrary inputs rather than goldens."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from streaming_algorithms_spark.sketches import (
    KLL,
    CountMinSketch,
    HyperLogLog,
    RunningStats,
    TimeSeries,
    matrix_profile,
)

keys_strategy = st.lists(
    st.binary(min_size=0, max_size=24), min_size=1, max_size=200
)


@settings(max_examples=25, deadline=None)
@given(keys_strategy)
def test_cms_never_underestimates(keys):
    sk = CountMinSketch(width=64, depth=4)
    sk.update_batch(keys)
    from collections import Counter

    true = Counter(keys)
    est = sk.point_query_batch(list(true))
    for (k, t), e in zip(true.items(), est):
        assert e >= t  # CM guarantee: no underestimate, ever


@settings(max_examples=25, deadline=None)
@given(keys_strategy, st.integers(2, 6))
def test_hll_merge_equals_union_bytes(keys, n_parts):
    whole = HyperLogLog(p=8)
    whole.update_batch(keys)
    parts = [HyperLogLog(p=8) for _ in range(n_parts)]
    for i, k in enumerate(keys):
        parts[i % n_parts].update_batch([k])
    merged = HyperLogLog(p=8)
    for p in parts:
        merged.merge(p)
    assert merged.to_bytes() == whole.to_bytes()


@settings(max_examples=25, deadline=None)
@given(st.lists(st.floats(-1e6, 1e6), min_size=2, max_size=300),
       st.integers(2, 5))
def test_welford_merge_matches_numpy(xs, n_parts):
    full = RunningStats()
    full.update_batch(xs)
    parts = [RunningStats() for _ in range(n_parts)]
    for i, x in enumerate(xs):
        parts[i % n_parts].add(x)
    merged = RunningStats()
    for p in parts:
        merged.merge(p)
    assert merged.count == full.count == len(xs)
    assert np.isclose(merged.mean, np.mean(xs), rtol=1e-9, atol=1e-9)
    if len(xs) > 1:
        assert np.isclose(merged.variance(), np.var(xs, ddof=1),
                          rtol=1e-6, atol=1e-6)


@settings(max_examples=15, deadline=None)
@given(st.lists(st.floats(0, 1e9), min_size=10, max_size=2000))
def test_kll_quantile_is_a_seen_value_with_sane_rank(xs):
    sk = KLL(k=128)
    sk.update_batch(xs)
    xs_arr = np.asarray(xs)
    for q in (0.0, 0.5, 1.0):
        est = sk.quantile(q)
        assert est in xs_arr  # KLL returns stored items
    assert sk.quantile(0.0) >= xs_arr.min()
    assert sk.quantile(1.0) <= xs_arr.max()


@settings(max_examples=20, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 50), st.integers(-100, 100)),
                min_size=1, max_size=100))
def test_time_series_matches_naive_model(ops):
    """Ring behaves exactly like a dict-of-buckets model with the same
    advance/reject rules (time_series.c:34-58)."""
    rows, npr = 8, 3
    ts = TimeSeries(rows, npr)
    model: dict[int, int] = {}
    current_row = rows - 1
    for ns, v in ops:
        row = ns // npr
        if row > current_row:
            for r in range(current_row + 1, row + 1):
                model[r] = 0
            current_row = row
        if row <= current_row - rows:
            assert ts.add(ns, v) == np.iinfo(np.int32).min
            continue
        model[row] = model.get(row, 0) + v
        assert ts.add(ns, v) == model[row]
    for row in range(max(0, current_row - rows + 1), current_row + 1):
        assert ts.get(row * npr) == model.get(row, 0)


def test_matrix_profile_anytime_upper_bounds_full():
    """percent<100 computes a subset of diagonals -> every mp value is an
    upper bound of the full profile (the anytime property,
    time_series.c:166-169,291)."""
    rng = np.random.default_rng(2)
    v = rng.integers(0, 500, 512)
    full, _ = matrix_profile(v, m=8, percent=100)
    partial, _ = matrix_profile(v, m=8, percent=10, seed=123)
    finite = np.isfinite(partial)
    assert (partial[finite] >= full[finite] - 1e-9).all()
    # and full profile is permutation-invariant of diagonal order
    full2, _ = matrix_profile(v, m=8, percent=100, seed=999)
    np.testing.assert_allclose(full, full2)


@settings(max_examples=25, deadline=None)
@given(st.lists(st.tuples(st.binary(min_size=1, max_size=8),
                          st.integers(1, 50)), min_size=1, max_size=120),
       st.integers(2, 5))
def test_count_sketch_merge_linearity(items, n_parts):
    """Count-Sketch is a linear sketch: any partition of the stream merges
    to the byte-identical table of the one-shot build."""
    import numpy as np

    from streaming_algorithms_spark.sketches import CountSketch
    from streaming_algorithms_spark.sketches.xxhash import xxh64_batch

    keys = [k for k, _ in items]
    counts = np.array([c for _, c in items], np.int64)
    h = xxh64_batch(keys)
    whole = CountSketch(256, 3)
    whole.update_hashes(h, counts)
    parts = [CountSketch(256, 3) for _ in range(n_parts)]
    for i in range(n_parts):
        sl = slice(i, None, n_parts)
        if len(h[sl]):
            parts[i].update_hashes(h[sl], counts[sl])
    merged = CountSketch(256, 3)
    for p in parts:
        merged.merge(CountSketch.from_bytes(p.to_bytes()))
    assert merged.to_bytes() == whole.to_bytes()


@settings(max_examples=15, deadline=None)
@given(st.integers(0, 2**32 - 1), st.integers(1, 400), st.integers(2, 4))
def test_frequent_directions_bound_random_matrices(seed, n_rows, n_parts):
    """FD's published bound ||A'A - B'B||_2 <= ||A||_F^2/ell holds for
    arbitrary inputs split across arbitrary partitions."""
    import numpy as np

    from streaming_algorithms_spark.sketches import FrequentDirections

    rng = np.random.default_rng(seed)
    d, ell = 12, 4
    A = rng.normal(scale=rng.uniform(0.1, 10), size=(n_rows, d))
    parts = np.array_split(A, n_parts)
    sks = []
    for p in parts:
        s = FrequentDirections(ell, d)
        if len(p):
            s.insert_batch(p)
        sks.append(s)
    m = FrequentDirections.from_bytes(sks[0].to_bytes())
    for s in sks[1:]:
        m.merge(FrequentDirections.from_bytes(s.to_bytes()))
    err = np.linalg.norm(A.T @ A - m.gram(), 2)
    assert err <= m.error_bound() * (1 + 1e-9) + 1e-9
    assert m.n_rows == n_rows


def _zipf_stream(seed, n, a):
    rng = np.random.default_rng(seed)
    return [f"k{z}".encode() for z in np.minimum(rng.zipf(a, n), 400)], rng


def _assert_space_saving_bounds(ss, exact):
    """The Space-Saving guarantees over the exact counts of everything fed."""
    n = sum(exact.values())
    assert ss.n == n
    assert sum(ss.counts.values()) <= n
    if len(ss.counts) >= ss.k:
        assert min(ss.counts.values()) * ss.k <= n
    for key, hi in ss.counts.items():
        assert hi - ss.errors[key] <= exact[key] <= hi, (key, exact[key])
    for key, c in exact.items():
        if c * ss.k > n:
            assert key in ss.counts, (key, c, n)


def _build_space_saving(keys, k, rng):
    """Feed ``keys`` in random batches, alternating raw (repeated keys,
    counts=None) and pre-aggregated input; check the bounds after each."""
    from collections import Counter

    from streaming_algorithms_spark.sketches import SpaceSaving

    ss, exact = SpaceSaving(k), Counter()
    cuts = np.sort(rng.integers(0, len(keys) + 1, rng.integers(0, 6)))
    for batch in np.split(np.array(keys, dtype=object), cuts):
        if rng.random() < 0.5:
            ss.update_batch(list(batch))
        else:
            uniq, cnt = np.unique(batch, return_counts=True)
            ss.update_batch(list(uniq), cnt)
        exact.update(batch.tolist())
        _assert_space_saving_bounds(ss, exact)
    return ss, exact


@settings(max_examples=40, deadline=None)
@given(st.integers(0, 2**32 - 1), st.integers(1, 64), st.integers(0, 3000),
       st.floats(1.05, 2.5))
def test_space_saving_combine_bounds_per_batch(seed, k, n, a):
    """Every update_batch is the mergeable combine with the batch's exact
    summary, so the sequential guarantees hold after every batch."""
    keys, rng = _zipf_stream(seed, n, a)
    _build_space_saving(keys, k, rng)


@settings(max_examples=30, deadline=None)
@given(st.integers(0, 2**32 - 1), st.integers(1, 64), st.integers(0, 3000),
       st.floats(1.05, 2.5), st.integers(2, 5))
def test_space_saving_merge_and_wire_bounds(seed, k, n, a, n_parts):
    """Partials over disjoint slices merge (through the wire format) to a
    summary with the same guarantees over the whole stream."""
    from collections import Counter

    from streaming_algorithms_spark.sketches import SpaceSaving

    keys, rng = _zipf_stream(seed, n, a)
    cuts = np.sort(rng.integers(0, n + 1, n_parts - 1))
    merged, exact = SpaceSaving(k), Counter()
    for part in np.split(np.arange(n), cuts):
        ss, ex = _build_space_saving([keys[i] for i in part], k, rng)
        merged.merge(SpaceSaving.from_bytes(ss.to_bytes()))
        exact.update(ex)
        _assert_space_saving_bounds(merged, exact)
    back = SpaceSaving.from_bytes(merged.to_bytes())
    assert back.to_bytes() == merged.to_bytes()
    _assert_space_saving_bounds(back, exact)
