"""Incremental IVF index (ivf_index.IvfIndex).

Contracts, in production order:

1. recall parity: an incrementally-built index (N appends, no refresh)
   queried at full probe is EXACT — equal to brute force over the union,
   which also makes it equal to the one-shot ivf_topk full-probe build.
2. partial-probe recall on clustered data stays >= 0.9 (the ANN regime).
3. drift lifecycle: a distribution-shifted batch is flagged; refresh()
   re-Lloyds + compacts; post-refresh appends from the new distribution
   are no longer flagged (baseline moved with the quantizer).
4. commit protocol: duplicate batch ids refused, a crashed append
   (missing _SUCCESS) is invisible, postings written under an older
   quantizer generation are re-routed in-flight.
"""
import numpy as np
import pytest


def _clustered(rng, centers, n_per, dim, spread=0.05, id_base=0):
    rows = []
    for ci, c in enumerate(centers):
        pts = c[None, :] + rng.normal(scale=spread, size=(n_per, dim))
        for j, p in enumerate(pts):
            rows.append((id_base + ci * n_per + j,
                         [float(x) for x in p]))
    return rows


def _mk_df(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


@pytest.fixture(scope="module")
def clustered_halves(spark):
    rng = np.random.default_rng(7)
    dim = 16
    centers = rng.normal(size=(6, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = _clustered(rng, centers, n_per=40, dim=dim)
    # interleaved halves: both batches see every cluster
    return (_mk_df(spark, rows[0::2]), _mk_df(spark, rows[1::2]),
            _mk_df(spark, rows))


def test_incremental_full_probe_exact_equals_bruteforce(
        spark, tmp_path, clustered_halves):
    from streaming_algorithms_spark.ivf_index import IvfIndex
    from streaming_algorithms_spark.operators.similarity import (
        brute_force_topk,
    )

    half_a, half_b, union = clustered_halves
    idx = IvfIndex(spark, str(tmp_path / "ivf"), "vec_id", "embedding")
    idx.append(half_a, "day-0", n_lists=8)
    idx.append(half_b, "day-1")

    got = {r["vec_id"]: r["neighbor_id"]
           for r in idx.topk(k=1, n_probe=None).collect()}
    bf = {r["vec_id"]: r["neighbor_id"]
          for r in brute_force_topk(union, union, "vec_id", "embedding",
                                    k=1).collect()}
    assert got == bf  # full probe is EXACT, batching irrelevant


def test_partial_probe_recall(spark, tmp_path, clustered_halves):
    from streaming_algorithms_spark.ivf_index import IvfIndex
    from streaming_algorithms_spark.operators.similarity import (
        brute_force_topk,
    )

    half_a, half_b, union = clustered_halves
    idx = IvfIndex(spark, str(tmp_path / "ivf"), "vec_id", "embedding")
    idx.append(half_a, "day-0", n_lists=8)
    idx.append(half_b, "day-1")
    got = {r["vec_id"]: r["neighbor_id"]
           for r in idx.topk(k=1, n_probe=2).collect()}
    bf = {r["vec_id"]: r["neighbor_id"]
          for r in brute_force_topk(union, union, "vec_id", "embedding",
                                    k=1).collect()}
    recall = sum(got.get(q) == n for q, n in bf.items()) / len(bf)
    assert recall >= 0.9, recall


def test_drift_flag_refresh_and_rebaseline(spark, tmp_path):
    from streaming_algorithms_spark.ivf_index import IvfIndex

    rng = np.random.default_rng(11)
    dim = 16
    centers_a = rng.normal(size=(4, dim))
    centers_a /= np.linalg.norm(centers_a, axis=1, keepdims=True)
    # drifted distribution: each cluster center rotated by a moderate
    # perturbation (cos ~0.5 to its original) — assignment cosine under
    # the A-fit quantizer drops well past drift_tol, while a re-fit
    # quantizer can cover the A/B pair midpoints and re-baseline
    centers_b = centers_a + 0.4 * rng.normal(size=(4, dim))
    centers_b /= np.linalg.norm(centers_b, axis=1, keepdims=True)

    idx = IvfIndex(spark, str(tmp_path / "ivf"), "vec_id", "embedding",
                   drift_tol=0.05)
    a = _mk_df(spark, _clustered(rng, centers_a, 30, dim))
    m0 = idx.append(a, "day-0", n_lists=4)
    assert not m0["drift"]

    b = _mk_df(spark, _clustered(rng, centers_b, 30, dim, id_base=10_000))
    m1 = idx.append(b, "day-1")
    assert m1["drift"]  # shifted distribution detected
    assert [m["drift"] for m in idx.drift_report()] == [False, True]

    gen = idx.refresh()
    assert gen == "compact-000000"
    # refresh committed a new quantizer generation and covered both batches
    qgen, cent, baseline = idx.latest_quantizer()
    assert qgen == 1 and cent.shape == (4, dim)
    assert idx.live_units() == ["compact-000000/data"]

    # the SAME distribution appended after refresh is no longer drift:
    # the baseline moved with the re-fit quantizer
    b2 = _mk_df(spark, _clustered(rng, centers_b, 30, dim, id_base=20_000))
    m2 = idx.append(b2, "day-2")
    assert not m2["drift"]
    assert m2["quantizer_gen"] == 1

    # vacuum removes covered batches and superseded quantizers; the
    # index stays fully readable and day-2 stays live
    before = idx.topk(k=1, n_probe=None).count()
    removed = idx.vacuum()
    assert set(removed) == {"batch-day-0", "batch-day-1", "quantizer-0"}
    assert set(idx.live_units()) == {"compact-000000/data", "batch-day-2"}
    assert idx.topk(k=1, n_probe=None).count() == before


def test_bucketed_compact_no_corpus_exchange(spark, tmp_path):
    """refresh() writes the compacted postings bucketed on list_id: topk's
    cogroup then plans with NO corpus-side Exchange (exactly one list_id
    Exchange — the probe side), while results stay exact at full probe.
    Any other live shape (a post-compact append) falls back to the
    shuffled path; the pre-partitioned claim is plan-checked and raises
    on non-clustered input."""
    import io
    from contextlib import redirect_stdout

    from streaming_algorithms_spark.ivf_index import IvfIndex
    from streaming_algorithms_spark.operators.similarity import (
        brute_force_topk, ivf_search,
    )

    rng = np.random.default_rng(5)
    dim = 8
    centers = rng.normal(size=(4, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    a = _mk_df(spark, _clustered(rng, centers, 25, dim))
    b = _mk_df(spark, _clustered(rng, centers, 25, dim, id_base=7_000))

    idx = IvfIndex(spark, str(tmp_path / "ivf"), "vec_id", "embedding")
    idx.append(a, "day-0", n_lists=4)
    idx.append(b, "day-1")
    idx.refresh()

    def plan_of(df):
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain(True)
        return buf.getvalue().split("== Physical Plan ==")[-1]

    out = idx.topk(k=1, n_probe=None)
    plan = plan_of(out)
    assert plan.count("Exchange hashpartitioning(list_id") == 1, plan
    union = a.unionByName(b)
    got = {r["vec_id"]: r["neighbor_id"] for r in out.collect()}
    bf = {r["vec_id"]: r["neighbor_id"]
          for r in brute_force_topk(union, union, "vec_id", "embedding",
                                    k=1).collect()}
    assert got == bf

    # post-compact append: live set is no longer one bucketed compact ->
    # the shuffled fallback (two list_id Exchanges), still correct
    c = _mk_df(spark, _clustered(rng, centers, 10, dim, id_base=9_000))
    idx.append(c, "day-2")
    out2 = idx.topk(k=1, n_probe=None)
    assert plan_of(out2).count("Exchange hashpartitioning(list_id") == 2
    union3 = union.unionByName(c)
    got2 = {r["vec_id"]: r["neighbor_id"] for r in out2.collect()}
    bf2 = {r["vec_id"]: r["neighbor_id"]
           for r in brute_force_topk(union3, union3, "vec_id", "embedding",
                                     k=1).collect()}
    assert got2 == bf2

    # contract check: a plain (non-clustered) corpus with the flag raises
    _, cent, _ = idx.latest_quantizer()
    with pytest.raises(ValueError, match="not hash-clustered"):
        ivf_search(idx.postings(), cent, "vec_id", "embedding", k=1,
                   n_probe=None, corpus_pre_partitioned=True,
                   n_parts=int(cent.shape[0]))


def test_commit_protocol_and_stale_unit_rerouting(spark, tmp_path):
    import os

    from streaming_algorithms_spark.ivf_index import IvfIndex
    from streaming_algorithms_spark.operators.similarity import (
        brute_force_topk,
    )

    rng = np.random.default_rng(3)
    dim = 8
    centers = rng.normal(size=(3, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    a = _mk_df(spark, _clustered(rng, centers, 20, dim))
    b = _mk_df(spark, _clustered(rng, centers, 20, dim, id_base=5_000))

    idx = IvfIndex(spark, str(tmp_path / "ivf"), "vec_id", "embedding")
    idx.append(a, "day-0", n_lists=3)
    with pytest.raises(ValueError, match="already exists"):
        idx.append(a, "day-0")
    with pytest.raises(ValueError, match="must match"):
        idx.append(a, "day 0!")

    # crashed append: no _SUCCESS -> invisible to reads
    idx.append(b, "day-1")
    os.remove(tmp_path / "ivf" / "batch-day-1" / "_SUCCESS")
    assert idx.committed_batches() == ["day-0"]

    # crashed append, meta missing (= died before the commit point):
    # retry reclaims the orphan instead of "already exists"
    import shutil
    shutil.rmtree(tmp_path / "ivf" / "batch-day-1")
    idx.append(b, "day-1")
    os.remove(tmp_path / "ivf" / "batch-day-1" / "_BATCH_META.json")
    idx.append(b, "day-1")
    assert idx.committed_batches() == ["day-0", "day-1"]
    shutil.rmtree(tmp_path / "ivf" / "batch-day-1")
    idx.append(b, "day-1")  # restore for the stale-unit scenario below
    os.remove(tmp_path / "ivf" / "batch-day-1" / "_SUCCESS")

    # stale-generation re-routing: refresh (quantizer gen 1), then
    # hand-age a fresh batch's meta back to gen 0 — postings() must
    # re-assign it in-flight and the full-probe query stays exact
    idx.refresh()
    idx.append(b, "day-1b")
    import json
    mp = tmp_path / "ivf" / "batch-day-1b" / "_BATCH_META.json"
    meta = json.load(open(mp))
    meta["quantizer_gen"] = 0
    with open(mp, "w") as f:
        json.dump(meta, f)
    union = a.unionByName(b)
    got = {r["vec_id"]: r["neighbor_id"]
           for r in idx.topk(k=1, n_probe=None).collect()}
    bf = {r["vec_id"]: r["neighbor_id"]
          for r in brute_force_topk(union, union, "vec_id", "embedding",
                                    k=1).collect()}
    assert got == bf


def test_external_search_full_probe_exact(spark, tmp_path, clustered_halves):
    """IvfIndex.search(): an EXTERNAL query set against the persisted
    index — full probe equals brute force over the index contents, no
    self-exclusion (a query sharing a corpus id still gets that corpus
    row as a neighbor), and k>1 ranks match the oracle exactly."""
    from streaming_algorithms_spark.ivf_index import IvfIndex
    from streaming_algorithms_spark.operators.similarity import (
        brute_force_topk,
    )

    half_a, half_b, union = clustered_halves
    idx = IvfIndex(spark, str(tmp_path / "ivf"), "vec_id", "embedding")
    idx.append(half_a, "day-0", n_lists=8)
    idx.append(half_b, "day-1")

    # external queries: perturbed copies of corpus vectors under NEW ids,
    # PLUS one exact copy under a COLLIDING id (id-namespace check)
    rng = np.random.default_rng(21)
    base = union.orderBy("vec_id").limit(12).collect()
    q_rows = [(10_000 + i,
               [float(x) for x in
                np.asarray(r["embedding"]) + rng.normal(scale=0.01, size=16)])
              for i, r in enumerate(base)]
    collide = base[0]
    q_rows.append((int(collide["vec_id"]),
                   [float(x) for x in collide["embedding"]]))
    qdf = _mk_df(spark, q_rows)

    got = idx.search(qdf, k=3, n_probe=None).collect()
    # oracle: for each query row, top-3 among the index contents
    bf = brute_force_topk(qdf, union, "vec_id", "embedding", k=3,
                          exclude_self=False).collect()
    key = lambda rows: {(r["vec_id"], r["rank"]):
                        (r["neighbor_id"], round(r["cosine"], 9))
                        for r in rows}
    assert key(got) == key(bf)
    # the colliding id's rank-1 neighbor is its own corpus twin, cosine 1
    top1 = {r["vec_id"]: r for r in got if r["rank"] == 1}
    hit = top1[collide["vec_id"]]
    assert hit["neighbor_id"] == collide["vec_id"]
    assert hit["cosine"] == pytest.approx(1.0, abs=1e-9)


def test_external_search_partial_probe_recall_and_bucketed_plan(
        spark, tmp_path):
    """Partial-probe external search keeps recall >= 0.9 on clustered
    data, and over a bucketed compact generation the corpus side plans
    with NO Exchange (exactly one list_id Exchange: the query side)."""
    import io
    from contextlib import redirect_stdout

    from streaming_algorithms_spark.ivf_index import IvfIndex
    from streaming_algorithms_spark.operators.similarity import (
        brute_force_topk,
    )

    rng = np.random.default_rng(31)
    dim = 16
    centers = rng.normal(size=(6, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    corpus = _mk_df(spark, _clustered(rng, centers, 40, dim))
    idx = IvfIndex(spark, str(tmp_path / "ivf"), "vec_id", "embedding")
    idx.append(corpus, "day-0", n_lists=6)
    idx.refresh()  # bucketed compact generation

    q_rows = _clustered(rng, centers, 8, dim, id_base=50_000)
    qdf = _mk_df(spark, q_rows)

    out = idx.search(qdf, k=1, n_probe=2)
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain(True)
    plan = buf.getvalue().split("== Physical Plan ==")[-1]
    assert plan.count("Exchange hashpartitioning(list_id") == 1, plan

    got = {r["vec_id"]: r["neighbor_id"] for r in out.collect()}
    bf = {r["vec_id"]: r["neighbor_id"]
          for r in brute_force_topk(qdf, corpus, "vec_id", "embedding",
                                    k=1, exclude_self=False).collect()}
    assert len(got) == len(bf) == len(q_rows)
    recall = sum(got[q] == bf[q] for q in bf) / len(bf)
    assert recall >= 0.9, recall

    # column-contract error is eager and specific
    import pytest as _pytest
    with _pytest.raises(ValueError, match="missing"):
        idx.search(qdf.withColumnRenamed("embedding", "vec"), k=1)


def test_id_guards_on_append_and_search(spark, tmp_path, clustered_halves):
    """A lossy long-cast would NULL non-integer ids — permanently corrupt
    postings on append, an executor crash or one merged top-k window on
    search.  Both verbs refuse non-integer id columns at the driver, and
    a NULL id inside an integral column fails loud in the job instead of
    becoming a NULL posting/query row."""
    from streaming_algorithms_spark.ivf_index import IvfIndex

    _, _, df = clustered_halves
    idx = IvfIndex(spark, str(tmp_path / "ivf"), "vec_id", "embedding")
    bad = df.selectExpr("concat('q-', vec_id) AS vec_id", "embedding")
    with pytest.raises(ValueError, match="integer type"):
        idx.append(bad, "b-bad", n_lists=4)
    with_null = df.unionByName(spark.createDataFrame(
        [(None, [0.0] * 16)], "vec_id long, embedding array<float>"))
    with pytest.raises(Exception, match="NULL vec_id"):
        idx.append(with_null, "b-null", n_lists=4)
    idx.append(df, "b0", n_lists=4)
    assert idx.committed_batches() == ["b0"]  # failed appends left no commit
    with pytest.raises(ValueError, match="integer type"):
        idx.search(bad, k=1)
    with pytest.raises(Exception, match="NULL vec_id"):
        idx.search(with_null, k=1, n_probe=None).collect()


def test_delete_masks_reads_and_commit_protocol(spark, tmp_path):
    """delete() — the removal verb.  A committed tombstone masks its ids
    from postings/topk/search IMMEDIATELY (results equal brute force over
    the survivors); the ledger refuses duplicate/bad tombstone ids; a
    crashed delete (no _SUCCESS) is invisible and a retry reclaims the
    orphan, exactly like append's commit protocol."""
    import os
    import shutil

    from streaming_algorithms_spark.ivf_index import IvfIndex
    from streaming_algorithms_spark.operators.similarity import (
        brute_force_topk,
    )

    rng = np.random.default_rng(17)
    dim = 8
    centers = rng.normal(size=(3, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = _clustered(rng, centers, 20, dim)
    df = _mk_df(spark, rows)
    idx = IvfIndex(spark, str(tmp_path / "ivf"), "vec_id", "embedding")
    idx.append(df, "day-0", n_lists=3)

    dead = sorted(r[0] for r in rows)[:7]
    dead_df = spark.createDataFrame([(i,) for i in dead], "vec_id long")
    meta = idx.delete(dead_df, "purge-0")
    assert meta["rows"] == len(dead)

    survivors = [r for r in rows if r[0] not in set(dead)]
    surv_df = _mk_df(spark, survivors)
    left = {r["vec_id"] for r in idx.postings().collect()}
    assert left == {r[0] for r in survivors}
    got = {r["vec_id"]: r["neighbor_id"]
           for r in idx.topk(k=1, n_probe=None).collect()}
    bf = {r["vec_id"]: r["neighbor_id"]
          for r in brute_force_topk(surv_df, surv_df, "vec_id",
                                    "embedding", k=1).collect()}
    assert got == bf  # deleted ids gone as queries AND as neighbors

    # external search never returns a deleted neighbor either
    qdf = _mk_df(spark, _clustered(rng, centers, 4, dim, id_base=9_000))
    sgot = {r["vec_id"]: r["neighbor_id"]
            for r in idx.search(qdf, k=1, n_probe=None).collect()}
    sbf = {r["vec_id"]: r["neighbor_id"]
           for r in brute_force_topk(qdf, surv_df, "vec_id", "embedding",
                                     k=1, exclude_self=False).collect()}
    assert sgot == sbf

    with pytest.raises(ValueError, match="already exists"):
        idx.delete(dead_df, "purge-0")
    with pytest.raises(ValueError, match="must match"):
        idx.delete(dead_df, "purge 0!")
    with pytest.raises(ValueError, match="integer type"):
        idx.delete(dead_df.selectExpr("concat('x', vec_id) AS vec_id"),
                   "purge-bad")

    # crashed delete: no _SUCCESS -> invisible (all rows serve again)
    os.remove(tmp_path / "ivf" / "tomb-purge-0" / "_SUCCESS")
    assert idx.committed_tombstones() == []
    assert {r["vec_id"] for r in idx.postings().collect()} == {
        r[0] for r in rows}
    # died before the commit point (no meta): retry reclaims the orphan
    shutil.rmtree(tmp_path / "ivf" / "tomb-purge-0")
    idx.delete(dead_df, "purge-0")
    os.remove(tmp_path / "ivf" / "tomb-purge-0" / "_BATCH_META.json")
    idx.delete(dead_df, "purge-0")
    assert idx.committed_tombstones() == ["purge-0"]


def test_delete_refresh_absorbs_vacuum_reclaims(spark, tmp_path):
    """refresh() applies live tombstones physically (compaction holds
    only survivors; the manifest records the absorption), the bucketed
    no-Exchange fast path still serves exactly with a LIVE tombstone on
    top (broadcast mask preserves the clustering — the runtime plan
    check inside ivf_search would raise otherwise), vacuum() reclaims
    absorbed tombstone dirs only, and an id re-appended after absorption
    lives again."""
    from streaming_algorithms_spark.ivf_index import IvfIndex
    from streaming_algorithms_spark.operators.similarity import (
        brute_force_topk,
    )

    rng = np.random.default_rng(23)
    dim = 8
    centers = rng.normal(size=(3, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = _clustered(rng, centers, 20, dim)
    df = _mk_df(spark, rows)
    idx = IvfIndex(spark, str(tmp_path / "ivf"), "vec_id", "embedding")
    idx.append(df, "day-0", n_lists=3)

    dead_a = sorted(r[0] for r in rows)[:5]
    idx.delete(spark.createDataFrame([(i,) for i in dead_a],
                                     "vec_id long"), "purge-a")
    idx.refresh()  # bucketed compact; absorbs purge-a physically
    assert idx.live_tombstones() == []
    comp = idx._generations()[-1][1]
    assert comp["covers_tombs"] == ["purge-a"]
    surv_a = [r for r in rows if r[0] not in set(dead_a)]
    assert {r["vec_id"] for r in idx.postings().collect()} == {
        r[0] for r in surv_a}

    # live tombstone OVER the bucketed fast path: still exact, and the
    # no-Exchange plan check inside ivf_search stays satisfied
    dead_b = sorted(r[0] for r in surv_a)[:4]
    idx.delete(spark.createDataFrame([(i,) for i in dead_b],
                                     "vec_id long"), "purge-b")
    surv_b = [r for r in surv_a if r[0] not in set(dead_b)]
    surv_b_df = _mk_df(spark, surv_b)
    got = {r["vec_id"]: r["neighbor_id"]
           for r in idx.topk(k=1, n_probe=None).collect()}
    bf = {r["vec_id"]: r["neighbor_id"]
          for r in brute_force_topk(surv_b_df, surv_b_df, "vec_id",
                                    "embedding", k=1).collect()}
    assert got == bf

    removed = idx.vacuum()
    assert "tomb-purge-a" in removed      # absorbed -> reclaimed
    assert "tomb-purge-b" not in removed  # live mask must survive vacuum
    assert idx.live_tombstones() == ["purge-b"]

    # re-append an absorbed-deleted id: it lives again (purge-a is
    # spent); a purge-b id stays masked until the next refresh absorbs it
    back = [r for r in rows if r[0] == dead_a[0]]
    idx.append(_mk_df(spark, back), "day-1")
    ids_now = {r["vec_id"] for r in idx.postings().collect()}
    assert dead_a[0] in ids_now
    assert not any(i in ids_now for i in dead_b)
    idx.refresh()
    idx.vacuum()
    assert idx.live_tombstones() == []
    assert {r["vec_id"] for r in idx.postings().collect()} == (
        {r[0] for r in surv_b} | {dead_a[0]})


def test_retract_posting_batch(spark, tmp_path):
    """IvfIndex.retract(): an uncovered posting batch retracts in one
    reverse-commit (results equal an index that never saw it, no mask
    involved, id free for re-append); a covered batch refuses and points
    at delete()."""
    from streaming_algorithms_spark.ivf_index import IvfIndex
    from streaming_algorithms_spark.operators.similarity import (
        brute_force_topk,
    )

    rng = np.random.default_rng(29)
    dim = 8
    centers = rng.normal(size=(3, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    a_rows = _clustered(rng, centers, 20, dim)
    bad_rows = _clustered(rng, centers, 10, dim, id_base=7_000)
    a, bad = _mk_df(spark, a_rows), _mk_df(spark, bad_rows)

    idx = IvfIndex(spark, str(tmp_path / "ivf"), "vec_id", "embedding")
    idx.append(a, "day-0", n_lists=3)
    idx.append(bad, "day-1-bad")
    idx.retract("day-1-bad")
    assert idx.committed_batches() == ["day-0"]
    got = {r["vec_id"]: r["neighbor_id"]
           for r in idx.topk(k=1, n_probe=None).collect()}
    bf = {r["vec_id"]: r["neighbor_id"]
          for r in brute_force_topk(a, a, "vec_id", "embedding",
                                    k=1).collect()}
    assert got == bf
    idx.append(bad, "day-1-bad")  # the ledger slot is free again
    assert idx.committed_batches() == ["day-0", "day-1-bad"]

    idx.refresh()
    with pytest.raises(ValueError, match="delete"):
        idx.retract("day-0")
    with pytest.raises(ValueError, match="no committed batch"):
        idx.retract("nope")


def test_undelete_unabsorbed_tombstone(spark, tmp_path):
    """undelete(): an unabsorbed tombstone reverse-commits and its ids
    serve again at once; an absorbed tombstone refuses (the compaction
    physically dropped the rows); unknown ids refuse."""
    from streaming_algorithms_spark.ivf_index import IvfIndex

    rng = np.random.default_rng(37)
    dim = 8
    centers = rng.normal(size=(3, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = _clustered(rng, centers, 15, dim)
    df = _mk_df(spark, rows)
    idx = IvfIndex(spark, str(tmp_path / "ivf"), "vec_id", "embedding")
    idx.append(df, "day-0", n_lists=3)
    all_ids = {r[0] for r in rows}

    dead = sorted(all_ids)[:6]
    idx.delete(spark.createDataFrame([(i,) for i in dead],
                                     "vec_id long"), "oops")
    assert {r["vec_id"] for r in idx.postings().collect()} == (
        all_ids - set(dead))
    idx.undelete("oops")
    assert idx.committed_tombstones() == []
    assert {r["vec_id"] for r in idx.postings().collect()} == all_ids
    # the ledger slot is free again after an undelete
    idx.delete(spark.createDataFrame([(dead[0],)], "vec_id long"), "oops")
    idx.refresh()  # absorbs -> spent
    with pytest.raises(ValueError, match="absorbed"):
        idx.undelete("oops")
    with pytest.raises(ValueError, match="no committed tombstone"):
        idx.undelete("never")


def test_observed_drift_stats_equal_read_back(spark, tmp_path):
    """append's and refresh's drift statistics ride the write as observed
    metrics (pyspark Observation); they must equal a read-back of the rows
    that write committed."""
    import json
    import os

    from pyspark.sql import functions as F

    from streaming_algorithms_spark.ivf_index import IvfIndex

    rng = np.random.default_rng(5)
    dim = 8
    centers = rng.normal(size=(3, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    idx = IvfIndex(spark, str(tmp_path / "ivf"), "vec_id", "embedding")

    def read_back(path):
        r = spark.read.parquet(path).agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("assign_cos").alias("cos")).collect()[0]
        return r["n"], r["cos"]

    metas = [idx.append(_mk_df(spark, _clustered(rng, centers, 20, dim)),
                        "day-0", n_lists=3),
             idx.append(_mk_df(spark, _clustered(rng, centers, 7, dim,
                                                 id_base=1000)), "day-1")]
    for i, m in enumerate(metas):
        n, cos = read_back(idx._batch_dir(f"day-{i}"))
        assert m["rows"] == n and m["mean_cos"] == pytest.approx(cos, abs=1e-6)
    with open(os.path.join(str(tmp_path / "ivf"), "quantizer-0",
                           "QUANT.json")) as f:
        baseline0 = json.load(f)["baseline_cos"]
    assert baseline0 == pytest.approx(
        read_back(idx._batch_dir("day-0"))[1], abs=1e-12)

    gen = idx.refresh(bucket=False)
    qgen, _, baseline1 = idx.latest_quantizer()
    assert qgen == 1
    n, cos = read_back(os.path.join(str(tmp_path / "ivf"), gen, "data"))
    assert n == 20 * 3 + 7 * 3
    assert baseline1 == pytest.approx(cos, abs=1e-12)
