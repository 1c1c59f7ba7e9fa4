"""Kill-and-resume equivalence (FIXTURES §B3, north_rule checkpoint/lineage)."""

import numpy as np
from pyspark.sql import functions as F

from streaming_algorithms_spark.checkpoint import SketchCheckpoint
from streaming_algorithms_spark.operators.sketch_agg import encode_utf8
from streaming_algorithms_spark.sketches import HyperLogLog


def test_resume_after_partition_loss_identical(spark, webpages, tmp_path):
    # closures (not module-level functions): cloudpickle must serialize them
    # by value — executors don't have tests/ on their sys.path
    def _update(sk, pdf):
        sk.update_batch(encode_utf8(pdf["url"]))

    def _kw():
        return dict(
            factory=lambda: HyperLogLog(11),
            update=_update,
            from_bytes=HyperLogLog.from_bytes,
            finalize=lambda sk, rows: {"est": int(round(sk.estimate())), "rows_seen": rows},
            out_value_schema="est bigint, rows_seen bigint",
        )

    df = webpages.select("lang", "url").repartition(8)

    # uninterrupted run
    full = SketchCheckpoint(spark, str(tmp_path / "ck_full"), "q1")
    baseline = {r["lang"]: (r["est"], r["rows_seen"])
                for r in full.run(df, ["lang"], **_kw()).collect()}

    # run that "loses" half its partitions before checkpointing
    broken = SketchCheckpoint(spark, str(tmp_path / "ck_broken"), "q1")
    broken.run(df, ["lang"], fail_partitions=frozenset({0, 2, 4, 6}), **_kw()).collect()
    done = broken.completed_partitions()
    assert done and 0 not in done and 1 in done

    # resume: same checkpoint dir, processes only the missing partitions
    resumed = SketchCheckpoint(spark, str(tmp_path / "ck_broken"), "q1")
    result = {r["lang"]: (r["est"], r["rows_seen"])
              for r in resumed.run(df, ["lang"], **_kw()).collect()}
    assert result == baseline

    # lineage metrics cover all 8 partitions exactly once
    m = resumed.lineage_metrics().collect()
    assert {r["partition_id"] for r in m} == set(range(8))
    assert sum(r["rows"] for r in m) == df.count()


def test_stale_algo_version_partials_not_reused(spark, webpages, tmp_path):
    """Partials stamped by a different ALGO_VERSION must be treated as
    missing — never merged (a library upgrade that changes a hash mapping
    would otherwise silently mix incompatible register mass; resume's
    worst case must be recompute, never a wrong estimate)."""
    import streaming_algorithms_spark.checkpoint as cp

    def _update(sk, pdf):
        sk.update_batch(encode_utf8(pdf["url"]))

    kw = dict(
        factory=lambda: HyperLogLog(11),
        update=_update,
        from_bytes=HyperLogLog.from_bytes,
        finalize=lambda sk, rows: {"est": int(round(sk.estimate())),
                                   "rows_seen": rows},
        out_value_schema="est bigint, rows_seen bigint",
    )
    df = webpages.select("lang", "url").repartition(4)

    ck = cp.SketchCheckpoint(spark, str(tmp_path / "ck_v"), "q1")
    old_version = cp.ALGO_VERSION
    try:
        cp.ALGO_VERSION = "0-stale"
        ck.run(df, ["lang"], **kw).collect()
        assert ck.completed_partitions() == frozenset(range(4))
    finally:
        cp.ALGO_VERSION = old_version

    # under the CURRENT version the stale partials are invisible...
    assert ck.completed_partitions() == frozenset()
    # ...and a fresh run recomputes everything and matches a clean run
    result = {r["lang"]: r["est"] for r in ck.run(df, ["lang"], **kw).collect()}
    clean = cp.SketchCheckpoint(spark, str(tmp_path / "ck_clean"), "q1")
    baseline = {r["lang"]: r["est"]
                for r in clean.run(df, ["lang"], **kw).collect()}
    assert result == baseline


def test_pre_versioning_checkpoint_resumes_cleanly(spark, webpages, tmp_path):
    """A checkpoint written BEFORE algo_version/query_id existed (files
    lacking those columns) must resume as a full recompute — never raise.
    Without mergeSchema, the post-append read could pick an old file's
    footer and fail on the missing column nondeterministically (ADVICE
    r04); this pins the 'worst case is a full recompute' contract."""
    from streaming_algorithms_spark.checkpoint import SketchCheckpoint
    from streaming_algorithms_spark.operators.sketch_agg import _key_schema

    def _update(sk, pdf):
        sk.update_batch(encode_utf8(pdf["url"]))

    kw = dict(
        factory=lambda: HyperLogLog(11),
        update=_update,
        from_bytes=HyperLogLog.from_bytes,
        finalize=lambda sk, rows: {"est": int(round(sk.estimate())),
                                   "rows_seen": rows},
        out_value_schema="est bigint, rows_seen bigint",
    )
    df = webpages.select("lang", "url").repartition(4)

    # baseline from a fresh dir
    full = SketchCheckpoint(spark, str(tmp_path / "ck_base"), "q1")
    baseline = {r["lang"]: (r["est"], r["rows_seen"])
                for r in full.run(df, ["lang"], **kw).collect()}

    # fabricate a PRE-VERSIONING checkpoint: partials without the
    # algo_version / query_id columns (an old library's layout)
    old = SketchCheckpoint(spark, str(tmp_path / "ck_old"), "q1")
    legacy = spark.createDataFrame(
        [("xx", HyperLogLog(11).to_bytes(), 7, 0, 1.0)],
        "lang string, sketch binary, rows bigint, partition_id int, "
        "wall_ms double",
    )
    legacy.write.mode("append").parquet(old._ckpt_path())

    # pre-versioning rows are invisible -> nothing completed, no error
    assert old.completed_partitions() == frozenset()

    # resume over the mixed-schema dir: recomputes everything, correct
    result = {r["lang"]: (r["est"], r["rows_seen"])
              for r in old.run(df, ["lang"], **kw).collect()}
    assert result == baseline


def test_lineage_metrics_skip_stale_version_partials(spark, tmp_path):
    """After a version-mismatch recompute the checkpoint dir holds both the
    stale and the current partials; lineage reports only the current ones
    (1000 rows, 4 partitions x 3 keys), as the merge does."""
    import streaming_algorithms_spark.checkpoint as cp

    def _update(sk, pdf):
        sk.update_batch(encode_utf8(pdf["v"]))

    kw = dict(
        factory=lambda: HyperLogLog(11),
        update=_update,
        from_bytes=HyperLogLog.from_bytes,
        finalize=lambda sk, rows: {"rows_seen": rows},
        out_value_schema="rows_seen bigint",
    )
    df = (spark.range(1000)
          .select((F.col("id") % 3).alias("k"),
                  F.col("id").cast("string").alias("v"))
          .repartition(4))
    ck = cp.SketchCheckpoint(spark, str(tmp_path / "ck_lin"), "q1")
    old_version = cp.ALGO_VERSION
    try:
        cp.ALGO_VERSION = "0-stale"
        ck.run(df, ["k"], **kw).collect()
    finally:
        cp.ALGO_VERSION = old_version
    merged = ck.run(df, ["k"], **kw).collect()
    assert sum(r["rows_seen"] for r in merged) == 1000

    m = ck.lineage_metrics().collect()
    assert {r["partition_id"] for r in m} == set(range(4))
    assert sum(r["rows"] for r in m) == 1000
    assert sum(r["n_partials"] for r in m) == 12
