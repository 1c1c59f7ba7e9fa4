"""On-disk layout of the two incremental stores (SketchTable, IvfIndex).

A store written by one library version must read with the next, so the
unit directory names, the marker files and the key sets of every JSON
commit record are a format.  This test walks each store through its
whole verb set (append, append_many, delete, compact/refresh, retract,
undelete, vacuum) and pins, after every step, which units exist and
which keys ``TABLE_META.json``, ``_BATCH_META.json``, ``MANIFEST.json``
and ``QUANT.json`` carry.
"""
import json
import os

import numpy as np


def _units(path):
    return sorted(os.listdir(path))


def _keys(*parts):
    with open(os.path.join(*parts)) as f:
        return set(json.load(f))


def _markers(unit_dir):
    """The non-data names in a unit dir (parquet parts and their hidden
    checksum files excluded)."""
    return {n for n in os.listdir(unit_dir)
            if not n.startswith((".", "part-"))}


BATCH_UNIT = {"_SUCCESS", "_BATCH_META.json"}


def test_sketch_table_layout(spark, tmp_path):
    from pyspark.sql import functions as F

    from streaming_algorithms_spark.sketch_table import SketchTable
    from streaming_algorithms_spark.sketches.hll import HyperLogLog

    def factory():
        return HyperLogLog(12)

    def update(sk, pdf):
        sk.add_hashes(pdf["_h"].to_numpy(np.int64).view(np.uint64))

    def batch(lo):
        return (spark.range(lo, lo + 200)
                .select(F.concat(F.lit("lang"), (F.col("id") % 3))
                        .alias("lang"),
                        F.xxhash64("id").alias("_h")).repartition(2))

    root = str(tmp_path / "tbl")
    t = SketchTable(spark, root, ["lang"])

    t.append(batch(0), "day-0", factory, update)
    assert _units(root) == ["TABLE_META.json", "batch-day-0"]
    assert _keys(root, "TABLE_META.json") == {"keys",
                                              "created_algo_version"}
    assert _markers(os.path.join(root, "batch-day-0")) == BATCH_UNIT
    assert _keys(root, "batch-day-0", "_BATCH_META.json") == {
        "batch_id", "algo_version"}

    tagged = (batch(200).withColumn("_day", F.lit("day-1"))
              .unionByName(batch(400).withColumn("_day", F.lit("day-2"))))
    t.append_many(tagged, "_day", ["day-1", "day-2"], factory, update)
    assert _units(root) == ["TABLE_META.json", "batch-day-0",
                            "batch-day-1", "batch-day-2"]
    for b in ("day-1", "day-2"):
        assert _markers(os.path.join(root, f"batch-{b}")) == BATCH_UNIT
        assert _keys(root, f"batch-{b}", "_BATCH_META.json") == {
            "batch_id", "algo_version"}

    assert t.compact(HyperLogLog.from_bytes) == "compact-000000"
    assert "compact-000000" in _units(root)
    assert _markers(os.path.join(root, "compact-000000")) == {
        "data", "MANIFEST.json"}
    assert _keys(root, "compact-000000", "MANIFEST.json") == {
        "covers", "algo_version"}
    assert t.live_units() == ["compact-000000/data"]

    t.append(batch(600), "day-3", factory, update)
    t.retract("day-3")
    assert "batch-day-3" not in _units(root)

    t.append(batch(600), "day-4", factory, update)
    assert t.compact(HyperLogLog.from_bytes) == "compact-000001"
    assert sorted(t.vacuum()) == ["batch-day-0", "batch-day-1",
                                  "batch-day-2", "batch-day-4",
                                  "compact-000000"]
    assert _units(root) == ["TABLE_META.json", "compact-000001"]
    with open(os.path.join(root, "compact-000001", "MANIFEST.json")) as f:
        assert json.load(f)["covers"] == ["day-0", "day-1", "day-2",
                                          "day-4"]


def test_ivf_index_layout(spark, tmp_path):
    from streaming_algorithms_spark.ivf_index import IvfIndex

    rng = np.random.default_rng(3)

    def vecs(lo, n=40):
        return spark.createDataFrame(
            [(lo + i, [float(x) for x in rng.normal(size=4)])
             for i in range(n)], "vec_id long, embedding array<float>")

    def ids(*xs):
        return spark.createDataFrame([(x,) for x in xs], "vec_id long")

    root = str(tmp_path / "ivf")
    idx = IvfIndex(spark, root, "vec_id", "embedding")
    batch_keys = {"batch_id", "quantizer_gen", "rows", "mean_cos", "drift",
                  "algo_version"}
    quant_keys = {"centroids", "baseline_cos", "algo_version"}

    idx.append(vecs(0), "day-0", n_lists=2)
    assert _units(root) == ["TABLE_META.json", "batch-day-0", "quantizer-0"]
    assert _keys(root, "TABLE_META.json") == {"id_col", "vec_col",
                                              "created_algo_version"}
    assert _markers(os.path.join(root, "quantizer-0")) == {"QUANT.json"}
    assert _keys(root, "quantizer-0", "QUANT.json") == quant_keys
    assert _markers(os.path.join(root, "batch-day-0")) == BATCH_UNIT
    assert _keys(root, "batch-day-0", "_BATCH_META.json") == batch_keys

    idx.append(vecs(100), "day-1", stats=False)
    assert _keys(root, "batch-day-1", "_BATCH_META.json") == batch_keys

    idx.delete(ids(0, 1, 2), "purge-0")
    assert _markers(os.path.join(root, "tomb-purge-0")) == BATCH_UNIT
    assert _keys(root, "tomb-purge-0", "_BATCH_META.json") == {
        "tomb_id", "rows", "algo_version"}
    idx.delete(ids(5), "oops")
    idx.undelete("oops")
    idx.append(vecs(200), "day-bad")
    idx.retract("day-bad")
    assert _units(root) == ["TABLE_META.json", "batch-day-0",
                            "batch-day-1", "quantizer-0", "tomb-purge-0"]

    assert idx.refresh(lloyd_iters=1) == "compact-000000"
    assert _units(root) == ["TABLE_META.json", "batch-day-0",
                            "batch-day-1", "compact-000000", "quantizer-0",
                            "quantizer-1", "tomb-purge-0"]
    assert _markers(os.path.join(root, "compact-000000")) == {
        "data", "MANIFEST.json"}
    manifest_keys = {"covers", "covers_tombs", "quantizer_gen", "bucket",
                     "algo_version"}
    assert _keys(root, "compact-000000", "MANIFEST.json") == manifest_keys
    assert _keys(root, "quantizer-1", "QUANT.json") == quant_keys

    idx.append(vecs(300), "day-2")
    assert idx.refresh(lloyd_iters=1, bucket=False) == "compact-000001"
    with open(os.path.join(root, "compact-000001", "MANIFEST.json")) as f:
        manifest = json.load(f)
    assert set(manifest) == manifest_keys
    assert manifest["covers"] == ["day-0", "day-1", "day-2"]
    assert manifest["covers_tombs"] == ["purge-0"]
    assert manifest["bucket"] is None

    idx.append(vecs(400), "day-3")
    assert sorted(idx.vacuum()) == [
        "batch-day-0", "batch-day-1", "batch-day-2", "compact-000000",
        "quantizer-0", "quantizer-1", "tomb-purge-0"]
    assert _units(root) == ["TABLE_META.json", "batch-day-3",
                            "compact-000001", "quantizer-2"]
