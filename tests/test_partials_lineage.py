"""One stage-1 builder, one merge, and the helpers around them.

- every partial build goes through ``build_partials``: the lineage that
  SketchCheckpoint and SketchTable persist — (partition_id, key, rows) —
  equals a ``spark_partition_id()`` group count even when partitions span
  many Arrow batches, and the on-disk unit layout is unchanged;
- the keyless merge plans as one SinglePartition exchange;
- every background job in the gate plans runs inside a
  ``with ThreadPoolExecutor`` block, whose exit always waits;
- every name the perfbench tracer wraps still resolves;
- ``parquet_footer_rows`` and the IvfIndex count fallback.
"""
import pytest
from pyspark.sql import functions as F

UNIT_SCHEMA = [
    ("k", "string"), ("sketch", "binary"), ("rows", "bigint"),
    ("partition_id", "int"), ("wall_ms", "double"),
    ("query_id", "string"), ("algo_version", "string"),
]


def _hll():
    # closures, not test-module functions: executors can't import tests/
    import numpy as np

    from streaming_algorithms_spark.sketches import HyperLogLog

    def update(sk, pdf):
        sk.add_hashes(pdf["_h"].to_numpy(np.int64).view(np.uint64))

    return dict(
        factory=lambda: HyperLogLog(11),
        update=update,
        from_bytes=HyperLogLog.from_bytes,
        finalize=lambda sk, rows: {"est": int(round(sk.estimate())),
                                   "rows_seen": rows},
        out_value_schema="est bigint, rows_seen bigint",
    )


def _keyed(spark, n=3000, parts=4):
    return (spark.range(n)
            .select((F.col("id") % 5).cast("string").alias("k"),
                    F.xxhash64("id").alias("_h"), "id")
            .repartition(parts, "id").drop("id"))


def _partition_counts(df):
    return {(r["pid"], r["k"]): r["n"] for r in
            df.groupBy(F.spark_partition_id().alias("pid"), "k")
            .agg(F.count("*").alias("n")).collect()}


def _unit_lineage(spark, path):
    unit = spark.read.parquet(path)
    assert [(f.name, f.dataType.simpleString())
            for f in unit.schema.fields] == UNIT_SCHEMA
    return unit, {(r["partition_id"], r["k"]): r["rows"]
                  for r in unit.collect()}


@pytest.fixture
def small_arrow_batches(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "64")
    yield
    spark.conf.set(key, prev)


def test_checkpoint_and_table_lineage_match_partition_counts(
        spark, tmp_path, small_arrow_batches):
    from streaming_algorithms_spark.checkpoint import ALGO_VERSION, SketchCheckpoint
    from streaming_algorithms_spark.sketch_table import SketchTable

    df = _keyed(spark)  # ~750 rows per partition: ~12 Arrow batches each
    expected = _partition_counts(df)
    assert len({pid for pid, _ in expected}) == 4

    # a run that withholds two partitions, then a resume that rebuilds
    # exactly those (the others are filtered out JVM-side)
    kw = _hll()
    ck = SketchCheckpoint(spark, str(tmp_path / "ck"), "q1")
    ck.run(df, ["k"], fail_partitions=frozenset({1, 3}), **kw)
    assert ck.completed_partitions() == frozenset({0, 2})
    resumed = {r["k"]: r["rows_seen"] for r in ck.run(df, ["k"], **kw).collect()}
    unit, got = _unit_lineage(spark, ck._ckpt_path())
    assert got == expected  # each (partition, key) exactly once
    assert resumed == {k: sum(n for (_, kk), n in expected.items() if kk == k)
                       for _, k in expected}
    assert {(r[0], r[1]) for r in unit.select(
        "query_id", "algo_version").distinct().collect()} == {
        ("q1", ALGO_VERSION)}

    t = SketchTable(spark, str(tmp_path / "tbl"), ["k"])
    t.append(df, "day-0", kw["factory"], kw["update"])
    unit, got = _unit_lineage(spark, str(tmp_path / "tbl" / "batch-day-0"))
    assert got == expected
    assert {r[0] for r in unit.select("query_id").distinct().collect()} == {
        "day-0"}


def test_keyless_merge_is_one_single_partition_exchange(spark):
    from streaming_algorithms_spark.operators.sketch_agg import (
        build_partials,
        merge_partials,
    )

    kw = _hll()
    df = _keyed(spark, n=500).drop("k")
    partials = build_partials(df, [], kw["factory"], kw["update"])
    out = merge_partials(partials, [], kw["from_bytes"], kw["finalize"],
                         kw["out_value_schema"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" in plan
    assert out.columns == ["est", "rows_seen"]
    assert [r["rows_seen"] for r in out.collect()] == [500]
    merged = merge_partials(partials, [], kw["from_bytes"])
    assert merged.columns == ["sketch", "rows"]
    assert merge_partials(partials.limit(0), [], kw["from_bytes"]).count() == 0


def test_background_jobs_run_inside_executor_with_blocks():
    """A failing main path must not leak a still-running collect into the
    next timed query: every executor is a with-item (shutdown waits), and
    no bare thread is started.  Every submitted callable is wrapped by
    inheritable_thread_target, so its jobs carry the caller's job
    description and group (a pinned-thread pool thread does not inherit
    local properties)."""
    import ast
    import inspect

    from streaming_algorithms_spark.plans import queries

    tree = ast.parse(inspect.getsource(queries))
    with_items = {id(item.context_expr) for node in ast.walk(tree)
                  if isinstance(node, ast.With) for item in node.items}
    pools = [node for node in ast.walk(tree)
             if isinstance(node, ast.Call)
             and getattr(node.func, "id", None) == "ThreadPoolExecutor"]
    assert all(id(node) in with_items for node in pools)
    assert "threading" not in inspect.getsource(queries)
    submits = [node for node in ast.walk(tree)
               if isinstance(node, ast.Call)
               and getattr(node.func, "attr", None) == "submit"]
    assert submits
    for node in submits:
        assert len(node.args) == 1 and not node.keywords, ast.unparse(node)
        assert ast.unparse(node.args[0]).startswith(
            "inheritable_thread_target("), ast.unparse(node)


def test_traced_names_resolve():
    """perfbench --trace 1 wraps these by name; a rename must fail here,
    not silently drop spans."""
    import importlib

    from perfbench.tracing import TRACED

    for mod_name, names in TRACED.items():
        mod = importlib.import_module(mod_name)
        for name in names:
            assert callable(getattr(mod, name, None)), f"{mod_name}.{name}"


def test_parquet_footer_rows(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from streaming_algorithms_spark.sources.tables import parquet_footer_rows

    d = tmp_path / "unit"
    d.mkdir()
    for i, n in enumerate((3, 5)):
        pq.write_table(pa.table({"x": list(range(n))}),
                       d / f"part-{i}.parquet")
    (d / "_SUCCESS").write_text("")
    (d / ".part-0.parquet.crc").write_text("")
    assert parquet_footer_rows([str(d)]) == 8
    assert parquet_footer_rows([f"file://{d}/part-0.parquet"]) == 3
    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "_SUCCESS").write_text("")
    assert parquet_footer_rows([str(empty)]) is None
    assert parquet_footer_rows([]) is None
    assert parquet_footer_rows(["s3://bucket/unit"]) is None
    (d / "part-9.parquet").write_text("not parquet")
    assert parquet_footer_rows([str(d)]) is None


def test_ivf_delete_counts_when_no_footer(spark, tmp_path, monkeypatch):
    """delete() records its tombstone row count from the footers, and
    from a Spark count when no readable local footer exists."""
    import streaming_algorithms_spark.ivf_index as ivf_mod

    rows = [(i, [float(i % 3 == j) + 0.01 * i for j in range(4)])
            for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    idx = ivf_mod.IvfIndex(spark, str(tmp_path / "ivf"), "vec_id", "embedding")
    idx.append(df, "day-0", n_lists=3)
    dead = spark.createDataFrame([(i,) for i in (1, 4, 4, 9)], "vec_id long")
    assert idx.delete(dead, "purge-0")["rows"] == 3
    monkeypatch.setattr(ivf_mod, "parquet_footer_rows", lambda paths: None)
    assert idx.delete(dead.filter(F.col("vec_id") != 9), "purge-1")["rows"] == 2
