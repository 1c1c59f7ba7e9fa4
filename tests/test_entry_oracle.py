"""Mirror of the driver's correctness gate: run every queries() entry at
sf0.01 and compare against oracle_sql() via DuckDB — row count, schema
(column names), and order-insensitive values."""

import math
import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif "float" in str(df[c].dtype):
            df[c] = df[c].round(6)
        elif "datetime" in str(df[c].dtype):
            df[c] = df[c].astype("datetime64[us]").astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def test_entry_smoke(spark):
    out = entrymod.entry(spark)
    rows = out.collect()
    assert len(rows) > 0
    assert all(r["within_bound"] for r in rows)


@pytest.mark.parametrize("name", sorted(entrymod.oracle_sql()))
def test_query_matches_oracle(spark, duck, name):
    q = entrymod.queries()[name]
    spark_pdf = q(spark, SF_DIR).toPandas()
    oracle_pdf = duck.execute(entrymod.oracle_sql()[name]).fetchdf()
    a, b = _normalize(spark_pdf), _normalize(oracle_pdf)
    assert list(a.columns) == list(b.columns), (list(a.columns), list(b.columns))
    assert len(a) == len(b), (name, len(a), len(b))
    for c in a.columns:
        # dtype KIND must agree: a driver-style value hash sees 15.0 vs 15
        # as different even when a tolerant compare doesn't (DuckDB HUGEINT
        # -> float64 was the round-3 packing_documents red).  int-width
        # differences (int32 vs int64) are fine.
        ka, kb = a[c].dtype.kind, b[c].dtype.kind
        ints = {"i", "u"}
        assert ka == kb or ({ka, kb} <= ints), (name, c, a[c].dtype, b[c].dtype)
    for c in a.columns:
        av, bv = a[c].tolist(), b[c].tolist()
        if "float" in str(a[c].dtype) or "float" in str(b[c].dtype):
            assert all(
                (isinstance(x, float) and isinstance(y, float)
                 and (math.isnan(x) and math.isnan(y) or x == pytest.approx(y, abs=2e-6)))
                or x == y
                for x, y in zip(av, bv)
            ), (name, c)
        else:
            assert av == bv, (name, c, av[:5], bv[:5])


def test_gates_leave_no_cached_frame(spark):
    """A gate that caches an intermediate must release it before it
    returns: a frame left cached pins executor storage for every later
    query of the session.  Compared as the set of persisted RDDs (a
    materialized cached frame is one) before and after, since other
    session-scoped fixtures may hold caches of their own; with none, the
    session's CacheManager must be empty afterwards."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    for name in ("countsketch_lineitem", "token_setops_langs"):
        entrymod.queries()[name](spark, SF_DIR).collect()
        left = set(jsc.getPersistentRDDs().keySet()) - before
        assert not left, (name, sorted(left))
    if not before:
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("name", sorted(set(entrymod.queries()) - set(entrymod.oracle_sql())))
def test_rows_only_queries_run(spark, name):
    q = entrymod.queries()[name]
    df = q(spark, SF_DIR)
    assert df.count() >= 0  # runs, stable schema
    assert len(df.schema.fields) >= 2


def test_registry_and_oracles_fully_aligned():
    """Every query has an oracle and vice versa (the driver's strong gate
    covers the whole registry — nothing silently rides the weaker
    rows-only check), and names are unique non-empty SQL."""
    q, o = entrymod.queries(), entrymod.oracle_sql()
    assert set(q) == set(o), (set(q) ^ set(o))
    assert all(isinstance(s, str) and "SELECT" in s.upper() for s in o.values())
    assert all(callable(f) for f in q.values())


def test_packing_degenerate_docs_cross_engine_parity(spark):
    """Pin the tokenization contract on edge-case documents for the packing
    oracle: empty text and whitespace-only text tokenize to [''] (count 1)
    on BOTH engines (Spark split(trim(x)) and DuckDB string_split_regex
    (trim(x)) agree); NULL text yields NULL n_tokens/coordinates on both.
    Every integer column must come back int64 from both engines (the
    round-3 driver red was DuckDB HUGEINT -> float64)."""
    from streaming_algorithms_spark.operators.text import sequence_packing_plan
    from streaming_algorithms_spark.plans.queries import ORACLES

    rows = [
        (0, "alpha beta gamma"),
        (1, ""),                 # empty -> [''] -> 1 token, both engines
        (2, "   \t  "),          # whitespace-only -> trim -> '' -> 1 token
        (3, None),               # NULL text -> NULL metrics
        (4, "  padded   tokens  "),
        (5, "x " * 200),
    ]
    pdf_in = pd.DataFrame(rows, columns=["doc_id", "text"])
    df = spark.createDataFrame(pdf_in.astype({"doc_id": "int64"}))
    got = (sequence_packing_plan(df, "doc_id", "text", seq_len=128, n_parts=4)
           .orderBy("doc_id").toPandas())

    con = duckdb.connect()
    con.register("documents", pdf_in)
    want = con.execute(ORACLES["packing_documents"]).fetchdf()

    a, b = _normalize(got), _normalize(want)
    assert list(a.columns) == list(b.columns)
    # dtypes must MATCH engine-to-engine (with a NULL row, pandas makes the
    # int columns float64 on BOTH sides — consistent, so the driver's value
    # hash still agrees); row-wise equality incl. NULL placement
    for c in a.columns:
        assert a[c].dtype.kind == b[c].dtype.kind, (c, a[c].dtype, b[c].dtype)
        av = a[c].astype("object").where(a[c].notna(), None).tolist()
        bv = b[c].astype("object").where(b[c].notna(), None).tolist()
        assert av == bv, (c, av, bv)

    # without NULL text, every integer column must come back int64 from
    # BOTH engines (the round-3 driver red was DuckDB HUGEINT -> float64)
    pdf_nn = pdf_in[pdf_in["text"].notna()].reset_index(drop=True)
    df_nn = spark.createDataFrame(pdf_nn.astype({"doc_id": "int64"}))
    got_nn = (sequence_packing_plan(df_nn, "doc_id", "text", seq_len=128,
                                    n_parts=4).orderBy("doc_id").toPandas())
    con.unregister("documents")
    con.register("documents", pdf_nn)
    want_nn = con.execute(ORACLES["packing_documents"]).fetchdf()
    for c in ("n_tokens", "start_offset", "start_seq", "start_pos", "end_seq"):
        assert str(want_nn[c].dtype) == "int64", (c, want_nn[c].dtype)
        assert str(got_nn[c].dtype) == "int64", (c, got_nn[c].dtype)
    a, b = _normalize(got_nn), _normalize(want_nn)
    for c in a.columns:
        assert a[c].tolist() == b[c].tolist(), c


@pytest.mark.parametrize("name", ["checkpoint_resume_events",
                                  "corpus_card_documents",
                                  "embedding_near_dups",
                                  "ivf_topk_embeddings",
                                  "lsh_topk_embeddings",
                                  "streaming_sketches_events"])
def test_scale_sensitive_gates_green_at_sf0001(spark, name):
    """The gates whose booleans depend on corpus shape (partition
    occupancy, planted recall) must hold at the SMALLEST test scale too —
    the round-4 checkpoint gate was green at sf0.01 but failed at
    sf0.001 (15 distinct users left hash partitions empty)."""
    rows = entrymod.queries()[name](spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        for c, v in r.asDict().items():
            if isinstance(v, bool):
                assert v, (name, c, r)
