"""Table loaders for the driver-provided test tables (TESTDATA.md).

``format="parquet"`` (the sandbox default) reads ``{sf_dir}/{name}.parquet``;
``format="iceberg"`` reads the catalog table ``{sf_dir}.{name}`` (north-rule
production path: an Iceberg catalog namespace stands in for the sf_dir).
The query code is identical either way — Catalyst pushes filters/column
pruning into both scans, and Iceberg additionally prunes on partition
transforms and file-level column stats.  The sandbox has no Iceberg jars,
so the iceberg branch is exercised by a config-level test (catalog conf
present -> correct table identifier requested) rather than a real read.
"""

from __future__ import annotations

import os
from typing import Sequence
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR,
               format: str = "parquet") -> DataFrame:
    if name not in TABLES:
        raise ValueError(f"unknown table {name}")
    if format == "parquet":
        return spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if format == "iceberg":
        # sf_dir doubles as the catalog namespace (e.g. "warehouse.cc") —
        # requires spark.sql.catalog.<cat> conf + iceberg-spark-runtime on
        # the classpath (spark-submit --packages at deploy time)
        return spark.read.format("iceberg").load(f"{sf_dir}.{name}")
    raise ValueError(f"unknown format {format!r} (parquet|iceberg)")


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, names=TABLES,
                format: str = "parquet") -> dict:
    return {n: load_table(spark, n, sf_dir, format) for n in names}


def parquet_footer_rows(paths: Sequence[str]) -> int | None:
    """Total row count of LOCAL parquet data from the file footers — a
    driver-side metadata read, no Spark job (guide §1: don't pay a scan
    for a number the format already stores).  Each path is a parquet file
    or a directory of part files.  None when a path is not on a local
    filesystem or no readable parquet footer exists; the caller then falls
    back to a Spark count."""
    import pyarrow.parquet as pq

    files = []
    try:
        for p in paths:
            u = urlparse(p)
            if u.scheme not in ("", "file"):
                return None
            if os.path.isdir(u.path):
                files += [os.path.join(u.path, n) for n in os.listdir(u.path)
                          if n.endswith(".parquet")
                          and not n.startswith((".", "_"))]
            else:
                files.append(u.path)
        if not files:
            return None
        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    except Exception:
        return None
