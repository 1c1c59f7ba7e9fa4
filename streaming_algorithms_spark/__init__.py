"""streaming_algorithms_spark — a PySpark-native distributed sketch library.

A from-scratch re-expression of the capabilities of trink/streaming_algorithms
(reference: /root/reference, C/Lua, MPL-2.0) on Apache Spark:

- ``sketches``  — pure numpy mergeable sketch kernels (Count-Min, HLL, KLL,
  Bloom, Welford running stats, P² quantile/histogram, matrix/pcc,
  time-series ring + SCRIMP matrix profile).
- ``operators`` — distributed Spark operators built on the kernels
  (two-stage partial/merge sketch aggregation, dedup, similarity search,
  text analysis, multimodal plumbing).
- ``sources``   — table loaders and the deterministic Common-Crawl-style
  ``webpages`` synthesizer.
- ``plans``     — headline queries (Q1–Q5 of FIXTURES.md §B2 and the
  training-data-pipeline extensions).
- ``streaming`` — Structured Streaming stateful variants.
- ``pipeline``  — the composed end-to-end curation loop (WARC archive →
  extract → signals → dedup → filter → split → packing plan) with
  single-pass funnel accounting.

Design: every sketch is a commutative monoid (zero / update_batch / merge /
to_bytes / from_bytes).  Distributed aggregation never shuffles raw rows:
stage 1 builds one partial sketch per (partition, key) inside
``mapInPandas`` (Arrow-vectorized, no per-row Python), stage 2 shuffles only
the tiny binary partials and merges per key.  Shuffle volume is
O(partitions × keys × sketch_size), independent of row count — the property
that makes the design hold at 10^12 rows.
"""

__version__ = "0.1.0"

# every library UDF imports this package in its Python worker: tidy the
# worker's import caches there once per process (worker_imports.py)
from .worker_imports import tidy_worker_imports as _tidy_worker_imports

_tidy_worker_imports()
