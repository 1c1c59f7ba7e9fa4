"""Checkpointed per-partition sketch lineage + resume.

The reference preserves sketch state across restarts via luasandbox
serialize hooks (lua_binding/cm_sketch.c:167-202 emits a Lua restore
script; SURVEY §3 EP3).  The distributed equivalent required by
BASELINE.json's north_rule: "resumable from checkpoint with per-partition
lineage + metrics".

Design: stage 1 (``sketch_agg.build_partials``, the one partial builder)
writes its partials — one row per (partition, key) — to a parquet
checkpoint *before* the merge stage:

    (key..., sketch BINARY, rows BIGINT, partition_id INT,
     wall_ms DOUBLE, query_id STRING, algo_version STRING)

Resume after executor/driver loss = read the checkpoint, find partitions
whose partials are missing, re-run stage 1 on ONLY those input partitions
(completed ones are filtered JVM-side on ``spark_partition_id()`` before
the Arrow transfer), then merge everything the checkpoint holds.  Because
sketches are commutative monoids, the resumed result is byte-identical to
an uninterrupted run (tested in tests/test_checkpoint.py with half the
checkpoint rows dropped — FIXTURES §B3).

Metrics: rows and wall_ms per partition ride on the lineage rows;
totals surface via ``lineage_metrics``.

Version fencing: every lineage row carries ``algo_version`` (ALGO_VERSION
below — bumped whenever a sketch algorithm, hash mapping, or wire format
changes, e.g. the round-4 CMS Lemire index reduction).  Resume treats
partials from a DIFFERENT version as missing: they are neither counted as
completed nor merged, so a checkpoint written by an older library can
never silently mix old-mapping register mass into a new-mapping run —
the persistent analogue of CLAUDE.md's mixed-worker wire-format hazard.
The cost of a version mismatch is a full recompute, never a wrong
estimate.
"""

from __future__ import annotations

from typing import Sequence

# bump on ANY change to sketch algorithms / hash mappings / wire formats
# that makes previously-written partials non-mergeable with new ones
ALGO_VERSION = "2"

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class SketchCheckpoint:
    """Write-partials / resume-merge manager around a parquet directory."""

    def __init__(self, spark: SparkSession, path: str, query_id: str):
        self.spark = spark
        self.path = path
        self.query_id = query_id

    def _ckpt_path(self) -> str:
        return f"{self.path}/{self.query_id}"

    def _read_ckpt(self) -> DataFrame:
        """Read the checkpoint dir tolerant of PRE-VERSIONING files.

        ``mergeSchema`` is load-bearing: after appending new (versioned)
        partials next to files written before ``algo_version`` existed,
        a plain read picks ONE random footer's schema — if it picks an old
        file, filtering on the missing column raises AnalysisException
        nondeterministically, contradicting the 'worst case is a full
        recompute' contract.  Merged schema + coalesce-to-"0" makes every
        pre-versioning row a version mismatch (recomputed), never an
        error."""
        df = (self.spark.read.option("mergeSchema", "true")
              .parquet(self._ckpt_path()))
        if "algo_version" not in df.columns:
            df = df.withColumn("algo_version", F.lit("0"))
        else:
            df = df.withColumn(
                "algo_version", F.coalesce(F.col("algo_version"), F.lit("0"))
            )
        return df

    def _current(self) -> DataFrame:
        """Checkpoint rows written under this ALGO_VERSION — the only
        partials resume merges and lineage reports."""
        return self._read_ckpt().filter(F.col("algo_version") == ALGO_VERSION)

    def completed_partitions(self) -> frozenset:
        """Partitions with current-version partials.  Partials stamped by a
        different ALGO_VERSION (or none — pre-versioning checkpoints) are
        treated as missing, so resume recomputes them instead of merging
        incompatible register mass.

        Only a missing checkpoint path maps to "nothing completed"
        (AnalysisException — first run); any OTHER read error (permissions,
        corrupt footer, transient storage fault) propagates — silently
        treating it as an empty checkpoint would turn a transient fault
        into a full recompute that then APPENDS duplicate partials."""
        from pyspark.errors import AnalysisException

        try:
            ckpt = self._current()
        except AnalysisException:
            return frozenset()
        rows = ckpt.select("partition_id").distinct().collect()
        return frozenset(r["partition_id"] for r in rows)

    def run(self, df: DataFrame, keys: Sequence[str], factory, update,
            from_bytes, finalize, out_value_schema: str,
            fail_partitions: frozenset = frozenset()) -> DataFrame:
        """Full job: stage-1 partials -> checkpoint parquet -> merge.

        ``fail_partitions`` simulates executor loss for tests: those
        partitions' partials are withheld from the checkpoint write."""
        from .operators import sketch_agg

        done = self.completed_partitions()
        if done:
            df = df.filter(
                ~F.spark_partition_id().isin([int(p) for p in sorted(done)]))
        partials = sketch_agg.build_partials(df, keys, factory, update)
        if fail_partitions:
            partials = partials.filter(
                ~F.col("partition_id").isin(list(fail_partitions))
            )
        partials.withColumns({
            "query_id": F.lit(self.query_id),
            "algo_version": F.lit(ALGO_VERSION),
        }).write.mode("append").parquet(self._ckpt_path())
        all_partials = self._current().filter(
            F.col("query_id") == self.query_id)
        return sketch_agg.merge_partials(all_partials, keys, from_bytes,
                                         finalize, out_value_schema)

    def lineage_metrics(self) -> DataFrame:
        """Rows, wall_ms and partial count per partition over the
        current-version partials: a stale version's partials are
        recomputed, never counted."""
        return (
            self._current()
            .groupBy("partition_id")
            .agg(
                F.sum("rows").alias("rows"),
                F.max("wall_ms").alias("wall_ms"),
                F.count("*").alias("n_partials"),
            )
        )
