"""Incrementally-maintained sketch tables: append -> compact -> query.

The north-rule workload is sketch answers over an ever-GROWING
Common-Crawl-style corpus (10^12 documents, new crawl segments landing
continuously).  A one-shot ``sketch_aggregate`` job re-scans the whole
corpus per refresh — 100 TB of I/O to fold in a 100 GB daily increment.
The production operating mode is INCREMENTAL MAINTENANCE, which the
mergeability contract (SURVEY §1.3: every sketch is a commutative
monoid with an associative byte-stable ``merge``) makes exact:

    table.append(new_batch_df, batch_id="crawl-2026-08-17")
        stage-1 partials over ONLY the new batch (``build_partials``,
        the same builder and lineage columns as checkpoint.py —
        per-partition (key..., sketch, rows) rows with lineage),
        written to an append-only per-batch directory.
    table.estimates()
        merge-read the live sketch rows across all batches -> finalized
        estimates.  Reads KILOBYTES per batch (serialized sketches),
        never the raw corpus: refresh cost is O(batches), not O(history).
    table.compact()
        merge all live rows down to one row per key into a new compact
        GENERATION, so read amplification stays bounded as batches
        accumulate.  Associativity makes compacted estimates
        byte-identical to merging the raw batch rows.

Commit protocol: ``commit.UnitLedger``, which this class subclasses (and
``IvfIndex`` too) — one ``batch-<id>/`` unit per append, committed by its
``_BATCH_META.json``; one ``compact-<n>/`` generation per compaction,
committed by its ``MANIFEST.json``; ``retract``/``vacuum`` as the ledger
defines them.  All of it goes through the ``commit.publish_file`` /
``commit.list_units`` seam, so the table path must be a filesystem
visible to the driver unless an object-store deployment swaps the seam.

Version fencing: every unit's commit metadata (``_BATCH_META.json`` /
``MANIFEST.json``) records the ``algo_version`` (checkpoint.py's
ALGO_VERSION) that wrote it, and every read fences against it
DRIVER-SIDE — a metadata file read, zero Spark jobs.  Persisted
sketches CANNOT be recomputed from a sketch table (the raw data is
gone), so a version mismatch in live units is an ERROR naming them —
never a silent wrong-mapping merge, never a quiet recompute that
doesn't exist.  Re-ingest or keep reading with the old library
version.  Rows additionally carry ``algo_version`` as defense in depth
against hand-copied foreign files.
"""

from __future__ import annotations

import os
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .checkpoint import ALGO_VERSION
from .commit import UnitLedger
from .operators import sketch_agg


class SketchTable(UnitLedger):
    """One sketch family over one key set, maintained across ingest batches.

    The sketch callables (``factory/update/from_bytes/finalize``) follow
    the exact ``sketch_aggregate`` signatures — any family in the library
    (HLL, CMS, KLL, t-digest, Bloom, running stats, ...) drops in.  The
    caller supplies them per call (callables don't serialize); ``keys``
    are pinned in ``TABLE_META.json`` at first append and validated on
    every subsequent one, so two jobs can't interleave incompatible
    layouts into one table.
    """

    KIND = "sketch table"
    RETRACT_COVERED = "sketch merges are not invertible; rebuild instead"

    def __init__(self, spark: SparkSession, path: str, keys: Sequence[str]):
        self.keys = list(keys)
        super().__init__(spark, path, {"keys": self.keys})

    # -- write path --------------------------------------------------------

    def append(self, df: DataFrame, batch_id: str,
               factory: Callable[[], object],
               update: Callable[[object, object], None]) -> None:
        """Build stage-1 partials over ``df`` (ONLY the new batch's raw
        data — the corpus history is never re-read) and commit them as
        ``batch-<batch_id>``.  One row per (input partition, key); rows
        carry lineage (partition_id, wall_ms) so ``lineage_metrics``
        works per batch, and ``algo_version`` for the fence."""
        target = self._claim("batch-", batch_id)
        self._check_meta(write_if_missing=True)
        partials = sketch_agg.build_partials(
            df, self.keys, factory, update
        ).withColumns({"query_id": F.lit(batch_id),
                       "algo_version": F.lit(ALGO_VERSION)})
        # errorifexists (default mode): two concurrent appends with the
        # same id race at the FS layer too, not just the claim above.
        partials.write.parquet(target)
        self._commit_unit(target, {"batch_id": batch_id})

    def append_many(self, df: DataFrame, batch_col: str,
                    batch_ids: Sequence[str],
                    factory: Callable[[], object],
                    update: Callable[[object, object], None]) -> None:
        """Commit SEVERAL ingest batches from ONE Spark pass: ``df`` carries
        a ``batch_col`` naming each row's batch, partials build grouped by
        (batch, keys) in a single corpus scan, and each batch's (tiny,
        serialized-sketch) slice is then written to its own ``batch-<id>``
        dir under the unchanged per-batch commit protocol.  N separate
        ``append`` calls over disjoint filters of the same source pay N
        corpus scans + N Python partial stages; this pays one.

        ``batch_ids`` is the caller's exactly-once ledger (batch values in
        ``df`` outside it are an ERROR, never silently dropped); ids are
        validated and collision-checked up front so a half-failed call
        leaves only fully-committed batch dirs behind."""
        if batch_col not in df.columns:
            raise ValueError(f"no column {batch_col!r} in frame")
        batch_ids = list(batch_ids)
        if len(set(batch_ids)) != len(batch_ids):
            raise ValueError("duplicate ids in batch_ids")
        targets = [self._claim("batch-", b) for b in batch_ids]
        self._check_meta(write_if_missing=True)
        partials = sketch_agg.build_partials(
            df, [batch_col] + self.keys, factory, update
        ).withColumns({"query_id": F.col(batch_col).cast("string"),
                       "algo_version": F.lit(ALGO_VERSION)})
        # partials are serialized-sketch rows (kilobytes per batch): cache
        # them so the one corpus pass above feeds every per-batch write and
        # the ledger check below without re-scanning raw data
        partials = partials.cache()
        try:
            seen = {r[0] for r in
                    partials.select(batch_col).distinct().collect()}
            unknown = sorted(seen - set(batch_ids))
            if unknown:
                raise ValueError(
                    f"{batch_col!r} values {unknown} are not in batch_ids "
                    "— every row must belong to a declared batch")
            for b, target in zip(batch_ids, targets):
                slice_ = partials.filter(
                    F.col(batch_col) == b).drop(batch_col)
                slice_.write.parquet(target)  # errorifexists: FS-level race
                self._commit_unit(target, {"batch_id": b})
        finally:
            partials.unpersist()

    def compact(self, from_bytes: Callable[[bytes], object]) -> str:
        """Merge every live unit down to ONE row per key in a new compact
        generation; returns its relative dir name.  Estimates are
        byte-identical before and after (merge associativity); read
        amplification resets to one unit.  Refuses to span mixed
        ``algo_version`` rows (see module docstring)."""
        self._check_meta(write_if_missing=False)
        gens = self._generations()  # one snapshot for units, covers, and n
        units = self.live_units(gens)
        if not units:
            raise ValueError(f"nothing to compact in {self.path!r}")
        self._fence_versions(units)
        merged = sketch_agg.merge_partials(
            self._read_units(units), self.keys, from_bytes
        ).withColumns({
            "partition_id": F.lit(-1),
            "wall_ms": F.lit(0.0),
            "query_id": F.lit("compact"),
            "algo_version": F.lit(ALGO_VERSION),
        })
        _, gen_dir = self._open_generation(gens)
        merged.write.parquet(os.path.join(gen_dir, "data"))
        return self._commit_generation(gen_dir, gens, units)

    # -- read path ---------------------------------------------------------

    def _fence_versions(self, units: Sequence[str]) -> None:
        """Driver-side metadata fence — no Spark job; see module docstring."""
        versions = {u: str(self._unit_meta(u)["algo_version"])
                    for u in units}
        stale = [f"{u}(v{v})" for u, v in versions.items()
                 if v != ALGO_VERSION]
        if stale:
            raise ValueError(
                f"sketch table {self.path!r} holds partials from a "
                f"different ALGO_VERSION (current {ALGO_VERSION}): "
                f"{', '.join(stale)}. "
                "Persisted sketches cannot be recomputed from the table — "
                "re-ingest those batches with the current library, or read "
                "the table with the version that wrote them."
            )

    def sketch_rows(self) -> DataFrame:
        """Live (key..., sketch, rows) rows across all units — the
        un-finalized merged view other operators can consume (e.g. a
        rollup re-merge or a cross-table set-algebra probe)."""
        self._check_meta(write_if_missing=False)
        units = self.live_units()
        if not units:
            raise ValueError(f"sketch table {self.path!r} has no live units")
        self._fence_versions(units)
        return self._read_units(units).select(*self.keys, "sketch", "rows")

    def estimates(self, from_bytes: Callable[[bytes], object],
                  finalize: Callable[[object, int], dict],
                  out_value_schema: str) -> DataFrame:
        """Finalized per-key estimates over the live units.  Exactly equal
        to a one-shot ``sketch_aggregate`` over the union of all appended
        batches' raw data — the merge tree differs, the monoid doesn't."""
        return sketch_agg.merge_partials(
            self.sketch_rows(), self.keys, from_bytes, finalize,
            out_value_schema,
        )

    def lineage_metrics(self) -> DataFrame:
        """Per (batch, partition) lineage over ALL committed batch dirs.
        Batch dirs ONLY — compact generations collapse partition lineage
        (their rows carry partition_id=-1) and are excluded, so this view
        is unavailable once ``vacuum()`` has deleted the covered batch
        dirs (it raises "has no batches"; the table itself stays
        readable via ``estimates``/``sketch_rows``)."""
        units = [f"batch-{b}" for b in self.committed_batches()]
        if not units:
            raise ValueError(f"sketch table {self.path!r} has no batches")
        return (
            self._read_units(units)
            .groupBy(F.col("query_id").alias("batch_id"), "partition_id")
            .agg(F.sum("rows").alias("rows"),
                 F.max("wall_ms").alias("wall_ms"),
                 F.count("*").alias("n_partials"))
        )
