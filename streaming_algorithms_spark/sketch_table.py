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

Commit protocol (mini table-format semantics — same honesty bar as
sources/warc.py's task-commit story).  Metadata commits go through the
``commit.publish_file`` seam: on THIS implementation that is driver-local
``os.replace`` plus ``os.listdir`` discovery, so the table path must be a
filesystem visible to the driver (local disk / NFS); an object-store
deployment swaps the seam's TWO functions — ``commit.publish_file`` for
the store's atomic primitive and ``commit.list_units`` (every reader's
unit enumeration routes through it) for its list API — the protocol design
(what is written before the swap, what a reader treats as committed) is
already store-shaped and fault-injection-tested through the seam:

- An append writes ``<path>/batch-<id>/`` via Spark parquet; the batch
  is live only once its ``_SUCCESS`` lands.  A failed/partial append is
  invisible.  Duplicate batch ids are refused (exactly-once per id —
  the caller's ingest ledger names batches deterministically).
- A compaction writes ``<path>/compact-<n>/data/`` then atomically
  renames ``MANIFEST.json`` into place; the manifest IS the commit
  point and lists every batch id the generation covers.  Readers use
  the highest manifest-committed generation plus batches it does not
  cover; a crashed compaction leaves no manifest and is ignored.
- ``vacuum()`` deletes units subsumed by the latest generation — safe
  any time after the manifest commit; until then history remains
  readable (time-travel to pre-compact state by reading batch dirs).

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

import json
import os
import re
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import commit as _commit
from .checkpoint import ALGO_VERSION
from .operators import sketch_agg

_BATCH_ID_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]*$")


def reclaim_uncommitted_batch(target: str) -> None:
    """A batch dir WITHOUT ``_BATCH_META.json`` is an uncommitted orphan
    (the meta commit, written last through the seam, IS the batch commit
    point — a crash anywhere earlier leaves the dir meta-less and
    invisible to readers): remove it so the same logical writer's retry
    self-heals instead of colliding on "already exists" forever —
    mirroring ``compact()``'s manifest-less-orphan reclaim.  Two LIVE
    writers sharing a batch id are outside the ledger contract (ids are
    exactly-once; the parquet errorifexists race guard still covers the
    window after reclaim)."""
    if (os.path.isdir(target)
            and not os.path.exists(os.path.join(target,
                                                "_BATCH_META.json"))):
        import shutil
        shutil.rmtree(target)


class SketchTable:
    """One sketch family over one key set, maintained across ingest batches.

    The sketch callables (``factory/update/from_bytes/finalize``) follow
    the exact ``sketch_aggregate`` signatures — any family in the library
    (HLL, CMS, KLL, t-digest, Bloom, running stats, ...) drops in.  The
    caller supplies them per call (callables don't serialize); ``keys``
    are pinned in ``TABLE_META.json`` at first append and validated on
    every subsequent one, so two jobs can't interleave incompatible
    layouts into one table.
    """

    def __init__(self, spark: SparkSession, path: str, keys: Sequence[str]):
        self.spark = spark
        self.path = path
        self.keys = list(keys)

    # -- layout helpers ----------------------------------------------------

    def _meta_path(self) -> str:
        return os.path.join(self.path, "TABLE_META.json")

    def _batch_dir(self, batch_id: str) -> str:
        return os.path.join(self.path, f"batch-{batch_id}")

    def _check_meta(self, write_if_missing: bool) -> None:
        mp = self._meta_path()
        if os.path.exists(mp):
            with open(mp) as f:
                meta = json.load(f)
            if meta["keys"] != self.keys:
                raise ValueError(
                    f"sketch table at {self.path!r} is keyed by "
                    f"{meta['keys']}, not {self.keys} — one table, one "
                    "key layout"
                )
        elif write_if_missing:
            os.makedirs(self.path, exist_ok=True)
            _commit.commit_json({"keys": self.keys,
                                 "created_algo_version": ALGO_VERSION}, mp)
        else:
            raise ValueError(f"no sketch table at {self.path!r}")

    def committed_batches(self) -> list[str]:
        """Batch ids whose append fully committed: Spark's ``_SUCCESS``
        AND the append's own ``_BATCH_META.json`` (written after, via
        atomic rename — the batch-level commit point carrying the
        version stamp).  A dir missing either is a crashed append."""
        out = []
        for name in _commit.list_units(self.path):
            d = os.path.join(self.path, name)
            if (name.startswith("batch-")
                    and os.path.exists(os.path.join(d, "_SUCCESS"))
                    and os.path.exists(os.path.join(d, "_BATCH_META.json"))):
                out.append(name[len("batch-"):])
        return out

    def _generations(self) -> list[tuple[int, dict]]:
        """(n, manifest) for every manifest-committed compact generation."""
        gens = []
        for name in _commit.list_units(self.path):
            m = re.fullmatch(r"compact-(\d+)", name)
            if not m:
                continue
            mf = os.path.join(self.path, name, "MANIFEST.json")
            if os.path.exists(mf):
                with open(mf) as f:
                    gens.append((int(m.group(1)), json.load(f)))
        return sorted(gens)

    def live_units(self, gens: list[tuple[int, dict]] | None = None) -> list[str]:
        """Relative dirs a reader merges: latest committed generation +
        every committed batch it does not cover.  Pass ``gens`` (a
        ``_generations()`` snapshot) to pin units/covers/n to ONE listing —
        compact() does, so a generation committed by a concurrent writer
        between two listings can't yield an inconsistent view."""
        if gens is None:
            gens = self._generations()
        batches = self.committed_batches()
        if not gens:
            return [f"batch-{b}" for b in batches]
        n, manifest = gens[-1]
        covered = set(manifest["covers"])
        return [f"compact-{n:06d}/data"] + [
            f"batch-{b}" for b in batches if b not in covered
        ]

    # -- write path --------------------------------------------------------

    def append(self, df: DataFrame, batch_id: str,
               factory: Callable[[], object],
               update: Callable[[object, object], None]) -> None:
        """Build stage-1 partials over ``df`` (ONLY the new batch's raw
        data — the corpus history is never re-read) and commit them as
        ``batch-<batch_id>``.  One row per (input partition, key); rows
        carry lineage (partition_id, wall_ms) so ``lineage_metrics``
        works per batch, and ``algo_version`` for the fence."""
        if not _BATCH_ID_RE.fullmatch(batch_id):
            raise ValueError(
                f"batch_id {batch_id!r} must match {_BATCH_ID_RE.pattern}"
            )
        self._check_meta(write_if_missing=True)
        target = self._batch_dir(batch_id)
        reclaim_uncommitted_batch(target)
        if os.path.exists(target):
            raise ValueError(
                f"batch {batch_id!r} already exists in {self.path!r} — "
                "batch ids are the exactly-once ledger; pick a new id or "
                "remove the old batch first"
            )
        partials = sketch_agg.build_partials(
            df, self.keys, factory, update
        ).withColumns({"query_id": F.lit(batch_id),
                       "algo_version": F.lit(ALGO_VERSION)})
        # errorifexists (default mode): two concurrent appends with the
        # same id race at the FS layer too, not just the check above.
        partials.write.parquet(target)
        _commit.commit_json(  # the batch-level commit point
            {"batch_id": batch_id, "algo_version": ALGO_VERSION},
            os.path.join(target, "_BATCH_META.json"))

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
        for b in batch_ids:
            if not _BATCH_ID_RE.fullmatch(b):
                raise ValueError(
                    f"batch_id {b!r} must match {_BATCH_ID_RE.pattern}")
            reclaim_uncommitted_batch(self._batch_dir(b))
            if os.path.exists(self._batch_dir(b)):
                raise ValueError(
                    f"batch {b!r} already exists in {self.path!r} — "
                    "batch ids are the exactly-once ledger; pick a new id "
                    "or remove the old batch first")
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
            for b in batch_ids:
                target = self._batch_dir(b)
                slice_ = partials.filter(
                    F.col(batch_col) == b).drop(batch_col)
                slice_.write.parquet(target)  # errorifexists: FS-level race
                _commit.commit_json(
                    {"batch_id": b, "algo_version": ALGO_VERSION},
                    os.path.join(target, "_BATCH_META.json"))
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
        n = gens[-1][0] + 1 if gens else 0
        gen_dir = os.path.join(self.path, f"compact-{n:06d}")
        # reclaim a crashed predecessor: a compact dir WITHOUT a manifest
        # is an uncommitted orphan (invisible to readers) left by a
        # compaction that died between the data write and the manifest
        # rename — without this, the retry collides on the same
        # generation number forever.  A dir WITH a manifest can't be at
        # this n (numbering is past-the-latest-committed).
        if (os.path.isdir(gen_dir)
                and not os.path.exists(os.path.join(gen_dir,
                                                    "MANIFEST.json"))):
            import shutil
            shutil.rmtree(gen_dir)
        merged.write.parquet(os.path.join(gen_dir, "data"))
        # covers derives from the UNITS ACTUALLY MERGED above, never from a
        # fresh directory listing: a batch committed by a concurrent append
        # after the merge read must stay uncovered (its rows aren't in this
        # generation), or its data would silently vanish from reads.
        merged_batches = {u[len("batch-"):] for u in units
                          if u.startswith("batch-")}
        prior = set(gens[-1][1]["covers"]) if gens else set()
        covers = sorted(prior | merged_batches)
        _commit.commit_json(  # the generation-level commit point
            {"covers": covers, "algo_version": ALGO_VERSION},
            os.path.join(gen_dir, "MANIFEST.json"))
        return f"compact-{n:06d}"

    def retract(self, batch_id: str) -> None:
        """Remove a committed-but-not-yet-compacted batch — the "that
        crawl segment was bad" verb.  A batch already covered by a
        compact generation is baked into merged sketch rows, and sketch
        merges are NOT invertible (a monoid, not a group) — retracting
        it then is impossible; rebuild from surviving sources instead.
        The commit protocol runs in reverse: unlinking
        ``_BATCH_META.json`` (one atomic unlink) uncommits the batch —
        readers treat the dir as an orphan from that instant — and the
        data files are cleanup; a crash mid-cleanup leaves an orphan
        that ``reclaim_uncommitted_batch`` self-heals, so the batch id
        is immediately free for a corrected re-append.  Same
        single-maintainer window as ``vacuum``: don't race an in-flight
        read, and don't race an in-flight ``compact()`` — the covered
        check reads the latest COMMITTED manifest, so a retraction
        landing between a compaction's merge read and its manifest
        commit would be silently undone by that manifest."""
        import shutil

        gens = self._generations()
        covered = set(gens[-1][1]["covers"]) if gens else set()
        if batch_id in covered:
            raise ValueError(
                f"batch {batch_id!r} is covered by a compact generation "
                "— sketch merges are not invertible; rebuild instead")
        target = self._batch_dir(batch_id)
        meta = os.path.join(target, "_BATCH_META.json")
        if not os.path.exists(meta):
            raise ValueError(
                f"no committed batch {batch_id!r} in {self.path!r}")
        os.remove(meta)       # the reverse commit point
        shutil.rmtree(target)  # cleanup of an already-orphaned dir

    def vacuum(self) -> list[str]:
        """Delete units subsumed by the latest generation (old compacts and
        covered batch dirs).  Returns what it removed."""
        import shutil

        gens = self._generations()
        if not gens:
            return []
        latest_n, manifest = gens[-1]
        covered = set(manifest["covers"])
        removed = []
        for b in self.committed_batches():
            if b in covered:
                shutil.rmtree(self._batch_dir(b))
                removed.append(f"batch-{b}")
        for n, _ in gens[:-1]:
            shutil.rmtree(os.path.join(self.path, f"compact-{n:06d}"))
            removed.append(f"compact-{n:06d}")
        return removed

    # -- read path ---------------------------------------------------------

    def _read_units(self, units: Sequence[str]) -> DataFrame:
        paths = [os.path.join(self.path, u) for u in units]
        return self.spark.read.parquet(*paths)

    def _unit_version(self, unit: str) -> str:
        if unit.startswith("compact-"):
            meta = os.path.join(self.path, unit.split("/")[0],
                                "MANIFEST.json")
        else:
            meta = os.path.join(self.path, unit, "_BATCH_META.json")
        with open(meta) as f:
            return str(json.load(f)["algo_version"])

    def _fence_versions(self, units: Sequence[str]) -> None:
        """Driver-side metadata fence — no Spark job; see module docstring."""
        stale = [(u, v) for u in units
                 if (v := self._unit_version(u)) != ALGO_VERSION]
        if stale:
            detail = ", ".join(f"{u}(v{v})" for u, v in stale)
            raise ValueError(
                f"sketch table {self.path!r} holds partials from a "
                f"different ALGO_VERSION (current {ALGO_VERSION}): {detail}. "
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
