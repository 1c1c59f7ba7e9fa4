"""Incrementally-maintained IVF ANN index: append/delete -> (drift) refresh
-> query (``topk`` self-join over the contents, ``search`` for external
query sets).

The similarity path's continuous operating mode, mirroring
``sketch_table.SketchTable``: at 10^12 documents a full k-means plus a full
corpus re-assignment per refresh is a rescan-shaped cost, so the index
persists the coarse quantizer (kilobytes of centroids) and per-batch posting
lists.  Folding in a new crawl segment then costs ONE Arrow assignment pass
over ONLY the new batch (operators/similarity.assign_with_centroids); the
corpus history is never re-read.  Re-running Lloyd is reserved for measured
distribution DRIFT, and the one corpus-sized rewrite (re-assignment) happens
only inside ``refresh()``'s compaction.

Layout at ``<path>`` (commit protocol through the ``commit.publish_file``
seam, same crash-invisibility contract as SketchTable — driver-visible
filesystem paths; an object store swaps the seam's one function):

- ``TABLE_META.json`` — id/vec columns, pinned at creation.
- ``quantizer-<n>/QUANT.json`` — centroids + the creation-time baseline
  assignment cosine; the file IS the quantizer commit point.
- ``batch-<id>/`` — parquet postings ``(id, vec, list_id, assign_cos)``
  assigned under the then-latest quantizer, plus ``_BATCH_META.json``
  (quantizer generation, batch mean assign_cos, drift flag) written last
  through the seam — the batch commit point.  Duplicate BATCH ids refused
  (the exactly-once ledger); row-id uniqueness across batches is the
  CALLER's contract — appending the same vector id in two batches yields
  two corpus rows, exactly as two parquet appends would.
- ``compact-<n>/data/`` + ``MANIFEST.json`` — all covered postings
  re-assigned under one quantizer generation; the manifest is the commit
  point and lists the batch ids (and absorbed tombstone ids) it covers.
- ``tomb-<id>/`` — parquet of DELETED row ids plus ``_BATCH_META.json``
  (the tombstone commit point, same ledger rules as batches).  A live
  tombstone masks its ids from every read (``postings``/``topk``/
  ``search``) via a broadcast anti-join — deletion-sized sets, and a
  broadcast join preserves the corpus side's clustering so the bucketed
  no-Exchange plan survives.  The next ``refresh()`` applies tombstones
  PHYSICALLY (deleted rows neither shape the re-fit quantizer nor land
  in the compaction) and records them under ``covers_tombs``;
  ``vacuum()`` then removes the dirs.  Deletion is mask-until-compact:
  an id re-appended while its tombstone is live stays masked until that
  refresh absorbs the tombstone — re-appends after it live again.

Queries are always correct for the index's current contents: ``postings()``
re-assigns any unit written under an older quantizer generation in-flight
(an Arrow map over just those units), so a committed-but-not-yet-compacted
state never serves stale list routing.

Drift detection: every append records the batch's mean cosine to its
assigned centroid.  A batch whose mean falls more than ``drift_tol`` below
the quantizer's creation baseline is flagged (``drift_report()``); the
operator's contract is flag-and-report, the caller decides when to pay for
``refresh()`` (re-Lloyd + re-assign compaction).
"""

from __future__ import annotations

import json
import os
import re
from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import commit as _commit
from .checkpoint import ALGO_VERSION
from .sources.tables import parquet_footer_rows

_BATCH_ID_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]*$")


_INTEGRAL = ("bigint", "int", "smallint", "tinyint")


def _integral_id_expr(df, id_col: str, ctx: str):
    """Driver-side dtype check + executor-side NULL check for an id
    column, shared by append() and search(): a lossy cast to long would
    silently NULL non-integer ids (permanently corrupt postings on
    append; one merged top-k window on search), and a NULL id inside an
    integral column would do the same — both fail loud instead.  The
    NULL check is EMBEDDED in the id expression (a separate assert
    column would be pruned by Catalyst as unused)."""
    id_t = dict(df.dtypes)[id_col]
    if id_t not in _INTEGRAL:
        raise ValueError(
            f"{ctx}: id column {id_col!r} must be an integer type, "
            f"got {id_t}")
    return (F.when(F.col(id_col).isNotNull(), F.col(id_col).cast("long"))
            .otherwise(F.raise_error(F.lit(f"{ctx}: NULL {id_col}")))
            .alias(id_col))


class IvfIndex:
    """One IVF index over one (id, vector) column pair, maintained across
    ingest batches.  See module docstring for layout and guarantees."""

    def __init__(self, spark: SparkSession, path: str, id_col: str,
                 vec_col: str, drift_tol: float = 0.05):
        self.spark = spark
        self.path = path
        self.id_col = id_col
        self.vec_col = vec_col
        self.drift_tol = float(drift_tol)

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
            if [meta["id_col"], meta["vec_col"]] != [self.id_col,
                                                     self.vec_col]:
                raise ValueError(
                    f"ivf index at {self.path!r} is over "
                    f"({meta['id_col']}, {meta['vec_col']}), not "
                    f"({self.id_col}, {self.vec_col})")
        elif write_if_missing:
            os.makedirs(self.path, exist_ok=True)
            _commit.commit_json(
                {"id_col": self.id_col, "vec_col": self.vec_col,
                 "created_algo_version": ALGO_VERSION}, mp)
        else:
            raise ValueError(f"no ivf index at {self.path!r}")

    def _quantizers(self) -> list[tuple[int, dict]]:
        out = []
        for name in _commit.list_units(self.path):
            m = re.fullmatch(r"quantizer-(\d+)", name)
            if not m:
                continue
            qf = os.path.join(self.path, name, "QUANT.json")
            if os.path.exists(qf):
                with open(qf) as f:
                    out.append((int(m.group(1)), json.load(f)))
        return sorted(out)

    def latest_quantizer(self) -> tuple[int, np.ndarray, float]:
        """(generation, centroids, baseline mean assign cosine)."""
        qs = self._quantizers()
        if not qs:
            raise ValueError(f"ivf index {self.path!r} has no quantizer")
        n, q = qs[-1]
        return n, np.asarray(q["centroids"], np.float64), q["baseline_cos"]

    def committed_batches(self) -> list[str]:
        out = []
        for name in _commit.list_units(self.path):
            d = os.path.join(self.path, name)
            if (name.startswith("batch-")
                    and os.path.exists(os.path.join(d, "_SUCCESS"))
                    and os.path.exists(os.path.join(d, "_BATCH_META.json"))):
                out.append(name[len("batch-"):])
        return out

    def _tomb_dir(self, tomb_id: str) -> str:
        return os.path.join(self.path, f"tomb-{tomb_id}")

    def committed_tombstones(self) -> list[str]:
        out = []
        for name in _commit.list_units(self.path):
            d = os.path.join(self.path, name)
            if (name.startswith("tomb-")
                    and os.path.exists(os.path.join(d, "_SUCCESS"))
                    and os.path.exists(os.path.join(d,
                                                    "_BATCH_META.json"))):
                out.append(name[len("tomb-"):])
        return out

    def live_tombstones(
            self, gens: list[tuple[int, dict]] | None = None) -> list[str]:
        """Committed tombstones NOT yet absorbed by the latest compact
        generation — the ones every read must still mask."""
        if gens is None:
            gens = self._generations()
        tombs = self.committed_tombstones()
        if not gens:
            return tombs
        absorbed = set(gens[-1][1].get("covers_tombs", []))
        return [t for t in tombs if t not in absorbed]

    def _generations(self) -> list[tuple[int, dict]]:
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

    def live_units(self,
                   gens: list[tuple[int, dict]] | None = None) -> list[str]:
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

    def _unit_meta(self, unit: str) -> dict:
        if unit.startswith("compact-"):
            meta = os.path.join(self.path, unit.split("/")[0],
                                "MANIFEST.json")
        else:
            meta = os.path.join(self.path, unit, "_BATCH_META.json")
        with open(meta) as f:
            return json.load(f)

    # -- quantizer build ---------------------------------------------------

    def _commit_quantizer(self, gen: int, cent: np.ndarray,
                          baseline_cos: float) -> None:
        gdir = os.path.join(self.path, f"quantizer-{gen}")
        os.makedirs(gdir, exist_ok=True)
        _commit.commit_json(
            {"centroids": cent.tolist(),
             "baseline_cos": float(baseline_cos),
             "algo_version": ALGO_VERSION},
            os.path.join(gdir, "QUANT.json"))

    # -- write path --------------------------------------------------------

    def append(self, df: DataFrame, batch_id: str,
               n_lists: int | None = None, seed: int = 42,
               stats: bool = True) -> dict:
        """Commit ``df``'s (id, vec) rows as posting batch ``batch_id``.

        First append fits the quantizer (ivf_assign's sample-kmeans +
        distributed-Lloyd shape; ``n_lists=None`` applies the sqrt(N)
        policy) and commits ``quantizer-0``; every later append is ONE
        Arrow assignment pass over the new rows with the broadcast
        centroids — no history re-read, no Lloyd.  Returns the batch
        stats dict (also persisted in ``_BATCH_META.json``).

        ``stats=False`` skips the drift statistic (and its tiny
        read-back job over the written assign_cos column) — for callers
        that manage refresh externally; such batches never flag drift
        (mean_cos recorded as null)."""
        from .operators.similarity import assign_with_centroids, ivf_assign

        if not _BATCH_ID_RE.fullmatch(batch_id):
            raise ValueError(
                f"batch_id {batch_id!r} must match {_BATCH_ID_RE.pattern}")
        self._check_meta(write_if_missing=True)
        target = self._batch_dir(batch_id)
        from .sketch_table import reclaim_uncommitted_batch
        reclaim_uncommitted_batch(target)  # crashed-append retry self-heals
        if os.path.exists(target):
            raise ValueError(
                f"batch {batch_id!r} already exists in {self.path!r} — "
                "batch ids are the exactly-once ledger")
        src = df.select(
            _integral_id_expr(df, self.id_col, "IvfIndex.append"),
            self.vec_col)
        qs = self._quantizers()
        if not qs:
            # bootstrap: fit quantizer on this batch, then assign WITH
            # cosine in one pass (ivf_assign's plain assignment rides the
            # same assign_with_centroids map)
            _, cent = ivf_assign(src, self.id_col, self.vec_col,
                                 n_lists=n_lists, seed=seed)
            qgen = 0
        else:
            qgen, cent, _ = self.latest_quantizer()
        assigned = assign_with_centroids(src, self.vec_col, cent,
                                         with_cos=True)
        obs = None
        if stats or not qs:  # bootstrap always needs the baseline
            # batch stats ride the WRITE itself as observed metrics
            # (pyspark Observation): the rows are aggregated while they
            # stream to parquet, so the append stays ONE pass over the
            # new batch — no read-back scan at any scale (guide §1)
            from pyspark.sql import Observation

            obs = Observation()
            assigned = assigned.observe(
                obs, F.avg("assign_cos").alias("mean_cos"),
                F.count(F.lit(1)).alias("rows"))
        assigned.write.parquet(target)  # errorifexists
        if obs is not None:
            got = obs.get
            mean_cos = float(got["mean_cos"] or 0.0)
            n_rows = int(got["rows"])
        else:
            mean_cos = n_rows = None
        if not qs:
            self._commit_quantizer(0, cent, baseline_cos=mean_cos)
            drift = False
        elif mean_cos is None or n_rows == 0:
            # no stats requested, or an EMPTY batch (whose avg(assign_cos)
            # is vacuously 0 and would false-flag drift)
            drift = False
        else:
            baseline = self.latest_quantizer()[2]
            drift = mean_cos < baseline - self.drift_tol
        meta = {"batch_id": batch_id, "quantizer_gen": qgen,
                "rows": n_rows,
                "mean_cos": None if mean_cos is None else round(mean_cos, 6),
                "drift": bool(drift), "algo_version": ALGO_VERSION}
        _commit.commit_json(meta, os.path.join(target, "_BATCH_META.json"))
        return meta

    def delete(self, ids: DataFrame, tomb_id: str) -> dict:
        """Commit ``ids``' rows (the index's id column; extra columns
        ignored) as tombstone ``tomb_id`` — the removal verb for the
        curation user whose flagged/contaminated vectors must leave the
        index without a rebuild.  Effective immediately as a read-time
        mask (broadcast anti-join, deletion-sized); the next ``refresh``
        applies it physically and ``vacuum`` reclaims the dir.  Same
        exactly-once ledger and crash-invisibility rules as ``append``.

        Tombstone sets between refreshes are maintenance-sized by
        contract (they ride a broadcast): for a corpus-scale purge, run
        ``refresh()`` right after to absorb the mask into the
        compaction."""
        from .sketch_table import reclaim_uncommitted_batch

        if not _BATCH_ID_RE.fullmatch(tomb_id):
            raise ValueError(
                f"tomb_id {tomb_id!r} must match {_BATCH_ID_RE.pattern}")
        self._check_meta(write_if_missing=False)
        target = self._tomb_dir(tomb_id)
        reclaim_uncommitted_batch(target)  # crashed-delete retry self-heals
        if os.path.exists(target):
            raise ValueError(
                f"tombstone {tomb_id!r} already exists in {self.path!r} — "
                "tombstone ids are the exactly-once ledger")
        (ids.select(_integral_id_expr(ids, self.id_col, "IvfIndex.delete"))
            .distinct().write.parquet(target))  # errorifexists
        n_rows = parquet_footer_rows([target])
        if n_rows is None:  # non-local FS / unreadable footer: one tiny job
            n_rows = self.spark.read.parquet(target).count()
        meta = {"tomb_id": tomb_id, "rows": n_rows,
                "algo_version": ALGO_VERSION}
        _commit.commit_json(meta, os.path.join(target, "_BATCH_META.json"))
        return meta

    def retract(self, batch_id: str) -> None:
        """Remove a committed-but-not-yet-compacted posting batch — the
        "that crawl segment was bad" verb, cheaper than ``delete`` (no
        id list, no read-time mask: the rows vanish with the unit).  A
        batch covered by a compact generation is already rewritten into
        it — use ``delete`` with its ids instead.  Reverse-commit
        protocol shared with SketchTable.retract: one atomic unlink of
        ``_BATCH_META.json`` uncommits the batch, data files are
        cleanup, a crash mid-cleanup leaves a self-healing orphan, and
        the batch id is immediately free for a corrected re-append."""
        import shutil

        gens = self._generations()
        covered = set(gens[-1][1]["covers"]) if gens else set()
        if batch_id in covered:
            raise ValueError(
                f"batch {batch_id!r} is covered by a compact generation "
                "— its rows live in the compaction now; delete() their "
                "ids instead")
        target = self._batch_dir(batch_id)
        meta = os.path.join(target, "_BATCH_META.json")
        if not os.path.exists(meta):
            raise ValueError(
                f"no committed batch {batch_id!r} in {self.path!r}")
        os.remove(meta)       # the reverse commit point
        shutil.rmtree(target)  # cleanup of an already-orphaned dir

    def undelete(self, tomb_id: str) -> None:
        """Reverse-commit an UNABSORBED tombstone — the fat-fingered-
        delete escape hatch; its masked ids serve again immediately.  A
        tombstone already absorbed by a compact generation is spent (the
        compaction physically dropped its rows) and cannot be undone —
        re-append the vectors instead.  Same reverse-commit protocol as
        ``retract``: one atomic unlink of the commit marker, then
        cleanup."""
        import shutil

        gens = self._generations()
        absorbed = (set(gens[-1][1].get("covers_tombs", []))
                    if gens else set())
        if tomb_id in absorbed:
            raise ValueError(
                f"tombstone {tomb_id!r} was absorbed by a compact "
                "generation — its rows are gone; re-append the vectors "
                "instead")
        target = self._tomb_dir(tomb_id)
        meta = os.path.join(target, "_BATCH_META.json")
        if not os.path.exists(meta):
            raise ValueError(
                f"no committed tombstone {tomb_id!r} in {self.path!r}")
        os.remove(meta)       # the reverse commit point
        shutil.rmtree(target)  # cleanup of an already-orphaned dir

    def _apply_tombstones(self, df: DataFrame,
                          tombs: Sequence[str]) -> DataFrame:
        """Mask live-tombstoned ids out of ``df``.  Broadcast anti-join:
        never re-shuffles the corpus side, so a bucketed compact's
        no-Exchange clustering survives the mask."""
        if not tombs:
            return df
        masked = self._read_units([f"tomb-{t}" for t in tombs]).select(
            self.id_col)
        return df.join(F.broadcast(masked), on=self.id_col,
                       how="left_anti")

    def _bucket_table_name(self, gen_n: int) -> str:
        import hashlib

        h = hashlib.md5(os.path.abspath(self.path).encode()).hexdigest()[:10]
        return f"ivf_postings_{h}_{gen_n:06d}"

    def refresh(self, lloyd_iters: int = 2, bucket: bool = True) -> str:
        """Re-fit the quantizer on the CURRENT contents (distributed Lloyd
        from the latest centroids — partial-sum shape, no raw-row collect)
        and compact: every live posting re-assigned once under the new
        generation.  The corpus-sized rewrite lives HERE, paid only when
        drift justifies it; returns the new compact dir name.

        ``bucket=True`` (default) writes the compacted postings BUCKETED
        on ``list_id`` (sources/bucketed.py): every later ``topk`` then
        plans its cogroup with NO corpus-side Exchange — the per-query
        corpus shuffle is paid once here, the write-once layout strategy
        this library uses for every repeated grouped scan at 100 TB."""
        from .operators.similarity import (
            _lloyd_refine_distributed, assign_with_centroids,
        )

        self._check_meta(write_if_missing=False)
        gens = self._generations()
        units = self.live_units(gens)
        if not units:
            raise ValueError(f"nothing to refresh in {self.path!r}")
        qgen_old, cent, _ = self.latest_quantizer()
        tombs = self.live_tombstones(gens)
        rows = self._apply_tombstones(
            self._read_units(units).select(self.id_col, self.vec_col),
            tombs)  # deleted rows neither shape the re-fit nor survive it
        cent = _lloyd_refine_distributed(rows, self.vec_col, cent,
                                         lloyd_iters)
        n = gens[-1][0] + 1 if gens else 0
        gen_dir = os.path.join(self.path, f"compact-{n:06d}")
        if (os.path.isdir(gen_dir)
                and not os.path.exists(os.path.join(gen_dir,
                                                    "MANIFEST.json"))):
            import shutil
            shutil.rmtree(gen_dir)  # reclaim a crashed predecessor
        assigned = assign_with_centroids(rows, self.vec_col, cent,
                                         with_cos=True)
        data_dir = os.path.join(gen_dir, "data")
        bucket_spec = None
        if bucket:
            from .sources.bucketed import save_bucketed

            n_buckets = int(min(32, max(4, cent.shape[0])))
            tbl = self._bucket_table_name(n)
            self.spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            save_bucketed(assigned, tbl, ["list_id"], n_buckets,
                          path=data_dir)
            bucket_spec = {"keys": ["list_id"], "n_buckets": n_buckets,
                           "schema_ddl": ", ".join(
                               f"`{f.name}` {f.dataType.simpleString()}"
                               for f in assigned.schema.fields)}
            # baseline via a column-pruned read-back of the written
            # generation — NOT an observe node: save_bucketed repartitions
            # before its write, which would put CollectMetrics in the
            # shuffle-MAP stage where accumulator updates are not
            # exactly-once under stage retry/speculation (a retried map
            # task would skew the committed baseline_cos).  Refreshes are
            # drift-triggered and rare; one assign_cos column scan is the
            # correct price for an exact baseline.
            new_baseline = float(
                self.spark.read.parquet(data_dir)
                .agg(F.avg("assign_cos")).collect()[0][0] or 0.0)
        else:
            # no exchange between the map and the write here, so the
            # observed metric runs in the result stage — exactly-once —
            # and the refresh stays one pass (same shape as append)
            from pyspark.sql import Observation

            obs = Observation()
            assigned = assigned.observe(
                obs, F.avg("assign_cos").alias("mean_cos"))
            assigned.write.parquet(data_dir)
            new_baseline = float(obs.get["mean_cos"] or 0.0)
        qgen_new = qgen_old + 1
        self._commit_quantizer(qgen_new, cent, baseline_cos=new_baseline)
        merged_batches = {u[len("batch-"):] for u in units
                          if u.startswith("batch-")}
        prior = set(gens[-1][1]["covers"]) if gens else set()
        prior_tombs = (set(gens[-1][1].get("covers_tombs", []))
                       if gens else set())
        _commit.commit_json(
            {"covers": sorted(prior | merged_batches),
             "covers_tombs": sorted(prior_tombs | set(tombs)),
             "quantizer_gen": qgen_new, "bucket": bucket_spec,
             "algo_version": ALGO_VERSION},
            os.path.join(gen_dir, "MANIFEST.json"))
        return f"compact-{n:06d}"

    def vacuum(self) -> list[str]:
        """Delete units subsumed by the latest compact generation (covered
        batch dirs, older compacts, and quantizer generations below the
        latest manifest's) — safe any time after the manifest commit.
        Returns what it removed."""
        import shutil

        gens = self._generations()
        if not gens:
            return []
        latest_n, manifest = gens[-1]
        covered = set(manifest["covers"])
        keep_qgen = manifest["quantizer_gen"]
        removed = []
        for b in self.committed_batches():
            if b in covered:
                shutil.rmtree(self._batch_dir(b))
                removed.append(f"batch-{b}")
        for n, _ in gens[:-1]:
            shutil.rmtree(os.path.join(self.path, f"compact-{n:06d}"))
            self.spark.sql(
                f"DROP TABLE IF EXISTS {self._bucket_table_name(n)}")
            removed.append(f"compact-{n:06d}")
        for qn, _ in self._quantizers():
            if qn < keep_qgen:
                shutil.rmtree(os.path.join(self.path, f"quantizer-{qn}"))
                removed.append(f"quantizer-{qn}")
        absorbed = set(manifest.get("covers_tombs", []))
        for t in self.committed_tombstones():
            if t in absorbed:
                shutil.rmtree(self._tomb_dir(t))
                removed.append(f"tomb-{t}")
        return removed

    # -- read path ---------------------------------------------------------

    def _read_units(self, units: Sequence[str]) -> DataFrame:
        paths = [os.path.join(self.path, u) for u in units]
        return self.spark.read.parquet(*paths)

    def postings(self) -> DataFrame:
        """Live (id, vec, list_id) rows, list-routed under the LATEST
        quantizer: units written under an older generation are re-assigned
        in-flight (Arrow map over just those units), so a query between
        refresh steps never mixes routings."""
        from .operators.similarity import assign_with_centroids

        self._check_meta(write_if_missing=False)
        units = self.live_units()
        if not units:
            raise ValueError(f"ivf index {self.path!r} has no live units")
        qgen, cent, _ = self.latest_quantizer()
        fresh = [u for u in units
                 if self._unit_meta(u)["quantizer_gen"] == qgen]
        stale = [u for u in units
                 if self._unit_meta(u)["quantizer_gen"] != qgen]
        cols = [self.id_col, self.vec_col, "list_id"]
        parts = []
        if fresh:
            parts.append(self._read_units(fresh).select(*cols))
        if stale:
            parts.append(assign_with_centroids(
                self._read_units(stale).select(self.id_col, self.vec_col),
                self.vec_col, cent).select(*cols))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return self._apply_tombstones(out, self.live_tombstones())

    def _routed_postings(self):
        """(assigned_df, corpus_pre_partitioned, n_parts): when the live
        set is exactly one current-generation BUCKETED compact, return its
        catalog-registered bucketed scan — ``topk``'s cogroup then plans
        with no corpus-side Exchange; any other live shape (uncompacted
        batches, stale generation, unbucketed compact) falls back to the
        plain union, which re-routes/re-shuffles as needed."""
        self._check_meta(write_if_missing=False)
        gens = self._generations()
        units = self.live_units(gens)
        if gens and len(units) == 1 and units[0].startswith("compact-"):
            gen_n, manifest = gens[-1]
            spec = manifest.get("bucket")
            qgen, _, _ = self.latest_quantizer()
            if spec and manifest["quantizer_gen"] == qgen:
                tbl = self._bucket_table_name(gen_n)
                loc = os.path.join(self.path, units[0])
                if not self.spark.catalog.tableExists(tbl):
                    self.spark.sql(
                        f"CREATE TABLE {tbl} ({spec['schema_ddl']}) "
                        "USING parquet CLUSTERED BY (list_id) "
                        "SORTED BY (list_id) "
                        f"INTO {spec['n_buckets']} BUCKETS "
                        f"LOCATION '{loc}'")
                df = self._apply_tombstones(
                    self.spark.table(tbl).select(
                        self.id_col, self.vec_col, "list_id"),
                    self.live_tombstones(gens))
                return df, True, int(spec["n_buckets"])
        return self.postings(), False, None

    def topk(self, k: int = 10, n_probe: int | None = 3) -> DataFrame:
        """Self-join ANN over the index contents — identical search plan
        to ivf_topk (ivf_search), reading persisted postings instead of
        re-fitting anything.  ``n_probe=None`` probes every list: exact.
        Over a bucketed compact generation the corpus side plans with no
        Exchange (see ``refresh``/``_routed_postings``)."""
        from .operators.similarity import ivf_search

        _, cent, _ = self.latest_quantizer()
        assigned, prepart, n_parts = self._routed_postings()
        return ivf_search(assigned, cent, self.id_col, self.vec_col,
                          k=k, n_probe=n_probe,
                          corpus_pre_partitioned=prepart, n_parts=n_parts)

    def search(self, queries: DataFrame, k: int = 10,
               n_probe: int | None = 3) -> DataFrame:
        """Top-k neighbors IN THE INDEX for every row of an EXTERNAL
        query DataFrame (columns named like the index's id/vec pair; ids
        unique — the rank window partitions on them) — the retrieval /
        eval-set-decontamination verb, separated from update exactly as
        every reference sketch separates update from query (reference
        cm_sketch.h:70 update vs point_query).  ``n_probe=None`` probes
        every list: provably exact vs brute force.  Same cogrouped
        per-list BLAS plan as ``topk``; no self-exclusion (query and
        corpus ids are separate namespaces), queries never collected, and
        over a bucketed compact generation the corpus side still plans
        with NO Exchange — only the query side shuffles."""
        from .operators.similarity import ivf_search

        missing = [c for c in (self.id_col, self.vec_col)
                   if c not in queries.columns]
        if missing:
            raise ValueError(
                f"search queries must carry the index's columns "
                f"({self.id_col}, {self.vec_col}); missing {missing}")
        q = queries.select(
            _integral_id_expr(queries, self.id_col, "IvfIndex.search"),
            self.vec_col)
        _, cent, _ = self.latest_quantizer()
        assigned, prepart, n_parts = self._routed_postings()
        return ivf_search(assigned, cent, self.id_col, self.vec_col,
                          k=k, n_probe=n_probe,
                          corpus_pre_partitioned=prepart, n_parts=n_parts,
                          queries=q)

    def drift_report(self) -> list[dict]:
        """Per committed batch: quantizer gen, rows, mean assign cosine,
        drift flag — the caller's refresh trigger."""
        return [self._unit_meta(f"batch-{b}")
                for b in self.committed_batches()]
