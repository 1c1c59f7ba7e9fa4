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

Layout at ``<path>`` — the ``commit.UnitLedger`` protocol (shared with
SketchTable: unit ids are the exactly-once ledger, ``_BATCH_META.json`` /
``MANIFEST.json`` are the commit points) plus this index's own units:

- ``TABLE_META.json`` pins the id/vec columns.
- ``quantizer-<n>/QUANT.json`` — centroids + the creation-time baseline
  assignment cosine; the file IS the quantizer commit point.
- ``batch-<id>/`` — parquet postings ``(id, vec, list_id, assign_cos)``
  assigned under the then-latest quantizer; its ``_BATCH_META.json``
  records the quantizer generation, batch mean assign_cos and drift flag.
  Row-id uniqueness across batches is the CALLER's contract — appending
  the same vector id in two batches yields two corpus rows, exactly as
  two parquet appends would.
- ``compact-<n>/data/`` — all covered postings re-assigned under one
  quantizer generation; ``MANIFEST.json`` also lists the absorbed
  tombstone ids (``covers_tombs``) and the bucket spec.
- ``tomb-<id>/`` — parquet of DELETED row ids, a ledger unit like a
  batch (committed by its ``_BATCH_META.json``).  A live tombstone masks
  its ids from every read (``postings``/``topk``/``search``) via a
  broadcast anti-join — deletion-sized sets, and a
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

import os
from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import commit as _commit
from .checkpoint import ALGO_VERSION
from .commit import UnitLedger
from .sources.tables import parquet_footer_rows

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


class IvfIndex(UnitLedger):
    """One IVF index over one (id, vector) column pair, maintained across
    ingest batches.  See module docstring for layout and guarantees."""

    KIND = "ivf index"
    RETRACT_COVERED = ("its rows live in the compaction now; delete() "
                       "their ids instead")

    def __init__(self, spark: SparkSession, path: str, id_col: str,
                 vec_col: str, drift_tol: float = 0.05):
        self.id_col = id_col
        self.vec_col = vec_col
        self.drift_tol = float(drift_tol)
        super().__init__(spark, path,
                         {"id_col": id_col, "vec_col": vec_col})

    # -- layout helpers ----------------------------------------------------

    def _quantizers(self) -> list[tuple[int, dict]]:
        return self._numbered("quantizer-", "QUANT.json")

    def latest_quantizer(self) -> tuple[int, np.ndarray, float]:
        """(generation, centroids, baseline mean assign cosine)."""
        qs = self._quantizers()
        if not qs:
            raise ValueError(f"ivf index {self.path!r} has no quantizer")
        n, q = qs[-1]
        return n, np.asarray(q["centroids"], np.float64), q["baseline_cos"]

    def committed_tombstones(self) -> list[str]:
        return self._committed("tomb-")

    def live_tombstones(
            self, gens: list[tuple[int, dict]] | None = None) -> list[str]:
        """Committed tombstones NOT yet absorbed by the latest compact
        generation — the ones every read must still mask."""
        absorbed = self._covered("covers_tombs", gens)
        return [t for t in self.committed_tombstones() if t not in absorbed]

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

        target = self._claim("batch-", batch_id)
        self._check_meta(write_if_missing=True)
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
        return self._commit_unit(target, {
            "batch_id": batch_id, "quantizer_gen": qgen, "rows": n_rows,
            "mean_cos": None if mean_cos is None else round(mean_cos, 6),
            "drift": bool(drift)})

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
        target = self._claim("tomb-", tomb_id, "tombstone")
        self._check_meta(write_if_missing=False)
        (ids.select(_integral_id_expr(ids, self.id_col, "IvfIndex.delete"))
            .distinct().write.parquet(target))  # errorifexists
        n_rows = parquet_footer_rows([target])
        if n_rows is None:  # non-local FS / unreadable footer: one tiny job
            n_rows = self.spark.read.parquet(target).count()
        return self._commit_unit(target, {"tomb_id": tomb_id,
                                          "rows": n_rows})

    def undelete(self, tomb_id: str) -> None:
        """Reverse-commit an UNABSORBED tombstone — the fat-fingered-
        delete escape hatch; its masked ids serve again immediately.  A
        tombstone already absorbed by a compact generation is spent (the
        compaction physically dropped its rows) and cannot be undone —
        re-append the vectors instead.  Same reverse-commit protocol as
        ``retract``: one atomic unlink of the commit marker, then
        cleanup."""
        if tomb_id in self._covered("covers_tombs"):
            raise ValueError(
                f"tombstone {tomb_id!r} was absorbed by a compact "
                "generation — its rows are gone; re-append the vectors "
                "instead")
        self._uncommit("tomb-", tomb_id, "tombstone")

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
        n, gen_dir = self._open_generation(gens)
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
        return self._commit_generation(
            gen_dir, gens, units,
            covers_tombs=sorted(self._covered("covers_tombs", gens)
                                | set(tombs)),
            quantizer_gen=qgen_new, bucket=bucket_spec)

    def _subsumed(self, gens: list[tuple[int, dict]]) -> list[str]:
        """Also quantizer generations below the latest manifest's and the
        tombstones it absorbed."""
        if not gens:
            return []
        keep_qgen = gens[-1][1]["quantizer_gen"]
        absorbed = self._covered("covers_tombs", gens)
        return (super()._subsumed(gens)
                + [f"quantizer-{qn}" for qn, _ in self._quantizers()
                   if qn < keep_qgen]
                + [f"tomb-{t}" for t in self.committed_tombstones()
                   if t in absorbed])

    def vacuum(self) -> list[str]:
        """The ledger's vacuum, then drop the catalog bucket tables of the
        removed compact generations."""
        removed = super().vacuum()
        for unit in removed:
            if unit.startswith("compact-"):
                n = int(unit[len("compact-"):])
                self.spark.sql(
                    f"DROP TABLE IF EXISTS {self._bucket_table_name(n)}")
        return removed

    # -- read path ---------------------------------------------------------

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
