"""The single atomic-publish primitive behind every commit protocol here,
and the one unit ledger both incremental stores build on it.

Every durable artifact this library writes becomes visible through exactly
one move: fully write a hidden/temporary object, then atomically swap it to
its final name.  Readers treat the final name as the commit point — a crash
anywhere before the swap leaves only invisible temporaries.  The protocols
built on this seam:

- WARC sink task commit   (sources/warc.py: dot-temp -> part-<pid>)
- the unit ledger (``UnitLedger`` below) that ``SketchTable``
  (sketch_table.py) and ``IvfIndex`` (ivf_index.py) subclass:
  batch / tombstone / manifest / quantizer commits, and retraction as the
  protocol run in REVERSE — one atomic unlink of the commit marker
- pipeline staging marker (pipeline.py: _STAGE_META.json)

``publish_file`` is the ONLY function that performs the swap.  The local
implementation is ``os.replace`` (atomic on POSIX rename semantics — local
disk, NFS, Lustre).  An object-store deployment swaps THIS ONE function for
the store's atomic primitive (S3 complete-multipart-upload or
If-None-Match conditional PUT, GCS precondition compose, ABFS rename) —
everything above the seam (what is written before the swap, what a reader
treats as committed, crash invisibility) is store-agnostic and covered by
the fault-injection tests in tests/test_sketch_table.py /
tests/test_plans_scale.py.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from typing import Sequence

from .checkpoint import ALGO_VERSION


def publish_file(tmp: str, final: str) -> None:
    """Atomically publish ``tmp`` as ``final``.  The swap either fully
    happens or doesn't — no reader may ever observe a partial ``final``."""
    os.replace(tmp, final)


def list_units(path: str) -> list[str]:
    """The DISCOVERY half of the commit protocol: names directly under a
    store root (sketch-table / IVF-index unit dirs).  Every reader-side
    enumeration routes through this one function so an object-store
    deployment swaps it alongside ``publish_file`` (a LIST-prefix call
    there; ``os.listdir`` locally).  A root that was never written has no
    units — missing path returns ``[]``, matching LIST-on-empty-prefix
    semantics.  Names come back sorted so discovery order is
    deterministic across stores.  NOTE: listing is only candidate
    enumeration — committedness is still decided per unit by its marker
    (``_SUCCESS``/``_BATCH_META.json``/``MANIFEST.json``/``QUANT.json``),
    so an eventually-consistent listing that surfaces an uncommitted
    temporary never changes what a reader treats as live."""
    if not os.path.isdir(path):
        return []
    return sorted(os.listdir(path))


def commit_json(obj: dict, final: str) -> None:
    """Write ``obj`` beside ``final`` then publish it through the seam —
    the shape every metadata commit (batch meta, manifest, staging marker)
    uses."""
    tmp = final + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    publish_file(tmp, final)


_UNIT_ID_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]*$")
_UNIT_META = "_BATCH_META.json"  # the commit marker of batch/tomb units


class UnitLedger:
    """The commit protocol of an incremental store rooted at ``path``
    (a driver-visible filesystem path; an object store swaps the seam's
    functions above).  Subclasses add only their own work — what a unit
    holds and how it is read; the ledger decides what is committed.

    - ``TABLE_META.json`` pins the store's ``layout`` (its key/column
      names) at first write; a store opened with another layout refuses.
    - A UNIT ``<prefix><id>/`` (``batch-``, ``tomb-``) is written by Spark,
      then ``_BATCH_META.json`` lands last through the seam: it is the
      unit commit point, and a unit needs it AND ``_SUCCESS`` to count.
      Ids are the caller's exactly-once ledger: a committed id is refused,
      a marker-less orphan (a crash before the commit point) is reclaimed
      so the same writer's retry self-heals.  Two LIVE writers sharing an
      id are outside the contract (Spark's errorifexists still guards the
      window after reclaim).
    - A GENERATION ``compact-<n>/data/`` commits when ``MANIFEST.json``
      lands; its ``covers`` lists every batch id merged into it, taken
      from the units actually read (a batch committed concurrently after
      that read stays uncovered, so its rows never vanish).  Readers use
      the highest committed generation plus the batches it does not
      cover; a manifest-less orphan is invisible and reclaimed by the
      next compaction at the same number.
    - Retraction runs the protocol in reverse: one atomic unlink of the
      unit marker uncommits it, the data files are cleanup, and a crash
      mid-cleanup leaves an orphan the next claim reclaims.  A unit a
      generation already absorbed cannot be retracted.
    - ``vacuum()`` deletes what the latest generation subsumes; until
      then history stays readable.  Don't race it (or ``retract``) with
      an in-flight read or compaction — a single-maintainer window.
    """

    KIND = "store"                      # the noun in error messages
    RETRACT_COVERED = "rebuild instead"  # why a covered batch can't retract

    def __init__(self, spark, path: str, layout: dict):
        self.spark = spark
        self.path = path
        self.layout = layout

    # -- layout pin --------------------------------------------------------

    def _check_meta(self, write_if_missing: bool) -> None:
        mp = os.path.join(self.path, "TABLE_META.json")
        if os.path.exists(mp):
            with open(mp) as f:
                pinned = {k: v for k, v in json.load(f).items()
                          if k in self.layout}
            if pinned != self.layout:
                raise ValueError(
                    f"{self.KIND} at {self.path!r} is keyed by {pinned}, "
                    f"not {self.layout} — one store, one layout")
        elif write_if_missing:
            os.makedirs(self.path, exist_ok=True)
            commit_json({**self.layout,
                         "created_algo_version": ALGO_VERSION}, mp)
        else:
            raise ValueError(f"no {self.KIND} at {self.path!r}")

    # -- units -------------------------------------------------------------

    def _batch_dir(self, batch_id: str) -> str:
        return os.path.join(self.path, f"batch-{batch_id}")

    def _claim(self, prefix: str, unit_id: str, noun: str = "batch") -> str:
        """Validate ``unit_id``, reclaim its marker-less orphan, refuse it
        if committed; returns the unit dir the caller may write."""
        if not _UNIT_ID_RE.fullmatch(unit_id):
            raise ValueError(f"{noun} id {unit_id!r} must match "
                             f"{_UNIT_ID_RE.pattern}")
        target = os.path.join(self.path, prefix + unit_id)
        if (os.path.isdir(target)
                and not os.path.exists(os.path.join(target, _UNIT_META))):
            shutil.rmtree(target)
        if os.path.exists(target):
            raise ValueError(
                f"{noun} {unit_id!r} already exists in {self.path!r} — "
                f"{noun} ids are the exactly-once ledger; pick a new id "
                "or remove the old one first")
        return target

    def _commit_unit(self, target: str, meta: dict) -> dict:
        """The unit commit point: stamp and publish its marker."""
        meta = {**meta, "algo_version": ALGO_VERSION}
        commit_json(meta, os.path.join(target, _UNIT_META))
        return meta

    def _committed(self, prefix: str) -> list[str]:
        """Ids of the fully committed ``<prefix><id>`` units."""
        out = []
        for name in list_units(self.path):
            d = os.path.join(self.path, name)
            if (name.startswith(prefix)
                    and os.path.exists(os.path.join(d, "_SUCCESS"))
                    and os.path.exists(os.path.join(d, _UNIT_META))):
                out.append(name[len(prefix):])
        return out

    def committed_batches(self) -> list[str]:
        return self._committed("batch-")

    def _uncommit(self, prefix: str, unit_id: str, noun: str) -> None:
        """The reverse commit: unlink the marker, then clean up."""
        target = os.path.join(self.path, prefix + unit_id)
        meta = os.path.join(target, _UNIT_META)
        if not os.path.exists(meta):
            raise ValueError(
                f"no committed {noun} {unit_id!r} in {self.path!r}")
        os.remove(meta)        # the reverse commit point
        shutil.rmtree(target)  # cleanup of an already-orphaned dir

    def retract(self, batch_id: str) -> None:
        """Remove a committed batch no generation covers yet — the "that
        crawl segment was bad" verb; the id is free again at once."""
        if batch_id in self._covered("covers"):
            raise ValueError(
                f"batch {batch_id!r} is covered by a compact generation "
                f"— {self.RETRACT_COVERED}")
        self._uncommit("batch-", batch_id, "batch")

    # -- generations -------------------------------------------------------

    def _numbered(self, prefix: str, marker: str) -> list[tuple[int, dict]]:
        """(n, marker json) for every committed ``<prefix><n>`` dir."""
        out = []
        for name in list_units(self.path):
            m = re.fullmatch(re.escape(prefix) + r"(\d+)", name)
            mf = os.path.join(self.path, name, marker)
            if m and os.path.exists(mf):
                with open(mf) as f:
                    out.append((int(m.group(1)), json.load(f)))
        return sorted(out)

    def _generations(self) -> list[tuple[int, dict]]:
        """(n, manifest) for every manifest-committed compact generation."""
        return self._numbered("compact-", "MANIFEST.json")

    def _covered(self, key: str,
                 gens: list[tuple[int, dict]] | None = None) -> set[str]:
        """Ids the latest generation's manifest lists under ``key``."""
        if gens is None:
            gens = self._generations()
        return set(gens[-1][1].get(key, [])) if gens else set()

    def live_units(self,
                   gens: list[tuple[int, dict]] | None = None) -> list[str]:
        """Relative dirs a reader merges: latest committed generation +
        every committed batch it does not cover.  Pass ``gens`` (a
        ``_generations()`` snapshot) to pin units/covers/n to ONE listing,
        so a generation committed concurrently between two listings can't
        yield an inconsistent view."""
        if gens is None:
            gens = self._generations()
        covered = self._covered("covers", gens)
        batches = [f"batch-{b}" for b in self.committed_batches()
                   if b not in covered]
        if not gens:
            return batches
        return [f"compact-{gens[-1][0]:06d}/data"] + batches

    def _unit_meta(self, unit: str) -> dict:
        """The commit record of a live unit (manifest for a generation)."""
        if unit.startswith("compact-"):
            meta = os.path.join(self.path, unit.split("/")[0],
                                "MANIFEST.json")
        else:
            meta = os.path.join(self.path, unit, _UNIT_META)
        with open(meta) as f:
            return json.load(f)

    def _read_units(self, units: Sequence[str]):
        return self.spark.read.parquet(
            *[os.path.join(self.path, u) for u in units])

    def _open_generation(self,
                         gens: list[tuple[int, dict]]) -> tuple[int, str]:
        """(n, dir) of the next generation.  A dir there WITHOUT a manifest is
        a crashed compaction's orphan: reclaim it, or the retry collides
        on the same number forever (a committed one can't be there —
        numbering is past the latest committed)."""
        n = gens[-1][0] + 1 if gens else 0
        gen_dir = os.path.join(self.path, f"compact-{n:06d}")
        if (os.path.isdir(gen_dir)
                and not os.path.exists(os.path.join(gen_dir,
                                                    "MANIFEST.json"))):
            shutil.rmtree(gen_dir)
        return n, gen_dir

    def _commit_generation(self, gen_dir: str, gens: list[tuple[int, dict]],
                           units: Sequence[str], **extra) -> str:
        """The generation commit point.  ``covers`` comes from ``units``
        (what was merged), never from a fresh listing."""
        merged = {u[len("batch-"):] for u in units if u.startswith("batch-")}
        commit_json({"covers": sorted(self._covered("covers", gens)
                                      | merged),
                     **extra, "algo_version": ALGO_VERSION},
                    os.path.join(gen_dir, "MANIFEST.json"))
        return os.path.basename(gen_dir)

    def _subsumed(self, gens: list[tuple[int, dict]]) -> list[str]:
        """Units the latest generation makes redundant: the batches it
        covers and every older generation."""
        covered = self._covered("covers", gens)
        return ([f"batch-{b}" for b in self.committed_batches()
                 if b in covered]
                + [f"compact-{n:06d}" for n, _ in gens[:-1]])

    def vacuum(self) -> list[str]:
        """Delete the units the latest generation subsumes — safe any time
        after its manifest commit.  Returns what it removed."""
        removed = self._subsumed(self._generations())
        for unit in removed:
            shutil.rmtree(os.path.join(self.path, unit))
        return removed
