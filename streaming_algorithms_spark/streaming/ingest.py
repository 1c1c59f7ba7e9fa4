"""Continuous ingestion -> incremental maintenance, composed end to end.

The 10^12-document operating mode in one loop: a Structured Streaming
source (e.g. ``sources.warc.read_warc_stream`` over a crawl drop
directory) drives ``foreachBatch``, and every micro-batch is folded into
the incremental stores — ``sketch_table.SketchTable.append`` (sketch
partials over ONLY the new rows) and/or ``ivf_index.IvfIndex.append``
(one Arrow assignment pass over ONLY the new vectors).  Nothing ever
re-reads corpus history; per micro-batch the work is proportional to the
batch, exactly the contract both stores were built for.

EXACTLY-ONCE across the two ledgers.  Structured Streaming's checkpoint
makes epoch ids deterministic: after any crash/restart the SAME epoch is
replayed with the SAME input files (file-stream source semantics).  The
stores' batch dirs are their own exactly-once ledger (duplicate batch
ids refused), so the bridge maps epoch -> batch id deterministically
(``<prefix>-<epoch:09d>``) and makes replay IDEMPOTENT instead of an
error: a batch id that is already committed is skipped.  The crash
matrix this closes, per failure point inside one epoch:

- crash mid-append (no ``_BATCH_META.json``): the orphan dir is
  invisible to readers and reclaimed by the store's own append retry;
- crash AFTER a store commit but BEFORE the streaming checkpoint
  commits the epoch (or between two routes' appends): replay skips the
  committed route(s) and performs only the missing one(s);
- clean restart with new files landed: new epochs, new batch ids.

Reference analogue: the reference's input plugins checkpoint byte
offsets per stream so a restart resumes without re-counting
(streaming_algorithms' host applications); here the file-stream
checkpoint plus the batch-dir ledger give the same resume-exactly
guarantee at archive-segment granularity.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery


@dataclass
class AppendRoute:
    """One incremental store fed by the stream.

    ``target`` is a ``commit.UnitLedger`` store (SketchTable, IvfIndex)
    or anything with the same protocol: ``committed_batches() ->
    list[str]`` and an ``append(df, batch_id, **kwargs)`` that self-heals
    crashed (uncommitted) dirs on retry.  ``transform`` maps the raw
    micro-batch DataFrame to the store's input shape (extract keys,
    compute hashes, project (id, vec)); it runs INSIDE the epoch, so it
    is replayed with the epoch and needs no idempotence of its own.
    ``kwargs`` are passed through to ``append`` (factory/update for a
    SketchTable, n_lists/seed/stats for an IvfIndex).

    ``name`` suffixes the epoch-derived batch id (``epoch-NNN-<name>``)
    and is REQUIRED when several routes feed the SAME store: the
    exactly-once skip keys on the batch id, so two unnamed routes into
    one ledger would silently drop the second route's data (its id is
    already committed by the first).  The name — not the route's list
    position — keys the ledger id, so reordering or extending the route
    list between a crash and the replay cannot mis-skip an append."""

    target: object
    transform: Callable[[DataFrame], DataFrame] | None = None
    kwargs: dict = field(default_factory=dict)
    name: str = ""


def exactly_once_append(target, df: DataFrame, batch_id: str,
                        **kwargs) -> bool:
    """Append ``df`` as ``batch_id`` unless that id is already committed
    (then: no-op).  Returns True iff this call committed the batch.  The
    skip consults the store's OWN commit markers, so it composes with
    any writer and survives the crash-between-commit-points replay."""
    if batch_id in target.committed_batches():
        return False
    target.append(df, batch_id, **kwargs)
    return True


def epoch_batch_id(prefix: str, epoch_id: int) -> str:
    """Deterministic epoch -> ledger id mapping (zero-padded so batch
    dirs list in epoch order)."""
    return f"{prefix}-{int(epoch_id):09d}"


def ingest_stream(stream_df: DataFrame, routes: list[AppendRoute],
                  checkpoint: str, batch_prefix: str = "epoch",
                  available_now: bool = True,
                  on_epoch: Callable[[int, DataFrame], None] | None = None,
                  ) -> StreamingQuery:
    """Start the composed loop: every micro-batch of ``stream_df`` is
    appended to every route's store under the epoch-derived batch id.
    ``available_now=True`` drains what has landed and stops — the
    catch-up/backfill trigger; False runs continuously.  ``on_epoch``
    is a post-append hook (fault injection in tests, drift-driven
    ``refresh()`` scheduling in production).  Returns the started query;
    callers ``awaitTermination()`` it.

    The micro-batch DataFrame is consumed once per route; routes that
    share expensive lineage should land the raw batch in route 0 and
    derive in later routes, or pre-transform in the stream itself."""
    import os
    import re

    seen: dict[tuple, str] = {}
    for route in routes:
        if route.name and not re.fullmatch(r"[A-Za-z0-9_-]+", route.name):
            raise ValueError(
                f"route name {route.name!r} must be [A-Za-z0-9_-]+ "
                "(it becomes part of a batch-dir name)")
        # two routes into one ledger with the same effective name would
        # make the second a silent exactly-once no-op every epoch;
        # realpath-normalize so '/data/tbl' vs '/data/tbl/' (or a
        # relative spelling) cannot sneak past the check
        path = getattr(route.target, "path", None)
        key = (os.path.realpath(path) if path else id(route.target),
               route.name)
        if key in seen:
            raise ValueError(
                f"routes {seen[key]!r} and {route.name!r} share the store "
                f"at {key[0]!r} and the same batch-id suffix — give each "
                "route a distinct name")
        seen[key] = route.name

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        base = epoch_batch_id(batch_prefix, epoch_id)
        for route in routes:
            df = (route.transform(batch_df) if route.transform
                  else batch_df)
            bid = f"{base}-{route.name}" if route.name else base
            exactly_once_append(route.target, df, bid, **route.kwargs)
        if on_epoch is not None:
            on_epoch(epoch_id, batch_df)

    writer = (stream_df.writeStream.foreachBatch(handle)
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
