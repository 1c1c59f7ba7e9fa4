"""Seeded benchmark inputs, generated once and cached inside the checkout.

Every input is a pure function of (table, seed, size, GEN_VERSION), and the
cache directory name carries all four, so a cached input is reused only for
the exact same request.  Generation is timed and recorded in the cache
marker; it never runs inside a timed op, and ``setup_s`` never includes it.

- ``webpages_multi``: ``sources.webpages.write_webpages`` output, one file
  per core (the multi-file layout of a partitioned crawl table).
- ``webpages_single``: the same generator, rewritten as ONE parquet file
  with ONE row group (the layout of every sf test table).
- ``events_stream``: one parquet file per micro-batch of a keyed event
  stream (key, user, value), numpy-generated, with strictly increasing
  modification times so the file source reads them in order.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass
from pathlib import Path

import numpy as np

# bump when any generator below (or its parameters) changes
GEN_VERSION = 1

CACHE_DIRNAME = ".perfbench_cache"
_MARKER = "_PERFBENCH_INPUT.json"


@dataclass(frozen=True)
class InputSpec:
    table: str      # webpages_multi | webpages_single | events_stream
    rows: int       # total source rows
    files: int = 0  # events_stream: one file per micro-batch


@dataclass(frozen=True)
class Input:
    path: Path
    gen_s: float    # wall time the generation took (recorded at creation)
    cached: bool    # True when this run found it in the cache


def input_dir(cache: Path, spec: InputSpec, seed: int) -> Path:
    return cache / f"{spec.table}-seed{seed}-rows{spec.rows}-v{GEN_VERSION}"


def ensure_input(spark, cache: Path, spec: InputSpec, seed: int) -> Input:
    """Return the cached input for (spec, seed), generating it on a miss."""
    path = input_dir(cache, spec, seed)
    marker = path / _MARKER
    if marker.exists():
        meta = json.loads(marker.read_text())
        return Input(path, float(meta["gen_s"]), True)
    tmp = path.with_name(path.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.perf_counter()
    if spec.table == "events_stream":
        _write_events_stream(tmp, spec, seed)
    else:
        _write_webpages(spark, tmp, spec, seed)
    gen_s = time.perf_counter() - t0
    (tmp / _MARKER).write_text(json.dumps({"gen_s": gen_s, "seed": seed,
                                           "spec": spec.__dict__}))
    shutil.rmtree(path, ignore_errors=True)
    tmp.rename(path)
    return Input(path, gen_s, False)


def parquet_files(path: Path) -> list[Path]:
    return sorted(p for p in path.iterdir() if p.suffix == ".parquet")


def _write_webpages(spark, out: Path, spec: InputSpec, seed: int) -> None:
    from streaming_algorithms_spark.sources.webpages import write_webpages

    write_webpages(spark, str(out), spec.rows, seed=seed)
    for p in out.iterdir():  # Spark's _SUCCESS and .crc side files
        if p.suffix != ".parquet":
            p.unlink()
    if spec.table == "webpages_single":
        import pyarrow.parquet as pq

        parts = parquet_files(out)
        table = pq.read_table([str(p) for p in parts])
        pq.write_table(table, str(out / "part-00000.parquet"),
                       row_group_size=max(1, table.num_rows),
                       compression="snappy")
        for p in parts:
            p.unlink()


# events_stream shape: 40 Zipf keys, users drawn from a pool that keeps the
# per-key distinct count growing batch over batch, lognormal values
_STREAM_KEYS = 40
_STREAM_USERS = 1 << 20


def _stream_batches(seed: int, spec: InputSpec):
    """Yield (key, user, value) numpy columns, one tuple per micro-batch."""
    rng = np.random.default_rng([seed, 0x5EED])
    w = 1.0 / np.power(np.arange(1, _STREAM_KEYS + 1, dtype=np.float64), 1.3)
    key_p = w / w.sum()
    per_file = spec.rows // spec.files
    for _ in range(spec.files):
        key = rng.choice(_STREAM_KEYS, size=per_file, p=key_p)
        user = rng.integers(0, _STREAM_USERS, size=per_file)
        value = np.round(rng.lognormal(4.6, 0.8, size=per_file), 3)
        yield key, user, value


def _write_events_stream(out: Path, spec: InputSpec, seed: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    out.mkdir(parents=True)
    base = time.time() - 10 * spec.files
    for i, (key, user, value) in enumerate(_stream_batches(seed, spec)):
        t = pa.table({
            "key": pa.array([f"k{k:02d}" for k in key], pa.string()),
            "user": pa.array(user, pa.int64()),
            "value": pa.array(value, pa.float64()),
        })
        f = out / f"batch-{i:05d}.parquet"
        pq.write_table(t, str(f))
        os.utime(f, (base + 10 * i, base + 10 * i))
