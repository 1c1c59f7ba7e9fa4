#!/usr/bin/env python3
"""Offline replay of the stream_state HLL checks over many seeds (no Spark).

    python3 perfbench/hll_replay.py --first 0 --count 600

For each seed it regenerates the stream input, hashes the user ids as
Spark's xxhash64 does, feeds the library's own HyperLogLog per key batch
by batch, exactly as ``streaming_multi_sketch`` builds its state, and
records the worst error in standard errors (1.04/sqrt(m) * exact, beyond
the +3 rounding slack of the bound).  It prints how many seeds put an
estimate past the published three standard errors and past the gate
(exact.HLL_GATE_Z); this is how the gate was chosen (README.md).
"""

from __future__ import annotations

import argparse
import math
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import numpy as np  # noqa: E402

from perfbench import exact as ex  # noqa: E402
from perfbench.inputs import _stream_batches  # noqa: E402
from perfbench.workloads import EVENTS_STREAM, STREAM_HLL_P  # noqa: E402
from streaming_algorithms_spark.sketches import HyperLogLog  # noqa: E402

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def spark_xxhash64_long(v: np.ndarray, seed: int = 42) -> np.ndarray:
    """Spark's ``xxhash64`` of a bigint column (XXH64.hashLong), as uint64."""
    with np.errstate(over="ignore"):
        h = np.uint64(seed) + _P5 + np.uint64(8)
        h = h ^ (_rotl(v.astype(np.uint64) * _P2, 31) * _P1)
        h = _rotl(h, 27) * _P1 + _P4
        h ^= h >> np.uint64(33)
        h *= _P2
        h ^= h >> np.uint64(29)
        h *= _P3
        return h ^ (h >> np.uint64(32))


def worst_sigmas(seed: int) -> float:
    """Largest |estimate - exact| over every (key, batch) state of the
    seed's stream, in standard errors."""
    se = 1.04 / math.sqrt(1 << STREAM_HLL_P)
    sketches, users, worst = {}, {}, 0.0
    for key, user, _ in _stream_batches(seed, EVENTS_STREAM):
        hashes = spark_xxhash64_long(user)
        for k in np.unique(key):
            m = key == k
            sk = sketches.setdefault(k, HyperLogLog(STREAM_HLL_P))
            sk.add_hashes(hashes[m])
            users[k] = np.union1d(users.get(k, user[:0]), user[m])
            n = users[k].size
            err = max(0.0, abs(round(sk.estimate()) - n) - 3.0)
            worst = max(worst, err / (se * n))
    return worst


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--first", type=int, default=0)
    ap.add_argument("--count", type=int, default=600)
    args = ap.parse_args()
    # Spark 4.1.2: SELECT xxhash64(CAST(3 AS BIGINT)), xxhash64(CAST(4 AS BIGINT))
    got = spark_xxhash64_long(np.array([3, 4])).tolist()
    assert got == [3188756510806108107, 404280023041566627], got
    worst = [worst_sigmas(s) for s in range(args.first, args.first + args.count)]
    print(f"seeds {args.count}: past {ex.HLL_Z:g} standard errors "
          f"{sum(w > ex.HLL_Z for w in worst)}, past the gate ({ex.HLL_GATE_Z:g}) "
          f"{sum(w > ex.HLL_GATE_Z for w in worst)}, worst {max(worst):.2f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
