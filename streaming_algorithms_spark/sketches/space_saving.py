"""Space-Saving heavy hitters (Metwally, Agrawal & El Abbadi 2005) — the
bounded-memory top-k sketch behind the reference workload's `sparse` subtype
(heka_message_monitor.lua:562-590: per-value weights, decrement-all on
overflow, max 255 values — a decayed variant of the same idea).

Guarantees with k counters over N items: every item with true count > N/k is
tracked, and each tracked count overestimates by at most its stored error
(count - error <= true <= count).

One combine serves update and merge (Agarwal et al., "Mergeable Summaries",
PODS 2012).  A side's offset is its min count when full (k keys), else 0: it
bounds the true count of every key that side does not track.  Shared keys
sum counts and errors; a key only one side has gets the other side's offset
added to both; the union is trimmed to the top k by (-count, key).
``update_batch`` combines the batch's exact summary (offset 0), ``merge``
the other sketch.  Invariant sum(counts) <= N: each key the trim drops had a
count >= this side's offset m, and each key entering from the other side
enters at m + its count, so the dropped key pays for it.  Hence min <= N/k,
and as an untracked item's true count is at most min, every item above N/k
stays tracked.  Cost per batch of u distinct keys: one sort of <= k + u
keys, O((k+u) log(k+u)).
"""

from __future__ import annotations

import numpy as np


class SpaceSaving:
    def __init__(self, k: int = 256):
        if k < 1:
            raise ValueError("k must be >= 1")
        self.k = k
        self.counts: dict[bytes, int] = {}
        self.errors: dict[bytes, int] = {}
        self.n = 0

    def _offset(self) -> int:
        return min(self.counts.values()) if len(self.counts) >= self.k else 0

    def _combine(self, keys, counts, errors, offset: int) -> None:
        """Combine a summary (its keys may repeat) whose untracked keys are
        bounded by ``offset`` into this one; keep the top k."""
        m = len(self.counts)
        union = np.empty(m + len(keys), object)
        union[:m], union[m:] = list(self.counts), keys
        uniq, inv = np.unique(union, return_inverse=True)  # sorted keys
        unseen = np.ones((2, len(uniq)), bool)  # [not mine, not theirs]
        unseen[0, inv[:m]] = unseen[1, inv[m:]] = False
        pad = self._offset() * unseen[0] + offset * unseen[1]
        c, e = pad.astype(np.int64), pad.astype(np.int64)
        for acc, own, other in ((c, self.counts, counts), (e, self.errors, errors)):
            np.add.at(acc, inv, np.concatenate(
                [np.fromiter((own[x] for x in self.counts), np.int64, m),
                 np.asarray(other, np.int64)]))
        top = np.argsort(-c, kind="stable")[: self.k]  # ties: smaller key
        kept = uniq[top].tolist()
        self.counts = dict(zip(kept, c[top].tolist()))
        self.errors = dict(zip(kept, e[top].tolist()))

    def update_batch(self, keys, counts=None) -> None:
        keys = list(keys)
        counts = np.asarray(np.ones(len(keys)) if counts is None else counts, np.int64)
        if (counts < 0).any():
            raise ValueError("SpaceSaving is insert-only: negative count in "
                             "update_batch would break count - error <= true")
        self.n += int(counts.sum())
        self._combine(keys, counts, np.zeros_like(counts), 0)

    def estimate(self, key: bytes):
        """(upper_bound, guaranteed_min) or None if untracked."""
        if key not in self.counts:
            return None
        return self.counts[key], self.counts[key] - self.errors[key]

    def top_k(self, k: int = None):
        k = k or self.k
        items = sorted(self.counts.items(), key=lambda kv: (-kv[1], kv[0]))
        return [(key, cnt, self.errors[key]) for key, cnt in items[:k]]

    def merge(self, other: "SpaceSaving") -> "SpaceSaving":
        if self.k != other.k:
            raise ValueError("SpaceSaving k mismatch")
        self._combine(list(other.counts), list(other.counts.values()),
                      [other.errors[x] for x in other.counts], other._offset())
        self.n += other.n
        return self

    # LE layout: u32 k, u64 n, u32 entries, then per entry u32 len, key bytes,
    # u64 count, u64 error
    def to_bytes(self) -> bytes:
        parts = [
            np.array([self.k], "<u4").tobytes(),
            np.array([self.n], "<u8").tobytes(),
            np.array([len(self.counts)], "<u4").tobytes(),
        ]
        for key, c in sorted(self.counts.items()):
            parts.append(np.array([len(key)], "<u4").tobytes())
            parts.append(key)
            parts.append(np.array([c, self.errors[key]], "<u8").tobytes())
        return b"".join(parts)

    @classmethod
    def from_bytes(cls, buf: bytes) -> "SpaceSaving":
        k = int(np.frombuffer(buf[:4], "<u4")[0])
        n = int(np.frombuffer(buf[4:12], "<u8")[0])
        cnt = int(np.frombuffer(buf[12:16], "<u4")[0])
        sk = cls(k)
        sk.n = n
        off = 16
        for _ in range(cnt):
            klen = int(np.frombuffer(buf[off:off + 4], "<u4")[0])
            off += 4
            key = bytes(buf[off:off + klen])
            off += klen
            c, e = np.frombuffer(buf[off:off + 16], "<u8")
            off += 16
            sk.counts[key] = int(c)
            sk.errors[key] = int(e)
        if off != len(buf):
            raise ValueError("bad space-saving buffer")
        return sk
