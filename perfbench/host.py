"""Host context read from /proc (psutil is not installed): the peak summed
resident memory (Pss) of the benchmark's process tree, and two host
controls taken before and after each run: a fixed numpy kernel (CPU and
memory bandwidth) and a write+fsync throughput probe (disk).  The controls are context only: they
explain a noisy run and never gate one."""

from __future__ import annotations

import os
import threading
import time
from pathlib import Path

import numpy as np


def nproc() -> int:
    """CPUs this process may run on (ignores OMP_NUM_THREADS, unlike nproc(1))."""
    return len(os.sched_getaffinity(0))


def _children(pid: int) -> list[int]:
    kids = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                kids.extend(int(c) for c in fh.read().split())
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return kids


def _read(path: str) -> str:
    try:
        with open(path) as fh:
            return fh.read()
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return ""


def _pss_kb(pid: int) -> int:
    for line in _read(f"/proc/{pid}/smaps_rollup").splitlines():
        if line.startswith("Pss:"):
            return int(line.split()[1])
    return 0


def _image(pid: int) -> tuple:
    """(executable, virtual size in pages) of a process."""
    try:
        exe = os.readlink(f"/proc/{pid}/exe")
    except OSError:
        exe = ""
    size = _read(f"/proc/{pid}/statm").split()[:1]
    return exe, int(size[0]) if size else 0


def _shares_parent(img: tuple, parent: tuple | None) -> bool:
    """A child running the parent's executable with the parent's virtual
    size (within 1%, as the two are read a moment apart) is the JVM's
    transient spawn child before exec: it shares the parent's address
    space, so its Pss is the parent's counted again."""
    return (parent is not None and img[0] == parent[0] and img[1] > 0
            and abs(img[1] - parent[1]) <= 0.01 * parent[1])


def tree_rss_mb(root: int) -> float:
    """Summed proportional RSS (Pss) of ``root`` and its descendants.
    Pss counts pages shared by the forked Python workers and their daemon
    once across the tree; address-space sharers are skipped."""
    total, todo, seen = 0, [(root, None)], set()
    while todo:
        pid, parent = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        img = _image(pid)
        if not _shares_parent(img, parent):
            total += _pss_kb(pid)
        todo.extend((c, img) for c in _children(pid))
    return total / 1024.0


class RssSampler:
    """Background sampler of the process tree's summed RSS; ``peak_mb``
    holds the highest sample between ``start`` and ``stop``."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = None

    def start(self) -> "RssSampler":
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(me))
            self._stop.wait(self.interval_s)

    def stop(self) -> float:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))
        return self.peak_mb


def kernel_control_s() -> float:
    """Best of three runs of a fixed numpy sort + scatter-max kernel."""
    rng = np.random.default_rng(7)
    x = rng.random(1 << 20)
    idx = rng.integers(0, 1 << 14, size=1 << 20)
    regs = np.zeros(1 << 14)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        np.sort(x)
        np.maximum.at(regs, idx, x)
        best = min(best, time.perf_counter() - t0)
    return best


def disk_mb_s(scratch: Path, mb: int = 16) -> float:
    """Write ``mb`` MB and fsync it under ``scratch``; MB/s."""
    scratch.mkdir(parents=True, exist_ok=True)
    f = scratch / "disk_probe.bin"
    buf = os.urandom(1 << 20)
    t0 = time.perf_counter()
    with open(f, "wb") as fh:
        for _ in range(mb):
            fh.write(buf)
        fh.flush()
        os.fsync(fh.fileno())
    dt = time.perf_counter() - t0
    f.unlink()
    return mb / dt


def controls(scratch: Path) -> dict:
    return {"kernel_control_s": kernel_control_s(), "disk_mb_s": disk_mb_s(scratch)}
