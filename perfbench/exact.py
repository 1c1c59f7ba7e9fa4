"""Exact answers and published-bound checks.

Exact answers come from DuckDB over the generated parquet (or from numpy
over the generated stream batches), computed once per (workload, seed,
input) and cached as JSON next to the input.  Each check returns a list of
``Check`` records; a check fails when the estimate leaves its published
bound, and its ``ratio`` is |estimate - exact| / bound.  ``error_vs_bound``
reports the mean ratio over an op's bound checks; the max rides along in
the context record.  Pass/fail checks (counts, the Welford mean, missing
items) carry no ratio.

Published bounds applied:

- HLL (m registers): the published bound is 3 * 1.04/sqrt(m) * exact + 3,
  the library's own oracle-gate form (the +3 absorbs integer rounding at
  cardinalities where HLL runs as linear counting), and ``error_vs_bound``
  divides by it.  That bound is three standard errors, so a correct sketch
  leaves it on 0.27% of estimates.  A run checks a few hundred distinct
  estimates per seed, and hll_replay.py (the stream workload's HLL states,
  replayed with the library's own HyperLogLog) breaks it on 35 of 3,600
  seeds, near 2m distinct (linear counting, whose standard error there
  exceeds 1.04/sqrt(m)) and at a few hundred; none comes past 4.2.  The
  pass/fail gate is therefore HLL_GATE_Z = 5 standard errors (+3).
- KLL (k=200): normalized rank error <= 1.65%, the DataSketches table value
  for k=200 at 99% confidence that sketches/kll.py cites.
- Count-Min (epsilon): exact <= est <= exact + epsilon * N.
- Space-Saving (k counters over N items): lo <= exact <= hi for every
  reported item, and every item with exact count > N/k is reported.
- Welford mean: exact up to float64 rounding (relative 1e-9).
"""

from __future__ import annotations

import json
import math
from dataclasses import dataclass
from pathlib import Path

import numpy as np

KLL_RANK_EPS = 0.0165
MEAN_RTOL = 1e-9
HLL_Z = 3.0       # published bound: error_vs_bound divides by it
HLL_GATE_Z = 5.0  # pass/fail gate over hundreds of estimates per seed


@dataclass(frozen=True)
class Check:
    what: str
    ok: bool
    ratio: float | None = None  # |estimate - exact| / bound; None: pass/fail only


def hll_bound(exact: float, p: int, z: float = HLL_Z) -> float:
    return z * 1.04 / math.sqrt(1 << p) * exact + 3.0


def check_hll(what: str, est: float, exact: float, p: int) -> Check:
    err = abs(est - exact)
    return Check(what, err <= hll_bound(exact, p, HLL_GATE_Z),
                 err / hll_bound(exact, p))


def rank_error(sorted_vals: np.ndarray, q: float, est: float) -> float:
    """Distance of q from the exact rank interval of ``est`` in the data
    (ties make the interval [frac < est, frac <= est])."""
    n = sorted_vals.size
    lo = np.searchsorted(sorted_vals, est, side="left") / n
    hi = np.searchsorted(sorted_vals, est, side="right") / n
    if q < lo:
        return lo - q
    if q > hi:
        return q - hi
    return 0.0


def check_kll(what: str, sorted_vals: np.ndarray, q: float, est: float) -> Check:
    err = rank_error(sorted_vals, q, est)
    return Check(what, err <= KLL_RANK_EPS, err / KLL_RANK_EPS)


def check_cms(what: str, est: int, exact: int, eps: float, n: int) -> Check:
    b = eps * n
    return Check(what, exact <= est <= exact + b, abs(est - exact) / b if b else None)


def check_mean(what: str, est: float, exact: float) -> Check:
    """Exact up to float64 rounding; an exactness check carries no error
    ratio (rounding noise is not sketch error)."""
    tol = MEAN_RTOL * max(1.0, abs(exact))
    return Check(what, abs(est - exact) <= tol)


def check_equal(what: str, got, want) -> Check:
    return Check(what, got == want)


def summarize(checks: list[Check]) -> tuple[bool, float, float, list[str]]:
    """(all ok, mean ratio, max ratio, names of the failed checks); the
    ratios are over the checks that carry one."""
    failed = [c.what for c in checks if not c.ok]
    ratios = [c.ratio for c in checks if c.ratio is not None]
    mean = sum(ratios) / len(ratios) if ratios else 0.0
    return not failed, mean, max(ratios, default=0.0), failed


# ---------------------------------------------------------------------------
# exact answers (cached JSON)
# ---------------------------------------------------------------------------


def cached(path: Path, compute):
    """Load ``path`` if present, else compute, store and return it."""
    if path.exists():
        return json.loads(path.read_text())
    val = compute()
    tmp = path.with_name(path.name + ".tmp")
    tmp.write_text(json.dumps(val))
    tmp.rename(path)
    return val


def _duck(sql: str):
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        return con.sql(sql).fetchall()
    finally:
        con.close()


def _glob(path: Path) -> str:
    return str(path / "*.parquet")


def exact_scan(path: Path) -> dict:
    """Per lang: row count, distinct urls, mean text length, and the text
    length histogram (value, count) that KLL ranks are checked against."""
    src = _glob(path)
    rows = _duck(f"""
        SELECT lang, CAST(count(*) AS BIGINT), CAST(count(DISTINCT url) AS BIGINT),
               avg(length(text))
        FROM '{src}' GROUP BY lang""")
    hist = _duck(f"""
        SELECT lang, length(text) AS len, CAST(count(*) AS BIGINT)
        FROM '{src}' GROUP BY lang, len ORDER BY lang, len""")
    out = {lang: {"n": n, "distinct": d, "mean": m, "hist": []}
           for lang, n, d, m in rows}
    for lang, ln, c in hist:
        out[lang]["hist"].append([ln, c])
    return out


def exact_tokens(path: Path, top_k: int, eps: float) -> dict:
    """Token counts: the global count of every token (Space-Saving checks),
    per-lang token totals, and per lang every token a Count-Min top-k can
    report: an item whose estimate reaches the top_k-th estimate has an
    exact count >= (top_k-th exact count) - eps * N_lang."""
    src = _glob(path)
    rows = _duck(f"""
        WITH c AS (
            SELECT lang, token, CAST(count(*) AS BIGINT) AS c
            FROM (SELECT lang, unnest(string_split(text, ' ')) AS token
                  FROM '{src}')
            GROUP BY lang, token),
        n AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY lang),
        kth AS (
            SELECT lang, c AS kc FROM (
                SELECT lang, c, row_number() OVER (PARTITION BY lang ORDER BY c DESC) AS r
                FROM c)
            WHERE r = {int(top_k)})
        SELECT c.lang, c.token, c.c, n.n,
               c.c >= coalesce(kth.kc, 0) - {float(eps)} * n.n AS head
        FROM c JOIN n USING (lang) LEFT JOIN kth USING (lang)""")
    glob_counts: dict = {}
    lang_n: dict = {}
    lang_head: dict = {}
    for lang, tok, c, n, head in rows:
        glob_counts[tok] = glob_counts.get(tok, 0) + c
        lang_n[lang] = n
        if head:
            lang_head.setdefault(lang, {})[tok] = c
    return {
        "global": glob_counts,
        "global_n": int(sum(glob_counts.values())),
        "lang_n": lang_n,
        "lang_head": lang_head,
    }


def hist_sorted(hist) -> np.ndarray:
    """Expand a (value, count) histogram into the sorted value array."""
    vals = np.array([v for v, _ in hist], np.float64)
    cnts = np.array([c for _, c in hist], np.int64)
    return np.repeat(vals, cnts)
