"""Deterministic Common-Crawl-style ``webpages`` table synthesizer.

Schema per BASELINE.json ``input_hint`` / FIXTURES.md §B1:

    url     STRING     -- "https://{host}/{path}"; host Zipf(s=1.1) (skew!)
    warc_ts TIMESTAMP  -- uniform over a 30-day window, ms truncation
    html    BINARY     -- full deterministic page (html_text.render_page):
                          chrome + entity-escaped body; html_to_text(html)
                          == text byte-identically (never read by sketch
                          jobs — column pruning is plan-asserted)
    text    STRING     -- deterministic token sequence; Zipf tokens per lang;
                          token count ~ lognormal
    lang    STRING     -- Zipf over ~40 codes ("en" dominates)

Properties the tests rely on:

- **Pure function of the row id.** Every column derives from a Philox
  counter-based RNG keyed by (seed, doc id), so the table is identical for
  any partition count / row order — generation happens distributed via
  ``spark.range(n).mapInPandas`` with no driver-side materialization, and
  regenerating at two parallelism levels yields byte-identical data.
- **text is a pure function of url** (both derive from the duplicate-group
  id), satisfying the input_hint invariant "byte-identical extracted text
  per url".
- **~10% of urls repeated 2-5x** so distinct-count != row-count and HLL
  duplicate-% is meaningful (mirrors heka_message_monitor.lua:359-410).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..operators.html_text import render_page

SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"

# Zipf-ish language codes; index 0 ("en") dominates under s=1.3
LANGS = [
    "en", "zh", "es", "de", "fr", "ja", "ru", "pt", "it", "nl",
    "pl", "tr", "ar", "ko", "cs", "sv", "fa", "vi", "id", "el",
    "ro", "hu", "da", "th", "fi", "sk", "bg", "he", "uk", "no",
    "hr", "hi", "lt", "et", "lv", "sl", "sr", "ms", "bn", "ca",
]

_EPOCH_MS = 1735689600000  # 2025-01-01T00:00:00Z
_WINDOW_MS = 30 * 24 * 3600 * 1000


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.power(np.arange(1, n + 1, dtype=np.float64), s)
    return np.cumsum(w) / w.sum()


def _gen_batch(ids: np.ndarray, n_rows: int, n_hosts: int, seed: int,
               host_cdf: np.ndarray, lang_cdf: np.ndarray,
               vocab_cdf: np.ndarray) -> pd.DataFrame:
    out_url, out_text, out_lang, out_html = [], [], [], []
    ts_ms = np.empty(len(ids), np.int64)

    dup_pool = max(1, int(n_rows * 0.9))
    for j, i in enumerate(ids):
        r = np.random.Generator(np.random.Philox(key=[seed * 3 + 2, int(i)]))
        # ~18% of rows re-crawl an earlier url (-> ~10% of urls have 2-5 hits)
        if r.random() < 0.18:
            uid = int(r.integers(0, dup_pool))
        else:
            uid = int(i)
        ts_ms[j] = _EPOCH_MS + int(r.integers(0, _WINDOW_MS))

        # content rng: keyed by uid only => text/lang/host pure function of url
        c = np.random.Generator(np.random.Philox(key=[seed * 3 + 3, uid]))
        host = int(np.searchsorted(host_cdf, c.random()))
        lang = LANGS[int(np.searchsorted(lang_cdf, c.random()))]
        n_tok = max(3, int(np.exp(c.normal(4.6, 0.8))))  # median ~100 tokens
        toks = np.searchsorted(vocab_cdf, c.random(n_tok))
        text = " ".join(f"{lang}_w{t}" for t in toks)
        url = f"https://host{host}.example.com/{lang}/p{uid}"
        # full deterministic page (boilerplate chrome + entity-escaped body):
        # operators.html_text.html_to_text(html) reconstructs `text`
        # byte-identically — the input_hint invariant, test-asserted
        html_body = render_page(text, title=url)
        out_url.append(url)
        out_text.append(text)
        out_lang.append(lang)
        out_html.append(html_body)

    return pd.DataFrame(
        {
            "url": out_url,
            "warc_ts": pd.to_datetime(ts_ms, unit="ms"),
            "html": out_html,
            "text": out_text,
            "lang": out_lang,
        }
    )


def generate_webpages(spark: SparkSession, n_rows: int, *, n_hosts: int = 1000,
                      seed: int = 42, partitions: int = None) -> DataFrame:
    """Distributed deterministic generation: ``spark.range`` -> ``mapInPandas``.

    The result is invariant to ``partitions`` — verified by
    tests/test_webpages.py — so scaling runs at local[8] vs local[32] read
    identical inputs.
    """
    host_cdf = _zipf_cdf(n_hosts, 1.1)
    lang_cdf = _zipf_cdf(len(LANGS), 1.3)
    vocab_cdf = _zipf_cdf(5000, 1.2)

    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism

    def gen(batches):
        for pdf in batches:
            yield _gen_batch(pdf["id"].to_numpy(), n_rows, n_hosts, seed,
                             host_cdf, lang_cdf, vocab_cdf)

    return spark.range(0, n_rows, numPartitions=partitions).mapInPandas(gen, SCHEMA)


def write_webpages(spark: SparkSession, path: str, n_rows: int, **kw) -> None:
    generate_webpages(spark, n_rows, **kw).write.mode("overwrite").parquet(path)
