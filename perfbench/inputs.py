"""Seeded benchmark inputs.

Everything here is a pure function of the ``--seed`` the benchmark is run
with; the engine only ever sees the generated rows.

- ``generate_web``: ``synth.generate_web``'s host / link / robots / seed
  structure, with page body words drawn from a Zipf vocabulary of
  ``VOCAB_SIZE`` terms instead of the engine's 81-word uniform list (with
  81 words nearly every doc sits in every posting list, which hides any
  pruning gain in search). ``text == htmllib.extract_text(html)`` still
  holds: ``synth`` computes ``text`` from the rendered html.
- ``frontier_urls``: the skewed URL batch of the frontier workload,
  ``benchlib.synth_frontier`` keyed by the same seed.
- ``query_stream``: the BM25 queries, drawn from the same Zipf vocabulary.
"""

from __future__ import annotations

import bisect
import contextlib
import os
import random

VOCAB_SIZE = 30_000
ZIPF_S = 1.0
_SYLLABLES = (
    "ka ko ki ru ra re to ta ti mo ma mi ne na no lu la li so sa si be ba bo "
    "du da di ge ga go pe pa po ve va vo ze za zo"
).split()


def make_vocab(seed: int, size: int = VOCAB_SIZE) -> list[str]:
    """``size`` distinct lowercase alphabetic terms in rank order (rank 0 is
    the most frequent). Letters only, so the engine tokenizer keeps each
    term whole."""
    rng = random.Random(seed * 7919 + 1)
    words: list[str] = []
    have: set[str] = set()
    while len(words) < size:
        w = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4)))
        if w not in have:
            have.add(w)
            words.append(w)
    return words


class ZipfWords:
    """A read-only sequence whose uniform index draws are Zipf(s) over
    ``words``: ``random.choice(z)`` returns rank r with probability
    proportional to 1/(r+1)^s. Lets the engine's generator, which draws
    words with ``rng.choice``, sample a skewed vocabulary unchanged."""

    SLOTS = 1 << 24

    def __init__(self, words: list[str], s: float = ZIPF_S):
        self.words = words
        cum, acc = [], 0.0
        for r in range(len(words)):
            acc += 1.0 / (r + 1) ** s
            cum.append(acc)
        self._cum = [int(c / acc * self.SLOTS) for c in cum]

    def __len__(self) -> int:
        return self.SLOTS

    def __getitem__(self, i: int) -> str:
        return self.words[bisect.bisect_right(self._cum, i)]


@contextlib.contextmanager
def _zipf_body_words(seed: int):
    from webcrawler_spark import synth

    saved = synth._WORDS
    synth._WORDS = ZipfWords(make_vocab(seed))
    try:
        yield
    finally:
        synth._WORDS = saved


def generate_web(seed: int, n_hosts: int, n_pages: int) -> dict:
    """``synth.generate_web`` output (pages / seeds / robots rows) with Zipf
    body words. Only the word source changes; every other draw keeps its
    order, so the link graph and robots rules have the engine fixture's
    shape."""
    from webcrawler_spark import synth

    with _zipf_body_words(seed):
        return synth.generate_web(seed=seed, n_hosts=n_hosts, n_pages=n_pages)


def web_frames(spark, web: dict, out_dir: str):
    """(pages, seeds, robots) DataFrames in the engine's input schema, read
    from the Parquet files ``synth.write_parquet`` writes to ``out_dir``."""
    from webcrawler_spark import synth

    synth.write_parquet(web, out_dir)
    return tuple(
        spark.read.parquet(os.path.join(out_dir, f"{t}.parquet"))
        for t in ("pages", "seeds", "robots")
    )


def query_stream(seed: int):
    """Endless stream of BM25 queries of 1-3 terms, each term Zipf-drawn
    from the rank band below the 50 most frequent terms (head terms match
    nearly every doc and no real query stream is made of them)."""
    rng = random.Random(seed * 104729 + 3)
    z = ZipfWords(make_vocab(seed)[50:])
    while True:
        terms: list[str] = []
        for _ in range(rng.randint(1, 3)):
            t = rng.choice(z)
            if t not in terms:
                terms.append(t)
        yield terms


def frontier_urls(spark, seed: int, n_urls: int,
                  n_hosts: int = 1000, hot_hosts: int = 3, hot_frac: float = 0.3):
    """The frontier batch: ``n_urls`` candidate rows (url, source_url, depth,
    source_priority) over ids [0, n_urls). This is
    ``benchlib.synth_frontier`` with ``seed`` added to every ``xxhash64``;
    keep the two in step. ``hot_frac`` of the URLs land on ``hot_hosts``
    hosts; one in five of each normalization variant (tracking params,
    trailing slash, upper-case, explicit :443, plain) so canonicalize does
    real work. Generated JVM-side."""
    from pyspark.sql import functions as F

    ids = spark.range(n_urls)
    s = F.lit(seed)
    h = F.pmod(F.xxhash64("id", s), F.lit(1_000_000))
    host_id = F.when(
        h < int(hot_frac * 1_000_000), F.pmod(h, F.lit(hot_hosts))
    ).otherwise(F.pmod(h, F.lit(n_hosts - hot_hosts)) + hot_hosts)
    variant = F.pmod(F.xxhash64("id", s, F.lit(7)), F.lit(5))
    base = F.concat(
        F.lit("https://site"), host_id.cast("string"), F.lit(".com/page-"),
        F.col("id").cast("string"),
    )
    url = (
        F.when(variant == 0, F.concat(base, F.lit("?utm_source=bench&id=1")))
        .when(variant == 1, F.concat(base, F.lit("/")))
        .when(variant == 2, F.upper(base))
        .when(variant == 3, F.regexp_replace(base, "\\.com/", ".com:443/"))
        .otherwise(base)
    )
    return ids.select(
        url.alias("url"),
        F.lit(None).cast("string").alias("source_url"),
        F.pmod(F.xxhash64("id", s, F.lit(13)), F.lit(5)).cast("int").alias("depth"),
        F.pmod(F.xxhash64("id", s, F.lit(17)), F.lit(20)).cast("int").alias("source_priority"),
    )
