"""Seeded inputs for the pipeline workloads: dataset pages, the crawl list,
fetch faults, search queries, and the fake fetcher.

Everything is a pure function of ``seed`` (``random.Random`` with string
seeds, no set iteration), so the same seed gives byte-identical inputs in
any process.  Page lengths come from a fixed stratified schedule that the
seed only permutes: every seed has the same total chunk count, so runs
with different seeds do the same amount of work.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

from coldata_spark.functions.text import CHUNK_SIZE, CHUNK_STRIDE

# Two of the reference's crawl sources (each source is its own crawl plan,
# so this sets the crawl's job count); enabled, no politeness sleep.
SOURCES = ("UCI", "HuggingFace")
VOCAB_SIZE = 4000
ZIPF_S = 1.1
MAX_CHUNKS = 150
# truncated power law on [1, MAX_CHUNKS] chunks; 0.6 gives a mean of ~10
# chunks per page, the ratio measured on the reference crawl (4k pages,
# ~40k chunks)
LENGTH_ALPHA = 0.6
CROSS_LISTED = 0.01  # share of urls a second source also lists
FAIL_ONCE = 0.03  # share of urls whose first fetch fails (retried)
ALWAYS_FAIL = 0.01  # share of urls that never fetch (dropped)

_SYLLABLES = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]


def vocabulary() -> list[str]:
    """VOCAB_SIZE distinct pronounceable words, rank order = Zipf order."""
    n = len(_SYLLABLES)
    words = []
    for i in range(VOCAB_SIZE):
        parts, k = [], i + n
        while k:
            k, r = divmod(k, n)
            parts.append(_SYLLABLES[r])
        words.append("".join(parts))
    return words


def _zipf_cum_weights(n: int) -> list[float]:
    total, cum = 0.0, []
    for r in range(n):
        total += 1.0 / (r + 1) ** ZIPF_S
        cum.append(total)
    return cum


def chunk_schedule(n_pages: int) -> list[int]:
    """Chunks per page at the stratified quantiles of the length law."""
    a, hi = LENGTH_ALPHA, float(MAX_CHUNKS)
    out = []
    for i in range(n_pages):
        u = (i + 0.5) / n_pages
        x = (1.0 - u * (1.0 - hi ** -a)) ** (-1.0 / a)
        out.append(max(1, min(MAX_CHUNKS, int(x))))
    return out


def page_chars(n_chunks: int) -> int:
    """Text length that functions.text.chunk_starts splits into n_chunks."""
    return CHUNK_SIZE + CHUNK_STRIDE * (n_chunks - 1)


@dataclass
class Crawl:
    """One crawl list plus everything the fake fetcher serves for it."""

    pages: dict[str, str] = field(default_factory=dict)
    urls_by_source: dict[str, list[str]] = field(default_factory=dict)
    fail_once: list[str] = field(default_factory=list)
    always_fail: list[str] = field(default_factory=list)

    def distinct_urls(self) -> list[str]:
        return sorted({u for us in self.urls_by_source.values() for u in us})

    def storable(self) -> int:
        """Rows a correct pass stores: distinct urls minus the dropped ones."""
        return len(self.distinct_urls()) - len(self.always_fail)


def make_crawl(seed: int, n_pages: int) -> Crawl:
    """``n_pages`` pages over SOURCES with cross-listings and fetch faults."""
    rng = random.Random(f"crawl:{seed}")
    words = vocabulary()
    cum = _zipf_cum_weights(len(words))
    sizes = chunk_schedule(n_pages)
    rng.shuffle(sizes)
    crawl = Crawl(urls_by_source={s: [] for s in SOURCES})
    urls = []
    for i, n_chunks in enumerate(sizes):
        source = SOURCES[rng.randrange(len(SOURCES))]
        url = f"https://{source.lower()}.example/{seed}/{i:06d}"
        want = page_chars(n_chunks)
        toks = [f"dataset {url.rsplit('/', 1)[1]}"]
        size = len(toks[0])
        while size < want:
            batch = rng.choices(words, cum_weights=cum, k=32)
            toks.extend(batch)
            size += sum(len(w) + 1 for w in batch)
        crawl.pages[url] = " ".join(toks)[:want]
        crawl.urls_by_source[source].append(url)
        urls.append(url)
    for url in rng.sample(urls, max(1, round(CROSS_LISTED * n_pages))):
        owner = next(s for s in SOURCES if url in crawl.urls_by_source[s])
        other = [s for s in SOURCES if s != owner]
        crawl.urls_by_source[other[rng.randrange(len(other))]].append(url)
    faulty = rng.sample(
        urls,
        max(1, round(FAIL_ONCE * n_pages)) + max(1, round(ALWAYS_FAIL * n_pages)),
    )
    n_always = max(1, round(ALWAYS_FAIL * n_pages))
    crawl.always_fail = sorted(faulty[:n_always])
    crawl.fail_once = sorted(faulty[n_always:])
    return crawl


def make_fetcher_factory(crawl: Crawl, attempts=None):
    """Fake fetcher factory over ``crawl``'s pages and faults.

    Built inside a function so cloudpickle ships it by value: executors
    need neither this module nor network access.  ``attempts`` is an
    optional Spark accumulator counting every fetch call."""
    pages = dict(crawl.pages)
    fail_once = frozenset(crawl.fail_once)
    always_fail = frozenset(crawl.always_fail)

    def fetcher_factory():
        failed: set[str] = set()

        def fetch(url: str) -> str:
            if attempts is not None:
                attempts.add(1)
            if url in always_fail:
                raise OSError(f"fetch failed: {url}")
            if url in fail_once and url not in failed:
                failed.add(url)
                raise OSError(f"transient fetch failure: {url}")
            return pages[url]

        return fetch

    return fetcher_factory


@dataclass
class Query:
    text: str
    page_url: str | None  # the page a known-item query was cut from


def make_queries(seed: int, crawl: Crawl, n: int = 32) -> list[Query]:
    """Half known-item queries (one chunk-aligned span of a stored page, so
    its own chunk embeds identically), half Zipf-drawn word lists."""
    rng = random.Random(f"queries:{seed}")
    dropped = set(crawl.always_fail)
    stored = [u for u in crawl.pages if u not in dropped]
    out = []
    for url in rng.sample(stored, n // 2):
        text = crawl.pages[url]
        n_chunks = 1 + max(0, -(-(len(text) - CHUNK_SIZE) // CHUNK_STRIDE))
        i = rng.randrange(n_chunks)
        out.append(Query(text[i * CHUNK_STRIDE: i * CHUNK_STRIDE + CHUNK_SIZE], url))
    words = vocabulary()
    cum = _zipf_cum_weights(len(words))
    for _ in range(n - n // 2):
        out.append(Query(" ".join(rng.choices(words, cum_weights=cum, k=rng.randint(2, 5))), None))
    return out
