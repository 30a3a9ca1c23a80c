"""Generator checks: ``python -m pytest perfbench -q`` from the repo root.

No Spark: the exhaustive search here is a numpy scan over every chunk,
chunked exactly as ``search.build_index`` chunks (fixed 128-char windows at
a 64-char stride) and embedded with the benchmark's encoder.
"""

from __future__ import annotations

import pickle

import cloudpickle
import numpy as np
import pytest

from coldata_spark.embed import TinyNumpyEncoder
from coldata_spark.functions.text import CHUNK_SIZE, CHUNK_STRIDE
from perfbench import gen


def _dump(crawl: gen.Crawl, queries) -> bytes:
    return pickle.dumps(
        (crawl.pages, crawl.urls_by_source, crawl.fail_once, crawl.always_fail,
         [(q.text, q.page_url) for q in queries])
    )


def test_same_seed_gives_byte_identical_inputs():
    a = gen.make_crawl(7, 120)
    b = gen.make_crawl(7, 120)
    assert _dump(a, gen.make_queries(7, a)) == _dump(b, gen.make_queries(7, b))
    c = gen.make_crawl(8, 120)
    assert _dump(a, gen.make_queries(7, a)) != _dump(c, gen.make_queries(8, c))


def test_work_is_seed_independent_and_long_tailed():
    chunks = []
    for seed in (1, 2):
        crawl = gen.make_crawl(seed, 200)
        n = [1 + max(0, -(-(len(t) - CHUNK_SIZE) // CHUNK_STRIDE)) for t in crawl.pages.values()]
        chunks.append(sorted(n))
    assert chunks[0] == chunks[1]
    assert chunks[0][0] == 1 and chunks[0][-1] >= 100
    assert 8 <= np.mean(chunks[0]) <= 12


def test_cross_listing_and_faults():
    crawl = gen.make_crawl(3, 400)
    listed = sum(len(us) for us in crawl.urls_by_source.values())
    assert listed - len(crawl.distinct_urls()) == round(gen.CROSS_LISTED * 400)
    assert not set(crawl.fail_once) & set(crawl.always_fail)
    assert crawl.storable() == 400 - len(crawl.always_fail)


def test_fetcher_retries_transient_and_drops_permanent_failures():
    crawl = gen.make_crawl(4, 100)
    # shipped by value: the round trip must not need this module's globals
    fetch = pickle.loads(cloudpickle.dumps(gen.make_fetcher_factory(crawl)))()
    flaky, dead = crawl.fail_once[0], crawl.always_fail[0]
    with pytest.raises(OSError):
        fetch(flaky)
    assert fetch(flaky) == crawl.pages[flaky]
    for _ in range(3):
        with pytest.raises(OSError):
            fetch(dead)


def test_known_item_queries_find_their_page_exhaustively():
    crawl = gen.make_crawl(5, 150)
    dropped = set(crawl.always_fail)
    owners, texts = [], []
    for url, text in crawl.pages.items():
        if url in dropped:
            continue
        n = 1 + max(0, -(-(len(text) - CHUNK_SIZE) // CHUNK_STRIDE))
        for i in range(n):
            owners.append(url)
            texts.append(text[i * CHUNK_STRIDE: i * CHUNK_STRIDE + CHUNK_SIZE])
    enc = TinyNumpyEncoder()
    X = enc(texts)
    known = [q for q in gen.make_queries(5, crawl) if q.page_url]
    assert len(known) == 16
    for q in known:
        scores = X @ enc([q.text])[0]
        assert owners[int(np.argmax(scores))] == q.page_url
