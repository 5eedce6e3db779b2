"""State-checkpoint storage policy (round 4): every in-memory state
materialization funnels through CrawlEngine._ckpt, which stores blocks
SERIALIZED (off-heap when the session enables it, on-heap otherwise)
instead of localCheckpoint's deserialized default.

Why pinned: deserialized state turns superlinear once it outgrows the
heap's storage pool — a 2x bench corpus (4.2M pages, local[16], 32g heap)
measured 4-14x phase walls (claim 14x, persist 10.6x) from old-gen churn;
serialized blocks cut that run 12% end-to-end and the claim phase 60%,
with no regression when state fits (same-minutes A/B at the 2.1M corpus).
Storage level must never change a byte of output."""

import pytest

from google_maps_scraper_spark.plans.crawl import (
    CrawlConfig,
    CrawlEngine,
    _state_storage_level,
)
from google_maps_scraper_spark.sources.corpus import corpus_to_spark, generate_corpus

NOW = 1786838400000000


def _seeds(corpus):
    return [(s["query"].split("#!#")[0].strip(), s["custom_id"]) for s in corpus.seeds]


@pytest.fixture(scope="module")
def pages_and_seeds(spark):
    corpus = generate_corpus(n_seeds=3, places_per_serp=4, seed=53)
    pages = corpus_to_spark(spark, corpus).localCheckpoint(eager=True)
    return pages, _seeds(corpus)


def test_level_selection(spark):
    from types import SimpleNamespace

    from pyspark import StorageLevel

    # the test session runs without spark.memory.offHeap.enabled, so the
    # engine must pick serialized ON-HEAP (OFF_HEAP blocks need the pool)
    assert _state_storage_level(spark) == StorageLevel.MEMORY_AND_DISK
    # with the pool enabled the blocks leave the heap entirely (a static
    # conf the shared test session cannot flip, so a stub session)
    conf = {"spark.memory.offHeap.enabled": "true"}
    stub = SimpleNamespace(conf=SimpleNamespace(get=lambda k, d=None: conf.get(k, d)))
    assert _state_storage_level(stub) == StorageLevel.OFF_HEAP


def test_serialized_state_byte_identical(
    spark, pages_and_seeds, tmp_path_factory, monkeypatch
):
    """The storage level is an executor-memory policy, not a semantic: a
    full email crawl must produce identical results and counters under the
    on-heap and the off-heap serialized levels the engine selects between
    (without an off-heap pool, OFF_HEAP blocks land on disk)."""
    import google_maps_scraper_spark.plans.crawl as crawl_mod
    from pyspark import StorageLevel

    pages, seeds = pages_and_seeds

    def _run(level, wd):
        monkeypatch.setattr(crawl_mod, "_state_storage_level", lambda _s: level)
        eng = CrawlEngine(
            spark, pages, str(wd),
            CrawlConfig(extract_email=True, now_micros=NOW, checkpoint_every=1),
        )
        eng.seed_from_queries(seeds)
        counters = eng.run()
        rows = {
            (x["link"], x["canonical_json"])
            for x in eng.results.select("link", "canonical_json").collect()
        }
        return counters, rows

    c_on, r_on = _run(StorageLevel.MEMORY_AND_DISK, tmp_path_factory.mktemp("wd-on"))
    c_off, r_off = _run(StorageLevel.OFF_HEAP, tmp_path_factory.mktemp("wd-off"))
    assert c_on == c_off
    assert r_on == r_off
    assert len(r_off) > 0
