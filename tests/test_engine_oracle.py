"""The north-rule acceptance test: the Spark engine must reproduce the
pure-Python oracle's crawl order, seen set and filtered log EXACTLY, under
the same seed + budgets (BASELINE.json north_rule)."""

import collections

import pytest

from crawler_seo_spark.config import CrawlConfig
from crawler_seo_spark.engine import CrawlEngine
from crawler_seo_spark.oracle import run_oracle
from crawler_seo_spark.sources.synthetic_site import SEED_URL


def _run_both(spark, small_site, pages_df, **cfg_kw):
    cfg = CrawlConfig(seed_url=SEED_URL, **cfg_kw)
    oracle = run_oracle(small_site, cfg)
    engine = CrawlEngine(spark, pages_df, cfg).run()
    return oracle, engine


@pytest.fixture(scope="module")
def smart_runs(spark, small_site, pages_df):
    return _run_both(spark, small_site, pages_df,
                     max_urls=150, batch_size=25, smart=True)


def test_crawl_order_exact(smart_runs):
    oracle, engine = smart_runs
    got = [(r["crawl_seq"], r["url"], r["depth"], r["priority"])
           for r in engine.crawl_order.orderBy("crawl_seq").collect()]
    want = [(r["crawl_seq"], r["url"], r["depth"], r["priority"])
            for r in oracle.crawl_order]
    assert len(got) == len(want)
    assert got == want


def test_seen_set_exact(smart_runs, spark):
    oracle, engine = smart_runs
    got = {(r["url"], r["url_md5"]) for r in engine.seen.collect()}
    assert {u for u, _ in got} == oracle.seen_urls
    assert {h for _, h in got} == oracle.seen_hashes


def test_filtered_log_counts(smart_runs):
    oracle, engine = smart_runs
    got = collections.Counter(
        (r["url"], r["reason"]) for r in engine.filtered.collect())
    want = collections.Counter(
        (f["url"], f["reason"]) for f in oracle.filtered)
    assert got == want


def test_round_boundaries(smart_runs):
    oracle, engine = smart_runs
    got = {(r["round"], r["dequeued"], r["enqueued"]) for r in engine.rounds}
    want = {(r["round"], r["dequeued"], r["enqueued"]) for r in oracle.rounds}
    assert got == want


def test_fifo_mode_exact(spark, small_site, pages_df):
    """Non-smart (single FIFO deque) mode."""
    oracle, engine = _run_both(spark, small_site, pages_df,
                               max_urls=60, batch_size=10, smart=False)
    got = [(r["crawl_seq"], r["url"]) for r in
           engine.crawl_order.orderBy("crawl_seq").collect()]
    want = [(r["crawl_seq"], r["url"]) for r in oracle.crawl_order]
    assert got == want


def test_batch_size_one_exact(spark, small_site, pages_df):
    """batch=1 is the strictest sequencing (equivalent to the reference at
    max_threads=1, where its behavior is fully deterministic)."""
    oracle, engine = _run_both(spark, small_site, pages_df,
                               max_urls=20, batch_size=1, smart=True)
    got = [r["url"] for r in engine.crawl_order.orderBy("crawl_seq").collect()]
    want = [r["url"] for r in oracle.crawl_order]
    assert got == want


def test_bloom_path_exact(spark, small_site, pages_df):
    """With bloom_min_seen=0 the Bloom prefilter is active from round 0 —
    results must be identical (false positives only cost join probes)."""
    oracle, engine = _run_both(spark, small_site, pages_df,
                               max_urls=80, batch_size=20, smart=True,
                               bloom_min_seen=0, bloom_seen_batch_ratio=0, bloom_shards=8,
                               bloom_bits_per_shard=1 << 14)
    assert any(r["bloom_active"] for r in engine.rounds)
    got = [r["url"] for r in engine.crawl_order.orderBy("crawl_seq").collect()]
    want = [r["url"] for r in oracle.crawl_order][:80]
    assert got == want
    assert {r["url"] for r in engine.seen.collect()} == oracle.seen_urls


def test_cuckoo_filter_path_exact(spark, small_site, pages_df):
    """seen_filter="cuckoo": the deletable filter must reproduce the exact
    crawl too (same prune contract as Bloom — misses bypass, maybes get the
    exact anti-join)."""
    oracle, engine = _run_both(spark, small_site, pages_df,
                               max_urls=80, batch_size=20, smart=True,
                               bloom_min_seen=0, bloom_seen_batch_ratio=0, bloom_shards=8,
                               seen_filter="cuckoo",
                               cuckoo_buckets_per_shard=1 << 11)
    assert any(r["bloom_active"] for r in engine.rounds)
    got = [r["url"] for r in engine.crawl_order.orderBy("crawl_seq").collect()]
    want = [r["url"] for r in oracle.crawl_order][:80]
    assert got == want
    assert {r["url"] for r in engine.seen.collect()} == oracle.seen_urls


def test_distributed_sequence_exact(spark, small_site, pages_df):
    """seq_window_threshold=0 forces the distributed prefix-sum dequeue
    on every round — crawl order must stay exact."""
    oracle, engine = _run_both(spark, small_site, pages_df,
                               max_urls=80, batch_size=20, smart=True,
                               seq_window_threshold=0)
    got = [(r["crawl_seq"], r["url"]) for r in
           engine.crawl_order.orderBy("crawl_seq").collect()]
    want = [(r["crawl_seq"], r["url"]) for r in oracle.crawl_order][:80]
    assert got == want


def test_multi_seed_exact(spark, small_site, pages_df):
    """Multi-seed frontier (FIXTURES.md §4 variant): engine == oracle."""
    seeds = [
        "https://shop.example.test/",
        "https://shop.example.test/product/item-11",
        "https://shop.example.test/blog/post-6",
        "https://shop.example.test/page/info-108",
    ]
    oracle, engine = _run_both(spark, small_site, pages_df,
                               max_urls=60, batch_size=20, smart=True,
                               seed_urls=seeds)
    got = [(r["crawl_seq"], r["url"], r["priority"]) for r in
           engine.crawl_order.orderBy("crawl_seq").collect()]
    want = [(r["crawl_seq"], r["url"], r["priority"])
            for r in oracle.crawl_order]
    assert got == want
    # priority seeds dequeue before normal seeds
    assert got[0][1].endswith("/product/item-11") or got[0][2]


def test_budget_cut_mid_batch(spark, small_site, pages_df):
    """max_urls not divisible by batch_size → final partial batch."""
    oracle, engine = _run_both(spark, small_site, pages_df,
                               max_urls=37, batch_size=10, smart=True)
    assert engine.crawl_order.count() == len(oracle.crawl_order) == 37
    got = [r["url"] for r in engine.crawl_order.orderBy("crawl_seq").collect()]
    want = [r["url"] for r in oracle.crawl_order]
    assert got == want
