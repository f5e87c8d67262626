"""Oracle parity on the documents-derived site — the corpus the CLI's
``--from-documents`` crawl and the benchmarks run on."""

import pytest

from crawler_seo_spark.config import CrawlConfig
from crawler_seo_spark.engine import CrawlEngine
from crawler_seo_spark.oracle import run_oracle
from crawler_seo_spark.sources.from_documents import (
    SEED_URL,
    pages_df_from_documents,
    store_from_documents,
)

SF = "/root/testdata/sf0.001"
LIMIT = 150


@pytest.fixture(scope="module")
def doc_pages(spark):
    return pages_df_from_documents(spark, SF, limit=LIMIT) \
        .localCheckpoint(eager=True)


@pytest.fixture(scope="module")
def doc_store(spark):
    rows = [(r["doc_id"], r["text"]) for r in
            spark.read.parquet(f"{SF}/documents.parquet")
            .filter(f"doc_id < {LIMIT}").collect()]
    return store_from_documents(rows, LIMIT)


def test_derived_site_crawl_matches_oracle(spark, doc_pages, doc_store):
    cfg = CrawlConfig(seed_url=SEED_URL, max_urls=90, batch_size=20)
    oracle = run_oracle(doc_store, cfg)
    engine = CrawlEngine(spark, doc_pages, cfg).run()
    got = [(r["crawl_seq"], r["url"], r["depth"], r["priority"])
           for r in engine.crawl_order.orderBy("crawl_seq").collect()]
    want = [(r["crawl_seq"], r["url"], r["depth"], r["priority"])
            for r in oracle.crawl_order]
    assert got == want
    assert {r["url"] for r in engine.seen.collect()} == oracle.seen_urls


def test_derived_site_deterministic(spark, doc_pages):
    cfg = CrawlConfig(seed_url=SEED_URL, max_urls=40, batch_size=10)
    a = [r["url"] for r in CrawlEngine(spark, doc_pages, cfg).run()
         .crawl_order.orderBy("crawl_seq").collect()]
    b = [r["url"] for r in CrawlEngine(spark, doc_pages, cfg).run()
         .crawl_order.orderBy("crawl_seq").collect()]
    assert a == b
