"""Library API: quick_analysis, config validation, plug-in analyzers, stats."""

import pytest
from pyspark.sql import functions as F

from crawler_seo_spark.api import (
    apply_quick_mode,
    crawl_stats,
    quick_analysis,
    validate_config,
)
from crawler_seo_spark.config import CrawlConfig
from crawler_seo_spark.sources.synthetic_site import SEED_URL


def test_validate_config():
    validate_config(CrawlConfig(seed_url="https://x.test/", max_urls=5))
    with pytest.raises(ValueError):
        validate_config(CrawlConfig(seed_url="ftp://x/", max_urls=5))
    with pytest.raises(ValueError):
        validate_config(CrawlConfig(seed_url="https://x.test/", max_urls=0))
    with pytest.raises(ValueError):
        validate_config(CrawlConfig(seed_url="https://x.test/", max_depth=99))


def test_engine_rejects_fetch_robots_with_page_store(spark, pages_df):
    """Live robots acquisition has nothing to fetch from a page store; the
    engine must refuse the setting instead of crawling without robots."""
    from crawler_seo_spark.engine import CrawlEngine
    with pytest.raises(ValueError, match="fetch_robots"):
        CrawlEngine(spark, pages_df,
                    CrawlConfig(seed_url=SEED_URL, fetch_robots=True))


def test_engine_rejects_unknown_seen_filter(spark, pages_df):
    """A misspelled seen filter must fail, not fall through to Bloom."""
    from crawler_seo_spark.engine import CrawlEngine
    with pytest.raises(ValueError, match="seen_filter"):
        CrawlEngine(spark, pages_df,
                    CrawlConfig(seed_url=SEED_URL, seen_filter="cukoo"))


def test_quick_mode_caps():
    cfg = apply_quick_mode(CrawlConfig(seed_url="https://x.test/",
                                       max_urls=5000, max_depth=10))
    assert cfg.max_urls == 100 and cfg.max_depth == 3 and cfg.batch_size == 5


def test_quick_analysis_end_to_end(spark, pages_df, tmp_path):
    def word_count_analyzer(df):
        """P2-style plug-in: adds a column derived from the analysis."""
        return df.withColumn(
            "title_words",
            F.size(F.split(F.coalesce(F.col("analysis.title"), F.lit("")),
                           r"\s+")))

    wide, state, stats = quick_analysis(
        spark, pages_df, SEED_URL, max_urls=40, quick=False,
        analyzers=[word_count_analyzer],
        report_dir=str(tmp_path / "report"))

    assert wide.count() == 40
    assert stats["urls_processed"] == 40
    assert 0 < stats["success_rate"] <= 100
    assert stats["urls_per_second"] > 0
    assert set(stats["filter_breakdown"]) <= {
        "ECOMMERCE_ENDPOINT", "FILE_EXTENSION", "TECHNICAL_PATTERN",
        "INVALID_URL"}
    # plug-in column survives into the raw results
    assert "title_words" in state.results.columns
    assert (tmp_path / "report" / "analise_completa").exists()
    assert (tmp_path / "report" / "resumo_executivo").exists()


def test_quick_mode_depth_cap_limits_crawl(spark, pages_df):
    """quick=True caps depth at 3 — the crawl exhausts the ≤3-hop set even
    with budget to spare (reference quick-mode behavior, main.py:335-341)."""
    wide, state, stats = quick_analysis(spark, pages_df, SEED_URL,
                                        max_urls=100, quick=True)
    assert stats["urls_processed"] < 100
    assert wide.agg({"depth": "max"}).collect()[0][0] <= 3
