"""Physical-plan assertions: the optimizations we claim must show up in
``explain()`` output — broadcast joins for small sides, pinned partition
counts, no Python in JVM-only pipelines."""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_enrich_has_no_python(spark, pages_df):
    """The enrichment stage must be pure JVM (no Python workers): scores,
    windows, warnings are Catalyst expressions."""
    from crawler_seo_spark.config import CrawlConfig
    from crawler_seo_spark.engine import CrawlEngine
    from crawler_seo_spark.plans.enrich import enrich_results
    from crawler_seo_spark.sources.synthetic_site import SEED_URL
    state = CrawlEngine(spark, pages_df, CrawlConfig(
        seed_url=SEED_URL, max_urls=10, batch_size=5)).run()
    raw = state.results.localCheckpoint(eager=True)
    p = plan(enrich_results(raw))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "FlatMapsInPandas",
                   "MapInPandas"):
        assert marker not in p, marker
    assert "Window" in p  # the duplicate-flag windows


def test_text_analysis_is_jvm_only(spark):
    from crawler_seo_spark.operators.text import with_text_analysis
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = with_text_analysis(docs)
    p = plan(out)
    assert "Python" not in p and "Pandas" not in p
    # '*(n)' marks whole-stage-codegen'd operators. r6 adds one
    # input-widening round-robin exchange ahead of the projection (a
    # tiny single-file scan otherwise runs the regex-heavy projection
    # in one task — operators/partitioning.py), which makes the plan
    # ADAPTIVE; AQE's pre-execution string hides the codegen markers,
    # so execute THIS DataFrame's own query (collect finalizes its
    # AdaptiveSparkPlan) and assert on the final plan.
    out.collect()
    p_final = plan(out)
    assert "Python" not in p_final and "Pandas" not in p_final
    assert "*(" in p_final, p_final[:200]


def test_fetch_join_broadcasts_batch_not_store(spark, pages_df):
    """The page store (the 100 TB side) must stream through a broadcast
    hash join — never shuffle, never broadcast itself: store mode's
    lookup broadcasts the batch's urls into a semi-join over the store,
    then broadcasts only the matching pages into the batch's left join."""
    from crawler_seo_spark.config import CrawlConfig
    from crawler_seo_spark.engine import CrawlEngine
    from crawler_seo_spark.sources.synthetic_site import SEED_URL
    eng = CrawlEngine(spark, pages_df, CrawlConfig(
        seed_url=SEED_URL, max_urls=10, batch_size=5))
    frontier = eng._seed_frontier().frontier
    batch = frontier.limit(5).withColumn("crawl_seq", F.lit(0).cast("long")) \
        .withColumn("round", F.lit(0))
    from crawler_seo_spark.operators.politeness import schedule_fetches
    batch = schedule_fetches(batch, 10.0)
    p = plan(eng._store_lookup(batch))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    # walk down from each BroadcastExchange through its single-child
    # operators: reaching the store scan (the only scan with page_index)
    # before a join means the store itself is broadcast
    lines = p.splitlines()

    def depth(line):
        return len(line) - len(line.lstrip(" :+-"))

    for i, line in enumerate(lines):
        if "BroadcastExchange" not in line:
            continue
        for child in lines[i + 1:]:
            if depth(child) <= depth(line) or "Join" in child:
                break
            assert not ("Scan" in child and "page_index" in child), p


def test_lsh_band_join_shuffles_only_band_keys(spark):
    """The LSH band self-join must not carry the signature arrays through
    the exchange — only (id, band, band_key)."""
    from crawler_seo_spark.operators.dedup import (
        lsh_candidate_pairs, minhash_signatures)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sigs = minhash_signatures(docs, k=8).localCheckpoint(eager=True)
    p = plan(lsh_candidate_pairs(sigs, bands=4))
    # every shuffle exchange moves only (id, band, band_key) — the signature
    # array is projected away before data crosses the wire
    exchanges = [ln for ln in p.splitlines() if "Exchange" in ln]
    assert exchanges, p
    for ln in exchanges:
        assert "signature" not in ln, ln


def test_salted_repartition_pins_partition_count(spark):
    """Regression: repartition(cols) without a count is REPARTITION_BY_COL,
    which AQE coalesces by shuffle SIZE — a few-MB URL batch folded to 1-2
    partitions and the per-URL python work downstream ran serially. The
    salted exchange must keep the requested fan-out."""
    import pyspark.sql.functions as F

    from crawler_seo_spark.operators.politeness import salted_repartition
    df = spark.range(20_000).select(
        F.concat(F.lit("https://shop.example.test/p/"),
                 F.col("id").cast("string")).alias("url"))
    out = salted_repartition(df, 32)
    n = out.rdd.getNumPartitions()
    assert n == spark.sparkContext.defaultParallelism
    # rows survive and every partition carries a fair share (no 1-partition
    # collapse): max load ≤ 4x ideal
    sizes = out.rdd.glom().map(len).collect()
    assert sum(sizes) == 20_000
    assert max(sizes) <= 4 * (20_000 // len(sizes))


def test_sequence_no_int32_wrap(spark):
    """Sequence numbering must stay exact across the 2^31 boundary — the
    offsets and row_number are added in LONG arithmetic (an int32 sum
    wrapped negative before the cast)."""
    import pyspark.sql.functions as F

    from crawler_seo_spark.operators.sequence import global_sequence
    start = 2**31 - 3
    df = spark.range(10).select(F.col("id").alias("k"))
    big, total = global_sequence(df, [F.asc("k")], "seq", start=start,
                                 with_total=True)
    vals = [r["seq"] for r in big.orderBy("k").collect()]
    assert vals == list(range(start, start + 10)) and total == 10


def test_discovery_seq_key_edges(spark):
    """The packed discovery_seq sorts exactly like (parent_seq, link_pos)
    at the edges of both fields — seeds (parent_seq = -1), the largest
    link position, parent_seq past 2^31 and the largest parent — and a
    pair that does not fit raises instead of wrapping."""
    from crawler_seo_spark.operators.sequence import global_sequence_arith
    schema = "parent_seq long, link_pos int"
    rows = [(-1, 0), (-1, 7), (0, 2**20 - 1), (1, 0), (2**31, 5),
            (2**42 - 1, 2**20 - 1)]
    numbered, count = global_sequence_arith(
        spark.createDataFrame(rows, schema))
    assert count == len(rows)
    got = [(r["parent_seq"], r["link_pos"]) for r in
           numbered.orderBy("discovery_seq").collect()]
    assert got == sorted(rows)
    for bad in [(0, 2**20), (2**42, 0)]:
        with pytest.raises(ValueError):
            global_sequence_arith(spark.createDataFrame([bad], schema))
