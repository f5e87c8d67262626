"""Round-6 optimization pins.

Three classes of change, each pinned here:

* scale-adaptive input widening (``operators/partitioning.py``) — tiny
  single-file scans no longer serialize heavy per-row kernels to one
  task, wide inputs and exchange-bearing plans are left untouched;
* batch-vectorized Arrow kernels (span rolling fingerprints, word
  MinHash, decontam gram keys, SimHash) — values must be bit-identical
  to the r5 per-document forms;
* single-read restructures (span stats/extents, paragraph dup marking)
  — the expensive occurrence subtree must appear exactly ONCE in the
  physical plan (the r5 groupBy-then-join forms evaluated it once per
  consumer).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# widen_small_input
# ---------------------------------------------------------------------------

def test_widen_small_input_widens_narrow_scan(spark, tmp_path):
    from crawler_seo_spark.operators.partitioning import widen_small_input
    p = str(tmp_path / "tiny.parquet")
    spark.range(1000).withColumn("t", F.lit("x")).coalesce(1) \
        .write.parquet(p)
    df = spark.read.parquet(p)
    assert df.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    # min_bytes lowered: the point here is the partition logic, the
    # size gate has its own test below
    wide = widen_small_input(df, min_bytes=1)
    assert (wide.rdd.getNumPartitions()
            == spark.sparkContext.defaultParallelism)
    assert wide.count() == 1000


def test_widen_small_input_size_gate(spark, tmp_path):
    """Sub-min_bytes inputs keep their plan (the exchange's fixed cost
    rivals the whole computation there), and unknown-stats plans
    (checkpoint scans report the Long.MaxValue sentinel) are never
    widened blind."""
    from crawler_seo_spark.operators.partitioning import widen_small_input
    p = str(tmp_path / "tiny2.parquet")
    spark.range(1000).coalesce(1).write.parquet(p)
    df = spark.read.parquet(p)          # a few KB << 1 MiB default gate
    assert widen_small_input(df) is df
    ck = spark.range(1000).coalesce(1).localCheckpoint(eager=True)
    assert widen_small_input(ck) is ck  # unknown stats -> untouched


def test_widen_small_input_noop_on_wide_input(spark):
    from crawler_seo_spark.operators.partitioning import widen_small_input
    n = spark.sparkContext.defaultParallelism
    df = spark.range(1000, numPartitions=n)
    # already at target parallelism: the SAME plan comes back (no
    # exchange inserted)
    assert widen_small_input(df) is df


def test_widen_small_input_skips_exchange_bearing_plans(spark):
    """Plans with exchanges (adaptive root) must be left untouched: the
    partition-count probe would materialize their query stages."""
    from crawler_seo_spark.operators.partitioning import widen_small_input
    # big enough that the size gate passes and the adaptive-root guard
    # is what declines (range stats are 8 B/row)
    a = spark.range(2_000_000).withColumnRenamed("id", "k")
    b = spark.range(2_000_000).withColumnRenamed("id", "k")
    joined = a.join(b, "k")
    assert widen_small_input(joined) is joined


# ---------------------------------------------------------------------------
# batch-vectorized span kernel: values identical to a per-document
# reference, across chunk boundaries, short docs and empty docs
# ---------------------------------------------------------------------------

def test_rolling_span_kernel_matches_per_document_reference(spark):
    import hashlib

    import numpy as np

    from crawler_seo_spark.operators.dedup import normalized_text_col
    from crawler_seo_spark.operators.paragraph import (
        _rolling_window_hashes,
        _span_occurrences_rolling,
    )

    width, mod = 40, 8
    rng = np.random.default_rng(7)
    rows = []
    # ~1.2M total chars so the kernel's 1<<20-char chunking flushes
    # mid-batch (the chunk boundary is the interesting code path)
    for i in range(500):
        n = int(rng.choice([0, 10, 39, 40, 41, 777, 2000, 3000]))
        rows.append((i, "".join(rng.choice(list("abcde fghij"), size=n))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    got = {(r["_id"], r["pos"]): r["h64"]
           for r in _span_occurrences_rolling(
               docs, "doc_id", "text", width, mod).collect()}

    # per-document reference (the r5 kernel, inlined)
    norm = {r["doc_id"]: r["t"] for r in docs.select(
        "doc_id", normalized_text_col(F.col("text")).alias("t")).collect()}
    want = {}
    for did, t in norm.items():
        if not t:
            continue
        if len(t) >= width:
            cp = np.frombuffer(t.encode("utf-32-le"),
                               dtype="<u4").astype(np.uint64)
            h = _rolling_window_hashes(cp, width)
            for s in np.nonzero(h % np.uint64(mod) == np.uint64(0))[0]:
                want[(did, int(s) + 1)] = int(h[s].astype(np.int64))
        else:
            dig = hashlib.md5(t.encode()).digest()
            if int.from_bytes(dig[:4], "big") % mod == 0:
                want[(did, 1)] = int(np.frombuffer(dig[:8], dtype=">i8")[0])
    assert got == want


# ---------------------------------------------------------------------------
# single-read restructures: the occurrence subtree appears ONCE
# ---------------------------------------------------------------------------

def _plan_str(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_repeated_span_stats_single_kernel_pass(spark):
    from crawler_seo_spark.operators.paragraph import repeated_span_stats
    docs = spark.createDataFrame(
        [(i, f"span body text {'x' * 60} tail {i % 3}") for i in range(40)],
        "doc_id long, text string")
    plan = _plan_str(repeated_span_stats(docs, width=40,
                                         selector="rolling"))
    assert plan.count("MapInPandas") == 1  # r5 plan carried two


def test_repeated_span_extents_single_kernel_pass(spark):
    from crawler_seo_spark.operators.paragraph import repeated_span_extents
    docs = spark.createDataFrame(
        [(i, f"span body text {'y' * 60} tail {i % 3}") for i in range(40)],
        "doc_id long, text string")
    plan = _plan_str(repeated_span_extents(docs, width=40,
                                           selector="rolling"))
    assert plan.count("MapInPandas") == 1


def test_paragraph_stats_single_occurrence_pass(spark):
    from crawler_seo_spark.operators.paragraph import paragraph_stats
    docs = spark.createDataFrame(
        [(i, f"para one\n\npara {i % 2}\n\npara three") for i in range(30)],
        "doc_id long, text string")
    # the posexplode (Generate) producing occurrences must run once —
    # the r5 groupBy+join form planned it once per consumer
    plan = _plan_str(paragraph_stats(docs))
    assert plan.count("Generate") == 1


def test_gopher_repetition_vectorized_matches_reference(spark):
    """Semantics pin for the gopher repetition kernel against an
    independent inline reference, covering the SQL-trim space-only
    strip, the half-away 6-dp rounding, and the joined-gram character
    lengths — over adversarial inputs: empty/whitespace docs, tab/CR
    payloads, repeated lines vs repeated blank-separated paragraphs,
    sub-width token counts, heavy gram repetition, unicode, and an
    exact-binary rounding tie (13/128). (An r6 batch-factorized
    np.unique rewrite passed this test but measured SLOWER than the
    Counter form single-core — 3.7 s vs 2.8 s on 50k docs — and was
    rejected; the pin stays so any future rewrite is held to
    value-identity.)"""
    import math
    from collections import Counter

    from crawler_seo_spark.operators.text import gopher_repetition_flags

    def r6(x):
        return math.floor(x * 1e6 + 0.5) / 1e6

    def ref_signals(t, nm):
        def dup_stats(parts):
            parts = [p.strip(" ") for p in parts]
            parts = [p for p in parts if p]
            if not parts:
                return 0.0, 0.0
            c = Counter(parts)
            extra = sum(v - 1 for v in c.values() if v > 1)
            extra_ch = sum((v - 1) * len(k) for k, v in c.items()
                           if v > 1)
            tot_ch = sum(len(p) for p in parts)
            return (r6(extra / len(parts)),
                    r6(extra_ch / tot_ch) if tot_ch else 0.0)

        lf, lcf = dup_stats(t.split("\n"))
        pf, pcf = dup_stats(t.split("\n\n"))
        toks = nm.split(" ") if nm else []
        n_ch = len(nm)
        top2 = dup5 = 0.0
        if n_ch:
            if len(toks) >= 2:
                g2 = Counter(" ".join(toks[i:i + 2])
                             for i in range(len(toks) - 1))
                top2 = r6(max(v * len(k) for k, v in g2.items()) / n_ch)
            if len(toks) >= 5:
                g5 = Counter(" ".join(toks[i:i + 5])
                             for i in range(len(toks) - 4))
                dup5 = r6(sum(v * len(k) for k, v in g5.items()
                              if v > 1) / n_ch)
        return lf, lcf, pf, pcf, top2, dup5

    texts = [
        "",
        "   ",
        "\n\n\n",
        "a\na\na\nb",
        "line one\nline one\n\nline one\npara two\n\npara two",
        "tab\there\ntab\there",          # \t must survive the strip
        "x \n x\n x ",                   # space-only strip around parts
        "w w w w w w w w",               # heavy 2/5-gram repetition
        "one two three four",            # sub-5-token doc
        "αβγ δε αβγ δε αβγ δε ζη θι κλ", # unicode token lengths
        ("p q r s t u v " * 13)[:-1],    # long with repeats
        "a b a b a b a b a b",
        "unique tokens only here now five six seven eight",
        ("m n " * 32 + "o p q r s"),
        "13over128 " * 8 + "tail",       # engineered near-tie values
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {r["doc_id"]: r for r in gopher_repetition_flags(df).collect()}
    # the kernel receives Spark's normalization — recompute it the same
    # way for the reference
    from pyspark.sql import functions as F
    norms = {r["doc_id"]: r["nm"] for r in df.select(
        "doc_id", F.trim(F.regexp_replace(F.regexp_replace(
            F.lower(F.col("text")), r"[^\p{L}\p{N}]+", " "),
            r"\s+", " ")).alias("nm")).collect()}
    cols = ("dup_line_frac", "dup_line_char_frac", "dup_para_frac",
            "dup_para_char_frac", "top2gram_char_frac",
            "dup5gram_char_frac")
    for i, t in enumerate(texts):
        ref = ref_signals(t, norms[i])
        for c, rv in zip(cols, ref):
            assert got[i][c] == rv, (i, c, got[i][c], rv)


def test_single_pass_normalization_identical_to_two_pass(spark):
    """r6 dropped the second regexp_replace(\\s+ -> " ") of the
    normalization chain: the first pass [^\\p{L}\\p{N}]+ already consumes
    every whitespace character (whitespace is neither letter nor number)
    and emits ONE space per maximal run, so the second pass could only
    ever rewrite single spaces to single spaces. This pins byte-equality
    of the old and new chains — and of the array_remove vs
    filter(t != "") tokenizations — over adversarial unicode."""
    from pyspark.sql import functions as F

    texts = [
        "", " ", "\t\r\n\x0b\x0c", "a  b\t\tc\r\nd",
        "Héllo—wörld… №5 ½ⅷ",            # letterlike/numberlike unicode
        "多言語　テキスト　です",        # ideographic space U+3000
        "a b c d",          # nbsp + line/para separators
        "MiXeD    CaSe!!!##$$ 123",
        "ends with space ", "  starts",
        "٠١٢ arabic digits", "emoji 😀🚀 text",
        "tab\tsep\tvals", "a-b_c.d,e;f:g",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i long, t string")
    two_pass = F.trim(F.regexp_replace(
        F.regexp_replace(F.lower(F.col("t")), r"[^\p{L}\p{N}]+", " "),
        r"\s+", " "))
    from crawler_seo_spark.operators.dedup import normalized_text_col
    one_pass = normalized_text_col(F.col("t"))
    old_toks = F.filter(F.split(two_pass, " "), lambda x: x != "")
    new_toks = F.array_remove(F.split(one_pass, " "), "")
    rows = df.select("i", two_pass.alias("a"), one_pass.alias("b"),
                     old_toks.alias("ta"), new_toks.alias("tb")).collect()
    for r in rows:
        assert r["a"] == r["b"], (r["i"], r["a"], r["b"])
        assert r["ta"] == r["tb"], (r["i"], r["ta"], r["tb"])


# ---------------------------------------------------------------------------
# session 3: band self-join strategy, lazy frontier merge, forest caches
# ---------------------------------------------------------------------------

def test_band_self_join_never_broadcasts_the_corpus(spark):
    """The band self-join's build side IS the probe side, so broadcasting
    it ships a full corpus copy per task and cannot work at 10^9 docs:
    uncapped must plan a sort-merge join, capped a shuffled-hash join —
    never a broadcast of the banded relation."""
    from crawler_seo_spark.operators.dedup import (
        lsh_candidate_pairs, minhash_signatures)
    docs = spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc text body number "),
                 F.col("id").cast("string")).alias("text"))
    sigs = minhash_signatures(docs, k=8).localCheckpoint(eager=True)
    uncapped = _plan_str(lsh_candidate_pairs(sigs, bands=4))
    assert "SortMergeJoin" in uncapped, uncapped
    assert "BroadcastHashJoin" not in uncapped, uncapped
    capped = _plan_str(lsh_candidate_pairs(sigs, bands=4, max_bucket=16))
    assert "ShuffledHashJoin" in capped, capped


def test_small_path_frontier_compaction_cadence_preserves_crawl(spark):
    """The lazily-merged small-path frontier must produce the identical
    crawl whether compaction fires every round or never fires within
    the run (seen_compact_every both below and above the round count)."""
    from crawler_seo_spark.config import CrawlConfig
    from crawler_seo_spark.engine import CrawlEngine
    from crawler_seo_spark.sources.from_documents import (
        SEED_URL, doc_url, pages_df_from_documents)
    pages = pages_df_from_documents(
        spark, "/root/testdata/sf0.001", limit=300) \
        .localCheckpoint(eager=True)
    seeds = [doc_url(i) for i in range(0, 300, 10)]

    def crawl(compact_every):
        cfg = CrawlConfig(seed_url=SEED_URL, seed_urls=seeds,
                          max_urls=120, batch_size=20,
                          seen_compact_every=compact_every)
        st = CrawlEngine(spark, pages, cfg).run()
        order = [(r["crawl_seq"], r["url"]) for r in
                 st.crawl_order.orderBy("crawl_seq").collect()]
        frontier = sorted(r["url"] for r in st.frontier.collect())
        seen = sorted(r["url"] for r in st.seen.collect())
        return order, frontier, seen

    # 6 rounds: cadence 1 compacts every round, cadence 100 never
    assert crawl(1) == crawl(100)


def test_text_analysis_forest_cache_consistent_and_collision_safe(spark):
    """Cached-forest replay must equal a fresh build, and an input that
    already carries one of the added names must keep withColumn replace
    semantics (no duplicate column)."""
    from crawler_seo_spark.operators import text as text_mod
    docs = spark.range(50).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("Some Text 42 with UPPER and 7 digits "),
                 F.col("id").cast("string")).alias("text"))
    text_mod._TA_CACHE = None
    fresh = text_mod.with_text_analysis(docs)
    again = text_mod.with_text_analysis(docs)   # cached replay
    assert fresh.columns == again.columns
    assert (sorted(map(tuple, fresh.collect()))
            == sorted(map(tuple, again.collect())))
    # collision path: pre-existing 'fingerprint' column is REPLACED
    clash = docs.withColumn("fingerprint", F.lit("old"))
    out = text_mod.with_text_analysis(clash)
    assert out.columns.count("fingerprint") == 1
    row = out.limit(1).collect()[0]
    assert row["fingerprint"] != "old"


def test_enrich_forest_cache_replay_equals_fresh_build(spark):
    """enrich_results with a warm expression cache must produce the same
    rows as with a cold one (expressions are cached, data never is)."""
    import pandas as pd
    from crawler_seo_spark.config import CrawlConfig
    from crawler_seo_spark.engine import CrawlEngine
    from crawler_seo_spark.plans import enrich as enrich_mod
    from crawler_seo_spark.sources.synthetic_site import SEED_URL, build_site
    store = build_site(40, n_images=0)
    pages = spark.createDataFrame(
        pd.DataFrame(list(store.values())), schema=(
            "url string, page_index int, status_code int, "
            "content_type string, final_url string, "
            "response_time_ms double, content_length long, html string, "
            "headers map<string,string>, image_ids array<string>"))
    state = CrawlEngine(spark, pages, CrawlConfig(
        seed_url=SEED_URL, max_urls=20, batch_size=10)).run()
    enrich_mod._STAGE_CACHE = None
    cold = enrich_mod.enrich_results(state.results)
    warm = enrich_mod.enrich_results(state.results)
    assert cold.columns == warm.columns
    a = sorted(map(str, cold.collect()))
    b = sorted(map(str, warm.collect()))
    assert a == b
