"""Incremental dedup vs a persisted signature index: per-batch ingest must
(1) equal the full-corpus recompute pair-for-pair across rounds,
(2) compute and write ONLY the new batch's signatures per round, and
(3) resume from the committed store across index instances.
"""

import pytest
from pyspark.sql import functions as F

from crawler_seo_spark.operators.dedup import lsh_candidate_pairs
from crawler_seo_spark.operators.incremental import SignatureIndex
from crawler_seo_spark.tables import SnapshotStore


def _docs(spark, ids):
    # planted near-dups: docs 2i and 2i+1 share text, so every (2i, 2i+1)
    # pair collides in all bands; unrelated docs share nothing
    rows = [(i, f"the quick brown fox {i // 2} jumps over the lazy dog "
                f"number {i // 2} in the corpus of documents") for i in ids]
    return spark.createDataFrame(rows, "doc_id long, text string")


KW = dict(k=8, bands=4, hash_mode="xxhash64")


def test_incremental_equals_full_recompute(spark, tmp_path, monkeypatch):
    full_docs = _docs(spark, range(40))
    b1, b2 = _docs(spark, range(20)), _docs(spark, range(20, 40))

    sig_inputs = []
    orig = SignatureIndex._signatures

    def spy(self, docs):
        sig_inputs.append(docs.count())
        return orig(self, docs)

    monkeypatch.setattr(SignatureIndex, "_signatures", spy)

    idx = SignatureIndex(SnapshotStore(str(tmp_path / "sigidx")), **KW)
    p1 = {(r["id_a"], r["id_b"]) for r in idx.ingest(spark, b1).collect()}
    p2 = {(r["id_a"], r["id_b"]) for r in idx.ingest(spark, b2).collect()}

    full_sigs = idx._signatures(full_docs)
    full = {(r["id_a"], r["id_b"])
            for r in lsh_candidate_pairs(full_sigs, bands=4).collect()}
    assert p1 | p2 == full
    assert p1 and p2  # both rounds found their planted pairs
    assert p1.isdisjoint(p2)  # old×old pairs never re-emitted
    # each round computed signatures ONLY for its batch (20 docs), plus the
    # one full-corpus reference call above
    assert sig_inputs == [20, 20, 40]


def test_append_writes_only_the_delta(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "sigidx"))
    idx = SignatureIndex(store, **KW)
    idx.ingest(spark, _docs(spark, range(20)))
    idx.ingest(spark, _docs(spark, range(20, 40)))
    # round-1 data dir holds ONLY batch 2 (O(batch) IO per append) …
    delta = spark.read.parquet(store._table_dir("signatures", 1))
    assert delta.count() == 20
    assert delta.agg(F.min("doc_id")).collect()[0][0] == 20
    # … while the committed snapshot unions both rounds' files
    snap = idx.signatures(spark)
    assert snap.count() == 40
    assert store.manifest()["counters"]["n_total"] == 40


def test_index_resumes_across_instances(spark, tmp_path):
    root = str(tmp_path / "sigidx")
    SignatureIndex(SnapshotStore(root), **KW).ingest(
        spark, _docs(spark, range(20)))
    # a NEW instance over the same store continues from the commit
    idx2 = SignatureIndex(SnapshotStore(root), **KW)
    assert idx2.committed_round() == 0
    pairs = {(r["id_a"], r["id_b"])
             for r in idx2.ingest(spark, _docs(spark, [100, 101])).collect()}
    assert (100, 101) in pairs
    assert idx2.signatures(spark).count() == 22


def test_ingest_rejects_uneven_bands(tmp_path):
    with pytest.raises(AssertionError):
        SignatureIndex(SnapshotStore(str(tmp_path / "s")), k=10, bands=4)


def test_concurrent_ingest_writers_rebase(spark, tmp_path):
    """Two ingest writers racing on one index store: the loser rebases —
    its pairs are re-derived against the WINNER's committed batch too, so
    the union across writers equals the full-corpus recompute."""
    import threading

    root = str(tmp_path / "sigidx")
    SignatureIndex(SnapshotStore(root, writer_id="w0"), **KW).ingest(
        spark, _docs(spark, range(20)))

    results, errors = {}, []

    def runner(writer, ids):
        try:
            idx = SignatureIndex(SnapshotStore(root, writer_id=writer), **KW)
            results[writer] = {(r["id_a"], r["id_b"]) for r in
                               idx.ingest(spark, _docs(spark, ids)).collect()}
        except BaseException as e:
            errors.append((writer, e))

    ts = [threading.Thread(target=runner, args=("wa", range(20, 30))),
          threading.Thread(target=runner, args=("wb", range(30, 40)))]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=300)
    assert not errors, errors

    check = SignatureIndex(SnapshotStore(root, writer_id="chk"), **KW)
    assert check.committed_round() == 2
    assert check.signatures(spark).count() == 40
    full_sigs = check._signatures(_docs(spark, range(40)))
    full = {(r["id_a"], r["id_b"])
            for r in lsh_candidate_pairs(full_sigs, bands=4).collect()}
    batch0 = {(a, b) for a, b in full if a < 20 and b < 20}
    assert results["wa"] | results["wb"] == full - batch0


def test_simhash_index_incremental_equals_full(spark, tmp_path):
    """SimHash family: two-batch ingest union equals the full-corpus
    simhash_pairs recompute; hamming values carried; delta-only writes."""
    from crawler_seo_spark.operators.dedup import simhash_pairs
    from crawler_seo_spark.operators.incremental import SimHashIndex

    def near_docs(spark, ids):
        # docs 2i and 2i+1 share text except a one-word tweak -> small
        # hamming; distinct groups are far apart
        rows = [(i, f"group {i // 2} alpha beta gamma delta epsilon zeta "
                    f"eta theta {'iota' if i % 2 else 'kappa'}")
                for i in ids]
        return spark.createDataFrame(rows, "doc_id long, text string")

    store = SnapshotStore(str(tmp_path / "shidx"))
    idx = SimHashIndex(store, hash_mode="xxhash64", max_hamming=6,
                       band_bits=4)
    p1 = {(r["id_a"], r["id_b"], r["hamming"]) for r in
          idx.ingest(spark, near_docs(spark, range(16))).collect()}
    p2 = {(r["id_a"], r["id_b"], r["hamming"]) for r in
          idx.ingest(spark, near_docs(spark, range(16, 32))).collect()}
    full = {(r["id_a"], r["id_b"], r["hamming"]) for r in
            simhash_pairs(near_docs(spark, range(32)), max_hamming=6,
                          band_bits=4, hash_mode="xxhash64").collect()}
    assert p1 | p2 == full
    assert p1 and p1.isdisjoint(p2)
    assert all(h <= 6 for _, _, h in p1 | p2)
    # delta-only: round 1 data dir holds only batch 2
    assert spark.read.parquet(
        store._table_dir("simhashes", 1)).count() == 16


def test_paragraph_index_incremental_equals_full(spark, tmp_path):
    """Batch-ingested paragraph dedup == whole-corpus
    drop_duplicate_paragraphs when batches arrive in doc_id order; the
    index appends only each batch's new first occurrences."""
    from crawler_seo_spark.operators.incremental import ParagraphIndex
    from crawler_seo_spark.operators.paragraph import (
        drop_duplicate_paragraphs)

    def para_docs(ids):
        # para2 shared within the 4-doc group; batch-2 docs (>= 20) reuse
        # doc (i-20)'s own text as para2 -> guaranteed CROSS-batch dups
        rows = []
        for i in ids:
            own = f"unique body of document {i} with words"
            shared = (f"unique body of document {i - 20} with words"
                      if i >= 20 else f"shared block {i // 4}")
            rows.append((i, f"intro {i}\n\n{shared}\n\n{own}"))
        return spark.createDataFrame(rows, "doc_id long, text string")

    store = SnapshotStore(str(tmp_path / "pidx"))
    idx = ParagraphIndex(store)
    c1 = {r["doc_id"]: r["text"]
          for r in idx.ingest(spark, para_docs(range(20))).collect()}
    c2 = {r["doc_id"]: r["text"]
          for r in idx.ingest(spark, para_docs(range(20, 40))).collect()}
    full = {r["doc_id"]: r["text"] for r in
            drop_duplicate_paragraphs(para_docs(range(40))).collect()}
    assert {**c1, **c2} == full
    # cross-batch dedup actually fired: batch-2 doc 20's "shared" para is
    # doc 0's own text, already indexed
    assert "unique body of document 0" not in c2[20].split("\n\n")[1:]
    # delta-only: round-1 dir holds only batch 2's new firsts
    delta = spark.read.parquet(store._table_dir("paragraphs", 1))
    assert delta.count() > 0
    assert delta.agg(F.min("doc_id")).collect()[0][0] >= 20
    assert idx.index(spark).count() == delta.count() + \
        spark.read.parquet(store._table_dir("paragraphs", 0)).count()


def test_embedding_index_incremental_equals_blocked_full(spark, tmp_path):
    """Embedding family: two-batch ingest union equals the full-corpus
    bucket-blocked recompute (same hyperplane buckets), pairs carry the
    rounded cosine, and the index appends only the batch."""
    import numpy as np

    from crawler_seo_spark.operators.dedup import embedding_near_duplicates
    from crawler_seo_spark.operators.incremental import EmbeddingIndex

    rng = np.random.default_rng(11)
    base = rng.standard_normal((60, 16))
    base[1] = base[0] + 0.02 * rng.standard_normal(16)   # near-dup in b1
    base[41] = base[40] + 0.02 * rng.standard_normal(16)  # near-dup in b2
    base[45] = base[5] + 0.02 * rng.standard_normal(16)   # CROSS-batch pair
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    store = SnapshotStore(str(tmp_path / "eidx"))
    idx = EmbeddingIndex(store, dim=16, n_planes=4, threshold=0.9)
    p1 = {(r["id_a"], r["id_b"], r["cosine"]) for r in
          idx.ingest(spark, vecs.filter("vec_id < 30")).collect()}
    p2 = {(r["id_a"], r["id_b"], r["cosine"]) for r in
          idx.ingest(spark, vecs.filter("vec_id >= 30")).collect()}

    sigs = idx._signatures(vecs)
    full = {(r["id_a"], r["id_b"], r["cosine"]) for r in
            embedding_near_duplicates(sigs, threshold=0.9,
                                      block_col="bucket").collect()}
    assert p1 | p2 == full
    assert p1 and p2 and p1.isdisjoint(p2)
    assert any(a == 5 and b == 45 for a, b, _ in p2)  # cross-batch caught
    assert spark.read.parquet(
        store._table_dir("embeddings_idx", 1)).count() == 30


def test_snapshot_compaction_bounds_file_list(spark, tmp_path):
    """VERDICT r4 #4: fast-append rounds accumulate one data dir per
    round; compaction (every K appends) consolidates the snapshot into
    [base] + recent deltas so the file-list stays O(K), not O(rounds).
    replay_pairs and the pair stream must be unaffected: pre-compaction
    rounds replay from their untouched historical lists, the compacted
    round from its preserved delta record, and the cumulative pair union
    still equals the full-corpus recompute."""
    store = SnapshotStore(str(tmp_path / "sigidx"))
    idx = SignatureIndex(store, **KW, compact_every=10)
    n_rounds, per = 50, 4
    all_pairs = set()
    for r in range(n_rounds):
        batch = _docs(spark, range(r * per, (r + 1) * per))
        all_pairs |= {(x["id_a"], x["id_b"])
                      for x in idx.ingest(spark, batch).collect()}
        dirs = store._snapshot_dirs("signatures", r)
        assert len(dirs) <= 10, (r, len(dirs))

    # cumulative pair union == full recompute over all 200 docs
    full_sigs = idx._signatures(_docs(spark, range(n_rounds * per)))
    full = {(x["id_a"], x["id_b"])
            for x in lsh_candidate_pairs(full_sigs, bands=4).collect()}
    assert all_pairs == full

    # the committed snapshot still reads every row
    assert idx.signatures(spark).count() == n_rounds * per

    # replay: a pre-compaction round, a compacted round, and the latest
    for r in (0, 9, 23, n_rounds - 1):
        rp = {(x["id_a"], x["id_b"])
              for x in idx.replay_pairs(spark, r).collect()}
        want = {(2 * i, 2 * i + 1)
                for i in range(r * per // 2, (r + 1) * per // 2)}
        assert rp >= want, r
        # replayed pairs only involve docs ingested by round r
        assert all(b < (r + 1) * per for _, b in rp), r


def test_compaction_under_cooperative_writers(spark, tmp_path):
    """Compaction publishes the shared list for COMMITTED state; a
    cooperative writer that compacts must not disturb a peer's staged
    round, and reads-after-compaction stay identical."""
    root = str(tmp_path / "coop")
    wa = SignatureIndex(SnapshotStore(root, writer_id="wa"), **KW,
                        compact_every=3)
    for r in range(6):
        wa.ingest(spark, _docs(spark, range(r * 4, (r + 1) * 4)))
    assert len(wa.store._snapshot_dirs("signatures", 5)) <= 3
    # a second writer joins after compaction and continues the chain
    wb = SignatureIndex(SnapshotStore(root, writer_id="wb"), **KW)
    pairs = {(x["id_a"], x["id_b"])
             for x in wb.ingest(spark, _docs(spark, [500, 501])).collect()}
    assert (500, 501) in pairs
    assert wb.signatures(spark).count() == 26


def test_embedding_multiprobe_recall(spark, tmp_path):
    """VERDICT r4 #5: at production plane counts (n_planes>=16, needed to
    keep buckets small at 10^9 rows) a true near-pair straddles a single
    hyperplane with non-trivial probability; multiprobe=1 probes the
    Hamming-1 buckets of each NEW doc and must recover exactly those
    misses. Recall measured against the exact (unblocked) cosine
    near-dup set; precision is exact either way (cosine verify)."""
    import numpy as np

    from crawler_seo_spark.operators.incremental import EmbeddingIndex

    dim, n, n_planes, thr = 16, 400, 16, 0.98
    rng = np.random.default_rng(3)
    base = rng.standard_normal((n, dim))
    rows = []
    for i, v in enumerate(base):
        tw = v + 0.08 * rng.standard_normal(dim)   # cosine ~0.99 twin
        rows.append((2 * i, [float(x) for x in v]))
        rows.append((2 * i + 1, [float(x) for x in tw]))
    vecs = np.array([r[1] for r in rows])
    nrm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    # exact near-dup set (planted twins dominate; cross pairs possible)
    sims = nrm @ nrm.T
    exact = {(a, b) for a in range(2 * n) for b in range(a + 1, 2 * n)
             if round(sims[a, b], 6) >= thr}
    assert len(exact) >= n * 0.9  # construction sanity

    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    found = {}
    for probe in (0, 1):
        idx = EmbeddingIndex(
            SnapshotStore(str(tmp_path / f"emb{probe}")), dim=dim,
            n_planes=n_planes, threshold=thr, multiprobe=probe)
        p1 = idx.ingest(spark, df.filter(f"vec_id < {n}"))
        p2 = idx.ingest(spark, df.filter(f"vec_id >= {n}"))
        found[probe] = {(r["id_a"], r["id_b"])
                        for r in p1.unionByName(p2).collect()}
        assert found[probe] <= exact  # precision 1.0: verify is exact

    r0 = len(found[0] & exact) / len(exact)
    r1 = len(found[1] & exact) / len(exact)
    print(f"multiprobe recall @ {n_planes} planes: off={r0:.3f} on={r1:.3f}")
    assert r1 > r0            # probing strictly helps at this depth
    assert r1 >= r0 + 0.15    # and by a material margin
    assert r1 >= 0.5

    # sizing rule: planes_for targets corpus/2^planes ≈ target_bucket
    assert EmbeddingIndex.planes_for(10**9, 4096) == 18
    assert EmbeddingIndex.planes_for(100, 4096) == 1
