"""Checkpoint/resume: a killed run resumed from the snapshot store must be
bit-identical to the uninterrupted run (north-rule requirement).

Kill simulation: run to completion with per-round snapshots, roll the
manifest back to an intermediate round (= crash after that round's commit;
later data dirs are unreferenced garbage), resume with the SAME budget.
Round boundaries depend on the remaining budget (reference batch cut,
core/crawler.py:95-106), so resume-with-same-budget is the bit-identical
contract; growing the budget is a different crawl by definition.
"""

import tempfile

import pytest

from crawler_seo_spark.config import CrawlConfig
from crawler_seo_spark.engine import CrawlEngine
from crawler_seo_spark.oracle import run_oracle
from crawler_seo_spark.sources.synthetic_site import SEED_URL
from crawler_seo_spark.tables import SnapshotStore


def _order(state):
    return [(r["crawl_seq"], r["url"], r["depth"], r["priority"], r["round"])
            for r in state.crawl_order.orderBy("crawl_seq").collect()]


def test_resume_bit_identical(spark, pages_df):
    ckpt = tempfile.mkdtemp(prefix="resume_ckpt_")
    cfg = CrawlConfig(seed_url=SEED_URL, max_urls=60, batch_size=15,
                      checkpoint_dir=ckpt)
    full = CrawlEngine(spark, pages_df, cfg).run()
    full_order = _order(full)

    store = SnapshotStore(ckpt)
    last = store.manifest()["round"]
    assert last >= 2
    kill_at = last // 2
    store.rollback(kill_at)
    assert store.manifest()["round"] == kill_at

    resumed = CrawlEngine(spark, pages_df, cfg).run(resume=True)
    assert _order(resumed) == full_order
    assert {r["url"] for r in resumed.seen.collect()} \
        == {r["url"] for r in full.seen.collect()}
    got_f = sorted((r["url"], r["reason"]) for r in resumed.filtered.collect())
    want_f = sorted((r["url"], r["reason"]) for r in full.filtered.collect())
    assert got_f == want_f
    # resumed rounds continue exactly after the kill point
    assert resumed.rounds[0]["round"] == kill_at + 1


def test_resume_without_manifest_starts_fresh(spark, pages_df):
    ckpt = tempfile.mkdtemp(prefix="fresh_ckpt_")
    cfg = CrawlConfig(seed_url=SEED_URL, max_urls=10, batch_size=5,
                      checkpoint_dir=ckpt)
    state = CrawlEngine(spark, pages_df, cfg).run(resume=True)  # no manifest
    assert state.crawl_order.count() == 10


def test_fresh_run_reclaims_marker_orphaned_before_manifest(spark, pages_df):
    """A run that died in round 0 BETWEEN the O_EXCL marker claim and the
    manifest publish leaves a commit marker with no manifest. A fresh run
    (resume=False) over that dir must reset unconditionally — gating the
    reset on manifest() being non-None left the marker alive and the new
    run's first commit_round(0) died with ConcurrentCommitError."""
    import os

    ckpt = tempfile.mkdtemp(prefix="orphan0_ckpt_")
    os.makedirs(f"{ckpt}/rounds")
    open(f"{ckpt}/rounds/r00000.commit", "w").close()  # marker, no manifest
    cfg = CrawlConfig(seed_url=SEED_URL, max_urls=10, batch_size=5,
                      checkpoint_dir=ckpt)
    state = CrawlEngine(spark, pages_df, cfg).run()
    assert state.crawl_order.count() == 10
    assert SnapshotStore(ckpt).manifest() is not None


def test_cooperative_two_writers_match_serial(spark, pages_df):
    """Two engines with distinct writer_ids share one store: each stages
    its round under writer-scoped names, races on the commit marker, and
    the loser aborts + rebases onto the winner's committed round. BOTH
    must finish with the serial run's exact crawl, and no staged snapshot
    artifacts may survive (every remaining data dir is referenced by a
    committed file-list)."""
    import json
    import os
    import threading

    base = dict(seed_url=SEED_URL, max_urls=60, batch_size=15)
    serial = CrawlEngine(spark, pages_df, CrawlConfig(
        **base, checkpoint_dir=tempfile.mkdtemp(prefix="coop_serial_"))).run()
    want = _order(serial)

    ckpt = tempfile.mkdtemp(prefix="coop_ckpt_")
    engines = [CrawlEngine(spark, pages_df, CrawlConfig(
        **base, checkpoint_dir=ckpt, writer_id=w)) for w in ("wa", "wb")]
    states, errors = {}, []

    def runner(name, eng):
        try:
            states[name] = eng.run()
        except BaseException as e:  # surfaced below
            errors.append((name, e))

    threads = [threading.Thread(target=runner, args=(f"w{i}", e))
               for i, e in enumerate(engines)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not errors, errors
    assert len(states) == 2

    for name, st in states.items():
        assert _order(st) == want, name
        assert ({r["url"] for r in st.seen.collect()}
                == {r["url"] for r in serial.seen.collect()}), name
    # the race was actually exercised (both started together, rounds are
    # ~seconds: at least one commit must have been lost and rebased)
    assert sum(e.rebase_count for e in engines) >= 1

    # no orphaned snapshot state: every surviving data dir is referenced
    # by a committed (shared) file-list, and no staged file-lists remain
    for table in ("frontier", "seen", "results"):
        tdir = os.path.join(ckpt, table)
        names = os.listdir(tdir)
        assert not [n for n in names if n.count(".files.json") and
                    n.count(".") > 2], names  # staged jsons all gone
        referenced = set()
        for n in names:
            if n.endswith(".files.json"):
                with open(os.path.join(tdir, n)) as f:
                    referenced |= {os.path.basename(d) for d in json.load(f)}
        dirs = {n for n in names if os.path.isdir(os.path.join(tdir, n))}
        assert dirs <= referenced, (table, dirs - referenced)


def test_resume_restores_live_robots_state(spark):
    """Live-robots state (rules cache + Crawl-delay) is part of the
    committed snapshot: a resumed run must replay the same per-host
    schedule (bit-identical contract) instead of silently falling back
    to the unlimited-rps fast path until the next TTL refetch."""
    import os

    from crawler_seo_spark.sources.from_documents import (
        SEED_URL as DOC_SEED, live_fetch_factory)

    body = "User-agent: *\nCrawl-delay: 0.002\nDisallow: /blog/\n"

    def factory():
        inner = live_fetch_factory(150)()

        def fetch(url):
            if url.endswith("/robots.txt"):
                return {"status_code": 200, "content_type": "text/plain",
                        "final_url": url, "response_time_ms": 1.0,
                        "content_length": len(body), "html": body,
                        "headers": {}}
            return inner(url)
        return fetch

    def run(ckpt, resume=False):
        cfg = CrawlConfig(seed_url=DOC_SEED, max_urls=45, batch_size=15,
                          requests_per_second=1e9, fetch_robots=True,
                          checkpoint_dir=ckpt)
        return CrawlEngine(spark, None, cfg,
                           fetch_fn_factory=factory).run(resume=resume)

    full = run(tempfile.mkdtemp(prefix="rb_full_"))
    want = sorted((r["crawl_seq"], r["url"], r["scheduled_offset_ms"])
                  for r in full.results.select(
                      "crawl_seq", "url", "scheduled_offset_ms").collect())

    ckpt = tempfile.mkdtemp(prefix="rb_kill_")
    run(ckpt)
    store = SnapshotStore(ckpt)
    store.rollback(store.manifest()["round"] - 1)  # kill after round n-1
    resumed = run(ckpt, resume=True)
    got = sorted((r["crawl_seq"], r["url"], r["scheduled_offset_ms"])
                 for r in resumed.results.select(
                     "crawl_seq", "url", "scheduled_offset_ms").collect())
    assert got == want  # incl. the resumed round's Crawl-delay offsets
    assert any(off > 0 for _, _, off in got)


def test_rejoin_after_peer_progress_resets_stale_filter(spark, pages_df):
    """ADVICE r4: a writer that crashes and rejoins with the same
    writer_id reopens its writer-LOCAL seen filter with n_inserted > 0 —
    but peers committed rounds while it was down, so the filter is
    missing their urls. A bloom miss ('definitely new') bypasses the
    exact anti-join, duplicating crawls. The engine must reset the filter
    whenever its persisted covered_round predates the manifest round."""
    base = dict(seed_url=SEED_URL, batch_size=15,
                bloom_min_seen=5, bloom_seen_batch_ratio=0)
    serial = CrawlEngine(spark, pages_df, CrawlConfig(
        **base, max_urls=60,
        checkpoint_dir=tempfile.mkdtemp(prefix="rejoin_serial_"))).run()
    want = _order(serial)

    ckpt = tempfile.mkdtemp(prefix="rejoin_ckpt_")
    # writer wa crawls rounds 0-3, then "crashes" (engine discarded).
    # Intermediate budgets sit exactly on the serial run's round
    # boundaries (cumulative dequeues 1,6,13,28,43,58,60) — round cuts
    # depend on remaining budget, so misaligned budgets would be a
    # different crawl by definition, not a resume.
    CrawlEngine(spark, pages_df, CrawlConfig(
        **base, max_urls=28, checkpoint_dir=ckpt, writer_id="wa")).run()
    # peer wb advances the shared crawl one more round while wa is down
    CrawlEngine(spark, pages_df, CrawlConfig(
        **base, max_urls=43, checkpoint_dir=ckpt, writer_id="wb")).run()

    # wa rejoins: its seen_filter.wa state covers rounds 0-1 only
    rejoin = CrawlEngine(spark, pages_df, CrawlConfig(
        **base, max_urls=60, checkpoint_dir=ckpt, writer_id="wa"))
    assert rejoin.bloom.n_inserted > 0          # stale state reopened...
    assert rejoin._filter_covered_round() < \
        SnapshotStore(ckpt).manifest()["round"]  # ...and provably behind
    st = rejoin.run()
    assert _order(st) == want                    # no duplicate crawls
    assert ({r["url"] for r in st.seen.collect()}
            == {r["url"] for r in serial.seen.collect()})


def test_resume_with_current_filter_skips_reset(spark, pages_df):
    """The complement: a filter whose covered_round matches the manifest
    is trusted on resume (no reset, no re-backfill) — coverage tracking
    must not regress the resume fast path."""
    ckpt = tempfile.mkdtemp(prefix="cover_ckpt_")
    cfg = CrawlConfig(seed_url=SEED_URL, max_urls=45, batch_size=15,
                      checkpoint_dir=ckpt, bloom_min_seen=5,
                      bloom_seen_batch_ratio=0)
    eng = CrawlEngine(spark, pages_df, cfg)
    eng.run()
    n = eng.bloom.n_inserted
    assert n > 0
    store = SnapshotStore(ckpt)
    assert eng._filter_covered_round() == store.manifest()["round"]

    cfg2 = CrawlConfig(seed_url=SEED_URL, max_urls=60, batch_size=15,
                       checkpoint_dir=ckpt, bloom_min_seen=5,
                       bloom_seen_batch_ratio=0)
    eng2 = CrawlEngine(spark, pages_df, cfg2)
    assert eng2.bloom.n_inserted == n
    eng2.run(resume=True)
    # the reopened state was trusted: inserts only grew (no epoch reset
    # would keep n_inserted, so check the epoch directly)
    assert eng2.bloom.meta.epoch == eng.bloom.meta.epoch


def test_resume_corrupt_robots_snapshot_raises(spark):
    """ADVICE r4: a PRESENT-but-unreadable robots snapshot must fail the
    resume loudly, not silently degrade to no-robots state (which would
    take the unlimited-rps fast path and ignore learned Crawl-delays)."""
    import os

    import pytest

    from crawler_seo_spark.sources.from_documents import (
        SEED_URL as DOC_SEED, live_fetch_factory)

    body = "User-agent: *\nCrawl-delay: 0.002\n"

    def factory():
        inner = live_fetch_factory(150)()

        def fetch(url):
            if url.endswith("/robots.txt"):
                return {"status_code": 200, "content_type": "text/plain",
                        "final_url": url, "response_time_ms": 1.0,
                        "content_length": len(body), "html": body,
                        "headers": {}}
            return inner(url)
        return fetch

    ckpt = tempfile.mkdtemp(prefix="corrupt_robots_")
    cfg = CrawlConfig(seed_url=DOC_SEED, max_urls=30, batch_size=15,
                      requests_per_second=1e9, fetch_robots=True,
                      checkpoint_dir=ckpt)
    CrawlEngine(spark, None, cfg, fetch_fn_factory=factory).run()
    store = SnapshotStore(ckpt)
    last = store.manifest()["round"]
    store.rollback(last - 1)
    # corrupt the robots snapshot of the resume round: the file-list now
    # points at a destroyed data dir
    for d in store._snapshot_dirs("robots", last - 1):
        for name in os.listdir(d):
            if name.endswith(".parquet"):
                with open(os.path.join(d, name), "wb") as f:
                    f.write(b"not parquet")
    with pytest.raises(Exception):
        CrawlEngine(spark, None, cfg,
                    fetch_fn_factory=factory).run(resume=True)


def test_cooperative_writers_split_politeness_budget(spark):
    """VERDICT r4 #3: cooperative writers each redundantly fetch the
    round, so each must schedule at rps/n_registered — the COMBINED
    per-host request rate stays within the single-writer budget. With two
    registered writers and rps=10, each writer's per-host schedule must
    space consecutive fetches >= 200 ms (2/rps), i.e. each honors half
    the budget."""
    from collections import defaultdict

    from crawler_seo_spark.sources.from_documents import (
        SEED_URL as DOC_SEED, live_fetch_factory)

    ckpt = tempfile.mkdtemp(prefix="coop_rps_")
    store = SnapshotStore(ckpt, writer_id="wb")
    store.register_writer()            # peer registered before wa starts

    cfg = CrawlConfig(seed_url=DOC_SEED, max_urls=45, batch_size=15,
                      requests_per_second=10.0, checkpoint_dir=ckpt,
                      writer_id="wa")
    st = CrawlEngine(spark, None, cfg,
                     fetch_fn_factory=live_fetch_factory(150)).run()

    assert sorted(SnapshotStore(ckpt).registered_writers()) == ["wa", "wb"]
    rows = st.results.select("url", "round",
                             "scheduled_offset_ms").collect()
    from urllib.parse import urlparse
    per_host = defaultdict(list)
    for r in rows:
        per_host[(r["round"], urlparse(r["url"]).netloc)].append(
            r["scheduled_offset_ms"])
    multi = 0
    for offs in per_host.values():
        offs.sort()
        for a, b in zip(offs, offs[1:]):
            multi += 1
            assert b - a >= 200.0 - 1e-6, (a, b)  # 2/rps seconds apart
    assert multi > 0  # some host actually had >1 fetch in a round

    # single registered writer ⇒ full budget (100 ms spacing)
    ckpt2 = tempfile.mkdtemp(prefix="solo_rps_")
    cfg2 = CrawlConfig(seed_url=DOC_SEED, max_urls=30, batch_size=15,
                       requests_per_second=10.0, checkpoint_dir=ckpt2,
                       writer_id="wa")
    st2 = CrawlEngine(spark, None, cfg2,
                      fetch_fn_factory=live_fetch_factory(150)).run()
    offs2 = sorted(r["scheduled_offset_ms"]
                   for r in st2.results.select("url", "round",
                                               "scheduled_offset_ms")
                   .filter("round = 1").collect())
    gaps = {round(b - a, 3) for a, b in zip(offs2, offs2[1:])}
    assert min(gaps) < 200.0  # full budget, not halved


def _assert_matches_oracle(state, oracle):
    import collections

    assert _order(state) == [(r["crawl_seq"], r["url"], r["depth"],
                              r["priority"], r["round"])
                             for r in oracle.crawl_order]
    assert {r["url"] for r in state.seen.collect()} == oracle.seen_urls
    assert (collections.Counter((r["url"], r["reason"])
                                for r in state.filtered.collect())
            == collections.Counter((f["url"], f["reason"])
                                   for f in oracle.filtered))


@pytest.mark.parametrize("table", ["frontier", "results"])
def test_crash_in_background_publish_resumes_exactly(
        spark, small_site, pages_df, monkeypatch, table):
    """Round 1's publish runs in the background while round 2 fetches. A
    write failing there must surface from run() at the next join, leave
    round 0 as the committed round, and a resume must replay the exact
    crawl — with the Bloom filter on, whose covered_round may now be AHEAD
    of the manifest (trusted: extra urls are only false positives)."""
    ckpt = tempfile.mkdtemp(prefix=f"crash_{table}_")
    cfg = CrawlConfig(seed_url=SEED_URL, max_urls=60, batch_size=15,
                      checkpoint_dir=ckpt, bloom_min_seen=5,
                      bloom_seen_batch_ratio=0)
    write = SnapshotStore.write

    def failing_write(self, name, df, round_id):
        if (name, round_id) == (table, 1):
            raise OSError(f"injected failure writing {name} round 1")
        return write(self, name, df, round_id)

    monkeypatch.setattr(SnapshotStore, "write", failing_write)
    with pytest.raises(OSError, match="injected failure"):
        CrawlEngine(spark, pages_df, cfg).run()
    monkeypatch.undo()
    assert SnapshotStore(ckpt).manifest()["round"] == 0

    resumed = CrawlEngine(spark, pages_df, cfg).run(resume=True)
    assert resumed.rounds[0]["round"] == 1
    _assert_matches_oracle(resumed, run_oracle(small_site, cfg))


def test_bloom_crawl_resumed_with_larger_budget_matches_oracle(
        spark, small_site, pages_df):
    """A persisted filter covers the last committed round (its final
    insert is kept and joined), so a resume that grows the budget trusts
    it without a rebuild and still crawls exactly. 28 URLs ends on a
    round boundary of the 60-URL crawl (cumulative 1, 6, 13, 28, ...)."""
    ckpt = tempfile.mkdtemp(prefix="grow_ckpt_")
    base = dict(seed_url=SEED_URL, batch_size=15, checkpoint_dir=ckpt,
                bloom_min_seen=5, bloom_seen_batch_ratio=0)
    first = CrawlEngine(spark, pages_df, CrawlConfig(**base, max_urls=28))
    first.run()
    assert (first._filter_covered_round()
            == SnapshotStore(ckpt).manifest()["round"])

    cfg = CrawlConfig(**base, max_urls=60)
    eng = CrawlEngine(spark, pages_df, cfg)
    state = eng.run(resume=True)
    assert eng.bloom.meta.epoch == first.bloom.meta.epoch  # not rebuilt
    _assert_matches_oracle(state, run_oracle(small_site, cfg))


def test_unpersisted_filter_skips_final_insert(spark, small_site, pages_df,
                                              monkeypatch):
    """Without a checkpoint dir no probe can read the filter after the
    last round, so its insert is skipped: inserts cover the activation
    backfill and every active round but the last."""
    from crawler_seo_spark.operators.bloom import ShardedBloom

    covered = []
    add_urls = ShardedBloom.add_urls

    def spy(self, df, url_col="url", covered_round=None):
        covered.append(covered_round)
        return add_urls(self, df, url_col, covered_round)

    monkeypatch.setattr(ShardedBloom, "add_urls", spy)
    cfg = CrawlConfig(seed_url=SEED_URL, max_urls=60, batch_size=15,
                      bloom_min_seen=5, bloom_seen_batch_ratio=0)
    state = CrawlEngine(spark, pages_df, cfg).run()

    first = min(r["round"] for r in state.rounds if r["bloom_active"])
    last = state.rounds[-1]["round"]
    assert first < last
    assert covered == list(range(first - 1, last))
    assert all(r["t_join_ms"] >= 0 for r in state.rounds)
    _assert_matches_oracle(state, run_oracle(small_site, cfg))
