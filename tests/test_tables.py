"""Table provider: Iceberg-shaped MERGE INTO + optimistic-concurrency
commits on the parquet snapshot layer (round-2 verdict item 3)."""

import pytest
from pyspark.sql import functions as F

from crawler_seo_spark.tables import ConcurrentCommitError, SnapshotStore


def _frontier(spark, ids):
    return spark.createDataFrame(
        [(f"https://ex.test/u/{i}", i) for i in ids],
        "url string, discovery_seq long")


def test_two_writer_commit_conflict(spark, tmp_path):
    """Exactly one of two writers can commit a round: the O_EXCL marker
    claim is the atomic arbiter (Iceberg catalog-pointer CAS)."""
    root = str(tmp_path / "store")
    a, b = SnapshotStore(root), SnapshotStore(root)
    df = _frontier(spark, range(5))
    a.write("frontier", df, 0)
    a.commit_round(0, {"n": 5})
    b.write("frontier", df, 0)  # data write is idempotent staging
    with pytest.raises(ConcurrentCommitError):
        b.commit_round(0, {"n": 5})
    # winner's manifest intact
    assert a.manifest()["round"] == 0
    assert a.manifest()["counters"]["n"] == 5


def test_merge_into_delete_and_insert(spark, tmp_path):
    """WHEN MATCHED (delete_keys) THEN DELETE + WHEN NOT MATCHED THEN
    INSERT over a committed snapshot, published as the next snapshot."""
    store = SnapshotStore(str(tmp_path / "store"))
    store.write("frontier", _frontier(spark, range(10)), 0)
    store.commit_round(0, {})
    merged = store.merge_into(
        spark, "frontier", _frontier(spark, range(8, 14)), on="url",
        round_id=1, delete_keys=_frontier(spark, range(3)).select("url"))
    got = {r["url"]: r["discovery_seq"] for r in merged.collect()}
    # 0-2 deleted; 3-9 kept with their ORIGINAL seq; 10-13 inserted
    assert set(got) == {f"https://ex.test/u/{i}" for i in range(3, 14)}
    for i in range(3, 10):
        assert got[f"https://ex.test/u/{i}"] == i
    # the returned frame reads back from the written snapshot
    assert store.read(spark, "frontier", 1).count() == 11
    store.commit_round(1, {})
    assert store.read(spark, "frontier",
                      store.manifest()["round"]).count() == 11


def test_merge_into_dry_and_disjoint(spark, tmp_path):
    """Without round_id the merge is a lazy plan; assume_disjoint skips the
    not-matched anti-join and must equal the full merge when the caller's
    disjointness invariant actually holds."""
    store = SnapshotStore(str(tmp_path / "store"))
    store.write("t", _frontier(spark, range(5)), 0)
    store.commit_round(0, {})
    src = _frontier(spark, range(5, 9))
    full = store.merge_into(spark, "t", src, on="url")
    fast = store.merge_into(spark, "t", src, on="url", assume_disjoint=True)
    assert sorted(r["url"] for r in full.collect()) \
        == sorted(r["url"] for r in fast.collect())


def test_orphaned_marker_recovery(spark, tmp_path):
    """A crash between marker claim and manifest publish leaves an orphaned
    marker; recover_incomplete reclaims it so the resumed writer can
    re-commit the replayed round."""
    import os
    store = SnapshotStore(str(tmp_path / "store"))
    store.write("t", _frontier(spark, range(3)), 0)
    store.commit_round(0, {})
    # simulate the crash window: marker for round 1 exists, no manifest move
    os.close(os.open(store._round_marker(1),
                     os.O_CREAT | os.O_EXCL | os.O_WRONLY))
    with pytest.raises(ConcurrentCommitError):
        store.commit_round(1, {})
    assert store.recover_incomplete() == [1]
    store.write("t", _frontier(spark, range(4)), 1)
    store.commit_round(1, {})
    assert store.manifest()["round"] == 1


def test_fresh_run_over_stale_checkpoint(spark, pages_df, tmp_path):
    """run(resume=False) over a checkpoint dir left by a previous run must
    reset store metadata AND seen-filter state (a stale filter lacking this
    run's urls would silently produce duplicate crawls via the skipped
    backfill) and reproduce the identical crawl."""
    from crawler_seo_spark.config import CrawlConfig
    from crawler_seo_spark.engine import CrawlEngine
    from crawler_seo_spark.sources.synthetic_site import SEED_URL

    def _order(state):
        return [(r["crawl_seq"], r["url"], r["depth"], r["round"])
                for r in state.crawl_order.orderBy("crawl_seq").collect()]
    ckpt = str(tmp_path / "ckpt")
    cfg = CrawlConfig(seed_url=SEED_URL, max_urls=24, batch_size=8,
                      checkpoint_dir=ckpt, bloom_min_seen=5, bloom_seen_batch_ratio=0)
    first = CrawlEngine(spark, pages_df, cfg).run()
    eng2 = CrawlEngine(spark, pages_df, cfg)
    assert eng2.bloom.n_inserted > 0  # stale filter state reopened...
    second = eng2.run()               # ...must be reset by the fresh run
    assert _order(second) == _order(first)
    assert SnapshotStore(ckpt).manifest()["round"] == second.rounds[-1]["round"]


def test_round_id_parsing_past_5_digits(spark, tmp_path):
    """f'{round:05d}' widens past 99999 — recover_incomplete and rollback
    must parse the full digit run, not a fixed 5-char slice (a r100000
    marker read as 10000 breaks the >committed comparison)."""
    store = SnapshotStore(str(tmp_path / "store"))
    df = _frontier(spark, range(3))
    store.write("frontier", df, 0)
    store.commit_round(0, {"n": 3})
    import os
    open(os.path.join(store.root, "rounds", "r100000.commit"), "w").close()
    assert store.recover_incomplete() == [100000]
    assert store.manifest()["round"] == 0


def test_await_round_bridges_marker_manifest_window(spark, tmp_path):
    """A loser that hits ConcurrentCommitError while the winner is between
    marker claim and manifest publish must WAIT for the manifest, not read
    None and misdiagnose; a marker with no forthcoming manifest (crashed
    run) times out to None."""
    import os
    import threading
    import time as _t

    store = SnapshotStore(str(tmp_path / "store"))
    os.makedirs(os.path.join(store.root, "rounds"))
    # orphan: marker only, nobody will publish
    open(store._round_marker(0), "w").close()
    assert store.await_round(0, timeout=0.3) is None

    def late_publish():
        _t.sleep(0.3)
        st2 = SnapshotStore(store.root)
        st2.write("frontier", _frontier(spark, range(2)), 0)
        # marker exists (the "winner claimed it"); publish manifest only
        import json
        with open(store._manifest_path + ".tmp", "w") as f:
            json.dump({"round": 0, "counters": {}}, f)
        os.replace(store._manifest_path + ".tmp", store._manifest_path)

    th = threading.Thread(target=late_publish)
    th.start()
    assert store.await_round(0, timeout=5.0) == 0
    th.join()


def test_stale_staged_state_swept_on_reopen(spark, tmp_path):
    """A writer that crashed mid-round leaves staged file-lists on disk;
    reopening with the same writer_id must drop them (else reads prefer
    the stale staged list over a peer's committed snapshot and bake dead
    data into future lineage). Committed writer-scoped dirs survive: the
    shared file-list references them."""
    import os

    root = str(tmp_path / "store")
    w = SnapshotStore(root, writer_id="wa")
    w.write("frontier", _frontier(spark, range(3)), 0)
    w.commit_round(0, {"n": 3})  # committed: shared json -> wa-scoped dir

    w.write("frontier", _frontier(spark, range(3, 6)), 1)  # staged, no commit
    staged = w._staged_snap_path("frontier", 1)
    staged_dir = w._table_dir("frontier", 1)
    assert os.path.exists(staged) and os.path.isdir(staged_dir)
    del w  # "crash"

    w2 = SnapshotStore(root, writer_id="wa")  # reopen sweeps
    assert not os.path.exists(staged)
    assert not os.path.isdir(staged_dir)
    # committed round fully intact
    assert w2.read(spark, "frontier", 0).count() == 3
    assert w2.manifest()["round"] == 0


def test_sweep_spares_committed_dirs_referenced_by_staged_lists(spark,
                                                                tmp_path):
    """ADVICE r4: a crashed writer's staged APPEND file-list references
    its parent snapshot's dirs too — including legacy full-rewrite dirs
    with no protecting .files.json. The sweep must only delete dirs this
    writer created (basename carries the '.writer_id' suffix), never the
    committed data the staged list happens to reference."""
    import os

    root = str(tmp_path / "store")
    # legacy committed round: anonymous writer, unscoped dir, and strip
    # the file-list to simulate a pre-file-list snapshot
    anon = SnapshotStore(root)
    anon.write("idx", _frontier(spark, range(4)), 0)
    anon.commit_round(0, {"n": 4})
    os.remove(anon._snap_path("idx", 0))  # legacy: dir only, no json
    legacy_dir = os.path.join(root, "idx", "r00000")
    assert os.path.isdir(legacy_dir)

    # writer wa stages an append on top of the legacy snapshot, crashes
    w = SnapshotStore(root, writer_id="wa")
    w.append("idx", _frontier(spark, range(4, 6)), 1, parent_round=0)
    staged_dir = w._table_dir("idx", 1)
    assert os.path.isdir(staged_dir)
    del w  # crash before commit

    SnapshotStore(root, writer_id="wa")  # reopen sweeps
    assert os.path.isdir(legacy_dir)        # committed data SURVIVES
    assert not os.path.isdir(staged_dir)    # writer-scoped delta swept
    assert SnapshotStore(root).read(spark, "idx", 0).count() == 4
