"""The distributed crawl engine: iterative DataFrame jobs per crawl round.

Each round is split into a CRITICAL PATH, which the next round's dequeue
needs, and a BACKGROUND TAIL, which only durability and the next round's
Bloom probe need (SURVEY §3, north-star design)::

    critical path (driver thread)
      frontier dequeue (ORDER BY priority DESC, discovery_seq ASC LIMIT B)
      → per-host politeness schedule + salted host repartition
      → fetch (broadcast batch ⋈ page store; HTTP mapInPandas in LIVE mode)
        fused with the Arrow-batched parse/analyze UDF
      → candidate links: posexplode → within-round first-occurrence dedup
      → JOIN 1: the previous round's Bloom insert (or this round's
        activation backfill, started at round start)
      → admission: Bloom probe + exact anti-join vs seen (J1), robots
      → deterministic discovery_seq assignment
      → in-memory frontier/seen merge (lazy unions over pinned inputs)
      → JOIN 2: the previous round's snapshot publish
    background tail (overlaps the next round's dequeue and fetch+parse)
      Bloom insert of the round's new urls, whose filter-manifest save
        also records covered_round
      snapshot publish: results + robots writes, the frontier snapshot
        (the round's MERGE result), fast-append seen, then commit_round
    run() returns only after both tails of the last round are joined.

The driver loop is the only imperative control flow (BFS round barriers are
batch-synchronous by nature — reference: core/crawler.py:61-93). Crawl order
is reproduced EXACTLY: dequeue key ``(priority DESC, discovery_seq ASC)``
replays the reference's two-deque FIFO (core/url_manager.py:386-404), and
``discovery_seq`` is derived from deterministic inputs — (parent crawl_seq,
link position on the page) within each round — never from
``monotonically_increasing_id`` or timing.
"""

from __future__ import annotations

import logging
import os
import time
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .config import CrawlConfig
from .functions.parse import analysis_column
from .functions.urlnorm import base_domain_of, is_priority_col
from .operators.bloom import ShardedBloom
from .operators.politeness import schedule_fetches
from .operators.robots import filter_allowed, robots_table
from .tables import ConcurrentCommitError, SnapshotStore

FRONTIER_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("depth", T.IntegerType(), False),
    T.StructField("priority", T.IntegerType(), False),
    T.StructField("discovery_seq", T.LongType(), False),
    T.StructField("round_added", T.IntegerType(), False),
])

SEEN_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("url_md5", T.StringType(), False),
])


@dataclass
class CrawlState:
    results: DataFrame          # raw per-page rows (analysis struct attached)
    frontier: DataFrame         # remaining frontier
    seen: DataFrame             # registered URL set
    filtered: DataFrame         # (url, reason, round)
    rounds: list[dict]          # per-round counters/lineage
    crawl_order: DataFrame      # (crawl_seq, url, depth, priority, round)


class CrawlEngine:
    """One crawl run over a page-store DataFrame."""

    def __init__(self, spark: SparkSession, pages: DataFrame | None,
                 config: CrawlConfig,
                 robots_rules: dict[str, list[str]] | None = None,
                 analyzers: list | None = None,
                 fetch_fn_factory=None) -> None:
        """``analyzers``: optional plug-in column analyzers — each a
        ``DataFrame -> DataFrame`` adding columns to the per-round result
        (the Spark form of the reference's duck-typed ``.analyze(soup, url)``
        protocol, core/crawler.py:169-174).

        ``pages=None`` = LIVE mode: each round's batch is fetched over HTTP
        by the politeness-scheduled ``mapInPandas`` fetcher
        (sources/fetch.py) instead of joined against a page store.
        ``fetch_fn_factory`` overrides the per-task fetcher (tests inject a
        deterministic one)."""
        self.spark = spark
        self.pages = pages
        self.fetch_fn_factory = fetch_fn_factory
        self.config = config
        self.analyzers = analyzers or []
        self.base_domain = base_domain_of(config.seed_url)
        # Seen-filter shard state rides the checkpoint dir: resume reopens
        # the same file-backed shards (and skips the seen backfill); without
        # checkpointing the filters use a private temp dir.
        # cooperative writers keep writer-local filter state (it is derived
        # from the committed seen set; a rebase resets + re-backfills it)
        filter_name = ("seen_filter" if config.writer_id is None
                       else f"seen_filter.{config.writer_id}")
        filter_dir = (os.path.join(config.checkpoint_dir, filter_name)
                      if config.checkpoint_dir else None)
        if config.seen_filter == "cuckoo":
            # deletable variant (recrawl invalidation); same prune contract
            from .operators.cuckoo import ShardedCuckoo
            self.bloom = ShardedCuckoo(config.bloom_shards,
                                       config.cuckoo_buckets_per_shard,
                                       state_dir=filter_dir)
        else:
            self.bloom = ShardedBloom(config.bloom_shards,
                                      config.bloom_bits_per_shard,
                                      config.bloom_num_hashes,
                                      state_dir=filter_dir)
        self.robots = (robots_table(spark, robots_rules)
                       if robots_rules else None)
        self._robots_dynamic: DataFrame | None = None  # LIVE robots cache
        self._robots_delay_count = 0  # hosts with a Crawl-delay directive
        self.store = (SnapshotStore(config.checkpoint_dir,
                                    writer_id=config.writer_id)
                      if config.checkpoint_dir else None)
        self.rebase_count = 0  # cooperative commit races lost (telemetry)

    # ------------------------------------------------------------------
    def _seed_frontier(self) -> tuple[DataFrame, DataFrame, int]:
        import pandas as pd

        from .functions.urlnorm import (
            canonicalize_url,
            filter_reason,
            is_priority,
            url_md5,
        )
        raw_seeds = self.config.seed_urls or [self.config.seed_url]
        seeds, prios, registered = [], [], set()
        for raw in raw_seeds:
            seed = canonicalize_url(raw, None, self.base_domain)
            if seed is None or filter_reason(seed):
                if self.config.seed_urls:
                    continue  # multi-seed: skip rejected entries
                raise ValueError(f"seed URL rejected: {raw}")
            if seed in registered:
                continue
            registered.add(seed)
            seeds.append(seed)
            # single-seed reference behavior: priority=True in smart mode
            # (crawler.py:294); multi-seed: classify by pattern
            if self.config.seed_urls:
                prios.append(1 if (self.config.smart and is_priority(
                    seed, self.config.priority_patterns)) else 0)
            else:
                prios.append(1 if self.config.smart else 0)
        if not seeds:
            raise ValueError("no admissible seed URLs")
        # built from pandas, so the rows cross to the JVM as Arrow batches:
        # pinning 400 seeds took a median 417 ms from a Python-list
        # createDataFrame and 106 ms this way (local[3], 4-core VM)
        n = len(seeds)
        zeros = pd.Series(0, index=range(n), dtype="int32")
        frontier = self.spark.createDataFrame(pd.DataFrame({
            "url": seeds, "depth": zeros,
            "priority": pd.Series(prios, dtype="int32"),
            "discovery_seq": pd.Series(range(n), dtype="int64"),
            "round_added": zeros}), FRONTIER_SCHEMA)
        seen = self.spark.createDataFrame(pd.DataFrame({
            "url": seeds, "url_md5": [url_md5(u) for u in seeds]}),
            SEEN_SCHEMA)
        return frontier, seen, n

    def _fetch(self, batch: DataFrame) -> DataFrame:
        """Synthetic fetch, found rows only: broadcast the (small) batch into
        a hash join against the page store — the store is streamed ONCE per
        round, never shuffled. Store-miss rows (network 404s) are derived
        AFTER the round result is checkpointed, by anti-joining the batch
        against the found result's urls (two tiny checkpointed inputs — zero
        extra store scans; round 1 streamed the store twice per round).
        LIVE mode (``pages=None``) never reaches here — it runs the fused
        fetch+analyze ``mapInPandas`` (:meth:`_fused_live_round`) instead.
        """
        return self.pages.join(F.broadcast(batch), "url", "inner")

    def _fused_live_round(self, batch: DataFrame,
                          max_depth: int) -> DataFrame:
        """LIVE-mode fused round stage: fetch + parse/analyze in ONE
        ``mapInPandas`` — the page html never crosses the Arrow boundary
        (the unfused form shipped each ~10 KB page python→JVM→python→JVM;
        at 80k URLs/round that is ~3 GB of extra Arrow+join traffic per
        round, and memory bandwidth is exactly what does not scale with
        cores). Output rows are byte-identical to the store-join path
        (tests/test_politeness_fetch.py::test_live_mode_matches_store_mode).
        """
        import hashlib

        from .functions.parse import ANALYSIS_SCHEMA, analyze_page
        factory = self.fetch_fn_factory
        if factory is None:
            from .sources.fetch import make_http_fetch
            factory = make_http_fetch
        base_domain = self.base_domain
        out_schema = T.StructType([
            T.StructField("crawl_seq", T.LongType()),
            T.StructField("url", T.StringType()),
            T.StructField("depth", T.IntegerType()),
            T.StructField("priority", T.IntegerType()),
            T.StructField("round", T.IntegerType()),
            T.StructField("content_md5", T.StringType()),
            T.StructField("status_code", T.IntegerType()),
            T.StructField("content_type", T.StringType()),
            T.StructField("final_url", T.StringType()),
            T.StructField("response_time_ms", T.DoubleType()),
            T.StructField("content_length", T.LongType()),
            T.StructField("headers",
                          T.MapType(T.StringType(), T.StringType())),
            T.StructField("host", T.StringType()),
            T.StructField("fetch_slot", T.LongType()),
            T.StructField("scheduled_offset_ms", T.DoubleType()),
            T.StructField("analysis", ANALYSIS_SCHEMA),
        ])

        def kernel(batches):
            import pandas as pd

            from .sources.fetch import paced_rows
            fetch = factory()
            start = time.monotonic()
            for pdf in batches:
                rows = []
                for rec in paced_rows(pdf, start):
                    r = fetch(rec.url)
                    html = r["html"] or ""
                    analyzed = (r["status_code"] == 200
                                and "text/html" in r["content_type"].lower())
                    analysis = None
                    if analyzed:
                        analysis = analyze_page(
                            html, rec.url, base_domain,
                            want_links=rec.depth < max_depth)
                    rows.append({
                        "crawl_seq": rec.crawl_seq, "url": rec.url,
                        "depth": rec.depth, "priority": rec.priority,
                        "round": rec.round,
                        "content_md5":
                            hashlib.md5(html.encode("utf-8")).hexdigest(),
                        "status_code": r["status_code"],
                        "content_type": r["content_type"].split(";")[0],
                        "final_url": r["final_url"],
                        "response_time_ms": r["response_time_ms"],
                        "content_length": r["content_length"],
                        "headers": r["headers"],
                        "host": rec.host, "fetch_slot": rec.fetch_slot,
                        "scheduled_offset_ms": rec.scheduled_offset_ms,
                        "analysis": analysis,
                    })
                yield pd.DataFrame(rows)

        return batch.mapInPandas(kernel, schema=out_schema)

    def _refresh_robots(self, candidates: DataFrame, round_id: int) -> None:
        """LIVE-mode robots.txt acquisition (north-star "robots.txt
        caching"): fetch ``/robots.txt`` once per newly-seen or TTL-stale
        candidate host through the configured fetcher (one tiny
        ``mapInPandas`` over the hosts — rules are parsed worker-side),
        and merge the rows into the per-host rules cache TABLE. The cache
        is a DataFrame, not a driver dict — no O(hosts) driver residency;
        refreshed rows replace stale ones by anti-join. Non-200/erroring
        robots endpoints yield allow-all (the common-crawler simplification
        of RFC 9309's 4xx rule; a strict 5xx=deny policy would plug in
        here)."""
        from pyspark.sql import Observation

        from .functions.urlnorm import host_col
        cfg = self.config
        if self._robots_dynamic is None:
            self._robots_dynamic = self.spark.createDataFrame(
                [], "host string, "
                    "rules array<struct<allow:boolean,prefix:string,rx:string>>, "
                    "crawl_delay double, fetched_round int, "
                    "fetch_ok boolean")
        # carry the candidates' own scheme: an http-only origin serves its
        # robots at http://, never https:// (max() prefers https when a
        # host appears under both — robots are scheme-agnostic per host
        # here, matching the per-host rules cache granularity)
        hosts = (candidates.select(
            host_col(F.col("url")).alias("host"),
            F.when(F.col("url").startswith("http://"), "http")
            .otherwise("https").alias("scheme"))
            .groupBy("host").agg(F.max("scheme").alias("scheme")))
        fresh = self._robots_dynamic.filter(
            F.col("fetched_round") > round_id - cfg.robots_ttl_rounds)
        todo = hosts.join(fresh.select("host"), "host", "left_anti")
        factory = self.fetch_fn_factory
        if factory is None:
            from .sources.fetch import make_http_fetch
            factory = make_http_fetch
        ua = cfg.robots_user_agent

        def kernel(batches):
            import pandas as pd

            from crawler_seo_spark.operators.robots import (
                parse_crawl_delay,
                parse_robots_rules,
                rule_structs,
            )
            fetch = factory()
            for pdf in batches:
                rows = []
                for host, scheme in zip(pdf["host"], pdf["scheme"]):
                    try:
                        r = fetch(f"{scheme}://{host}/robots.txt")
                        ok = r["status_code"] == 200
                        body = r["html"] if ok else ""
                    except Exception:
                        ok, body = False, ""
                    rows.append({"host": host, "fetch_ok": ok,
                                 "rules": rule_structs(
                                     parse_robots_rules(body or "", ua)),
                                 "crawl_delay":
                                     parse_crawl_delay(body or "", ua)})
                yield pd.DataFrame(rows, columns=[
                    "host", "rules", "crawl_delay", "fetch_ok"])

        obs = Observation()
        fetched = (todo.mapInPandas(
            kernel, "host string, "
                    "rules array<struct<allow:boolean,prefix:string,rx:string>>, "
                    "crawl_delay double, fetch_ok boolean")
            .observe(obs, F.count(F.lit(1)).alias("n"),
                     F.sum(F.when(F.col("fetch_ok"), 0).otherwise(1))
                     .alias("failed"))
            .withColumn("fetched_round", F.lit(round_id))
            # pin: the fetch kernel feeds BOTH the anti-join build side
            # and the union branch — without this the mapInPandas subtree
            # executes twice and every todo host gets two robots.txt
            # requests per refresh
            .localCheckpoint(eager=True))
        cache_obs = Observation()
        self._robots_dynamic = (
            self._robots_dynamic
            .join(fetched.select("host"), "host", "left_anti")
            .unionByName(fetched)
            .observe(cache_obs,
                     F.sum(F.when(F.col("crawl_delay").isNotNull(), 1)
                           .otherwise(0)).alias("n_delay"))
            .localCheckpoint(eager=True))
        # fail-open (non-200/error robots → allow-all) must be observable,
        # not silent: the counters ride the checkpoint materialization
        # recomputed from the WHOLE cache (not accumulated): a TTL
        # refetch that drops a host's Crawl-delay re-enables the
        # unlimited-rps fast path
        self._robots_delay_count = int(cache_obs.get["n_delay"] or 0)
        failed = obs.get["failed"] or 0
        if failed:
            logging.getLogger(__name__).warning(
                "robots.txt fetch failed for %d/%d host(s) in round %d — "
                "crawling those hosts allow-all", failed, obs.get["n"],
                round_id)

    @staticmethod
    def _fill_missing(batch: DataFrame, result_found: DataFrame) -> DataFrame:
        """404-fill for batch urls absent from the store, shaped exactly like
        the checkpointed found-result (analysis struct included, as null)."""
        analysis_type = result_found.schema["analysis"].dataType
        missing = batch.join(result_found.select("url"), "url", "left_anti")
        return (
            missing
            .withColumn("status_code", F.lit(404))
            .withColumn("content_type", F.lit(""))
            .withColumn("final_url", F.col("url"))
            .withColumn("response_time_ms", F.lit(0.0))
            .withColumn("content_length", F.lit(0).cast("long"))
            .withColumn("headers",
                        F.create_map().cast("map<string,string>"))
            .withColumn("content_md5", F.md5(F.lit("")))
            .withColumn("analysis", F.lit(None).cast(analysis_type))
            .select(*result_found.columns))

    @staticmethod
    def _filtered_from(result: DataFrame) -> DataFrame:
        return (result
                .select("round",
                        F.explode(F.coalesce(
                            F.col("analysis.filtered"),
                            F.array().cast(
                                "array<struct<url:string,reason:string>>")))
                        .alias("f"))
                .select(F.col("f.url").alias("url"),
                        F.col("f.reason").alias("reason"), "round"))

    # ------------------------------------------------------------------
    def _filter_covered_round(self) -> int:
        """Last round whose urls the seen filter is KNOWN to contain
        (persisted in the filter's own manifest counters, so it rides
        the same atomic save as ``n_inserted``). -1 = unknown/none.

        It is the only filter state resume trusts. The background insert
        (``add_urls(..., covered_round=r)``) sets it only once round r's
        urls are in: a crash before that leaves it behind the manifest and
        the filter is rebuilt. A mark AHEAD of the manifest (insert done,
        commit not) only adds false positives, which the exact anti-join
        absorbs."""
        return int(self.bloom.meta.counters.get("covered_round", -1))

    def _publish_round(self, round_id: int, result: DataFrame,
                       frontier: DataFrame, seen: DataFrame,
                       new_seen: DataFrame, robots: DataFrame | None,
                       counters: dict) -> None:
        """Background tail, part 2: write every table of ``round_id``, then
        commit it — the commit marker is the round's durability point, so
        it must come after the last write. ``frontier`` is the round's
        MERGE INTO result (dequeued batch deleted, new links inserted),
        already computed in memory. ``seen`` is fast-appended: only this
        round's ``new_seen`` is written (round 0, having no parent
        snapshot, writes the whole seed + round-0 set). Cooperative writers
        stage plain full snapshots instead, which their commit promotes."""
        store = self.store
        store.write("results", result, round_id)
        if robots is not None:
            store.write("robots", robots, round_id)
        store.write("frontier", frontier, round_id)
        if store.writer_id is not None:
            store.write("seen", seen, round_id)
        elif round_id == 0:
            store.append("seen", seen, round_id)
        else:
            store.append("seen", new_seen, round_id,
                         parent_round=round_id - 1)
        store.commit_round(round_id, counters)

    # ------------------------------------------------------------------
    def _load_committed_state(self) -> dict:
        """Reconstruct the full per-round loop state from the manifest's
        committed round — the resume path, and the rebase target for a
        cooperative writer that lost a commit race."""
        manifest = self.store.manifest()
        last, c = manifest["round"], manifest["counters"]
        frontier = self.store.read(self.spark, "frontier", last) \
            .localCheckpoint(eager=True)
        seen = self.store.read(self.spark, "seen", last) \
            .localCheckpoint(eager=True)
        results_parts, filtered_parts = [], []
        for r in range(last + 1):
            part = self.store.read(self.spark, "results", r)
            results_parts.append(part)
            filtered_parts.append(self._filtered_from(part))
        # live-robots state is part of the replayed inputs: without it a
        # resumed round would take the unlimited-rps fast path (breaking
        # bit-identical resume) and ignore learned Crawl-delays until the
        # next TTL refetch
        # Missing robots snapshot = crawl ran without live robots, nothing
        # to restore. A PRESENT-but-unreadable one must NOT degrade to
        # no-robots state (the resumed round would take the unlimited-rps
        # fast path and ignore learned Crawl-delays) — let the read error
        # propagate.
        if self.store.has_table("robots", last):
            self._robots_dynamic = self.store.read(
                self.spark, "robots", last).localCheckpoint(eager=True)
            self._robots_delay_count = self._robots_dynamic.filter(
                F.col("crawl_delay").isNotNull()).count()
        return dict(frontier=frontier, seen=seen,
                    results_parts=results_parts,
                    filtered_parts=filtered_parts,
                    results_count=c["results_total"],
                    next_discovery_seq=c["next_discovery_seq"],
                    frontier_count=c["frontier_after"],
                    seen_count=c["seen_total"],
                    round_id=last + 1)

    def run(self, resume: bool = False) -> CrawlState:
        """Run the crawl; with ``resume=True`` continue from the last
        committed snapshot round (bit-identical to an uninterrupted run —
        every per-round input is reconstructed from the snapshot store).

        With ``config.writer_id`` set (cooperative mode) the engine JOINS
        the shared crawl: it resumes from the committed round if one
        exists, commits rounds synchronously, and on losing a commit race
        aborts its staged round and rebases onto the winner's state.

        The round tails run on two background threads (filter insert,
        snapshot publish). Leaving the pool waits for both, so a failing
        round never returns with a tail still writing; a tail's own error
        re-raises at its join point."""
        with ThreadPoolExecutor(2, thread_name_prefix="round-tail") as tail:
            return self._run(resume, tail)

    def _run(self, resume: bool, tail: ThreadPoolExecutor) -> CrawlState:
        cfg = self.config
        cooperative = self.store is not None and cfg.writer_id is not None
        if cooperative:
            # cross-writer politeness budget: every cooperative writer
            # redundantly fetches the round, so each schedules at
            # rps/n_registered — the COMBINED per-host rate stays within
            # the single-writer budget. Registration precedes the first
            # fetch; the registry persists (a dead writer keeps its slot,
            # which only makes the combined rate more conservative).
            self.store.register_writer()
        results_parts: list[DataFrame] = []
        filtered_parts: list[DataFrame] = []
        rounds: list[dict] = []
        n_parts = self.spark.sparkContext.defaultParallelism

        # the in-flight tails: the filter's insert/backfill and the publish
        filter_job: Future | None = None
        publish_job: Future | None = None

        def join(job: Future | None) -> float:
            """Wait for ``job`` (re-raising its error); returns the wait."""
            t = time.monotonic()
            if job is not None:
                job.result()
            return time.monotonic() - t

        manifest = None
        if self.store is not None and (resume or cooperative):
            if not cooperative:
                # reclaim markers orphaned by a crash between marker claim
                # and manifest publish (we are the single resuming writer —
                # cooperative writers must NOT do this: a peer may be
                # mid-commit, its claimed marker is not an orphan)
                self.store.recover_incomplete()
            manifest = self.store.manifest()
        if manifest is not None:
            st = self._load_committed_state()
            frontier, seen = st["frontier"], st["seen"]
            results_parts, filtered_parts = (st["results_parts"],
                                             st["filtered_parts"])
            results_count = st["results_count"]
            next_discovery_seq = st["next_discovery_seq"]
            frontier_count = st["frontier_count"]
            seen_count = st["seen_count"]
            round_id = st["round_id"]
            # A reopened filter is only trustworthy if it covers every
            # committed round: a writer that crashed and rejoined has
            # filter state from ITS last round, but peers (or a later
            # single-writer run) committed rounds while it was down — a
            # bloom miss on one of their urls is a definite-negative that
            # bypasses the exact anti-join and duplicates the crawl.
            # Covered ≥ manifest round ⇒ superset of the committed seen
            # set (extra aborted-round urls only cost false positives,
            # which the exact join absorbs). Anything less ⇒ reset; the
            # activation-time backfill rebuilds from the committed seen.
            if (self.bloom.n_inserted
                    and self._filter_covered_round() < manifest["round"]):
                self.bloom.reset()
        else:
            # fresh run: a stale store/filter from a previous run over the
            # same checkpoint dir must not leak into this one — old commit
            # markers would refuse round 0, and a stale seen filter lacking
            # this run's urls would produce FALSE NEGATIVES (duplicates)
            # through the skipped backfill. Reset UNCONDITIONALLY (not only
            # when a manifest exists): a run that died in round 0 between
            # the O_EXCL marker claim and the manifest publish leaves a
            # marker with NO manifest, which would still refuse round 0.
            # Cooperative writers never reset: a peer may already be
            # mid-commit of round 0 — they seed identically (deterministic)
            # and let the commit race pick the winner.
            if self.store is not None and not cooperative:
                self.store.reset()
            if self.bloom.n_inserted:
                self.bloom.reset()
            frontier, seen, n_seeds = self._seed_frontier()
            frontier = frontier.localCheckpoint(eager=True)
            seen = seen.localCheckpoint(eager=True)
            results_count = 0
            next_discovery_seq = n_seeds
            frontier_count = n_seeds
            seen_count = n_seeds
            round_id = 0
        bloom_active = False

        while frontier_count > 0 and results_count < cfg.max_urls:
            t0 = time.monotonic()
            t_join = 0.0  # this round's waits on background tails
            budget = min(cfg.batch_size, cfg.max_urls - results_count)
            # no count() job: the dequeue takes exactly min(budget, frontier)
            # rows — frontier_count is exact by arithmetic (unique urls).
            batch_count = min(budget, frontier_count)

            # --- Bloom activation --------------------------------------------
            # The Bloom prefilter is the 10^10-scale scan-saver; below the
            # threshold its build/probe jobs cost more than the plain
            # anti-join, so it stays cold (exactness is identical either
            # way — the prune only bypasses join probes). Activation needs
            # only the counters, so the backfill starts here and overlaps
            # dequeue and fetch+parse; the probe joins it.
            if (not bloom_active and seen_count >= cfg.bloom_min_seen
                    and seen_count
                    >= cfg.bloom_seen_batch_ratio * batch_count):
                # backfill once — unless the reopened file-backed filter
                # already carries state (resume path). A crash between the
                # filter write and the round commit can leave the replayed
                # round's urls pre-inserted: harmless (Bloom OR is
                # idempotent; a cuckoo duplicate costs one slot and keeps
                # prune exactness — false negatives remain impossible).
                if self.bloom.n_inserted == 0:
                    # `seen` is the state entering this round ⇒ the filter
                    # will cover everything through round_id - 1
                    filter_job = tail.submit(self.bloom.add_urls,
                                             seen.select("url"),
                                             covered_round=round_id - 1)
                bloom_active = True

            # --- O1/O3: deterministic dequeue --------------------------------
            # Small budgets: TakeOrderedAndProject + one-task window (the
            # merge task holds ≤ budget rows). Large budgets: the same total
            # order via the distributed prefix-sum — rank the frontier in
            # (priority DESC, discovery_seq ASC) order with no single
            # reducer, take rank < budget. Identical batch either way.
            dequeue_order = [F.desc("priority"), F.asc("discovery_seq")]
            undequeued = None
            if budget >= cfg.seq_window_threshold:
                from .operators.sequence import global_sequence
                ranked = global_sequence(frontier, dequeue_order, "_rank")
                batch = (ranked
                         .filter(F.col("_rank") < budget)
                         .withColumn("crawl_seq",
                                     (F.col("_rank") + F.lit(results_count))
                                     .cast("long"))
                         .drop("_rank")
                         .withColumn("round", F.lit(round_id)))
                # the rank's complement IS the post-dequeue frontier — a
                # narrow filter over the same pinned ranking, replacing the
                # per-round broadcast-anti-join of the dequeued urls
                # against the full frontier in the in-memory merge below
                undequeued = (ranked.filter(F.col("_rank") >= budget)
                              .drop("_rank"))
            else:
                batch = (frontier.orderBy(*dequeue_order).limit(budget))
                w = Window.orderBy(*dequeue_order)
                batch = (batch
                         .withColumn("crawl_seq",
                                     F.row_number().over(w).cast("long") - 1
                                     + F.lit(results_count).cast("long"))
                         .withColumn("round", F.lit(round_id)))
            t_dequeue = time.monotonic()

            # --- S2: per-host politeness schedule ------------------------------
            # At "unlimited" rate budgets (≥1e8 rps — benchmark / offline
            # replay mode) every offset is ~0: skip the per-host rank window
            # and project constant slots. Identical crawl semantics — the
            # schedule only TIMES fetches, never orders results.
            host_delays = None
            if self._robots_dynamic is not None and self._robots_delay_count:
                # robots Crawl-delay overrides: a host's interval becomes
                # max(1/rps, crawl_delay) — forces the real schedule even
                # in unlimited-rps replay mode
                host_delays = (self._robots_dynamic
                               .filter(F.col("crawl_delay").isNotNull())
                               .select("host",
                                       F.col("crawl_delay")
                                       .alias("crawl_delay_s")))
            eff_rps = cfg.requests_per_second
            if cooperative and cfg.requests_per_second < 1e8:
                # rps split across registered writers (see run() preamble);
                # re-read per round so a writer joining mid-crawl tightens
                # the split from the next round boundary. Only FINITE
                # budgets split: dividing the unlimited sentinel (≥1e8)
                # is meaningless and would knock a cooperative replay off
                # the zero-offset fast path (r5 advisor finding)
                n_w = len(self.store.registered_writers())
                if n_w > 1:
                    eff_rps = cfg.requests_per_second / n_w
            if eff_rps >= 1e8 and host_delays is None:
                from .operators.politeness import with_host
                batch = (with_host(batch)
                         .withColumn("fetch_slot", F.lit(0).cast("long"))
                         .withColumn("scheduled_offset_ms", F.lit(0.0)))
            else:
                batch = schedule_fetches(batch, eff_rps,
                                         host_delays=host_delays)

            # --- J4: salted host repartition — one hot host's fetches spread
            # over salt buckets (each row keeps its politeness slot, so the
            # rate budget still holds; the skew kill is for fetch/parse work)
            if cfg.host_salt_buckets > 1:
                from .operators.politeness import salted_repartition
                batch = salted_repartition(
                    batch, cfg.host_salt_buckets).drop("host_salt")
            if self.pages is not None:
                # Store mode reads the scheduled batch more than once: the
                # fetch join, _fill_missing (and so every consumer of the
                # round's result — the results write, state.results) and
                # the frontier delete. Pinning it past the per-host window
                # and the salt exchange keeps any of them from rerunning
                # those. The pin is lazy: the fetch stage's broadcast build
                # materializes it inside its own job. LIVE mode needs none
                # — the fused kernel is the batch's only consumer.
                batch = batch.localCheckpoint(eager=False)

            # --- S1: fetch + F6/F7 gates + parse/analyze -----------------------
            # ONE streamed pass over the page store: found rows are parsed and
            # checkpointed; network-404 rows are synthesized afterwards from
            # the two checkpointed sides and appended lazily (narrow ops over
            # pinned inputs — deterministic, no extra materialization job).
            if self.pages is None:
                # LIVE: fused fetch+parse/analyze — html stays python-side
                result_found = self._fused_live_round(
                    batch, cfg.max_depth).localCheckpoint(eager=True)
            else:
                fetched = self._fetch(batch)
                analyzed_cond = ((F.col("status_code") == 200)
                                 & F.lower(F.col("content_type"))
                                 .contains("text/html"))
                want_links = analyzed_cond & (F.col("depth") < cfg.max_depth)
                analysis = analysis_column(
                    F.when(analyzed_cond, F.col("html")).otherwise(F.lit("")),
                    F.col("url"), want_links, self.base_domain)
                result_found = (
                    fetched
                    .withColumn("analysis",
                                F.when(analyzed_cond, analysis)
                                .otherwise(F.lit(None)))
                    # content hash feeds the recrawl cache (reference
                    # artifact cache/<domain>_cache.json — SURVEY §1.4)
                    .withColumn("content_md5", F.md5(F.col("html")))
                    .select("crawl_seq", "url", "depth", "priority", "round",
                            "content_md5",
                            "status_code",
                            F.split(F.col("content_type"), ";").getItem(0)
                            .alias("content_type"),
                            "final_url", "response_time_ms", "content_length",
                            "headers", "host", "fetch_slot",
                            "scheduled_offset_ms",
                            "analysis")
                ).localCheckpoint(eager=True)
            if self.pages is None:
                # the fused live kernel emitted a row for EVERY batch url
                # (network errors come back as status rows) — no 404 fill,
                # and downstream consumers use the checkpointed result as
                # the dequeued-url set
                result = result_found
            else:
                result = result_found.unionByName(
                    self._fill_missing(batch, result_found))
            dequeued_urls = (result_found.select("url") if self.pages is None
                             else batch.select("url"))
            # P2 plug-in analyzers: column pipelines over the round's result
            for analyzer_fn in self.analyzers:
                result = analyzer_fn(result)
            results_parts.append(result)
            results_count += batch_count
            t_fetch = time.monotonic()

            # --- JOIN 1: the probe below must see every url registered so
            # far — wait for the previous round's insert (or this round's
            # activation backfill)
            t_join += join(filter_job)
            filter_job = None
            t_joined = time.monotonic()

            # --- filtered-log append (per occurrence, reference semantics) ----
            filtered_parts.append(self._filtered_from(result))

            # --- candidate links: posexplode keeps page order ------------------
            # (missing rows have null analysis — candidates come straight off
            # the checkpointed found-result)
            candidates = (
                result_found
                .filter(F.col("analysis").isNotNull())
                .select(F.col("crawl_seq").alias("parent_seq"),
                        F.col("depth").alias("parent_depth"),
                        F.posexplode_outer(F.col("analysis.links"))
                        .alias("link_pos", "url"))
                .filter(F.col("url").isNotNull())
            )
            # within-round first occurrence wins (reference: first add_url
            # registers, later ones are duplicates — url_manager.py:207-220).
            # min(struct) is the lexicographic first (parent_seq, link_pos)
            # per url — same rows a row_number window selects, but as an
            # aggregate it gets MAP-SIDE partial combine: within-partition
            # duplicates collapse before the shuffle, which a window can
            # never do.
            candidates = (candidates
                          .groupBy("url")
                          .agg(F.min(F.struct("parent_seq", "link_pos",
                                              "parent_depth")).alias("_f"))
                          .select("url", "_f.parent_seq", "_f.link_pos",
                                  "_f.parent_depth"))

            # --- J1: bloom prune + exact anti-join, then robots -----------------
            if bloom_active:
                new_links = self.bloom.prune_new(candidates, seen)
            else:
                new_links = candidates.join(seen.select("url"), "url",
                                            "left_anti")
            if self.pages is None and cfg.fetch_robots:
                # live robots acquisition gates admission alongside any
                # injected static rules (allow-all for unknown hosts)
                self._refresh_robots(new_links, round_id)
                new_links = filter_allowed(
                    new_links,
                    self._robots_dynamic.select("host", "rules"))
            new_links = filter_allowed(new_links, self.robots)
            t_prune = time.monotonic()

            # --- deterministic discovery_seq ------------------------------------
            # Sequence = rank in (parent_seq, link_pos) order. Small rounds
            # use a window (one task, cheap); large rounds use the
            # distributed prefix-sum construction (repartitionByRange +
            # per-partition offsets, operators/sequence.py) — a global
            # window would funnel millions of candidates through a single
            # reducer at the 10^10 design point.
            order_cols = [F.asc("parent_seq"), F.asc("link_pos")]
            new_links = new_links.select("url", "parent_seq", "link_pos",
                                         "parent_depth")
            if batch_count >= cfg.seq_window_threshold:
                # big-round regime (dequeue size is the cheap proxy for the
                # candidate count): ONE pinned prefix-sum pass both numbers
                # the links and yields the enqueue count — no separate
                # checkpoint or count job. parent_seq is contiguous in
                # [results_count - batch_count, results_count), so the
                # order-monotone bucket is pure arithmetic — no
                # repartitionByRange sampling job, which would re-evaluate
                # the whole explode→dedup→prune pipeline a second time.
                # 4× buckets per partition so hash placement stays balanced.
                from .operators.sequence import global_sequence_arith
                seq_base = results_count - batch_count
                n_buckets = 4 * n_parts
                pid = F.floor(
                    (F.col("parent_seq") - F.lit(seq_base).cast("long"))
                    * F.lit(n_buckets) / F.lit(batch_count))
                numbered, enqueued = global_sequence_arith(
                    new_links, pid, order_cols, "discovery_seq",
                    start=next_discovery_seq, num_partitions=n_parts,
                    with_total=True)
            else:
                # small rounds: checkpoint + observed count + one-task window
                from pyspark.sql import Observation
                obs = Observation()  # auto-named: unique across rounds/runs
                new_links = (new_links
                             .observe(obs, F.count(F.lit(1)).alias("n"))
                             .localCheckpoint(eager=True))
                enqueued = int(obs.get["n"])
                seq_w = Window.orderBy(*order_cols)
                numbered = new_links.withColumn(
                    "discovery_seq",
                    F.row_number().over(seq_w).cast("long") - 1
                    + F.lit(next_discovery_seq).cast("long"))
            new_frontier = (
                numbered
                .withColumn("depth", (F.col("parent_depth") + 1).cast("int"))
                .withColumn("priority",
                            (is_priority_col(F.col("url"),
                                             cfg.priority_patterns)
                             if cfg.smart else F.lit(False)).cast("int"))
                .withColumn("round_added", F.lit(round_id + 1))
                .select("url", "depth", "priority", "discovery_seq",
                        "round_added")
            )
            next_discovery_seq += enqueued
            t_seq = time.monotonic()

            # --- merge frontier & seen (the round's MERGE INTO, in memory) ------
            # Both modes carry frontier and seen forward the same way; store
            # mode publishes the result in the background tail below.
            # Big-path rounds reuse the dequeue ranking's complement (narrow
            # filter over the pinned rank checkpoint) and leave the merged
            # frontier LAZY: both union inputs are narrow over this round's
            # checkpoints (rank ckpt / seq ckpt), so lineage depth stays 1,
            # and the next round's dequeue range-shuffles the frontier
            # anyway — materializing it here would add a full frontier
            # shuffle+pin job per round that the dequeue immediately
            # re-arranges (r6: measured ~0.4 s/round at the 30k-batch bench
            # shape, removed). Small-path rounds keep the broadcast
            # anti-join but leave the merged frontier LAZY too, compacting
            # every seen_compact_every rounds like the seen set: between
            # compactions the next dequeue's TakeOrdered re-evaluates ≤K
            # stacked anti-join layers, each narrow over pinned inputs (the
            # round's batch ckpt broadcasts, the seq ckpt unions), so
            # lineage depth is bounded by the cadence instead of growing
            # per round — and the per-round full-frontier shuffle+pin job
            # is gone (r6 session 3: ~0.3 s/round at the 800-batch bench
            # shape). No anti-join against the frontier is needed for the
            # insert: new_frontier urls were pruned against seen, and
            # frontier ⊆ seen (oracle-differential tested).
            new_seen = new_frontier.select(
                "url", F.md5(F.col("url")).alias("url_md5"))
            compact = (round_id + 1) % cfg.seen_compact_every == 0
            if undequeued is not None:
                frontier = undequeued.unionByName(new_frontier)
            else:
                remaining = frontier.join(F.broadcast(dequeued_urls),
                                          "url", "left_anti")
                frontier = remaining.unionByName(new_frontier)
                if compact:
                    frontier = (frontier.repartition(n_parts, "url")
                                .localCheckpoint(eager=True))
            # seen grows as a lazy union of per-round parts — each part is
            # narrow over an already-checkpointed round output, so lineage
            # depth stays 1 and no extra materialization job runs; the
            # union is compacted (checkpointed + repartitioned)
            # periodically to bound plan size.
            seen = seen.unionByName(new_seen)
            if compact:
                seen = (seen.repartition(n_parts, "url")
                        .localCheckpoint(eager=True))
            frontier_count = frontier_count - batch_count + enqueued
            seen_count += enqueued
            t_merge = time.monotonic()

            # --- JOIN 2: publishes commit in round order ----------------------
            t_join += join(publish_job)
            publish_job = None

            def ms(a, b):
                return round((b - a) * 1000, 1)

            rounds.append({
                "round": round_id, "dequeued": batch_count,
                "enqueued": enqueued, "frontier_after": frontier_count,
                "results_total": results_count, "seen_total": seen_count,
                "next_discovery_seq": next_discovery_seq,
                "bloom_active": bloom_active,
                # filter size at this round's probe
                "bloom_inserted": self.bloom.n_inserted,
                "bloom_rebroadcast_bytes":
                    self.bloom.last_rebroadcast_bytes,
                "partitions": n_parts,
                # per-phase wall breakdown — the round's lineage counters;
                # t_join_ms is the driver's wait on background tails (the
                # last round's also carries run()'s final join)
                "t_dequeue_ms": ms(t0, t_dequeue),
                "t_fetch_parse_ms": ms(t_dequeue, t_fetch),
                "t_prune_ms": ms(t_joined, t_prune),
                "t_seq_ms": ms(t_prune, t_seq),
                "t_merge_ms": ms(t_seq, t_merge),
                "t_join_ms": round(t_join * 1000, 1),
                "wall_ms": ms(t0, time.monotonic()),
            })

            # --- background tail ----------------------------------------------
            # After the final round no probe reads the filter, so the insert
            # is skipped — unless the filter is persisted, where resume
            # trusts it only if it covers the manifest round.
            last = frontier_count <= 0 or results_count >= cfg.max_urls
            if bloom_active and (cfg.checkpoint_dir or not last):
                # a cooperative writer that loses the commit race below
                # joins this insert, then resets the filter
                filter_job = tail.submit(self.bloom.add_urls,
                                         new_frontier.select("url"),
                                         covered_round=round_id)
            if self.store is not None:
                # the commit gets its own copy of the counters: the final
                # join below still adds to the round's entry
                publish = (round_id, result, frontier, seen, new_seen,
                           self._robots_dynamic, dict(rounds[-1]))
                if not cooperative:
                    # a crash while this overlaps the next round leaves the
                    # previous round committed; resume replays from there
                    publish_job = tail.submit(self._publish_round, *publish)
                else:
                    # synchronous commit: the conflict must surface BEFORE
                    # the next round builds on uncommitted state (an
                    # overlapped publish would detect it one round late,
                    # wasting a second round of work per race lost)
                    try:
                        self._publish_round(*publish)
                    except ConcurrentCommitError:
                        # a LIVE peer publishes the manifest within ms of
                        # the marker claim — wait for it rather than
                        # reading the manifest inside that window (a
                        # round-0 race would otherwise see manifest=None).
                        # Timeout ⇒ the marker holder is dead: an orphaned
                        # marker from a crashed run, not a peer — clean our
                        # staging and fail loudly.
                        if self.store.await_round(round_id) is None:
                            self.store.abort_round(round_id)
                            raise
                        self.rebase_count += 1
                        # rebase: drop this round's staged artifacts and
                        # every in-memory derivation of it, reload the
                        # winner's committed state, and continue from there
                        self.store.abort_round(round_id)
                        rounds.pop()
                        st = self._load_committed_state()
                        frontier, seen = st["frontier"], st["seen"]
                        results_parts = st["results_parts"]
                        filtered_parts = st["filtered_parts"]
                        results_count = st["results_count"]
                        next_discovery_seq = st["next_discovery_seq"]
                        frontier_count = st["frontier_count"]
                        seen_count = st["seen_count"]
                        round_id = st["round_id"]
                        join(filter_job)
                        filter_job = None
                        if bloom_active or self.bloom.n_inserted:
                            # the filter carries our aborted rounds' urls
                            # but may MISS urls the winner committed — a
                            # missing url is a definite-negative (duplicate
                            # crawl), so rebuild from the committed seen at
                            # reactivation
                            self.bloom.reset()
                        bloom_active = False
                        continue
            round_id += 1

        # the last round's tails must land before the state is returned
        waited = join(filter_job) + join(publish_job)
        if rounds:
            rounds[-1]["t_join_ms"] += round(waited * 1000, 1)
            rounds[-1]["wall_ms"] += round(waited * 1000, 1)
        results = results_parts[0]
        for part in results_parts[1:]:
            results = results.unionByName(part)
        filtered = filtered_parts[0] if filtered_parts else None
        for part in filtered_parts[1:]:
            filtered = filtered.unionByName(part)
        crawl_order = results.select("crawl_seq", "url", "depth",
                                     (F.col("priority") == 1).alias("priority"),
                                     "round")
        return CrawlState(results=results, frontier=frontier, seen=seen,
                          filtered=filtered, rounds=rounds,
                          crawl_order=crawl_order)
