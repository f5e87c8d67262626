"""The distributed crawl engine: iterative DataFrame jobs per crawl round.

Every round runs ONE pipeline, whether pages come from a page-store
DataFrame or from a live origin. ``run()`` is a loop over named phase
methods sharing one :class:`LoopState`; the phases match the per-round
``t_*_ms`` counters. Each round is split into a CRITICAL PATH, which the
next round's dequeue needs, and a BACKGROUND TAIL, which only durability
and the next round's Bloom probe need (SURVEY §3, north-star design)::

    critical path (driver thread)
      dequeue      ORDER BY priority DESC, discovery_seq ASC LIMIT B
      schedule     per-host politeness slots + salted host repartition
      fetch_parse  one mapInPandas kernel fetches each url and parses /
                   analyzes the page in the same Python worker. LIVE mode
                   calls the per-url fetcher, paced by the schedule; store
                   mode takes the page from the JVM (batch LEFT JOIN
                   broadcast(pages ⋉ broadcast(batch.url))) and does not
                   pace — it is a replay. A url with no page is a 404 miss.
      JOIN 1       the previous round's Bloom insert (or this round's
                   activation backfill, started at round start)
      admit        candidate links (posexplode → within-round first
                   occurrence), Bloom probe + exact anti-join vs seen
                   (J1), robots
      number       discovery_seq = ((parent_seq + 1) << 20) | link_pos,
                   one eager pin that also counts the new links
      merge        in-memory frontier/seen MERGE (lazy unions over pins)
      JOIN 2       the previous round's snapshot publish
    background tail (overlaps the next round's dequeue and fetch_parse)
      Bloom insert of the round's new urls, whose filter-manifest save
        also records covered_round
      publish: results + robots writes, the frontier snapshot (the round's
        MERGE result), fast-append seen, then commit_round
    run() returns only after both tails of the last round are joined.

The driver loop is the only imperative control flow (BFS round barriers are
batch-synchronous by nature — reference: core/crawler.py:61-93). Crawl order
is reproduced EXACTLY: dequeue key ``(priority DESC, discovery_seq ASC)``
replays the reference's two-deque FIFO (core/url_manager.py:386-404), and
``discovery_seq`` packs deterministic inputs — the parent's crawl_seq and
the link's position on the page — never ``monotonically_increasing_id`` or
timing.
"""

from __future__ import annotations

import logging
import math
import os
import time
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .config import CrawlConfig
from .functions.urlnorm import base_domain_of, is_priority_col
from .operators.bloom import ShardedBloom
from .operators.politeness import schedule_fetches
from .operators.robots import filter_allowed, robots_table
from .operators.sequence import LINK_BITS
from .sources.fetch import make_http_fetch, miss_response, paced_rows
from .tables import SnapshotStore

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

# the fetch response fields a page store carries (sources/fetch.FETCH_SCHEMA)
FETCH_FIELDS = ("status_code", "content_type", "final_url",
                "response_time_ms", "content_length", "html", "headers")


@dataclass
class CrawlState:
    results: DataFrame          # raw per-page rows (analysis struct attached)
    frontier: DataFrame         # remaining frontier
    seen: DataFrame             # registered URL set
    filtered: DataFrame         # (url, reason, round)
    rounds: list[dict]          # per-round counters/lineage
    crawl_order: DataFrame      # (crawl_seq, url, depth, priority, round)


@dataclass
class LoopState:
    """What one round hands the next: the carried frontier and seen set,
    the per-round result parts, and the exact counters a committed round
    records (so resume rebuilds this object from the manifest)."""
    frontier: DataFrame
    seen: DataFrame
    round_id: int
    results_count: int
    frontier_count: int
    seen_count: int
    results_parts: list[DataFrame] = field(default_factory=list)
    filtered_parts: list[DataFrame] = field(default_factory=list)


def _stored_response(rec) -> dict:
    """A store-mode row of the fetch_parse input as a fetch response. The
    store join is a LEFT join, so a batch url with no page arrives with
    null page columns: the network 404 miss. pandas carries those nulls
    in numeric columns as NaN (and so every hit as a float)."""
    if math.isnan(rec.status_code):
        return miss_response(rec.url)
    return {"status_code": int(rec.status_code),
            "content_type": rec.content_type, "final_url": rec.final_url,
            "response_time_ms": float(rec.response_time_ms),
            "content_length": int(rec.content_length), "html": rec.html,
            "headers": rec.headers}


class CrawlEngine:
    """One crawl run over a page-store DataFrame or a live origin."""

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
        (sources/fetch.py) instead of looked up in a page store.
        ``fetch_fn_factory`` overrides the per-task fetcher (tests inject a
        deterministic one)."""
        if config.seen_filter not in ("bloom", "cuckoo"):
            raise ValueError(f"seen_filter must be 'bloom' or 'cuckoo', "
                             f"got {config.seen_filter!r}")
        if config.fetch_robots and pages is not None:
            raise ValueError("fetch_robots=True needs LIVE mode (pages=None):"
                             " a page store serves no robots.txt — pass "
                             "robots_rules instead")
        self.spark = spark
        self.n_parts = spark.sparkContext.defaultParallelism
        self.pages = pages
        self.fetch_fn_factory = fetch_fn_factory or make_http_fetch
        self.config = config
        self.analyzers = analyzers or []
        self.base_domain = base_domain_of(config.seed_url)
        # Seen-filter shard state rides the checkpoint dir: resume reopens
        # the same file-backed shards (and skips the seen backfill); without
        # checkpointing the filters use a private temp dir.
        filter_dir = (os.path.join(config.checkpoint_dir, "seen_filter")
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
        self.store = (SnapshotStore(config.checkpoint_dir)
                      if config.checkpoint_dir else None)

    # ------------------------------------------------------------------
    def _seed_frontier(self) -> LoopState:
        """Fresh start: the pinned seed frontier and seen set, round 0."""
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
        # seeds are parent_seq = -1: their discovery_seq is their position,
        # which must stay below every discovered link's key
        if len(seeds) >= 1 << LINK_BITS:
            raise ValueError(f"{len(seeds)} seed URLs; discovery_seq holds "
                             f"fewer than {1 << LINK_BITS}")
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
        return LoopState(frontier=frontier.localCheckpoint(eager=True),
                         seen=seen.localCheckpoint(eager=True), round_id=0,
                         results_count=0, frontier_count=n, seen_count=n)

    def _load_committed_state(self, manifest: dict) -> LoopState:
        """Resume: rebuild the loop state from the manifest's committed
        round."""
        last, c = manifest["round"], manifest["counters"]
        # A checkpoint written while discovery_seq was a dense rank carries
        # its next value. Every old key is below that counter and was
        # ranked in (parent_seq, link_pos) order from parents that precede
        # every new one, so while the counter is at most 2^LINK_BITS (the
        # smallest key of a discovered link) the old frontier sorts exactly
        # as the arithmetic key would have. Beyond that, keys would mix.
        old_next = c.get("next_discovery_seq")
        if old_next is not None and old_next > 1 << LINK_BITS:
            raise ValueError(
                f"checkpoint {self.config.checkpoint_dir} numbers its "
                f"frontier up to {old_next}, past {1 << LINK_BITS}: the "
                "current discovery_seq cannot continue it; restart without "
                "resume")
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
        return LoopState(frontier=frontier, seen=seen, round_id=last + 1,
                         results_count=c["results_total"],
                         frontier_count=c["frontier_after"],
                         seen_count=c["seen_total"],
                         results_parts=results_parts,
                         filtered_parts=filtered_parts)

    def _start(self, resume: bool) -> LoopState:
        """The state to start from: the committed round on resume, else
        the seeds."""
        manifest = None
        if self.store is not None and resume:
            # reclaim markers orphaned by a crash between marker claim and
            # manifest publish
            self.store.recover_incomplete()
            manifest = self.store.manifest()
        if manifest is not None:
            # A reopened filter is only trustworthy if it covers every
            # committed round: a crash after a round's commit but before
            # its background insert (or a filter dir restored from an
            # older copy) leaves the filter missing committed urls — a
            # bloom miss on one of them is a definite-negative that
            # bypasses the exact anti-join and duplicates the crawl.
            # Covered ≥ manifest round ⇒ superset of the committed seen
            # set (extra uncommitted-round urls only cost false positives,
            # which the exact join absorbs). Anything less ⇒ reset; the
            # activation-time backfill rebuilds from the committed seen.
            if (self.bloom.n_inserted
                    and self._filter_covered_round() < manifest["round"]):
                self.bloom.reset()
            return self._load_committed_state(manifest)
        # fresh run: a stale store/filter from a previous run over the
        # same checkpoint dir must not leak into this one — old commit
        # markers would refuse round 0, and a stale seen filter lacking
        # this run's urls would produce FALSE NEGATIVES (duplicates)
        # through the skipped backfill. Reset UNCONDITIONALLY (not only
        # when a manifest exists): a run that died in round 0 between
        # the O_EXCL marker claim and the manifest publish leaves a
        # marker with NO manifest, which would still refuse round 0.
        if self.store is not None:
            self.store.reset()
        if self.bloom.n_inserted:
            self.bloom.reset()
        return self._seed_frontier()

    # -- phases ---------------------------------------------------------
    def _dequeue(self, s: LoopState,
                 budget: int) -> tuple[DataFrame, DataFrame | None]:
        """O1/O3: the round's batch (with crawl_seq and round), plus the
        post-dequeue frontier when the big path yields it for free.

        ``seq_window_threshold`` picks the path. Small budgets:
        TakeOrderedAndProject + one-task window over ≤ budget rows. Large
        budgets: the same total order via the distributed prefix-sum — rank
        the frontier in (priority DESC, discovery_seq ASC) order with no
        single reducer, take rank < budget. Identical batch either way."""
        dequeue_order = [F.desc("priority"), F.asc("discovery_seq")]
        if budget >= self.config.seq_window_threshold:
            from .operators.sequence import global_sequence
            ranked = global_sequence(s.frontier, dequeue_order, "_rank")
            batch = (ranked
                     .filter(F.col("_rank") < budget)
                     .withColumn("crawl_seq",
                                 (F.col("_rank") + F.lit(s.results_count))
                                 .cast("long"))
                     .drop("_rank")
                     .withColumn("round", F.lit(s.round_id)))
            # the rank's complement IS the post-dequeue frontier — a
            # narrow filter over the same pinned ranking, replacing the
            # per-round broadcast-anti-join of the dequeued urls against
            # the full frontier in the merge
            return batch, ranked.filter(F.col("_rank") >= budget).drop("_rank")
        batch = s.frontier.orderBy(*dequeue_order).limit(budget)
        w = Window.orderBy(*dequeue_order)
        batch = (batch
                 .withColumn("crawl_seq",
                             F.row_number().over(w).cast("long") - 1
                             + F.lit(s.results_count).cast("long"))
                 .withColumn("round", F.lit(s.round_id)))
        return batch, None

    def _schedule(self, batch: DataFrame) -> DataFrame:
        """S2 + J4: per-host politeness slots, then the salted host
        repartition.

        At "unlimited" rate budgets (≥1e8 rps — benchmark / offline replay
        mode) every offset is ~0: skip the per-host rank window and project
        constant slots. Identical crawl semantics — the schedule only TIMES
        fetches, never orders results."""
        cfg = self.config
        host_delays = None
        if self._robots_dynamic is not None and self._robots_delay_count:
            # robots Crawl-delay overrides: a host's interval becomes
            # max(1/rps, crawl_delay) — forces the real schedule even in
            # unlimited-rps replay mode
            host_delays = (self._robots_dynamic
                           .filter(F.col("crawl_delay").isNotNull())
                           .select("host", F.col("crawl_delay")
                                   .alias("crawl_delay_s")))
        if cfg.requests_per_second >= 1e8 and host_delays is None:
            from .operators.politeness import with_host
            batch = (with_host(batch)
                     .withColumn("fetch_slot", F.lit(0).cast("long"))
                     .withColumn("scheduled_offset_ms", F.lit(0.0)))
        else:
            batch = schedule_fetches(batch, cfg.requests_per_second,
                                     host_delays=host_delays)
        # one hot host's fetches spread over salt buckets (each row keeps
        # its politeness slot, so the rate budget still holds; the skew
        # kill is for fetch/parse work)
        if cfg.host_salt_buckets > 1:
            from .operators.politeness import salted_repartition
            batch = salted_repartition(
                batch, cfg.host_salt_buckets).drop("host_salt")
        return batch

    def _store_lookup(self, batch: DataFrame) -> DataFrame:
        """Store mode's fetch: every batch row with its stored page, or
        null page columns for a miss. The store streams ONCE through a
        broadcast semi-join against the batch's urls — never shuffled,
        never broadcast itself; only the ≤ batch matching pages are
        broadcast into the batch's LEFT join."""
        pages = (self.pages.select("url", *FETCH_FIELDS)
                 .join(F.broadcast(batch.select("url")), "url", "left_semi"))
        return batch.join(F.broadcast(pages), "url", "left")

    def _fetch_parse(self, batch: DataFrame) -> DataFrame:
        """S1 + F6/F7 gates + parse/analyze, fused: ONE ``mapInPandas``
        kernel fetches each row's page and analyzes it in the same Python
        worker, so a page crosses the Python-UDF boundary once and its
        html never travels back to the JVM (the unfused form shipped each
        ~10 KB page python→JVM→python→JVM; at 80k URLs/round that is
        ~3 GB of extra Arrow+join traffic per round, and memory bandwidth
        is exactly what does not scale with cores). Both modes emit a row
        for EVERY batch url; tests/test_politeness_fetch.py::
        test_live_mode_matches_store_mode pins them byte-identical."""
        import hashlib

        from .functions.parse import ANALYSIS_SCHEMA, analyze_page
        live = self.pages is None
        factory = self.fetch_fn_factory
        if live:
            rows_in = batch
        else:
            # the batch feeds both sides of the store lookup; the lazy pin
            # materializes inside the semi-join's broadcast job, so the
            # stream side does not rerun the per-host window and the salt
            # exchange
            rows_in = self._store_lookup(batch.localCheckpoint(eager=False))
        base_domain, max_depth = self.base_domain, self.config.max_depth
        out_schema = T.StructType.fromDDL(
            "crawl_seq long, url string, depth int, priority int, round int, "
            "content_md5 string, status_code int, content_type string, "
            "final_url string, response_time_ms double, content_length long, "
            "headers map<string,string>, host string, fetch_slot long, "
            "scheduled_offset_ms double").add("analysis", ANALYSIS_SCHEMA)

        def kernel(batches):
            import pandas as pd

            fetch = factory() if live else None
            start = time.monotonic()
            for pdf in batches:
                rows = []
                # a store replay does not pace
                for rec in paced_rows(pdf, start, honor_schedule=live):
                    r = fetch(rec.url) if live else _stored_response(rec)
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
                        # content hash feeds the recrawl cache (reference
                        # artifact cache/<domain>_cache.json — SURVEY §1.4)
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

        return rows_in.mapInPandas(kernel, schema=out_schema)

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

    def _admit(self, fetched: DataFrame, seen: DataFrame, bloom_active: bool,
               round_id: int) -> DataFrame:
        """The round's new links: candidate links, J1 (Bloom prune + exact
        anti-join vs seen), then robots."""
        # posexplode keeps page order; rows without analysis (errors,
        # misses, non-html) have no links
        candidates = (
            fetched
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
        if bloom_active:
            new_links = self.bloom.prune_new(candidates, seen)
        else:
            new_links = candidates.join(seen.select("url"), "url",
                                        "left_anti")
        if self.config.fetch_robots:
            # live robots acquisition gates admission alongside any
            # injected static rules (allow-all for unknown hosts)
            self._refresh_robots(new_links, round_id)
            new_links = filter_allowed(
                new_links, self._robots_dynamic.select("host", "rules"))
        return filter_allowed(new_links, self.robots)

    def _number(self, new_links: DataFrame,
                s: LoopState) -> tuple[DataFrame, int]:
        """Deterministic discovery_seq: the new frontier rows and their
        count.

        Each new url keeps its first (parent_seq, link_pos), and parent_seq
        grows strictly across rounds, so packing the pair into one long
        (operators/sequence.py) sorts every url exactly as the reference's
        FIFO. One code path at every round size: no shuffle, no global
        window, one eager pin whose observation yields the count."""
        from .operators.sequence import global_sequence_arith
        cfg = self.config
        numbered, enqueued = global_sequence_arith(
            new_links.select("url", "parent_seq", "link_pos", "parent_depth"))
        new_frontier = (
            numbered
            .withColumn("depth", (F.col("parent_depth") + 1).cast("int"))
            .withColumn("priority",
                        (is_priority_col(F.col("url"), cfg.priority_patterns)
                         if cfg.smart else F.lit(False)).cast("int"))
            .withColumn("round_added", F.lit(s.round_id + 1))
            .select("url", "depth", "priority", "discovery_seq",
                    "round_added")
        )
        return new_frontier, enqueued

    def _merge(self, s: LoopState, fetched: DataFrame, result: DataFrame,
               undequeued: DataFrame | None, new_frontier: DataFrame,
               batch_count: int, enqueued: int) -> DataFrame:
        """The round's MERGE INTO, in memory: carry ``s`` into the next
        round (frontier, seen, result parts, counters); returns the
        round's new seen rows.

        Big-path rounds reuse the dequeue ranking's complement (narrow
        filter over the pinned rank checkpoint) and leave the merged
        frontier LAZY: both union inputs are narrow over this round's
        checkpoints (rank ckpt / seq ckpt), so lineage depth stays 1, and
        the next round's dequeue range-shuffles the frontier anyway —
        materializing it here would add a full frontier shuffle+pin job
        per round that the dequeue immediately re-arranges (r6: measured
        ~0.4 s/round at the 30k-batch bench shape, removed). Small-path
        rounds anti-join the dequeued urls (the checkpointed fetch_parse
        output holds exactly one row per batch url) but leave the merged
        frontier LAZY too, compacting every seen_compact_every rounds like
        the seen set: between compactions the next dequeue's TakeOrdered
        re-evaluates ≤K stacked anti-join layers, each narrow over pinned
        inputs, so lineage depth is bounded by the cadence instead of
        growing per round — and the per-round full-frontier shuffle+pin
        job is gone (r6 session 3: ~0.3 s/round at the 800-batch bench
        shape). No anti-join against the frontier is needed for the
        insert: new_frontier urls were pruned against seen, and frontier
        ⊆ seen (oracle-differential tested)."""
        new_seen = new_frontier.select(
            "url", F.md5(F.col("url")).alias("url_md5"))
        compact = (s.round_id + 1) % self.config.seen_compact_every == 0
        if undequeued is not None:
            s.frontier = undequeued.unionByName(new_frontier)
        else:
            remaining = s.frontier.join(F.broadcast(fetched.select("url")),
                                        "url", "left_anti")
            s.frontier = remaining.unionByName(new_frontier)
            if compact:
                s.frontier = (s.frontier.repartition(self.n_parts, "url")
                              .localCheckpoint(eager=True))
        # seen grows as a lazy union of per-round parts — each part is
        # narrow over an already-checkpointed round output, so lineage
        # depth stays 1 and no extra materialization job runs; the union
        # is compacted (checkpointed + repartitioned) periodically to
        # bound plan size.
        s.seen = s.seen.unionByName(new_seen)
        if compact:
            s.seen = (s.seen.repartition(self.n_parts, "url")
                      .localCheckpoint(eager=True))
        s.results_parts.append(result)
        s.filtered_parts.append(self._filtered_from(result))
        s.results_count += batch_count
        s.frontier_count += enqueued - batch_count
        s.seen_count += enqueued
        return new_seen

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
        snapshot, writes the whole seed + round-0 set)."""
        store = self.store
        store.write("results", result, round_id)
        if robots is not None:
            store.write("robots", robots, round_id)
        store.write("frontier", frontier, round_id)
        if round_id == 0:
            store.append("seen", seen, round_id)
        else:
            store.append("seen", new_seen, round_id,
                         parent_round=round_id - 1)
        store.commit_round(round_id, counters)

    # ------------------------------------------------------------------
    def run(self, resume: bool = False) -> CrawlState:
        """Run the crawl; with ``resume=True`` continue from the last
        committed snapshot round (bit-identical to an uninterrupted run —
        every per-round input is reconstructed from the snapshot store).

        The round tails run on two background threads (filter insert,
        snapshot publish). Leaving the pool waits for both, so a failing
        round never returns with a tail still writing; a tail's own error
        re-raises at its join point."""
        with ThreadPoolExecutor(2, thread_name_prefix="round-tail") as tail:
            return self._run(resume, tail)

    def _run(self, resume: bool, tail: ThreadPoolExecutor) -> CrawlState:
        cfg = self.config
        s = self._start(resume)
        rounds: list[dict] = []
        # the in-flight tails: the filter's insert/backfill and the publish
        filter_job: Future | None = None
        publish_job: Future | None = None

        def join(job: Future | None) -> float:
            """Wait for ``job`` (re-raising its error); returns the wait."""
            t = time.monotonic()
            if job is not None:
                job.result()
            return time.monotonic() - t

        def ms(a, b):
            return round((b - a) * 1000, 1)

        bloom_active = False
        while s.frontier_count > 0 and s.results_count < cfg.max_urls:
            t0 = time.monotonic()
            budget = min(cfg.batch_size, cfg.max_urls - s.results_count)
            # no count() job: the dequeue takes exactly min(budget, frontier)
            # rows — frontier_count is exact by arithmetic (unique urls).
            batch_count = min(budget, s.frontier_count)

            # Bloom activation: the prefilter is the 10^10-scale
            # scan-saver; below the threshold its build/probe jobs cost
            # more than the plain anti-join, so it stays cold (exactness
            # is identical either way — the prune only bypasses join
            # probes). Activation needs only the counters, so the backfill
            # starts here and overlaps dequeue and fetch_parse; the probe
            # joins it.
            if (not bloom_active and s.seen_count >= cfg.bloom_min_seen
                    and s.seen_count
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
                                             s.seen.select("url"),
                                             covered_round=s.round_id - 1)
                bloom_active = True

            batch, undequeued = self._dequeue(s, budget)
            t_dequeue = time.monotonic()

            fetched = self._fetch_parse(
                self._schedule(batch)).localCheckpoint(eager=True)
            # P2 plug-in analyzers: column pipelines over the round's result
            result = fetched
            for analyzer_fn in self.analyzers:
                result = analyzer_fn(result)
            t_fetch = time.monotonic()

            # JOIN 1: the probe must see every url registered so far — wait
            # for the previous round's insert (or this round's backfill)
            t_join = join(filter_job)
            filter_job = None
            t_joined = time.monotonic()

            new_links = self._admit(fetched, s.seen, bloom_active, s.round_id)
            t_prune = time.monotonic()
            new_frontier, enqueued = self._number(new_links, s)
            t_seq = time.monotonic()
            new_seen = self._merge(s, fetched, result, undequeued,
                                   new_frontier, batch_count, enqueued)
            t_merge = time.monotonic()

            # JOIN 2: publishes commit in round order
            t_join += join(publish_job)
            publish_job = None

            rounds.append({
                "round": s.round_id, "dequeued": batch_count,
                "enqueued": enqueued, "frontier_after": s.frontier_count,
                "results_total": s.results_count, "seen_total": s.seen_count,
                "bloom_active": bloom_active,
                # filter size at this round's probe
                "bloom_inserted": self.bloom.n_inserted,
                "bloom_rebroadcast_bytes":
                    self.bloom.last_rebroadcast_bytes,
                "partitions": self.n_parts,
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

            # --- background tail ----------------------------------------
            # After the final round no probe reads the filter, so the insert
            # is skipped — unless the filter is persisted, where resume
            # trusts it only if it covers the manifest round.
            last = s.frontier_count <= 0 or s.results_count >= cfg.max_urls
            if bloom_active and (cfg.checkpoint_dir or not last):
                filter_job = tail.submit(self.bloom.add_urls,
                                         new_frontier.select("url"),
                                         covered_round=s.round_id)
            if self.store is not None:
                # publish: a crash while this overlaps the next round
                # leaves the previous round committed; resume replays from
                # there. The commit gets its own copy of the counters: the
                # final join below still adds to the round's entry.
                publish_job = tail.submit(
                    self._publish_round, s.round_id, result, s.frontier,
                    s.seen, new_seen, self._robots_dynamic, dict(rounds[-1]))
            s.round_id += 1

        # the last round's tails must land before the state is returned
        waited = join(filter_job) + join(publish_job)
        if rounds:
            rounds[-1]["t_join_ms"] += round(waited * 1000, 1)
            rounds[-1]["wall_ms"] += round(waited * 1000, 1)
        results = s.results_parts[0]
        for part in s.results_parts[1:]:
            results = results.unionByName(part)
        filtered = s.filtered_parts[0] if s.filtered_parts else None
        for part in s.filtered_parts[1:]:
            filtered = filtered.unionByName(part)
        crawl_order = results.select("crawl_seq", "url", "depth",
                                     (F.col("priority") == 1).alias("priority"),
                                     "round")
        return CrawlState(results=results, frontier=s.frontier, seen=s.seen,
                          filtered=filtered, rounds=rounds,
                          crawl_order=crawl_order)
