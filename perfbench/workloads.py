"""The benchmark's crawl workloads: inputs made from a seed, the crawl
configuration, and the oracle that the engine's output must equal.

Every workload is a crawl through the public engine API
(``CrawlEngine(spark, pages, config, ...).run()``). The seed changes the
generated inputs only; the crawl shape (batch size, rounds, filters) is
fixed per workload so that runs with different seeds do the same amount of
work.
"""

from __future__ import annotations

import contextlib
from pathlib import Path
from urllib.parse import urlsplit

from crawler_seo_spark import oracle
from crawler_seo_spark.config import CrawlConfig
from crawler_seo_spark.engine import CrawlEngine
from crawler_seo_spark.sources import from_documents as docs
from crawler_seo_spark.sources import synthetic_site

PAGES_SCHEMA = (
    "url string, page_index int, status_code int, content_type string, "
    "final_url string, response_time_ms double, content_length long, "
    "html string, headers map<string,string>, image_ids array<string>")


class Workload:
    """One crawl shape. Subclasses fix the shape; ``seed`` picks the inputs."""

    name = ""
    batch_size = 0
    rounds = 0          # rounds of one timed crawl
    warmup_batch = 0    # batch of the untimed warm-up crawl
    robots_rules: dict[str, list[str]] | None = None
    validates_images = False  # the traced run also loads operators.multimodal

    def __init__(self, spark, seed: int, work: Path) -> None:
        self.spark = spark
        self.seed = seed
        self.work = work
        self.pages = None

    # -- inputs ---------------------------------------------------------------
    def build_inputs(self) -> None:
        """Generate the inputs the engine receives (timed as set-up)."""

    def oracle_store(self):
        """The page store the reference-semantics oracle crawls."""
        raise NotImplementedError

    def config(self, rounds: int) -> CrawlConfig:
        raise NotImplementedError

    def engine(self, cfg: CrawlConfig) -> CrawlEngine:
        return CrawlEngine(self.spark, self.pages, cfg,
                           robots_rules=self.robots_rules)

    def timed_config(self) -> CrawlConfig:
        return self.config(self.rounds)

    def warmup_config(self) -> CrawlConfig:
        """A one-round crawl of the same shape over a smaller batch: the
        first crawl in a fresh JVM pays for class loading, JIT compilation
        and Python worker start-up, whatever its size."""
        return self.config(1, self.warmup_batch)

    # -- correctness ------------------------------------------------------------
    def run_oracle(self, cfg: CrawlConfig) -> oracle.OracleRun:
        with self._oracle_robots():
            return oracle.run_oracle(self.oracle_store(), cfg)

    @contextlib.contextmanager
    def _oracle_robots(self):
        """The reference has no robots.txt support, so the oracle is given
        the workload's static rules as one more relevance filter: a
        disallowed URL is never registered, which is what the engine's
        robots admission does to it."""
        if not self.robots_rules:
            yield
            return
        rules, plain = self.robots_rules, oracle.filter_reason

        def filter_reason(url):
            parts = urlsplit(url)
            host = (parts.hostname or "").removeprefix("www.")
            if any((parts.path or "/").startswith(p)
                   for p in rules.get(host, ())):
                return "robots"
            return plain(url)

        oracle.filter_reason = filter_reason
        try:
            yield
        finally:
            oracle.filter_reason = plain


class _StoreWorkload(Workload):
    """Store mode: the page store is a DataFrame the engine broadcast-joins
    each round's batch against."""

    n_pages = 3000

    def build_inputs(self) -> None:
        import pandas as pd
        self.store = synthetic_site.build_site(self.n_pages, seed=self.seed)
        self.pages = self.spark.createDataFrame(
            pd.DataFrame(list(self.store.values())), schema=PAGES_SCHEMA
        ).localCheckpoint(eager=True)

    def oracle_store(self):
        return self.store


class DurableFiltered(_StoreWorkload):
    """Checkpointed crawl: every round is merged into the snapshot store and
    committed; the Bloom filter is on from round 0; robots rules block one
    path prefix; a finite request rate makes the politeness schedule run."""

    name = "durable_filtered"
    batch_size = 400
    rounds = 2
    warmup_batch = 50
    robots_rules = {synthetic_site.DOMAIN: ["/blog/"]}
    validates_images = True
    n_images = 300

    def build_inputs(self) -> None:
        super().build_inputs()
        # every 5th admissible page, so the seeds spread over the whole
        # link graph (robots rules gate discovered links, never seeds)
        blocked = tuple(self.robots_rules[synthetic_site.DOMAIN])
        admissible = [u for u in self.store
                      if not urlsplit(u).path.startswith(blocked)]
        self.seeds = admissible[::5][:self.batch_size]

    def config(self, rounds: int, batch: int | None = None) -> CrawlConfig:
        batch = batch or self.batch_size
        return CrawlConfig(seed_url=synthetic_site.SEED_URL,
                           seed_urls=self.seeds[:batch],
                           max_urls=rounds * batch, batch_size=batch,
                           requests_per_second=50.0,
                           checkpoint_dir=str(self.work / "checkpoint"),
                           bloom_min_seen=0, bloom_seen_batch_ratio=0)


class _LazyDocumentStore(dict):
    """Oracle page store for the live origin: regenerates a page on lookup
    instead of holding 1.2M pages in memory."""

    def __init__(self, n_docs: int) -> None:
        super().__init__()
        self.n_docs = n_docs

    def get(self, url, default=None):
        doc_id = docs.doc_id_from_url(url)
        if doc_id is None or doc_id >= self.n_docs:
            return default
        return docs.page_from_document(doc_id, docs.synthetic_text(doc_id),
                                       self.n_docs)


class LiveBulk(Workload):
    """LIVE mode: ``pages=None`` and a synthetic origin server over 1.2M
    virtual pages; every round is a full batch fetched and parsed in the
    fused ``mapInPandas`` stage, numbered by the distributed prefix-sum."""

    name = "live_bulk"
    n_docs = 1_200_000
    batch_size = 4000
    rounds = 2  # the Bloom filter turns on in the last round
    warmup_batch = 500

    def build_inputs(self) -> None:
        # the seed moves the seed-URL block over the virtual site; seeds are
        # spaced so no seed links to another
        self.offset = 1 + (self.seed * 104_729) % 400_000
        self.fetch_factory = docs.live_fetch_factory(self.n_docs)

    def oracle_store(self):
        return _LazyDocumentStore(self.n_docs)

    def config(self, rounds: int, batch: int | None = None) -> CrawlConfig:
        batch = batch or self.batch_size
        return CrawlConfig(
            seed_url=docs.SEED_URL,
            seed_urls=[docs.doc_url(self.offset + 3 * i)
                       for i in range(batch)],
            max_urls=rounds * batch, batch_size=batch,
            requests_per_second=1e9, seq_window_threshold=batch,
            # the filter turns on once seen reaches 3 batches (round 1)
            bloom_min_seen=3 * batch, bloom_seen_batch_ratio=3)

    def engine(self, cfg: CrawlConfig) -> CrawlEngine:
        return CrawlEngine(self.spark, None, cfg,
                           fetch_fn_factory=self.fetch_factory)


WORKLOADS = {w.name: w for w in (LiveBulk, DurableFiltered)}
