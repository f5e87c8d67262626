"""Politeness semantics: per-host rate budgets, salting invariants, and the
live fetch stage's pacing (with an injected fetcher — no network here)."""

import time

import pytest
from pyspark.sql import functions as F

from crawler_seo_spark.operators.politeness import (
    salted_repartition,
    schedule_fetches,
)


@pytest.fixture(scope="module")
def batch(spark):
    rows = [(f"https://host{i % 3}.test/p{i}", i, 0, i) for i in range(30)]
    return spark.createDataFrame(
        rows, "url string, crawl_seq long, depth int, discovery_seq long")


def test_schedule_respects_rate(batch):
    out = schedule_fetches(batch, requests_per_second=5.0).collect()
    by_host: dict[str, list] = {}
    for r in out:
        by_host.setdefault(r["host"], []).append(r)
    assert len(by_host) == 3
    for host, rows in by_host.items():
        rows.sort(key=lambda r: r["crawl_seq"])
        # slots are consecutive in dequeue order; interval = 200ms at 5 rps
        assert [r["fetch_slot"] for r in rows] == list(range(len(rows)))
        for r in rows:
            assert r["scheduled_offset_ms"] == pytest.approx(
                r["fetch_slot"] * 200.0)


def test_schedule_is_parallelism_independent(spark, batch):
    a = {(r["url"], r["fetch_slot"]) for r in
         schedule_fetches(batch, 10.0).collect()}
    b = {(r["url"], r["fetch_slot"]) for r in
         schedule_fetches(batch.repartition(13), 10.0).collect()}
    assert a == b


def test_salted_repartition_preserves_rows_and_bounds_salt(batch):
    out = salted_repartition(schedule_fetches(batch, 10.0), salt_buckets=4)
    rows = out.collect()
    assert len(rows) == 30
    assert {r["host_salt"] for r in rows} <= {0, 1, 2, 3}
    # deterministic: same url → same salt
    again = {r["url"]: r["host_salt"]
             for r in salted_repartition(
                 schedule_fetches(batch, 10.0), salt_buckets=4).collect()}
    for r in rows:
        assert again[r["url"]] == r["host_salt"]


def test_fetch_batch_paces_and_returns_schema(spark, batch):
    from crawler_seo_spark.sources.fetch import fetch_batch

    def fake_fetch_factory():
        def fetch(url: str) -> dict:
            return {"status_code": 200, "content_type": "text/html",
                    "final_url": url, "response_time_ms": 1.0,
                    "content_length": 10, "html": "<html></html>",
                    "headers": {"content-type": "text/html"}}
        return fetch

    scheduled = schedule_fetches(batch.filter("crawl_seq < 8"), 40.0) \
        .coalesce(1)
    t0 = time.monotonic()
    out = fetch_batch(scheduled, fake_fetch_factory).collect()
    elapsed = time.monotonic() - t0
    assert len(out) == 8
    assert all(r["status_code"] == 200 for r in out)
    # 3 hosts × ≤3 rows at 40 rps → last slot ≈ 50 ms; pacing adds ≥ that
    assert elapsed >= 0.05


def test_fetch_batch_error_rows_survive(spark, batch):
    from crawler_seo_spark.sources.fetch import fetch_batch

    def flaky_factory():
        def fetch(url: str) -> dict:
            raise RuntimeError("boom")
        return fetch

    def wrapped_factory():
        inner = flaky_factory()

        def fetch(url: str) -> dict:
            try:
                return inner(url)
            except Exception as e:
                return {"status_code": 0, "content_type": "",
                        "final_url": url, "response_time_ms": 0.0,
                        "content_length": 0, "html": "",
                        "headers": {"x-error": str(e)}}
        return fetch

    scheduled = schedule_fetches(batch.filter("crawl_seq < 4"), 1000.0)
    out = fetch_batch(scheduled, wrapped_factory).collect()
    assert len(out) == 4
    assert all(r["status_code"] == 0 for r in out)


def test_parse_robots_txt():
    from crawler_seo_spark.operators.robots import parse_robots_txt
    txt = """
# comment
User-agent: *
Disallow: /private/
Disallow: /tmp/

User-agent: googlebot
User-agent: bingbot
Disallow: /no-bots/

User-agent: special
Disallow:
"""
    assert parse_robots_txt(txt) == ["/private/", "/tmp/"]
    assert parse_robots_txt(txt, "Googlebot/2.1") == ["/no-bots/"]
    assert parse_robots_txt(txt, "bingbot") == ["/no-bots/"]
    assert parse_robots_txt(txt, "special") == []     # empty disallow = allow all
    assert parse_robots_txt("", "*") == []
    assert parse_robots_txt("garbage no colons\n", "*") == []


def test_robots_table_from_texts_blocks(spark):
    from crawler_seo_spark.operators.robots import (
        filter_allowed, robots_table_from_texts)
    robots = robots_table_from_texts(spark, {
        "shop.example.test": "User-agent: *\nDisallow: /blog/\n"})
    cand = spark.createDataFrame(
        [("https://shop.example.test/blog/post-1",),
         ("https://shop.example.test/product/item-1",),
         ("https://other.test/blog/x",)], "url string")
    kept = {r["url"] for r in filter_allowed(cand, robots).collect()}
    assert kept == {"https://shop.example.test/product/item-1",
                    "https://other.test/blog/x"}


def test_live_robots_fetch_gates_admission(spark):
    """LIVE mode with fetch_robots=True must fetch /robots.txt per host
    through the injected fetcher, cache the parsed rules, and change the
    crawl accordingly: /blog/ urls disallowed -> never crawled, never
    registered; with fetch_robots=False (default, reference parity) the
    same fetcher serving the same robots body changes nothing."""
    from crawler_seo_spark.config import CrawlConfig
    from crawler_seo_spark.engine import CrawlEngine
    from crawler_seo_spark.sources.from_documents import (
        SEED_URL,
        live_fetch_factory,
    )

    n = 150
    robots_body = "User-agent: *\nDisallow: /blog/\n"

    def robots_factory():
        inner = live_fetch_factory(n)()

        def fetch(url: str) -> dict:
            if url.endswith("/robots.txt"):
                return {"status_code": 200, "content_type": "text/plain",
                        "final_url": url, "response_time_ms": 1.0,
                        "content_length": len(robots_body),
                        "html": robots_body, "headers": {}}
            return inner(url)
        return fetch

    cfg_off = CrawlConfig(seed_url=SEED_URL, max_urls=60, batch_size=15,
                          requests_per_second=1e9)
    cfg_on = CrawlConfig(seed_url=SEED_URL, max_urls=60, batch_size=15,
                         requests_per_second=1e9, fetch_robots=True)
    st_off = CrawlEngine(spark, None, cfg_off,
                         fetch_fn_factory=robots_factory).run()
    st_on = CrawlEngine(spark, None, cfg_on,
                        fetch_fn_factory=robots_factory).run()

    crawled_off = [r["url"] for r in
                   st_off.crawl_order.orderBy("crawl_seq").collect()]
    crawled_on = [r["url"] for r in
                  st_on.crawl_order.orderBy("crawl_seq").collect()]
    assert any("/blog/" in u for u in crawled_off)  # parity default
    assert not any("/blog/" in u for u in crawled_on)
    assert not any("/blog/" in r["url"] for r in st_on.seen.collect())
    # the freed budget goes to other urls (frontier evolution legitimately
    # differs once /blog/ urls stop entering rounds, so exact order is only
    # comparable until the first suppressed admission)
    assert len(crawled_on) == 60  # budget still filled
    first_blog = next(i for i, u in enumerate(crawled_off) if "/blog/" in u)
    assert crawled_on[:first_blog] == crawled_off[:first_blog]


def test_live_mode_matches_store_mode(spark):
    """LIVE mode (pages=None + deterministic fetch kernel) must reproduce
    the store-join crawl EXACTLY — same order, same status codes, same
    seen set — since both are views of the same origin function. That
    includes a stored page with null html and a url missing from the
    store."""
    import hashlib

    import pandas as pd

    from crawler_seo_spark.config import CrawlConfig
    from crawler_seo_spark.engine import CrawlEngine
    from crawler_seo_spark.sources.fetch import miss_response
    from crawler_seo_spark.sources.from_documents import (
        SEED_URL,
        live_fetch_factory,
        page_from_document,
        synthetic_text,
    )

    n = 150
    rows = [page_from_document(i, synthetic_text(i), n) for i in range(n)]
    # the seed links to pages 1 and 2: page 1 is a 200 page whose stored
    # html is null, page 2 is missing from the store (a network 404)
    null_html, missing = rows[1]["url"], rows[2]["url"]
    rows[1]["html"] = None
    del rows[2]
    pages = spark.createDataFrame(pd.DataFrame(rows), schema=(
        "url string, page_index long, status_code int, content_type string, "
        "final_url string, response_time_ms double, content_length long, "
        "html string, headers map<string,string>, image_ids array<string>"))
    cfg = CrawlConfig(seed_url=SEED_URL, max_urls=60, batch_size=15,
                      requests_per_second=1e9)

    def origin():
        inner = live_fetch_factory(n)()

        def fetch(url):
            if url == missing:
                return miss_response(url)
            return dict(inner(url), html=None) if url == null_html \
                else inner(url)
        return fetch

    st_store = CrawlEngine(spark, pages, cfg).run()
    st_live = CrawlEngine(spark, None, cfg, fetch_fn_factory=origin).run()

    a = [tuple(r) for r in st_store.crawl_order.orderBy("crawl_seq")
         .collect()]
    b = [tuple(r) for r in st_live.crawl_order.orderBy("crawl_seq")
         .collect()]
    assert a == b
    sa = {(r["url"], r["status_code"], r["content_md5"])
          for r in st_store.results.collect()}
    sb = {(r["url"], r["status_code"], r["content_md5"])
          for r in st_live.results.collect()}
    assert sa == sb
    got = {u: (c, m) for u, c, m in sa}
    assert got[null_html] == (200, hashlib.md5(b"").hexdigest())
    assert got[missing] == (404, hashlib.md5(b"").hexdigest())
    assert (sorted(r["url"] for r in st_store.seen.collect())
            == sorted(r["url"] for r in st_live.seen.collect()))


def test_robots_fetch_uses_candidate_scheme(spark):
    """An http-only origin serves robots at http://host/robots.txt — the
    round-3 code hard-coded https and silently failed open for http sites.
    The fetch must carry the candidates' scheme (https preferred when a
    host shows both)."""
    from crawler_seo_spark.config import CrawlConfig
    from crawler_seo_spark.engine import CrawlEngine

    served = {
        "http://plain.test/robots.txt": "User-agent: *\nDisallow: /priv/\n",
        "https://dual.test/robots.txt": "User-agent: *\nDisallow: /tls/\n",
        "http://dual.test/robots.txt": "User-agent: *\nDisallow: /nope/\n",
    }

    def factory():
        def fetch(url: str) -> dict:
            if url in served:
                body = served[url]
                return {"status_code": 200, "content_type": "text/plain",
                        "final_url": url, "response_time_ms": 1.0,
                        "content_length": len(body), "html": body,
                        "headers": {}}
            return {"status_code": 404, "content_type": "", "final_url": url,
                    "response_time_ms": 1.0, "content_length": 0, "html": "",
                    "headers": {}}
        return fetch

    cfg = CrawlConfig(seed_url="https://docs.example.test/",
                      fetch_robots=True)
    eng = CrawlEngine(spark, None, cfg, fetch_fn_factory=factory)
    cand = spark.createDataFrame(
        [("http://plain.test/a",), ("http://dual.test/b",),
         ("https://dual.test/c",)], "url string")
    eng._refresh_robots(cand, round_id=0)
    rows = {r["host"]: r for r in eng._robots_dynamic.collect()}
    assert [(r["allow"], r["prefix"]) for r in rows["plain.test"]["rules"]] \
        == [(False, "/priv/")]
    assert rows["plain.test"]["fetch_ok"]
    assert [(r["allow"], r["prefix"]) for r in rows["dual.test"]["rules"]] \
        == [(False, "/tls/")]  # https wins


def test_rfc9309_allow_disallow_precedence(spark):
    """RFC 9309 §2.2.2: among matching rules the LONGEST prefix wins,
    Allow beats Disallow at equal length, no match → allowed, and an
    empty-value Disallow matches nothing (the allow-all quirk)."""
    from crawler_seo_spark.operators.robots import (
        filter_allowed, parse_robots_rules, robots_rules_table)

    body = ("User-agent: *\n"
            "Disallow: /shop/\n"
            "Allow: /shop/public/\n"
            "Disallow: /shop/public/secret/\n"
            "Allow: /tie\n"
            "Disallow: /tie\n"
            "Disallow:\n")          # empty value -> matches nothing
    rules = parse_robots_rules(body)
    assert rules == [(False, "/shop/"), (True, "/shop/public/"),
                     (False, "/shop/public/secret/"), (True, "/tie"),
                     (False, "/tie")]

    robots = robots_rules_table(spark, {"h.test": rules})
    cand = spark.createDataFrame(
        [(f"https://h.test{p}",) for p in
         ["/", "/shop/", "/shop/item", "/shop/public/", "/shop/public/x",
          "/shop/public/secret/x", "/tie", "/tiebreak", "/other"]],
        "url string")
    kept = {r["url"].removeprefix("https://h.test")
            for r in filter_allowed(cand, robots).collect()}
    assert kept == {"/", "/shop/public/", "/shop/public/x", "/tie",
                    "/tiebreak", "/other"}

    # empty-Disallow-only group: everything allowed
    only_empty = robots_rules_table(
        spark, {"h.test": parse_robots_rules("User-agent: *\nDisallow:\n")})
    assert filter_allowed(cand, only_empty).count() == cand.count()

    # unknown host: allow-all (reference-parity default)
    other = spark.createDataFrame([("https://nohost.test/x",)], "url string")
    assert filter_allowed(other, robots).count() == 1


def test_rfc9309_wildcard_patterns(spark):
    """RFC 9309 * and $ wildcards: * matches any run, trailing $ anchors
    the end; wildcard rules ride a precompiled regex while plain prefixes
    keep the startswith fast path; precedence is raw pattern length."""
    from crawler_seo_spark.operators.robots import (
        compile_wildcard, filter_allowed, robots_rules_table)

    assert compile_wildcard("/plain/") is None
    assert compile_wildcard("/a/*/b$") == "^/a/.*/b$"

    robots = robots_rules_table(spark, {"h.test": [
        (False, "/*.pdf$"),          # block pdfs anywhere...
        (True, "/docs/*.pdf$"),      # ...except under /docs/ (longer)
        (False, "/tmp*"),            # block /tmp, /tmp2, /tmp/x
        (True, "/exact$"),           # allow exactly /exact
        (False, "/exact"),           # block /exact* extensions (same len ->
    ]})                              # allow wins only on the exact path)
    cand = spark.createDataFrame(
        [(f"https://h.test{p}",) for p in
         ["/x.pdf", "/docs/a.pdf", "/docs/a.pdfx", "/tmp", "/tmp2/y",
          "/temp", "/exact", "/exactly", "/free"]],
        "url string")
    kept = {r["url"].removeprefix("https://h.test")
            for r in filter_allowed(cand, robots).collect()}
    assert kept == {"/docs/a.pdf", "/docs/a.pdfx", "/temp", "/exact",
                    "/free"}


def test_rfc9309_matcher_differential_fuzz(spark):
    """Differential fuzz of the Catalyst rules evaluation (startswith fast
    path, regexp_like wildcards, struct-max precedence) against an
    INDEPENDENT Python reference built on fnmatch: 40 random rule-sets
    (one per host, so ONE Spark job covers all) x 10 random paths each."""
    import fnmatch
    import random

    from crawler_seo_spark.operators.robots import (
        filter_allowed, robots_rules_table)

    def matches(path, pat):
        # robots prefix semantics via fnmatch full-match: P matches a
        # PREFIX of path <=> P+"*" full-matches path; $-anchored P
        # full-matches exactly (alphabet excludes fnmatch's ? and [)
        if pat.endswith("$"):
            return fnmatch.fnmatchcase(path, pat[:-1])
        return fnmatch.fnmatchcase(path, pat + "*")

    def py_allowed(path, rules):
        best = None
        for allow, pat in rules:
            if matches(path, pat):
                k = (len(pat), 1 if allow else 0)
                best = k if best is None else max(best, k)
        return best is None or best[1] == 1

    rnd = random.Random(7)
    alphabet = "ab/."
    hosts, urls, want_kept = {}, set(), set()
    for h in range(40):
        host = f"h{h}.test"
        rules = []
        for _ in range(rnd.randint(1, 5)):
            pat = "/" + "".join(rnd.choice(alphabet + "*")
                                for _ in range(rnd.randint(1, 6)))
            if rnd.random() < 0.3:
                pat += "$"
            rules.append((rnd.random() < 0.5, pat))
        hosts[host] = rules
        for _ in range(10):
            path = "/" + "".join(rnd.choice(alphabet)
                                 for _ in range(rnd.randint(0, 6)))
            url = f"https://{host}{path}"
            urls.add(url)
            if py_allowed(path, rules):
                want_kept.add(url)
            else:
                want_kept.discard(url)  # dup url: same verdict either way

    robots = robots_rules_table(spark, hosts)
    cand = spark.createDataFrame([(u,) for u in sorted(urls)], "url string")
    got = {r["url"] for r in filter_allowed(cand, robots).collect()}
    assert got == want_kept, (sorted(got ^ want_kept)[:10], len(urls))


def test_crawl_delay_parsing_and_schedule(spark, batch):
    """robots Crawl-delay: parsed per agent group, and schedule_fetches
    stretches ONLY the delayed host's interval to max(1/rps, delay)."""
    from crawler_seo_spark.operators.robots import parse_crawl_delay

    txt = ("User-agent: *\nCrawl-delay: 2.5\n\n"
           "User-agent: fastbot\nCrawl-delay: 0.1\n\n"
           "User-agent: junk\nCrawl-delay: soon\n")
    assert parse_crawl_delay(txt) == 2.5
    assert parse_crawl_delay(txt, "FastBot/1.0") == 0.1
    assert parse_crawl_delay(txt, "junk") is None  # bad value ignored
    assert parse_crawl_delay("User-agent: *\nDisallow: /x\n") is None

    delays = spark.createDataFrame([("host0.test", 10.0)],
                                   "host string, crawl_delay_s double")
    out = schedule_fetches(batch, requests_per_second=5.0,
                           host_delays=delays).collect()
    for r in out:
        want = 10_000.0 if r["host"] == "host0.test" else 200.0
        assert r["scheduled_offset_ms"] == pytest.approx(
            r["fetch_slot"] * want), r


def test_live_crawl_honors_crawl_delay(spark):
    """Engine e2e: a live-fetched robots.txt with Crawl-delay switches
    later rounds from the unlimited-rps fast path to the delayed
    schedule — per-host offsets stretch by the delay; the crawl itself
    (order, budget) is unchanged."""
    from crawler_seo_spark.config import CrawlConfig
    from crawler_seo_spark.engine import CrawlEngine
    from crawler_seo_spark.sources.from_documents import (
        SEED_URL, live_fetch_factory)

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

    cfg = CrawlConfig(seed_url=SEED_URL, max_urls=45, batch_size=15,
                      requests_per_second=1e9, fetch_robots=True)
    eng = CrawlEngine(spark, None, cfg, fetch_fn_factory=factory)
    st = eng.run()
    assert eng._robots_delay_count >= 1
    rows = st.results.select("round", "fetch_slot",
                             "scheduled_offset_ms").collect()
    # round 0: robots not yet fetched -> fast path, offsets 0
    assert all(r["scheduled_offset_ms"] == 0.0
               for r in rows if r["round"] == 0)
    # later rounds: slot k is offset k * 2ms on the (single) host
    later = [r for r in rows if r["round"] > 0]
    assert later and any(r["fetch_slot"] > 0 for r in later)
    for r in later:
        assert r["scheduled_offset_ms"] == pytest.approx(
            r["fetch_slot"] * 2.0), r
    assert st.crawl_order.count() == 45


def test_sitemap_seed_discovery(spark):
    """Sitemap ingestion: robots Sitemap: directives -> index sitemap ->
    child sitemaps -> page urls, fetched on the executors; malformed XML
    and non-200 children degrade to empty, namespace-less docs parse."""
    from crawler_seo_spark.sources.sitemaps import (
        fetch_sitemap_urls, parse_sitemap, sitemap_urls_from_robots)

    robots = ("User-agent: *\nDisallow: /x\n"
              "Sitemap: https://s.test/sitemap.xml\n")
    assert sitemap_urls_from_robots(robots) == ["https://s.test/sitemap.xml"]

    ns = 'xmlns="http://www.sitemaps.org/schemas/sitemap/0.9"'
    served = {
        "https://s.test/sitemap.xml":
            f'<sitemapindex {ns}>'
            '<sitemap><loc>https://s.test/sm-a.xml</loc></sitemap>'
            '<sitemap><loc>https://s.test/sm-b.xml</loc></sitemap>'
            '<sitemap><loc>https://s.test/sm-404.xml</loc></sitemap>'
            '</sitemapindex>',
        "https://s.test/sm-a.xml":
            f'<urlset {ns}>'
            '<url><loc>https://s.test/p1</loc></url>'
            '<url><loc>https://s.test/p2</loc></url></urlset>',
        "https://s.test/sm-b.xml":  # namespace-less, one dup with sm-a
            '<urlset><url><loc>https://s.test/p2</loc></url>'
            '<url><loc>https://s.test/p3</loc></url></urlset>',
    }
    assert parse_sitemap("<not-xml") == ([], [])

    def factory():
        def fetch(url):
            body = served.get(url)
            return {"status_code": 200 if body else 404,
                    "content_type": "application/xml", "final_url": url,
                    "response_time_ms": 1.0,
                    "content_length": len(body or ""),
                    "html": body or "", "headers": {}}
        return fetch

    locs = spark.createDataFrame(
        [(u,) for u in sitemap_urls_from_robots(robots)],
        "sitemap_url string")
    seeds = fetch_sitemap_urls(locs, factory)
    got = {(r["seed_url"], r["sitemap_url"]) for r in seeds.collect()}
    assert {u for u, _ in got} == {"https://s.test/p1", "https://s.test/p2",
                                   "https://s.test/p3"}
    assert ("https://s.test/p1", "https://s.test/sm-a.xml") in got


def test_sitemap_cycle_terminates_without_refetch(spark, caplog):
    """ADVICE r4: an A<->B sitemap-index cycle must not refetch already-
    visited sitemaps level after level — the visited anti-join drains the
    frontier, every reachable page is collected, and NO spurious
    'urls are MISSING' warning fires (the cycle used to exhaust
    max_index_depth every time)."""
    import logging

    from crawler_seo_spark.sources.sitemaps import fetch_sitemap_urls

    served = {
        "https://c.test/a.xml":
            '<sitemapindex>'
            '<sitemap><loc>https://c.test/b.xml</loc></sitemap>'
            '</sitemapindex>',
        "https://c.test/b.xml":
            '<sitemapindex>'
            '<sitemap><loc>https://c.test/a.xml</loc></sitemap>'
            '<sitemap><loc>https://c.test/leaf.xml</loc></sitemap>'
            '</sitemapindex>',
        "https://c.test/leaf.xml":
            '<urlset><url><loc>https://c.test/p1</loc></url></urlset>',
    }

    def factory():
        def fetch(url):
            body = served.get(url, "")
            return {"status_code": 200 if body else 404,
                    "content_type": "application/xml", "final_url": url,
                    "response_time_ms": 1.0,
                    "content_length": len(body), "html": body,
                    "headers": {}}
        return fetch

    locs = spark.createDataFrame([("https://c.test/a.xml",)],
                                 "sitemap_url string")
    with caplog.at_level(logging.WARNING,
                         logger="crawler_seo_spark.sources.sitemaps"):
        seeds = fetch_sitemap_urls(locs, factory, max_index_depth=2)
        got = {r["seed_url"] for r in seeds.collect()}
    assert got == {"https://c.test/p1"}
    assert not [r for r in caplog.records if "MISSING" in r.message]


def test_sitemap_doctype_guard_scans_whole_document():
    """ADVICE r4: the billion-laughs guard used to scan only the first
    4096 bytes — a hostile sitemap pushing the DOCTYPE past 4 KiB with
    prolog comments still got its entities expanded. The guard must
    refuse DTD/entity declarations anywhere in the document."""
    from crawler_seo_spark.sources.sitemaps import parse_sitemap

    padding = "<!-- " + "x" * 8192 + " -->\n"
    bomb = (padding
            + '<!DOCTYPE urlset [<!ENTITY a "AAAA"><!ENTITY b "&a;&a;&a;">]>'
            + '<urlset><url><loc>https://e.test/&b;</loc></url></urlset>')
    assert parse_sitemap(bomb) == ([], [])
    # plain documents with big prologs still parse
    benign = padding + \
        '<urlset><url><loc>https://e.test/ok</loc></url></urlset>'
    assert parse_sitemap(benign) == (["https://e.test/ok"], [])
