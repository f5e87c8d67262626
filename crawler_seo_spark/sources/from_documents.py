"""Derive a crawlable synthetic site from the testdata ``documents`` table.

Lets the CLI (``--from-documents``), the tests and the benchmarks crawl the
provided testdata parquet (TESTDATA.md) instead of free-standing synthetic
pages: each document row becomes one page of a single synthetic domain —
its text supplies title/description/body, its ``doc_id`` supplies the
deterministic link graph (binary-tree edges 2i+1/2i+2 ⇒ connected from the
root, plus modular extras for dedup pressure), and the usual decoy links
exercise the relevance filters.

Deterministic, no RNG: every page is a pure function of its document row.
"""

from __future__ import annotations

from ..sources.fetch import miss_response
from ..sources.synthetic_site import BASE, DOMAIN

SEED_URL = f"{BASE}/"


def doc_path(doc_id: int) -> str:
    k = doc_id % 10
    if doc_id == 0:
        return "/"
    if k in (1, 2):
        return f"/product/item-{doc_id}"
    if k == 3:
        return f"/category/cat-{doc_id}"
    if k == 4:
        return f"/service/svc-{doc_id}"
    if k in (5, 6):
        return f"/blog/post-{doc_id}"
    return f"/page/info-{doc_id}"


def doc_url(doc_id: int) -> str:
    p = doc_path(doc_id)
    return BASE + p


_DECOYS = ["/checkout/cart/add/1", "/theme/app.css", "/api/items",
           "https://elsewhere.example/x"]


def page_from_document(doc_id: int, text: str, n_docs: int) -> dict:
    """One page record (same schema as synthetic_site.build_site rows)."""
    words = text.split()
    title = " ".join(words[:6])[:55]
    if doc_id % 7 == 3:
        title = "Título compartilhado entre páginas"  # deliberate duplicates
    desc = " ".join(words[:30])[:150]
    headings = f"<h1>{' '.join(words[:4])}</h1><h2>{' '.join(words[4:8])}</h2>"
    if doc_id % 9 == 2:
        headings += "<h5>salto</h5>"
    if doc_id % 9 == 5:
        headings = f"<h2>{' '.join(words[:3])}</h2>"  # no h1

    targets = [t for t in (2 * doc_id + 1, 2 * doc_id + 2) if t < n_docs]
    targets.append((doc_id * 37 + 11) % n_docs)
    hrefs = []
    for j, t in enumerate(targets):
        p = doc_path(t)
        if (doc_id + j) % 4 == 1:
            hrefs.append(f"{p}?utm_source=feed")
        elif (doc_id + j) % 4 == 2 and p != "/":
            hrefs.append(p + "/")
        else:
            hrefs.append(p)
    hrefs.append(_DECOYS[doc_id % len(_DECOYS)])
    anchors = "".join(f'<a href="{h}">l{j}</a>' for j, h in enumerate(hrefs))

    url = doc_url(doc_id)
    status = 200
    if doc_id % 29 == 11:
        status = 404
    elif doc_id % 31 == 13:
        status = 500
    body = " ".join(words[:300])
    html = (f"<html><head><title>{title}</title>"
            f'<meta name="description" content="{desc}">'
            f"</head><body>{headings}<p>{body}</p><p>{body}</p>"
            f"<p>{body}</p><p>{body}</p>"
            f"{anchors}</body></html>")
    return {
        "url": url,
        "page_index": doc_id,
        "status_code": status,
        "content_type": "text/html",
        "final_url": url,
        "response_time_ms": float(40 + doc_id % 200),
        "content_length": len(html),
        "html": html,
        "headers": {"content-type": "text/html; charset=utf-8"},
        "image_ids": [],
    }


_PATH_RE = None


def doc_id_from_url(url: str) -> int | None:
    """Inverse of :func:`doc_url` — None when the url is not a site page."""
    global _PATH_RE
    import re
    if _PATH_RE is None:
        _PATH_RE = re.compile(r"-(\d+)$")
    if url == SEED_URL:
        return 0
    m = _PATH_RE.search(url)
    if not m:
        return None
    did = int(m.group(1))
    return did if doc_url(did) == url else None


_WORDS = ("dados analise pagina conteudo sistema produto categoria servico "
          "relatorio cliente mercado modelo resultado processo estrutura "
          "camada indice rede texto valor formato janela codigo motor fluxo "
          "escala plano fonte busca grafo item chave bloco sinal campo").split()


def synthetic_text(doc_id: int, n_words: int = 350) -> str:
    """Deterministic pseudo-text for a document id — a pure function, so a
    LIVE-mode fetch kernel can materialize any page with zero shared state
    (no page store in executor memory, exactly like fetching from a web
    server). Multiplicative-hash word selection; no RNG objects."""
    x = (doc_id * 2654435761 + 0x9E3779B9) & 0xFFFFFFFF
    words = []
    for _ in range(n_words):
        x = (x * 1664525 + 1013904223) & 0xFFFFFFFF
        words.append(_WORDS[x >> 27])
    return " ".join(words)


def live_fetch_factory(n_docs: int, text_fn=synthetic_text):
    """Deterministic live-mode fetcher factory for the documents site:
    ``CrawlEngine(spark, pages=None, cfg, fetch_fn_factory=live_fetch_factory(n))``
    fetches every URL by regenerating its page on the executor — the
    production ``mapInPandas`` fetch path with a synthetic origin server.
    Off-site / unknown urls return the 404 shape of a network miss."""
    def factory():
        def fetch(url: str) -> dict:
            did = doc_id_from_url(url)
            if did is None or did >= n_docs:
                return miss_response(url)
            rec = page_from_document(did, text_fn(did), n_docs)
            return {k: rec[k] for k in
                    ("status_code", "content_type", "final_url",
                     "response_time_ms", "content_length", "html",
                     "headers")}
        return fetch
    return factory


def pages_df_from_documents(spark, sf_dir: str, limit: int | None = None):
    """documents.parquet → page-store DataFrame (distributed derivation via
    mapInPandas — the per-page build never leaves the executors)."""
    import pandas as pd

    from ..operators.partitioning import widen_small_input

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()
    if limit:
        docs = docs.filter(f"doc_id < {limit}")
        n_docs = min(n_docs, limit)
    # the single-file documents table otherwise builds (and stores) the
    # whole page table in 1-2 scan tasks — widen so the per-page build
    # and every later per-round store stream run at full parallelism
    docs = widen_small_input(docs)

    def build(batches):
        for pdf in batches:
            rows = [page_from_document(int(d), t or "", n_docs)
                    for d, t in zip(pdf["doc_id"], pdf["text"])]
            yield pd.DataFrame(rows)

    schema = ("url string, page_index long, status_code int, "
              "content_type string, final_url string, response_time_ms double, "
              "content_length long, html string, headers map<string,string>, "
              "image_ids array<string>")
    return docs.select("doc_id", "text").mapInPandas(build, schema=schema)


def store_from_documents(rows: list[tuple[int, str]], n_docs: int) -> dict:
    """Oracle-side page store from collected (doc_id, text) rows."""
    return {page_from_document(d, t or "", n_docs)["url"]:
            page_from_document(d, t or "", n_docs)
            for d, t in rows}
