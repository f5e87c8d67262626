"""Distributed HTTP fetch stage — the production form of the engine's
synthetic page-store join.

``fetch_batch(df, fetch_fn)`` runs an arbitrary per-URL fetcher inside
``mapInPandas``: Arrow batches in, one fetch call per row inside the batch,
politeness honored by sleeping until each row's ``scheduled_offset_ms``
relative to the partition's batch start (the schedule is assigned by
``operators.politeness.schedule_fetches`` BEFORE the repartition, so salting
a hot host across partitions keeps its global rate budget intact).

The default ``http_fetch`` uses ``requests`` with the reference's session
shape — pool of 20, 3 retries, 15 s timeout, redirects followed
(core/session_manager.py:18-79) — one session per task (the per-partition
analog of the reference's per-domain session pool, :141-175). This sandbox
has no network, so tests inject a deterministic ``fetch_fn``; the plumbing
(schema, batching, pacing) is identical either way.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame

FETCH_SCHEMA = ("url string, status_code int, content_type string, "
                "final_url string, response_time_ms double, "
                "content_length long, html string, "
                "headers map<string,string>")

FetchFn = Callable[[str], dict]


def miss_response(url: str) -> dict:
    """The response for a url the origin has no page for: the network 404
    row both fetch modes emit (a page-store miss, or an unknown url at a
    synthetic origin)."""
    return {"status_code": 404, "content_type": "", "final_url": url,
            "response_time_ms": 0.0, "content_length": 0, "html": "",
            "headers": {}}


def paced_rows(pdf: pd.DataFrame, start: float, honor_schedule: bool = True):
    """Yield an Arrow batch's rows in politeness-schedule order, sleeping
    until each row's ``scheduled_offset_ms`` relative to ``start``.

    THE single definition of the pacing contract — both fetch stages
    (the standalone :func:`fetch_batch` and the engine's fused live round)
    iterate through this, so the per-host rate guarantee cannot drift
    between them. The mergesort keeps ties in batch order (deterministic).
    """
    order = pdf.sort_values("scheduled_offset_ms", kind="mergesort")
    for rec in order.itertuples(index=False):
        if honor_schedule:
            wait = rec.scheduled_offset_ms / 1000.0 \
                - (time.monotonic() - start)
            if wait > 0:
                time.sleep(wait)
        yield rec


def make_http_fetch(timeout: float = 15.0, retries: int = 3,
                    pool: int = 20) -> FetchFn:
    """Real HTTP fetcher factory (reference session defaults). Built lazily
    per task so the session lives executor-side."""
    import requests
    from requests.adapters import HTTPAdapter

    session = requests.Session()
    adapter = HTTPAdapter(pool_connections=pool, pool_maxsize=pool,
                          max_retries=retries)
    session.mount("http://", adapter)
    session.mount("https://", adapter)

    def fetch(url: str) -> dict:
        t0 = time.monotonic()
        try:
            resp = session.get(url, timeout=timeout, allow_redirects=True)
            return {
                "status_code": resp.status_code,
                "content_type": resp.headers.get("content-type", "")
                .split(";")[0],
                "final_url": resp.url,
                "response_time_ms": (time.monotonic() - t0) * 1000.0,
                "content_length": len(resp.content),
                "html": resp.text if "text/html" in
                resp.headers.get("content-type", "").lower() else "",
                "headers": dict(resp.headers),
            }
        except Exception as e:  # network errors become 0-status rows
            return {"status_code": 0, "content_type": "", "final_url": url,
                    "response_time_ms": (time.monotonic() - t0) * 1000.0,
                    "content_length": 0, "html": "",
                    "headers": {"x-error": str(e)[:200]}}

    return fetch


def fetch_batch(batch: DataFrame,
                fetch_fn_factory: Callable[[], FetchFn] = make_http_fetch,
                honor_schedule: bool = True) -> DataFrame:
    """Fetch every row of a scheduled batch (columns: url,
    scheduled_offset_ms) through ``mapInPandas``.

    Pacing: each partition records its start instant; a row fetches no
    earlier than ``start + scheduled_offset_ms``. Offsets were assigned
    per host across the WHOLE batch, so per-host rates hold globally even
    when a host's rows are salted across partitions.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fetch = fetch_fn_factory()
        start = time.monotonic()
        for pdf in batches:
            rows = []
            for rec in paced_rows(pdf, start, honor_schedule):
                out = fetch(rec.url)
                rows.append({"url": rec.url, **out})
            yield pd.DataFrame(rows)

    return (batch.select("url", "scheduled_offset_ms")
            .mapInPandas(kernel, schema=FETCH_SCHEMA))
