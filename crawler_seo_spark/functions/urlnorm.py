"""URL canonicalization, relevance filtering and hashing.

The single most semantics-critical kernel of the engine: the URL-seen set
and the crawl order are both keyed by the canonical URL string, so the
canonical form must be byte-exact with the reference's normalization
(reference: ``core/url_manager.py:36-137``). We therefore implement ONE pure
function (:func:`canonicalize_url`) used by

* the pure-Python oracle (tests),
* the Arrow-vectorized pandas UDF the engine runs per partition, and
* the link-extraction UDF.

Both sides share bytes via ``urllib.parse``, which pins down the
``urlencode`` quirks (space → ``+``, ``~`` quoting, etc.).

Relevance filtering (reference: ``core/url_manager.py:139-198``) is a pure
function returning the filter *reason* (for the ``filtered`` log and the
oracle). Priority classification is exposed twice: the pure
:func:`is_priority` (oracle, seeds) and :func:`is_priority_col`, the same
predicate as a Catalyst expression for the engine's frontier ordering.
"""

from __future__ import annotations

import hashlib
import re
from urllib.parse import parse_qs, urlencode, urljoin, urlparse, urlunparse

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from ..config import (
    ECOMMERCE_PATTERNS,
    EXCLUDED_EXTENSIONS,
    PRIORITY_PATTERNS,
    TECHNICAL_PATTERNS,
    TRACKING_PARAMS,
)

_MULTI_SLASH = re.compile(r"/+")
_TRACKING = frozenset(TRACKING_PARAMS)

# Filter reasons (match the reference's filtered-log labels,
# core/url_manager.py:165,179,195)
REASON_ECOMMERCE = "ECOMMERCE_ENDPOINT"
REASON_EXTENSION = "FILE_EXTENSION"
REASON_TECHNICAL = "TECHNICAL_PATTERN"


def base_domain_of(url: str) -> str:
    """Lowercased netloc with a leading ``www.`` stripped
    (reference: core/url_manager.py:29-34)."""
    host = urlparse(url).netloc.lower()
    return host[4:] if host.startswith("www.") else host


def _canonical_query(query: str) -> str:
    """Drop tracking params, sort by key then value, re-encode
    (reference: core/url_manager.py:103-137). Returns the *original* string
    if parsing fails, mirroring the reference's fallback."""
    if not query:
        return ""
    try:
        params = parse_qs(query, keep_blank_values=False)
        for name in _TRACKING:
            params.pop(name, None)
        if not params:
            return ""
        pairs = []
        for key in sorted(params):
            for value in sorted(params[key]):
                pairs.append((key, value))
        return urlencode(pairs)
    except Exception:
        return query


def canonicalize_url(url: str | None, base_url: str | None = None,
                     base_domain: str | None = None) -> str | None:
    """Canonical URL or ``None`` when out of scope.

    Steps (reference: core/url_manager.py:36-101): strip whitespace; resolve
    relative against ``base_url``; require http/https; require the
    (lowercased, www-stripped) host to equal ``base_domain`` when given; drop
    the fragment; collapse duplicate slashes; strip the trailing slash except
    for the root path; empty path becomes ``/``; canonicalize the query.
    The netloc keeps its original spelling in the output (the reference only
    lowercases a scratch copy for the domain check).
    """
    return canonicalize_url_ex(url, base_url, base_domain)[0]


# Fast path: the overwhelmingly common URL shape — plain ASCII segments, no
# query/fragment/params/encoding, single slashes — canonicalizes with pure
# string ops, bypassing urlparse/urljoin/urlunparse entirely (~40 µs → ~2 µs
# per URL; at 10^10 URLs the canonicalizer is the system's biggest Python
# hot spot). Byte-parity with the slow path is property-tested
# (tests/test_urlnorm_properties.py): any shape the fast regexes don't
# PROVABLY normalize identically falls through to the slow path.
_FAST_SEG = r"[A-Za-z0-9._~\-]+"
_FAST_ABS = re.compile(rf"^(https?://)([A-Za-z0-9.\-]+)((?:/{_FAST_SEG})*)/?$")
_FAST_REL = re.compile(rf"^((?:/{_FAST_SEG})+)/?$")
_DOT_SEG = re.compile(r"/\.\.?(?:/|$)")  # urljoin resolves pure-dot segments
_MISS = object()  # sentinel: fast path does not apply


def _host_in_scope(netloc: str, base_domain: str | None) -> bool:
    if base_domain is None:
        return True
    h = netloc.lower()
    if h.startswith("www."):
        h = h[4:]
    return h == base_domain


def _fast_canonicalize(url: str, base_url: str | None,
                       base_domain: str | None):
    m = _FAST_ABS.match(url)
    if m is not None:
        scheme, netloc, path = m.groups()
        if not _host_in_scope(netloc, base_domain):
            return None  # identical to the slow path's domain rejection
        return f"{scheme}{netloc}{path or '/'}"
    if base_url is not None:
        m = _FAST_REL.match(url)
        if m is not None and _DOT_SEG.search(url) is None:
            mb = _FAST_ABS.match(base_url)
            if mb is None:
                return _MISS  # unusual base: let urljoin decide
            if not _host_in_scope(mb.group(2), base_domain):
                return None
            return f"{mb.group(1)}{mb.group(2)}{m.group(1)}"
    return _MISS


def canonicalize_url_ex(url: str | None, base_url: str | None = None,
                        base_domain: str | None = None
                        ) -> tuple[str | None, bool]:
    """(canonical url or None, invalid) — ``invalid=True`` only on a
    normalization EXCEPTION (malformed URL), which the reference logs as an
    ``INVALID_URL`` filtered entry (core/url_manager.py:64-66); out-of-scope
    urls (scheme/domain) return (None, False) and are dropped silently,
    matching the reference's separate relevance path."""
    if not url:
        return None, False
    fast = _fast_canonicalize(url, base_url, base_domain)
    if fast is not _MISS:
        return fast, False
    return _canonicalize_slow(url, base_url, base_domain)


def _canonicalize_slow(url: str, base_url: str | None,
                       base_domain: str | None) -> tuple[str | None, bool]:
    """The urllib-backed general path (reference byte-parity authority)."""
    try:
        u = url.strip()
        if base_url:
            u = urljoin(base_url, u)
        parts = urlparse(u)
        if parts.scheme not in ("http", "https"):
            return None, False
        if base_domain is not None:
            host = parts.netloc.lower()
            if host.startswith("www."):
                host = host[4:]
            if host != base_domain:
                return None, False
        path = _MULTI_SLASH.sub("/", parts.path)
        if len(path) > 1 and path.endswith("/"):
            path = path.rstrip("/")
        if not path:
            path = "/"
        return urlunparse(parts._replace(
            fragment="", path=path, query=_canonical_query(parts.query))), False
    except Exception:
        return None, True


def filter_reason(canonical_url: str | None) -> str | None:
    """First matching blocklist reason, or ``None`` if the URL is crawlable.

    Match order is semantic (reference: core/url_manager.py:139-198):
    e-commerce endpoints, then file extensions, then technical patterns;
    within each class, first pattern in list order wins (affects the
    ``details`` attribution in the filtered log, not the admit decision).
    """
    if not canonical_url:
        return None
    low = canonical_url.lower()
    for pat in ECOMMERCE_PATTERNS:
        if pat in low:
            return REASON_ECOMMERCE
    for ext in EXCLUDED_EXTENSIONS:
        if low.endswith(ext):
            return REASON_EXTENSION
    for pat in TECHNICAL_PATTERNS:
        if pat in low:
            return REASON_TECHNICAL
    return None


def filter_detail(canonical_url: str) -> str | None:
    """Details string for the filtered log (reference log payloads,
    core/url_manager.py:165,179,195)."""
    low = canonical_url.lower()
    for pat in ECOMMERCE_PATTERNS:
        if pat in low:
            return f"E-commerce endpoint: {pat}"
    for ext in EXCLUDED_EXTENSIONS:
        if low.endswith(ext):
            return f"Extensão de arquivo: {ext}"
    for pat in TECHNICAL_PATTERNS:
        if pat in low:
            return f"Padrão técnico: {pat}"
    return None


def is_relevant(canonical_url: str | None) -> bool:
    return canonical_url is not None and filter_reason(canonical_url) is None


def is_priority(canonical_url: str, patterns: list[str] | None = None) -> bool:
    """Priority-queue classification (reference: core/url_manager.py:369-372)."""
    low = canonical_url.lower()
    return any(p in low for p in (patterns or PRIORITY_PATTERNS))


def url_md5(canonical_url: str) -> str:
    """Reference-parity dedup hash (core/url_manager.py:234)."""
    return hashlib.md5(canonical_url.encode()).hexdigest()


# ---------------------------------------------------------------------------
# Vectorized (Arrow batch) forms — used inside pandas UDFs / mapInPandas
# ---------------------------------------------------------------------------

def canonicalize_series(urls: pd.Series, base_urls: pd.Series | None = None,
                        base_domain: str | None = None) -> pd.Series:
    """Vectorized canonicalization over an Arrow batch.

    The per-value kernel is pure Python (``urllib`` byte-parity is the
    point); vectorization is at the Arrow-transfer and pipeline level, per
    the scale guidance: no per-row Python *round trips*, one batch in/out.
    """
    if base_urls is None:
        return urls.map(lambda u: canonicalize_url(u, None, base_domain))
    it = zip(urls.to_numpy(), base_urls.to_numpy())
    return pd.Series(
        [canonicalize_url(u, b, base_domain) for u, b in it], index=urls.index,
        dtype=object)


def filter_reason_series(urls: pd.Series) -> pd.Series:
    return urls.map(filter_reason)


# ---------------------------------------------------------------------------
# Catalyst Column builders — JVM-side equivalents for the declarative path
# ---------------------------------------------------------------------------

def _contains_any(col: Column, patterns: list[str]) -> Column:
    out = F.lit(False)
    for p in patterns:
        out = out | F.lower(col).contains(p)
    return out


def is_priority_col(url: Column, patterns: list[str] | None = None) -> Column:
    """O2 priority classification as a Catalyst expression — the same
    predicate as :func:`is_priority`: the url is lowercased, the patterns
    are matched as given."""
    return _contains_any(url, patterns or PRIORITY_PATTERNS)


def host_col(url: Column) -> Column:
    """Lowercased, www-stripped host (F2 key; J4 partitioning key)."""
    return F.regexp_replace(F.lower(F.parse_url(url, F.lit("HOST"))), r"^www\.", "")
