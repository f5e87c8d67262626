"""Engine configuration and semantic constants.

The thresholds, blocklists and message strings reproduce the observable
semantics of the reference (``/root/reference/config/settings.py`` and
``/root/reference/utils/constants.py``) so that crawl order, seen set and
analyzer outputs match it exactly. Values are data (public constants of the
reference's behavior), not code.
"""

from __future__ import annotations

from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# Crawl defaults (reference: config/settings.py:9-17)
# ---------------------------------------------------------------------------
MAX_URLS_DEFAULT = 10_000
MAX_DEPTH_DEFAULT = 10
MAX_THREADS_DEFAULT = 25  # reference batch size == thread count (crawler.py:98)
REQUESTS_PER_SECOND_DEFAULT = 10.0  # reference session_manager.py:124-126

# ---------------------------------------------------------------------------
# Metatag thresholds (reference: config/settings.py:46-49)
# ---------------------------------------------------------------------------
TITLE_MIN_LENGTH = 30
TITLE_MAX_LENGTH = 60
DESCRIPTION_MIN_LENGTH = 120
DESCRIPTION_MAX_LENGTH = 160

# Scores (reference: config/settings.py:55-66)
SCORE_TITLE_OK = 30
SCORE_DESCRIPTION_OK = 25
PENALTY_DUPLICATE_TITLE = 10
PENALTY_DUPLICATE_DESCRIPTION = 10

# Status buckets (reference: utils/constants.py:51-54)
STATUS_OK = "OK"
STATUS_ABSENT = "Ausente"
STATUS_TOO_SHORT = "Muito curto"
STATUS_TOO_LONG = "Muito longo"

GRAVITY_CRITICAL = "CRÍTICO"
GRAVITY_MEDIUM = "MÉDIO"
PROBLEM_TYPE_EMPTY = "Vazio"
PROBLEM_TYPE_HIDDEN = "Oculto"

# Hierarchy messages (reference: utils/constants.py:102-110)
MSG_NO_HEADINGS = "Nenhum heading encontrado"
MSG_H1_ABSENT = "H1 ausente"
MSG_MULTIPLE_H1 = "Múltiplos H1 ({count})"
MSG_FIRST_NOT_H1 = "Primeiro heading válido é {tag}, deveria ser H1"

# ---------------------------------------------------------------------------
# URL filter blocklists (reference: core/url_manager.py:146-196)
# ---------------------------------------------------------------------------
ECOMMERCE_PATTERNS = [
    "/checkout/cart/add/",
    "/checkout/cart/",
    "/customer/account/",
    "/customer/section/load/",
    "/wishlist/index/add/",
    "/review/product/post/",
    "/newsletter/subscriber/",
    "/sales/order/",
    "/downloadable/download/",
    "/paypal/",
    "/rest/V1/",
    "/graphql",
    "/admin/",
]

# NOTE: list (not set) — reason attribution follows first match in iteration
# order; the reference iterates a set for extensions, but endswith matches are
# mutually exclusive per URL so order does not affect results.
EXCLUDED_EXTENSIONS = [
    ".js", ".css", ".json", ".xml", ".txt", ".ico",
    ".jpg", ".jpeg", ".png", ".gif", ".webp", ".bmp", ".svg",
    ".pdf", ".doc", ".docx", ".xls", ".xlsx",
    ".zip", ".rar", ".7z", ".mp3", ".mp4", ".avi",
    ".woff", ".woff2", ".ttf", ".eot", ".map",
]

TECHNICAL_PATTERNS = [
    "/wp-content/uploads/", "/wp-content/themes/", "/wp-content/plugins/",
    "/wp-includes/", "/wp-admin/", "/wp-json/",
    "/assets/", "/static/", "/media/", "/images/",
    "/node_modules/", "/vendor/", "/_next/", "/dist/",
    "/api/", "/ajax/", "/cron/", "/cache/",
    "google-analytics", "googleapis.com", "facebook.com",
    "cloudflare", "jquery", "bootstrap", "fontawesome",
]

# Query params dropped at canonicalization (reference: core/url_manager.py:113-117)
TRACKING_PARAMS = [
    "utm_source", "utm_medium", "utm_campaign", "utm_content", "utm_term",
    "gclid", "fbclid", "ref", "_ga", "sessionid", "sid", "jsessionid",
    "phpsessid", "timestamp", "_t", "v", "cache", "nocache",
]

# Priority URL patterns (reference: core/crawler.py:275-278)
PRIORITY_PATTERNS = [
    "/produto/", "/product/", "/categoria/", "/category/",
    "/servico/", "/service/", "/sobre/", "/about/",
]

# ---------------------------------------------------------------------------
# Hidden-heading detection (reference: config/settings.py:130-154)
# ---------------------------------------------------------------------------
HIDDEN_CSS_CLASSES = [
    "hidden", "hide", "invisible", "sr-only", "screen-reader",
    "visually-hidden", "off-screen", "text-hide", "visuallyhidden",
]

INVISIBLE_COLORS = [
    "color:white", "color: white", "color:#fff", "color: #fff",
    "color:#ffffff", "color: #ffffff", "color:transparent",
    "color: transparent", "color:rgba(0,0,0,0)", "color: rgba(0,0,0,0)",
    "color:rgba(255,255,255,0)", "color: rgba(255,255,255,0)",
]

HIDDEN_STYLES = [
    "display:none", "display: none",
    "visibility:hidden", "visibility: hidden",
    "opacity:0", "opacity: 0",
    "font-size:0", "font-size: 0",
]

SUSPICIOUS_POSITIONING = [
    "text-indent:-", "left:-", "top:-",
    "position:absolute", "clip:rect",
]

RGB_LIGHT_THRESHOLD = 250

# Security headers inspected (reference: analyzers/status_analyzer.py:291-298)
SECURITY_HEADERS = [
    "X-Frame-Options",
    "X-Content-Type-Options",
    "X-XSS-Protection",
    "Strict-Transport-Security",
    "Content-Security-Policy",
    "Referrer-Policy",
]


@dataclass
class CrawlConfig:
    """Run configuration for the distributed crawl engine."""

    seed_url: str = "https://shop.example.test/"
    # Multi-seed variant (FIXTURES.md §4): when set, the frontier starts
    # with this list (discovery_seq by list order; seed_url ignored).
    seed_urls: list[str] | None = None
    max_urls: int = MAX_URLS_DEFAULT
    max_depth: int = MAX_DEPTH_DEFAULT
    batch_size: int = MAX_THREADS_DEFAULT  # per-round dequeue budget
    smart: bool = True  # priority frontier (reference SmartSEOCrawler)
    priority_patterns: list[str] = field(default_factory=lambda: list(PRIORITY_PATTERNS))
    requests_per_second: float = REQUESTS_PER_SECOND_DEFAULT  # per-host politeness
    # Engine knobs (no reference equivalent — scale levers):
    bloom_shards: int = 32
    bloom_bits_per_shard: int = 1 << 20
    bloom_num_hashes: int = 5
    # "bloom" (append-only, smallest state) or "cuckoo" (supports DELETE —
    # required when recrawl invalidation must re-admit changed urls)
    seen_filter: str = "bloom"
    # LIVE-mode robots.txt acquisition (north-star "robots.txt caching"):
    # fetch /robots.txt once per newly-seen host through the configured
    # fetcher and cache the parsed prefix rules for robots_ttl_rounds
    # crawl rounds. OFF by default — the reference has no robots support,
    # so default-off preserves crawl-order parity.
    fetch_robots: bool = False
    robots_ttl_rounds: int = 1000
    robots_user_agent: str = "*"
    cuckoo_buckets_per_shard: int = 1 << 15
    # Engage the Bloom prefilter only once the seen set is large enough
    # that the prune pays for its build/probe jobs; below this the exact
    # anti-join alone is cheaper. 0 = always on (tests).
    bloom_min_seen: int = 100_000
    # ...and only once the seen set dwarfs a round's dequeue: the prune
    # saves work by bypassing anti-join probes against a seen table much
    # larger than the candidate set (the 10^10 regime: seen/batch ≈ 10^3).
    # While seen is within a few batches of the round size, probing the
    # filter costs more than the join it avoids (measured: 200k-URL
    # rounds at seen≈3×batch run ~20% faster with the filter cold).
    # Activation = seen ≥ bloom_min_seen AND seen ≥ ratio × batch;
    # 0 disables the ratio term (tests force the filter path with it).
    bloom_seen_batch_ratio: float = 8.0
    # Dequeue budgets at or above this rank the frontier with the
    # distributed prefix-sum instead of TakeOrdered + a single-task window.
    seq_window_threshold: int = 200_000
    # Compact (checkpoint) the lazily-unioned seen set every K rounds.
    seen_compact_every: int = 8
    host_salt_buckets: int = 8  # salt fan-out for hot hosts
    checkpoint_dir: str | None = None  # enable per-round snapshots when set
