"""Crawl configuration.

Mirrors the reference ``Crawler`` constructor options (public simplecrawler
v1.1.9, ``lib/crawler.js:≈L200–440``) plus the engine-level knobs this
Spark-native design needs (round budget, bucket count, dedupe tiers) and the
``[VERIFY]`` oracle knobs from SURVEY.md Appendix A.

Reference defaults preserved where the concept carries over:
  * ``interval=250`` / ``maxConcurrency=5`` → per-round global budget
    (Appendix C equivalence: one BSP round == one tick-batch).
  * ``filterByDomain=True``, ``scanSubdomains=False``,
    ``ignoreWWWDomain=True``, ``stripWWWDomain=False`` (``crawler.js:≈L240``).
  * ``maxDepth=0`` (unlimited), ``maxResourceSize=16MiB``
    (``crawler.js:≈L300``).
  * ``respectRobotsTxt=True``, ``allowedProtocols=[http, https]``.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field, asdict

_MODES = {
    "dedupe_mode": ("exact", "tiered"),
    "fetch_mode": ("table", "http"),
    "discovery_mode": ("table", "html"),
    "robots_mode": ("table", "lazy"),
}


@dataclass
class CrawlConfig:
    # --- seed / scope (reference: crawler.js constructor) ---
    seeds: list[str] = field(default_factory=list)
    filter_by_domain: bool = True          # filterByDomain
    scan_subdomains: bool = False          # scanSubdomains
    ignore_www_domain: bool = True         # ignoreWWWDomain
    strip_www_domain: bool = False         # stripWWWDomain
    domain_whitelist: list[str] = field(default_factory=list)
    # allowInitialDomainChange (crawler.js:≈L1000–1060): if the INITIAL URL's
    # first fetch redirects to another domain, the crawl domain follows it
    allow_initial_domain_change: bool = False
    allowed_protocols: list[str] = field(default_factory=lambda: [r"^http$", r"^https$"])

    # --- URL processing (processURL, crawler.js:≈L740–820) ---
    strip_querystring: bool = False        # stripQuerystring
    sort_query_parameters: bool = False    # sortQueryParameters

    # --- depth / size / MIME gates ---
    max_depth: int = 0                     # maxDepth, 0 = unlimited
    max_resource_size: int = 16 * 1024 * 1024  # maxResourceSize
    # (?i): the reference's defaults carry the /i flag (e.g. /^text\//i) —
    # a server returning 'Text/HTML' must still classify as supported
    supported_mime_types: list[str] = field(
        default_factory=lambda: [r"(?i)^text/", r"(?i)^application/(rss|html|xhtml)?[+/-]?xml",
                                 r"(?i)^application/javascript", r"(?i)^xml"]
    )
    download_unsupported: bool = True      # downloadUnsupported
    # link discovery source (F2): "table" reads the corpus's pre-extracted
    # links array; "html" runs the reference's regex discovery over raw
    # response bodies (F7 decompress → F6 charset decode → F2 regexes) inside
    # the round's job — the discoverResources hot path, crawler.js:≈L900–950
    discovery_mode: str = "table"
    # F7/F6 response-body handling (real-fetch + HTML-discovery seams;
    # table-mode corpora store decoded bodies): functions/body.py
    decompress_responses: bool = True      # decompressResponses (crawler.js:≈L1560)
    decode_responses: bool = False         # decodeResponses (crawler.js:≈L1600)
    # fetchWhitelistedMimeTypesBelowMaxDepth (crawler.js:≈L980–1000): URLs
    # whose extension implies a whitelisted MIME may exceed maxDepth — by any
    # amount (True) or by at most N extra levels (int). False = plain gate.
    fetch_whitelisted_mime_below_max_depth: bool | int = False

    # --- fetch seam (S2) ---
    # "table": batch ⋈ web corpus (operators/fetch.fetch_batch — the testable
    # in-sandbox internet). "http": real network GETs via mapInPandas
    # (operators/http_fetch.http_fetch) — same output contract, same
    # downstream plan; pair with discovery_mode="html" (real servers return
    # bytes, not pre-extracted link arrays).
    fetch_mode: str = "table"
    fetch_timeout_ms: float = 300_000.0    # reference `timeout` (crawler.js:≈L300)
    http_threads_per_task: int = 8         # engine knob: I/O threads per fetch task
    # ignoreInvalidSSL (crawler.js:≈L310): accept self-signed / invalid
    # certificates on https fetches — the reference's own test server runs
    # HTTPS with a self-signed cert behind this knob (testserver.js :3001)
    ignore_invalid_ssl: bool = False
    # engine deployment knob (no reference analog): extra CA bundle for the
    # https opener — a cluster fronted by an internal CA configures it here
    # so every executor builds the same SSL context (never from env vars)
    ssl_ca_file: str = ""
    # useProxy/proxyHostname/proxyPort (crawler.js:≈L330); the seam sets the
    # proxy EXPLICITLY from these (never from env vars) so every executor
    # behaves identically
    use_proxy: bool = False
    proxy_hostname: str = "127.0.0.1"
    proxy_port: int = 8123

    # cache + conditional GET (reference `cache` option, S6/J3): re-fetched
    # URLs carry If-None-Match from the cache view over the fetched log; an
    # ETag match turns the fetch into a 304/`notmodified` that reuses the
    # cached payload ref (crawler.js:≈L1160–1200, ≈L1360)
    use_cache: bool = False

    # --- outbound request headers (getRequestOptions, crawler.js:≈L1140–1230) ---
    # customHeaders: user map merged LAST by the fetch seam (overrides the
    # computed UA/Referer/Accept-Encoding, matching the reference's object
    # merge order). authUser/authPass → `Authorization: Basic b64(user:pass)`;
    # proxyUser/proxyPass → `Proxy-Authorization` (useProxy path).
    custom_headers: dict = field(default_factory=dict)
    # acceptCookies (crawler.js:≈L1350 / cookies.addFromHeaders): parse every
    # response's Set-Cookie headers into the crawl's cookie jar; subsequent
    # requests carry the matching `Cookie:` header (D8). BSP semantics: a
    # round's requests see the jar as of the END of the previous round —
    # within a round all fetches start simultaneously (Appendix C), exactly
    # like the conditional-GET cache view.
    accept_cookies: bool = True
    # engine scale knob: the per-round cookie fold's driver collect is
    # bounded by distinct cookie IDENTITIES (name, domain, path) — the jar's
    # own size; this caps even that against hostile servers minting distinct
    # cookie NAMES (most recently set identities kept, drop count logged)
    cookie_jar_cap: int = 100_000
    auth_user: str = ""                    # authUser ('' = no Authorization header)
    auth_pass: str = ""                    # authPass
    proxy_user: str = ""                   # proxyUser ('' = no Proxy-Authorization)
    proxy_pass: str = ""                   # proxyPass

    # --- robots ---
    respect_robots_txt: bool = True        # respectRobotsTxt
    user_agent: str = "simplecrawler-spark/0.1"
    robots_mode: str = "table"             # "table" (pre-parsed rules) | "lazy"
                                           # (per-host fetch+parse of robots.txt
                                           # bodies on first encounter — S3)

    # --- scheduling (Appendix C: BSP round == reference tick-batch) ---
    budget: int = 4096                     # global fetch budget per round (maxConcurrency analog)
    # W3 — reference `interval` (crawler.js:≈L660): one fetch start per tick.
    # BSP analog: a round of B fetches represents B ticks → the round pacer
    # sleeps to n_batch × interval wall-time (operators/pacing.py). 0 = off
    # (throughput posture; the reference's default 250 would cap at 4/s).
    interval_ms: float = 0.0
    host_budget: int = 0                   # per-host per-round cap; 0 = no per-host cap (reference parity)
    max_rounds: int = 10_000               # runaway backstop
    honor_crawl_delay: bool = False        # north_rule politeness: robots Crawl-delay
    round_seconds: float = 1.0             # wall-time a BSP round represents; with
                                           # honor_crawl_delay, a host with Crawl-delay d
                                           # gets max(1, floor(round_seconds/d)) fetches/round

    # --- engine / scale knobs (no reference analog) ---
    n_buckets: int = 32                    # url_seen hash-partition buckets (one Bloom sidecar per bucket)
    shuffle_partitions: int = 32
    round_tasks: int = 0                   # compute-task count for the round's fused
                                           # scan→fetch-join→writer stage; 0 = sized
                                           # to the round's DATA (~32k batch rows per
                                           # task, floored at session parallelism —
                                           # BENCH.md §2e/§2f). Decouples COMPUTE
                                           # parallelism from STORAGE bucketing
                                           # (web_buckets/n_buckets): a narrow
                                           # coalesce — each corpus bucket still
                                           # merge-joins independently — so small
                                           # protocol-bound rounds run one wave
                                           # while big rounds keep fine granularity
                                           # for load balance. Sized when a Python
                                           # task had ~185 ms of fixed cost, mostly
                                           # per-task zip-archive re-reads that
                                           # worker_daemon removes; ~70 ms remain
                                           # (identity mapInArrow, 4-core box)
    # delta schema version (plans/crawl.QUEUED_COLS note): False (v2,
    # default) derives `referrer` from parent_seq at read time — the
    # candidate exchanges and seen/fetched deltas are ~45 B/row narrower;
    # True (v1) stores it inline. A resumed warehouse must keep the layout
    # it was started with (resume_state validates).
    referrer_in_delta: bool = False
    dedupe_mode: str = "tiered"            # "exact" | "tiered" (bloom → exact probe)
    bloom_bits_per_key: int = 16           # k = 11; ~0.07% false passes at full load
    # sizes the per-bucket Bloom sidecars; an undersized capacity saturates
    # the Bloom — it costs exact-probe reads, never correctness
    seen_capacity: int = 2_000_000
    hot_host_threshold: int = 100_000      # pending-count above which a host's window is salted (W2 skew split)
    n_salts: int = 8

    # --- [VERIFY] oracle knobs (SURVEY.md Appendix A; defaults = documented behavior) ---
    depth_gate: str = "queue"              # A.1: gate children at queue time
    admission_order: str = "protocol,domain,robots,conditions,dedupe"  # A.2
    redirect_depth: str = "inc"            # A.3: redirect target depth = source + 1
    frag_strip: str = "clean"              # A.4: fragments stripped at cleanup stage

    # --- storage ---
    warehouse: str = ""                    # snapshot root dir; empty = in-memory only (no resume)
    # tiered delta compaction (storage/compaction.py): every K rounds the
    # deltas since the last level merge into one compact dir (ONE file per
    # seen bucket); levels beyond compact_max_levels trigger a major rewrite.
    # Bounds every reader's file set at len(levels)+K dirs instead of
    # O(rounds). 0 disables (delta-only layout).
    compact_every: int = 16
    compact_max_levels: int = 8
    seed_force: bool = False               # A.7
    # force=true TRUE-duplicate semantics (queue.js:≈L90): force-queued URLs
    # skip the seen-check and enqueue even when the URL is already queued —
    # a second queue entry with its own seq (re-fetch), while the scan-index
    # view (url → first seq) is unchanged. Admission gates still apply.
    force_seeds: list[str] = field(default_factory=list)

    def __post_init__(self) -> None:
        # fail fast on misconfiguration that would otherwise surface only at
        # plan time mid-crawl (e.g. a negative round_tasks passes the
        # `cfg.round_tasks or ...` guard and reaches DataFrame.coalesce())
        if self.round_tasks < 0:
            raise ValueError(f"round_tasks must be >= 0, got {self.round_tasks}")
        # a misspelled mode would silently take some other branch — e.g. a
        # dedupe_mode that is neither value probes Blooms no round writes
        for name, allowed in _MODES.items():
            if getattr(self, name) not in allowed:
                raise ValueError(f"{name} must be one of {allowed}, "
                                 f"got {getattr(self, name)!r}")

    def to_json(self) -> str:
        return json.dumps(asdict(self), sort_keys=True)

    @classmethod
    def from_json(cls, s: str) -> "CrawlConfig":
        return cls(**json.loads(s))
