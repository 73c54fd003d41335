"""S2 — the real-network HTTP fetch seam (``fetch_mode="http"``).

Reference: ``fetchQueueItem``/``handleResponse`` (``lib/crawler.js:
≈L1230–1700``). This is the drop-in replacement for the table-mode
:func:`~simplecrawler_spark.operators.fetch.fetch_batch` join: a
``mapInPandas`` pass over the (already admission-gated, budgeted,
header-annotated) fetch batch that issues real HTTP GETs and returns rows in
the **exact** ``fetch_batch`` output contract — same response columns, same
``found``/``failure`` semantics — so :func:`~simplecrawler_spark.operators.
fetch.classify` and the entire downstream round plan (discovery, gates,
dedupe, writer) are identical in both modes. The fetch boundary stays the
engine's only I/O seam.

Semantics mapped from the reference's response path:

* redirects are **never followed** (``_NoRedirect``): the 3xx + ``Location``
  surface as a row and the ENGINE re-enters the target as a link_idx-0
  candidate at depth+1 (J5, ``crawler.js:≈L1390–1430``);
* transport failures → ``failure`` = ``"timeout"`` (``fetchtimeout``) or
  ``"clienterror"`` (``fetchclienterror``) with ``found=false`` — no response
  attribute is fabricated (``crawler.js:≈L1250–1320``);
* an oversize ``Content-Length`` header aborts BEFORE the body download
  (P6 header pre-check, ``crawler.js:≈L1470–1500``); the streamed body is
  read at most ``max_resource_size + 1`` bytes so a lying header still
  triggers the streamed-size abort without unbounded memory;
* ``Set-Cookie`` response headers surface as the ``set_cookie`` array column
  (D8 ``acceptCookies`` — the round folds them into the jar, exactly like
  table mode);
* the server's real ``ETag`` surfaces as the ``etag`` column so the
  conditional-GET cache view stores it verbatim (the reference keeps the
  header in ``cacheindex.json``, ``lib/cache-backend-fs.js:≈L60``) and real
  304s answer the ``If-None-Match`` we send;
* bodies come back RAW with their ``Content-Encoding`` — decompression (F7)
  and charset decode (F6) stay in the discovery path, shared with table mode.

Request headers are NOT built here: the batch must come through
:func:`~simplecrawler_spark.operators.fetch.build_request_headers`
(``getRequestOptions`` analog) — UA, Cookie, If-None-Match, Referer,
Accept-Encoding, Authorization, Proxy-Authorization, customHeaders merged
last. That keeps the header contract unit-testable without a network and
makes this module pure transport.

Scale shape: the batch is already ≤ budget rows; each task runs a small
thread pool (I/O-bound — the GIL is released during socket waits), so fetch
concurrency = tasks × ``http_threads_per_task`` and scales with executors.
Per-host politeness is enforced upstream where it is global-safe (host
budgets per round, J6 crawl-delay caps, the W3 RoundPacer); the seam
additionally honors explicit per-host ``crawl_delays`` spacing WITHIN a task
via :func:`~simplecrawler_spark.operators.pacing.request_start_offsets`
(cross-task same-host spacing is the scheduler's job — it caps a host's
per-round fetches, which bounds the rate at ``round_seconds`` granularity).
"""

from __future__ import annotations

import socket
import time
import urllib.error
import urllib.request
from collections.abc import Iterator
from concurrent.futures import ThreadPoolExecutor

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import (ArrayType, BinaryType, BooleanType, DoubleType,
                               IntegerType, LongType, StringType, StructField,
                               StructType)

from simplecrawler_spark.config import CrawlConfig
from simplecrawler_spark.operators.pacing import request_start_offsets

# response columns appended to the batch — the exact fetch_batch/WEB_COLS
# contract (operators/fetch.py:32) so classify() sees identical inputs in
# both modes. image_id/caption are web-table concepts (null here; payload
# verification is a corpus invariant, not a network one).
RESPONSE_FIELDS: list[tuple[str, object]] = [
    ("status_code", IntegerType()),
    ("redirect_to", StringType()),
    ("content_type", StringType()),
    ("links", ArrayType(StringType())),
    ("image_id", StringType()),
    ("caption", StringType()),
    ("body_size", LongType()),
    ("content_length", LongType()),
    ("request_latency_ms", DoubleType()),
    ("download_time_ms", DoubleType()),
    ("request_time_ms", DoubleType()),
    ("failure", StringType()),
    ("found", BooleanType()),
]
# optional extras, mirroring fetch_batch's extra_cols (plus the real etag)
EXTRA_TYPES = {"body": BinaryType(), "content_encoding": StringType(),
               "set_cookie": ArrayType(StringType()), "etag": StringType()}

# outbound header name ← batch column (build_request_headers contract);
# hdr_custom (a map) is merged LAST so user entries override, matching the
# reference's object merge order (crawler.js:≈L1140–1230)
_HEADER_COLS = [
    ("User-Agent", "hdr_user_agent"),
    ("Cookie", "hdr_cookie"),
    ("If-None-Match", "hdr_if_none_match"),
    ("Referer", "hdr_referer"),
    ("Accept-Encoding", "hdr_accept_encoding"),
    ("Authorization", "hdr_authorization"),
    ("Proxy-Authorization", "hdr_proxy_authorization"),
]


class _NoRedirect(urllib.request.HTTPRedirectHandler):
    def redirect_request(self, req, fp, code, msg, headers, newurl):
        return None  # surface the 3xx; J5 re-entry happens in the plan


def _build_opener(cfg: CrawlConfig) -> urllib.request.OpenerDirector:
    """One opener per task: no redirects, the proxy set EXPLICITLY from
    config (reference useProxy/proxyHostname/proxyPort, crawler.js:≈L330) —
    never from the environment, so behavior is identical on every executor —
    and an explicit SSL context for https: ``ignore_invalid_ssl``
    (``ignoreInvalidSSL``, crawler.js:≈L310 — the reference's own test suite
    crawls a self-signed :3001 HTTPS server behind it) disables verification;
    otherwise the context verifies against the system CAs plus the optional
    ``ssl_ca_file`` bundle. An untrusted cert with the knob off surfaces as
    ``clienterror`` (URLError → the reference's ``fetchclienterror``)."""
    import ssl

    if cfg.use_proxy:
        proxy = f"http://{cfg.proxy_hostname}:{cfg.proxy_port}"
        ph = urllib.request.ProxyHandler({"http": proxy, "https": proxy})
    else:
        ph = urllib.request.ProxyHandler({})
    if cfg.ignore_invalid_ssl:
        ctx = ssl.create_default_context()
        ctx.check_hostname = False
        ctx.verify_mode = ssl.CERT_NONE
    else:
        # system CAs PLUS the optional bundle — passing cafile= to
        # create_default_context would load ONLY that file (CPython skips
        # load_default_certs when cafile is given), silently failing every
        # public-CA https fetch on clusters that add an internal CA
        ctx = ssl.create_default_context()
        ca_file = cfg.ssl_ca_file or None
        if ca_file:
            ctx.load_verify_locations(cafile=ca_file)
    hh = urllib.request.HTTPSHandler(context=ctx)
    return urllib.request.build_opener(ph, hh, _NoRedirect())


def _failed(kind: str, t0: float) -> dict:
    dt = (time.perf_counter() - t0) * 1000.0
    return {"status_code": None, "redirect_to": None, "content_type": None,
            "links": None, "image_id": None, "caption": None,
            "body_size": None, "content_length": None,
            "request_latency_ms": dt, "download_time_ms": None,
            "request_time_ms": dt, "failure": kind, "found": False,
            "body": None, "content_encoding": None, "set_cookie": None,
            "etag": None}


def fetch_one(opener, url: str, headers: dict, timeout_s: float,
              cap: int) -> dict:
    """One GET → the response-column dict. Pure transport: no retries (the
    reference doesn't retry; a failed URL can be re-queued with force), no
    redirect following, body capped at ``cap + 1`` bytes."""
    t0 = time.perf_counter()
    req = urllib.request.Request(url, headers=headers, method="GET")
    try:
        resp = opener.open(req, timeout=timeout_s)
    except urllib.error.HTTPError as e:
        resp = e  # 3xx/4xx/5xx: a real response (code + headers + body)
    except (socket.timeout, TimeoutError):
        return _failed("timeout", t0)
    except urllib.error.URLError as e:
        r = getattr(e, "reason", None)
        return _failed("timeout" if isinstance(r, (socket.timeout, TimeoutError))
                       else "clienterror", t0)
    except (ConnectionError, OSError):
        return _failed("clienterror", t0)
    t1 = time.perf_counter()
    h = resp.headers
    cl_raw = h.get("Content-Length")
    try:
        content_length = int(cl_raw.strip()) if cl_raw is not None else None
    except ValueError:
        content_length = None
    body = b""
    if content_length is None or content_length <= cap:
        try:
            body = resp.read(cap + 1)
        except (socket.timeout, TimeoutError):
            return _failed("timeout", t0)
        except (ConnectionError, OSError):
            return _failed("clienterror", t0)
        finally:
            try:
                resp.close()
            except Exception:
                pass
    else:
        # P6 header pre-check: oversize Content-Length aborts before any
        # body bytes (classify → dataerror from content_length alone)
        try:
            resp.close()
        except Exception:
            pass
    t2 = time.perf_counter()
    set_cookie = h.get_all("Set-Cookie")
    return {
        "status_code": int(getattr(resp, "code", None) or resp.status),
        "redirect_to": h.get("Location"),
        "content_type": h.get("Content-Type"),
        "links": None, "image_id": None, "caption": None,  # web-table concepts
        "body_size": len(body),
        "content_length": content_length,
        "request_latency_ms": (t1 - t0) * 1000.0,
        "download_time_ms": (t2 - t1) * 1000.0,
        "request_time_ms": (t2 - t0) * 1000.0,
        "failure": None,
        "found": True,
        # an over-cap body is truncated: classify flags dataerror from
        # body_size; the bytes themselves are never consumed downstream
        "body": bytes(body) if len(body) <= cap else None,
        "content_encoding": h.get("Content-Encoding"),
        "set_cookie": list(set_cookie) if set_cookie else None,
        "etag": h.get("ETag"),
    }


def http_fetch(batch: DataFrame, cfg: CrawlConfig,
               extra_cols: list[str] | None = None,
               crawl_delays: dict[str, float] | None = None,
               interval_s: float = 0.0) -> DataFrame:
    """Fetch every row of ``batch`` over HTTP; returns batch columns +
    :data:`RESPONSE_FIELDS` + ``extra_cols`` (subset of body /
    content_encoding / set_cookie / etag) — the same shape
    :func:`~simplecrawler_spark.operators.fetch.fetch_batch` yields, so the
    downstream plan is mode-agnostic. ``batch`` must carry the ``hdr_*``
    columns from :func:`~simplecrawler_spark.operators.fetch.
    build_request_headers`."""
    if "hdr_user_agent" not in batch.columns:
        raise ValueError("http_fetch requires build_request_headers output "
                         "(missing hdr_* columns)")
    extra = [c for c in (extra_cols or []) if c not in batch.columns]
    for c in extra:
        if c not in EXTRA_TYPES:
            raise ValueError(f"unsupported extra col {c!r}")
    out_schema = StructType(
        list(batch.schema.fields)
        + [StructField(n, t) for n, t in RESPONSE_FIELDS]
        + [StructField(c, EXTRA_TYPES[c]) for c in extra])
    resp_cols = [n for n, _ in RESPONSE_FIELDS] + extra
    timeout_s = float(cfg.fetch_timeout_ms) / 1000.0
    cap = int(cfg.max_resource_size)
    threads = max(1, int(cfg.http_threads_per_task))
    delays = dict(crawl_delays or {})
    header_cols = list(_HEADER_COLS)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        opener = _build_opener(cfg)

        def headers_for(row) -> dict:
            hdrs = {}
            for name, col in header_cols:
                v = row.get(col)
                if v is not None and not (isinstance(v, float) and pd.isna(v)):
                    hdrs[name] = v
            custom = row.get("hdr_custom")
            if custom is not None and not (isinstance(custom, float)
                                           and pd.isna(custom)):
                hdrs.update(dict(custom))  # user map merged LAST (overrides)
            return hdrs

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            rows = pdf.to_dict("records")
            offsets = request_start_offsets(
                [r.get("host") or "" for r in rows], delays, interval_s)
            batch_t0 = time.perf_counter()

            def one(i: int) -> dict:
                wait = offsets[i] - (time.perf_counter() - batch_t0)
                if wait > 0:
                    time.sleep(wait)  # W3/J6 in-task spacing (pure offsets)
                return fetch_one(opener, rows[i]["url_norm"],
                                 headers_for(rows[i]), timeout_s, cap)
            if threads == 1 or n == 1:
                results = [one(i) for i in range(n)]
            else:
                with ThreadPoolExecutor(max_workers=min(threads, n)) as ex:
                    results = list(ex.map(one, range(n)))
            out = pdf.copy()
            for c in resp_cols:
                out[c] = [r[c] for r in results]
            yield out

    return batch.mapInPandas(run, schema=out_schema)


def fetch_robots_bodies(hosts: pd.Series, protos: pd.Series,
                        cfg: CrawlConfig) -> pd.Series:
    """S3 real mode: GET ``{proto}://{host}/robots.txt`` for a pandas Series
    of hosts (inside the lazy-robots ``mapInPandas`` pass — distributed, one
    request per NEW host ever seen). ``protos`` carries each host's
    first-seen URL scheme — the reference derives the robots URL from the
    queue item's own protocol (``getRobotsTxt``, ``crawler.js:≈L1080``), so
    an https-only host's robots is fetched over https, not a hardcoded
    ``http://``. Non-2xx or transport failure → None (permissive +
    ``robotstxterror``, the reference's getRobotsTxt error path,
    ``crawler.js:≈L1080–1200``)."""
    opener = _build_opener(cfg)
    timeout_s = float(cfg.fetch_timeout_ms) / 1000.0

    def get(host: str | None, proto) -> str | None:
        if not host:
            return None
        scheme = proto if proto in ("http", "https") else "http"
        r = fetch_one(opener, f"{scheme}://{host}/robots.txt",
                      {"User-Agent": cfg.user_agent}, timeout_s,
                      1024 * 1024)
        if r["failure"] is not None or not (200 <= (r["status_code"] or 0) < 300):
            return None
        try:
            return (r["body"] or b"").decode("utf-8", "replace")
        except Exception:
            return None

    return pd.Series([get(h, p) for h, p in zip(hosts, protos)],
                     index=hosts.index, dtype=object)
