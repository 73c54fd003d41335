"""S2/J4 — fetch: resolve a frontier batch to responses, plus the payload
decode/verify pass (PSNR + caption invariants).

Reference: ``fetchQueueItem``/``handleResponse`` (``lib/crawler.js:
≈L1230–1700``). In this engine the network is a table: the batch equi-joins
``web`` on ``url_norm`` (J4) — the batch side (≤ budget rows) is broadcast,
so the join is one streaming pass over the corpus scan with column pruning
(only the columns the round needs are read). In real-fetch deployment the
join is replaced by :func:`http_fetch` (mapInPandas over the batch; same
output schema), and nothing else in the round changes — the fetch boundary
is the engine's only I/O seam.

Outcome classification mirrors the reference response path and the D6
status machine: 304→notmodified, 3xx+Location→redirected (J5), 404/410→
notfound, size overflow→dataerror (``fetchdataerror``), conditions→
downloadprevented (P4), else downloaded.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

from simplecrawler_spark import codec
from simplecrawler_spark.config import CrawlConfig
from simplecrawler_spark.operators.admission import condition_col

WEB_COLS = ["url_norm", "status_code", "redirect_to", "content_type", "links",
            "image_id", "caption", "body_size", "content_length",
            "request_latency_ms", "download_time_ms", "request_time_ms", "failure"]
# types for columns optional on the web table (older corpora / hand fixtures)
_OPTIONAL_COL_TYPES = {"content_length": "long",
                       "request_latency_ms": "double", "download_time_ms": "double",
                       "request_time_ms": "double", "failure": "string",
                       "body": "binary", "content_encoding": "string",
                       "set_cookie": "array<string>"}


def fetch_batch(batch: DataFrame, web: DataFrame, batch_rows: int | None = None,
                extra_cols: list[str] | None = None) -> DataFrame:
    """batch ⋈ web (left outer in effect). Small batches broadcast the batch
    side (inner + anti for misses — a left-outer can't broadcast its
    preserved side); large batches run ONE left-outer merge join. When the
    web table carries its url_norm bucket metadata (corpus.read_web), the
    corpus side streams bucket-locally — no exchange, no sort — and only the
    batch side shuffles, which is the layout a 100 TB snapshot would use.
    Misses (URL not in "the internet") surface with ``found=false`` → status
    ``failed`` (reference ``fetcherror``)."""
    # telemetry/failure columns are optional on the web table (older corpora /
    # hand-built fixtures): absent ones surface as nulls. ``extra_cols``
    # (e.g. raw body + content_encoding in HTML-discovery mode) are selected
    # only when the caller needs them — table mode never pays for the body
    # bytes thanks to parquet column pruning.
    cols = WEB_COLS + [c for c in (extra_cols or []) if c not in WEB_COLS]
    wsel = [F.col(c) if c in web.columns
            else F.lit(None).cast(_OPTIONAL_COL_TYPES[c]).alias(c)
            for c in cols]
    wside = web.select(*wsel)
    if batch_rows is None or batch_rows <= 100_000:
        # broadcast only genuinely small batches: the broadcast build is a
        # driver-side collect + re-serialize — pure SERIAL time per round.
        # A left-outer can't broadcast its preserved (batch) side, so small
        # batches use broadcast-inner + anti-join for the misses; the anti's
        # probe side is column-pruned to url_norm by Catalyst.
        hits = wside.join(F.broadcast(batch), "url_norm")
        misses = batch.join(hits.select("url_norm"), "url_norm", "left_anti")
        for c in cols[1:]:
            misses = misses.withColumn(c, F.lit(None).cast(hits.schema[c].dataType))
        return hits.withColumn("found", F.lit(True)).unionByName(
            misses.withColumn("found", F.lit(False))
        )
    # large batch: ONE left-outer shuffle join. The old inner + anti-join
    # shape executed the web⋈batch join twice (the anti's right side is the
    # hits subtree), scanning AND shuffling the corpus twice per round —
    # pure bus traffic at exactly the volumes the N→4N gate measures.
    # Misses surface with the web-side columns null, found=false.
    out = batch.join(wside.withColumn("found", F.lit(True)), "url_norm", "left")
    return out.withColumn("found", F.coalesce(F.col("found"), F.lit(False)))


def classify(outcomes: DataFrame, cfg: CrawlConfig,
             download_conditions: list[dict] | None = None) -> DataFrame:
    """D6 state machine → ``status`` + Appendix-B ``event`` columns."""
    mime_ok = F.lit(False)
    for pat in cfg.supported_mime_types:
        mime_ok = mime_ok | F.coalesce(F.col("content_type"), F.lit("")).rlike(pat)
    dl_ok = condition_col(outcomes.columns, download_conditions or [])
    # conditional GET (J3/S6): when the batch carries a cached ETag and it
    # matches the resource's CURRENT payload identity, the server answers
    # 304 instead of 200 — table mode computes the identity the same way
    # cache_from_fetched_log does, so "content unchanged" ⇔ "etag match",
    # exactly the If-None-Match contract (crawler.js:≈L1160–1200, ≈L1360)
    # the synthetic identity is a TABLE-MODE stand-in for the server; in
    # fetch_mode="http" the real server answers our If-None-Match with a real
    # 304 (operators/http_fetch.py) — deriving a match from body_size here
    # would misclassify a changed-but-same-size page as notmodified
    if "cached_etag" in outcomes.columns and cfg.fetch_mode != "http":
        server_etag = F.md5(F.concat_ws(
            "|", "url_norm", F.coalesce(F.col("image_id"), F.lit("")),
            F.col("body_size").cast("string")))
        etag_match = (F.col("cached_etag").isNotNull()
                      & (F.col("cached_etag") == server_etag)
                      & F.col("status_code").between(200, 299))
    else:
        etag_match = F.lit(False)
    status = (
        F.when(~F.col("found"), "failed")
        # transport failures: the request never completed, so no response
        # attribute (status code, Location, body) is consulted — reference
        # `fetchtimeout` / `fetchclienterror` (crawler.js:≈L1250–1320)
        .when(F.col("failure").isNotNull(), "failed")
        .when(F.col("status_code") == 304, "notmodified")
        .when(etag_match, "notmodified")
        # any 3xx with a Location is a redirect (handleResponse,
        # crawler.js:≈L1390–1430) — 301/302/303/307/308 alike
        .when(F.col("status_code").between(300, 399) & F.col("redirect_to").isNotNull(),
              "redirected")
        .when(F.col("status_code").isin(404, 410), "notfound")
        # remaining non-2xx (Location-less 3xx, other 4xx, 5xx) → fetcherror
        .when(~F.col("status_code").between(200, 299), "failed")
        # pre-download header check first (reference aborts on an oversize
        # Content-Length before any body bytes, crawler.js:≈L1470–1500),
        # then the streamed-size abort
        .when(F.col("content_length") > cfg.max_resource_size, "dataerror")
        .when(F.col("body_size") > cfg.max_resource_size, "dataerror")
        .when(~dl_ok, "downloadprevented")
        .when(~mime_ok & ~F.lit(cfg.download_unsupported), "downloadprevented")
        .otherwise("downloaded")
    )
    out = outcomes.withColumn("status", status).withColumn("mime_supported", mime_ok)
    # P6 `sentIncorrectSize` (crawler.js:≈L1520–1560): the server's header
    # disagreed with what the stream actually delivered — only observable
    # when a body was streamed
    out = out.withColumn(
        "sent_incorrect_size",
        (F.col("status") == "downloaded") & F.col("content_length").isNotNull()
        & (F.col("content_length") != F.col("body_size")))
    event = (
        F.when(F.col("failure") == "timeout", "fetchtimeout")
        .when(F.col("failure") == "clienterror", "fetchclienterror")
        .when(F.col("status") == "failed", "fetcherror")
        .when(F.col("status") == "notmodified", "notmodified")
        .when(F.col("status") == "redirected", "fetchredirect")
        .when((F.col("status") == "notfound") & (F.col("status_code") == 410), "fetch410")
        .when(F.col("status") == "notfound", "fetch404")
        .when(F.col("status") == "dataerror", "fetchdataerror")
        .when(F.col("status") == "downloadprevented", "downloadprevented")
        .otherwise("fetchcomplete")
    )
    out = out.withColumn("event", event)
    # S6: a 304 with a cache hit serves the cached payload — the reference's
    # `notmodified` handler calls cache.getCacheData (crawler.js:≈L1360);
    # without a cached entry the row stays notmodified with a null ref (the
    # same cache-miss-on-304 corner the reference has)
    if "cached_ref" in out.columns:
        out = out.withColumn(
            "payload_ref",
            F.when(F.col("status") == "notmodified", F.col("cached_ref")))
    else:
        out = out.withColumn("payload_ref", F.lit(None).cast("string"))
    return out


PAYLOAD_SCHEMA = (
    "seq long, url_norm string, image_id string, caption string, phash long, "
    "phash_decoded long, psnr double, payload_ok boolean"
)


def verify_payloads(downloaded: DataFrame, images: DataFrame,
                    corpus_params=None, extra_cols: dict | None = None) -> DataFrame:
    """Fetch image+caption payloads for downloaded image rows and verify the
    per-row invariant (BASELINE.json:15): decode bytes in Arrow batches,
    recompute the perceptual hash, check PSNR ≥ 40 dB for lossy formats.

    The fetched batch is broadcast; the (huge) images table streams through
    one pruned scan. Decode runs in ``mapInPandas`` — whole Arrow batches,
    numpy codecs, no per-row Python. ``downloaded`` is read from committed
    fetched DELTAS (a footer-sized parquet read), not the live fetch
    pipeline — so building the broadcast costs a tiny scan instead of
    re-running the web join (round-3 profile: that duplicated scan was
    ~6.5 s/round of the serial floor). ``extra_cols`` ({name: spark type})
    pass through unchanged — the batched caller threads the delta's
    ``round`` partition value so ONE job can verify a whole window of
    rounds against ONE images scan."""
    extra_cols = extra_cols or {}
    need = downloaded.where(F.col("image_id").isNotNull()).select(
        "seq", "url_norm", F.col("image_id").alias("image_id"),
        F.col("caption").alias("web_caption"), *extra_cols
    )
    joined = images.join(F.broadcast(need), "image_id")

    def decode_verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from simplecrawler_spark.corpus import gen_image_array

        for pdf in batches:
            n = len(pdf)
            ph = np.zeros(n, dtype=np.int64)
            ps = np.full(n, np.inf)
            ok = np.zeros(n, dtype=bool)
            for i in range(n):
                try:
                    fmt = pdf["fmt"].iat[i]
                    img = codec.decode(pdf["bytes"].iat[i], fmt)
                    ph[i] = codec.average_hash(img)
                    ok[i] = ph[i] == pdf["phash"].iat[i]
                    if corpus_params is not None:
                        # true PSNR vs the deterministically regenerated original
                        orig, _ = gen_image_array(int(pdf["image_id"].iat[i][4:]), corpus_params)
                        ps[i] = codec.psnr(orig, img)
                        ok[i] &= bool(ps[i] >= 40.0) if fmt == "qpng" else bool(np.array_equal(orig, img))
                except Exception:
                    ok[i] = False
            cap_ok = (pdf["caption"].fillna("") == pdf["web_caption"].fillna("")).to_numpy()
            out = {
                "seq": pdf["seq"],
                "url_norm": pdf["url_norm"],
                "image_id": pdf["image_id"],
                "caption": pdf["caption"],
                "phash": pdf["phash"],
                "phash_decoded": ph,
                "psnr": ps,
                "payload_ok": ok & cap_ok,
            }
            for c in extra_cols:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    schema = PAYLOAD_SCHEMA + "".join(f", {c} {t}" for c, t in extra_cols.items())
    return joined.mapInPandas(decode_verify, schema=schema)


def cookie_header_udf(cookie_rows: list):
    """Pandas UDF ``(host, path) -> outbound Cookie header`` for a FIXED jar
    state (``CookieJar.to_rows()`` — config-scale, closed over, regenerated
    per executor). Shared by :func:`build_request_headers` (the real-fetch
    seam) and the crawl loop's in-round D8 header annotation
    (``acceptCookies``): RFC 6265 §5.4 ordering, vectorized over the batch
    (functions/cookies.outbound_header_series)."""
    from pyspark.sql.types import StringType

    from simplecrawler_spark.functions.cookies import CookieJar, outbound_header_series

    rows = [tuple(r) for r in (cookie_rows or [])]

    @F.pandas_udf(StringType())
    def cookie_hdr(host: pd.Series, path: pd.Series) -> pd.Series:
        jar = CookieJar.from_rows(rows)
        s = outbound_header_series(host, path, jar.cookies)
        return s.where(s != "", None)

    return cookie_hdr


def build_request_headers(batch: DataFrame, cfg: CrawlConfig,
                          cookie_rows: list | None = None,
                          cache: DataFrame | None = None) -> DataFrame:
    """``getRequestOptions`` analog (``lib/crawler.js:≈L1140–1230``): annotate
    the fetch batch with the outbound request headers the real seam sends —
    ``User-Agent`` (config), ``Cookie`` (jar match by host/path, RFC 6265 §5.4
    ordering, vectorized), ``If-None-Match``/cached payload ref (conditional
    GET, J3 — see operators/cache.with_conditional_headers), ``Referer``
    (the discovering page), ``Accept-Encoding`` (iff decompress_responses),
    ``Authorization``/``Proxy-Authorization`` (Basic, from
    authUser/authPass + proxyUser/proxyPass), and the user's
    ``customHeaders`` map (merged last by the seam, so it overrides).

    ``cookie_rows`` is ``CookieJar.to_rows()`` — a tiny config-scale list
    closed over by the pandas UDF (regenerated per executor; nothing
    broadcast). Consumed by :func:`http_fetch`; unit-tested standalone so the
    seam's header contract is pinned without a network."""
    from simplecrawler_spark.operators.cache import with_conditional_headers

    out = with_conditional_headers(batch, cache)
    rows = [tuple(r) for r in (cookie_rows or [])]
    path = F.regexp_replace(F.col("url_norm"), r"^[a-z]+://[^/]+", "")
    out = out.withColumn("hdr_user_agent", F.lit(cfg.user_agent))
    if rows:
        out = out.withColumn("hdr_cookie", cookie_header_udf(rows)(F.col("host"), path))
    else:
        out = out.withColumn("hdr_cookie", F.lit(None).cast("string"))
    # Referer: the discovering page (queueItem.referrer); seeds have none.
    # The batch must carry `referrer` (the crawl restores it from the
    # fetched log; the deltas do not store it)
    out = out.withColumn("hdr_referer", F.col("referrer"))
    # Accept-Encoding advertised iff we will decompress (F7,
    # decompressResponses — crawler.js:≈L1150,≈L1560)
    out = out.withColumn(
        "hdr_accept_encoding",
        F.lit("gzip, deflate") if cfg.decompress_responses
        else F.lit(None).cast("string"))

    def _basic(user: str, pw: str) -> str:
        import base64
        return "Basic " + base64.b64encode(f"{user}:{pw}".encode()).decode()

    # authUser/authPass and proxyUser/proxyPass (crawler.js:≈L1180–1210):
    # config-scale literals, computed once on the driver
    out = out.withColumn(
        "hdr_authorization",
        F.lit(_basic(cfg.auth_user, cfg.auth_pass)) if cfg.auth_user
        else F.lit(None).cast("string"))
    out = out.withColumn(
        "hdr_proxy_authorization",
        F.lit(_basic(cfg.proxy_user, cfg.proxy_pass)) if cfg.proxy_user
        else F.lit(None).cast("string"))
    # customHeaders: carried as a map column; the seam merges it LAST so user
    # entries override computed headers (the reference's object merge order)
    if cfg.custom_headers:
        kv = [F.lit(x) for pair in sorted(cfg.custom_headers.items())
              for x in pair]
        out = out.withColumn("hdr_custom", F.create_map(*kv))
    else:
        out = out.withColumn(
            "hdr_custom", F.lit(None).cast("map<string,string>"))
    return out.withColumn("hdr_if_none_match", F.col("cached_etag"))


def http_fetch(batch: DataFrame, cfg: CrawlConfig,
               extra_cols: list[str] | None = None, **kw) -> DataFrame:
    """Real-network fetch seam (S2, ``fetch_mode="http"``): mapInPandas
    batches issuing HTTP GETs with the per-row headers from
    :func:`build_request_headers` (UA, Cookie, If-None-Match, Referer,
    Accept-Encoding, Authorization, Proxy-Authorization, customHeaders
    merged last) and the W3/J6 pacing offsets from
    :func:`~simplecrawler_spark.operators.pacing.request_start_offsets`.
    Implementation: :mod:`simplecrawler_spark.operators.http_fetch` — same
    output contract as :func:`fetch_batch`, same downstream plan; exercised
    end-to-end against a loopback server (tests/test_http_fetch.py), which
    is as much network as this sandbox has."""
    from simplecrawler_spark.operators.http_fetch import http_fetch as impl
    return impl(batch, cfg, extra_cols=extra_cols, **kw)
