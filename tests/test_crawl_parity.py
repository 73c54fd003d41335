"""Engine-vs-oracle parity (SURVEY.md §5.2 item 2): exact match of crawl
order, final URL-seen set, per-item status, and event counters on seeded
synthetic webs — including redirects, cycles, duplicate links, robots
denials, depth limits, domain filters, and per-host politeness budgets."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from simplecrawler_spark.config import CrawlConfig
from simplecrawler_spark.corpus import CorpusParams, write_corpus
from simplecrawler_spark.plans.crawl import CrawlEngine

from tests.oracle import OracleCrawler


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("corpus"))
    p = CorpusParams(n_urls=500, n_hosts=6, seed=42)
    write_corpus(spark, d, p)
    return d, p


def _load_oracle_inputs(spark, corpus_dir):
    web_rows = [r.asDict() for r in spark.read.parquet(f"{corpus_dir}/web").collect()]
    robots_rows = [r.asDict() for r in spark.read.parquet(f"{corpus_dir}/robots").collect()]
    return web_rows, robots_rows


def _run_both(spark, corpus_dir, cfg, tmp_path, fetch_conditions=None,
              download_conditions=None, with_images=False):
    cfg.warehouse = str(tmp_path / "wh")
    web = spark.read.parquet(f"{corpus_dir}/web")
    robots = spark.read.parquet(f"{corpus_dir}/robots")
    eng = CrawlEngine(spark, cfg, web, robots=robots,
                      fetch_conditions=fetch_conditions,
                      download_conditions=download_conditions)
    result = eng.run()
    web_rows, robots_rows = _load_oracle_inputs(spark, corpus_dir)
    oc = OracleCrawler(web_rows, robots_rows, cfg,
                       fetch_conditions=fetch_conditions,
                       download_conditions=download_conditions)
    oresult = oc.run()
    return result, oresult


def _assert_parity(spark, result, oresult):
    log = [
        (r["round_fetched"], r["seq"], r["url_norm"], r["depth"], r["status"])
        for r in result.fetched_log(spark)
        .select("round_fetched", "seq", "url_norm", "depth", "status")
        .orderBy("round_fetched", "seq")
        .collect()
    ]
    assert log == sorted(oresult.fetched_log), (
        f"crawl order diverged: engine {len(log)} rows vs oracle "
        f"{len(oresult.fetched_log)}; first diff: "
        f"{next((a, b) for a, b in zip(log, sorted(oresult.fetched_log)) if a != b) if log and oresult.fetched_log else 'len'}"
    )
    seen: dict = {}
    for r in result.url_seen(spark).select("url_norm", "seq").collect():
        # scan-index view: url → FIRST seq (force=true may append true
        # duplicate queue entries with later seqs)
        if r["url_norm"] not in seen or r["seq"] < seen[r["url_norm"]]:
            seen[r["url_norm"]] = r["seq"]
    assert seen == oresult.seen
    eng_ev = {k: v for k, v in result.events.items() if v}
    ora_ev = {k: v for k, v in oresult.events.items() if v}
    assert eng_ev == ora_ev


def test_parity_default_config(spark, corpus, tmp_path):
    d, p = corpus
    cfg = CrawlConfig(seeds=["http://host0.example/p/0"], budget=96,
                      dedupe_mode="exact", max_rounds=500)
    result, oresult = _run_both(spark, d, cfg, tmp_path)
    assert len(oresult.fetched_log) > 20  # crawl actually expanded
    _assert_parity(spark, result, oresult)
    # the corpus exercises the full 3xx family + non-special 4xx/5xx errors
    fl = result.fetched_log(spark)
    redirected_codes = {
        r["status_code"] for r in
        fl.where(F.col("status") == "redirected").select("status_code").distinct().collect()
    }
    assert redirected_codes - {301, 302}, "expected 303/307/308 redirects in corpus"
    failed_codes = {
        r["status_code"] for r in
        fl.where(F.col("status") == "failed").select("status_code").distinct().collect()
    }
    assert {403, 500} & failed_codes, "expected 4xx/5xx fetcherror rows"
    # /i MIME flag: uppercase content types still ran link discovery
    assert fl.where(F.col("content_type") == "Text/HTML").count() > 0


def test_parity_tiered_dedupe_identical_to_exact(spark, corpus, tmp_path):
    d, p = corpus
    cfg = CrawlConfig(seeds=["http://host0.example/p/0"], budget=96,
                      dedupe_mode="tiered", seen_capacity=100_000,
                      n_buckets=8, max_rounds=500)
    result, oresult = _run_both(spark, d, cfg, tmp_path)
    _assert_parity(spark, result, oresult)


def test_parity_cross_domain_with_subdomains_and_whitelist(spark, corpus, tmp_path):
    d, p = corpus
    cfg = CrawlConfig(seeds=["http://host0.example/p/0"], budget=96,
                      filter_by_domain=True, scan_subdomains=True,
                      domain_whitelist=["host1.example", "host2.example"],
                      dedupe_mode="exact", max_rounds=500)
    result, oresult = _run_both(spark, d, cfg, tmp_path)
    _assert_parity(spark, result, oresult)


def test_parity_no_domain_filter_max_depth(spark, corpus, tmp_path):
    d, p = corpus
    cfg = CrawlConfig(seeds=["http://host0.example/p/0"], budget=96,
                      filter_by_domain=False, max_depth=3,
                      dedupe_mode="exact", max_rounds=500)
    result, oresult = _run_both(spark, d, cfg, tmp_path)
    _assert_parity(spark, result, oresult)
    assert result.fetched_log(spark).agg(F.max("depth")).collect()[0][0] <= 3


def test_parity_host_budget_politeness(spark, corpus, tmp_path):
    d, p = corpus
    cfg = CrawlConfig(seeds=["http://host0.example/p/0"], budget=40,
                      filter_by_domain=False, host_budget=5, n_salts=4,
                      dedupe_mode="exact", max_rounds=500)
    result, oresult = _run_both(spark, d, cfg, tmp_path)
    _assert_parity(spark, result, oresult)
    # politeness invariant: ≤ host_budget fetches per host per round
    per = (result.fetched_log(spark).groupBy("round_fetched", "host")
           .count().agg(F.max("count")).collect()[0][0])
    assert per <= 5


def test_parity_crawl_delay_budget(spark, corpus, tmp_path):
    """J6 — robots Crawl-delay enforced as a per-host per-round cap:
    host3 (group 'delay', crawl_delay=0.5, round_seconds=1.0) gets at most
    max(1, floor(1.0/0.5)) = 2 fetches per round; engine ≡ oracle."""
    d, p = corpus
    cfg = CrawlConfig(seeds=["http://host0.example/p/0"], budget=40,
                      filter_by_domain=False, honor_crawl_delay=True,
                      dedupe_mode="exact", max_rounds=500)
    result, oresult = _run_both(spark, d, cfg, tmp_path)
    _assert_parity(spark, result, oresult)
    per = (result.fetched_log(spark).where(F.col("host") == "host3.example")
           .groupBy("round_fetched").count().agg(F.max("count")).collect()[0][0])
    assert per is not None and per <= 2  # the knob actually bit
    # and host3 was not starved: it still got fetched
    assert result.fetched_log(spark).where(F.col("host") == "host3.example").count() > 2


def _mk_web_rows(specs):
    """specs: list of (url, status, content_type, links). Full WEB_SCHEMA rows."""
    rows = []
    for i, (url, code, ct, links) in enumerate(specs):
        host = url.split("://", 1)[1].split("/", 1)[0]
        rows.append({
            "url_id": i, "url_norm": url, "host": host, "status_code": code,
            "redirect_to": None, "content_type": ct, "links": links,
            "image_id": None, "caption": None, "robots_group": "open",
            "body_size": 1000, "content_length": 1000, "request_latency_ms": 10.0,
            "download_time_ms": 5.0, "request_time_ms": 15.0, "failure": None,
        })
    return rows


def test_parity_whitelisted_mime_below_max_depth(spark, tmp_path):
    """P5 allowance (fetchWhitelistedMimeTypesBelowMaxDepth=1): URLs whose
    extension implies a whitelisted MIME may exceed maxDepth by 1 level;
    everything else is depth-gated; engine ≡ oracle."""
    from simplecrawler_spark.corpus import WEB_SCHEMA

    h = "http://host0.example"
    specs = [
        (f"{h}/p/0", 200, "text/html", [f"{h}/p/1"]),                      # depth 1
        (f"{h}/p/1", 200, "text/html",
         [f"{h}/p/2", f"{h}/img/a.png", f"{h}/c.html"]),                   # depth 2
        (f"{h}/p/2", 200, "text/html", []),                                # depth 3: gated
        (f"{h}/img/a.png", 200, "image/png", []),                          # depth 3: allowed
        (f"{h}/c.html", 200, "text/html", [f"{h}/d.html"]),                # depth 3: allowed
        (f"{h}/d.html", 200, "text/html", []),                             # depth 4: > max+1
    ]
    rows = _mk_web_rows(specs)
    web = spark.createDataFrame(rows, WEB_SCHEMA)
    mimes = [r"(?i)^text/", r"(?i)^image/png"]
    cfg = CrawlConfig(seeds=[f"{h}/p/0"], budget=16, max_depth=2,
                      fetch_whitelisted_mime_below_max_depth=1,
                      supported_mime_types=mimes, dedupe_mode="exact",
                      max_rounds=50, warehouse=str(tmp_path / "wh_p5"))
    eng = CrawlEngine(spark, cfg, web, robots=None)
    result = eng.run()
    oc = OracleCrawler(rows, [], cfg)
    oresult = oc.run()
    _assert_parity(spark, result, oresult)
    fetched = {r["url_norm"] for r in result.fetched_log(spark).collect()}
    assert f"{h}/img/a.png" in fetched and f"{h}/c.html" in fetched
    assert f"{h}/p/2" not in fetched and f"{h}/d.html" not in fetched
    assert oresult.events["depth"] == 2  # /p/2 and /d.html


def test_parity_fetch_and_download_conditions(spark, corpus, tmp_path):
    d, p = corpus
    fc = [{"field": "url_norm", "op": "not_contains", "value": "/p/7"}]
    # prevented downloads must not strangle discovery: images carry no links
    dc = [{"field": "content_type", "op": "ne", "value": "image/png"}]
    cfg = CrawlConfig(seeds=["http://host0.example/p/0"], budget=96,
                      filter_by_domain=False, dedupe_mode="exact", max_rounds=500)
    result, oresult = _run_both(spark, d, cfg, tmp_path,
                                fetch_conditions=fc, download_conditions=dc)
    _assert_parity(spark, result, oresult)
    assert oresult.events.get("fetchprevented", 0) > 0
    assert oresult.events.get("downloadprevented", 0) > 0


def test_parity_transport_failures(spark, corpus, tmp_path):
    """fetchtimeout / fetchclienterror (crawler.js:≈L1250–1320): transport
    failures in the corpus classify as 'failed' with the right event, run no
    discovery, and the engine ≡ oracle on order + events."""
    d, p = corpus
    cfg = CrawlConfig(seeds=["http://host0.example/p/0"], budget=96,
                      filter_by_domain=False, dedupe_mode="exact", max_rounds=500)
    result, oresult = _run_both(spark, d, cfg, tmp_path)
    _assert_parity(spark, result, oresult)
    assert oresult.events.get("fetchtimeout", 0) > 0, "corpus must emit timeouts"
    assert oresult.events.get("fetchclienterror", 0) > 0
    # a transport-failed row never contributes discoveries even if it had links
    fl = result.fetched_log(spark)
    assert fl.where(F.col("failure").isNotNull()).count() > 0
    assert fl.where(F.col("failure").isNotNull()) \
             .where(F.col("status") != "failed").count() == 0


def test_parity_allow_initial_domain_change(spark, tmp_path):
    """P1 allowInitialDomainChange (crawler.js:≈L1000–1060): the initial
    URL's cross-domain redirect moves the crawl domain; without the knob the
    crawl dies at the domain filter. Engine ≡ oracle in both modes."""
    from simplecrawler_spark.corpus import WEB_SCHEMA

    a, b = "http://a.example", "http://b.example"
    rows = _mk_web_rows([
        (f"{a}/", 301, "text/html", []),
        (f"{b}/", 200, "text/html", [f"{b}/p/1", f"{a}/p/9"]),
        (f"{b}/p/1", 200, "text/html", []),
        (f"{a}/p/9", 200, "text/html", []),
    ])
    rows[0]["redirect_to"] = f"{b}/"
    web = spark.createDataFrame(rows, WEB_SCHEMA)
    for allow, expect_b in ((True, True), (False, False)):
        cfg = CrawlConfig(seeds=[f"{a}/"], budget=16, dedupe_mode="exact",
                          allow_initial_domain_change=allow, max_rounds=20,
                          warehouse=str(tmp_path / f"wh_aidc_{allow}"))
        eng = CrawlEngine(spark, cfg, web, robots=None)
        result = eng.run()
        oc = OracleCrawler(rows, [], cfg)
        oresult = oc.run()
        _assert_parity(spark, result, oresult)
        fetched = {r["url_norm"] for r in result.fetched_log(spark).collect()}
        assert (f"{b}/" in fetched) is expect_b
        if expect_b:
            # the domain moved WITH the crawl: b-links admitted, a-links now foreign
            assert f"{b}/p/1" in fetched and f"{a}/p/9" not in fetched
            assert oresult.events.get("invaliddomain", 0) > 0


def test_parity_force_true_duplicate(spark, tmp_path):
    """force=true (queue.js:≈L90): a force-queued URL that is already a seed
    still enqueues — a TRUE duplicate queue entry with its own seq that gets
    fetched again — while the scan-index (url → first seq) is unchanged and
    admission gates still apply to forced URLs. Engine ≡ oracle."""
    from simplecrawler_spark.corpus import WEB_SCHEMA

    h = "http://host0.example"
    rows = _mk_web_rows([
        (f"{h}/p/0", 200, "text/html", [f"{h}/p/1"]),
        (f"{h}/p/1", 200, "text/html", []),
        ("http://other.example/x", 200, "text/html", []),
    ])
    web = spark.createDataFrame(rows, WEB_SCHEMA)
    cfg = CrawlConfig(seeds=[f"{h}/p/0"],
                      force_seeds=[f"{h}/p/0", "http://other.example/x"],
                      budget=16, dedupe_mode="exact", max_rounds=20,
                      warehouse=str(tmp_path / "wh_force"))
    eng = CrawlEngine(spark, cfg, web, robots=None)
    result = eng.run()
    oc = OracleCrawler(rows, [], cfg)
    oresult = oc.run()
    _assert_parity(spark, result, oresult)
    fl = result.fetched_log(spark)
    # the seed URL was fetched twice (two queue entries, two seqs)
    assert fl.where(F.col("url_norm") == f"{h}/p/0").count() == 2
    seqs = sorted(r["seq"] for r in
                  result.url_seen(spark).where(F.col("url_norm") == f"{h}/p/0").collect())
    assert len(seqs) == 2 and seqs[0] == 0
    # scan-index parity kept the FIRST seq
    assert oresult.seen[f"{h}/p/0"] == 0
    # its child was admitted once, duplicated on the second visit
    assert oresult.events["queueduplicate"] >= 1


def test_parity_content_length_header(spark, tmp_path):
    """P6 completion: an oversize Content-Length header aborts pre-download
    (dataerror before any body bytes, crawler.js:≈L1470–1500); a lying but
    in-bounds header streams fine and sets ``sentIncorrectSize``
    (crawler.js:≈L1520–1560). Engine ≡ oracle."""
    from simplecrawler_spark.corpus import WEB_SCHEMA

    h = "http://host0.example"
    rows = _mk_web_rows([
        (f"{h}/p/0", 200, "text/html", [f"{h}/big", f"{h}/lie"]),
        (f"{h}/big", 200, "text/html", []),
        (f"{h}/lie", 200, "text/html", []),
    ])
    rows[1]["content_length"] = 32 * 1024 * 1024  # oversize header, small body
    rows[2]["content_length"] = 400               # header ≠ streamed size
    web = spark.createDataFrame(rows, WEB_SCHEMA)
    cfg = CrawlConfig(seeds=[f"{h}/p/0"], budget=16, dedupe_mode="exact",
                      max_rounds=20, warehouse=str(tmp_path / "wh_cl"))
    eng = CrawlEngine(spark, cfg, web, robots=None)
    result = eng.run()
    oc = OracleCrawler(rows, [], cfg)
    oresult = oc.run()
    _assert_parity(spark, result, oresult)
    log = {r["url_norm"]: r for r in result.fetched_log(spark).collect()}
    assert log[f"{h}/big"]["status"] == "dataerror"
    assert log[f"{h}/lie"]["status"] == "downloaded"
    assert log[f"{h}/lie"]["sent_incorrect_size"] is True
    assert log[f"{h}/p/0"]["sent_incorrect_size"] is False
    assert result.events.get("fetchdataerror") == 1


def test_parity_html_discovery_mode(spark, corpus, tmp_path):
    """F2/F3/F6/F7 in the hot path: the engine crawls by regex-discovering
    links from raw (gzip/deflate/corrupt/latin-1) HTML bodies instead of the
    pre-extracted links array, exactly matching the oracle running the same
    response pipeline (discoverResources, crawler.js:≈L900–950; decompress/
    decode ≈L1560–1660). The corpus plants truncated gzip streams, so the
    gziperror event is exercised, and link sets genuinely differ from table
    mode (comment links, cross-regex duplicates)."""
    d, p = corpus
    cfg = CrawlConfig(seeds=["http://host0.example/p/0"], budget=96,
                      dedupe_mode="exact", max_rounds=500,
                      discovery_mode="html")
    result, oresult = _run_both(spark, d, cfg, tmp_path)
    assert len(oresult.fetched_log) > 20
    assert oresult.events.get("gziperror", 0) > 0  # corrupt-gzip path ran
    _assert_parity(spark, result, oresult)


def test_observation_fallbacks_warn_and_keep_parity(spark, corpus, tmp_path,
                                                    monkeypatch, caplog):
    """When ``Observation.get`` fails, the admission and fetch-event counters
    are recounted with an extra job and still match the oracle; each
    fallback, including the gziperror count that cannot be recovered, logs
    a warning naming its round."""
    import logging
    import re

    from pyspark.sql import Observation

    def unavailable(self):
        raise RuntimeError("observation forced unavailable")

    monkeypatch.setattr(Observation, "get", property(unavailable))
    d, p = corpus
    cfg = CrawlConfig(seeds=["http://host0.example/p/0"], budget=96,
                      dedupe_mode="exact", max_rounds=500,
                      discovery_mode="html")
    with caplog.at_level(logging.WARNING, logger="simplecrawler_spark.plans.crawl"):
        result, oresult = _run_both(spark, d, cfg, tmp_path)
    msgs = [r.getMessage() for r in caplog.records]
    for what in ("admission", "event", "gzip"):
        assert any(re.match(rf"round \d+: {what} observation unavailable", m)
                   for m in msgs), (what, msgs[:5])
    assert oresult.events.pop("gziperror", 0) > 0
    assert not result.events.get("gziperror")
    _assert_parity(spark, result, oresult)


def test_parity_conditional_get_refetch(spark, corpus, tmp_path):
    """S6/J3 in the loop: with use_cache=True, a force-re-enqueued URL (true
    duplicate, own seq) fetched in a LATER round carries If-None-Match from
    the cache view over the fetched log; the ETag matches the unchanged
    payload, the fetch resolves to 304/notmodified, and the cached payload
    ref is served (crawler.js:≈L1160–1200, ≈L1360). budget=1 forces the two
    fetches of the same URL into different rounds."""
    d, p = corpus
    seed = "http://host0.example/p/0"
    cfg = CrawlConfig(seeds=[seed], force_seeds=[seed], budget=1,
                      dedupe_mode="exact", max_rounds=6, use_cache=True)
    result, oresult = _run_both(spark, d, cfg, tmp_path)
    _assert_parity(spark, result, oresult)
    log = {(r["seq"]): r for r in result.fetched_log(spark).collect()}
    # seq 0 = first fetch (downloaded), seq 1 = forced duplicate → 304 + ref
    assert log[0]["status"] == "downloaded" and log[0]["payload_ref"] is None
    assert log[1]["status"] == "notmodified"
    assert log[1]["payload_ref"] == seed  # html page → ref is the url itself
    assert result.events.get("notmodified", 0) >= 1


def test_parity_use_cache_plain_crawl_unchanged(spark, corpus, tmp_path):
    """use_cache on a crawl with no re-fetches must not change anything:
    every URL is fetched once, so no If-None-Match ever matches."""
    d, p = corpus
    cfg = CrawlConfig(seeds=["http://host0.example/p/0"], budget=96,
                      dedupe_mode="exact", max_rounds=500, use_cache=True)
    result, oresult = _run_both(spark, d, cfg, tmp_path)
    _assert_parity(spark, result, oresult)


def test_payload_verification_per_fetched_image(spark, corpus, tmp_path):
    """North-rule per-row invariant: every fetched image row decodes
    (vectorized Arrow batches), its perceptual hash matches the corpus
    phash, PSNR ≥ 40 dB for the lossy format, and caption equality holds —
    surfaced as payload columns on fetched_log (joined from the per-round
    payload delta the post-write verify job produces)."""
    d, p = corpus
    cfg = CrawlConfig(seeds=["http://host0.example/p/0"], budget=96,
                      dedupe_mode="exact", max_rounds=500,
                      filter_by_domain=False)
    cfg.warehouse = str(tmp_path / "wh_pay")
    web = spark.read.parquet(f"{d}/web")
    images = spark.read.parquet(f"{d}/images")
    robots = spark.read.parquet(f"{d}/robots")
    eng = CrawlEngine(spark, cfg, web, images, robots, corpus_params=p)
    res = eng.run()
    log = res.fetched_log(spark)
    img_rows = log.where("image_id is not null and status = 'downloaded'").collect()
    assert len(img_rows) > 5  # the crawl actually hit image leaves
    for r in img_rows:
        assert r["payload_ok"] is True, (r["url_norm"], r["phash"], r["phash_decoded"])
        assert r["phash_decoded"] == r["phash"]
        assert r["psnr"] >= 40.0 or r["psnr"] == float("inf")
    # non-image rows carry nulls, exactly as when the columns were inlined
    others = log.where("image_id is null").select("payload_ok").limit(5).collect()
    assert all(r["payload_ok"] is None for r in others)

    # crash-repair: the verify job pipelines one round behind the commit, so
    # a crash can leave a committed round's payload delta partial or missing
    # — resume must recompute it (payload is derived, hence repairable)
    import os
    import shutil

    before = sorted(
        (r["seq"], r["phash"], r["phash_decoded"], r["psnr"], r["payload_ok"])
        for r in img_rows)
    gone = res.warehouse.round_dir("payload", res.rounds)  # drop a whole delta
    shutil.rmtree(gone)
    partial = res.warehouse.round_dir("payload", max(1, res.rounds - 1))
    os.remove(os.path.join(partial, "_SUCCESS"))  # and mark one partial
    eng2 = CrawlEngine(spark, cfg, web, images, robots, corpus_params=p)
    eng2.resume_state()
    assert os.path.exists(os.path.join(gone, "_SUCCESS"))
    assert os.path.exists(os.path.join(partial, "_SUCCESS"))
    log2 = res.fetched_log(spark)
    after = sorted(
        (r["seq"], r["phash"], r["phash_decoded"], r["psnr"], r["payload_ok"])
        for r in log2.where(
            "image_id is not null and status = 'downloaded'").collect())
    assert after == before


def test_parity_cookie_accumulation(spark, tmp_path_factory, tmp_path):
    """D8 acceptCookies (cookies.addFromHeaders in handleResponse,
    crawler.js:≈L1350): Set-Cookie headers from round N-1's responses land in
    the jar and round N's requests carry the matching outbound ``Cookie:``
    header — engine ≡ oracle on the exact header STRING per request, expired
    cookies excluded, and the jar survives freeze → defrost."""
    d = str(tmp_path_factory.mktemp("corpus_cookies"))
    p = CorpusParams(n_urls=400, n_hosts=5, seed=44, with_cookies=True)
    write_corpus(spark, d, p)
    cfg = CrawlConfig(seeds=["http://host0.example/p/0"], budget=64,
                      filter_by_domain=False, dedupe_mode="exact",
                      max_rounds=500)
    result, oresult = _run_both(spark, d, cfg, tmp_path)
    _assert_parity(spark, result, oresult)
    eng = {r["seq"]: r["hdr_cookie"]
           for r in result.fetched_log(spark).select("seq", "hdr_cookie").collect()}
    assert eng == oresult.cookie_hdrs
    carried = [h for h in eng.values() if h]
    # round-1 requests see an empty jar, so ANY non-null header proves a
    # cookie set in some round N-1 reached a round-N request
    assert carried, "no request ever carried a cookie — fixture too weak"
    assert any(";" in h for h in carried), "expected a multi-cookie header"
    assert not any("old=1" in h for h in carried), "expired cookie sent"
    # freeze → defrost: the jar is part of the snapshot (S4/S5)
    web = spark.read.parquet(f"{d}/web")
    eng2 = CrawlEngine(spark, cfg, web)
    eng2.resume_state()
    assert eng2.jar.to_rows(), "resumed jar is empty"
    assert sorted(map(tuple, eng2.jar.to_rows())) == sorted(
        map(tuple, oresult.jar.to_rows()))


def test_parity_tiered_with_undersized_capacity_auto_resizes(spark, tmp_path_factory, tmp_path):
    """A crawl launched with seen_capacity ~8× too small must COMPLETE (the
    cuckoo sidecar auto-resizes from the authoritative parquet instead of
    raising mid-round — the reference's _scanIndex hash map just grows) with
    tiered ≡ oracle parity intact and at least one resized sidecar on disk."""
    import numpy as np

    d = str(tmp_path_factory.mktemp("corpus_resize"))
    p = CorpusParams(n_urls=4000, n_hosts=6, seed=43)
    write_corpus(spark, d, p)
    cfg = CrawlConfig(seeds=["http://host0.example/p/0"], budget=512,
                      filter_by_domain=False, dedupe_mode="tiered",
                      seen_capacity=1024, n_buckets=1, max_rounds=500)
    result, oresult = _run_both(spark, d, cfg, tmp_path)
    _assert_parity(spark, result, oresult)
    from simplecrawler_spark.operators.dedupe import sidecar_params

    _, _, nb0 = sidecar_params(1024, 1, cfg.bloom_bits_per_key)
    table = np.load(f"{cfg.warehouse}/sidecars/bucket=0/cuckoo.npy")
    assert table.shape[0] > nb0, "expected >=1 logged cuckoo auto-resize"
