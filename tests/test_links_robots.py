import pandas as pd

from simplecrawler_spark.functions.links import (
    clean_expand_series,
    discover_resources,
    _clean_raw,
)
from simplecrawler_spark.functions.robots import (
    parse_robots_txt,
    robots_allows,
    robots_allows_batch,
)


def test_discover_resources_default_regexes():
    body = """<html><a href="/a">x</a><img src='/i.png'>
    <style>.x{background:url("/bg.css")}</style>
    <!-- <a href="/hidden">no</a> -->
    plain http://other.example/z link</html>"""
    found = discover_resources(body)
    joined = " ".join(found)
    assert "/a" in joined and "/i.png" in joined and "/bg.css" in joined
    assert "http://other.example/z" in joined
    # comments stripped when parse_html_comments=False
    found2 = " ".join(discover_resources(body, parse_html_comments=False))
    assert "/hidden" not in found2
    assert "/hidden" in joined  # default: comments parsed (reference default)


def test_clean_raw_drops_junk():
    assert _clean_raw("mailto:a@b.c") is None
    assert _clean_raw("javascript:void(0)") is None
    assert _clean_raw("#top") is None
    assert _clean_raw("") is None
    assert _clean_raw(' href="/x" ') == "/x"
    assert _clean_raw("url(/bg.png)") == "/bg.png"
    assert _clean_raw("/a?x=1&amp;y=2") == "/a?x=1&y=2"


def test_clean_expand_first_wins_dedupe_and_resolution():
    links = pd.Series([
        ["/p/1", "p/2#frag", "/p/1", "//h2.example/p/3", "mailto:x@y", "../p/./4"],
        [],
        None,
    ])
    base = pd.Series([
        "http://h1.example/a/b",
        "http://h1.example/",
        "http://h1.example/",
    ])
    out = clean_expand_series(links, base)
    assert out[0] == [
        "http://h1.example/p/1",
        "http://h1.example/a/p/2",
        "http://h2.example/p/3",
        "http://h1.example/p/4",
    ]
    assert out[1] == [] and out[2] == []


def test_robots_longest_match_wins():
    assert robots_allows("/private/x", ["/private/"], []) is False
    assert robots_allows("/private/p/0", ["/private/"], ["/private/p/0"]) is True
    assert robots_allows("/public", ["/private/"], []) is True
    assert robots_allows("/x", ["/"], []) is False
    assert robots_allows("/a/b.png", ["/*.png$"], []) is False
    assert robots_allows("/a/b.pngx", ["/*.png$"], []) is True
    # allow wins specificity ties
    assert robots_allows("/dir/page", ["/dir/"], ["/dir/"]) is True


def test_robots_batch_matches_scalar():
    paths = pd.Series(["/private/x", "/ok", "/private/p/0", "/y"])
    hosts = pd.Series(["a", "a", "a", "b"])
    dis = pd.Series([["/private/"]] * 3 + [[]])
    alw = pd.Series([["/private/p/0"]] * 3 + [[]])
    got = list(robots_allows_batch(paths, hosts, dis, alw))
    assert got == [False, True, True, True]


def test_parse_robots_txt():
    body = """
    # comment
    User-agent: *
    Disallow: /private/
    Allow: /private/ok
    Crawl-delay: 2.5

    User-agent: special
    Disallow: /
    """
    d, a, cd = parse_robots_txt(body, "mybot/1.0")
    assert d == ["/private/"] and a == ["/private/ok"] and cd == 2.5
    d2, _, _ = parse_robots_txt(body, "the-special bot")
    assert d2 == ["/"]


def test_vectorized_cleanup_matches_scalar():
    import numpy as np
    from simplecrawler_spark.functions.links import _clean_raw_series

    rng = np.random.default_rng(9)
    pieces = ["/p/1", " href=\"/x\" ", "url(/bg.png)", "mailto:a@b", "#top", "",
              "javascript:void(0)", "/a?x=1&amp;y=2", "  '/q/2'  ", "//h/p", "B&amp;W",
              "DATA:text/plain,x", "tel:123", "p/rel", "../up", "/end)"]
    raws = [str(rng.choice(pieces)) for _ in range(500)] + [None]
    got = list(_clean_raw_series(pd.Series(raws, dtype=object)))
    want = [_clean_raw(r) if r is not None else None for r in raws]
    assert got == want


def test_vectorized_cleanup_emits_no_warning():
    import warnings

    from simplecrawler_spark.functions.links import _clean_raw_series

    # a capturing group in a str.contains pattern makes pandas warn on
    # every cleanup batch
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        out = _clean_raw_series(pd.Series(["/a?x=1&amp;y=2", "B&W", None], dtype=object))
    assert list(out) == ["/a?x=1&y=2", "B&W", None]


# ---- F7 decompression + F6 charset decode (functions/body.py) ----

def test_decompress_gzip_deflate_identity():
    import gzip as _gz
    import zlib as _zl

    from simplecrawler_spark.functions.body import decompress_one

    raw = "héllo <a href='/x'>x</a>".encode("utf-8")
    assert decompress_one(_gz.compress(raw), "gzip") == (raw, True)
    assert decompress_one(_zl.compress(raw), "deflate") == (raw, True)
    # raw-deflate servers (no zlib wrapper) — the lenient fallback
    co = _zl.compressobj(wbits=-_zl.MAX_WBITS)
    rawdef = co.compress(raw) + co.flush()
    assert decompress_one(rawdef, "deflate") == (raw, True)
    assert decompress_one(raw, None) == (raw, True)
    assert decompress_one(raw, "identity") == (raw, True)
    # corrupt gzip → gziperror (body passed through, ok=False)
    assert decompress_one(b"\x1f\x8b junk", "gzip") == (b"\x1f\x8b junk", False)
    # unknown coding (no brotli lib in-sandbox) → ok=False passthrough
    assert decompress_one(raw, "br") == (raw, False)


def test_charset_sniff_order_and_decode():
    from simplecrawler_spark.functions.body import decode_one, sniff_charset

    body_meta = b'<html><meta charset="ISO-8859-1"><body>caf\xe9</body>'
    # header wins over meta
    assert sniff_charset(body_meta, "text/html; charset=utf-8") == "utf-8"
    assert sniff_charset(body_meta, "text/html") == "iso-8859-1"
    assert decode_one(body_meta, "text/html").endswith("café</body>")
    xml = b"<?xml version='1.0' encoding='latin-1'?><r>caf\xe9</r>"
    assert sniff_charset(xml, None) == "latin-1"
    assert "café" in decode_one(xml, "application/xml")
    # no charset anywhere → utf-8; bad bytes replaced, never raised
    assert sniff_charset(b"<p>x</p>", "text/html") == "utf-8"
    assert "�" in decode_one(b"caf\xe9", "text/html")
    # unknown charset name falls back to utf-8
    assert decode_one(b"abc", "text/html; charset=klingon-8") == "abc"


def test_discover_links_df_full_pipeline(spark):
    """F7→F6→F2 chained in one mapInPandas pass: compressed latin-1 HTML
    still yields its links; corrupt gzip rows flag gzip_ok=False."""
    import gzip as _gz

    from simplecrawler_spark.functions.links import discover_links_df

    html = ('<html><meta charset="iso-8859-1"><body>caf\xe9 '
            '<a href="/a">a</a> <img src="http://h.example/i.png"></body>'
            ).encode("iso-8859-1")
    rows = [
        ("http://h.example/1", _gz.compress(html), "gzip", "text/html"),
        ("http://h.example/2", html, None, "text/html; charset=iso-8859-1"),
        ("http://h.example/3", b"\x1f\x8bcorrupt", "gzip", "text/html"),
    ]
    df = spark.createDataFrame(
        rows, "url_norm string, body binary, content_encoding string, content_type string")
    out = {r["url_norm"]: r for r in discover_links_df(df).collect()}
    for u in ("http://h.example/1", "http://h.example/2"):
        joined = " ".join(out[u]["links"])
        assert "/a" in joined and "http://h.example/i.png" in joined
        assert out[u]["gzip_ok"]
    assert out["http://h.example/3"]["gzip_ok"] is False


def test_robots_batch_matches_scalar_randomized():
    """Pin the vectorized batch evaluator to the scalar truth across a rule
    matrix incl. wildcards, anchors, multi-rule specificity races and
    rule-less hosts (the per-rule vectorized fold must replicate the scalar
    longest-match bookkeeping exactly)."""
    import itertools
    rules = {
        "a": (["/private/", "/p"], ["/private/p/0", "/p/x"]),
        "b": (["/"], []),
        "c": (["/*.png$", "/img/"], ["/img/ok*"]),
        "d": ([], []),
        "e": (["/dir/"], ["/dir/"]),
    }
    paths = ["/private/x", "/private/p/0", "/p/x", "/p/xy", "/q", "/",
             "/a/b.png", "/a/b.pngx", "/img/z", "/img/ok1", "/dir/page", ""]
    rows = list(itertools.product(rules, paths))
    got = robots_allows_batch(
        pd.Series([p for _, p in rows]),
        pd.Series([h for h, _ in rows]),
        pd.Series([list(rules[h][0]) for h, _ in rows]),
        pd.Series([list(rules[h][1]) for h, _ in rows]),
    )
    want = [robots_allows(p, rules[h][0], rules[h][1]) for h, p in rows]
    assert list(got) == want


def test_robots_jvm_gate_matches_udf_gate(spark):
    """The pure-JVM simple-rules gate (admission.robots_allowed_col with
    rules_simple=True) must agree row-for-row with the pandas-UDF path and
    the scalar truth on wildcard-free rules."""
    from pyspark.sql import functions as F

    from simplecrawler_spark.config import CrawlConfig
    from simplecrawler_spark.operators.admission import (
        robots_allowed_col, robots_rules_simple)

    cfg = CrawlConfig(seeds=["http://a/"])
    robots = spark.createDataFrame(
        [("a", ["/private/", "/p"], ["/private/p/0", "/p/x"], None),
         ("b", ["/"], [], None),
         ("e", ["/dir/"], ["/dir/"], None),
         ("f", [], [], None)],
        "host string, disallow array<string>, allow array<string>, crawl_delay double")
    assert robots_rules_simple(robots) is True
    wild = spark.createDataFrame(
        [("c", ["/*.png$"], [], None)],
        "host string, disallow array<string>, allow array<string>, crawl_delay double")
    assert robots_rules_simple(wild) is False
    assert robots_rules_simple(None) is True

    paths = ["/private/x", "/private/p/0", "/p/x", "/p/xy", "/q", "/",
             "/dir/page", "/other"]
    hosts = ["a", "b", "e", "f", "zz"]  # zz absent from robots → allowed
    cands = spark.createDataFrame(
        [(f"http://{h}{p}", h) for h in hosts for p in paths],
        "url_norm string, host string")
    jvm = {r["url_norm"]: r["robots_ok"] for r in
           robots_allowed_col(cands, robots, cfg, rules_simple=True).collect()}
    udf = {r["url_norm"]: r["robots_ok"] for r in
           robots_allowed_col(cands, robots, cfg, rules_simple=False).collect()}
    rule_map = {"a": (["/private/", "/p"], ["/private/p/0", "/p/x"]),
                "b": (["/"], []), "e": (["/dir/"], ["/dir/"]), "f": ([], [])}
    assert jvm == udf
    for h in hosts:
        d, a = rule_map.get(h, ([], []))
        for p in paths:
            assert jvm[f"http://{h}{p}"] == robots_allows(p, d, a), (h, p)
