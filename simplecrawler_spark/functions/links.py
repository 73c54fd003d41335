"""F2/F3 — link extraction + cleanup (reference: ``discoverResources``
``lib/crawler.js:≈L900–950``, defaults ``:≈L400–440``;
``cleanExpandResources`` ``:≈L830–900``).

Two modes:
  * **table mode** (in-sandbox default): the synthetic ``web`` table already
    carries raw link lists; only cleanup applies (:func:`clean_expand_series`).
  * **HTML mode**: :func:`discover_resources` applies the reference's six
    default regexes to body text (user-overridable, same extension point as
    the reference's documented ``discoverResources`` override).

Cleanup semantics (F3): strip ``href=``/``src=``/``url(`` wrappers and
quotes, decode HTML entities, fix protocol-relative ``//host`` with the
parent scheme, drop empties / ``mailto:`` / bare ``javascript:``, resolve +
canonicalize against the page URL (F1), and **order-preserving first-wins
in-page dedupe** (matches the reference's array scan order — crawl-order
parity depends on this).

Vectorization: link arrays for a whole Arrow batch are flattened to one flat
string series, canonicalized with the F1 fast path, then regrouped by
offsets — no per-page Python in the common case.
"""

from __future__ import annotations

import html
import re

import numpy as np
import pandas as pd

from simplecrawler_spark.functions.canonicalize import canonicalize_series

# The six default discoverRegex patterns (crawler.js:≈L400–440), re-flavored.
DISCOVER_REGEXES: list[re.Pattern] = [
    re.compile(r"""\s(?:href|src)\s?=\s?(["']).*?\1""", re.I),
    re.compile(r"""\s(?:href|src)\s?=\s?[^"'\s][^\s>]+""", re.I),
    re.compile(r"""\s?url\((["']).*?\1\)""", re.I),
    re.compile(r"""\s?url\([^"')]*\)""", re.I),
    re.compile(r"""https?://[^?\s><'"]+"""),
    re.compile(r"""url\(["']?([^"')]*)["']?\)""", re.I),
]

_COMMENT_RE = re.compile(r"<!--.*?-->", re.S)
_SCRIPT_RE = re.compile(r"<script\b.*?</script\s*>", re.S | re.I)
_WRAPPER_RE = re.compile(r"""^\s*(?:href|src)\s?=\s?|^\s*url\(|\)$""", re.I)
_QUOTE_RE = re.compile(r"""^["']|["']$""")


def discover_resources(
    body: str,
    regexes: list[re.Pattern] | None = None,
    parse_html_comments: bool = True,
    parse_script_tags: bool = True,
) -> list[str]:
    """Raw match list per the reference's regex-over-body strategy."""
    if not parse_html_comments:
        body = _COMMENT_RE.sub("", body)
    if not parse_script_tags:
        body = _SCRIPT_RE.sub("", body)
    found: list[str] = []
    for rx in regexes or DISCOVER_REGEXES:
        for m in rx.finditer(body):
            found.append(m.group(0))
    return found


def _strip_wrapper(s: str) -> str:
    s = _WRAPPER_RE.sub("", s.strip())
    return _QUOTE_RE.sub("", s.strip())


_AMP_ONLY = re.compile(r"&(?:amp|lt|gt|quot|#\d+|#x[0-9a-fA-F]+);")


def _clean_raw(s: str) -> str | None:
    """Wrapper-strip + entity-decode + cheap drops; returns None to discard."""
    s = _strip_wrapper(s)
    if "&" in s and _AMP_ONLY.search(s):
        s = html.unescape(s)
    if not s or s.startswith("#"):
        return None
    low = s[:12].lower()
    if low.startswith(("mailto:", "javascript:", "data:", "tel:")):
        return None
    return s


_DROP_RE = re.compile(r"^(#|$)|^(mailto|javascript|data|tel):", re.I)


def _clean_raw_series(s: pd.Series) -> pd.Series:
    """Vectorized :func:`_clean_raw`: pandas .str passes (C speed) for the
    wrapper/quote strips and drop tests; the rare entity-decode residue falls
    back to :func:`html.unescape` on its subset only. Semantics must match
    the scalar version exactly — tests/test_links_robots.py cross-checks."""
    s = s.astype("object").fillna("")
    s = s.str.strip().str.replace(_WRAPPER_RE, "", regex=True)
    s = s.str.strip().str.replace(_QUOTE_RE, "", regex=True)
    amp = s.str.contains("&", regex=False) & s.str.contains(_AMP_ONLY, regex=True)
    if amp.any():
        s[amp] = s[amp].map(html.unescape)
    dropped = s.str.match(_DROP_RE)
    out = s.where(~dropped, None)
    return out.mask(out == "", None)


def clean_expand_series(
    links: pd.Series,
    base: pd.Series,
    strip_querystring: bool = False,
    sort_query_parameters: bool = False,
    strip_www_domain: bool = False,
) -> pd.Series:
    """Per-page raw link arrays → canonical, in-page-deduped link arrays.

    Flatten (numpy repeat for the base column) → vectorized cleanup →
    vectorized canonicalize (F1 fast paths) → order-preserving first-wins
    dedupe via ``drop_duplicates`` on (page, url) → regroup. Returns a
    Series of list[str]. No per-link Python except the tiny entity-decode
    and canonicalizer slow-path residues.
    """
    lists = [l if l is not None else [] for l in links]
    lens = np.fromiter((len(l) for l in lists), dtype=np.int64, count=len(lists))
    total = int(lens.sum())
    n_pages = len(lists)
    if total == 0:
        return pd.Series([[] for _ in lists])
    flat_raw = pd.Series(
        [s for l in lists for s in l], dtype=object
    )
    page_idx = np.repeat(np.arange(n_pages, dtype=np.int64), lens)
    flat_base = pd.Series(base.to_numpy()[page_idx], dtype=object)
    cleaned = _clean_raw_series(flat_raw)
    canon = canonicalize_series(
        cleaned, flat_base,
        strip_querystring=strip_querystring,
        sort_query_parameters=sort_query_parameters,
        strip_www_domain=strip_www_domain,
    )
    df = pd.DataFrame({"p": page_idx, "u": canon.to_numpy()})
    df = df.dropna(subset=["u"]).drop_duplicates(subset=["p", "u"], keep="first")
    grouped = df.groupby("p", sort=True)["u"].agg(list)
    out = [[] for _ in range(n_pages)]
    for p, l in grouped.items():
        out[p] = l
    return pd.Series(out)


def discover_links_df(pages, parse_html_comments: bool = True,
                      parse_script_tags: bool = True,
                      regexes: list[re.Pattern] | None = None):
    """HTML-mode discovery as a DataFrame op: raw (possibly compressed,
    possibly non-UTF-8) response bodies → per-page raw match lists, in one
    ``mapInPandas`` pass chaining F7 decompress → F6 charset decode → F2
    regex discovery (reference response pipeline order,
    ``lib/crawler.js:≈L1560–1660`` then ``discoverResources`` ≈L900–950).

    Input columns: ``url_norm string, body binary, content_encoding string,
    content_type string``. Output adds ``links array<string>`` (raw matches
    — feed to :func:`clean_expand_series` next, exactly like table mode) and
    ``gzip_ok boolean`` (False rows = the reference's ``gziperror`` event).
    """
    from simplecrawler_spark.functions.body import decode_series, decompress_series

    def disco(batches):
        for pdf in batches:
            bodies, ok = decompress_series(pdf["body"], pdf["content_encoding"])
            texts = decode_series(bodies, pdf["content_type"])
            links = [
                discover_resources(t, regexes, parse_html_comments, parse_script_tags)
                if t else [] for t in texts
            ]
            yield pd.DataFrame({"url_norm": pdf["url_norm"], "links": links,
                                "gzip_ok": ok})

    return pages.select("url_norm", "body", "content_encoding", "content_type") \
        .mapInPandas(disco, schema="url_norm string, links array<string>, gzip_ok boolean")
