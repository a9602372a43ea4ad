"""Arrow-batched pandas UDFs wrapping the deterministic kernels.

These are the ONLY Python-executed operators in the crawl pipeline — the
parity-critical per-document transforms the reference implements in C++
(Url::set, getUrlHash48, isAllowed2, Xml::getText, Links::set).  Everything
else (filters, windows, joins, politeness arithmetic) is pure Column
expressions compiled by functions/filters.py.

One Python pass per row: the crawl round runs ONE fused UDF per fetched
page (fetched_page_udf: content hash, parent domain and the followed
outlinks keyed url/uh48/host/domain — Links::set plus
addOutlinkSpiderRecsToMetaList's walk), and url intake — seed() and the
streaming ingest's to_requests — runs ONE per fed url (url_identity_udf:
canonical url, uh48, host, domain).  The fused UDFs call the same kernel
helpers as the single-purpose UDFs below, so their outputs are
bit-identical.  The single-purpose UDFs remain for their other callers:
plans/search.py (canonicalize, uh48, host), plans/querylang.py (uh48),
CrawlDriver.delete_urls (canonicalize + uh48), the one-time state
upgrade compaction.upgrade_legacy_state (domain), and perfbench (its
UDF layer in layers.py, uh48 in inputs.py).

Scale notes: each UDF receives Arrow record batches
(spark.sql.execution.arrow.maxRecordsPerBatch rows at a time), so Python
overhead is amortized per batch; the hash UDF is fully NumPy-vectorized
(gbhash.hash64_batch), the string kernels are tight scalar loops per value.
No driver-side collect anywhere.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..kernel import extract, gbhash, robots, urlnorm


def _canonical(url):
    return urlnorm.canonicalize(url) if url else ""


def _host(url):
    return urlnorm.get_host(url) if url else ""


def _domain(host):
    return urlnorm.get_domain(host) if host else ""


@pandas_udf(T.StringType())
def canonicalize_udf(urls: pd.Series) -> pd.Series:
    """Url::set canonical form (Url.cpp:141-840)."""
    return urls.map(_canonical)


@pandas_udf(T.LongType())
def uh48_udf(urls: pd.Series) -> pd.Series:
    """getUrlHash48 over canonical urls — NumPy-vectorized tabulation hash
    (Spider.h:412,791)."""
    vals = gbhash.uh48_batch(urls.fillna("").tolist())
    return pd.Series(vals.astype("int64"))


@pandas_udf(T.LongType())
def probable_docid_udf(urls: pd.Series) -> pd.Series:
    """Titledb.h:56-69 probable docid (38-bit, domain-clustered)."""
    def one(u):
        if not u:
            return 0
        host = urlnorm.get_host(u)
        return gbhash.probable_docid(u, urlnorm.get_domain(host) or host)
    return urls.map(one)


@pandas_udf(T.StringType())
def host_udf(urls: pd.Series) -> pd.Series:
    return urls.map(_host)


@pandas_udf(T.StringType())
def domain_udf(hosts: pd.Series) -> pd.Series:
    return hosts.map(_domain)


@pandas_udf(T.StringType())
def tld_udf(hosts: pd.Series) -> pd.Series:
    return hosts.map(lambda h: urlnorm.get_tld(h) if h else "")


@pandas_udf(T.IntegerType())
def host_hash32_udf(hosts: pd.Series) -> pd.Series:
    return hosts.map(
        lambda h: np.int32(np.uint32(gbhash.hash32s(h or ""))).item())


_ROBOTS_SCHEMA = T.StructType([
    T.StructField("allowed", T.BooleanType()),
    T.StructField("crawl_delay_ms", T.IntegerType()),
])


def make_robots_udf(user_agent: str = robots.DEFAULT_USER_AGENT):
    @pandas_udf(_ROBOTS_SCHEMA)
    def robots_udf(robots_txt: pd.Series, status: pd.Series,
                   url: pd.Series) -> pd.DataFrame:
        """isAllowed2 two-pass + crawl delay (XmlDoc.cpp:14817-15004).
        Parse+match per row — kept for tests/one-off checks only; the
        scheduler uses make_robots_rules_udf (parse per host, once) +
        robots_match_udf (match per url)."""
        out_a, out_d = [], []
        for txt, st, u in zip(robots_txt, status, url):
            v = robots.check(txt, urlnorm.get_path_cgi(u or "/"),
                             user_agent,
                             int(st) if st is not None else 404)
            out_a.append(v.allowed)
            out_d.append(robots.final_crawl_delay_ms(v.crawl_delay_ms))
        return pd.DataFrame({"allowed": out_a, "crawl_delay_ms": out_d})
    return robots_udf


_ROBOTS_RULES_SCHEMA = T.StructType([
    T.StructField("disallow", T.ArrayType(T.StringType())),
    T.StructField("crawl_delay_ms", T.IntegerType()),
])


def make_robots_rules_udf(user_agent: str = robots.DEFAULT_USER_AGENT):
    """Parse robots.txt ONCE per host row → effective Disallow prefixes +
    finalized crawl delay (default 250ms, cap 60s).  Runs over the
    |hosts|-row hostmeta table, never over candidates — the 24h per-host
    robots cache analog (Msg13.cpp:590)."""
    @pandas_udf(_ROBOTS_RULES_SCHEMA)
    def robots_rules_udf(robots_txt: pd.Series,
                         status: pd.Series) -> pd.DataFrame:
        pats, delays = [], []
        for txt, st in zip(robots_txt, status):
            p, d = robots.effective_rules(
                txt, user_agent, int(st) if st is not None else 404)
            pats.append(p)
            delays.append(robots.final_crawl_delay_ms(d))
        return pd.DataFrame({"disallow": pats, "crawl_delay_ms": delays})
    return robots_rules_udf


@pandas_udf(T.BooleanType())
def robots_match_udf(disallow: pd.Series, path_cgi: pd.Series) -> pd.Series:
    """Per-url allow check over PRE-PARSED Disallow prefixes — prefix
    compares only, no parsing (isAllowed2 match step,
    XmlDoc.cpp:14920-14975).  Arrow-batched; the only Python the
    candidate-filter path runs per row."""
    out = []
    for pats, pc in zip(disallow, path_cgi):
        if pats is None or len(pats) == 0:
            out.append(True)
        else:
            out.append(robots.match_path(list(pats), pc or "/"))
    return pd.Series(out)


@pandas_udf(T.StringType())
def get_text_udf(html: pd.Series) -> pd.Series:
    """Xml::getText visible-text extraction — byte-identical to the pages
    table's `text` column (Xml.cpp:665-843)."""
    def one(h):
        if h is None:
            return ""
        if isinstance(h, (bytes, bytearray)):
            h = h.decode("utf-8", "replace")
        return extract.get_text(h)
    return html.map(one)


_LINKS_SCHEMA = T.ArrayType(T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("nofollow", T.BooleanType()),
    T.StructField("tag", T.StringType()),
    T.StructField("is_rss", T.BooleanType()),
]))


def _page_links(html, base_url) -> list:
    """Links::set + per-page dedup (Linkdb.cpp:4980, XmlDoc.cpp:27682)."""
    if html is None:
        return []
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8", "replace")
    return extract.dedup_links(extract.extract_links(html, base_url or ""))


def _content_hash32(html) -> int:
    """m_contentHash32 analog (Spider.h:869) via gb hash32."""
    if html is None:
        return 0
    if isinstance(html, str):
        html = html.encode("utf-8", "replace")
    return np.int32(np.uint32(gbhash.hash32(html))).item()


@pandas_udf(_LINKS_SCHEMA)
def extract_links_udf(html: pd.Series, base_url: pd.Series) -> pd.Series:
    """Links::set + per-page dedup (Linkdb.cpp:4980, XmlDoc.cpp:27682)."""
    return pd.Series([[tuple(ln) for ln in _page_links(h, b)]
                      for h, b in zip(html, base_url)])


@pandas_udf(T.IntegerType())
def content_hash32_udf(html: pd.Series) -> pd.Series:
    """m_contentHash32 analog (Spider.h:869) via gb hash32."""
    return html.map(_content_hash32)


_FETCHED_PAGE_SCHEMA = T.StructType([
    T.StructField("content_hash32", T.IntegerType()),
    T.StructField("parent_domain", T.StringType()),
    T.StructField("links", T.ArrayType(T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("is_rss", T.BooleanType()),
        T.StructField("uh48", T.LongType()),
        T.StructField("host", T.StringType()),
        T.StructField("domain", T.StringType()),
    ]))),
])


@pandas_udf(_FETCHED_PAGE_SCHEMA)
def fetched_page_udf(html: pd.Series, url: pd.Series, host: pd.Series,
                     harvest_links: pd.Series) -> pd.DataFrame:
    """Everything a crawl round derives from one fetched page, in one
    pass (Links::set + addOutlinkSpiderRecsToMetaList, Linkdb.cpp:4980,
    XmlDoc.cpp:27415-28000): its content hash, its domain, and its
    followed outlinks keyed as new requests.  ``links`` keeps the
    deduped extraction order; nofollow links drop AFTER the dedup, so a
    url whose first copy is nofollow stays dropped.  Pages with no html
    or with harvest_links off yield no links.  One uh48_batch call
    hashes every link of the Arrow batch."""
    pages = [[ln for ln in _page_links(h, b) if not ln.nofollow]
             if h is not None and hv else []
             for h, b, hv in zip(html, url, harvest_links)]
    uh48s = iter(gbhash.uh48_batch(
        [ln.url for links in pages for ln in links])
        .astype("int64").tolist())
    out = []
    for links in pages:
        row = []
        for ln in links:
            lh = _host(ln.url)
            row.append((ln.url, ln.is_rss, next(uh48s), lh, _domain(lh)))
        out.append(row)
    return pd.DataFrame({"content_hash32": html.map(_content_hash32),
                         "parent_domain": host.map(_domain),
                         "links": out})


_URL_IDENTITY_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("uh48", T.LongType()),
    T.StructField("host", T.StringType()),
    T.StructField("domain", T.StringType()),
])


@pandas_udf(_URL_IDENTITY_SCHEMA)
def url_identity_udf(urls: pd.Series) -> pd.DataFrame:
    """canonicalize → uh48 + host → domain of a raw url in one pass —
    the keyed identity of a seed request ('' url for unusable input)."""
    canon = [_canonical(u) for u in urls]
    hosts = [_host(u) for u in canon]
    return pd.DataFrame({
        "url": canon,
        "uh48": gbhash.uh48_batch(canon).astype("int64"),
        "host": hosts,
        "domain": [_domain(h) for h in hosts]})


# Marked nondeterministic as an optimizer barrier only (the kernels are
# pure): callers filter on the canonical url and inner-join on the host,
# and Spark would push those predicates beneath the projection — running
# the UDF once for the filter and again for the output columns.
url_identity_udf = url_identity_udf.asNondeterministic()
