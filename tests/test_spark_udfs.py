"""Arrow-UDF parity: the Spark extraction UDFs must reproduce the kernel
byte-for-byte on every page of the synthetic corpus (north rule:
byte-identical extracted text per url)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from open_source_search_engine_spark.functions import udfs
from open_source_search_engine_spark.kernel import extract, gbhash, urlnorm
from open_source_search_engine_spark.sources import synthweb


@pytest.fixture(scope="module")
def corpus_df(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("udfweb"))
    paths = synthweb.write_corpus(d, n_hosts=10, mean_pages=5, n_seeds=3)
    return spark.read.parquet(paths["pages"])


def test_get_text_udf_byte_identical(corpus_df):
    out = (corpus_df
           .withColumn("text2", udfs.get_text_udf(F.col("html")))
           .filter(F.col("text2") != F.col("text"))
           .count())
    assert out == 0


def test_uh48_udf_matches_kernel(spark):
    urls = ["http://www.example.com/", "http://a.b.co.uk/x?q=1",
            "http://xn--topbeskring-g9a.dk/velkommen"]
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    rows = df.withColumn("h", udfs.uh48_udf(F.col("url"))).collect()
    for r in rows:
        assert r.h == gbhash.uh48(r.url)


def test_canonicalize_udf_matches_kernel(spark):
    raws = ["HTTP://Example.COM:80/a/../b#frag",
            "http://x.com/?PHPSESSID=737aec14eb7b360983d4fe39395&p=1",
            "example.org/path"]
    df = spark.createDataFrame([(u,) for u in raws], ["raw"])
    rows = df.withColumn("c", udfs.canonicalize_udf(F.col("raw"))).collect()
    for r in rows:
        assert r.c == urlnorm.canonicalize(r.raw)


def test_extract_links_udf_matches_kernel(corpus_df):
    sample = corpus_df.limit(20)
    rows = (sample
            .withColumn("links",
                        udfs.extract_links_udf(F.col("html"), F.col("url")))
            .select("url", "html", "links").collect())
    for r in rows:
        html = bytes(r.html).decode("utf-8")
        want = extract.dedup_links(extract.extract_links(html, r.url))
        got = [(l.url, l.nofollow, l.tag, l.is_rss) for l in r.links]
        assert got == [tuple(w) for w in want]


def test_robots_udf_matches_kernel(spark):
    from open_source_search_engine_spark.kernel import robots
    cases = [
        ("User-agent: *\nDisallow: /private/\nCrawl-delay: 2\n", 200,
         "http://h.com/private/x"),
        ("User-agent: *\nDisallow: /private/\n", 200, "http://h.com/pub"),
        ("", 404, "http://h.com/anything"),
        ("User-agent: giga\nCrawl-delay: 10\nUser-agent: *\nDisallow: /x\n",
         200, "http://h.com/x/1"),
    ]
    df = spark.createDataFrame(cases, ["robots_txt", "status", "url"])
    udf = udfs.make_robots_udf()
    rows = (df.withColumn("v", udf(F.col("robots_txt"), F.col("status"),
                                   F.col("url"))).collect())
    for (txt, st, url), r in zip(cases, rows):
        want = robots.check(txt, urlnorm.get_path_cgi(url),
                            http_status=st)
        assert r.v.allowed == want.allowed
        assert r.v.crawl_delay_ms == robots.final_crawl_delay_ms(
            want.crawl_delay_ms)


def test_tld_col_matches_kernel(spark):
    """functions/filters.tld_col (JVM hot-path twin) must agree with
    kernel/urlnorm.get_tld byte-for-byte."""
    from pyspark.sql import functions as F

    from open_source_search_engine_spark.functions import filters as Fc
    from open_source_search_engine_spark.kernel.urlnorm import get_tld

    hosts = ["example.com", "www.example.co.uk", "gov.uk", "localhost",
             "a.b.c.lkd.co.im", "x.y.gov.uk", "host9", "9host",
             "sub.domain.org.au", "weird..com", "trailing.com.",
             "ünï.example.de", "a.com", "b.info", "c.xn--p1ai",
             "multi.part.edu.sg", "num.123", "único"]
    df = spark.createDataFrame([(h,) for h in hosts], ["host"])
    got = {r.host: r.tld for r in
           df.withColumn("tld", Fc.tld_col(F.col("host"))).collect()}
    for h in hosts:
        assert got[h] == get_tld(h), (h, got[h], get_tld(h))


def test_robots_allowed_col_matches_kernel(spark):
    """functions/filters.robots_allowed_col must agree with
    kernel/robots.match_path on every (patterns, path) pair."""
    from pyspark.sql import functions as F

    from open_source_search_engine_spark.functions import filters as Fc
    from open_source_search_engine_spark.kernel.robots import match_path

    cases = [
        (["/private/"], "/private/x.html"),
        (["/private/"], "/public/x.html"),
        (["/a", "/b/"], "/b/c"),
        (["cgi-bin"], "/cgi-bin/run"),      # no leading slash form
        (["CGI-bin"], "/cgi-BIN/run"),      # case-insensitive
        ([], "/anything"),
        (["/exact"], "/exact"),
        (["/longer-than-path"], "/lo"),
        (["/q?x="], "/q?x=1"),
        (["/"], "/"),
    ]
    rows = [(pats, path) for pats, path in cases]
    df = spark.createDataFrame(rows, "disallow array<string>, pc string")
    got = [r.ok for r in df.select(
        Fc.robots_allowed_col(F.col("disallow"), F.col("pc"))
        .alias("ok")).collect()]
    want = [match_path(p, pc) for p, pc in cases]
    assert got == want, list(zip(cases, got, want))
    # null pattern list (host with no robots row) => allowed
    dfn = spark.createDataFrame([(None, "/x")],
                                "disallow array<string>, pc string")
    assert dfn.select(Fc.robots_allowed_col(
        F.col("disallow"), F.col("pc")).alias("ok")).collect()[0].ok


def _want_page(html, url, host, harvest):
    """Kernel composition the crawl round ran as five UDFs before the
    fusion: extract + dedup, nofollow dropped after the dedup, then
    uh48/host/domain per link; gb hash32 of the page; parent domain."""
    import numpy as np
    links = []
    if html is not None and harvest:
        for ln in extract.dedup_links(
                extract.extract_links(html.decode("utf-8", "replace"),
                                      url or "")):
            if ln.nofollow:
                continue
            lh = urlnorm.get_host(ln.url) if ln.url else ""
            links.append((ln.url, ln.is_rss, gbhash.uh48(ln.url), lh,
                          urlnorm.get_domain(lh) if lh else ""))
    ch = 0 if html is None else \
        np.int32(np.uint32(gbhash.hash32(html))).item()
    return ch, urlnorm.get_domain(host) if host else "", links


def _edge_pages():
    nf_then_followed = (b'<html><body>'
                        b'<a rel="nofollow" href="/dup">x</a>'
                        b'<a href="/kept">k</a>'
                        b'<a href="/dup">y</a></body></html>')
    self_link = (b'<html><body><a href="http://e.com/self">me</a>'
                 b'<a href="http://f.org/o">o</a></body></html>')
    return [
        (None, "http://e.com/gone", "e.com", True),          # null html
        (self_link, "http://e.com/self", "e.com", False),    # harvest off
        (nf_then_followed, "http://e.com/p", "e.com", True),
        (self_link, "http://e.com/self", "e.com", True),
        (self_link, "", "", True),
        (self_link, None, None, True),
    ]


def test_fetched_page_udf_matches_kernels(corpus_df, spark):
    """The fused per-page UDF equals the kernel composition on every
    corpus page and on the edge cases (null html, harvest off, a url
    whose first copy is nofollow, a self-link, '' and None base urls)."""
    rows = [(bytes(r.html), r.url, urlnorm.get_host(r.url), True)
            for r in corpus_df.select("html", "url").collect()]
    rows += _edge_pages()
    df = spark.createDataFrame(
        rows, "html binary, url string, host string, harvest boolean")
    got = (df.withColumn("p", udfs.fetched_page_udf(
                F.col("html"), F.col("url"), F.col("host"),
                F.col("harvest")))
           .select("html", "url", "host", "harvest", "p").collect())
    assert len(got) == len(rows)
    n_links = 0
    for r in got:
        html = None if r.html is None else bytes(r.html)
        ch, pdom, links = _want_page(html, r.url, r.host, r.harvest)
        assert r.p.content_hash32 == ch, r.url
        assert r.p.parent_domain == pdom, r.url
        assert [tuple(ln) for ln in r.p.links] == links, r.url
        n_links += len(links)
    assert n_links > len(rows)  # the corpus really links
    by_url = {(r.url, r.harvest): [ln.url for ln in r.p.links]
              for r in got}
    # a nofollow first copy drops the url even though a later copy is
    # followed (dedup runs before the nofollow filter)
    assert by_url[("http://e.com/p", True)] == ["http://e.com/kept"]
    # self-links stay in the UDF output; run_round filters them on uh48
    assert "http://e.com/self" in by_url[("http://e.com/self", True)]
    assert by_url[("http://e.com/self", False)] == []
    assert by_url[("http://e.com/gone", True)] == []


def test_url_identity_udf_matches_kernels(corpus_df, spark):
    """The fused seed-url UDF equals canonicalize → uh48 + host → domain
    on every corpus url plus raw, empty, null and non-http urls."""
    urls = [r.url for r in corpus_df.select("url").collect()]
    urls += ["HTTP://Example.COM:80/a/../b#frag", "example.org/path",
             "", None, "ftp://files.example.net/pub/x.tgz",
             "mailto:someone@example.com", "javascript:void(0)",
             "http://a.b.co.uk/x?PHPSESSID=737aec14eb7b360983d4fe39395"]
    df = spark.createDataFrame([(u,) for u in urls], "raw string")
    got = (df.withColumn("id", udfs.url_identity_udf(F.col("raw")))
           .select("raw", "id").collect())
    assert len(got) == len(urls)
    for r in got:
        c = urlnorm.canonicalize(r.raw) if r.raw else ""
        h = urlnorm.get_host(c) if c else ""
        want = (c, gbhash.uh48(c), h, urlnorm.get_domain(h) if h else "")
        assert tuple(r.id) == want, r.raw
