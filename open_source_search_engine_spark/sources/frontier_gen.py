"""Deterministic large-scale synthetic frontier generator (FIXTURES.md §10).

Generates SpiderRequest-shaped rows as a pure function of (n, seed) using
only column math over ``spark.range`` — no Python, no RNG state, fully
parallel, so a 10^8-row frontier materializes at scan speed.  Zipf-ish IP
distribution (hot head) exercises the skew path the reference handles by
pinning one IP per host (Spider.cpp:6171) and we handle with capped windows
+ AQE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

N_IPS = 100_000
ZIPF_EXP = 1.1


def gen_frontier(spark: SparkSession, n: int, seed: int = 42,
                 n_ips: int = N_IPS, partitions: int | None = None
                 ) -> DataFrame:
    """Synthetic bench frontier rows: url, uh48, first_ip, host,
    hop_count, added_time_ms, discovery_time_ms, the seven
    plans/scheduler.REQUEST_SCHEMA flag columns is_addurl ...
    parent_is_sitemap with page_num_inlinks, and the packed ``flags``
    word (``pack_request_flags``).  NOT a REQUEST_SCHEMA row: ``domain``
    and the seven later flag columns (is_rss ... parent_is_pingserver)
    are absent, so a loader into crawl state drops ``flags`` and adds
    those eight."""
    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism * 2
    df = spark.range(0, n, 1, partitions)
    u = (F.xxhash64(F.col("id"), F.lit(seed)))
    # uniform (0,1] from hash
    uni = (F.pmod(u, F.lit(1_000_000_000)).cast("double") + 1.0) / 1e9
    # zipf-ish rank via inverse-power transform: rank in [1, n_ips]
    rank = F.least(
        F.lit(n_ips),
        F.ceil(F.pow(F.lit(float(n_ips)), F.pow(uni, F.lit(ZIPF_EXP))))
    ).cast("long")
    t0 = 1_600_000_000_000
    df = (df
          .withColumn("first_ip", (F.lit(0x0A000000) + rank))
          .withColumn("hostn",
                      F.pmod(F.xxhash64("id", F.lit(seed + 1)),
                             F.lit(4)))
          .withColumn("host",
                      F.concat(F.when(F.col("hostn") == 0, F.lit("www."))
                               .otherwise(F.lit("")),
                               F.lit("h"),
                               F.col("first_ip").cast("string"),
                               F.lit("-"), F.col("hostn").cast("string"),
                               F.lit(".com")))
          .withColumn("url",
                      F.concat(F.lit("http://"), F.col("host"),
                               F.lit("/page/"),
                               F.col("id").cast("string"),
                               F.lit(".html")))
          # synthetic uh48: 48-bit slice of xxhash64(url) — bench only;
          # the parity path uses the exact gb hash UDF
          .withColumn("uh48",
                      F.pmod(F.xxhash64("url"), F.lit(1 << 48)))
          .withColumn("hop_count",
                      F.pmod(F.xxhash64("id", F.lit(seed + 2)),
                             F.lit(6)).cast("int"))
          .withColumn("added_time_ms",
                      (F.lit(t0) - F.pmod(F.xxhash64("id",
                                                     F.lit(seed + 3)),
                                          F.lit(86_400_000))))
          .withColumn("discovery_time_ms", F.col("added_time_ms"))
          .withColumn("is_addurl", F.col("hop_count") == 0)
          .withColumn("is_injected", F.lit(False))
          .withColumn("is_reindex", F.lit(False))
          .withColumn("same_dom",
                      F.pmod(F.xxhash64("id", F.lit(seed + 4)),
                             F.lit(2)) == 0)
          .withColumn("same_host", F.lit(False))
          .withColumn("parent_is_rss",
                      F.pmod(F.xxhash64("id", F.lit(seed + 5)),
                             F.lit(19)) == 0)
          .withColumn("parent_is_sitemap", F.lit(False))
          .withColumn("page_num_inlinks",
                      F.pmod(F.xxhash64("id", F.lit(seed + 6)),
                             F.lit(12)).cast("int"))
          .drop("hostn", "id"))
    return pack_request_flags(df)


def pack_request_flags(df: DataFrame) -> DataFrame:
    """The stored SpiderRequest flag word: the reference computes the
    url-derived predicate bits ONCE at request-build time and stores
    them in the spiderdb record (m_hasMediaExtension, m_isWWWSubdomain,
    m_isUrlPermalinkFormat ... Spider.h:592-698) so the spider loop
    never re-parses url strings.  Same here: hop_count,
    page_num_inlinks and the nine boolean predicates bit-pack into one
    long at GENERATION time — scheduling reads 4 narrow columns
    (uh48, first_ip, added_time_ms, flags), the url string is only
    re-read to hydrate the scheduled winners.  The two counters are
    clamped to their 8-bit fields (mirrors the kernel's cap-20 inlink
    semantics) so overflow can't carry into the flag bits."""
    from ..functions import filters as Fc

    def bit(col, n):
        return F.shiftleft(F.col(col).cast("long"), n)

    return (
        Fc.attach_url_predicates(df)
        .withColumn("_hc", F.least(F.col("hop_count").cast("long"),
                                   F.lit(255)))
        .withColumn("_pi", F.least(F.col("page_num_inlinks").cast("long"),
                                   F.lit(255)))
        .withColumn(
            "flags",
            (F.col("_hc") +
             F.shiftleft(F.col("_pi"), 8) +
             bit("is_addurl", 16) + bit("is_injected", 17) +
             bit("is_reindex", 18) + bit("parent_is_rss", 19) +
             bit("parent_is_sitemap", 20) + bit("_p_ismedia", 21) +
             bit("_p_iswww", 22) + bit("_p_isroot", 23) +
             bit("_p_insitelist", 24)))
        .drop("_hc", "_pi", "_p_ismedia", "_p_iswww", "_p_isroot",
              "_p_insitelist"))


def gen_replies_for(frontier: DataFrame, fraction_seen: float = 0.3,
                    seed: int = 42) -> DataFrame:
    """A latest-reply set for ~fraction of the frontier (deterministic),
    with every plans/scheduler.REPLY_SCHEMA column."""
    t0 = 1_600_000_000_000
    h = F.xxhash64("uh48", F.lit(seed + 7))
    seen = frontier.filter(
        F.pmod(h, F.lit(1000)) < int(fraction_seen * 1000))
    return seen.select(
        "uh48", "first_ip",
        (F.lit(t0) - 43_200_000 -
         F.pmod(F.xxhash64("uh48", F.lit(seed + 8)),
                F.lit(43_200_000))).alias("spidered_time_ms"),
        F.when(F.pmod(F.xxhash64("uh48", F.lit(seed + 9)),
                      F.lit(20)) == 0, F.lit(2))
         .otherwise(F.lit(0)).alias("err_code"),
        F.when(F.pmod(F.xxhash64("uh48", F.lit(seed + 9)),
                      F.lit(20)) == 0, F.lit(1))
         .otherwise(F.lit(0)).alias("err_count"),
        F.lit(200).alias("http_status"),
        F.lit(True).alias("is_indexed"),
        F.lit("en").alias("lang"),
        F.lit(0).alias("content_hash32"),
        F.lit(0.0).alias("percent_changed_per_day"),
        F.lit(0).alias("new_requests"),
        F.lit(False).alias("has_contact_info"),
        F.lit(False).alias("has_address"),
    )
