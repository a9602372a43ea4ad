"""Structured-Streaming ingestion of seed/add-url feeds (A1 continuous).

The reference's /addurl + PageInject endpoints stream single URLs into the
frontier (Spider.cpp:14916, PageAddUrl.cpp).  The streaming analog: watch a
directory (or any streaming source) of seed files, canonicalize + hash +
resolve first_ip, and append well-formed SpiderRequest rows to the frontier
via foreachBatch — each micro-batch is one snapshot commit, mirroring the
round-commit semantics.

Event-time/late-data semantics (SURVEY §2.K): requests carry added_time_ms;
the scheduler rejects far-future times (corruption filter,
Spider.cpp:4495-4512).  The query keeps no state across triggers: each
micro-batch is deduped on its own and checked exactly against the
url_seen set, as a round checks its harvested links, so no watermark is
needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import joins, udfs
from ..plans.compaction import upgrade_legacy_state
from ..sources.snapstore import append_requests, seen_parts, with_salt

SEED_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("added_time_ms", T.LongType()),
])


def seed_stream(spark: SparkSession, seed_dir: str) -> DataFrame:
    return (spark.readStream.schema(SEED_SCHEMA)
            .option("maxFilesPerTrigger", 16)
            .json(seed_dir))


def host_dim(hostmeta: DataFrame) -> DataFrame:
    """The host dimension every request builder joins: host → first_ip,
    plus the site's ``in_google`` tag when hostmeta carries one."""
    return hostmeta.select(
        "host", "first_ip",
        *[c for c in ("in_google",) if c in hostmeta.columns])


def in_google_col(hostmeta: DataFrame):
    """m_inGoogle's in-crawl source (Spider.cpp:12182-12205: the bit
    comes from the site's TagRec).  With an ``in_google`` hostmeta
    column (this rebuild's tagdb analog) every request threads it
    through: NULL = site has no tag = valid bit off, and ingoogle rules
    are SKIPPED for the row exactly like hascontactinfo without a reply.
    Without the column: the always-valid False model, as the oracle's
    add_url writes it."""
    if "in_google" in hostmeta.columns:
        return F.col("in_google").cast("boolean").alias("in_google")
    return F.lit(False).alias("in_google")


def to_requests(stream: DataFrame, hostmeta: DataFrame,
                n_hosts: int | None = None,
                broadcast_max_bytes: int =
                joins.DEFAULT_BROADCAST_MAX_BYTES) -> DataFrame:
    """Add-url rows (SpiderRequest::setFromAddUrl analog), the one
    builder behind both ``CrawlDriver.seed`` and the streaming ingest:
    canonicalize → uh48 + host + domain (one url_identity_udf pass) →
    first_ip; drop unknown hosts (DNS-fail analog); one row per uh48.

    The hostmeta join is broadcast ONLY when the caller supplies a host
    count whose estimated bytes fit the driver budget (same size gate as
    the batch scheduler's `_bcast_hosts`, functions/joins.py) — a
    streaming trigger that unconditionally broadcast 10^7-10^9 hosts
    would OOM the driver every micro-batch (VERDICT r3 item 3).  With
    n_hosts unknown, no hint: Spark decides by measured size."""
    dim = joins.broadcast_if_small(
        host_dim(hostmeta), n_hosts, max_bytes=broadcast_max_bytes)
    out = (
        stream
        # one Python pass per fed url: canonical url, uh48, host, domain
        .withColumn("_id", udfs.url_identity_udf(F.col("url")))
        .select("_id.*", "added_time_ms")
        .filter(F.length("url") > 0)
        .join(dim, "host")
        .select(
            "url", "uh48",
            F.col("first_ip").cast("long").alias("first_ip"), "host",
            "domain",
            F.lit(0).alias("hop_count"),
            F.col("added_time_ms").cast("long"),
            F.col("added_time_ms").cast("long").alias("discovery_time_ms"),
            F.lit(True).alias("is_addurl"),
            F.lit(False).alias("is_injected"),
            F.lit(False).alias("is_reindex"),
            F.lit(False).alias("same_dom"),
            F.lit(False).alias("same_host"),
            F.lit(False).alias("parent_is_rss"),
            F.lit(False).alias("parent_is_sitemap"),
            F.lit(0).alias("page_num_inlinks"),
            F.lit(False).alias("is_rss"),
            F.lit(False).alias("is_new_outlink"),
            F.lit(False).alias("was_parent_indexed"),
            F.lit(False).alias("is_docid_based"),
            F.lit(False).alias("has_authority_inlink"),
            in_google_col(hostmeta),
            F.lit(False).alias("parent_is_pingserver"),
        )
        .dropDuplicates(["uh48"])  # per-batch dup cache (C1)
    )
    return out


def run_seed_ingest(spark: SparkSession, seed_dir: str, hostmeta_path: str,
                    workdir: str, checkpoint_dir: str,
                    once: bool = True):
    """foreachBatch append into the frontier requests table; exactly-once
    per micro-batch via the snapshot commit + streaming checkpoint.
    Returns the query: terminated when ``once``, else running."""
    hostmeta = spark.read.parquet(hostmeta_path)
    # one metadata-cheap count at stream setup feeds the broadcast size
    # gate; it is NOT per-trigger work
    n_hosts = hostmeta.count()
    # open the store as CrawlDriver does: a url_seen that a torn sink
    # write left stale is rebuilt before the batch replays
    upgrade_legacy_state(spark, workdir)

    # C1 + C5 per micro-batch, the round's exact seen check: the batch
    # is keyed and deduped on its own (stateless — nothing carries over
    # between triggers), then anti-joined against each url_seen part
    # (the uh48-bucketed base — the seen side is not shuffled — and its
    # deltas).  Negative keys (delete_urls) annihilate older rows first,
    # so a deleted url fed again after its delete is accepted afresh.  A
    # url fed in an earlier trigger is in url_seen by now, and a
    # replayed batch finds its own rows there, so a retry appends
    # nothing twice.
    def sink(batch_df: DataFrame, batch_id: int):
        accepted = to_requests(batch_df, hostmeta, n_hosts=n_hosts)
        for p in seen_parts(batch_df.sparkSession, workdir):
            accepted = accepted.join(p, "uh48", "left_anti")
        accepted = with_salt(accepted).persist()
        n = accepted.count()
        if n:
            append_requests(workdir, accepted,
                            {"stream_batch": batch_id,
                             "source": "seed_stream", "rows": n})
        accepted.unpersist()

    writer = (seed_stream(spark, seed_dir).writeStream.foreachBatch(sink)
              .option("checkpointLocation", checkpoint_dir))
    q = (writer.trigger(availableNow=True) if once else writer).start()
    if once:
        q.awaitTermination()
    return q
