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
from ..sources.snapstore import (
    frontier_table, seen_parts, url_seen_synced, url_seen_table, with_salt,
)

SEED_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("added_time_ms", T.LongType()),
])


def seed_stream(spark: SparkSession, seed_dir: str) -> DataFrame:
    return (spark.readStream.schema(SEED_SCHEMA)
            .option("maxFilesPerTrigger", 16)
            .json(seed_dir))


def to_requests(stream: DataFrame, hostmeta: DataFrame,
                n_hosts: int | None = None,
                broadcast_max_bytes: int =
                joins.DEFAULT_BROADCAST_MAX_BYTES) -> DataFrame:
    """Canonicalize → uh48 + host + domain (one url_identity_udf pass, as
    the batch seeder) → first_ip; drop unknown hosts (DNS-fail analog).

    The hostmeta join is broadcast ONLY when the caller supplies a host
    count whose estimated bytes fit the driver budget (same size gate as
    the batch scheduler's `_bcast_hosts`, functions/joins.py) — a
    streaming trigger that unconditionally broadcast 10^7-10^9 hosts
    would OOM the driver every micro-batch (VERDICT r3 item 3).  With
    n_hosts unknown, no hint: Spark decides by measured size."""
    ig = ["in_google"] if "in_google" in hostmeta.columns else []
    dim = joins.broadcast_if_small(
        hostmeta.select("host", "first_ip", *ig),
        n_hosts, max_bytes=broadcast_max_bytes)
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
            # m_inGoogle rides from the hostmeta tag when ingested
            # (nullable: no tag = valid bit off), like the batch seeder
            *([F.col("in_google").cast("boolean").alias("in_google")]
              if ig else []),
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
    # the canonical frontier constructor: streaming appends are plain
    # parquet deltas either way (bucketing re-established at compaction),
    # but the spec must agree with the batch scheduler's
    table = frontier_table(workdir, "requests")
    url_seen = url_seen_table(workdir)

    # C1 + C5 per micro-batch, the round's exact seen check: the batch
    # is keyed and deduped on its own (stateless — nothing carries over
    # between triggers), then anti-joined against each seen part.
    # Synced, those are the uh48-bucketed url_seen base (the seen side
    # is not shuffled) and its deltas; after an out-of-band requests
    # write, the annihilated requests scan, recorded as
    # `frontier_scanned` in the commit lineage.  Negative keys
    # (delete_urls) annihilate older rows first, so a deleted url fed
    # again after its delete is accepted afresh.  A url fed in an
    # earlier trigger is in url_seen by now, and a replayed batch finds
    # its own rows there, so a retry appends nothing twice.
    def sink(batch_df: DataFrame, batch_id: int):
        sess = batch_df.sparkSession
        empty = not table.exists()
        synced = url_seen_synced(workdir)
        accepted = to_requests(batch_df, hostmeta, n_hosts=n_hosts)
        for p in seen_parts(sess, workdir):
            accepted = accepted.join(p, "uh48", "left_anti")
        accepted = with_salt(accepted).persist()
        n = accepted.count()
        if n:
            table.append(accepted, {"stream_batch": batch_id,
                                    "source": "seed_stream", "rows": n,
                                    "frontier_scanned": not (synced or
                                                             empty)})
            # keep url_seen mirroring requests: a delta when it is
            # synced, a new base (as seed() writes) when the frontier
            # was empty; otherwise compaction rebuilds it
            if synced or empty:
                (url_seen.overwrite if empty else url_seen.append)(
                    accepted.select("uh48", F.col("added_time_ms")
                                    .alias("last_added_ms")),
                    {"source": "seed_stream", "rows": n,
                     "synced_requests_snapshot": table.current_snapshot()})
        accepted.unpersist()

    writer = (seed_stream(spark, seed_dir).writeStream.foreachBatch(sink)
              .option("checkpointLocation", checkpoint_dir))
    q = (writer.trigger(availableNow=True) if once else writer).start()
    if once:
        q.awaitTermination()
    return q
