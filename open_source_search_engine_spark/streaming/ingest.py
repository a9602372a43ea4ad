"""Structured-Streaming ingestion of seed/add-url feeds (A1 continuous).

The reference's /addurl + PageInject endpoints stream single URLs into the
frontier (Spider.cpp:14916, PageAddUrl.cpp).  The streaming analog: watch a
directory (or any streaming source) of seed files, canonicalize + hash +
resolve first_ip, and append well-formed SpiderRequest rows to the frontier
via foreachBatch — each micro-batch is one snapshot commit, mirroring the
round-commit semantics.

Event-time/late-data semantics (SURVEY §2.K): requests carry added_time_ms;
the scheduler rejects far-future times (corruption filter,
Spider.cpp:4495-4512), and a watermark on added_time bounds state for the
dedup aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import joins, udfs
from ..sources.snapstore import SnapshotTable

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
    per micro-batch via the snapshot commit + streaming checkpoint."""
    import os
    hostmeta = spark.read.parquet(hostmeta_path)
    # one metadata-cheap count at stream setup feeds the broadcast size
    # gate; it is NOT per-trigger work
    n_hosts = hostmeta.count()
    # the canonical frontier constructor: streaming appends are plain
    # parquet deltas either way (bucketing re-established at compaction),
    # but the spec must agree with the batch scheduler's
    from ..sources.snapstore import (
        annihilate, frontier_table, read_negatives,
    )
    table = frontier_table(workdir, "requests")
    stream = to_requests(seed_stream(spark, seed_dir), hostmeta,
                         n_hosts=n_hosts)

    # C5 seen-route for the stream (VERDICT r4 Next #8): the r4 sink
    # anti-joined EVERY micro-batch against the full requests table — a
    # frontier scan per trigger.  Now a cuckoo filter is built ONCE at
    # stream start (one frontier scan), cached, probed per batch
    # (broadcast blobs + mapInPandas over the tiny batch — no shuffle),
    # and grown IN PLACE with each batch's accepted keys.  The exact
    # table is consulted only for maybe-seen rows (a re-fed url or a
    # ~2^-13 fingerprint collision), so a busy fresh-seed feed never
    # rescans the frontier.  Routing-only: membership decisions stay
    # exact.  Lineage records `frontier_scanned` per commit so tests —
    # and operators — can see the scans that did happen.  Both the build
    # and the exact check read the requests the round's seen set reads:
    # negative keys (delete_urls) annihilate older rows first, so a
    # deleted url fed again after its delete is accepted afresh.
    bits = 6
    _state: dict = {"filt": None}

    def _filter_cols(df: DataFrame) -> DataFrame:
        return df.select("bucket", "n_buckets", "table")

    def _materialize(df: DataFrame) -> DataFrame:
        c = df.cache()
        c.count()
        return c

    def _seen_requests(sess: SparkSession) -> DataFrame | None:
        existing = table.read(sess)
        # the negatives manifest decides: no deletes, no extra job
        negs = read_negatives(sess, workdir)
        if existing is None or negs is None:
            return existing
        return annihilate(existing, negs, "added_time_ms")

    def _init_filter(sess: SparkSession) -> DataFrame:
        from ..operators.cuckoo import build_cuckoo
        existing = _seen_requests(sess)
        seen = existing.select("uh48").distinct() if existing is not None \
            else sess.createDataFrame([], "uh48 long")
        return _materialize(build_cuckoo(seen, partition_bits=bits))

    def sink(batch_df: DataFrame, batch_id: int):
        from ..operators.cuckoo import cuckoo_insert, cuckoo_maybe_seen
        from ..sources.snapstore import with_salt
        if batch_df.isEmpty():
            return
        sess = batch_df.sparkSession
        if _state["filt"] is None:
            _state["filt"] = _init_filter(sess)
        routed = cuckoo_maybe_seen(batch_df, _state["filt"],
                                   partition_bits=bits,
                                   mode="broadcast").persist()
        accepted = routed.filter(~F.col("maybe_seen")).drop("maybe_seen")
        maybe = routed.filter(F.col("maybe_seen")).drop("maybe_seen")
        scanned = False
        if not maybe.isEmpty():
            scanned = True
            existing = _seen_requests(sess)
            if existing is not None:
                maybe = maybe.join(existing.select("uh48").distinct(),
                                   "uh48", "left_anti")
            accepted = accepted.unionByName(maybe)
        accepted = accepted.persist()
        # ONE accounting job per micro-batch (VERDICT r5 Next #7): the
        # insert result's summed n_requested IS the accepted count
        # (keys are unique within a batch — dropDuplicates upstream,
        # and the accepted/maybe split is disjoint), so the old
        # separate count() folds into the capacity check.
        grown = cuckoo_insert(_state["filt"],
                              accepted.select("uh48"),
                              partition_bits=bits).persist()
        row = grown.agg(
            F.coalesce(F.sum("n_requested"), F.lit(0)).alias("rq"),
            F.coalesce(F.sum("n_applied"), F.lit(0)).alias("ap")
        ).collect()[0]
        n = int(row.rq)
        if n:
            table.append(with_salt(accepted),
                         {"stream_batch": batch_id,
                          "source": "seed_stream",
                          "frontier_scanned": scanned})
            old = _state["filt"]
            if n == int(row.ap):
                _state["filt"] = _materialize(_filter_cols(grown))
            else:
                # over capacity: one rebuild from the (post-append)
                # exact table — the amortized-doubling path
                _state["filt"] = _init_filter(sess)
            old.unpersist()
        grown.unpersist()
        accepted.unpersist()
        routed.unpersist()

    writer = (stream.writeStream.foreachBatch(sink)
              .option("checkpointLocation", checkpoint_dir))
    if once:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return None
    return writer.start()
