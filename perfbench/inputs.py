"""Seeded inputs and reference results for the crawl-round benchmark.

Everything here is a pure function of the workload seed and size: the
same seed gives byte-identical corpora, frontiers, feeds and oracle
results, so a result cached under the seed stays valid for every later
run.  "full" is the benchmark size; "tiny" is the self-test size.
"""

from __future__ import annotations

import json
import os

SIZES = {
    # linked_crawl: a thousand hosts and 600 seed urls; the round
    # schedules its budget of them, fetches those pages and harvests
    # their links.
    "linked_crawl": {
        "full": dict(n_hosts=1000, mean_pages=3, n_seeds=600, budget=300),
        "tiny": dict(n_hosts=60, mean_pages=3, n_seeds=6, budget=40),
    },
    # ingest_compact: a mature frontier (gen_frontier rows, ~30% with a
    # reply) fed by a seed feed in which 30% of the urls are already
    # stored requests and the rest are new urls on known hosts.  The
    # frontier is generated once per checkout from FRONTIER_SEED; the
    # workload seed draws the feed.
    "ingest_compact": {
        "full": dict(rows=30_000, n_ips=3000, budget=1000, feed_urls=2000,
                     feed_files=4, refed_share=0.3),
        "tiny": dict(rows=2000, n_ips=200, budget=100, feed_urls=200,
                     feed_files=2, refed_share=0.3),
    },
}

T0_MS = 1_600_000_000_000
FRONTIER_SEED = 1


def crawl_config(budget: int):
    from open_source_search_engine_spark.oracle.crawler import CrawlConfig
    return CrawlConfig(budget=budget, round_ms=600_000)


def _cached(path: str, compute):
    """JSON value at ``path``, computed and stored on the first call."""
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    val = compute()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(val, f)
    os.replace(tmp, path)
    return val


# ---- linked_crawl: pure Python, prepared before the measured process ------

def linked_corpus(cache_dir: str, seed: int, size: dict) -> dict[str, str]:
    """synthweb pages/hostmeta/seeds parquet for ``seed`` (cached)."""
    from open_source_search_engine_spark.sources import synthweb
    d = os.path.join(cache_dir, "corpus")
    paths = {k: os.path.join(d, f"{k}.parquet")
             for k in ("pages", "hostmeta", "seeds")}
    if not os.path.exists(os.path.join(d, "_done")):
        synthweb.write_corpus(d, n_hosts=size["n_hosts"],
                              mean_pages=size["mean_pages"],
                              n_seeds=size["n_seeds"], seed=seed)
        open(os.path.join(d, "_done"), "w").close()
    return paths


def linked_oracle(cache_dir: str, paths: dict[str, str], size: dict) -> dict:
    """OracleCrawler schedule, url_seen set and round metrics for the
    linked crawl's round (cached per seed; never timed)."""
    def compute():
        import pandas as pd

        from open_source_search_engine_spark.oracle.crawler import (
            OracleCrawler,
        )
        oc = OracleCrawler(pd.read_parquet(paths["pages"]),
                           pd.read_parquet(paths["hostmeta"]),
                           pd.read_parquet(paths["seeds"]),
                           crawl_config(size["budget"]))
        st = oc.run(1)
        return {"schedule": [[s["round"], s["seq"], s["url"]]
                             for s in st.schedule],
                "url_seen": sorted(st.url_seen),
                "metrics": [[m["round"], m["scheduled"], m["fetched_ok"],
                             m["fetch_errors"], m["new_urls"]]
                            for m in st.metrics]}
    return _cached(os.path.join(cache_dir, "oracle.json"), compute)


# ---- ingest_compact: frontier made once with Spark, feed per seed --------

def frontier_paths(frontier_dir: str, feed_dir: str) -> dict[str, str]:
    paths = {k: os.path.join(frontier_dir, f"{k}.parquet")
             for k in ("requests", "replies", "hostmeta", "pages")}
    paths["feed"] = os.path.join(feed_dir, "feed")
    paths["feed_meta"] = os.path.join(feed_dir, "feed.json")
    return paths


def write_frontier(spark, frontier_dir: str, size: dict) -> None:
    """The mature frontier + replies + hostmeta + empty pages.

    uh48 is recomputed with the gb hash (``uh48_udf``) so re-fed feed
    urls, which streaming ingest hashes the same way, really collide
    with stored requests.  Every fifth url moves under ``/private/`` and
    hostmeta cycles through ``synthweb.ROBOTS_TEMPLATES``, so the robots
    prefix match rejects some candidates."""
    from pyspark.sql import functions as F

    from open_source_search_engine_spark.functions import udfs
    from open_source_search_engine_spark.sources.frontier_gen import (
        gen_frontier, gen_replies_for,
    )
    paths = frontier_paths(frontier_dir, frontier_dir)
    raw = gen_frontier(spark, size["rows"], seed=FRONTIER_SEED,
                       n_ips=size["n_ips"], partitions=4)
    req = (raw.drop("flags")
           .withColumn("url", F.regexp_replace(
               "url", r"/page/(\d*[05])\.html$", "/private/$1.html"))
           .withColumn("uh48", udfs.uh48_udf(F.col("url")))
           .withColumn("domain", F.regexp_replace("host", r"^www\.", ""))
           .withColumn("is_rss", F.lit(False))
           .withColumn("is_new_outlink", F.lit(False))
           .withColumn("was_parent_indexed", F.lit(True))
           .withColumn("is_docid_based", F.lit(False))
           .withColumn("has_authority_inlink", F.lit(False))
           .withColumn("in_google", F.lit(False))
           .withColumn("parent_is_pingserver", F.lit(False)))
    req.coalesce(1).write.parquet(paths["requests"])
    req = spark.read.parquet(paths["requests"])
    gen_replies_for(req, seed=FRONTIER_SEED).coalesce(1).write.parquet(
        paths["replies"])
    _write_side_tables(paths)


def _write_side_tables(paths: dict[str, str]) -> None:
    """hostmeta (robots.txt cycling through ``synthweb.ROBOTS_TEMPLATES``
    by first_ip) and an empty pages table, written without Spark."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from open_source_search_engine_spark.sources import synthweb
    hosts = (pd.read_parquet(paths["requests"], columns=["host", "first_ip"])
             .drop_duplicates().sort_values("host"))
    k = hosts["first_ip"] % len(synthweb.ROBOTS_TEMPLATES)
    hosts["robots_txt"] = [synthweb.ROBOTS_TEMPLATES[i] or "" for i in k]
    hosts["robots_status"] = [
        404 if synthweb.ROBOTS_TEMPLATES[i] is None else 200 for i in k]
    os.makedirs(paths["hostmeta"])
    pq.write_table(pa.Table.from_pandas(hosts, preserve_index=False).cast(
        pa.schema([("host", pa.string()), ("first_ip", pa.int64()),
                   ("robots_txt", pa.string()),
                   ("robots_status", pa.int32())])),
        os.path.join(paths["hostmeta"], "part-0.parquet"))
    os.makedirs(paths["pages"])
    pq.write_table(pa.schema([("url", pa.string()), ("html", pa.binary()),
                              ("lang", pa.string())]).empty_table(),
                   os.path.join(paths["pages"], "part-0.parquet"))


def write_feed(paths: dict[str, str], seed: int, size: dict) -> None:
    """Seed-file feed: refed_share of the urls re-feed stored requests,
    the rest are fresh urls on known hosts.  Records which is which."""
    import numpy as np
    import pandas as pd
    req = pd.read_parquet(paths["requests"], columns=["url", "host"])
    rng = np.random.default_rng(seed)
    n = size["feed_urls"]
    n_old = int(n * size["refed_share"])
    old = req["url"].iloc[rng.choice(len(req), n_old, replace=False)]
    hosts = req["host"].iloc[rng.choice(len(req), n - n_old)]
    new = [f"http://{h}/fresh/{seed}-{i}.html"
           for i, h in enumerate(hosts)]
    urls = list(old) + new
    order = rng.permutation(len(urls))
    urls = [urls[i] for i in order]
    os.makedirs(paths["feed"])
    per = -(-len(urls) // size["feed_files"])
    for f in range(size["feed_files"]):
        with open(os.path.join(paths["feed"], f"feed-{f:03d}.json"),
                  "w") as out:
            for u in urls[f * per:(f + 1) * per]:
                out.write(json.dumps({"url": u, "added_time_ms": T0_MS})
                          + "\n")
    with open(paths["feed_meta"], "w") as out:
        json.dump({"urls": urls, "new": len(new), "refed": n_old}, out)


def ingest_expected(paths: dict[str, str], size: dict) -> dict:
    """Accepted feed urls (the new ones only) and url_seen rows after
    the compaction (the frontier plus those)."""
    with open(paths["feed_meta"]) as f:
        feed = json.load(f)
    return {"accepted": feed["new"], "url_seen": size["rows"] + feed["new"]}


def main() -> None:
    """Prepare the ingest_compact frontier in its own Spark process:
    ``inputs.py <frontier_dir> <size> <cores>``."""
    import sys

    from open_source_search_engine_spark.session import get_spark
    frontier_dir, size, cores = sys.argv[1], sys.argv[2], int(sys.argv[3])
    spark = get_spark(app_name="perfbench-prep", cpus=cores)
    try:
        write_frontier(spark, frontier_dir,
                       SIZES["ingest_compact"][size])
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
