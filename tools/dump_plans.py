#!/usr/bin/env python
"""Dump .explain("formatted") for every hot query path into plans/r06/.

Usage: python tools/dump_plans.py <suffix>   (suffix = before|after)

Covers:
- the 9 headline queries over $SPARK_GRAFT_SF_DIR (default sf0.1)
- the PRODUCT candidate plan + scheduled plan over a toy synthweb crawl
  after compaction (plan SHAPE is data-size independent)
- the new-request exact-confirm anti-join against the url_seen table
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(
    os.path.abspath(__file__)), ".."))

SUFFIX = sys.argv[1] if len(sys.argv) > 1 else "before"
OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                   "..", "plans", "r06")
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def dump(name: str, df) -> None:
    p = os.path.join(OUT, f"{name}_{SUFFIX}.txt")
    with open(p, "w") as f:
        f.write(df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"))
    print(f"wrote {p}")


def main():
    import tempfile

    from open_source_search_engine_spark.session import get_spark
    spark = get_spark(app_name="dump-plans", cpus=4)

    import __spark_entry__ as entrymod
    qs = entrymod.queries()
    for name in ("latest_reply", "winners_topk", "politeness_spacing",
                 "frontier_dedup", "agg_pricing", "dedup_exact",
                 "minhash_lsh", "cosine_topk", "token_counts"):
        dump(name, qs[name](spark, SF_DIR))

    # product round: candidate + scheduled plans over compacted state
    from pyspark.sql import functions as F

    from open_source_search_engine_spark.oracle.crawler import CrawlConfig
    from open_source_search_engine_spark.plans import compaction
    from open_source_search_engine_spark.plans.scheduler import CrawlDriver
    from open_source_search_engine_spark.sources import snapstore, synthweb

    tmp = tempfile.mkdtemp(prefix="osse_dump_plans_")
    paths = synthweb.write_corpus(os.path.join(tmp, "corpus"),
                                  n_hosts=6, mean_pages=4, n_seeds=3)
    cfg = CrawlConfig(rounds=3, budget=40)
    drv = CrawlDriver(spark, os.path.join(tmp, "wd"), paths["pages"],
                      paths["hostmeta"], cfg)
    drv.seed(paths["seeds"])
    drv.run(2)
    compaction.compact_frontier(spark, os.path.join(tmp, "wd"))
    requests, replies, ip_state = drv._read_state()
    cand = drv._candidates(requests, replies, ip_state,
                           cfg.t0_ms + 2 * cfg.round_ms)
    dump("product_candidates", cand)
    pins: list = []
    dump("product_scheduled", drv._schedule(cand, requests, pins))
    for p in pins:
        p.unpersist()

    # exact-confirm (url_seen) anti-join plan for the new-request path,
    # at the frontier-scale join shape (no broadcast of the seen side)
    left = spark.range(0, 10).select(F.col("id").alias("uh48"))
    for p in snapstore.seen_parts(spark, os.path.join(tmp, "wd")):
        left = left.join(p, "uh48", "left_anti")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    dump("exact_confirm_anti", left)
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    spark.stop()


if __name__ == "__main__":
    main()
