#!/usr/bin/env python
"""Round-driver CLI — run the crawl scheduler via spark-submit.

    spark-submit --py-files osse.zip crawl_main.py \
        --pages /data/pages --hostmeta /data/hostmeta \
        --seeds /data/seeds.parquet --workdir /data/crawlstate \
        --rounds 10 [--budget 300] [--round-ms 600000] \
        [--compact-every 5]

Each round checks its harvested links with one exact anti-join against
the workdir's url_seen table; --compact-every folds the per-round
url_seen deltas back into its bucketed base.  Each printed metrics line
carries the round's ``scheduled``/``fetched_ok``/``fetch_errors``/
``new_urls`` counters.

Packaging:  `python crawl_main.py --make-pyfiles osse.zip` zips the
package for --py-files.  Resume is automatic: the driver continues from
the last committed snapshot in --workdir (north rule: resumable
mid-crawl).  On the sandbox it runs the same way under plain `python`
with local[*].
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def make_pyfiles(out_zip: str) -> None:
    import zipfile
    root = os.path.dirname(os.path.abspath(__file__))
    pkg = os.path.join(root, "open_source_search_engine_spark")
    with zipfile.ZipFile(out_zip, "w") as z:
        for dirpath, _dirs, files in os.walk(pkg):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    z.write(full, os.path.relpath(full, root))
    print(f"wrote {out_zip}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages")
    ap.add_argument("--hostmeta")
    ap.add_argument("--seeds")
    ap.add_argument("--workdir")
    ap.add_argument("--rounds", type=int, default=1)
    ap.add_argument("--budget", type=int, default=300)
    ap.add_argument("--round-ms", type=int, default=600_000)
    ap.add_argument("--compact-every", type=int, default=5,
                    help="compact the frontier every N rounds (0 = "
                    "never) — compaction is what keeps the candidate "
                    "plan exchange-free over the bucketed snapshot")
    ap.add_argument("--make-pyfiles", metavar="ZIP")
    args = ap.parse_args()

    if args.make_pyfiles:
        make_pyfiles(args.make_pyfiles)
        return
    for req in ("pages", "hostmeta", "workdir"):
        if not getattr(args, req):
            ap.error(f"--{req} is required")

    from pyspark.sql import SparkSession

    from open_source_search_engine_spark.oracle.crawler import CrawlConfig
    from open_source_search_engine_spark.plans.compaction import (
        compact_frontier,
    )
    from open_source_search_engine_spark.plans.scheduler import CrawlDriver

    # under spark-submit the session is provided; standalone falls back
    # to local[*]
    spark = SparkSession.builder.getOrCreate()
    cfg = CrawlConfig(budget=args.budget, round_ms=args.round_ms)
    drv = CrawlDriver(spark, args.workdir, args.pages, args.hostmeta, cfg)
    if args.seeds:
        n = drv.seed(args.seeds)
        if n:
            print(json.dumps({"seeded": n}))
    start = drv.current_round()
    for r in range(start, start + args.rounds):
        m = drv.run_round(r)
        print(json.dumps(m))
        if args.compact_every and (r + 1) % args.compact_every == 0:
            stats = compact_frontier(spark, args.workdir)
            print(json.dumps({"compacted": stats}))


if __name__ == "__main__":
    main()
