"""Per-layer probes run by the traced pass: fixed inputs, fixed sizes.

kernel     pure-Python parity code, one core
functions  the Arrow UDFs over a fixed DataFrame into a noop sink
operators  budget / seq stamping / cuckoo filter over gen_frontier rows
plans      CrawlDriver._candidates over the workload's state
"""

from __future__ import annotations

import statistics
import time

KERNEL_PAGES = 300      # synthweb pages in the kernel/UDF sample
UDF_ROWS = 4000         # rows per UDF input DataFrame
OP_ROWS = {"full": 30_000, "tiny": 5000}  # gen_frontier rows, per size
OP_BUDGET = 0.05        # budget_select's budget, as a share of OP_ROWS
CUCKOO_SEEN_SHARE = 0.5  # share of probed keys that are truly seen


def _rate(fn, items: int, min_s: float = 0.2, reps: int = 3) -> float:
    """items/s over the median of ``reps`` timed calls (each call
    repeated until it lasts ``min_s``)."""
    times = []
    for _ in range(reps):
        n, t0 = 0, time.perf_counter()
        while True:
            fn()
            n += 1
            dt = time.perf_counter() - t0
            if dt >= min_s:
                break
        times.append(dt / n)
    return items / statistics.median(times)


def sample(seed: int) -> dict:
    """A fixed slice of a linked_crawl-shaped corpus: pages, their
    outlink urls and host robots.txt rows."""
    from open_source_search_engine_spark.kernel import extract, urlnorm
    from open_source_search_engine_spark.sources import synthweb
    hm = synthweb.make_hostmeta(200, seed)
    pages = synthweb.make_pages(hm, 3, seed).head(KERNEL_PAGES)
    html = [h.decode("utf-8") for h in pages["html"]]
    urls = list(pages["url"])
    links = [ln.url for h, u in zip(html, urls)
             for ln in extract.extract_links(h, u)]
    return {"html": html, "urls": urls, "links": links,
            "hosts": [urlnorm.get_host(u) for u in links],
            "robots": list(zip(hm["robots_txt"], hm["robots_status"]))}


def kernel(s: dict) -> dict[str, float]:
    from open_source_search_engine_spark.kernel import (
        extract, gbhash, robots, urlnorm,
    )

    def links():
        for h, u in zip(s["html"], s["urls"]):
            extract.dedup_links(extract.extract_links(h, u))

    def rules():
        for txt, st in s["robots"]:
            robots.effective_rules(txt, robots.DEFAULT_USER_AGENT, int(st))

    return {
        "kernel.extract_links.pages_per_s": _rate(links, len(s["html"])),
        "kernel.uh48_batch.urls_per_s": _rate(
            lambda: gbhash.uh48_batch(s["links"]), len(s["links"])),
        "kernel.canonicalize.urls_per_s": _rate(
            lambda: [urlnorm.canonicalize(u) for u in s["links"]],
            len(s["links"])),
        "kernel.robots_effective_rules.hosts_per_s": _rate(
            rules, len(s["robots"])),
    }


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def functions(spark, s: dict, cores: int,
              kernel_rates: dict) -> dict[str, float]:
    import pandas as pd
    from pyspark.sql import functions as F

    from open_source_search_engine_spark.functions import udfs

    def frame(cols: dict):
        n = len(next(iter(cols.values())))
        reps = -(-UDF_ROWS // n)
        pdf = pd.DataFrame({k: (v * reps)[:UDF_ROWS]
                            for k, v in cols.items()})
        df = spark.createDataFrame(pdf).repartition(cores).cache()
        df.count()
        return df

    pages = frame({"url": s["urls"],
                   "html": [h.encode("utf-8") for h in s["html"]]})
    links = frame({"url": s["links"], "host": s["hosts"]})
    cases = {
        "extract_links": pages.select(
            udfs.extract_links_udf(F.col("html"), F.col("url"))),
        "content_hash32": pages.select(
            udfs.content_hash32_udf(F.col("html"))),
        "uh48": links.select(udfs.uh48_udf(F.col("url"))),
        "host": links.select(udfs.host_udf(F.col("url"))),
        "domain": links.select(udfs.domain_udf(F.col("host"))),
        "canonicalize": links.select(udfs.canonicalize_udf(F.col("url"))),
    }
    _noop(cases["uh48"])  # python worker start-up, not a UDF cost
    out = {}
    for name, df in cases.items():
        dt = statistics.median(_noop(df) for _ in range(2))
        out[f"functions.{name}_udf.rows_per_s"] = UDF_ROWS / dt
    out["functions.extract_links_udf.vs_kernel"] = (
        out["functions.extract_links_udf.rows_per_s"] /
        (kernel_rates["kernel.extract_links.pages_per_s"] * cores))
    pages.unpersist()
    links.unpersist()
    return out


def operators(spark, seed: int, size: str) -> dict[str, float]:
    from pyspark.sql import functions as F

    from open_source_search_engine_spark.operators import budget, cuckoo
    from open_source_search_engine_spark.sources.frontier_gen import (
        gen_frontier,
    )
    n = OP_ROWS[size]
    out = {}
    fr = (gen_frontier(spark, n, seed=seed, n_ips=3000)
          .select("uh48", "first_ip",
                  (F.lit(60) - F.col("hop_count") * 5).alias("priority"),
                  F.col("added_time_ms").alias("fetch_time_ms"))
          .cache())
    fr.count()
    pins: list = []
    t0 = time.perf_counter()
    sel = budget.budget_select(fr, int(n * OP_BUDGET), pins=pins)
    _noop(sel)
    out["operators.budget_select.s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    seq = budget.stamp_global_seq(
        sel, [F.desc("priority"), F.asc("fetch_time_ms"), F.asc("uh48")],
        pins=pins)
    _noop(seq)
    out["operators.stamp_global_seq.s"] = time.perf_counter() - t0
    for p in pins:
        p.unpersist()

    seen = fr.select("uh48")
    new = (gen_frontier(spark, n, seed=seed + 1_000_003, n_ips=3000)
           .select("uh48").join(seen, "uh48", "left_anti").cache())
    n_new = new.count()
    t0 = time.perf_counter()
    filt = cuckoo.build_cuckoo(seen).cache()
    filt.count()
    out["operators.cuckoo_build.s"] = time.perf_counter() - t0
    n_seen_probe = int(n_new * CUCKOO_SEEN_SHARE / (1 - CUCKOO_SEEN_SHARE))
    probe = (seen.limit(n_seen_probe).withColumn("_new", F.lit(False))
             .unionByName(new.withColumn("_new", F.lit(True))))
    t0 = time.perf_counter()
    row = (cuckoo.cuckoo_maybe_seen(probe, filt)
           .agg(F.sum(F.when(F.col("_new") & F.col("maybe_seen"), 1)
                      .otherwise(0)).alias("fp"),
                F.sum(F.when(~F.col("_new") & ~F.col("maybe_seen"), 1)
                      .otherwise(0)).alias("fn"))
           .collect()[0])
    out["operators.cuckoo_maybe_seen.s"] = time.perf_counter() - t0
    if row.fn:
        raise AssertionError(f"cuckoo filter lost {row.fn} seen keys")
    out["operators.cuckoo.false_pos_ratio"] = (row.fp or 0) / n_new
    t0 = time.perf_counter()
    _noop(cuckoo.cuckoo_insert(filt, new))
    out["operators.cuckoo_insert.s"] = time.perf_counter() - t0
    for df in (fr, new, filt):
        df.unpersist()
    return out


def candidates(spark, drv, now_ms: int) -> float:
    """CrawlDriver._candidates over the driver's current state into a
    noop sink, from a cleared cache."""
    spark.catalog.clearCache()
    requests, replies, ip_state = drv._read_state()
    return _noop(drv._candidates(requests, replies, ip_state, now_ms))
