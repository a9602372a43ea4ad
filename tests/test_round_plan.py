"""Plan-shape + job-count gates over the PRODUCT scheduler (CrawlDriver),
not just the bench plan: the round's scheduled set must be produced without
a single-partition exchange or coalesce(1), robots parsing must run per
host (init-time cache) instead of per candidate, and a round must fire a
bounded number of driver jobs (VERDICT r1 items 1, 2, 9)."""

import pytest
from pyspark.sql import functions as F

from open_source_search_engine_spark.oracle.crawler import CrawlConfig
from open_source_search_engine_spark.plans.scheduler import (
    CrawlDriver, path_cgi_col,
)
from open_source_search_engine_spark.sources import synthweb
from open_source_search_engine_spark.sources.snapstore import seen_parts

CFG = CrawlConfig(rounds=2, budget=50, round_ms=600_000)


@pytest.fixture(scope="module")
def driver(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("synthweb_plan"))
    paths = synthweb.write_corpus(d, n_hosts=6, mean_pages=4, n_seeds=3)
    wd = str(tmp_path_factory.mktemp("crawlstate_plan"))
    drv = CrawlDriver(spark, wd, paths["pages"], paths["hostmeta"], CFG)
    drv.seed(paths["seeds"])
    return drv


def _round_plans(drv):
    """Plans of the round's two hot DataFrames: the candidate pipeline
    and the scheduled set (budget + seq + hydration, as run_round
    builds it)."""
    requests, replies, ip_state = drv._read_state()
    cand = drv._candidates(requests, replies, ip_state, CFG.t0_ms)
    pins = []
    scheduled = drv._schedule(cand, requests, pins)
    cand_plan = cand._jdf.queryExecution().executedPlan().toString()
    sched_plan = scheduled._jdf.queryExecution().executedPlan().toString()
    for p in pins:
        p.unpersist()
    return cand_plan, sched_plan


def test_no_single_partition_exchange_in_scheduled(driver):
    """The doledb-order seq stamp must not serialize the round through one
    task (the r1 coalesce(1) + global Window anti-pattern)."""
    _, sched_plan = _round_plans(driver)
    assert "Coalesce 1" not in sched_plan
    assert "Exchange SinglePartition" not in sched_plan


def test_robots_parse_not_in_round_path(driver):
    """The robots PARSE UDF (robots_rules_udf) ran once at init into the
    robots_rules snapshot table, sized |hosts|; since round 5 the
    per-round candidate plan contains NO Python at all — the per-url
    prefix match is the pure-Column robots_allowed_col (a Python eval
    node would drop the bucketed scan's partitioning and force the
    winner window to re-shuffle the frontier)."""
    cand_plan, _ = _round_plans(driver)
    assert "robots_rules_udf" not in cand_plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                   "FlatMapGroupsInPandas"):
        assert marker not in cand_plan, \
            f"Python operator in candidate plan: {marker}"
    # the robots cache table exists and holds one row per host
    n_hosts = driver.hostmeta.count()
    n_rules = driver.host_rules.count()
    assert n_rules == n_hosts


def test_host_broadcasts_size_gated(driver, spark, tmp_path_factory):
    """Host-keyed joins broadcast at toy scale but are NOT forced hints:
    with broadcast_host_max_bytes=0 the same round compiles to shuffle
    joins (no driver OOM at 10^7+ hosts) and produces the IDENTICAL
    schedule (VERDICT r2 item 4)."""
    cand_plan, _ = _round_plans(driver)
    assert "BroadcastHashJoin" in cand_plan  # toy scale: broadcast wins
    # ... and the hint really is attached under the byte gate
    requests, replies, ip_state = driver._read_state()
    cand = driver._candidates(requests, replies, ip_state, CFG.t0_ms)
    assert "ResolvedHint" in \
        cand._jdf.queryExecution().analyzed().toString()

    d = str(tmp_path_factory.mktemp("synthweb_nobc"))
    paths = synthweb.write_corpus(d, n_hosts=6, mean_pages=4, n_seeds=3)
    cfg_nobc = CrawlConfig(rounds=2, budget=50, round_ms=600_000,
                           broadcast_host_max_bytes=0)
    wd = str(tmp_path_factory.mktemp("crawlstate_nobc"))
    drv = CrawlDriver(spark, wd, paths["pages"], paths["hostmeta"],
                      cfg_nobc)
    drv.seed(paths["seeds"])
    requests, replies, ip_state = drv._read_state()
    cand = drv._candidates(requests, replies, ip_state, cfg_nobc.t0_ms)
    # over the byte gate no forced broadcast hint exists anywhere in the
    # plan — Spark/AQE alone decide the join strategy by measured size
    # (they may and do still broadcast these tiny toy tables; the OOM
    # hazard was the unconditional HINT, not the optimizer's choice)
    assert "ResolvedHint" not in \
        cand._jdf.queryExecution().analyzed().toString()

    drv.run(2)
    wd2 = str(tmp_path_factory.mktemp("crawlstate_bc"))
    drv_bc = CrawlDriver(spark, wd2, paths["pages"], paths["hostmeta"],
                         CrawlConfig(rounds=2, budget=50,
                                     round_ms=600_000))
    drv_bc.seed(paths["seeds"])
    drv_bc.run(2)
    got = [(r.round, r.seq, r.url) for r in
           drv.schedule_df().orderBy("round", "seq").collect()]
    want = [(r.round, r.seq, r.url) for r in
            drv_bc.schedule_df().orderBy("round", "seq").collect()]
    assert got == want and len(got) > 0


def test_round_job_count_bounded(driver):
    """One round = 3 driver ACTIONS (budget histogram, seq offsets, merged
    stats) + 5 snapshot writes (metrics is a driver-side pyarrow write,
    no job).  AQE materializes every shuffle stage as its own Spark job,
    so the listener sees ~40 — guard against action creep with a measured
    bound (r1 ran 5 recomputing actions + 6 write jobs)."""
    sc = driver.spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup("crawl-round-0") or [])
    driver.run_round(0)
    after = set(tracker.getJobIdsForGroup("crawl-round-0") or [])
    n_jobs = len(after - before)
    # new links take one exact anti-join against url_seen, plus the
    # url_seen delta append — measured 39 with AQE stage-jobs; guard
    # at 45.
    assert 0 < n_jobs <= 45, f"round fired {n_jobs} jobs"


def test_path_cgi_col_matches_kernel(spark, driver):
    """The columnar robots match subject must equal the Python kernel's
    get_path_cgi byte-for-byte over every corpus url."""
    from open_source_search_engine_spark.kernel import urlnorm
    urls = [r.url for r in driver.pages.select("url").collect()]
    urls += ["http://a.com/", "https://b.com/x?y=1&z=2",
             "http://c.com/a/b/c.html"]
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    got = df.select("url", path_cgi_col(F.col("url")).alias("p")).collect()
    for r in got:
        assert r.p == urlnorm.get_path_cgi(r.url), r.url


def test_exact_confirm_uses_url_seen_table(driver, spark):
    """VERDICT r5 Wrong #2 closure: with the url_seen mirror synced, the
    round's exact-confirm path anti-joins the incremental seen table —
    NO scan of the requests table, no frontier-wide distinct, and no
    exchange of the bucketed seen base (only the small candidate side
    may shuffle)."""
    driver.run_round(driver.current_round())  # ensure >=1 round + deltas
    assert driver._url_seen_synced()
    parts = seen_parts(spark, driver.workdir)
    left = spark.range(0, 50).select(F.col("id").alias("uh48"))
    for p in parts:
        left = left.join(p, "uh48", "left_anti")
    # disable broadcast to see the frontier-scale join shape (at 10^10
    # seen keys the seen side cannot broadcast): the anti-join must then
    # reuse the base scan's bucket partitioning
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        s = left._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "/url_seen/" in s, "seen side must read the url_seen table"
    assert "/requests/" not in s, \
        "exact-confirm must not scan the requests table:\n" + s[:2000]
    # the base dir scans bucketed; the only allowed hash exchanges are
    # of the candidate (left) side — one per anti-join step
    assert "Bucketed: true" in s
    assert s.count("Exchange hashpartitioning") <= len(parts), s[:3000]
    assert "HashAggregate" not in s and "SortAggregate" not in s, \
        "no distinct on the seen side:\n" + s[:2000]


_SINGLE_PURPOSE_UDFS = ("extract_links_udf", "uh48_udf", "host_udf",
                        "domain_udf", "content_hash32_udf",
                        "canonicalize_udf")
_PY_EVAL = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
            "FlatMapGroupsInPandas")


def _py_eval_lines(plan: str) -> list[str]:
    return [ln for ln in plan.splitlines()
            if any(m in ln for m in _PY_EVAL)]


@pytest.fixture(scope="module")
def pinned_plans(spark, tmp_path_factory):
    """Executed plans of every DataFrame seed() and run_round(0) pin,
    captured on a fresh driver by wrapping budget_ops._pin (a
    ``select("*")`` view is planned, so the pinned DataFrame's own
    query execution stays untouched)."""
    from open_source_search_engine_spark.operators import budget
    d = str(tmp_path_factory.mktemp("synthweb_pins"))
    paths = synthweb.write_corpus(d, n_hosts=6, mean_pages=4, n_seeds=3)
    wd = str(tmp_path_factory.mktemp("crawlstate_pins"))
    drv = CrawlDriver(spark, wd, paths["pages"], paths["hostmeta"], CFG)
    plans = {"seed": [], "round": []}
    real_pin = budget._pin
    phase = ["seed"]

    def spy(df, pins):
        plans[phase[0]].append(
            df.select("*")._jdf.queryExecution().executedPlan().toString())
        return real_pin(df, pins)

    budget._pin = spy
    try:
        drv.seed(paths["seeds"])
        phase[0] = "round"
        m = drv.run_round(0)
    finally:
        budget._pin = real_pin
    assert m["new_urls"] > 0  # links really flowed through the round
    return plans


def test_round_runs_one_python_pass_per_page(pinned_plans):
    """Every pinned round DataFrame evaluates Python only through the
    fused fetched_page_udf; none of the single-purpose UDFs the harvest
    path used to chain (extract → uh48 → host → domain ×2, plus the
    content hash) appears in any pinned plan."""
    plans = pinned_plans["round"]
    assert len(plans) >= 4
    py = [ln for p in plans for ln in _py_eval_lines(p)]
    assert py and all("fetched_page_udf" in ln for ln in py), py
    for p in plans:
        assert len(_py_eval_lines(p)) <= 1, p
        for name in _SINGLE_PURPOSE_UDFS:
            assert name not in p, f"{name} in a pinned round plan:\n{p}"


def test_seed_runs_one_python_pass_per_url(pinned_plans):
    """seed() pins its request rows once, and that plan evaluates the
    fused url_identity_udf in exactly one Python node."""
    assert len(pinned_plans["seed"]) == 1, "seed() pins its rows once"
    (plan,) = pinned_plans["seed"]
    py = _py_eval_lines(plan)
    assert len(py) == 1 and "url_identity_udf" in py[0], plan
    for name in _SINGLE_PURPOSE_UDFS:
        assert name not in plan, plan


def test_seed_job_count_bounded(spark, tmp_path_factory):
    """seed() evaluates its request plan once: the count, the requests
    append and the url_seen base all read the pinned rows."""
    d = str(tmp_path_factory.mktemp("synthweb_seedjobs"))
    paths = synthweb.write_corpus(d, n_hosts=6, mean_pages=4, n_seeds=3)
    wd = str(tmp_path_factory.mktemp("crawlstate_seedjobs"))
    drv = CrawlDriver(spark, wd, paths["pages"], paths["hostmeta"], CFG)
    sc = spark.sparkContext
    sc.setJobGroup("seed-jobs", "seed")
    try:
        assert drv.seed(paths["seeds"]) == 3
    finally:
        sc.setJobGroup("", "")
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("seed-jobs") or [])
    # measured 9 with AQE stage-jobs; the four-UDF chain that re-ran its
    # whole plan per action (count, append, url_seen base) fired 12
    assert 0 < n_jobs <= 9, f"seed fired {n_jobs} jobs"


def test_ingest_runs_one_python_pass_per_url(spark):
    """Streaming ingest keys fed urls with the same fused url_identity_udf
    as seed(): one Python node, and the rows the single-purpose chain
    (canonicalize → uh48 + host → domain) gives."""
    from open_source_search_engine_spark.functions import udfs
    from open_source_search_engine_spark.streaming.ingest import to_requests

    hostmeta = spark.createDataFrame(
        [("example.com", 1, None), ("www.sub.example.co.uk", 2, True)],
        "host string, first_ip long, in_google boolean")
    feed = spark.createDataFrame(
        [("HTTP://Example.com/a/../b?x=1#f", 10),
         ("http://example.com/b?x=1", 11),   # same canonical url
         ("http://www.sub.example.co.uk/", 12),
         ("http://unknown.example.org/", 13),  # DNS-fail analog
         ("", 14), (None, 15), ("mailto:a@example.com", 16)],
        "url string, added_time_ms long")
    out = to_requests(feed, hostmeta)
    plan = out._jdf.queryExecution().executedPlan().toString()
    py = _py_eval_lines(plan)
    assert len(py) == 1 and "url_identity_udf" in py[0], plan
    for name in _SINGLE_PURPOSE_UDFS:
        assert name not in plan, plan

    chain = (feed
             .withColumn("url", udfs.canonicalize_udf(F.col("url")))
             .filter(F.length("url") > 0)
             .withColumn("uh48", udfs.uh48_udf(F.col("url")))
             .withColumn("host", udfs.host_udf(F.col("url")))
             .join(hostmeta.select("host"), "host")
             .withColumn("domain", udfs.domain_udf(F.col("host")))
             .select("url", "uh48", "host", "domain")
             .dropDuplicates(["uh48"]))
    cols = ["url", "uh48", "host", "domain"]
    got = sorted(tuple(r) for r in out.select(*cols).collect())
    want = sorted(tuple(r) for r in chain.collect())
    assert got == want and len(got) == 2, (got, want)


def _untagged_hostmeta(paths, tmp_path) -> str:
    """The corpus hostmeta without its in_google tag column."""
    import pandas as pd
    p = str(tmp_path / "hostmeta_untagged.parquet")
    pd.read_parquet(paths["hostmeta"]).drop(columns="in_google") \
        .to_parquet(p, index=False)
    return p


def _feed_dir(dir_, rows) -> str:
    import json
    dir_.mkdir()
    with open(dir_ / "feed.json", "w") as f:
        for url, t in rows:
            f.write(json.dumps({"url": url, "added_time_ms": int(t)}) + "\n")
    return str(dir_)


@pytest.mark.parametrize("tagged", [True, False])
def test_seed_and_ingest_write_identical_request_rows(spark, tmp_path,
                                                      tagged):
    """seed() and the streaming ingest build add-url rows through one
    builder: the same seed urls, into two fresh workdirs, give identical
    request rows over every column — with an in_google hostmeta tag
    (True, False and no tag among the seeds' hosts) and without one
    (every row False, as the oracle's add_url writes it)."""
    import pandas as pd

    from open_source_search_engine_spark.sources.snapstore import (
        frontier_table,
    )
    from open_source_search_engine_spark.streaming.ingest import (
        run_seed_ingest,
    )
    paths = synthweb.write_corpus(str(tmp_path / "corpus"), n_hosts=10,
                                  mean_pages=2, n_seeds=10)
    hm = paths["hostmeta"] if tagged else _untagged_hostmeta(paths,
                                                             tmp_path)
    drv = CrawlDriver(spark, str(tmp_path / "seeded"), paths["pages"], hm,
                      CFG)
    assert drv.seed(paths["seeds"]) == 10
    seeds = pd.read_parquet(paths["seeds"])
    run_seed_ingest(spark, _feed_dir(tmp_path / "feed",
                                     zip(seeds.url, seeds.added_time_ms)),
                    hm, str(tmp_path / "ingested"), str(tmp_path / "ckpt"),
                    once=True)

    def rows(wd):
        df = frontier_table(wd, "requests").read(spark)
        return {r.uh48: r.asDict() for r in df.collect()}

    seeded, ingested = rows(str(tmp_path / "seeded")), \
        rows(str(tmp_path / "ingested"))
    assert seeded == ingested and len(seeded) == 10
    igs = {r["in_google"] for r in seeded.values()}
    assert igs == ({True, False, None} if tagged else {False})


def test_state_holds_one_schema(spark, tmp_path):
    """seed → two rounds → a streaming ingest → compaction: every data
    dir of requests, replies and inlinks carries its table's full column
    set, and the state read over the multi-dir append logs has no
    per-column code — no coalesce on any request or reply column."""
    from open_source_search_engine_spark.plans.compaction import (
        compact_frontier,
    )
    from open_source_search_engine_spark.plans.scheduler import (
        REPLY_SCHEMA, REQUEST_SCHEMA,
    )
    from open_source_search_engine_spark.streaming.ingest import (
        run_seed_ingest,
    )
    paths = synthweb.write_corpus(str(tmp_path / "corpus"), n_hosts=6,
                                  mean_pages=5, n_seeds=3)
    hm = _untagged_hostmeta(paths, tmp_path)
    wd = str(tmp_path / "state")
    drv = CrawlDriver(spark, wd, paths["pages"], hm, CFG)
    drv.seed(paths["seeds"])
    drv.run(2)
    urls = [r.url for r in drv.pages.select("url").collect()]
    run_seed_ingest(spark, _feed_dir(tmp_path / "feed",
                                     [(u, CFG.t0_ms) for u in urls]),
                    hm, wd, str(tmp_path / "ckpt"), once=True)

    want = {drv.t_requests: {*REQUEST_SCHEMA.fieldNames(), "_salt"},
            drv.t_replies: {*REPLY_SCHEMA.fieldNames(), "_salt"},
            drv.t_inlinks: {"uh48", "parent_cblock", "first_ip", "_salt"}}

    def assert_one_schema():
        for t, cols in want.items():
            dirs = t._data_dirs()
            assert dirs, t.path
            for d in dirs:
                assert set(spark.read.parquet(d).columns) == cols, d

    assert len(drv.t_requests._data_dirs()) > 2
    assert len(drv.t_replies._data_dirs()) > 1
    requests, replies, _ = drv._read_state()
    for df in (requests, replies):
        plan = df._jdf.queryExecution().analyzed().toString()
        assert "coalesce(" not in plan, plan
    assert_one_schema()
    assert requests.filter("in_google is null").count() == 0

    compact_frontier(spark, wd)
    assert_one_schema()
