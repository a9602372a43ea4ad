"""State-evolution gates (ADVICE r2): the per-host robots cache must be
invalidated when the hostmeta robots content or the user agent changes
(the cache-expiry analog of the reference's 24h per-host robots cache,
Msg13.cpp:590-591), and request snapshots written by an older driver
version (missing later REQUEST_SCHEMA/REPLY_SCHEMA columns) must be
upgraded once at driver open and resume cleanly with semantic defaults
instead of feeding nulls into rule predicates."""

import pandas as pd

from open_source_search_engine_spark.oracle.crawler import CrawlConfig
from open_source_search_engine_spark.plans.scheduler import (
    REPLY_SCHEMA, REQUEST_SCHEMA, CrawlDriver,
)
from open_source_search_engine_spark.sources import synthweb


def test_robots_cache_refresh(spark, tmp_path):
    """Mutating a host's robots.txt in hostmeta and re-initializing the
    driver on the same workdir rebuilds the parsed-rules cache: the host
    stops being scheduled from the next round on."""
    d = str(tmp_path / "corpus")
    paths = synthweb.write_corpus(d, n_hosts=6, mean_pages=4, n_seeds=4)
    cfg = CrawlConfig(rounds=4, budget=40)
    wd = str(tmp_path / "state")
    drv = CrawlDriver(spark, wd, paths["pages"], paths["hostmeta"], cfg)
    drv.seed(paths["seeds"])
    drv.run(2)

    target = "host001.com"  # robots template 1 (empty -> fully allowed)
    hm = pd.read_parquet(paths["hostmeta"])
    hm.loc[hm.host == target, "robots_txt"] = \
        "User-agent: *\nDisallow: /\n"
    hm.loc[hm.host == target, "robots_status"] = 200
    hm2 = str(tmp_path / "hostmeta2.parquet")
    hm.to_parquet(hm2, index=False)

    drv2 = CrawlDriver(spark, wd, paths["pages"], hm2, cfg)
    drv2.run(2)
    sched = drv2.schedule_df()
    earlier = [r.url for r in sched.filter("round < 2").collect()]
    later = [r.url for r in sched.filter("round >= 2").collect()]
    assert any(target in u for u in earlier), \
        "precondition: target host was being crawled before the change"
    assert later
    assert not any(target in u for u in later), \
        "stale robots rules survived the hostmeta change"


def test_user_agent_change_rebuilds_cache(spark, tmp_path):
    """A different cfg.user_agent re-parses robots (per-agent sections
    differ) — asserted via the cache fingerprint, not a full crawl."""
    d = str(tmp_path / "corpus")
    paths = synthweb.write_corpus(d, n_hosts=5, mean_pages=3, n_seeds=2)
    wd = str(tmp_path / "state")
    drv = CrawlDriver(spark, wd, paths["pages"], paths["hostmeta"],
                      CrawlConfig())
    snap1 = drv.t_robots.current_snapshot()
    # same config -> no rebuild
    drv_same = CrawlDriver(spark, wd, paths["pages"], paths["hostmeta"],
                           CrawlConfig())
    assert drv_same.t_robots.current_snapshot() == snap1
    drv_ua = CrawlDriver(spark, wd, paths["pages"], paths["hostmeta"],
                         CrawlConfig(user_agent="other-bot"))
    assert drv_ua.t_robots.current_snapshot() == snap1 + 1


def _footers(table) -> list[set]:
    """Column names of one parquet footer per data dir of ``table``."""
    import os

    import pyarrow.parquet as pq
    out = []
    for d in table._data_dirs():
        part = min(f for f in os.listdir(d) if f.endswith(".parquet"))
        out.append(set(pq.read_schema(os.path.join(d, part)).names))
    return out


def _state_snapshots(wd) -> dict:
    """Current snapshot id of every table under the workdir."""
    import os

    from open_source_search_engine_spark.sources.snapstore import (
        SnapshotTable,
    )
    return {t: SnapshotTable(os.path.join(wd, t)).current_snapshot()
            for t in sorted(os.listdir(wd))
            if os.path.isdir(os.path.join(wd, t))}


REQUEST_COLS = {*REQUEST_SCHEMA.fieldNames(), "_salt"}
REPLY_COLS = {*REPLY_SCHEMA.fieldNames(), "_salt"}


def test_legacy_request_snapshot_resume(spark, tmp_path):
    """State written by an older driver — requests without the round-2
    columns (domain + flag bits), a requests dir without _salt, replies
    without content_hash32/new_requests/has_contact_info — is upgraded
    once when a driver opens it and resumes with defaults: no nulls, no
    AnalysisException.  A second open commits nothing and the open step
    fires no Spark job, both on the upgraded store and after a round has
    appended its url_seen delta."""
    from pyspark.sql import functions as F

    from open_source_search_engine_spark.plans import compaction

    d = str(tmp_path / "corpus")
    paths = synthweb.write_corpus(d, n_hosts=6, mean_pages=4, n_seeds=3)
    cfg = CrawlConfig(rounds=2, budget=40)
    wd = str(tmp_path / "state")
    drv = CrawlDriver(spark, wd, paths["pages"], paths["hostmeta"], cfg)
    drv.seed(paths["seeds"])
    drv.run(1)

    legacy = drv.t_requests.read(spark).drop(
        "domain", "is_rss", "is_new_outlink", "was_parent_indexed",
        "is_docid_based", "has_authority_inlink")
    drv.t_requests.overwrite(legacy, {"legacy_schema": True})
    # ... plus an unsalted append dir repeating some of those rows
    drv.t_requests.append(
        drv.t_requests.read(spark)
        .filter(F.pmod(F.col("uh48"), F.lit(2)) == 0).drop("_salt"),
        {"legacy_schema": True})
    drv.t_replies.overwrite(
        drv.t_replies.read(spark).drop(
            "content_hash32", "new_requests", "has_contact_info"),
        {"legacy_schema": True})
    assert not all(REQUEST_COLS <= c for c in _footers(drv.t_requests))
    assert not all(REPLY_COLS <= c for c in _footers(drv.t_replies))
    n_req = drv.t_requests.read(spark).count()

    drv2 = CrawlDriver(spark, wd, paths["pages"], paths["hostmeta"], cfg)
    assert _footers(drv2.t_requests) == [REQUEST_COLS]
    assert _footers(drv2.t_replies) == [REPLY_COLS]
    assert drv2._url_seen_synced()
    req, rep, _ = drv2._read_state()
    assert req.count() == n_req  # rows kept as they were
    assert req.filter("domain is null or is_rss is null or _salt is null "
                      "or _salt != pmod(uh48, 16)").count() == 0
    assert rep.filter("content_hash32 != 0 or new_requests != 0 or "
                      "has_contact_info or _salt is null").count() == 0

    def assert_open_is_noop(group):
        assert drv2._url_seen_synced()
        snaps = _state_snapshots(wd)
        sc = spark.sparkContext
        sc.setJobGroup(group, "open check on a current, synced store")
        try:
            assert compaction.upgrade_legacy_state(spark, wd) == []
        finally:
            sc.setJobGroup("", "")
        assert not sc.statusTracker().getJobIdsForGroup(group)
        CrawlDriver(spark, wd, paths["pages"], paths["hostmeta"], cfg)
        assert _state_snapshots(wd) == snaps

    assert_open_is_noop("upgrade-check")
    m = drv2.run_round(drv2.current_round())
    assert m["scheduled"] > 0
    assert_open_is_noop("open-check-after-round")
    req = drv2._read_state()[0]
    assert "domain" in req.columns
    assert req.filter("domain is null or is_rss is null").count() == 0


def test_mixed_version_inlinks_not_dropped(spark, tmp_path):
    """ADVICE r5 #1/#3: an inlinks append log mixing a legacy dir
    (no first_ip/_salt) with salted dirs must not drop the legacy edges
    from page_num_inlinks: opening a driver upgrades the log, healing
    first_ip from the requests table, so the triple-key counts see every
    edge and the compacted snapshot is deterministically salted."""
    from pyspark.sql import functions as F

    from open_source_search_engine_spark.plans import compaction

    d = str(tmp_path / "corpus")
    paths = synthweb.write_corpus(d, n_hosts=6, mean_pages=4, n_seeds=4)
    cfg = CrawlConfig(rounds=3, budget=40)
    wd = str(tmp_path / "state")
    drv = CrawlDriver(spark, wd, paths["pages"], paths["hostmeta"], cfg)
    drv.seed(paths["seeds"])
    drv.run(2)

    inl = drv.t_inlinks.read(spark)
    assert inl is not None and inl.count() > 0
    # split the edge log into a LEGACY dir (columns stripped) + a salted
    # dir, like a workdir upgraded mid-crawl
    marker = F.pmod(F.col("uh48"), F.lit(2)) == 0
    legacy = inl.filter(marker).select("uh48", "parent_cblock")
    fresh = inl.filter(~marker)
    assert legacy.count() > 0 and fresh.count() > 0
    legacy.write.parquet(str(tmp_path / "legacy_inlinks"))
    drv.t_inlinks.overwrite(fresh, {"salted": True})
    # a legacy dir carries no bucket columns: commit it as an append
    drv.t_inlinks.append(spark.read.parquet(str(tmp_path / "legacy_inlinks")),
                         {"legacy_schema": True})

    mixed = drv.t_inlinks.read(spark)
    inlink_cols = {"uh48", "parent_cblock", "first_ip", "_salt"}
    assert _footers(drv.t_inlinks) == [inlink_cols,
                                       {"uh48", "parent_cblock"}]

    def counts_of(driver):
        # the counts exactly as _candidates consumes them (shared
        # helper — the candidate output itself no longer carries
        # page_num_inlinks past the rule stage)
        counts = driver._inlink_counts(["first_ip", "_salt", "uh48"])
        return {r.uh48: r._n_inlinks
                for r in counts.select("uh48", "_n_inlinks").collect()}

    want = {r.uh48: r.n for r in
            (mixed.groupBy("uh48")
             .agg(F.least(F.countDistinct("parent_cblock"),
                          F.lit(20)).alias("n")).collect())}

    drv2 = CrawlDriver(spark, wd, paths["pages"], paths["hostmeta"], cfg)
    assert _footers(drv2.t_inlinks) == [inlink_cols]
    got = counts_of(drv2)
    assert got, "no candidates in toy crawl"
    for uh, n in got.items():
        assert n == want.get(uh, 0), \
            f"uh48={uh}: got {n} inlinks, want {want.get(uh, 0)}"

    # compaction keeps it: no NULL first_ip, fully salted, same counts
    compaction.compact_frontier(spark, wd)
    healed = drv2.t_inlinks.read(spark)
    assert healed.filter("first_ip is null or _salt is null").count() == 0
    assert _footers(drv2.t_inlinks) == [inlink_cols]
    got2 = counts_of(drv2)
    assert got2 == got
