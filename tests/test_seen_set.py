"""The exact seen set: negative keys, streaming ingest, and the seen path.

A url counts as seen iff some stored request of its uh48 outlives the
uh48's newest negative key (Rdb annihilation, snapstore.annihilate).
The round checks new links with one exact anti-join against the
url_seen table (or the requests scan after an out-of-band write); the
streaming ingest checks its feed against the same annihilated requests.
"""

import json

import pytest
from pyspark.sql import functions as F

from open_source_search_engine_spark.oracle.crawler import CrawlConfig
from open_source_search_engine_spark.plans.compaction import compact_frontier
from open_source_search_engine_spark.plans.scheduler import CrawlDriver
from open_source_search_engine_spark.sources import synthweb
from open_source_search_engine_spark.streaming.ingest import run_seed_ingest

CFG = CrawlConfig(rounds=5, budget=40)


@pytest.fixture(scope="module")
def paths(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("seen_corpus"))
    return synthweb.write_corpus(d, n_hosts=6, mean_pages=4, n_seeds=3)


def _driver(spark, paths, wd):
    drv = CrawlDriver(spark, wd, paths["pages"], paths["hostmeta"], CFG)
    drv.seed(paths["seeds"])
    return drv


def _seen_keys(drv) -> set:
    requests, _, _ = drv._read_state()
    out = set()
    for p in drv._seen_parts(requests):
        out |= {r.uh48 for r in p.collect()}
    return out


def _schedule(drv) -> list:
    return [(r.round, r.seq, r.url) for r in
            drv.schedule_df().orderBy("round", "seq").collect()]


def _feed(dir_, rows) -> str:
    dir_.mkdir()
    with open(dir_ / "feed.json", "w") as f:
        for url, t in rows:
            f.write(json.dumps({"url": url, "added_time_ms": t}) + "\n")
    return str(dir_)


def test_deleted_urls_leave_seen_set_and_reenqueue(spark, paths, tmp_path):
    """delete_urls drops every url crawled in rounds 0-1 from the seen
    set; links harvested after the delete re-enqueue them with a fresh
    added_time_ms and they are crawled again; compacting the frontier
    between every later round leaves the schedule unchanged."""
    at_ms = CFG.t0_ms + 2 * CFG.round_ms  # delete_urls' default stamp

    def crawl(wd, compact):
        drv = _driver(spark, paths, wd)
        drv.run(2)
        victims = drv.schedule_df().filter("round <= 1")
        vkeys = {r.uh48 for r in victims.collect()}
        assert drv.delete_urls(victims.select("url")) == len(vkeys) > 0
        if compact:
            compact_frontier(spark, wd)
        seen = _seen_keys(drv)
        assert seen and not seen & vkeys
        for r in range(2, CFG.rounds):
            drv.run_round(r)
            if compact:
                compact_frontier(spark, wd)
        return drv, vkeys

    drv, vkeys = crawl(str(tmp_path / "log"), compact=False)
    requests, _, _ = drv._read_state()
    back = requests.filter(F.col("uh48").isin(list(vkeys))).collect()
    assert back, "no deleted url was re-enqueued by a later link"
    assert all(r.added_time_ms > at_ms for r in back)
    assert {r.uh48 for r in back} <= _seen_keys(drv)
    recrawled = (drv.schedule_df().filter("round >= 2")
                 .filter(F.col("uh48").isin(list(vkeys))).count())
    assert recrawled > 0

    compacted, _ = crawl(str(tmp_path / "compacted"), compact=True)
    assert _schedule(compacted) == _schedule(drv)


def test_stream_ingest_accepts_url_fed_after_its_delete(spark, paths,
                                                        tmp_path):
    """A seed deleted before any compaction and fed again with a later
    added_time_ms is new to the stream, exactly as it is to the round's
    seen set; a seed that was not deleted stays rejected."""
    wd = str(tmp_path / "state")
    drv = _driver(spark, paths, wd)
    seeds = drv.t_requests.read(spark).orderBy("uh48").collect()
    gone, kept = seeds[0], seeds[1]
    assert drv.delete_urls(spark.createDataFrame(
        [(gone.url,)], "url string")) == 1
    assert gone.uh48 not in _seen_keys(drv)

    t_feed = CFG.t0_ms + 1_000  # after the negative stamped at t0
    before = drv.t_requests.current_snapshot()
    run_seed_ingest(spark, _feed(tmp_path / "feed",
                                 [(gone.url, t_feed), (kept.url, t_feed)]),
                    paths["hostmeta"], wd, str(tmp_path / "ckpt"),
                    once=True)
    assert drv.t_requests.current_snapshot() == before + 1
    requests, _, _ = drv._read_state()
    rows = requests.filter(
        F.col("uh48").isin(gone.uh48, kept.uh48)).collect()
    assert sorted((r.uh48, r.added_time_ms) for r in rows) == sorted(
        [(gone.uh48, t_feed), (kept.uh48, kept.added_time_ms)])


def test_round_after_stream_ingest_records_seen_path(spark, paths,
                                                     tmp_path):
    """seen_path is "url_seen" while the seen table mirrors requests,
    "requests_scan" after a streaming ingest wrote requests out of band,
    and "url_seen" again once compaction rebuilt the base — in the
    returned metrics and in the metrics table."""
    wd = str(tmp_path / "state")
    drv = _driver(spark, paths, wd)
    assert drv.run_round(0)["seen_path"] == "url_seen"
    before = drv.t_requests.current_snapshot()
    run_seed_ingest(spark, _feed(tmp_path / "feed",
                                 [("http://host001.com/fresh/1.html",
                                   CFG.t0_ms + CFG.round_ms)]),
                    paths["hostmeta"], wd, str(tmp_path / "ckpt"),
                    once=True)
    assert drv.t_requests.current_snapshot() == before + 1
    assert drv.run_round(1)["seen_path"] == "requests_scan"
    compact_frontier(spark, wd)
    assert drv.run_round(2)["seen_path"] == "url_seen"
    got = [(r.round, r.seen_path) for r in
           drv.t_metrics.read(spark).orderBy("round").collect()]
    assert got == [(0, "url_seen"), (1, "requests_scan"),
                   (2, "url_seen")]
