"""The exact seen set: negative keys, streaming ingest, and torn writes.

A url counts as seen iff some stored request of its uh48 outlives the
uh48's newest negative key (Rdb annihilation, snapstore.annihilate).
The round checks new links, and the streaming ingest its fed urls, with
one exact anti-join against the url_seen table.  Every requests append
writes its url_seen keys too (snapstore.append_requests); a write torn
between the two, or a direct requests write, leaves url_seen stale only
until the next open rebuilds it.
"""

import json

import pytest
from pyspark.sql import functions as F

from open_source_search_engine_spark.oracle.crawler import CrawlConfig
from open_source_search_engine_spark.plans.compaction import compact_frontier
from open_source_search_engine_spark.plans.scheduler import CrawlDriver
from open_source_search_engine_spark.sources import synthweb
from open_source_search_engine_spark.sources.snapstore import (
    SnapshotTable, append_requests, url_seen_table,
)
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
    return {r.uh48 for r in drv.url_seen_df().collect()}


def _stored_keys(drv) -> set:
    """The stored request keys, annihilated as every reader sees them."""
    requests, _, _ = drv._read_state()
    return {r.uh48 for r in requests.select("uh48").collect()}


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


def test_round_after_stream_ingest_and_direct_write(spark, paths,
                                                    tmp_path):
    """url_seen mirrors requests after a round and after a streaming
    ingest, which appends its url_seen delta; a direct requests write
    leaves it stale until the next open rebuilds the base; the rounds
    before and after compaction schedule, and the metrics table holds
    one row per round."""
    wd = str(tmp_path / "state")
    drv = _driver(spark, paths, wd)
    drv.run_round(0)
    assert drv._url_seen_synced()
    before = drv.t_requests.current_snapshot()
    run_seed_ingest(spark, _feed(tmp_path / "feed",
                                 [("http://host001.com/fresh/1.html",
                                   CFG.t0_ms + CFG.round_ms)]),
                    paths["hostmeta"], wd, str(tmp_path / "ckpt"),
                    once=True)
    assert drv.t_requests.current_snapshot() == before + 1
    assert drv._url_seen_synced()
    drv.run_round(1)
    assert drv._url_seen_synced()
    requests, _, _ = drv._read_state()
    drv.t_requests.append(requests.limit(1), {"source": "injected"})
    assert not drv._url_seen_synced()
    drv = CrawlDriver(spark, wd, paths["pages"], paths["hostmeta"], CFG)
    assert drv._url_seen_synced()
    assert drv.run_round(2)["scheduled"] > 0
    compact_frontier(spark, wd)
    assert drv._url_seen_synced()
    assert drv.run_round(3)["scheduled"] > 0
    got = [r.round for r in
           drv.t_metrics.read(spark).orderBy("round").collect()]
    assert got == [0, 1, 2, 3]


def _tear_url_seen_write(monkeypatch, wd, fired: list) -> None:
    """Make the first url_seen delta append under ``wd`` raise: a crash
    between append_requests' requests append and its url_seen write."""
    seen_dir = url_seen_table(wd).path
    orig = SnapshotTable.append

    def torn(self, df, metrics=None):
        if self.path == seen_dir and not fired:
            fired.append(metrics)
            raise RuntimeError("crash before the url_seen delta")
        return orig(self, df, metrics)

    monkeypatch.setattr(SnapshotTable, "append", torn)


def test_torn_round_write_resynced_at_open(spark, paths, tmp_path,
                                           monkeypatch):
    """A round that crashes after appending its new requests but before
    their url_seen delta leaves url_seen stale, and later writes keep it
    marked stale; the next driver open rebuilds it, so the seen set is
    again exactly the stored keys, deleted ones annihilated."""
    wd = str(tmp_path / "state")
    drv = _driver(spark, paths, wd)
    drv.run_round(0)
    victim = drv.schedule_df().orderBy("seq").select("url").limit(1)
    assert drv.delete_urls(victim) == 1
    before = drv.t_requests.current_snapshot()
    fired: list = []
    _tear_url_seen_write(monkeypatch, wd, fired)
    with pytest.raises(RuntimeError, match="url_seen delta"):
        drv.run_round(1)
    monkeypatch.undo()
    spark.sparkContext.setJobGroup("", "")
    assert fired and drv.t_requests.current_snapshot() == before + 1
    assert not drv._url_seen_synced()
    # a later write on the stale store (say, a retry in the same
    # process) must not stamp it synced: its delta lacks the torn keys
    append_requests(wd, drv.t_requests.read(spark).limit(1),
                    {"source": "retry"})
    assert not drv._url_seen_synced()

    drv = CrawlDriver(spark, wd, paths["pages"], paths["hostmeta"], CFG)
    assert drv._url_seen_synced()
    assert _seen_keys(drv) == _stored_keys(drv)


def test_torn_ingest_write_resynced_on_restart(spark, paths, tmp_path,
                                               monkeypatch):
    """A micro-batch that crashes between its requests append and its
    url_seen delta fails the query; rerun on the same checkpoint, the
    ingest rebuilds url_seen before the batch replays, so the replay
    finds its own rows and every fed url is stored once."""
    wd = str(tmp_path / "state")
    drv = _driver(spark, paths, wd)
    rows = [(f"http://host00{1 + i % 2}.com/fresh/{i}.html", CFG.t0_ms)
            for i in range(4)]  # known hosts: every url is accepted
    feed, ckpt = _feed(tmp_path / "feed", rows), str(tmp_path / "ckpt")
    fired: list = []
    _tear_url_seen_write(monkeypatch, wd, fired)
    with pytest.raises(Exception):
        run_seed_ingest(spark, feed, paths["hostmeta"], wd, ckpt, once=True)
    assert fired and not drv._url_seen_synced()
    run_seed_ingest(spark, feed, paths["hostmeta"], wd, ckpt, once=True)
    monkeypatch.undo()

    assert drv._url_seen_synced()
    urls = [r.url for r in drv.t_requests.read(spark).collect()]
    assert all(urls.count(u) == 1 for u, _ in rows), urls
    assert len(urls) == len(set(urls))
    assert _seen_keys(drv) == _stored_keys(drv)


@pytest.mark.parametrize("seeded", [True, False])
def test_stream_ingest_keeps_url_seen_synced(spark, paths, tmp_path,
                                             seeded):
    """After a streaming ingest the url_seen table still mirrors the
    requests: into a seeded workdir the ingest appends a delta, into an
    empty one its first batch writes the base, as seed() does.  The
    seen parts then hold exactly the stored (annihilated) keys."""
    wd = str(tmp_path / "state")
    drv = CrawlDriver(spark, wd, paths["pages"], paths["hostmeta"], CFG)
    rows = [(f"http://host00{i % 3}.com/fresh/{i}.html", CFG.t0_ms)
            for i in range(4)]
    if seeded:
        drv.seed(paths["seeds"])
        seed = drv.t_requests.read(spark).orderBy("uh48").first()
        rows.append((seed.url, CFG.t0_ms))  # re-fed: rejected
        assert drv._url_seen_synced()
    run_seed_ingest(spark, _feed(tmp_path / "feed", rows),
                    paths["hostmeta"], wd, str(tmp_path / "ckpt"),
                    once=True)
    assert drv._url_seen_synced()
    requests, _, _ = drv._read_state()
    stored = [r.uh48 for r in requests.select("uh48").collect()]
    assert len(stored) == len(set(stored))
    assert _seen_keys(drv) == set(stored)
    lin = [s["lineage"] for s in
           drv.t_requests.manifest()["snapshots"].values()
           if s["lineage"].get("source") == "seed_stream"]
    assert len(lin) == 1
