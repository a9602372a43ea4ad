"""D6 concurrency caps (VERDICT r1 item 5): with a modeled fetch duration,
``ip_max_spiders`` bounds per-IP scheduling (NOT round spacing — the test
profile uses a 1ms ip_wait) and per-rule ``max_spiders`` bounds per-rule
slots.  Oracle and Spark must agree exactly (Spider.cpp:6084-6242, 9254)."""

import pandas as pd
import pytest

from open_source_search_engine_spark.kernel.urlfilter import Rule
from open_source_search_engine_spark.oracle.crawler import (
    CrawlConfig, OracleCrawler,
)
from open_source_search_engine_spark.plans.scheduler import CrawlDriver
from open_source_search_engine_spark.sources import synthweb

HOT_IP = 0x0A000101  # hosts 0-4 share it (synthweb.make_hostmeta)

# 1ms wait: spacing alone would allow ~600k fetches/round from one IP.
# fetch_duration 60s + ip_max_spiders=2 → 2 concurrent lanes → the 10-min
# round fits 2*ceil(600000/60000)=20 starts per IP.
IPCAP_RULES = (Rule("default", 50, 0.0, 99, 2, 1),)
IPCAP_CFG = CrawlConfig(rounds=2, budget=500, round_ms=600_000,
                        rules=IPCAP_RULES, fetch_duration_ms=60_000)

# per-rule: max_spiders=1 slot × ceil(600000/300000)=2 → ≤2/round TOTAL
RULECAP_RULES = (Rule("default", 50, 0.0, 1, 99, 1),)
RULECAP_CFG = CrawlConfig(rounds=2, budget=500, round_ms=600_000,
                          rules=RULECAP_RULES, fetch_duration_ms=300_000)


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("synthweb_caps"))
    return synthweb.write_corpus(d, n_hosts=8, mean_pages=8, n_seeds=5)


def _run_both(corpus, spark, tmp_path_factory, cfg, tag, rounds=2):
    oc = OracleCrawler(pd.read_parquet(corpus["pages"]),
                       pd.read_parquet(corpus["hostmeta"]),
                       pd.read_parquet(corpus["seeds"]), cfg)
    ostate = oc.run(rounds)
    wd = str(tmp_path_factory.mktemp(f"caps_{tag}"))
    drv = CrawlDriver(spark, wd, corpus["pages"], corpus["hostmeta"], cfg)
    drv.seed(corpus["seeds"])
    drv.run(rounds)
    got = [(r.round, r.seq, r.url, r.fetch_time_ms) for r in
           drv.schedule_df().orderBy("round", "seq").collect()]
    want = [(s["round"], s["seq"], s["url"], s["fetch_time_ms"])
            for s in ostate.schedule]
    return got, want, ostate


def test_ip_max_spiders_caps_hot_ip(corpus, spark, tmp_path_factory):
    got, want, ostate = _run_both(corpus, spark, tmp_path_factory,
                                  IPCAP_CFG, "ip", rounds=3)
    assert got == want and len(got) > 0
    # hot IP capped at 20 starts/round by concurrency, not spacing
    per_round_hot = {}
    for s in ostate.schedule:
        if s["first_ip"] == HOT_IP:
            per_round_hot[s["round"]] = per_round_hot.get(s["round"], 0) + 1
    assert per_round_hot, "hot IP never scheduled"
    assert all(v <= 20 for v in per_round_hot.values()), per_round_hot
    # and the cap (not the budget) was the binding constraint
    assert max(per_round_hot.values()) == 20


def test_rule_max_spiders_caps_rule(corpus, spark, tmp_path_factory):
    got, want, ostate = _run_both(corpus, spark, tmp_path_factory,
                                  RULECAP_CFG, "rule")
    assert got == want and len(got) > 0
    per_round = {}
    for s in ostate.schedule:
        per_round[s["round"]] = per_round.get(s["round"], 0) + 1
    assert all(v <= 2 for v in per_round.values()), per_round


def test_duration_zero_is_unchanged(corpus, spark, tmp_path_factory):
    """fetch_duration_ms=0 (default) keeps the pure-codegen cumsum path —
    caps never bind, exactly the r1 semantics (regression guard)."""
    cfg = CrawlConfig(rounds=1, budget=100, round_ms=600_000,
                      rules=IPCAP_RULES, fetch_duration_ms=0)
    got, want, _ = _run_both(corpus, spark, tmp_path_factory, cfg, "d0")
    assert got == want and len(got) > 0


@pytest.mark.parametrize("winner_k", [2, 3])
def test_phase1_winner_topk_parity(corpus, spark, tmp_path_factory,
                                   winner_k):
    """The two-phase winner top-K (phase 1 per (first_ip,_salt), phase 2
    per first_ip) is exact even when phase 1 prunes: with the default
    winner_k the oracle schedules more than winner_k urls of one
    (round, ip, salt), so at this winner_k phase 1 cuts real candidates."""
    from open_source_search_engine_spark.sources.snapstore import SALT_WIDTH
    full = OracleCrawler(pd.read_parquet(corpus["pages"]),
                         pd.read_parquet(corpus["hostmeta"]),
                         pd.read_parquet(corpus["seeds"]),
                         CrawlConfig(rounds=3, budget=80,
                                     round_ms=600_000)).run(3)
    per_salt: dict = {}
    for s in full.schedule:
        key = (s["round"], s["first_ip"], s["uh48"] % SALT_WIDTH)
        per_salt[key] = per_salt.get(key, 0) + 1
    assert max(per_salt.values()) > winner_k
    cfg = CrawlConfig(rounds=3, budget=80, round_ms=600_000,
                      winner_k=winner_k)
    got, want, _ = _run_both(corpus, spark, tmp_path_factory, cfg,
                             f"k{winner_k}", rounds=3)
    assert got == want and len(got) > 0
