"""The status-store reader (spans.StatusStore) counts the jobs a span
submits, by submission time, including jobs from threads that carry no
job group.

    python -m pytest perfbench/tests/test_status_store.py -q
"""

from __future__ import annotations

import os
import sys
import threading
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path[:0] = [ROOT, os.path.dirname(HERE)]
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

from spans import StatusStore  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from open_source_search_engine_spark.session import get_spark
    s = get_spark(app_name="perfbench-status-store", cpus=2,
                  shuffle_partitions=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _group_jobs(sc, group: str) -> set[int]:
    return set(sc.statusTracker().getJobIdsForGroup(group) or [])


def test_reader_counts_grouped_and_ungrouped_jobs(spark):
    sc = spark.sparkContext
    store = StatusStore(spark)
    t0 = time.time()
    sc.setJobGroup("perfbench-main", "main-thread jobs")
    try:
        spark.range(100).count()
        spark.range(100).selectExpr("sum(id)").collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)

    # a pool thread, as run_round's commit pool: no job group
    th = threading.Thread(target=lambda: spark.range(10).count())
    th.start()
    th.join(timeout=120)
    assert not th.is_alive()
    t1 = time.time()

    jobs = store.jobs(t0, t1)
    grouped = [j for j in jobs if j["group"] == "perfbench-main"]
    assert len(grouped) == len(_group_jobs(sc, "perfbench-main")) >= 2
    assert len(jobs) >= len(grouped) + 1
    # the full-signature stageList call works with the UI disabled
    assert spark.conf.get("spark.ui.enabled") == "false"
    assert len(store.stages(t0, t1)) >= len(jobs)
    s = store.summary(t0, t1)
    assert s["jobs"] == len(jobs) and s["tasks"] >= s["stages"] > 0


def test_reader_matches_round_job_group(spark, tmp_path):
    """The job-group count tests/test_round_plan.py takes on a round's
    main-thread jobs is what the reader finds under that group; the
    reader's window count adds the commit pool's jobs."""
    from open_source_search_engine_spark.oracle.crawler import CrawlConfig
    from open_source_search_engine_spark.plans.scheduler import CrawlDriver
    from open_source_search_engine_spark.sources import synthweb
    corpus = str(tmp_path / "corpus")
    synthweb.write_corpus(corpus, n_hosts=8, mean_pages=4, n_seeds=4, seed=3)
    drv = CrawlDriver(spark, str(tmp_path / "state"),
                      f"{corpus}/pages.parquet", f"{corpus}/hostmeta.parquet",
                      CrawlConfig(budget=20))
    drv.seed(f"{corpus}/seeds.parquet")
    sc = spark.sparkContext
    store = StatusStore(spark)
    before = _group_jobs(sc, "crawl-round-0")
    t0 = time.time()
    drv.run_round(0)
    t1 = time.time()
    by_group = _group_jobs(sc, "crawl-round-0") - before
    jobs = store.jobs(t0, t1)
    assert {j["id"] for j in jobs if j["group"] == "crawl-round-0"} == \
        by_group
    assert len(jobs) >= len(by_group) > 0
