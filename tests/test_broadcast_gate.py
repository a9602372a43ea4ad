"""Bytes-based broadcast size gate (functions/joins.py).

VERDICT r3 items 3-4: the row-count-only gate under-counted fat schemas
(10M hosts × 60B ≈ 600MB passed a 10M-row gate), and streaming ingest
forced an unconditional hostmeta broadcast.  These tests pin:
- the estimator flips a FAT schema to shuffle at row counts a thin schema
  would still broadcast;
- unknown row count ⇒ no hint (Spark decides by measured size);
- the streaming `to_requests` plan carries a hint only under the gate.
"""

import pyspark.sql.types as T
import pytest
from pyspark.sql import functions as F

from open_source_search_engine_spark.functions import joins


def _has_hint(df) -> bool:
    return "ResolvedHint" in df._jdf.queryExecution().analyzed().toString()


THIN = T.StructType([
    T.StructField("host", T.StringType()),
    T.StructField("first_ip", T.LongType()),
])
FAT = T.StructType([
    T.StructField("host", T.StringType()),
    T.StructField("first_ip", T.LongType()),
    T.StructField("robots_txt", T.StringType()),
    T.StructField("robots_blob", T.BinaryType()),
    T.StructField("tags", T.ArrayType(T.StringType())),
    T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
])


def test_estimator_orders_schemas():
    thin = joins.estimate_row_bytes(THIN)
    fat = joins.estimate_row_bytes(FAT)
    assert 0 < thin < fat
    # thin host row ~tens of bytes, never above 256
    assert thin <= 256
    # fat row carries binary+array+map payload estimates
    assert fat >= 1024


def test_fat_schema_flips_to_shuffle(spark):
    thin_df = spark.createDataFrame([], THIN)
    fat_df = spark.createDataFrame([], FAT)
    n = 1_000_000  # 1M hosts
    probe = spark.range(1)
    thin_joined = probe.join(
        joins.broadcast_if_small(thin_df, n), F.lit(True), "left")
    fat_joined = probe.join(
        joins.broadcast_if_small(fat_df, n), F.lit(True), "left")
    # 1M × ~80B ≈ 80MB fits the 128MB budget; 1M × ~1.5KB ≈ 1.5GB does not
    assert _has_hint(thin_joined)
    assert not _has_hint(fat_joined)


def test_unknown_rows_means_no_hint(spark):
    df = spark.createDataFrame([], THIN)
    out = spark.range(1).join(
        joins.broadcast_if_small(df, None), F.lit(True), "left")
    assert not _has_hint(out)


@pytest.mark.parametrize("n_hosts,expect_hint", [
    (100, True),            # toy scale: broadcast wins
    (50_000_000, False),    # 50M hosts × ~80B ≈ 4GB: shuffle join
    (None, False),          # unknown: let Spark decide
])
def test_streaming_ingest_gated(spark, n_hosts, expect_hint):
    """`to_requests` must never force a host-scale broadcast — the exact
    OOM class `_bcast_hosts` already gates in the batch scheduler
    (tests/test_round_plan.py::test_host_broadcasts_size_gated)."""
    from open_source_search_engine_spark.streaming.ingest import to_requests

    hostmeta = spark.createDataFrame(
        [("example.com", 16909060, "", 200)],
        "host string, first_ip long, robots_txt string, robots_status int")
    feed = spark.createDataFrame(
        [("http://example.com/a", 1_600_000_000_000)],
        "url string, added_time_ms long")
    out = to_requests(feed, hostmeta, n_hosts=n_hosts)
    assert _has_hint(out) == expect_hint
    # end-to-end on the batch df: the gated plan still resolves hosts
    rows = out.collect()
    assert len(rows) == 1 and rows[0].first_ip == 16909060


def test_no_unconditional_host_broadcast_in_source_tree():
    """grep gate from VERDICT r3 item 3: no `F.broadcast(` of a
    host-keyed table outside the size-gated helper."""
    import pathlib
    root = pathlib.Path(__file__).resolve().parent.parent / \
        "open_source_search_engine_spark"
    offenders = []
    for p in root.rglob("*.py"):
        for i, line in enumerate(p.read_text().splitlines(), 1):
            if "F.broadcast(" in line and "host" in line.lower() \
                    and p.name != "joins.py":
                offenders.append(f"{p.name}:{i}: {line.strip()}")
    assert not offenders, offenders


# every environment switch the product reads, each kept on purpose:
# core count, the shuffle-partition pin and AQE (perfbench and the
# scaling runs set them), driver memory, the Spark UI, and the frontier
# bucket count (file layout only, never results)
ENV_ALLOW = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_AQE",
             "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_UI",
             "OSSE_FRONTIER_BUCKETS"}


def test_no_unlisted_env_switch_in_source_tree():
    """Knob gate: the product package and crawl_main.py read no
    environment variable outside ENV_ALLOW, and every read names its
    variable as a literal.  A new switch has to be added to the list on
    purpose (and justified there)."""
    import pathlib
    import re
    repo = pathlib.Path(__file__).resolve().parent.parent
    files = [*(repo / "open_source_search_engine_spark").rglob("*.py"),
             repo / "crawl_main.py"]
    ref = re.compile(r"os\.(?:environ|getenv)\b")
    named = re.compile(r"os\.(?:environ\.get\(|environ\[|getenv\()\s*"
                       r"[\"']([A-Za-z0-9_]+)[\"']")
    offenders = []
    for p in files:
        text = p.read_text()
        names = [m.group(1) for m in named.finditer(text)]
        offenders += [f"{p.name}: {n}" for n in names if n not in ENV_ALLOW]
        unnamed = len(ref.findall(text)) - len(names)
        if unnamed:
            offenders.append(f"{p.name}: {unnamed} environment access(es) "
                             "without a literal variable name")
    assert not offenders, offenders
