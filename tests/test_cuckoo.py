"""Cuckoo-filter URL-seen: NumPy kernel properties + Spark plumbing.

Contract (operators/cuckoo.py, after Fan et al. CoNEXT'14):
- no false negatives for inserted keys (lookup of every inserted key hits)
- set semantics: duplicate keys store one fingerprint copy
- the Spark routing and in-place insert keep the no-false-negative
  guarantee
"""

import numpy as np
import pytest

from open_source_search_engine_spark.operators import cuckoo as C


def _keys(n, seed=7):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 1 << 48, size=n, dtype=np.uint64)


def test_build_lookup_no_false_negatives():
    keys = _keys(20_000)
    nb = C._n_buckets_for(len(keys), 1.5)
    table = C._build_table(keys, nb)
    assert C._lookup(table, keys, nb).all()


def test_false_positive_rate_sane():
    keys = _keys(20_000)
    nb = C._n_buckets_for(len(keys), 1.5)
    table = C._build_table(keys, nb)
    probe = _keys(20_000, seed=99)
    fresh = probe[~np.isin(probe, keys)]
    fpr = C._lookup(table, fresh, nb).mean()
    # 2 buckets x 4 ways x 2^-16 fingerprint collision ≈ 0.00012
    assert fpr < 0.005, fpr


def test_duplicate_inserts_collapse():
    keys = np.repeat(_keys(1_000), 5)
    nb = C._n_buckets_for(1_000, 1.5)
    table = C._build_table(keys, nb)
    assert C._lookup(table, np.unique(keys), nb).all()
    # set semantics: one stored fingerprint per distinct key
    assert int((table != 0).sum()) == len(np.unique(keys))


def test_high_load_kick_path():
    """True ~0.95 load (ADVICE r4 #2): _n_buckets_for rounds buckets up
    to a power of two, so the key count must sit just under a
    power-of-two capacity.  7800 keys * 1.05 = 8190 slots needed ->
    nb=2048 -> 8192 slots -> load 7800/8192 = 0.952, which forces the
    straggler kick walk after the vectorized placement rounds."""
    keys = np.unique(_keys(8_000, seed=3))[:7_800]
    nb = C._n_buckets_for(len(keys), 1.05)
    assert nb == 2048 and len(keys) / (nb * C.BUCKET_WAYS) > 0.94
    table = C._build_table(keys, nb)
    assert C._lookup(table, keys, nb).all()


def test_over_capacity_raises():
    """More unique keys than slots must raise (the all-or-nothing
    rebuild trigger), not loop in the kick walk."""
    keys = np.unique(_keys(11_000, seed=5))[:9_000]
    nb = C._n_buckets_for(len(keys), 0.9)  # 8100 needed -> 8192 slots
    assert nb * C.BUCKET_WAYS < len(keys)
    with pytest.raises(RuntimeError, match="over capacity"):
        C._build_table(keys, nb)


@pytest.mark.usefixtures("spark")
def test_spark_roundtrip_and_insert(spark):
    from pyspark.sql import functions as F

    seen = spark.range(5_000).select(
        (F.xxhash64("id").bitwiseAND((1 << 48) - 1)).alias("uh48"))
    filt = C.build_cuckoo(seen, partition_bits=3).cache()
    # every seen key routes to maybe_seen=true (no false negatives)
    routed = C.cuckoo_maybe_seen(seen, filt, partition_bits=3)
    assert routed.filter(~F.col("maybe_seen")).count() == 0
    # fresh keys overwhelmingly route definitely-new
    fresh = spark.range(5_000, 10_000).select(
        (F.xxhash64("id").bitwiseAND((1 << 48) - 1)).alias("uh48"))
    n_fresh = fresh.count()
    maybe = C.cuckoo_maybe_seen(fresh, filt, partition_bits=3) \
        .filter("maybe_seen").count()
    assert maybe < 0.01 * n_fresh
    # in-place insert: the fresh keys route as seen afterwards, and the
    # already-seen keys keep routing as seen
    grown = C.cuckoo_insert(filt, fresh, partition_bits=3)
    row = grown.agg(F.sum("n_requested").alias("rq"),
                    F.sum("n_applied").alias("ap")).collect()[0]
    assert row.rq == row.ap == n_fresh
    filt2 = grown.select("bucket", "n_buckets", "table")
    both = seen.unionByName(fresh)
    ok = C.cuckoo_maybe_seen(both, filt2, partition_bits=3) \
        .filter("maybe_seen").count()
    assert ok == both.count()
    filt.unpersist()
