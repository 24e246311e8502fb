"""Executor-resident sharded seen-filter (operators/sharded_filter.py).

The scale posture under test: filter maintenance moves ZERO filter
bytes through the driver, while keeping the exactness contract of
``seen.dedup_new`` — the probe only prunes, the final left_anti
decides.
"""

import pytest
from pyspark.sql import functions as F

from memorious_spark.operators.sharded_filter import (
    build_sharded_bloom, dedup_new_sharded, update_sharded,
)


def test_dedup_new_sharded_exactness(spark):
    """Sharded probe == plain anti-join, including with a deliberately
    under-sized filter (lots of false positives) and NULL keys."""
    seen = spark.range(0, 1000, 2).select(F.col("id").alias("url_hash"))
    cands = spark.range(1000).select(F.col("id").alias("url_hash")).unionByName(
        spark.createDataFrame([(None,)], "url_hash long")
    )
    for expected in (4000, 8):  # right-sized and absurdly under-sized
        filt = build_sharded_bloom(seen, "url_hash", expected=expected, shards=4)
        out = dedup_new_sharded(cands, seen, filt)
        got = sorted(
            r["url_hash"] for r in out.collect() if r["url_hash"] is not None
        )
        assert got == list(range(1, 1000, 2))
        assert out.filter(F.col("url_hash").isNull()).count() == 1
        filt.df.unpersist()


def test_sharded_update_incremental(spark):
    """A round's additions OR into their shards without a rebuild; the
    next probe sees them (no false negatives — the one hazard)."""
    seen0 = spark.range(0, 1000, 2).select(F.col("id").alias("url_hash"))
    filt = build_sharded_bloom(seen0, "url_hash", expected=4000, shards=4)
    add = spark.range(5000, 5100).select(F.col("id").alias("url_hash"))
    filt = update_sharded(filt, add)
    seen_all = seen0.unionByName(add)
    cands = spark.range(1000).select(F.col("id").alias("url_hash")).unionByName(
        spark.range(5000, 5200).select(F.col("id").alias("url_hash"))
    )
    got = sorted(
        r["url_hash"] for r in dedup_new_sharded(cands, seen_all, filt).collect()
    )
    assert got == list(range(1, 1000, 2)) + list(range(5100, 5200))
    filt.df.unpersist()


def test_sharded_zero_false_negatives(spark):
    """Every seen key must flag maybe_seen: a false negative would skip
    the exact anti-join and wrongly re-emit a seen URL — the one
    correctness hazard of the prefilter design. Probing the seen set
    against itself returns nothing ONLY if no key was lost (flagged
    rows are caught by the anti-join; unflagged rows bypass it)."""
    seen = spark.range(0, 4000, 2).select(F.col("id").alias("url_hash"))
    filt = build_sharded_bloom(seen, "url_hash", expected=16000, shards=4)
    assert dedup_new_sharded(seen, seen, filt).count() == 0
    # and after an incremental update, the new keys are covered too
    add = spark.range(7000, 7500).select(F.col("id").alias("url_hash"))
    filt = update_sharded(filt, add)
    both = seen.unionByName(add)
    assert dedup_new_sharded(both, both, filt).count() == 0
    filt.df.unpersist()


# ---- executor-resident sharded cuckoo (the deletable twin) -------------


def test_sharded_cuckoo_exactness_and_delete(spark):
    """Build → probe == plain anti-join; DELETE (the operation the
    bloom lacks) makes expired keys crawlable again — all shard-local
    cogrouped jobs, no driver filter bytes."""
    from memorious_spark.operators.sharded_filter import (
        build_sharded_cuckoo, dedup_new_sharded_cuckoo,
        delete_sharded_cuckoo, update_sharded_cuckoo,
    )

    seen0 = spark.range(0, 1000, 2).select(F.col("id").alias("url_hash"))
    filt = build_sharded_cuckoo(seen0, "url_hash", expected=4000, shards=4)
    cands = spark.range(1000).select(F.col("id").alias("url_hash")).unionByName(
        spark.createDataFrame([(None,)], "url_hash long")
    )
    out = dedup_new_sharded_cuckoo(cands, seen0, filt)
    got = sorted(
        r["url_hash"] for r in out.collect() if r["url_hash"] is not None
    )
    assert got == list(range(1, 1000, 2))
    assert out.filter(F.col("url_hash").isNull()).count() == 1

    # incremental insert
    add = spark.range(5000, 5100).select(F.col("id").alias("url_hash"))
    filt = update_sharded_cuckoo(filt, add)
    seen_all = seen0.unionByName(add)
    both = seen_all.unionByName(seen_all)  # probing seen against itself
    assert dedup_new_sharded_cuckoo(
        seen_all, seen_all, filt
    ).count() == 0  # zero false negatives after the update

    # delete expired: every 6th key leaves; it must come back crawlable
    expired = spark.range(0, 1000, 6).select(F.col("id").alias("url_hash"))
    filt, removed = delete_sharded_cuckoo(filt, expired)
    assert removed == expired.count()
    live = seen_all.join(expired, "url_hash", "left_anti")
    out2 = dedup_new_sharded_cuckoo(
        cands.filter(F.col("url_hash").isNotNull()), live, filt
    )
    want = sorted(
        set(range(1, 1000, 2)) | set(range(0, 1000, 6))
    )
    assert sorted(r["url_hash"] for r in out2.collect()) == want
    filt.df.unpersist()


def test_sharded_cuckoo_overfull_fails_loud(spark):
    """An over-full shard must raise (in its task), never drop a key —
    a dropped insert would be a false negative at probe time."""
    from memorious_spark.operators.sharded_filter import build_sharded_cuckoo

    keys = spark.range(5000).select(F.col("id").alias("url_hash"))
    with pytest.raises(Exception, match="over-full"):
        build_sharded_cuckoo(keys, "url_hash", expected=64, shards=2)
