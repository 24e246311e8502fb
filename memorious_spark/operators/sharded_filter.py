"""Executor-resident sharded Bloom seen-filter.

The driver cuckoo (:mod:`memorious_spark.operators.cuckoo`) keeps the
filter ON THE DRIVER: its shard dict is built/updated by collecting
state to the driver and re-broadcast for every probe. At
the north-rule scale (10^10-URL frontier) that is ~12-20 GB of
driver-resident filter plus an O(new URLs) or O(bitmap) driver
transfer per round — the driver becomes the memory and bandwidth
bottleneck of exactly the stage the filter exists to scale.

This module keeps the filter WHERE THE DATA IS: a DataFrame of
``(shard int, bm binary)`` rows living on executors (localCheckpoint
storage), with ``shard = pmod(url_hash, S)``. All three operations are
cogrouped Arrow jobs that move ZERO filter bytes through the driver:

- **update**: cogroup(filter-by-shard, new-hashes-by-shard) → each
  task ORs its shard's new hashes into its shard's bitmap. Driver
  traffic is task metadata — O(P), independent of how many URLs the
  round discovered.
- **probe**: cogroup(candidates-by-shard, filter-by-shard) → each
  task probes its candidates against the ONE bitmap it owns. Costs
  one shuffle of the candidates on the shard key (the broadcast probe
  is shuffle-free, but only while the whole bitmap still fits in — and
  is re-shipped through — driver memory; past that regime this shuffle
  IS the scalable shape).
- **exactness**: identical contract to :func:`seen.dedup_new` — the
  probe only prunes; every ``maybe_seen`` candidate goes through the
  exact ``left_anti`` join, so a false positive is kept and a wrongly
  dropped URL is impossible.

Checkpoint/resume: the filter is already a DataFrame, so a caller can
persist it as a parquet table next to the seen table.

The crawl runner does not use these filters: its seen step is the
plain anti-join of :func:`seen.dedup_new`, which measured faster (see
the seen.py module docstring). They remain standalone operators.

Reference semantics replaced: memorious's Redis ``tags`` membership
checks (memorious/logic/context.py:114-148), one round-trip per URL.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import BooleanType, StructField, StructType

__all__ = [
    "ShardedBloom",
    "build_sharded_bloom",
    "update_sharded",
    "dedup_new_sharded",
    "ShardedCuckoo",
    "build_sharded_cuckoo",
    "update_sharded_cuckoo",
    "delete_sharded_cuckoo",
    "dedup_new_sharded_cuckoo",
]

_FILTER_SCHEMA = "shard int, bm binary"
_MULT = 0x9E3779B97F4A7C15
_MASK = (1 << 64) - 1


def _bloom_params(expected: int, fpp: float) -> tuple[int, int]:
    m = max(1024, int(-expected * math.log(fpp) / (math.log(2) ** 2)))
    k = max(1, round(m / expected * math.log(2)))
    return m, min(k, 8)


def _or_hashes(arr: np.ndarray, hv: np.ndarray, m: int, k: int) -> None:
    """Set the k bloom bits of each 64-bit hash in ``hv`` — the exact
    uint64-wraparound arithmetic of the vectorized probe (no Python
    per-row loop; ``bitwise_or.at`` handles duplicate byte indexes)."""
    hv = hv.astype(np.uint64, copy=False)
    h2 = ((hv * np.uint64(_MULT)) & np.uint64(_MASK)) | np.uint64(1)
    for i in range(k):
        idx = (hv + np.uint64(i) * h2) % np.uint64(m)
        np.bitwise_or.at(
            arr,
            (idx >> np.uint64(3)).astype(np.int64),
            (np.uint64(1) << (idx & np.uint64(7))).astype(np.uint8),
        )


@dataclass
class ShardedBloom:
    """Handle to an executor-resident sharded bloom: the shard table
    plus the (driver-known, constant) geometry. ``df`` rows exist only
    for shards that have ever seen a key — an absent shard reads as
    all-zeros."""

    df: DataFrame
    shards: int
    m: int  # bits per shard
    k: int  # probes per key
    capacity: int  # designed total key capacity (resize trigger)


def _shard_col(key: str, shards: int):
    return F.pmod(F.col(key), F.lit(shards)).cast("int")


def build_sharded_bloom(
    df: DataFrame,
    key: str,
    expected: int,
    shards: int | None = None,
    fpp: float = 0.01,
) -> ShardedBloom:
    """Distributed build: size each shard's bitmap for
    ``expected / shards`` keys (xxhash64 routing is uniform), then run
    one :func:`update_sharded` pass over ``df``. Nothing but task
    statuses reaches the driver."""
    spark = df.sparkSession
    if shards is None:
        shards = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if shards < 1:
        raise ValueError(f"shards must be >= 1, got {shards}")
    m, k = _bloom_params(max(1, expected // shards), fpp)
    empty = ShardedBloom(
        df=spark.createDataFrame([], _FILTER_SCHEMA),
        shards=shards, m=m, k=k, capacity=max(expected, 1),
    )
    return update_sharded(empty, df, key=key)


def update_sharded(
    bloom: ShardedBloom, new_df: DataFrame, key: str = "url_hash"
) -> ShardedBloom:
    """OR a round's new hashes into their shards — entirely on
    executors (cogrouped Arrow tasks), O(P) driver bytes. The returned
    shard table is eagerly localCheckpoint'ed: the update must be a
    MATERIALIZED fact before the next round probes it (and the
    lineage must not re-run a nondeterministic upstream): a hash
    missing from the filter would be a false negative, the one error
    the exact anti-join cannot absorb."""
    m, k = bloom.m, bloom.k
    keys = (
        new_df.select(F.col(key).alias("_h"))
        .where(F.col("_h").isNotNull())
        .withColumn("_shard", _shard_col("_h", bloom.shards))
    )

    def orin(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        # left: 0/1 existing filter rows; right: the shard's new keys
        if left.empty or left["bm"].iloc[0] is None:
            arr = np.zeros((m + 7) // 8, dtype=np.uint8)
            shard = int(right["_shard"].iloc[0])
        else:
            arr = np.frombuffer(left["bm"].iloc[0], dtype=np.uint8).copy()
            shard = int(left["shard"].iloc[0])
        if not right.empty:
            hv = right["_h"].to_numpy(dtype=np.uint64, na_value=0)
            _or_hashes(arr, hv, m, k)
        return pd.DataFrame({"shard": [shard], "bm": [arr.tobytes()]})

    df = (
        bloom.df.groupby("shard")
        .cogroup(keys.groupby("_shard"))
        .applyInPandas(orin, _FILTER_SCHEMA)
        .localCheckpoint(eager=True)
    )
    old = bloom.df
    out = ShardedBloom(
        df=df, shards=bloom.shards, m=m, k=k, capacity=bloom.capacity
    )
    try:  # release the superseded checkpoint's executor storage
        old.unpersist()
    except Exception:
        pass
    return out


def dedup_new_sharded(
    candidates: DataFrame,
    seen: DataFrame | None,
    bloom: ShardedBloom,
    key: str = "url_hash",
) -> DataFrame:
    """Rows of ``candidates`` whose ``key`` is not in ``seen`` — the
    sharded-probe twin of :func:`seen.dedup_new`: probe each shard's
    candidates against that shard's bitmap in its own task, then send
    only the ``maybe_seen`` survivors through the exact anti-join.
    NULL-key rows probe as not-seen (the anti-join keeps them too)."""
    if seen is None:
        return candidates
    m, k = bloom.m, bloom.k
    cands = candidates.withColumn("_shard", _shard_col(key, bloom.shards))
    out_schema = StructType(
        cands.schema.fields + [StructField("_maybe_seen", BooleanType())]
    )

    def probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        # left: the shard's candidates; right: 0/1 filter rows
        left = left.copy()
        if left.empty:
            left["_maybe_seen"] = pd.Series([], dtype=bool)
            return left
        if right.empty or right["bm"].iloc[0] is None:
            left["_maybe_seen"] = False
            return left
        arr = np.frombuffer(right["bm"].iloc[0], dtype=np.uint8)
        h = left[key]
        hv = h.to_numpy(dtype=np.uint64, na_value=0)
        hit = np.ones(len(hv), dtype=bool)
        h2 = ((hv * np.uint64(_MULT)) & np.uint64(_MASK)) | np.uint64(1)
        for i in range(k):
            idx = (hv + np.uint64(i) * h2) % np.uint64(m)
            hit &= (
                arr[(idx >> np.uint64(3)).astype(np.int64)]
                & (1 << (idx & np.uint64(7))).astype(np.uint8)
            ) != 0
        left["_maybe_seen"] = hit & h.notna().to_numpy()
        return left

    probed = (
        cands.groupby("_shard")
        .cogroup(bloom.df.groupby("shard"))
        .applyInPandas(probe, out_schema)
    )
    # one-pass backstop: the flag folds into the anti-join condition,
    # so the cogrouped Arrow probe executes ONCE (the former
    # split-and-union ran the whole probe subtree twice)
    from memorious_spark.operators.seen import _anti_join_maybe

    return _anti_join_maybe(
        probed, seen.select(key).distinct(), key
    ).drop("_shard")


# ---- executor-resident sharded CUCKOO (the deletable twin) -----------
#
# Same posture shift as ShardedBloom, applied to the expiring-tags
# regime: operators/cuckoo.py keeps the shard dict on the driver and
# `update_cuckoo` COLLECTS each round's delta hashes (an O(new URLs)
# driver transfer). Here the shard tables are a (shard, tbl) DataFrame
# on executors and insert/delete/probe are cogrouped Arrow jobs over
# the SAME per-shard numpy kernel (cuckoo.py `_insert_batch` /
# fingerprint math), so delete support no longer costs driver
# residency. Over-full shards still fail LOUD — the ValueError now
# surfaces as a task failure instead of a driver one, same contract.

from memorious_spark.operators.cuckoo import (  # noqa: E402
    _BUCKET, _DEFAULT_LOAD, _buckets, _fingerprint, _insert_batch,
    _next_pow2, _size_for,
)

_CUCKOO_SCHEMA = "shard int, tbl binary"


@dataclass
class ShardedCuckoo:
    """Executor-resident cuckoo filter: ``df`` holds one
    ``(shard, tbl)`` row per non-empty shard (an absent shard reads
    as empty), ``shard = int(hash & (shards-1))`` — identical routing
    to the driver filter, so the fingerprint math is shared verbatim."""

    df: DataFrame
    shards: int  # power of two
    nb: int  # buckets per shard table
    capacity: int


def _cuckoo_shard_col(key: str, shards: int):
    # low-bit mask of the SIGNED hash == uint64 % shards for a power
    # of two (two's complement keeps low bits) — cuckoo.py's routing
    return F.expr(f"int({key} & {shards - 1})")


def build_sharded_cuckoo(
    df: DataFrame,
    key: str,
    expected: int,
    shards: int | None = None,
    load: float = _DEFAULT_LOAD,
) -> ShardedCuckoo:
    """Distributed build: route keys to shards (one shuffle), build
    every shard table vectorized IN ITS OWN TASK, keep the tables on
    executors. Nothing but task statuses reaches the driver."""
    spark = df.sparkSession
    if shards is None:
        shards = int(spark.conf.get("spark.sql.shuffle.partitions"))
    shards = _next_pow2(shards)
    nb = _size_for(expected, shards, load)
    empty = ShardedCuckoo(
        df=spark.createDataFrame([], _CUCKOO_SCHEMA),
        shards=shards, nb=nb, capacity=max(expected, 1),
    )
    return update_sharded_cuckoo(empty, df, key=key)


def _cuckoo_cogroup(filt: ShardedCuckoo, keys_df: DataFrame, fn):
    """cogroup(filter-by-shard, keys-by-shard) → applyInPandas(fn) →
    eagerly checkpointed new shard table (same false-negative-proof
    materialization contract as the bloom's update)."""
    # the handle keeps the full checkpointed frame (incl. the
    # `removed` ledger column — cogroup consumers read only
    # shard/tbl) so unpersist() on a superseded filter releases the
    # actual checkpoint storage, not a projection over it
    df = (
        filt.df.groupby("shard")
        .cogroup(keys_df.groupby("_shard"))
        .applyInPandas(fn, _CUCKOO_SCHEMA + ", removed long")
    ).localCheckpoint(eager=True)
    old = filt.df
    out = ShardedCuckoo(
        df=df, shards=filt.shards, nb=filt.nb, capacity=filt.capacity
    )
    try:
        old.unpersist()
    except Exception:
        pass
    removed = df.agg(F.sum("removed")).first()[0] or 0
    return out, int(removed)


def _keys_by_shard(new_df: DataFrame, key: str, shards: int) -> DataFrame:
    return (
        new_df.select(F.col(key).alias("_h"))
        .where(F.col("_h").isNotNull())
        .withColumn("_shard", _cuckoo_shard_col("_h", shards))
    )


def update_sharded_cuckoo(
    filt: ShardedCuckoo, new_df: DataFrame, key: str = "url_hash"
) -> ShardedCuckoo:
    """Insert a round's new hashes into their shards — entirely on
    executors, O(P) driver bytes (vs ``update_cuckoo``'s collect of
    every delta hash). Batch-internal duplicates are dropped (the
    driver build does the same); an over-full shard raises in its
    task."""
    nb = filt.nb

    def ins(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty:
            t = np.zeros((nb, _BUCKET), dtype=np.uint16)
            shard = int(right["_shard"].iloc[0])
        else:
            t = np.frombuffer(left["tbl"].iloc[0], dtype=np.uint16)
            t = t.reshape(nb, _BUCKET).copy()
            shard = int(left["shard"].iloc[0])
        if not right.empty:
            hv = right["_h"].to_numpy(dtype=np.uint64, na_value=0)
            _insert_batch(t, np.unique(hv))
        return pd.DataFrame(
            {"shard": [shard], "tbl": [t.tobytes()], "removed": [0]}
        )

    out, _ = _cuckoo_cogroup(
        filt, _keys_by_shard(new_df, key, filt.shards), ins
    )
    return out


def delete_sharded_cuckoo(
    filt: ShardedCuckoo, expired_df: DataFrame, key: str = "url_hash"
) -> tuple[ShardedCuckoo, int]:
    """Remove expired hashes' fingerprints shard-locally — the
    operation the bloom can't do, now without the driver round-trip.
    Returns (new filter, number of fingerprints removed)."""
    nb = filt.nb

    def rm(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty:
            # deleting from a never-written shard: nothing stored
            shard = int(right["_shard"].iloc[0])
            t = np.zeros((nb, _BUCKET), dtype=np.uint16)
            return pd.DataFrame(
                {"shard": [shard], "tbl": [t.tobytes()], "removed": [0]}
            )
        t = np.frombuffer(left["tbl"].iloc[0], dtype=np.uint16)
        t = t.reshape(nb, _BUCKET).copy()
        shard = int(left["shard"].iloc[0])
        removed = 0
        if not right.empty:
            hv = np.unique(
                right["_h"].to_numpy(dtype=np.uint64, na_value=0)
            )
            fp = _fingerprint(hv)
            b1, b2 = _buckets(hv, fp, nb)
            for j in range(len(hv)):
                for b in (b1[j], b2[j]):
                    slots = np.flatnonzero(t[b] == fp[j])
                    if len(slots):
                        t[b, slots[0]] = 0
                        removed += 1
                        break
        return pd.DataFrame(
            {"shard": [shard], "tbl": [t.tobytes()], "removed": [removed]}
        )

    return _cuckoo_cogroup(
        filt, _keys_by_shard(expired_df, key, filt.shards), rm
    )


def dedup_new_sharded_cuckoo(
    candidates: DataFrame,
    seen: DataFrame | None,
    filt: ShardedCuckoo,
    key: str = "url_hash",
) -> DataFrame:
    """Rows of ``candidates`` whose ``key`` is not in ``seen`` — the
    cuckoo probe runs shard-local (cogrouped), the exact ``left_anti``
    decides. NULL-key rows probe as not-seen. Contract identical to
    :func:`dedup_new_sharded` / ``seen.dedup_new``."""
    if seen is None:
        return candidates
    nb = filt.nb
    cands = candidates.withColumn(
        "_shard", _cuckoo_shard_col(key, filt.shards)
    )
    out_schema = StructType(
        cands.schema.fields + [StructField("_maybe_seen", BooleanType())]
    )

    def probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        left = left.copy()
        if left.empty:
            left["_maybe_seen"] = pd.Series([], dtype=bool)
            return left
        if right.empty:
            left["_maybe_seen"] = False
            return left
        t = np.frombuffer(right["tbl"].iloc[0], dtype=np.uint16)
        t = t.reshape(nb, _BUCKET)
        h = left[key]
        hv = h.to_numpy(dtype=np.uint64, na_value=0)
        fp = _fingerprint(hv)
        b1, b2 = _buckets(hv, fp, nb)
        hit = (t[b1] == fp[:, None]).any(axis=1)
        hit |= (t[b2] == fp[:, None]).any(axis=1)
        left["_maybe_seen"] = hit & h.notna().to_numpy()
        return left

    probed = (
        cands.groupby("_shard")
        .cogroup(filt.df.groupby("shard"))
        .applyInPandas(probe, out_schema)
    )
    # one-pass backstop — see dedup_new_sharded
    from memorious_spark.operators.seen import _anti_join_maybe

    return _anti_join_maybe(
        probed, seen.select(key).distinct(), key
    ).drop("_shard")
