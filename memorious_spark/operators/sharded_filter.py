"""Executor-resident sharded seen-filters: a bloom and a deletable
cuckoo.

Each filter lives WHERE THE DATA IS: a DataFrame of one
``(shard int, <table> binary)`` row per non-empty shard, kept on
executors in localCheckpoint storage (an absent shard reads as
empty). At the north-rule scale (10^10-URL frontier) a driver-resident
filter would be ~12-20 GB of driver memory plus an O(new URLs) driver
transfer per round; here every operation is a cogrouped Arrow job
that moves ZERO filter bytes through the driver:

- **update** (bloom OR-in; cuckoo insert and delete):
  cogroup(filter-by-shard, hashes-by-shard) → each task rewrites its
  ONE shard table → the new table is eagerly checkpointed and the
  superseded one released (:func:`_cogroup_update`). Driver traffic
  is task metadata — O(P), independent of how many URLs the round
  discovered.
- **probe**: cogroup(candidates-by-shard, filter-by-shard) → each
  task flags its candidates against the table it owns
  (:func:`_probe_anti_join`). Costs one shuffle of the candidates on
  the shard key — the scalable shape once the filter no longer fits
  in (and is re-shipped through) driver memory.
- **exactness**: identical contract to :func:`seen.dedup_new` — the
  probe only prunes; every ``maybe_seen`` candidate goes through the
  exact ``left_anti`` join, so a false positive is kept and a wrongly
  dropped URL is impossible.

Routing: the bloom shards by ``pmod(url_hash, S)``; the cuckoo by the
low-bit mask ``url_hash & (S-1)`` with ``S`` a power of two, which
equals numpy's ``uint64 % S`` of the SIGNED hash (two's complement
keeps the low bits), so shard tables can be read back on the driver.
The cuckoo's per-table kernel is :mod:`memorious_spark.operators.
cuckoo`; an over-full shard fails LOUD as a task failure.

Checkpoint/resume: the filter is already a DataFrame, so a caller can
persist it as a parquet table next to the seen table.

The crawl runner does not use these filters: its seen step is the
plain anti-join of :func:`seen.dedup_new`, which measured faster (see
the seen.py module docstring). They remain standalone operators.

Reference semantics replaced: memorious's Redis ``tags`` membership
checks (memorious/logic/context.py:114-148), one round-trip per URL.
"""

from __future__ import annotations

import dataclasses
import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import BooleanType, StructField, StructType

from memorious_spark.operators.cuckoo import (
    _BUCKET, _contains, _delete_batch, _insert_batch,
    _next_pow2, _size_for,
)
from memorious_spark.session import release_checkpoint

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

_BLOOM_SCHEMA = "shard int, bm binary"
# `removed` is delete's per-shard ledger; the handle keeps it in the
# checkpointed frame so that frame stays the bare checkpoint
# release_checkpoint can free
_CUCKOO_SCHEMA = "shard int, tbl binary, removed long"
_MULT = 0x9E3779B97F4A7C15
_MASK = (1 << 64) - 1


# ---- shared cogroup scaffold ------------------------------------------


def _keys_by_shard(df: DataFrame, key: str, route, shards: int) -> DataFrame:
    """Non-null ``key`` values as ``url_hash`` with their ``_shard`` id;
    ``route(shards)`` is the filter's routing expression."""
    return (
        df.select(F.col(key).alias("url_hash"))
        .where(F.col("url_hash").isNotNull())
        .withColumn("_shard", route(shards))
    )


def _cogroup_update(filt_df: DataFrame, keys: DataFrame, schema: str, apply):
    """cogroup(filter-by-shard, keys-by-shard) → one rewritten row per
    shard → eager ``localCheckpoint``; the superseded table's storage
    is then released (:func:`session.release_checkpoint`), so the
    handle that held it must not be read again. ``apply(row, hv)``
    gets the shard's stored filter row (None for a shard never
    written) and its uint64 hashes, and returns the new row's
    non-``shard`` columns as a dict.

    The checkpoint is EAGER: the update must be a materialized fact
    before the next probe reads it (and the lineage must not re-run a
    nondeterministic upstream) — a hash missing from the filter would
    be a false negative, the one error the exact anti-join cannot
    absorb."""

    def per_shard(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty:
            shard, row = right["_shard"].iloc[0], None
        else:
            shard, row = left["shard"].iloc[0], left.iloc[0]
        hv = right["url_hash"].to_numpy(dtype=np.uint64, na_value=0)
        cols = apply(row, hv)
        return pd.DataFrame(
            {"shard": [int(shard)], **{c: [v] for c, v in cols.items()}}
        )

    df = (
        filt_df.groupby("shard")
        .cogroup(keys.groupby("_shard"))
        .applyInPandas(per_shard, schema)
        .localCheckpoint(eager=True)
    )
    release_checkpoint(filt_df)
    return df


def _anti_join_maybe(flagged: DataFrame, seen_keys: DataFrame) -> DataFrame:
    """One-pass exactness backstop for a probabilistic probe: the
    probe's ``_maybe_seen`` flag folds into the anti-join CONDITION —
    a row is dropped only when its ``url_hash`` is in ``seen_keys`` AND the
    probe flagged it. ``_maybe_seen = false`` rows never match, so
    they are kept without ever entering the hash lookup. (A
    split-and-union of flagged/unflagged rows would run the whole
    cogrouped probe subtree twice.)"""
    sk = seen_keys.select(F.col("url_hash").alias("_seen_key"))
    return (
        flagged.join(
            sk.hint("shuffle_hash"),
            (F.col("url_hash") == F.col("_seen_key")) & F.col("_maybe_seen"),
            "left_anti",
        )
        .drop("_maybe_seen")
    )


def _probe_anti_join(
    candidates: DataFrame,
    seen: DataFrame | None,
    filt_df: DataFrame,
    shard_col: Column,
    contains,
) -> DataFrame:
    """Rows of ``candidates`` whose ``url_hash`` is not in ``seen``: probe
    each shard's candidates against that shard's filter row in its own
    task (``contains(row, hv)`` → bool array), then send the flagged
    rows through the exact anti-join. NULL-key rows probe as not-seen
    (the anti-join keeps them too)."""
    if seen is None:
        return candidates
    cands = candidates.withColumn("_shard", shard_col)
    out_schema = StructType(
        cands.schema.fields + [StructField("_maybe_seen", BooleanType())]
    )

    def probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        # left: the shard's candidates; right: 0/1 filter rows
        left = left.copy()
        if left.empty:
            left["_maybe_seen"] = pd.Series([], dtype=bool)
            return left
        if right.empty:
            left["_maybe_seen"] = False
            return left
        h = left["url_hash"]
        hv = h.to_numpy(dtype=np.uint64, na_value=0)
        left["_maybe_seen"] = contains(right.iloc[0], hv) & h.notna().to_numpy()
        return left

    probed = (
        cands.groupby("_shard")
        .cogroup(filt_df.groupby("shard"))
        .applyInPandas(probe, out_schema)
    )
    return _anti_join_maybe(
        probed, seen.select("url_hash").distinct()
    ).drop("_shard")


# ---- sharded BLOOM (append-only) ---------------------------------------


def _bloom_params(expected: int) -> tuple[int, int]:
    """Bits and probes for ``expected`` keys at a 1% false-positive
    rate."""
    m = max(1024, int(-expected * math.log(0.01) / (math.log(2) ** 2)))
    k = max(1, round(m / expected * math.log(2)))
    return m, min(k, 8)


def _bloom_bits(hv: np.ndarray, m: int, k: int):
    """Yield the k (byte index, bit mask) pairs of each 64-bit hash —
    double hashing in exact uint64-wraparound arithmetic, shared by
    the OR-in and the probe so the two can never disagree."""
    h2 = ((hv * np.uint64(_MULT)) & np.uint64(_MASK)) | np.uint64(1)
    for i in range(k):
        idx = (hv + np.uint64(i) * h2) % np.uint64(m)
        yield (
            (idx >> np.uint64(3)).astype(np.int64),
            (np.uint64(1) << (idx & np.uint64(7))).astype(np.uint8),
        )


def _or_hashes(arr: np.ndarray, hv: np.ndarray, m: int, k: int) -> None:
    """Set the k bloom bits of each hash (``bitwise_or.at`` handles
    duplicate byte indexes; no Python per-row loop)."""
    for byte, bit in _bloom_bits(hv, m, k):
        np.bitwise_or.at(arr, byte, bit)


@dataclass
class ShardedBloom:
    """Handle to an executor-resident sharded bloom: the shard table
    plus the (driver-known, constant) geometry."""

    df: DataFrame
    shards: int
    m: int  # bits per shard
    k: int  # probes per key


def _bloom_shard(shards: int) -> Column:
    return F.pmod(F.col("url_hash"), F.lit(shards)).cast("int")


def build_sharded_bloom(
    df: DataFrame,
    key: str,
    expected: int,
    shards: int | None = None,
) -> ShardedBloom:
    """Distributed build: size each shard's bitmap for
    ``expected / shards`` keys at a 1% false-positive rate (xxhash64
    routing is uniform), then run
    one :func:`update_sharded` pass over ``df``. Nothing but task
    statuses reaches the driver."""
    spark = df.sparkSession
    if shards is None:
        shards = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if shards < 1:
        raise ValueError(f"shards must be >= 1, got {shards}")
    m, k = _bloom_params(max(1, expected // shards))
    empty = ShardedBloom(
        df=spark.createDataFrame([], _BLOOM_SCHEMA), shards=shards, m=m, k=k
    )
    return update_sharded(empty, df, key=key)


def update_sharded(
    bloom: ShardedBloom, new_df: DataFrame, key: str = "url_hash"
) -> ShardedBloom:
    """OR a round's new hashes into their shards — entirely on
    executors, O(P) driver bytes."""
    m, k = bloom.m, bloom.k

    def orin(row, hv: np.ndarray) -> dict:
        if row is None:
            arr = np.zeros((m + 7) // 8, dtype=np.uint8)
        else:
            arr = np.frombuffer(row["bm"], dtype=np.uint8).copy()
        _or_hashes(arr, hv, m, k)
        return {"bm": arr.tobytes()}

    keys = _keys_by_shard(new_df, key, _bloom_shard, bloom.shards)
    df = _cogroup_update(bloom.df, keys, _BLOOM_SCHEMA, orin)
    return dataclasses.replace(bloom, df=df)


def dedup_new_sharded(
    candidates: DataFrame,
    seen: DataFrame | None,
    bloom: ShardedBloom,
) -> DataFrame:
    """Rows of ``candidates`` whose ``url_hash`` is not in ``seen`` —
    the sharded-bloom-probe twin of :func:`seen.dedup_new`."""
    m, k = bloom.m, bloom.k

    def contains(row, hv: np.ndarray) -> np.ndarray:
        arr = np.frombuffer(row["bm"], dtype=np.uint8)
        hit = np.ones(len(hv), dtype=bool)
        for byte, bit in _bloom_bits(hv, m, k):
            hit &= (arr[byte] & bit) != 0
        return hit

    return _probe_anti_join(
        candidates, seen, bloom.df, _bloom_shard(bloom.shards), contains,
    )


# ---- sharded CUCKOO (deletable) ----------------------------------------


@dataclass
class ShardedCuckoo:
    """Executor-resident cuckoo filter: ``df`` holds one
    ``(shard, tbl)`` row per non-empty shard, each ``tbl`` an
    ``(nb, 4)`` uint16 table of the keys with
    ``int(hash & (shards-1)) == shard``."""

    df: DataFrame
    shards: int  # power of two
    nb: int  # buckets per shard table


def _cuckoo_shard(shards: int) -> Column:
    return F.expr(f"int(url_hash & {shards - 1})")


def _cuckoo_update(filt: ShardedCuckoo, df: DataFrame, key: str, op):
    """Apply ``op(table, hv) -> removed count`` shard-locally."""
    nb = filt.nb

    def apply(row, hv: np.ndarray) -> dict:
        if row is None:
            t = np.zeros((nb, _BUCKET), dtype=np.uint16)
        else:
            t = np.frombuffer(row["tbl"], dtype=np.uint16)
            t = t.reshape(nb, _BUCKET).copy()
        removed = op(t, hv)
        return {"tbl": t.tobytes(), "removed": removed}

    keys = _keys_by_shard(df, key, _cuckoo_shard, filt.shards)
    out = _cogroup_update(filt.df, keys, _CUCKOO_SCHEMA, apply)
    return dataclasses.replace(filt, df=out)


def build_sharded_cuckoo(
    df: DataFrame,
    key: str,
    expected: int,
    shards: int | None = None,
) -> ShardedCuckoo:
    """Distributed build: route keys to shards (one shuffle), build
    every shard table vectorized IN ITS OWN TASK, keep the tables on
    executors. ``shards`` (default: the session's shuffle parallelism)
    rounds up to a power of two — at cluster scale set it so one shard
    ≈ one task's memory budget."""
    spark = df.sparkSession
    if shards is None:
        shards = int(spark.conf.get("spark.sql.shuffle.partitions"))
    shards = _next_pow2(shards)
    empty = ShardedCuckoo(
        df=spark.createDataFrame([], _CUCKOO_SCHEMA),
        shards=shards, nb=_size_for(expected, shards),
    )
    return update_sharded_cuckoo(empty, df, key=key)


def update_sharded_cuckoo(
    filt: ShardedCuckoo, new_df: DataFrame, key: str = "url_hash"
) -> ShardedCuckoo:
    """Insert a round's new hashes into their shards — entirely on
    executors, O(P) driver bytes. Batch-internal duplicates are
    dropped; an over-full shard raises in its task."""

    def ins(t: np.ndarray, hv: np.ndarray) -> int:
        _insert_batch(t, np.unique(hv))
        return 0

    return _cuckoo_update(filt, new_df, key, ins)


def delete_sharded_cuckoo(
    filt: ShardedCuckoo, expired_df: DataFrame
) -> tuple[ShardedCuckoo, int]:
    """Remove expired hashes' fingerprints shard-locally — the
    operation the bloom can't do. Returns (new filter, number of
    fingerprints removed)."""
    out = _cuckoo_update(filt, expired_df, "url_hash", _delete_batch)
    removed = out.df.agg(F.sum("removed")).first()[0] or 0
    return out, int(removed)


def dedup_new_sharded_cuckoo(
    candidates: DataFrame,
    seen: DataFrame | None,
    filt: ShardedCuckoo,
) -> DataFrame:
    """Rows of ``candidates`` whose ``url_hash`` is not in ``seen`` —
    the sharded-cuckoo-probe twin of :func:`seen.dedup_new`."""
    nb = filt.nb

    def contains(row, hv: np.ndarray) -> np.ndarray:
        t = np.frombuffer(row["tbl"], dtype=np.uint16).reshape(nb, _BUCKET)
        return _contains(t, hv)

    return _probe_anti_join(
        candidates, seen, filt.df, _cuckoo_shard(filt.shards), contains,
    )
