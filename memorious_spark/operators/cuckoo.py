"""Cuckoo filter kernel — the deletable alternative to a URL-seen
bloom filter.

BASELINE.json's north rule names "a partitioned bloom/cuckoo URL-seen
set" as the replacement for memorious's Redis ``tags`` lookups
(memorious/logic/context.py:114-148). The bloom covers the append-only
regime; this filter covers the regime the bloom structurally can't:
**expiring tags** (the reference's ``expire × 84600`` quirk,
memorious/logic/crawler.py:50). A bloom only ever ORs bits in, so once
a seen entry expires the bitmap keeps answering "maybe seen" forever —
correctness survives (the exact anti-join excludes expired rows) but
the prefilter's pruning decays toward useless as the expired fraction
grows. A cuckoo filter supports DELETE: expire a tag, remove its
fingerprint, and the prefilter stays tight for the life of the crawl.

This module is the per-shard-table numpy kernel. The filter itself is
executor-resident: :class:`~memorious_spark.operators.sharded_filter.
ShardedCuckoo` keeps one ``(shard, tbl)`` row per shard and runs
insert/delete/probe as cogrouped Arrow jobs over these functions.

Design (10^10-key posture):

- **Sharded by ``hash & (n_shards - 1)``**, not one monolithic table:
  cuckoo tables don't merge (inserting is stateful — two partials
  can't be OR'd like bloom bitmaps), so every operation routes each
  key to its shard's task and works on that shard's table alone.
- **4-way buckets, 16-bit fingerprints** (Fan et al., "Cuckoo Filter:
  Practically Better Than Bloom", CoNLL 2014): ~2 bytes/key at 95%
  load, false-positive rate ≈ 2·4/2^16 ≈ 1.2e-4 — an order tighter
  than the bloom's 1e-2 at twice the bits, bought by the eviction
  machinery.
- **Vectorized batch insert**: items are placed in numpy rounds
  (sort-by-bucket → rank-within-bucket < free-capacity → bulk store),
  alternating between each item's two candidate buckets; only the
  residue that finds both buckets full enters the per-item eviction
  walk. At the default 84% fill target the vectorized rounds place
  ~99% of keys, so the Python loop touches a sliver. A full table
  fails LOUD (ValueError) rather than silently dropping keys — a
  dropped insert would be a false NEGATIVE at probe time, the one
  hazard the dedup contract can't absorb (a key wrongly "unseen"
  re-crawls its URL; wrongly "seen" is caught by the exact anti-join).
- **Probe is pure numpy** (8 slot comparisons per key).

``build_cuckoo`` / ``delete_cuckoo`` and ``seen.dedup_new(...,
cuckoo=)`` are the entry points ``__spark_entry__.py`` imports; they
are thin adapters over the sharded filter. The filter is a PREFILTER:
the probe's "maybe seen" flag folds into the exact anti-join's
condition, so its false positives cost a hash lookup, never
correctness. The crawl runner does not use it (seen.py explains why).
"""

from __future__ import annotations

import math
from typing import TYPE_CHECKING

import numpy as np
from pyspark.sql import DataFrame

if TYPE_CHECKING:
    from memorious_spark.operators.sharded_filter import ShardedCuckoo

__all__ = ["build_cuckoo", "delete_cuckoo"]

_BUCKET = 4  # slots per bucket
_FP_MULT = np.uint64(0x5BD1E995)  # fp → partner-bucket offset hash
_MASK64 = np.uint64(0xFFFFFFFFFFFFFFFF)
_MAX_KICKS = 500


def _next_pow2(n: int) -> int:
    return 1 << max(0, (n - 1)).bit_length()


_FP_MIX = np.uint64(0x9E3779B97F4A7C15)


def _fingerprint(hv: np.ndarray) -> np.ndarray:
    """16-bit nonzero fingerprint from the top bits of a REMIXED key
    hash — the bucket uses the raw low bits, so mixing keeps the two
    independent even for low-entropy keys (sequential ids in tests;
    xxhash64 in production already has full entropy)."""
    mixed = (hv * _FP_MIX) & _MASK64
    fp = ((mixed >> np.uint64(48)) & np.uint64(0xFFFF)).astype(np.uint16)
    return np.where(fp == 0, np.uint16(1), fp)


def _buckets(hv: np.ndarray, fp: np.ndarray, nb: int):
    """The two candidate buckets. ``nb`` is a power of two so partner
    derivation is an XOR mask — the standard trick that makes
    ``partner(partner(b)) == b`` hold, which eviction relies on."""
    b1 = (hv & np.uint64(nb - 1)).astype(np.int64)
    return b1, _partner(b1, fp, nb)


def _partner(b: np.ndarray, fp: np.ndarray, nb: int) -> np.ndarray:
    mask = np.uint64(nb - 1)
    step = ((fp.astype(np.uint64) * _FP_MULT) & _MASK64) & mask
    return (b.astype(np.uint64) ^ step).astype(np.int64)


def _place_round(table: np.ndarray, b: np.ndarray, fp: np.ndarray):
    """One vectorized placement round: for each item try bucket ``b``;
    returns the boolean mask of items that did NOT fit. Sort by
    bucket, rank items within their bucket, and admit rank < free
    slots — every store is a single fancy-index assignment."""
    free = (table == 0)  # (nb, BUCKET) bool
    cap = free.sum(axis=1)
    order = np.argsort(b, kind="stable")
    bs = b[order]
    # rank of each item within its run of equal buckets: run-start
    # indices are monotonically increasing, so a max-scan over
    # (start ? index : 0) carries the latest run start forward
    new_run = np.ones(len(bs), dtype=bool)
    new_run[1:] = bs[1:] != bs[:-1]
    first = np.where(new_run, np.arange(len(bs)), 0)
    np.maximum.accumulate(first, out=first)
    rank = np.arange(len(bs)) - first
    fits = rank < cap[bs]
    if fits.any():
        # slot index = (# already-used slots) + rank, mapped through
        # the free-slot positions of the bucket
        slot_pos = np.cumsum(free, axis=1) - 1  # rank each free slot
        # For each fitting item: find the column whose free-rank == rank
        tgt_b = bs[fits]
        tgt_r = rank[fits]
        # free_rank[tgt_b] == tgt_r AND free → column index
        col = np.argmax(
            (slot_pos[tgt_b] == tgt_r[:, None]) & free[tgt_b], axis=1
        )
        table[tgt_b, col] = fp[order[fits]]
    left = np.ones(len(b), dtype=bool)
    left[order[fits]] = False
    return left


def _insert_batch(table: np.ndarray, hv: np.ndarray) -> None:
    """Insert hashes into one shard table, vectorized rounds first,
    eviction walk for the residue. Raises when the walk exhausts
    ``_MAX_KICKS`` — the shard is over-full; size with headroom."""
    nb = table.shape[0]
    fp = _fingerprint(hv)
    b1, b2 = _buckets(hv, fp, nb)
    # round 1: first bucket; round 2: partner bucket; repeat once more
    # (earlier placements free no slots, but ROUND ordering means the
    # second pass sees a table already holding the easy majority)
    left = _place_round(table, b1, fp)
    if left.any():
        left2 = _place_round(table, b2[left], fp[left])
        idx = np.flatnonzero(left)[left2]
    else:
        return
    rng = np.random.default_rng(0xC0C0)  # deterministic eviction walk
    for i in idx:  # the sliver both of whose buckets are full
        f = fp[i]
        b = int(b1[i])
        for _ in range(_MAX_KICKS):
            slot = int(rng.integers(_BUCKET))
            f, table[b, slot] = table[b, slot], f
            b = int(_partner(np.int64(b), np.uint16(f), nb))
            empty = np.flatnonzero(table[b] == 0)
            if len(empty):
                table[b, empty[0]] = f
                break
        else:
            raise ValueError(
                f"cuckoo shard over-full (nb={nb}, kicks={_MAX_KICKS}); "
                "rebuild with a larger `expected` — dropping the key "
                "would be a false negative (URL re-crawled)"
            )


def _size_for(expected: int, n_shards: int) -> int:
    per_shard = expected / max(1, n_shards)
    # Poisson skew headroom: keys route by hash, so a shard draws
    # ~N(mean, sqrt(mean)) keys — at production scale the sqrt term
    # is noise, at test scale it's the difference between fitting
    # and a spurious over-full error
    per_shard += 4.0 * math.sqrt(per_shard) + 16.0
    # sized for a 0.84 load factor
    return _next_pow2(math.ceil(per_shard / _BUCKET / 0.84))




def _delete_batch(table: np.ndarray, hv: np.ndarray) -> int:
    """Remove one stored copy of each distinct hash's fingerprint from
    one shard table; returns how many were found. Deleting a
    never-inserted key is a no-op (counted in the shortfall) — the
    caller decides whether that's an error. Per item (deletes are
    expiry batches, each step O(BUCKET)) so two same-bucket deletes
    can't zero one slot twice."""
    hv = np.unique(hv)
    fp = _fingerprint(hv)
    b1, b2 = _buckets(hv, fp, table.shape[0])
    removed = 0
    for j in range(len(hv)):
        for b in (b1[j], b2[j]):
            slots = np.flatnonzero(table[b] == fp[j])
            if len(slots):
                table[b, slots[0]] = 0
                removed += 1
                break
    return removed


def _contains(table: np.ndarray, hv: np.ndarray) -> np.ndarray:
    """Vectorized membership in one shard table: 8 slot comparisons,
    no Python loop over items."""
    fp = _fingerprint(hv)
    b1, b2 = _buckets(hv, fp, table.shape[0])
    hit = (table[b1] == fp[:, None]).any(axis=1)
    hit |= (table[b2] == fp[:, None]).any(axis=1)
    return hit


def build_cuckoo(
    df: DataFrame,
    key: str,
    expected: int,
    n_shards: int | None = None,
) -> ShardedCuckoo:
    """Build a :class:`~memorious_spark.operators.sharded_filter.
    ShardedCuckoo` over ``df[key]`` (``n_shards`` rounds up to a power
    of two; default: the session's shuffle parallelism)."""
    from memorious_spark.operators.sharded_filter import build_sharded_cuckoo

    return build_sharded_cuckoo(df, key, expected, shards=n_shards)


def delete_cuckoo(filt: ShardedCuckoo, df: DataFrame) -> int:
    """Remove expired tags' ``url_hash`` values from ``filt`` IN PLACE
    (its ``df`` is replaced) — the operation the bloom cannot do.
    Returns the number of fingerprints actually removed."""
    from memorious_spark.operators.sharded_filter import delete_sharded_cuckoo

    new, removed = delete_sharded_cuckoo(filt, df)
    filt.df = new.df
    return removed
