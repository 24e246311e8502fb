"""Sharded cuckoo filter — the deletable alternative to a URL-seen
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

Design (10^10-key posture):

- **Sharded by ``hash % n_shards``**, not one monolithic table: cuckoo
  tables don't merge (inserting is stateful — two partials can't be
  OR'd like bloom bitmaps), so the distributed build routes each key
  to its shard's partition (one shuffle) and builds every shard
  INDEPENDENTLY in one vectorized pass. At 10^10 keys the shard map is
  also the serve-time partitioning: a cluster deployment pins shard i
  next to candidate partition i and probes without moving the filter;
  the sandbox broadcasts the shard dict.
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
- **Probe/delete are pure numpy** over the broadcast shards — no
  per-row Python anywhere on the hot path.

The filter is a PREFILTER: ``dedup_new(..., cuckoo=...)`` folds its
"maybe seen" flag into the exact anti-join's condition, so its false
positives cost a hash lookup, never correctness. The crawl runner does
not use it (seen.py explains why).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

__all__ = [
    "CuckooFilter",
    "build_cuckoo",
    "update_cuckoo",
    "delete_cuckoo",
    "cuckoo_maybe_seen_udf",
]

_BUCKET = 4  # slots per bucket
_FP_MULT = np.uint64(0x5BD1E995)  # fp → partner-bucket offset hash
_MASK64 = np.uint64(0xFFFFFFFFFFFFFFFF)
_MAX_KICKS = 500
_DEFAULT_LOAD = 0.84


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
    mask = np.uint64(nb - 1)
    b1 = (hv & mask).astype(np.int64)
    step = ((fp.astype(np.uint64) * _FP_MULT) & _MASK64) & mask
    b2 = (b1.astype(np.uint64) ^ step).astype(np.int64)
    return b1, b2


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


class CuckooFilter:
    """``shards[s]`` is an (nb, 4) uint16 table holding the keys with
    ``hash % n_shards == s``. Pickles cleanly for broadcast."""

    def __init__(self, n_shards: int, nb: int):
        self.n_shards = n_shards
        self.nb = nb
        self.shards = {
            s: np.zeros((nb, _BUCKET), dtype=np.uint16)
            for s in range(n_shards)
        }

    def _route(self, hv: np.ndarray) -> np.ndarray:
        return (hv % np.uint64(self.n_shards)).astype(np.int64)

    def insert(self, hv: np.ndarray) -> None:
        hv = hv.astype(np.uint64, copy=False)
        sid = self._route(hv)
        for s in np.unique(sid):
            _insert_batch(self.shards[int(s)], hv[sid == s])

    def contains(self, hv: np.ndarray) -> np.ndarray:
        """Vectorized membership: 8 slot comparisons, no Python loop
        over items."""
        hv = hv.astype(np.uint64, copy=False)
        out = np.zeros(len(hv), dtype=bool)
        sid = self._route(hv)
        for s in np.unique(sid):
            m = sid == s
            h = hv[m]
            t = self.shards[int(s)]
            fp = _fingerprint(h)
            b1, b2 = _buckets(h, fp, self.nb)
            hit = (t[b1] == fp[:, None]).any(axis=1)
            hit |= (t[b2] == fp[:, None]).any(axis=1)
            out[m] = hit
        return out

    def delete(self, hv: np.ndarray) -> int:
        """Remove one stored copy of each hash's fingerprint; returns
        how many were found. Deleting a never-inserted key is a no-op
        (counted in the shortfall) — the caller decides whether that's
        an error. Grouped by (bucket) so concurrent same-bucket
        deletes can't zero one slot twice."""
        hv = np.unique(hv.astype(np.uint64, copy=False))
        removed = 0
        sid = self._route(hv)
        for s in np.unique(sid):
            t = self.shards[int(s)]
            h = hv[sid == s]
            fp = _fingerprint(h)
            b1, b2 = _buckets(h, fp, self.nb)
            # per-item (cheap: deletes are expiry batches, and each
            # np op here is O(BUCKET)); still no hashing re-done
            for j in range(len(h)):
                for b in (b1[j], b2[j]):
                    slots = np.flatnonzero(t[b] == fp[j])
                    if len(slots):
                        t[b, slots[0]] = 0
                        removed += 1
                        break
        return removed

    def fill_ratio(self) -> float:
        used = sum(int((t != 0).sum()) for t in self.shards.values())
        return used / (self.n_shards * self.nb * _BUCKET)


def _size_for(expected: int, n_shards: int, load: float) -> int:
    per_shard = expected / max(1, n_shards)
    # Poisson skew headroom: keys route by hash, so a shard draws
    # ~N(mean, sqrt(mean)) keys — at production scale the sqrt term
    # is noise, at test scale it's the difference between fitting
    # and a spurious over-full error
    per_shard += 4.0 * math.sqrt(per_shard) + 16.0
    return _next_pow2(math.ceil(per_shard / _BUCKET / load))


def build_cuckoo(
    df: DataFrame,
    key: str,
    expected: int,
    n_shards: int | None = None,
    load: float = _DEFAULT_LOAD,
) -> CuckooFilter:
    """Distributed sharded build: route each key hash to its shard's
    task (ONE shuffle on ``hash % n_shards``), build every shard
    vectorized and independently, collect the (small) shard tables.
    ``n_shards`` defaults to the session's shuffle parallelism — at
    cluster scale set it so one shard ≈ one task's memory budget."""
    import pyarrow as pa

    spark = df.sparkSession
    if n_shards is None:
        n_shards = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # power of two, so the JVM-side shard id (low-bit mask of the
    # SIGNED hash) equals the numpy side's ``uint64 % n_shards`` —
    # two's complement keeps the low bits identical
    n_shards = _next_pow2(n_shards)
    nb = _size_for(expected, n_shards, load)

    sid = F.expr(f"int({key} & {n_shards - 1})")
    routed = (
        df.select(F.col(key), sid.alias("_sid"))
        .repartition(n_shards, "_sid")
    )

    def part(batches):  # pragma: no cover (executor)
        tables: dict[int, np.ndarray] = {}
        buf: dict[int, list[np.ndarray]] = {}
        for batch in batches:
            col = batch.column(0).drop_null()
            ss = batch.column(1).to_numpy(zero_copy_only=False)
            hv = col.to_numpy(zero_copy_only=False).astype(np.uint64)
            for s in np.unique(ss):
                buf.setdefault(int(s), []).append(hv[ss == s])
        for s, parts in buf.items():
            t = tables.setdefault(s, np.zeros((nb, _BUCKET), np.uint16))
            _insert_batch(t, np.unique(np.concatenate(parts)))
        arrs = [
            pa.array([int(s) for s in tables], type=pa.int32()),
            pa.array([t.tobytes() for t in tables.values()], pa.binary()),
        ]
        yield pa.RecordBatch.from_arrays(arrs, names=["sid", "tbl"])

    rows = routed.mapInArrow(part, "sid int, tbl binary").collect()
    filt = CuckooFilter(n_shards, nb)
    for r in rows:
        filt.shards[r["sid"]] = np.frombuffer(
            r["tbl"], dtype=np.uint16
        ).reshape(nb, _BUCKET).copy()
    return filt


def _collect_hashes(df: DataFrame, key: str) -> np.ndarray:
    rows = df.select(key).where(F.col(key).isNotNull()).collect()
    return np.array([r[0] for r in rows], dtype=np.int64).astype(np.uint64)


def update_cuckoo(filt: CuckooFilter, df: DataFrame, key: str = "url_hash"):
    """Incremental insert of a round's NEW hashes. Per-round deltas are small relative to the
    filter, so they collect to the driver — the build path stays the
    distributed one.

    SMALL-CRAWL PATH: this keeps the filter driver-resident and moves
    every round's raw delta hashes through the driver — fine at the
    scales where a driver filter fits at all. At north-rule scale
    (10^10 URLs) use the executor-resident twin
    (:mod:`memorious_spark.operators.sharded_filter`,
    ``update_sharded_cuckoo``): cogrouped updates, O(P) driver bytes."""
    hv = _collect_hashes(df, key)
    if len(hv):
        filt.insert(hv)
    return filt


def delete_cuckoo(filt: CuckooFilter, df: DataFrame, key: str = "url_hash") -> int:
    """Remove expired tags' hashes — the operation the bloom cannot
    do. Returns the number of fingerprints actually removed."""
    hv = _collect_hashes(df, key)
    return filt.delete(hv) if len(hv) else 0


def cuckoo_maybe_seen_udf(spark, filt: CuckooFilter):
    """Arrow-batched 'maybe seen' probe over the broadcast shard dict
    — false positives land in the exact anti-join, false negatives
    don't exist for inserted keys."""
    bc = spark.sparkContext.broadcast(filt)

    @F.pandas_udf("boolean")
    def _maybe_seen(h: pd.Series) -> pd.Series:  # pragma: no cover
        f = bc.value
        hv = h.to_numpy(dtype=np.uint64, na_value=0)
        return pd.Series(f.contains(hv) & h.notna().to_numpy())

    return _maybe_seen
