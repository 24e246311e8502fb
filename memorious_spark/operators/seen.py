"""The URL-seen set: one exact anti-join per frontier round.

Replaces memorious's Redis/SQL ``tags`` lookups (one round-trip per
URL, memorious/logic/context.py:114-148; run-scoped link dedup
memorious/operations/parse.py:55-58) with one distributed anti-join
per frontier round — the scalability pivot of this graft.

- Candidates are pre-hashed (``url_hash = xxhash64(url_norm)``); the
  seen table stores only hashes + scope columns. The within-round
  dedup leaves candidates hash-partitioned by ``url_hash``, so the
  ``left_anti`` join shuffles only the seen side; Spark's runtime
  bloom-filter join injection
  (``spark.sql.optimizer.runtime.bloomFilter.enabled``, set in
  session.py) may prune that shuffle on its own.
- There is no explicit prefilter on the crawl path. A probe's flag
  folds into the anti-join condition, so every candidate and every
  seen key is still shuffled and the probe only adds work; measured
  against the plain anti-join at local[4] with 4M and 12M seen keys,
  the broadcast and sharded blooms were both slower. The sharded
  filters (operators/sharded_filter.py) remain as standalone
  operators; ``dedup_new(..., cuckoo=)`` routes to the cuckoo one.
- Expiry is stamped and filtered in one place (:func:`expiry_stamp`,
  :func:`unexpired`) for the seen, http-cache, inc-tag and tags
  tables. It reproduces the reference's ``expire × 84600`` quirk
  (sic, not 86400 — memorious/logic/crawler.py:50).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from memorious_spark.operators.sharded_filter import dedup_new_sharded_cuckoo

__all__ = [
    "EXPIRE_QUIRK_SECONDS", "dedup_new", "expiry_stamp", "seen_entries",
    "unexpired",
]

# The reference multiplies `expire` (days) by 84600 — a long-standing
# off-by-1800 quirk we reproduce for parity (memorious/logic/crawler.py:50).
EXPIRE_QUIRK_SECONDS = 84600


def expiry_stamp(
    now_ts: str, expire_days: int | None
) -> tuple[Column, Column]:
    """``created_at`` / ``expires_at`` columns for rows written at
    ``now_ts``: they expire ``expire_days × 84600`` seconds later (the
    reference quirk), or never (NULL) when ``expire_days`` is unset."""
    created = F.to_timestamp(F.lit(now_ts))
    expires = (
        created + F.expr(f"INTERVAL {expire_days * EXPIRE_QUIRK_SECONDS} SECONDS")
        if expire_days
        else F.lit(None).cast("timestamp")
    )
    return created.alias("created_at"), expires.alias("expires_at")


def unexpired(df: DataFrame, now_ts: str | None) -> DataFrame:
    """Rows of ``df`` still live at ``now_ts`` (``expires_at`` NULL or
    later); every row when ``now_ts`` is None."""
    if now_ts is None:
        return df
    return df.filter(
        F.col("expires_at").isNull()
        | (F.col("expires_at") > F.to_timestamp(F.lit(now_ts)))
    )


def dedup_new(
    candidates: DataFrame,
    seen: DataFrame | None,
    seen_count: int | None = None,
    cuckoo=None,
) -> DataFrame:
    """Rows of ``candidates`` whose ``url_hash`` is not in ``seen``.

    Exactness is guaranteed by the ``left_anti`` join. ``seen_count``
    is accepted for callers that track it and no longer affects the
    plan. ``cuckoo`` — a
    :class:`~memorious_spark.operators.sharded_filter.ShardedCuckoo`
    covering every live hash in ``seen`` — adds its shard-local probe,
    whose flag gates the anti-join
    (:func:`~memorious_spark.operators.sharded_filter.dedup_new_sharded_cuckoo`).
    """
    if seen is None:
        return candidates
    if cuckoo is not None:
        return dedup_new_sharded_cuckoo(candidates, seen, cuckoo)
    seen_keys = seen.select("url_hash").distinct()
    # SHUFFLE_HASH: candidates arrive already hash-partitioned by
    # url_hash (the within-round dedup aggregate), so only the seen
    # side shuffles — parallel — where a broadcast would serialize the
    # whole seen key set through the driver every round.
    return candidates.join(
        seen_keys.hint("shuffle_hash"), "url_hash", "left_anti"
    )


def seen_entries(
    df: DataFrame,
    crawler: str,
    run_id: str,
    kind: str,
    expire_days: int | None = None,
    now_ts: str = "2024-01-01 00:00:00",
) -> DataFrame:
    """Project rows into the seen-table schema (FIXTURES.md §4).

    The tag payload ``value`` is the normalized URL ``url_norm`` (the
    reference stores JSON values, memorious/logic/context.py:114-117)."""
    return df.select(
        F.col("url_hash").alias("key_hash"),
        F.lit(crawler).alias("crawler"),
        F.lit(run_id).alias("run_id"),
        F.lit(kind).alias("kind"),
        F.col("url_norm").alias("value"),
        *expiry_stamp(now_ts, expire_days),
    )
