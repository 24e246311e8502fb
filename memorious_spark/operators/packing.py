"""Token-budget shard assignment — the concat-and-chunk layout step
of a pretraining pipeline.

After curation, a corpus is laid out as a deterministic sequence of
documents, token counts are prefix-summed, and each document is
assigned to the fixed-token-budget shard in which it STARTS (the
GPT-style concat-then-chunk layout: shard = floor(exclusive_prefix /
budget)). Downstream loaders read one shard per worker; the
assignment must therefore be a pure function of the corpus, not of
Spark's partitioning.

The naive Spark formulation — ``sum(tokens) OVER (ORDER BY id)`` with
no PARTITION BY — collapses the whole corpus into ONE task (Spark
executes an unpartitioned window on a single partition): correct at
test scale, dead at 100 TB. This module computes the same global
exclusive prefix sum with the classic two-phase scan:

1. one min/max aggregate over the id column, from which every row's
   bucket ``_pid`` is an EQUAL-WIDTH KEY-RANGE BUCKET — a pure
   function of the id value (``frontier.order_bucket_expr``), never
   ``spark_partition_id()``;
2. per-bucket token totals → tiny P-row aggregate collected to the
   driver → exclusive bucket offsets broadcast back;
3. bucket-LOCAL window (PARTITION BY ``_pid`` ORDER BY key) adds the
   local exclusive cumsum to the bucket offset.

Every stage is parallel; the collect moves P longs, not data. The
result is bit-identical to the single-partition window (the SQL twin
the driver oracle runs).

Determinism (the round-4/round-5 driver-red class, closed
structurally): earlier versions derived ``_pid`` from
``repartitionByRange(...) + spark_partition_id()``, whose range
boundaries are re-sampled per job — an eager ``localCheckpoint``
pinned ONE materialization, but checkpoint storage is itself
unreliable (a partition lost to executor churn is recomputed under a
FRESH range sampling), so a residual flake class remained. Now no
Spark internal is involved anywhere: ``_pid`` is a function of the id
alone, so the totals collect, the window, and any recomputation agree
by construction. The ``persist`` below is purely a performance hint —
evict it, recompute it, the answer cannot change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from memorious_spark.operators.frontier import order_bucket_expr

__all__ = ["pack_token_shards"]


def pack_token_shards(
    docs: DataFrame,
    budget: int,
    num_partitions: int | None = None,
) -> DataFrame:
    """Assign each document to its token-budget shard.

    Input must carry a UNIQUE orderable numeric ``doc_id`` (the layout
    order) and a ``tokens`` count. Returns ``(doc_id, tokens, offset,
    shard)`` where ``offset`` is the exclusive prefix sum of tokens in
    ``doc_id`` order and ``shard = floor(offset / budget)``.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    p = num_partitions or docs.sparkSession.sparkContext.defaultParallelism
    # advisory cache: the slim 2-column projection feeds the bounds and
    # totals jobs, then is released; the final window recomputes it
    # from ``docs``. Correctness does NOT depend on it — _pid is a pure
    # function of the id — so eviction or recomputation is only ever a
    # performance event.
    base = docs.select("doc_id", "tokens").persist()
    row = base.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    ).first()
    lo, hi = row["lo"], row["hi"]
    pid = (
        F.lit(0).cast("int")
        if lo is None
        else order_bucket_expr(F.col("doc_id"), lo, hi, p)
    )
    with_pid = base.withColumn("_pid", pid)
    # Phase 2: P-row rollup; the collect ships P (pid, total) longs to
    # the driver — independent of data volume. Bucket id order IS key
    # order (equal-width buckets are contiguous ranges), so the
    # exclusive offsets accumulate in _pid order.
    totals = (
        with_pid.groupBy("_pid").agg(F.sum("tokens").alias("_tot")).collect()
    )
    base.unpersist()
    running = 0
    offsets = []
    for r in sorted(totals, key=lambda t: t["_pid"]):
        offsets.append((int(r["_pid"]), running))
        running += int(r["_tot"] or 0)
    off_df = docs.sparkSession.createDataFrame(
        offsets, "_pid int, _part_off long"
    )
    local = Window.partitionBy("_pid").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    return (
        with_pid.join(F.broadcast(off_df), "_pid")
        .select(
            "doc_id",
            "tokens",
            (
                F.col("_part_off")
                + F.coalesce(F.sum("tokens").over(local), F.lit(0))
            ).alias("offset"),
        )
        .withColumn(
            "shard", F.floor(F.col("offset") / F.lit(budget)).cast("long")
        )
    )
