"""Link-graph authority scoring.

At 10^10 URLs the standard crawl-priority signal is link authority
(PageRank over the hyperlink graph — Page et al. 1999; OPIC and
friends are its online approximations), so crawl budget goes to the
pages the web itself points at. The crawl runner itself drains FIFO,
as the reference does; :func:`pagerank` is a standalone operator
(driver query ``link_pagerank``).

Engine-reproducibility contract (what makes the DuckDB oracle exact):

- ranks are INTEGER rank units (each node starts with ``unit`` =
  10^6), and every step is integer arithmetic: per-edge contribution
  is ``units div outdeg`` (truncating division — all values are
  non-negative, so Spark's ``div`` and DuckDB's ``//`` agree), the
  damping ``d = 17/20`` is applied as ``(17·x) div 20``.
  There is NO floating point anywhere in the iteration, so the result
  is independent of aggregation order and bit-identical across
  engines. Truncation leaks ≤ 1 unit per edge per round out of the
  mass total — ranking-irrelevant at unit = 10^6 and exactly mirrored
  by the oracle.
- the fixed-point bound: intermediate sums stay ≤ 17·N·unit, so
  int64 is safe while ``N·unit < 5·10^17`` — at the 10^10-node target
  frontier use ``unit = 10^6`` (5·10^16) as here.

Scale posture (per iteration, at 10^10 edges):

- ONE shuffle join (edges⋈ranks on src — edges are pre-partitioned by
  src and checkpointed once, so only the slim (node, units) side
  moves) + ONE map-side-combined sum by dst + ONE co-partitioned left
  join back to the static node table. Dangling mass rides the
  round's materializing action as an :class:`Observation` — no
  separate aggregation job (the ``dedup_components`` doctrine,
  ``operators/dedup.py``).
- ``localCheckpoint`` per round truncates the lineage (the plan
  otherwise grows geometrically with iterations). Each checkpoint is
  released once nothing reads it: the superseded ranks every round,
  the edge set once the fanout and node tables are built, those two
  after the last round. The result reads one checkpoint, the final
  ranks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from memorious_spark.session import release_checkpoint

__all__ = ["pagerank"]

UNIT = 10**6


def pagerank(
    edges: DataFrame, n_iter: int = 5, unit: int = UNIT
) -> DataFrame:
    """Fixed-iteration integer PageRank → ``(node, rank_units, rank)``.

    ``edges`` is a directed (src, dst) edge list (deduplicated here —
    multigraph edges count once, matching a link-dedup'd parse). The
    node universe is every id appearing as src or dst. Per round, at
    damping ``d = 17/20 = 0.85``::

        units'(v) = (3·unit) div 20
                  + (17 · (Σ_{u→v} units(u) div outdeg(u)
                           + dangling_mass div N)) div 20

    Dangling nodes (no out-links) spread their mass uniformly, the
    standard correction. Returns one row per node; ``rank`` is the
    readability double ``units / unit`` (a single IEEE division of
    identical integers — engine-stable).
    """
    # node ids stay whatever type the caller uses (doc ids OR raw
    # urls — the crawl face keys the graph by url)
    e = (
        edges.select("src", "dst")
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # static per-edge fanout table, partitioned by the per-round join
    # key so only the rank side of the iteration join ever shuffles
    edeg = (
        e.join(deg, "src")
        .repartition("src")
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .join(
            deg.select(F.col("src").alias("node"), "deg"), "node", "left"
        )
        .withColumn("dangling", F.col("deg").isNull())
        .repartition("node")
        .localCheckpoint(eager=True)
    )
    n_nodes, dang_mass = (
        nodes.agg(
            F.count(F.lit(1)),
            F.coalesce(
                F.sum(F.when(F.col("dangling"), F.lit(unit))), F.lit(0)
            ),
        ).first()
    )
    release_checkpoint(e)
    if n_nodes == 0:
        release_checkpoint(edeg)
        return nodes.select(
            "node",
            F.lit(0).cast("long").alias("rank_units"),
            F.lit(0.0).alias("rank"),
        )
    if n_nodes * unit >= 5 * 10**17:
        release_checkpoint(edeg, nodes)
        raise ValueError(
            f"pagerank fixed-point overflow: N·unit = {n_nodes * unit} "
            "≥ 5e17; lower `unit`"
        )

    base = (3 * unit) // 20
    ranks = nodes.select(
        "node", "dangling", F.lit(unit).cast("long").alias("units")
    ).localCheckpoint(eager=True)

    from pyspark.sql import Observation

    for _ in range(n_iter):
        dang_share = int(dang_mass) // int(n_nodes)
        insum = (
            edeg.join(
                ranks.select(F.col("node").alias("src"), "units"), "src"
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.expr("units div deg")).alias("insum"))
        )
        nxt = nodes.select("node", "dangling").join(
            insum, "node", "left"
        ).select(
            "node",
            "dangling",
            (
                F.lit(base)
                + F.expr(
                    f"(17 * (coalesce(insum, 0) + {dang_share})) div 20"
                )
            ).cast("long").alias("units"),
        )
        # next round's dangling mass rides this round's checkpoint job
        obs = Observation()
        new_ranks = nxt.observe(
            obs,
            F.coalesce(
                F.sum(F.when(F.col("dangling"), F.col("units"))), F.lit(0)
            ).alias("dang"),
        ).localCheckpoint(eager=True)
        release_checkpoint(ranks)
        ranks = new_ranks
        dang_mass = obs.get["dang"]
    release_checkpoint(edeg, nodes)

    return ranks.select(
        "node",
        F.col("units").alias("rank_units"),
        (F.col("units") / F.lit(float(unit))).alias("rank"),
    )
