"""Benchmark decontamination — flag corpus documents that overlap an
evaluation set by word n-grams.

The published procedure (Brown et al. 2020 "Language Models are
Few-Shot Learners" §C; Touvron et al. 2023 — both filter training
text sharing any 13-gram with a benchmark): a document is
*contaminated* when any of its word ``n``-grams appears anywhere in
the benchmark corpus. The reference crawler has no notion of this;
it belongs to the engine's training-data curation surface next to
``operators/dedup.py``.

Design posture for 100 TB:

- The benchmark side is SMALL relative to the corpus (eval suites are
  megabytes; the corpus is the 100 TB side). Its distinct n-gram set
  is computed once — one explode + hash-aggregate over the benchmark
  only — and then:

  corpus grams explode → LEFT SEMI join on the gram → per-doc count
  (map-side combined) → count-back join onto the bare id column.
  ``broadcast_max`` picks the join strategy only: a benchmark that
  fits broadcasts (the 100 TB side never shuffles); a bigger one
  falls back to the shuffle join. (A former small-bench variant —
  collect_set to one array row, crossJoin, per-row
  ``array_intersect`` — avoided the explode but measured 5.5× SLOWER:
  ArrayIntersect rebuilds its hash set per ROW, a broadcast hash join
  builds it once per task. Exploding the corpus is cheaper than
  re-hashing the benchmark per document.)

- Counting uses DISTINCT grams per document (`array_distinct` /
  count(distinct gram)) so a doc repeating one benchmark sentence
  100× scores 1 hit-gram, matching the any-overlap keep/drop rule.
- Exact ANSI-SQL twin per path (DuckDB list lambdas) for the driver
  oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from memorious_spark.functions.quality import word_ngrams
from memorious_spark.operators.frontier import ensure_parallelism

__all__ = ["flag_contaminated"]


def flag_contaminated(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    broadcast_max: int = 5_000_000,
    stats: dict | None = None,
) -> DataFrame:
    """Return ``(doc_id, n_hit_grams, contaminated)`` for every input
    document: ``n_hit_grams`` = how many DISTINCT word ``n``-grams of
    the doc occur anywhere in ``benchmark``; ``contaminated`` =
    ``n_hit_grams > 0`` (the drop rule).

    ``stats`` (optional out-param) receives ``bench_grams`` (distinct
    benchmark n-gram count) and ``path`` (``broadcast`` | ``join``).
    """
    bench_grams = (
        ensure_parallelism(benchmark)
        .select(F.explode(word_ngrams(F.col("text"), n)).alias("g"))
        .distinct()
        .persist()
    )
    n_bench = bench_grams.count()
    path = "broadcast" if n_bench <= broadcast_max else "join"
    if stats is not None:
        stats["bench_grams"] = n_bench
        stats["path"] = path

    # ONE formulation, explode + left_semi + count-back; only the JOIN
    # STRATEGY follows the benchmark's size. The former small-bench
    # path (crossJoin a collect_set array + per-row array_intersect)
    # measured 17.7s vs 3.2s at sf0.1/4.5k bench grams: ArrayIntersect
    # rebuilds its hash set PER ROW, where a broadcast hash join builds
    # it once per task. The count-back joins onto docs' bare id column
    # — never re-evaluating the gram expression for a second scan.
    doc_grams = word_ngrams(F.col("text"), n)
    exploded = docs.select(
        F.col("doc_id"),
        F.explode_outer(F.array_distinct(doc_grams)).alias("g"),
    )
    bench_side = (
        F.broadcast(bench_grams) if path == "broadcast" else bench_grams
    )
    hits = exploded.join(bench_side, "g", "left_semi")
    # per-doc count: the only doc_id exchange in the plan takes the
    # SEMI-JOIN OUTPUT — matched grams only, which contamination
    # being rare makes a sliver of the corpus; the corpus itself
    # never shuffles. The count-back is left UNHINTED: AQE converts
    # it to broadcast at runtime when hits are small (the normal
    # case) without risking a driver OOM when a pathological corpus
    # is wholly contaminated.
    hit_counts = hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_hit_grams")
    )
    out = docs.select("doc_id").join(hit_counts, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_hit_grams", F.lit(0).cast("long")).alias(
            "n_hit_grams"
        ),
    )
    return out.withColumn("contaminated", F.col("n_hit_grams") > 0)
