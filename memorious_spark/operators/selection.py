"""Data selection by hashed n-gram importance resampling (DSIR).

Xie et al. 2023 (arXiv:2302.03169, "Data Selection for Language
Models via Importance Resampling"): score every corpus document by
how much more likely its hashed n-gram features are under a TARGET
distribution (a quality sample — e.g. curated reference text) than
under the raw corpus distribution, then keep the highest-weighted
documents. This is the standard pretraining-data selection method
between pure heuristics (Gopher/C4 gates, ``functions/quality.py``)
and model-based scoring (no model weights in this sandbox).

Engine-reproducibility contract (what makes the DuckDB oracle exact):

- features are whitespace unigrams + bigrams of ``lower(trim(text))``
  — the same ``split(trim(text), ' ')`` convention as the MinHash
  shingle oracle;
- the feature hash is ``md5`` (hex prefix → integer → mod buckets),
  NOT ``xxhash64`` — md5 is the one hash every engine computes
  identically;
- each feature occurrence contributes ``round(ln(ratio), 6)`` CAST TO
  DECIMAL(18,6), and the per-document weight is the DECIMAL sum —
  integer arithmetic, so the result is independent of Spark's
  aggregation order (a raw double sum is not associative and WILL
  drift between engines). Only the final cast back to double is
  floating point, applied to an identical decimal in both engines.

Scale posture: two bucket-count aggregates (explode → groupBy bucket,
cardinality capped at ``n_buckets`` so map-side combine crushes the
volume — hot buckets are free), the ≤``n_buckets``-row log-ratio
table broadcasts, and the per-document sum is ONE doc-keyed shuffle
of slim (doc, decimal) rows. No Python anywhere, no driver-side data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from memorious_spark.functions.hof import bind_once

__all__ = [
    "importance_weights",
    "feature_bucket_col",
    "lm_bigram_scores",
]


def feature_bucket_col(feat: Column, n_buckets: int) -> Column:
    """md5-based feature hash: first 8 hex chars as an integer, mod
    ``n_buckets`` — bit-identical in Spark, DuckDB, and Python."""
    return (
        F.conv(F.substring(F.md5(feat), 1, 8), 16, 10).cast("long")
        % n_buckets
    )


def _features(text: Column) -> Column:
    """Whitespace unigrams + bigrams of the lowercased text. The
    bigram branch is guarded: ``sequence(1, 0)`` would count DOWN in
    Spark (yielding [1, 0]) where DuckDB's generate_series is empty.
    Tokens are bound once (:func:`hof.bind_once`) — inlined, the
    lower+split re-runs twice per bigram inside the interpreted
    transform."""

    def feats(toks: Column) -> Column:
        bi = F.when(
            F.size(toks) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 1),
                lambda j: F.concat_ws(
                    " ", F.element_at(toks, j), F.element_at(toks, j + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.concat(toks, bi)

    return bind_once(F.split(F.lower(F.trim(text)), " "), feats)


def _bucket_counts(df: DataFrame, n_buckets: int) -> DataFrame:
    return (
        df.select(F.explode(_features(F.col("text"))).alias("_f"))
        .select(feature_bucket_col(F.col("_f"), n_buckets).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def importance_weights(
    docs: DataFrame,
    target: DataFrame,
    n_buckets: int = 8192,
) -> DataFrame:
    """Per-document DSIR importance weight: ``logw = Σ_features
    ln(q(bucket)/p(bucket))`` where ``p`` is the corpus bucket
    distribution and ``q`` the target's, both add-one smoothed over
    ``n_buckets``. Returns ``(doc_id, logw double)`` — one row per
    input document (feature-free documents score 0). Higher = more
    target-like.

    ``target`` needs only ``text``. The ratio for bucket ``b``
    with corpus count ``cc``, target count ``ct``, corpus feature
    total ``Tc`` and target total ``Tt`` is computed in BOTH engines
    as ``ln(((ct+1)·(Tc+B)) / ((cc+1)·(Tt+B)))`` — all-integer
    numerator and denominator, one division, one ln, rounded to 6 and
    summed as DECIMAL (see module docstring).
    """
    # ONE feature explode feeds both the corpus distribution and the
    # per-doc scoring join (persisted: the tokenize+bigram+md5 pass is
    # the dominant cost, and the slim (id, bucket) pairs are ~12 B/row
    # serialized — cheaper to keep than to recompute even at corpus
    # scale; spills to disk past memory)
    per_feat = docs.select(
        F.col("doc_id"),
        F.explode_outer(_features(F.col("text"))).alias("_f"),
    ).select(
        "doc_id", feature_bucket_col(F.col("_f"), n_buckets).alias("bucket")
    ).persist()
    # (the explode is _outer_ so a null-text doc still gets a row —
    # its NULL bucket must not leak a pseudo-count into p)
    p = (
        per_feat.filter(F.col("bucket").isNotNull())
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    q = _bucket_counts(target, n_buckets)
    totals = (
        p.agg(F.coalesce(F.sum("cnt"), F.lit(0)).alias("Tc"))
        .crossJoin(
            q.agg(F.coalesce(F.sum("cnt"), F.lit(0)).alias("Tt"))
        )
    )
    ratios = (
        p.withColumnRenamed("cnt", "cc")
        .join(q.withColumnRenamed("cnt", "ct"), "bucket", "full_outer")
        .crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            F.round(
                F.log(
                    (
                        (F.coalesce(F.col("ct"), F.lit(0)) + 1)
                        * (F.col("Tc") + n_buckets)
                    ).cast("double")
                    / (
                        (F.coalesce(F.col("cc"), F.lit(0)) + 1)
                        * (F.col("Tt") + n_buckets)
                    ).cast("double")
                ),
                6,
            ).cast("decimal(18,6)").alias("logr"),
        )
    )
    return (
        per_feat.join(F.broadcast(ratios), "bucket", "left")
        .groupBy("doc_id")
        .agg(
            F.coalesce(
                F.sum("logr"), F.lit(0).cast("decimal(18,6)")
            ).cast("double").alias("logw")
        )
    )


def _bigram_structs(text: Column) -> Column:
    """Array of (w1, w2) whitespace-bigram structs of the lowercased
    text — the split convention of :func:`_features`, tokens bound
    once. Empty array below 2 tokens (``sequence(1, 0)`` would count
    DOWN in Spark where DuckDB's generate_series is empty)."""

    def bigs(toks: Column) -> Column:
        return F.when(
            F.size(toks) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 1),
                lambda j: F.struct(
                    F.element_at(toks, j).alias("w1"),
                    F.element_at(toks, j + 1).alias("w2"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))

    return bind_once(F.split(F.lower(F.trim(text)), " "), bigs)


def lm_bigram_scores(
    docs: DataFrame,
    ref: DataFrame,
) -> DataFrame:
    """CCNet-style language-model fluency scoring (Wenzek et al. 2020,
    arXiv:1911.00359): train an add-one-smoothed bigram LM on a clean
    REFERENCE slice, score every corpus document by its mean bigram
    log-probability. CCNet ranks Common-Crawl text by Wikipedia-LM
    perplexity and keeps the fluent head; this is that gate with the
    sandbox-honest stand-in for KenLM (no model binaries here) — a
    bigram LM estimated with the same distributed aggregates the rest
    of the engine uses.

    Per document bigram ``(w1, w2)``::

        logp = ln((c2(w1,w2) + 1) / (c1(w1) + V))

    with ``c2`` the reference bigram count, ``c1`` the count of
    ``w1`` in bigram-prefix position, and ``V`` the reference unigram
    vocabulary size. Returns ``(doc_id, n_bigrams, avg_logp)`` — one
    row per input document; higher ``avg_logp`` (= lower perplexity)
    is more fluent. Documents with < 2 tokens score ``(0, 0.0)``.

    Engine-reproducibility: each bigram contributes
    ``round(logp, 6)`` CAST TO DECIMAL(18,6) and the document sum is
    decimal (order-exact, the DSIR contract); only the final
    sum/count division is floating point, applied to identical
    operands in both engines.

    Scale posture: the LM tables are O(reference-sample bigram
    vocabulary) — the reference is a curated SAMPLE by construction,
    so the two model joins broadcast under AQE when they fit and
    degrade to key-shuffle joins when they don't; the scoring pass is
    one explode + two model joins + ONE doc-keyed decimal sum. No
    Python anywhere.
    """
    per = docs.select(
        F.col("doc_id"),
        F.explode_outer(_bigram_structs(F.col("text"))).alias("_bg"),
    ).select(
        "doc_id",
        F.col("_bg.w1").alias("w1"),
        F.col("_bg.w2").alias("w2"),
    )
    c2 = (
        ref.select(
            F.explode(_bigram_structs(F.col("text"))).alias("_bg")
        )
        .groupBy(
            F.col("_bg.w1").alias("w1"), F.col("_bg.w2").alias("w2")
        )
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    vocab = ref.select(
        F.explode(
            bind_once(
                F.split(F.lower(F.trim(F.col("text"))), " "),
                lambda t: t,
            )
        ).alias("_t")
    ).agg(F.countDistinct("_t").alias("V"))
    scored = (
        per.join(c2, ["w1", "w2"], "left")
        .join(c1, "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            "w1",
            F.when(
                F.col("w1").isNotNull(),
                F.round(
                    F.log(
                        (F.coalesce(F.col("c2"), F.lit(0)) + 1).cast(
                            "double"
                        )
                        / (
                            F.coalesce(F.col("c1"), F.lit(0))
                            + F.col("V")
                        ).cast("double")
                    ),
                    6,
                ).cast("decimal(18,6)"),
            ).alias("logp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("w1").alias("n_bigrams"),
        F.when(
            F.count("w1") > 0,
            F.sum("logp").cast("double") / F.count("w1"),
        )
        .otherwise(F.lit(0.0))
        .alias("avg_logp"),
    )
