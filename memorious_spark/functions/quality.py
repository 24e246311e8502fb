"""Training-data quality filtering — Gopher word/line rules, C4 line
cleaning, and n-gram repetition metrics.

These are the published corpus-curation heuristics an LLM pipeline
runs between crawl and tokenize (Rae et al. 2021 "Scaling Language
Models" §A1.1 — the Gopher rules; Raffel et al. 2020 "Exploring the
Limits of Transfer Learning" §2.2 — the C4 line filters). The
reference has nothing comparable (memorious stops at store); these
extend the engine's curation surface beyond ``textops.quality_score``.

Design posture for 100 TB:

- Every per-doc metric is a pure Column expression over the one text
  value (split → array lambdas) — whole-stage codegen, zero shuffles,
  zero Python. A quality pass over the corpus is exactly one scan.
- The only DataFrame-level op is :func:`top_ngram_char_frac` (the
  most-frequent-n-gram repetition rule needs a per-doc groupBy); its
  shuffle is keyed by (doc_id, gram) — doc_id in the key means
  map-side combine does most of the work and no key can be hot.
- Each metric has an exact ANSI-SQL twin (DuckDB list lambdas) used
  by the driver oracle, so the semantics are pinned cross-engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from memorious_spark.functions.hof import bind_once

__all__ = [
    "word_metrics",
    "line_metrics",
    "gopher_keep",
    "c4_clean_lines",
    "top_ngram_char_frac",
    "word_ngrams",
]

# Gopher's "must contain ≥2 of" stopword list (Rae et al. §A1.1)
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def _words(text: Column) -> Column:
    return F.split(F.trim(text), r"\s+")


def word_ngrams(text: Column, n: int) -> Column:
    """Array of space-joined word ``n``-grams of ``text`` (whitespace
    tokenization; docs under ``n`` words yield an empty array). Pure
    Column — shared by decontamination's overlap paths and the
    top-n-gram repetition rule.

    The token array is bound ONCE (:func:`bind_once`): inlining the
    split into the transform lambda re-tokenizes the document per
    gram (HOF lambdas are interpreted, no CSE — measured 3.3× on the
    sf0.1 scan)."""

    def grams(w: Column) -> Column:
        # sequence(0, -1) DESCENDS in Spark — an under-n-words doc
        # must produce an empty index array, not [0, -1]
        idx = F.when(
            F.size(w) >= n, F.sequence(F.lit(0), F.size(w) - n)
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(
            idx, lambda i: F.concat_ws(" ", F.slice(w, i + 1, n))
        )

    return bind_once(_words(text), grams)


def _word_metrics_of(text: Column, w: Column) -> dict[str, Column]:
    """Word metrics from an already-BOUND token array ``w`` (a lambda
    variable, not an inline split — see :func:`hof.bind_once`: HOF
    lambdas are interpreted with no CSE, so an inlined split re-runs
    at every reference, 9× in ``stop_hits`` alone)."""
    n = F.size(w).cast("long")
    nd = n.cast("double")
    sum_len = F.aggregate(
        w, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    n_alpha = F.size(F.filter(w, lambda x: x.rlike("[a-zA-Z]")))
    hash_occ = F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
    ell_occ = (
        F.length(text) - F.length(F.replace(text, F.lit("..."), F.lit("")))
    ) / 3
    stop_hits = F.size(
        F.filter(
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
            lambda s: F.array_contains(w, s),
        )
    )
    return {
        "n_words": n,
        "mean_word_len": F.round(sum_len / nd, 6),
        "frac_alpha_words": F.round(n_alpha / nd, 6),
        "symbol_word_ratio": F.round((hash_occ + ell_occ) / nd, 6),
        "stop_hits": stop_hits.cast("long"),
    }


def word_metrics(text: Column) -> dict[str, Column]:
    """Gopher word-level metrics as named pure-Column expressions:

    - ``n_words`` — whitespace token count
    - ``mean_word_len`` — mean characters per word
    - ``frac_alpha_words`` — fraction of words with ≥1 ASCII letter
    - ``symbol_word_ratio`` — ('#' + '...') occurrences per word
    - ``stop_hits`` — how many of the 8 Gopher stopwords appear

    Returned as a dict so callers select only what they need (unused
    metrics are pruned by Catalyst, not computed). Each metric binds
    the token array once; for the all-metrics conjunction use
    :func:`gopher_keep`, which shares ONE bind across all eight."""
    def _metric(k: str) -> Column:
        # closure, NOT a `k=k` default arg: a second lambda parameter
        # changes the HOF arity to (value, index) and `k` would
        # receive the element index as a Column
        return bind_once(_words(text), lambda w: _word_metrics_of(text, w)[k])

    return {
        k: _metric(k)
        for k in (
            "n_words",
            "mean_word_len",
            "frac_alpha_words",
            "symbol_word_ratio",
            "stop_hits",
        )
    }


def _line_metrics_of(lines: Column) -> dict[str, Column]:
    """Line metrics from an already-bound line array (same no-CSE
    rationale as :func:`_word_metrics_of`)."""
    n = F.size(lines).cast("double")
    n_bullet = F.size(F.filter(lines, lambda l: l.rlike(r"^\s*[-*•]")))
    n_ell = F.size(
        F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$"))
    )
    chars = F.aggregate(
        lines, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    chars_distinct = F.aggregate(
        F.array_distinct(lines),
        F.lit(0).cast("long"),
        lambda acc, x: acc + F.length(x),
    )
    return {
        "frac_bullet_lines": F.round(n_bullet / n, 6),
        "frac_ellipsis_lines": F.round(n_ell / n, 6),
        "dup_line_char_frac": F.round(
            (chars - chars_distinct) / F.greatest(chars, F.lit(1)).cast("double"),
            6,
        ),
    }


def line_metrics(text: Column) -> dict[str, Column]:
    """Gopher line-level metrics over '\\n'-separated text:

    - ``frac_bullet_lines`` — lines starting with a bullet marker
    - ``frac_ellipsis_lines`` — lines ending in an ellipsis
    - ``dup_line_char_frac`` — fraction of characters sitting in
      REPEAT occurrences of a line (`sum(len) - sum(len distinct)`
      over `sum(len)`) — the cheap duplicate-line repetition signal
    """
    def _metric(k: str) -> Column:
        # closure, not a `k=k` default: see word_metrics
        return bind_once(F.split(text, "\n"), lambda lines: _line_metrics_of(lines)[k])

    return {
        k: _metric(k)
        for k in (
            "frac_bullet_lines",
            "frac_ellipsis_lines",
            "dup_line_char_frac",
        )
    }


def gopher_keep(
    text: Column, min_words: int = 50, min_stop_hits: int = 2
) -> Column:
    """The conjunction of the Gopher quality rules as ONE boolean
    Column, at the paper's thresholds (loosen ``min_words`` for
    short-document corpora, ``min_stop_hits`` for a small
    vocabulary): 50-100,000 words of mean length 3-10, symbol/word ≤
    0.1, ≥ 80% alphabetic words, ≥ 2 stop words, bullet lines ≤ 10%,
    ellipsis lines ≤ 30%, duplicate-line characters ≤ 20%. A
    full-corpus quality gate is one scan, no shuffle; the token and
    line arrays are each computed exactly once per row (one shared
    bind across all eight rules)."""

    def keep(s: Column) -> Column:
        wm = _word_metrics_of(text, s["w"])
        lm = _line_metrics_of(s["l"])
        return (
            wm["n_words"].between(min_words, 100_000)
            & wm["mean_word_len"].between(3.0, 10.0)
            & (wm["symbol_word_ratio"] <= 0.1)
            & (wm["frac_alpha_words"] >= 0.8)
            & (wm["stop_hits"] >= min_stop_hits)
            & (lm["frac_bullet_lines"] <= 0.1)
            & (lm["frac_ellipsis_lines"] <= 0.3)
            & (lm["dup_line_char_frac"] <= 0.2)
        )

    return bind_once(
        F.struct(
            _words(text).alias("w"), F.split(text, "\n").alias("l")
        ),
        keep,
    )


def c4_clean_lines(text: Column) -> Column:
    """C4's line-level cleaning (Raffel et al. §2.2): keep only lines
    that end in terminal punctuation (. ! ? "), carry at least 3
    words, and contain neither ``javascript`` nor ``{``
    (case-insensitive). Returns the cleaned text ('\\n'-joined
    survivors; empty string when nothing survives)."""
    lines = F.split(text, "\n")

    def _ok(l: Column) -> Column:
        n_words = F.size(F.split(F.trim(l), r"\s+"))
        low = F.lower(l)
        return (
            l.rlike('[.!?"]\\s*$')
            & (n_words >= 3)
            & ~low.contains("javascript")
            & ~low.contains("{")
        )

    return F.array_join(F.filter(lines, _ok), "\n")


def top_ngram_char_frac(docs: DataFrame, n: int = 2) -> DataFrame:
    """Gopher's top-n-gram repetition rule: per doc, the fraction of
    characters covered by the single most frequent word n-gram
    (``count × len(gram) / len(text)`` — the standard occurrence
    approximation). Returns ``(doc_id, top_gram, top_gram_count,
    top_gram_char_frac)``; docs with fewer than ``n`` words have no
    n-gram and are absent.

    Shape: one explode (n-grams ≈ word count per doc) + one groupBy
    keyed on (doc, gram) — map-side combined, no hot keys — + one
    per-doc max. Ties break to the lexicographically largest gram
    (max over (count, gram) structs), pinned so the SQL twin agrees."""
    grams = docs.select(
        F.col("doc_id"),
        F.length("text").alias("_tlen"),
        F.explode(word_ngrams(F.col("text"), n)).alias("gram"),
    )
    counts = grams.groupBy("doc_id", "_tlen", "gram").agg(
        F.count(F.lit(1)).alias("c")
    )
    # argmax with a string payload is sort-based in Spark (string/
    # struct aggregation buffers aren't HashAggregate-mutable — true
    # for max(struct), max_by, even max(string)); the partial
    # SortAggregate still combines map-side, so the exchange carries
    # one row per (doc, partition), not per gram
    top = counts.groupBy("doc_id", "_tlen").agg(
        F.max_by(
            F.struct(F.col("gram"), F.col("c")),
            F.struct(F.col("c"), F.col("gram")),
        ).alias("_t")
    )
    return top.select(
        "doc_id",
        F.col("_t.gram").alias("top_gram"),
        F.col("_t.c").alias("top_gram_count"),
        F.round(
            F.col("_t.c") * F.length("_t.gram") / F.col("_tlen").cast("double"),
            6,
        ).alias("top_gram_char_frac"),
    )
