"""Recrawl scheduling: per-URL change-rate estimation and revisit
priority from fetch history.

A frontier crawler at 10^10 URLs spends most of its budget REVISITING
— the open question per URL is "how often does this page change?".
The standard estimator is Cho & Garcia-Molina (2003), "Estimating
frequency of change" (ACM TOIT 3(3)): model page changes as a Poisson
process with rate λ; given n consecutive revisit intervals of which X
showed a changed content hash, the bias-reduced estimator is

    λ̂ = -ln((n - X + 0.5) / (n + 0.5)) / ī      (ī = mean interval)

The reference keeps ``first_seen``/``last_seen`` and a content hash
per document (memorious/operations/db.py upsert) but never schedules
from them — a single-site crawler refetches everything. This operator
is the missing scheduling half: fold each URL's fetch history into
(intervals, changes), estimate λ̂, and score

    priority = λ̂ · age_since_last_fetch

(the expected number of unseen changes — Poisson mean over the gap;
ordering by it is the freshness-maximizing greedy schedule). To order
a frontier by it, write it negated into the frontier's ``priority``
column: the politeness dequeue sorts ``(priority, emit_seq)``
ascending.

Engine-reproducibility: the history fold is integer/timestamp
arithmetic (no floats) until the single ``ln``; λ̂ and priority are
round-6 quantized so the DuckDB twin (same closed form over a lag
window) is hash-exact — the per-row quantization contract of
meta_dates/DSIR.

Scale posture: ONE map-side-combined groupBy(url) over the history
table — per-URL histories are tiny (tens of fetches), so the
``sort_array(collect_list(struct(ts, hash)))`` fold never skews a
window partition (there is no window); everything after the groupBy
is pure Column codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

__all__ = ["change_stats", "recrawl_priority"]


def change_stats(history: DataFrame) -> DataFrame:
    """Fold fetch observations ``(url, fetch_ts, content_hash)`` →
    per-URL ``(n_fetches, n_intervals, n_changes, span_seconds,
    first_ts, last_ts)``.

    ``n_changes`` counts consecutive-fetch pairs whose content hash
    differs (the X of the estimator); ``span_seconds`` is last−first
    (so ī = span/n_intervals). One groupBy; the per-URL event array is
    sorted in the aggregate fold, not a shuffle-wide window."""
    ev = F.array_sort(
        F.collect_list(F.struct(F.col("fetch_ts").alias("ts"),
                                F.col("content_hash").alias("h")))
    )

    def stats(e: Column) -> Column:
        n = F.size(e)
        changes = F.aggregate(
            F.sequence(F.lit(2), F.greatest(n, F.lit(2))),
            F.lit(0),
            lambda acc, i: F.when(
                (i <= n)
                & (F.element_at(e, i)["h"] != F.element_at(e, i - 1)["h"]),
                acc + 1,
            ).otherwise(acc),
        )
        # parquet timestamps arrive as TIMESTAMP_NTZ, which has no
        # direct long cast — hop through timestamp. Every consumer
        # takes DIFFERENCES (span, age), so the session-timezone shift
        # the hop introduces cancels and the DuckDB twin (naive-as-UTC
        # epoch) agrees exactly.
        def _epoch(c: Column) -> Column:
            return c.cast("timestamp").cast("long")

        span = _epoch(F.element_at(e, n)["ts"]) - _epoch(
            F.element_at(e, 1)["ts"]
        )
        return F.struct(
            n.alias("n_fetches"),
            F.greatest(n - 1, F.lit(0)).alias("n_intervals"),
            changes.alias("n_changes"),
            span.alias("span_seconds"),
            F.element_at(e, 1)["ts"].alias("first_ts"),
            F.element_at(e, n)["ts"].alias("last_ts"),
        )

    from memorious_spark.functions.hof import bind_once

    return (
        history.groupBy("url")
        .agg(ev.alias("_ev"))
        .select("url", bind_once(F.col("_ev"), stats).alias("_s"))
        .select("url", "_s.*")
    )


def recrawl_priority(history: DataFrame, now_ts: str) -> DataFrame:
    """Per-URL ``(url, n_fetches, n_changes, lambda_hat, priority)``.

    ``lambda_hat`` is the Cho & Garcia-Molina bias-reduced Poisson
    rate in changes/second (round-6 in ln-space is far below its
    estimation variance); ``priority`` = λ̂ · seconds since the last
    fetch — the expected count of changes missed as of ``now_ts``
    (pass the run's pinned clock, never wall time: the engine's
    deterministic-now doctrine). URLs with fewer than 2 fetches get
    ``lambda_hat = NULL`` and priority 0 — no evidence yet; the
    discovery path (link authority) owns their ordering."""
    s = change_stats(history)
    now = F.lit(now_ts).cast("timestamp").cast("long")
    ibar = F.col("span_seconds") / F.col("n_intervals")
    lam = F.round(
        -F.log(
            (F.col("n_intervals") - F.col("n_changes") + F.lit(0.5))
            / (F.col("n_intervals") + F.lit(0.5))
        )
        / ibar,
        12,
    )
    usable = (F.col("n_intervals") >= 1) & (F.col("span_seconds") > 0)
    age = now - F.col("last_ts").cast("timestamp").cast("long")
    return s.select(
        "url",
        "n_fetches",
        "n_changes",
        F.when(usable, F.round(lam, 12)).alias("lambda_hat"),
        F.when(usable, F.round(lam * age, 6)).otherwise(F.lit(0.0))
        .alias("priority"),
    )
