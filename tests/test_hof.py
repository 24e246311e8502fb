"""bind_once semantics: identical results to inlining the
expression, including NULL propagation — the perf claim (expression
evaluated once, not per lambda element) is covered by the measured
notes in functions/hof.py; these pin the semantics the rewritten
call-sites (word_ngrams, shingles, lang_guess, gopher_keep, DSIR
_features, robots path check) rely on."""

from pyspark.sql import functions as F

from memorious_spark.functions.hof import bind_once


def test_bind_once_equals_inline(spark):
    df = spark.createDataFrame(
        [("a b c d",), ("",), (None,), ("x",)], "t string"
    )

    def grams(w):
        idx = F.when(
            F.size(w) >= 2, F.sequence(F.lit(0), F.size(w) - 2)
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(
            idx, lambda i: F.concat_ws(" ", F.slice(w, i + 1, 2))
        )

    tok = F.split(F.trim("t"), r"\s+")
    inline = df.select(grams(tok).alias("g")).collect()
    bound = df.select(bind_once(tok, grams).alias("g")).collect()
    assert [r.g for r in inline] == [r.g for r in bound]
    assert [r.g for r in bound][0] == ["a b", "b c", "c d"]


def test_bind_once_null_expr(spark):
    df = spark.createDataFrame([(None,)], "t string")
    out = df.select(
        bind_once(F.col("t"), lambda x: F.coalesce(x, F.lit("fb"))).alias(
            "o"
        )
    ).collect()
    assert out[0].o == "fb"


def test_bind_once_nested(spark):
    df = spark.createDataFrame([("q r s",)], "t string")
    out = df.select(
        bind_once(
            F.split("t", " "),
            lambda w: bind_once(
                F.size(w), lambda n: n * 10 + F.size(w)
            ),
        ).alias("o")
    ).collect()
    assert out[0].o == 33


def test_word_line_metric_dicts(spark):
    """The per-key dict paths of word_metrics/line_metrics after the
    bind_once reshape. Regression: a `k=k` default arg on the bound
    lambda silently changes its HOF arity to (value, index) and PySpark
    hands the element INDEX to `k` — construction must not do that, and
    values must match the pre-reshape semantics."""
    from memorious_spark.functions.quality import line_metrics, word_metrics

    df = spark.createDataFrame(
        [("the cat sat on the mat",), ("a a\na a\nb",)], "t string"
    )
    wm = word_metrics(F.col("t"))
    lm = line_metrics(F.col("t"))
    rows = df.select(
        wm["n_words"].alias("n"),
        wm["stop_hits"].alias("sh"),
        lm["dup_line_char_frac"].alias("dup"),
    ).collect()
    assert rows[0].n == 6
    assert rows[0].sh == 1  # 'the' is the only Gopher stopword present
    assert rows[0].dup == 0.0
    # 'a a' line repeats: 3 of 7 non-newline chars sit in a repeat
    assert abs(rows[1].dup - 3 / 7) < 1e-6


def test_bind_once_plan_lock(spark):
    """The optimized plan carries each tokenization exactly once —
    the whole point of bind_once. A refactor that inlines the split
    back into the HOF lambdas multiplies these counts (and the
    runtime cost per element) without failing any value test."""
    from memorious_spark.functions.quality import gopher_keep
    from memorious_spark.functions.textops import lang_guess, shingles

    df = spark.range(5).select(
        F.concat(F.lit("w "), F.col("id")).alias("text")
    )

    def n_splits(col):
        plan = (
            df.select(col.alias("o"))
            ._jdf.queryExecution().optimizedPlan().toString()
        )
        return plan.count("split(")

    assert n_splits(gopher_keep(F.col("text"))) == 2  # words + lines
    assert n_splits(lang_guess(F.col("text"))) == 1
    assert n_splits(shingles(F.col("text"))) == 1
