"""Physical-plan assertions — the scale posture, checked in CI.

These lock in the plan shapes that matter at 100 TB: the fetch join
must broadcast the frontier side (never shuffle the corpus), rule
filters and column selection must push into the parquet scan, and the
rule predicates must stay inside whole-stage codegen (no Python in the
hot path). A regression here is a performance bug even when results
stay correct — exactly the class of bug that only shows at scale.
"""

from pyspark.sql import functions as F

from memorious_spark.operators.fetch import fetch_stage
from memorious_spark.plans.rules import compile_rule
from memorious_spark.sources.corpus import build_corpus


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().toString()


def test_fetch_join_broadcasts_frontier(spark, tmp_path):
    docs = spark.range(200).select(
        F.col("id").alias("doc_id"), F.lit("t").alias("text"), F.lit("en").alias("lang")
    )
    corpus = build_corpus(spark, docs, 200)
    frontier = corpus.limit(10).select(
        "url", F.col("url").alias("url_norm"), F.xxhash64("url").alias("url_hash"),
        F.lit("h").alias("host"), F.lit(0).alias("depth"), F.lit(0.0).alias("priority"),
        F.lit(None).cast("string").alias("src_url"),
        F.lit(None).cast("int").alias("link_idx"),
        F.lit(0).cast("long").alias("emit_seq"), F.lit(0).alias("attempt"),
    )
    fetched = fetch_stage(frontier, corpus, selected_count=10)
    plan = _plan(fetched)
    assert "BroadcastHashJoin" in plan, plan[:2000]
    # the corpus side must never shuffle for the fetch join
    assert "SortMergeJoin" not in plan, plan[:2000]
    # scans per round over a parquet corpus: direct hits and redirect
    # targets read html, the redirect subset is a narrow scan (`hits`
    # is not cached, so it is planned once per consumer)
    path = str(tmp_path / "corpus")
    corpus.write.parquet(path)
    plan = _plan(fetch_stage(frontier, spark.read.parquet(path), selected_count=10))
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert len(scans) == 3, plan
    read_html = [ln for ln in scans if "html:" in ln.split("ReadSchema:")[1]]
    assert len(read_html) == 2, scans


def test_fetch_join_shuffle_fallback_plan(spark, tmp_path):
    """The 10^10-frontier fallback (frontier too big to broadcast):
    SHUFFLE_HASH with the hash build on the frontier side — the corpus
    is hash-exchanged, never SORTED (a sort-merge join of the 100 TB
    side is the plan this test forbids)."""
    docs = spark.range(200).select(
        F.col("id").alias("doc_id"), F.lit("t").alias("text"), F.lit("en").alias("lang")
    )
    corpus = build_corpus(spark, docs, 200)
    frontier = corpus.limit(10).select(
        "url", F.col("url").alias("url_norm"), F.xxhash64("url").alias("url_hash"),
        F.lit("h").alias("host"), F.lit(0).alias("depth"), F.lit(0.0).alias("priority"),
        F.lit(None).cast("string").alias("src_url"),
        F.lit(None).cast("int").alias("link_idx"),
        F.lit(0).cast("long").alias("emit_seq"), F.lit(0).alias("attempt"),
    )
    fetched = fetch_stage(frontier, corpus)
    plan = _plan(fetched)
    assert "ShuffledHashJoin" in plan, plan[:2000]
    assert "BroadcastHashJoin" not in plan, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]


def test_bucketed_corpus_join_never_shuffles_corpus(spark, tmp_path):
    """The real-deployment posture behind the shuffle fallback: with
    the corpus stored BUCKETED BY url, the non-broadcast fetch join
    reads the buckets in place — the 100 TB side has NO exchange on
    its join key; only the frontier side shuffles (to the bucket
    count). This demonstrates, not asserts, the fetch.py claim."""
    docs = spark.range(300).select(
        F.col("id").alias("doc_id"), F.lit("t").alias("text"), F.lit("en").alias("lang")
    )
    corpus = build_corpus(spark, docs, 300)
    spark.sql("DROP TABLE IF EXISTS corpus_bucketed_t")
    (
        corpus.write.bucketBy(4, "url").sortBy("url")
        .option("path", str(tmp_path / "bucketed_corpus"))
        .mode("overwrite").saveAsTable("corpus_bucketed_t")
    )
    try:
        bucketed = spark.table("corpus_bucketed_t")
        frontier = corpus.limit(20).select(
            "url", F.col("url").alias("url_norm"), F.xxhash64("url").alias("url_hash"),
            F.lit("h").alias("host"), F.lit(0).alias("depth"),
            F.lit(0.0).alias("priority"),
            F.lit(None).cast("string").alias("src_url"),
            F.lit(None).cast("int").alias("link_idx"),
            F.lit(0).cast("long").alias("emit_seq"), F.lit(0).alias("attempt"),
        )
        fetched = fetch_stage(frontier, bucketed)
        plan = _plan(fetched)
        assert "Bucketed: true" in plan, plan[:2000]
        # the corpus side NEVER exchanges on its join key...
        assert "Exchange hashpartitioning(f_url" not in plan, plan[:3000]
        # ...while the frontier side shuffles into the bucket layout
        assert "Exchange hashpartitioning(url_norm" in plan, plan[:3000]
        assert "ShuffledHashJoin" in plan and "SortMergeJoin" not in plan
        # and it still computes the right thing
        assert fetched.count() == 20
    finally:
        spark.sql("DROP TABLE IF EXISTS corpus_bucketed_t")


def test_parquet_scan_pushdown(spark, tmp_path):
    path = str(tmp_path / "pages")
    docs = spark.range(500).select(
        F.col("id").alias("doc_id"), F.lit("t").alias("text"), F.lit("en").alias("lang")
    )
    build_corpus(spark, docs, 500).write.parquet(path)
    pages = spark.read.parquet(path)
    q = pages.filter(F.col("status_code") == 200).select("url", "status_code")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(status_code), EqualTo(status_code,200)]" in plan, plan
    # column pruning: the scan must not read html/text for a 2-col projection
    assert "ReadSchema: struct<url:string,status_code:int>" in plan, plan


def test_rule_filter_is_codegen_not_python(spark):
    df = spark.createDataFrame(
        [("https://a.occrp.org/x", "text/html", None)],
        "url string, content_type string, text string",
    )
    rule = {
        "and": [
            {"domain": "occrp.org"},
            {"or": [{"mime_group": "web"}, {"pattern": "https://docs"}]},
        ]
    }
    plan = _plan(df.filter(compile_rule(rule)))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    # "*(n)" prefixes mark whole-stage-codegen stages in toString output
    assert "*(1) Filter" in plan, plan


def test_no_cartesian_in_lsh_pairs(spark):
    from memorious_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(i, "some repeated words here for shingles " * 3) for i in range(20)],
        "doc_id long, text string",
    )
    plan = _plan(minhash_lsh_pairs(docs))
    assert "CartesianProduct" not in plan, plan[:2000]


def test_embedding_pairs_are_equi_joins(spark):
    """The round-1 `l.id < r.id` non-equi self-join planned a
    BroadcastNestedLoopJoin — O(n²) through one broadcast. Both the
    exact block-grid and the banded-LSH path must plan as shuffled
    equi-joins."""
    from memorious_spark.operators.dedup import (
        embedding_dup_pairs, embedding_dup_pairs_lsh,
    )

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0, 0.5]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    for df in (
        embedding_dup_pairs(emb, threshold=0.9),
        embedding_dup_pairs_lsh(emb, dim=4, threshold=0.9),
    ):
        plan = _plan(df)
        assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]
        assert "CartesianProduct" not in plan, plan[:2000]


def test_politeness_two_phase_has_salted_window(spark):
    """Skew guard: the first politeness window must partition by
    (host, salt), never by host alone as the only window."""
    from memorious_spark.operators.frontier import politeness_dequeue

    frontier = spark.createDataFrame(
        [(f"u{i}", "hot.example.com", 0.0, i) for i in range(100)],
        "url string, host string, priority double, emit_seq long",
    )
    sel, carry = politeness_dequeue(frontier, budget=5)
    plan = _plan(sel)
    assert plan.count("Window") >= 2, plan[:3000]
    assert "_salt" in plan, plan[:3000]
    # exactness: top-5 by emit_seq survive, the rest carry over
    assert sorted(r["emit_seq"] for r in sel.collect()) == [0, 1, 2, 3, 4]
    assert carry.count() == 95


def test_delta_resolution_single_scan_single_shuffle(spark, tmp_path):
    """The upsert-shared read path must stay ONE delta scan + ONE
    keys-exchange (max_by aggregate) — the window+join formulation
    regressed to two full scans and two exchanges."""
    import re

    from memorious_spark.plans.storage import RunStore

    store = RunStore(tmp_path, "plans", "r1")
    store.upsert_shared(
        spark,
        "db_t",
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"),
        ["k"],
        "2024-01-01 00:00:00",
    )
    store.upsert_shared(
        spark,
        "db_t",
        spark.createDataFrame([(2, "B")], "k int, v string"),
        ["k"],
        "2024-02-01 00:00:00",
    )
    df = store.read_shared(spark, "db_t")
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1, plan[:3000]
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan[:3000]
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


# ---- round-4 curation operators: scale-posture plan locks ------------------

def _mini_docs(spark, n=60):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("shared cookie banner\nalpha beta gamma line "),
            F.col("id").cast("string"),
        ).alias("text"),
    )


def test_token_shards_no_single_partition_window(spark):
    """The global prefix sum must run as per-bucket windows — NEVER
    the Exchange SinglePartition plan an unpartitioned window produces
    (one task for the whole corpus). Since the r6 determinism fix the
    bucket id ``_pid`` is a pure function of the id (equal-width
    key-range bucketing), so the plan carries NO repartitionByRange,
    NO spark_partition_id, and NO checkpoint — just the bucket
    expression and a window partitioned by it."""
    from memorious_spark.operators.packing import pack_token_shards

    docs = spark.range(500).select(
        F.col("id").alias("doc_id"), (F.col("id") % 37 + 1).alias("tokens")
    )
    out = pack_token_shards(docs, budget=100, num_partitions=8)
    plan = _plan(out)
    assert "Window" in plan, plan[:2000]
    assert "SinglePartition" not in plan, plan[:3000]
    # no Spark-internal partition ids anywhere (the r4/r5 flake class)
    assert "SPARK_PARTITION_ID" not in plan.upper(), plan[:3000]
    assert "rangepartitioning" not in plan.lower(), plan[:3000]
    # the window keys on _pid — a partitioned window, not a global one
    assert "windowspecdefinition(_pid" in plan, plan[:2000]
    assert out.select("doc_id").rdd.getNumPartitions() >= 1


def test_corpus_dedup_exact_stage_no_fingerprint_window(spark):
    """Round-5 directive: corpus_dedup's exact stage must be the
    map-side-combined groupBy(fingerprint).min(id) + join-back shape
    (AQE-skew-splittable), never a Window over the fingerprint — a
    hot fingerprint (boilerplate text, billions of rows at 100 TB)
    pins an unpartitionable window on ONE task. Lock: zero Window
    nodes in the whole plan, and a partial aggregate is present.
    Skew fixture: one fingerprint shared by 50% of rows resolves
    correctly (all hot rows -> exact with the min id as canonical)."""
    from memorious_spark.operators.dedup import corpus_dedup

    docs = spark.range(400).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, F.lit("hot boilerplate text"))
        .otherwise(F.concat(F.lit("uniq "), F.col("id").cast("string")))
        .alias("text"),
    )
    out = corpus_dedup(docs)
    plan = _plan(out)
    assert "windowspecdefinition" not in plan, plan[:3000]
    assert "Window" not in plan, plan[:3000]
    assert "partial_min" in plan or "HashAggregate" in plan, plan[:3000]
    got = {r["doc_id"]: (r["canonical_id"], r["reason"]) for r in out.collect()}
    assert got[0] == (0, "kept")
    assert all(got[i] == (0, "exact") for i in range(2, 400, 2))


def test_strip_boilerplate_broadcast_path_docs_never_shuffle(spark):
    """Broadcast path: the hot-line set folds to one array row and the
    rewrite rides the corpus scan — no doc-keyed exchange anywhere.
    The regroup path (forced) is allowed its one body shuffle, keyed
    by the doc id."""
    from memorious_spark.operators.dedup import strip_boilerplate_lines

    docs = _mini_docs(spark)
    fast = strip_boilerplate_lines(docs, min_docs=2, broadcast_max=10**6)
    plan_fast = _plan(fast)
    assert "Exchange hashpartitioning(doc_id" not in plan_fast, plan_fast[:3000]
    assert "SortMergeJoin" not in plan_fast, plan_fast[:3000]
    # forced regroup path: bodies go through posexplode + per-doc
    # regroup instead (its exchange broadcasts away at test scale)
    slow = strip_boilerplate_lines(docs, min_docs=2, broadcast_max=0)
    plan_slow = _plan(slow)
    assert "posexplode" in plan_slow and "collect_list" in plan_slow


def test_decontaminate_broadcast_path_corpus_stays_map_side(spark):
    """Broadcast path, asserted on the FINAL adaptive plan: the
    corpus explode feeds a broadcast LeftSemi (bench side builds the
    hash once per task — the former per-row array_intersect rebuilt
    it per document, 5.5x slower at sf0.1), the count-back resolves
    to a broadcast LeftOuter, and the corpus is never sort-merge
    joined. The only tolerated doc_id exchange is the semi-join
    OUTPUT (matched grams — a sliver when contamination is rare)."""
    from memorious_spark.operators.contamination import flag_contaminated

    docs = _mini_docs(spark)
    bench = docs.limit(5)
    out = flag_contaminated(docs, bench, n=3, broadcast_max=10**6)
    out.collect()  # let AQE finalize the runtime join strategies
    plan = _plan(out)
    assert "isFinalPlan=true" in plan, plan[:500]
    assert "SortMergeJoin" not in plan, plan[:3000]
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert plan.count("Exchange hashpartitioning(doc_id") <= 1, plan[:3000]
    # forced shuffle-join path (huge-bench fallback): same shape,
    # semi-join keyed on the gram
    joiny = flag_contaminated(docs, bench, n=3, broadcast_max=0)
    plan_join = _plan(joiny)
    assert "LeftSemi" in plan_join and "explode" in plan_join


def test_quota_sample_window_input_is_pruned(spark):
    """The row_number window must sit ABOVE the candidate threshold
    filter (conv(md5) <= _thr), so it only ever sorts ~quota x safety
    rows per group; group metadata joins broadcast."""
    from memorious_spark.operators.sampling import quota_sample

    docs = spark.range(2000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 3).cast("string").alias("grp")
    )
    out = quota_sample(docs, "grp", quota=50)
    plan = _plan(out)
    assert "Window" in plan, plan[:2000]
    assert "_thr" in plan, plan[:3000]
    assert "SortMergeJoin" not in plan, plan[:3000]
    # the pruning filter feeds the window, not the other way round:
    # in the tree printout the Filter on _thr appears among the
    # window's descendants
    win_at = plan.index("Window")
    assert "_thr" in plan[win_at:], plan[win_at:win_at + 2000]


def test_lsh_pair_self_joins_never_broadcast(spark):
    """The LSH-family pair generators self-join their banded/exploded
    index; a BroadcastHashJoin there re-evaluates the signature stage
    once per side (and could not broadcast a corpus-scale index at
    all). Lock the SHUFFLE_HASH shape — both sides through the same
    exchange, one materialization: the final plans of the MinHash,
    n-gram and SimHash generators read the second side as a
    ``ReusedExchange``. (The embedding LSH plans none at this size.)"""
    import os

    from memorious_spark.operators import dedup

    sf = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.01")
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    for name, df in [
        ("minhash", dedup.minhash_lsh_pairs(docs)),
        ("ngram", dedup.ngram_jaccard_pairs(docs, threshold=0.8)),
        ("simhash", dedup.simhash_pairs(docs)),
        ("emb_lsh", dedup.embedding_dup_pairs_lsh(emb, dim=64)),
    ]:
        plan = _plan(df)
        assert "ShuffledHashJoin" in plan, name
        assert "BroadcastHashJoin" not in plan, name
        if name != "emb_lsh":
            df.collect()
            plan = _plan(df)
            assert "isFinalPlan=true" in plan, name
            assert "ReusedExchange" in plan, (name, plan[:3000])


def test_seen_anti_join_reuses_within_round_partitioning(spark):
    """The crawl's seen step, ``dedup_new(dedup_within_round(c),
    seen)``: the within-round aggregate hash-partitions the candidates
    on ``url_hash`` and its output keeps that column, so the anti-join
    shuffles only the seen side. Two exchanges in all (aggregate +
    seen distinct); a third would re-shuffle every candidate row each
    round. AQE off so the plan is the static one."""
    from memorious_spark.operators.frontier import dedup_within_round
    from memorious_spark.operators.seen import dedup_new

    cands = spark.range(400).select(
        F.concat(F.lit("u"), (F.col("id") % 150).cast("string")).alias("url"),
        (F.col("id") % 150).alias("url_hash"),
        (F.col("id") % 7).alias("src_emit_seq"),
        (F.col("id") % 11).cast("int").alias("link_idx"),
    )
    seen = spark.range(0, 150, 3).select(F.col("id").alias("url_hash"))
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        deduped = dedup_within_round(cands, ["src_emit_seq", "link_idx"])
        assert deduped.columns == cands.columns
        out = dedup_new(deduped, seen)
        plan = _plan(out)
        assert plan.count("Exchange") == 2, plan[:3000]
        assert plan.count("Exchange hashpartitioning(url_hash") == 2, plan[:3000]
        got = {r["url_hash"] for r in out.collect()}
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert got == {h for h in range(150) if h % 3}
