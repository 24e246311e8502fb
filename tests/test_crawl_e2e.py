"""End-to-end engine ↔ oracle equivalence — the correctness gate of
BASELINE.json: same seed list, unlimited politeness budget →
identical URL-seen set, identical crawl (emit) order, identical
stored rows, byte-identical extracted text per url (sha256)."""

import hashlib

import pytest
from pyspark.sql import functions as F

from memorious_spark.functions.urls import py_norm
from memorious_spark.operators.parse import ParseConfig
from memorious_spark.oracle import run_oracle
from memorious_spark.plans.pipeline import CrawlConfig
from memorious_spark.plans.runner import CrawlRunner
from memorious_spark.plans.storage import RunStore
from memorious_spark.sources.corpus import build_corpus, seed_urls

N_DOCS = 120


def _docs(spark, n=N_DOCS):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("word"), F.col("id") % 11, F.lit(" text body ")).alias("text"),
        F.lit("en").alias("lang"),
    )


@pytest.fixture(scope="module")
def corpus(spark):
    df = build_corpus(spark, _docs(spark), N_DOCS).persist()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def corpus_dict(corpus):
    return {
        py_norm(r["url"]): {
            "html": bytes(r["html"]) if r["html"] is not None else None,
            "content_type": r["content_type"],
            "status_code": r["status_code"],
            "redirect_to": r["redirect_to"],
        }
        for r in corpus.collect()
    }


CFG = CrawlConfig(
    name="e2e",
    seeds=tuple(seed_urls(3)),
    fetch_rules={"mime_group": "web"},
    store_rules={"and": [{"mime_type": "text/html"}, {"pattern": r"https://h\d"}]},
    parse=ParseConfig(
        meta={
            "author": [".//meta[@name='author']/@content"],
            "og_title": [".//meta[@property='og:title']/@content"],
        },
        properties={"headings": ".//h1"},
    ),
    max_rounds=40,
)


@pytest.fixture(scope="module")
def engine_run(spark, corpus, tmp_path_factory):
    store = RunStore(tmp_path_factory.mktemp("runs"), "e2e", "run1")
    result = CrawlRunner(spark, CFG, store).run(corpus)
    return store, result


@pytest.fixture(scope="module")
def oracle_run(corpus_dict):
    return run_oracle(CFG, corpus_dict)


def _engine_frontier_rows(spark, store, max_round=60):
    dfs = []
    for r in range(max_round):
        df = store.read_round(spark, "frontier", r)
        if df is None:
            break
        dfs.append(df)
    allf = dfs[0]
    for d in dfs[1:]:
        allf = allf.unionByName(d)
    return allf.dropDuplicates(["emit_seq"])


def test_crawl_terminates(engine_run):
    _, result = engine_run
    assert result.status == "done"
    assert result.pages_fetched > 50
    assert result.pages_stored > 0


def test_seen_set_matches_oracle(spark, engine_run, oracle_run):
    store, _ = engine_run
    seen = store.read_all(spark, "seen", 60)
    engine_hashes = {r["key_hash"] for r in seen.select("key_hash").distinct().collect()}
    oracle_urls = sorted(oracle_run.seen)
    odf = spark.createDataFrame([(u,) for u in oracle_urls], "u string")
    oracle_hashes = {
        r["h"] for r in odf.select(F.xxhash64("u").alias("h")).collect()
    }
    assert engine_hashes == oracle_hashes


def test_crawl_order_matches_oracle(spark, engine_run, oracle_run):
    store, _ = engine_run
    rows = _engine_frontier_rows(spark, store).select("emit_seq", "url").collect()
    engine_order = sorted((r["emit_seq"], r["url"]) for r in rows)
    oracle_order = sorted(oracle_run.order)
    assert engine_order == oracle_order


def test_stored_rows_match_oracle(spark, engine_run, oracle_run):
    store, _ = engine_run
    stored = store.read_all(spark, "results", 60)
    engine = {
        r["final_url"]: r
        for r in stored.select(
            "final_url", "title", "text", "meta", "properties", "status_code"
        ).collect()
    }
    oracle = {s["final_url"]: s for s in oracle_run.stored}
    assert set(engine) == set(oracle)
    for url, o in oracle.items():
        e = engine[url]
        assert e["title"] == o["title"], url
        assert e["text"] == o["text"], url
        assert dict(e["meta"] or {}) == o["meta"], url
        assert {k: list(v) for k, v in (e["properties"] or {}).items()} == o[
            "properties"
        ], url


def test_text_byte_identity(spark, engine_run, oracle_run):
    """sha256 over extracted text per url — the per-row invariant of
    BASELINE.json input_hint."""
    store, _ = engine_run
    stored = store.read_all(spark, "results", 60)
    engine = {
        r["final_url"]: hashlib.sha256(r["text"].encode("utf-8")).hexdigest()
        for r in stored.select("final_url", "text").collect()
        if r["text"] is not None
    }
    assert engine  # non-trivial
    for url, h in engine.items():
        o = oracle_run.text_by_url.get(url)
        assert o is not None, url
        assert hashlib.sha256(o.encode("utf-8")).hexdigest() == h, url


def test_store_rules_see_final_url(
    spark, corpus, corpus_dict, tmp_path_factory
):
    """Store rules judge the fetched response, so they match the
    post-redirect url: a redirect from another host into h0 is stored
    under an h0 pattern, exactly as the oracle stores it."""
    import dataclasses

    cfg = dataclasses.replace(CFG, store_rules={"pattern": r"https://h0\."})
    store = RunStore(tmp_path_factory.mktemp("runs_store"), "e2e", "runS")
    CrawlRunner(spark, cfg, store).run(corpus)
    oracle = run_oracle(cfg, corpus_dict)

    rows = store.read_all(spark, "results", 60).select("url", "final_url").collect()
    assert {r["final_url"] for r in rows} == {s["final_url"] for s in oracle.stored}
    assert {(py_norm(r["url"]), r["final_url"]) for r in rows} == {
        (s["url"], s["final_url"]) for s in oracle.stored
    }
    # not vacuous: some stored row was redirected across hosts
    assert any(
        r["url"].split("/")[2] != r["final_url"].split("/")[2] for r in rows
    )


def test_fetch_rules_see_final_url(
    spark, corpus, corpus_dict, tmp_path_factory
):
    """Fetch rules judge the fetched response too, so they match the
    post-redirect url: a redirect from another host into h0 is gated
    by a not-h0 rule, exactly as the oracle gates it, and the seen set
    (which the gated rows' links would grow) stays the oracle's."""
    import dataclasses

    cfg = dataclasses.replace(
        CFG, fetch_rules={"not": {"pattern": r"https://h0\."}}
    )
    store = RunStore(tmp_path_factory.mktemp("runs_fetch"), "e2e", "runF")
    CrawlRunner(spark, cfg, store).run(corpus)
    oracle = run_oracle(cfg, corpus_dict)

    rows = store.read_all(spark, "results", 60).select("url", "final_url").collect()
    assert {r["final_url"] for r in rows} == {s["final_url"] for s in oracle.stored}
    assert not any(r["final_url"].startswith("https://h0.") for r in rows)
    seen = store.read_all(spark, "seen", 60)
    engine_hashes = {
        r["key_hash"] for r in seen.select("key_hash").distinct().collect()
    }
    odf = spark.createDataFrame([(u,) for u in sorted(oracle.seen)], "u string")
    assert engine_hashes == {
        r["h"] for r in odf.select(F.xxhash64("u").alias("h")).collect()
    }
    # not vacuous: some stored row was redirected across hosts
    assert any(
        r["url"].split("/")[2] != r["final_url"].split("/")[2] for r in rows
    )


def test_kill_resume_matches_uninterrupted(
    spark, corpus, tmp_path_factory, engine_run
):
    """Kill after round 2, resume → final seen set + stored rows equal
    the uninterrupted run (BASELINE north rule: resumable from
    checkpoint). Regression guard for the frontier/round=r+1 cutoff in
    RunStore.truncate_after (round r writes its NEXT frontier)."""
    import dataclasses

    store = RunStore(tmp_path_factory.mktemp("runs_resume"), "e2e", "runR")
    killed = CrawlRunner(
        spark, dataclasses.replace(CFG, max_rounds=3), store
    ).run(corpus)
    assert killed.rounds == 3
    resumed = CrawlRunner(spark, CFG, store).run(corpus, resume=True)
    assert resumed.status == "done" and resumed.rounds > 0

    ref_store, _ = engine_run
    seen = {
        r["key_hash"]
        for r in store.read_all(spark, "seen", 60).select("key_hash").collect()
    }
    ref_seen = {
        r["key_hash"]
        for r in ref_store.read_all(spark, "seen", 60).select("key_hash").collect()
    }
    assert seen == ref_seen
    assert (
        store.read_all(spark, "results", 60).count()
        == ref_store.read_all(spark, "results", 60).count()
    )


def test_failed_round_releases_its_caches(
    spark, corpus, tmp_path_factory, monkeypatch
):
    """A round that raises (here: its seen write) propagates the error
    and releases the round's persisted frames on the way out: the
    session's persistent-RDD count is what it was before ``run``."""
    import dataclasses

    write_round = RunStore.write_round

    def failing_seen_write(self, table, rnd, df):
        if table == "seen":
            raise OSError("seen write failed")
        write_round(self, table, rnd, df)

    monkeypatch.setattr(RunStore, "write_round", failing_seen_write)
    jsc = spark.sparkContext._jsc
    store = RunStore(tmp_path_factory.mktemp("runs_fail"), "e2e", "runX")
    runner = CrawlRunner(spark, dataclasses.replace(CFG, max_rounds=1), store)
    # by RDD id: the persistent-RDD map holds weak values, so another
    # test's RDD can drop out of it mid-run
    before = set(jsc.getPersistentRDDs().keySet())
    with pytest.raises(OSError, match="seen write failed"):
        runner.run(corpus)
    assert set(jsc.getPersistentRDDs().keySet()) - before == set()
    # the run's static-plan switch is undone on the way out too
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_crawl_of_corpus_misses_retries_then_ends(
    spark, corpus, tmp_path_factory
):
    """Every frontier url misses the corpus: each round observes zero
    hits, the rows re-enter the frontier until ``retries`` is spent,
    and the crawl ends with nothing fetched."""
    import dataclasses

    cfg = dataclasses.replace(
        CFG, seeds=("https://nowhere.invalid/a", "https://nowhere.invalid/b"),
    )
    store = RunStore(tmp_path_factory.mktemp("runs_miss"), "e2e", "runM")
    result = CrawlRunner(spark, cfg, store).run(corpus)
    assert (result.status, result.pages_fetched, result.urls_seen) == ("done", 0, 0)
    assert [
        (r["selected"], r["fetched"], r["new_links"], r["next_frontier"])
        for r in store.read_manifest()["rounds"]
    ] == [(2, 0, 0, 2)] * cfg.retries + [(2, 0, 0, 0)]


def test_empty_initial_frontier_crawls_nothing(spark, corpus, tmp_path_factory):
    store = RunStore(tmp_path_factory.mktemp("runs_empty"), "e2e", "runE")
    empty = spark.createDataFrame([], "url string, emit_seq long")
    result = CrawlRunner(spark, CFG, store).run(corpus, initial_frontier=empty)
    assert (result.status, result.rounds, result.pages_fetched) == ("done", 0, 0)


class _JobMarks(RunStore):
    """Spark's last job id at each round commit. Jobs the runner's
    worker threads submit carry no job group, so every job is counted
    by id (as crawlbench's ``TracingStore`` counts them). The status
    tracker learns of a job from the listener bus, so each mark drains
    the bus first: a round's last job is not counted in the next."""

    def __init__(self, root, crawler, run_id, sc):
        super().__init__(root, crawler, run_id)
        self._sc = sc
        self.marks = [self._last_job()]

    def _last_job(self) -> int:
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        return max(self._sc.statusTracker().getJobIdsForGroup(), default=-1)

    def commit_round(self, rnd, stats):
        super().commit_round(rnd, stats)
        self.marks.append(self._last_job())

    def jobs_per_round(self) -> list[int]:
        return [b - a for a, b in zip(self.marks, self.marks[1:])]


@pytest.mark.parametrize("budget", [None, 4])
def test_round_runs_at_most_ten_jobs(spark, corpus, tmp_path_factory, budget):
    """Crawl rounds plan statically, so a round is its three waves of
    actions and not one stage job per shuffle exchange (20-30 jobs a
    round under adaptive execution), on the unbudgeted path and on the
    per-host budget path. The first round's count includes the round-0
    frontier write."""
    import dataclasses

    cfg = dataclasses.replace(CFG, max_rounds=5)
    if budget is not None:
        cfg = dataclasses.replace(cfg, budget_per_host=budget)
    store = _JobMarks(
        tmp_path_factory.mktemp("runs_jobs"), "e2e", "runJ", spark.sparkContext
    )
    result = CrawlRunner(spark, cfg, store).run(corpus)
    assert result.rounds == 5
    jobs = store.jobs_per_round()
    assert max(jobs) <= 10, jobs
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_repeat_crawl_reuses_generated_classes(spark, corpus, tmp_path_factory):
    """A repeat crawl finds its whole-stage classes in Spark's
    generated-class cache and compiles almost none. At Spark's default
    of 100 entries one round's classes evict the previous round's, and
    this crawl compiles about 310 classes again; ``get_spark`` sizes the
    cache, and a session made without it fails here too."""
    import dataclasses

    cfg = dataclasses.replace(CFG, max_rounds=4)
    root = tmp_path_factory.mktemp("runs_codegen")
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiles_of_crawl(run_id: str) -> int:
        before = codegen.METRIC_COMPILATION_TIME().getCount()
        CrawlRunner(spark, cfg, RunStore(root, "e2e", run_id)).run(corpus)
        return codegen.METRIC_COMPILATION_TIME().getCount() - before

    first = compiles_of_crawl("runC0")
    again = compiles_of_crawl("runC1")
    assert again <= 5, (first, again)  # 0 measured


def test_budgeted_crawl_matches_budgeted_oracle(
    spark, corpus, corpus_dict, tmp_path_factory
):
    """Politeness under CONTENTION, exactly: engine with
    budget_per_host=4 vs the round-discretized budgeted oracle —
    same seen set, same emit order (carryover + retry slot dynamics
    included), same stored rows, and the ≤ budget/host/round invariant
    on every round's fetched output."""
    import dataclasses

    budget = 4
    cfg = dataclasses.replace(CFG, budget_per_host=budget)
    store = RunStore(tmp_path_factory.mktemp("runs_budget"), "e2e", "runB")
    result = CrawlRunner(spark, cfg, store).run(corpus)
    oracle = run_oracle(cfg, corpus_dict, budget=budget)

    # identical seen set
    seen = store.read_all(spark, "seen", 60)
    engine_hashes = {r["key_hash"] for r in seen.select("key_hash").collect()}
    odf = spark.createDataFrame([(u,) for u in sorted(oracle.seen)], "u string")
    oracle_hashes = {r["h"] for r in odf.select(F.xxhash64("u").alias("h")).collect()}
    assert engine_hashes == oracle_hashes

    # identical emit order under contention
    rows = _engine_frontier_rows(spark, store).select("emit_seq", "url").collect()
    assert sorted((r["emit_seq"], r["url"]) for r in rows) == sorted(oracle.order)

    # identical stored rows
    stored = store.read_all(spark, "results", 60)
    assert {r["final_url"] for r in stored.select("final_url").collect()} == {
        s["final_url"] for s in oracle.stored
    }
    assert result.rounds == len(oracle.rounds)

    # ≤ budget fetches per host per round, every round
    for rnd in range(result.rounds):
        df = store.read_round(spark, "results", rnd)
        if df is None:
            continue
        mx = df.groupBy("host").count().agg(F.max("count")).first()[0]
        assert mx is None or mx <= budget, (rnd, mx)


def test_domain_grouped_budget_caps_whole_corpus_domain(
    spark, corpus, tmp_path_factory
):
    """politeness_group='domain': every corpus host is
    ``h*.example.com``, so the registrable-domain budget caps the
    ENTIRE round at ``budget`` fetches (host mode would grant budget
    × n_hosts); the crawl still drains to completion — parked rows
    carry over FIFO."""
    import dataclasses

    budget = 4
    cfg = dataclasses.replace(
        CFG, budget_per_host=budget, politeness_group="domain",
        max_rounds=80,
    )
    store = RunStore(tmp_path_factory.mktemp("runs_dom"), "e2e", "runD")
    result = CrawlRunner(spark, cfg, store).run(corpus)
    assert result.status == "done" and result.pages_stored > 0
    total = 0
    for rnd in range(result.rounds):
        df = store.read_round(spark, "results", rnd)
        if df is None:
            continue
        n = df.count()
        assert n <= budget, (rnd, n)
        total += n
    # same stored coverage as an unbudgeted run would reach (drained)
    store_u = RunStore(tmp_path_factory.mktemp("runs_dom_u"), "e2e", "runU")
    unbudgeted = CrawlRunner(spark, CFG, store_u).run(corpus)
    assert total == unbudgeted.pages_stored


def test_hot_host_budgeted_crawl_matches_oracle(spark, tmp_path_factory):
    """Skew: every 2nd doc lives on ONE hot host (hot_mod=2). The
    salted two-phase politeness must still produce the exact budgeted
    semantics — same seen set and emit order as the sequential oracle —
    while the mega-host queues through rounds."""
    import dataclasses

    from memorious_spark.functions.urls import py_norm

    hot_docs = _docs(spark, 80)
    corpus = build_corpus(spark, hot_docs, 80, hot_mod=2).persist()
    corpus.count()
    corpus_dict = {
        py_norm(r["url"]): {
            "html": bytes(r["html"]) if r["html"] is not None else None,
            "content_type": r["content_type"],
            "status_code": r["status_code"],
            "redirect_to": r["redirect_to"],
        }
        for r in corpus.collect()
    }
    cfg = dataclasses.replace(
        CFG,
        seeds=tuple(seed_urls(3, hot_mod=2)),
        budget_per_host=3,
        max_rounds=60,
    )
    store = RunStore(tmp_path_factory.mktemp("runs_hot"), "e2e", "runH")
    result = CrawlRunner(spark, cfg, store).run(corpus)
    oracle = run_oracle(cfg, corpus_dict, budget=3)

    seen = store.read_all(spark, "seen", 80)
    engine_hashes = {r["key_hash"] for r in seen.select("key_hash").collect()}
    odf = spark.createDataFrame([(u,) for u in sorted(oracle.seen)], "u string")
    assert engine_hashes == {
        r["h"] for r in odf.select(F.xxhash64("u").alias("h")).collect()
    }
    rows = _engine_frontier_rows(spark, store, max_round=80).select(
        "emit_seq", "url"
    ).collect()
    assert sorted((r["emit_seq"], r["url"]) for r in rows) == sorted(oracle.order)
    assert result.rounds == len(oracle.rounds) > 5  # the hot host queues
    corpus.unpersist()


def test_forced_shuffle_join_matches_broadcast_crawl(
    spark, corpus, engine_run, tmp_path_factory, monkeypatch
):
    """The 10^10-frontier fallback path (frontier past the broadcast
    ceiling → SHUFFLE_HASH corpus join, fetch.py) must produce the
    byte-same crawl as the broadcast path — exercised end-to-end, not
    just plan-asserted."""
    import memorious_spark.operators.fetch as fetch

    # every round's frontier is now past the ceiling: the real
    # size-based selection picks the shuffle join
    monkeypatch.setattr(fetch, "_BROADCAST_MAX_ROWS", 0)
    store_f = RunStore(tmp_path_factory.mktemp("runs_sj"), "e2e", "runSJ")
    result_f = CrawlRunner(spark, CFG, store_f).run(corpus)
    monkeypatch.undo()

    store_b, result_b = engine_run
    assert (result_f.pages_fetched, result_f.pages_stored, result_f.urls_seen) == (
        result_b.pages_fetched, result_b.pages_stored, result_b.urls_seen,
    )
    rows_f = sorted(
        (r["emit_seq"], r["url"], r["content_hash"])
        for r in store_f.read_all(spark, "results", 60)
        .select("emit_seq", "url", "content_hash").collect()
    )
    rows_b = sorted(
        (r["emit_seq"], r["url"], r["content_hash"])
        for r in store_b.read_all(spark, "results", 60)
        .select("emit_seq", "url", "content_hash").collect()
    )
    assert rows_f == rows_b


def test_content_hash_is_sha1_of_body(spark, engine_run, corpus_dict):
    store, _ = engine_run
    stored = store.read_all(spark, "results", 60)
    row = stored.filter(F.col("content_hash").isNotNull()).first()
    body = corpus_dict[py_norm(row["final_url"])]["html"]
    assert row["content_hash"] == hashlib.sha1(body).hexdigest()
