"""Incremental re-run + http_cache e2e — the cheap-re-crawl half of
memorious (INCREMENTAL=True default, memorious/settings.py:26; cache
probe/replay memorious/logic/http.py:141-178; skip_incremental
context.py:127-148).

Run 1 crawls a corpus; run 2 (same crawler dir, later now_ts) crawls a
version where a subset of pages changed (new content ⇒ new warc_ts).
Expectations:
- run 2 stores ONLY the changed pages (skip_incremental on
  (url, content_hash));
- unchanged pages replay from the http cache: original retrieved_at,
  cached content_hash, no re-store;
- the crawl STRUCTURE still runs (links of replayed pages are followed
  — a 304 does not stop the reference's crawl either), so changed
  pages deep in the graph are found.
"""

import dataclasses

import pytest
from pyspark.sql import functions as F

from memorious_spark.plans.pipeline import CrawlConfig
from memorious_spark.plans.runner import CrawlRunner
from memorious_spark.plans.storage import RunStore
from memorious_spark.sources.corpus import build_corpus, seed_urls

N_DOCS = 120
CHANGED_MOD = 10  # doc_id % 10 == 1 pages change between runs


def _docs(spark, suffix=""):
    return spark.range(N_DOCS).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("word"), F.col("id") % 11, F.lit(" text body"),
            F.when((F.col("id") % CHANGED_MOD) == 1, F.lit(suffix)).otherwise(
                F.lit("")
            ),
        ).alias("text"),
        F.lit("en").alias("lang"),
    )


CFG = CrawlConfig(
    name="inc", seeds=tuple(seed_urls(3)), max_rounds=40, retries=1,
    incremental=True, expire_days=5,
)


@pytest.fixture(scope="module")
def runs(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("inc_runs")
    corpus1 = build_corpus(spark, _docs(spark), N_DOCS).persist()
    corpus1.count()
    store1 = RunStore(root, "inc", "r1")
    res1 = CrawlRunner(spark, CFG, store1).run(
        corpus1, now_ts="2024-01-02 00:00:00"
    )

    # the changed pages get new content AND a new warc_ts (a re-crawled
    # snapshot stamps a new capture time — that is what the conditional
    # GET notices)
    doc_id = F.split(F.col("url"), "/doc/").getItem(1).cast("long")
    corpus2 = (
        build_corpus(spark, _docs(spark, suffix=" v2"), N_DOCS)
        .withColumn(
            "warc_ts",
            F.when(
                doc_id % CHANGED_MOD == 1,
                F.col("warc_ts") + F.expr("INTERVAL 1 DAY"),
            ).otherwise(F.col("warc_ts")),
        )
        .persist()
    )
    corpus2.count()
    store2 = RunStore(root, "inc", "r2")
    res2 = CrawlRunner(spark, CFG, store2).run(
        corpus2, now_ts="2024-01-03 00:00:00"
    )
    yield store1, res1, store2, res2
    corpus1.unpersist()
    corpus2.unpersist()


def _stored_urls(spark, store):
    df = store.read_all(spark, "results", 60)
    return {r["final_url"] for r in df.select("final_url").collect()}


def test_second_run_stores_only_changed(spark, runs):
    store1, res1, store2, res2 = runs
    s1 = _stored_urls(spark, store1)
    s2 = _stored_urls(spark, store2)
    assert res1.pages_stored > 50
    # everything stored in run 2 is a changed page...
    changed = {
        u for u in s1 if int(u.rsplit("/", 1)[1]) % CHANGED_MOD == 1
    }
    assert s2 == changed
    # ...and the crawl reached deep pages, not just seeds
    assert len(s2) > 3


def test_replay_reuses_cached_metadata(spark, runs):
    store1, _res1, store2, _res2 = runs
    cache = store2.read_shared(spark, "http_cache")
    assert cache is not None
    by_run = {
        r["run_id"]: r["n"]
        for r in cache.groupBy("run_id").agg(F.count("*").alias("n")).collect()
    }
    # run 1 cached every ok page; run 2 only the changed ones
    assert by_run["r1"] > by_run["r2"] > 0
    # run 2's cache rows are exactly the changed urls, stamped with
    # run 2's now_ts
    r2_rows = cache.filter(F.col("run_id") == "r2")
    assert all(
        int(r["url_norm"].rsplit("/", 1)[1]) % CHANGED_MOD == 1
        or "/doc/" not in r["url_norm"]
        for r in r2_rows.collect()
    )


def test_metrics_show_replay_economy(spark, runs):
    """Run 2 stored far fewer rows than it fetched — the re-crawl was
    cheap where it could be."""
    _s1, res1, _s2, res2 = runs
    assert res2.pages_fetched == res1.pages_fetched  # same reachability
    assert res2.pages_stored < res1.pages_stored / 3


def test_seen_rows_stamped_with_run_now_ts(spark, runs):
    """Seen rows carry the run's ``now_ts`` as ``created_at`` and
    expire ``expire_days × 84600`` s later (the reference quirk) —
    not the default timestamp of an unstamped call."""
    _s1, _r1, store2, _r2 = runs
    seen = store2.read_all(spark, "seen", 60)
    assert seen.count() > 0
    now = F.to_timestamp(F.lit("2024-01-03 00:00:00"))
    wrong = seen.filter(
        (F.col("created_at") != now)
        | (
            F.unix_timestamp("expires_at") - F.unix_timestamp("created_at")
            != CFG.expire_days * 84600
        )
        | F.col("expires_at").isNull()
    )
    assert wrong.count() == 0


def test_flush_crawler_resets_to_first_run(spark, runs, tmp_path_factory):
    """crawler.flush() (memorious/logic/crawler.py:89-96): after the
    flush, an incremental run behaves like the crawler's very first —
    no cache replays, everything re-stores."""
    store1, res1, *_ = runs
    root = store1.dir.parent.parent
    store3 = RunStore(root, "inc", "r3")
    store3.flush_crawler()
    assert store3.read_shared(spark, "http_cache") is None
    assert store3.read_shared(spark, "inc_tags") is None
    corpus = build_corpus(spark, _docs(spark), N_DOCS).persist()
    corpus.count()
    res3 = CrawlRunner(spark, CFG, store3).run(
        corpus, now_ts="2024-01-04 00:00:00"
    )
    corpus.unpersist()
    assert res3.pages_stored == res1.pages_stored  # like run 1 again
    assert res3.pages_fetched == res1.pages_fetched


def test_clean_html_incremental_skips_unchanged(spark, tmp_path_factory):
    """clean_html + incremental must share ONE content_hash: inc_tags
    are written from the same cleaned-hash projection the store skip
    reads (operations/clean.py replaces data['content_hash'] BEFORE
    skip_incremental). Regression: run 2 over an identical corpus with
    clean_html configured must store ZERO pages — with inc_tags keyed
    on the raw fetch hash, the test-and-set never matched and every
    page re-stored forever."""
    root = tmp_path_factory.mktemp("inc_clean")
    cfg = dataclasses.replace(
        CFG, name="incclean", clean_html_paths=(".//img",)
    )
    corpus = build_corpus(spark, _docs(spark), N_DOCS).persist()
    corpus.count()
    res1 = CrawlRunner(spark, cfg, RunStore(root, "incclean", "r1")).run(
        corpus, now_ts="2024-01-02 00:00:00"
    )
    store2 = RunStore(root, "incclean", "r2")
    res2 = CrawlRunner(spark, cfg, store2).run(
        corpus, now_ts="2024-01-03 00:00:00"
    )
    corpus.unpersist()
    assert res1.pages_stored > 50
    assert res2.pages_fetched == res1.pages_fetched
    assert res2.pages_stored == 0
    # and the inc_tags table carries the CLEANED hash, not the raw one
    tags = store2.read_shared(spark, "inc_tags")
    stored1 = RunStore(root, "incclean", "r1").read_all(
        spark, "results", res1.rounds
    )
    clean_hashes = {r["content_hash"] for r in stored1.collect()}
    tag_hashes = {r["content_hash"] for r in tags.collect()}
    assert tag_hashes == clean_hashes
