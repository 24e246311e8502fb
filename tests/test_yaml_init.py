"""Every YAML method load_config accepts observably executes (round-3
fail-fast contract): generator init stages (sequence/dates/enumerate)
compile into the round-0 frontier, tee fan-out unions its seed
branches in handler order, and a clean_html stage re-writes + re-hashes
stored rows. Reference semantics: memorious/operations/initializers.py
(emit order), operations/clean.py:11-26 (re-hash)."""

import hashlib

import pytest
from pyspark.sql import functions as F

from memorious_spark.functions import htmlkit
from memorious_spark.operators.initializers import compile_initial_frontier
from memorious_spark.plans.pipeline import load_yaml
from memorious_spark.plans.runner import CrawlRunner
from memorious_spark.plans.storage import RunStore
from memorious_spark.sources.corpus import build_corpus, seed_urls

N_DOCS = 120


@pytest.fixture(scope="module")
def corpus(spark):
    docs = spark.range(N_DOCS).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("word"), F.col("id") % 11, F.lit(" body")).alias("text"),
        F.lit("en").alias("lang"),
    )
    df = build_corpus(spark, docs, N_DOCS).persist()
    df.count()
    yield df
    df.unpersist()


def _yaml(init_block: str, store_block: str = "", extra: str = "") -> str:
    return f"""
name: init_crawl
max_rounds: 30
{extra}
pipeline:
{init_block}
  fetch:
    method: fetch
    params: {{retry: 1, rules: {{mime_group: web}}}}
    handle: {{pass: parse}}
  parse:
    method: parse
    params:
      store: {{mime_type: "text/html"}}
    handle: {{store: store, fetch: fetch}}
{store_block or '''  store:
    method: directory
    params: {}
'''}
"""


SEQ_INIT = """  init:
    method: sequence
    params: {start: 0, stop: 3, step: 1}
    handle: {pass: urls}
  urls:
    method: seed
    params:
      urls: ["https://h%(number)d.example.com/doc/%(number)d"]
    handle: {pass: fetch}
"""

SEED_INIT = """  init:
    method: seed
    params:
      urls: ["https://h0.example.com/doc/0", "https://h1.example.com/doc/1", "https://h2.example.com/doc/2"]
    handle: {pass: fetch}
"""


def test_sequence_init_crawls_like_literal_seeds(spark, corpus, tmp_path):
    # numbers 0..2 template into exactly seed_urls(3) (doc i lives on
    # host h{i%7}) — the sequence-seeded crawl must equal the literal one
    cfg_seq = load_yaml(_yaml(SEQ_INIT))
    cfg_lit = load_yaml(_yaml(SEED_INIT))
    assert cfg_seq.init_method == "sequence"
    assert cfg_seq.seed_templates == (
        "https://h%(number)d.example.com/doc/%(number)d",
    )
    front = compile_initial_frontier(spark, cfg_seq)
    rows = sorted(front.collect(), key=lambda r: r["emit_seq"])
    assert [r["url"] for r in rows] == seed_urls(3)
    assert [r["emit_seq"] for r in rows] == [0, 1, 2]

    res_seq = CrawlRunner(
        spark, cfg_seq, RunStore(tmp_path / "a", "c", "r1")
    ).run(corpus)
    res_lit = CrawlRunner(
        spark, cfg_lit, RunStore(tmp_path / "b", "c", "r1")
    ).run(corpus)
    assert res_seq.pages_fetched == res_lit.pages_fetched > 0
    assert res_seq.urls_seen == res_lit.urls_seen


def test_sequence_tag_once_only_across_runs(spark, tmp_path):
    yaml_txt = _yaml(SEQ_INIT).replace(
        "{start: 0, stop: 3, step: 1}",
        "{start: 0, stop: 3, step: 1, tag: pages}",
    )
    cfg = load_yaml(yaml_txt)
    store = RunStore(tmp_path, "c", "r1")
    first = compile_initial_frontier(spark, cfg, store)
    assert first.count() == 3
    second = compile_initial_frontier(spark, cfg, RunStore(tmp_path, "c", "r2"))
    assert second.count() == 0  # all numbers already tagged


def test_dates_init_frontier_newest_first(spark):
    cfg = load_yaml(_yaml("""  init:
    method: dates
    params: {begin: "2024-01-01", end: "2024-01-10", days: 3}
    handle: {pass: urls}
  urls:
    method: seed
    params:
      urls: ["https://archive.example.com/%(date)s", "https://alt.example.com/%(date_iso)s"]
    handle: {pass: fetch}
"""))
    rows = sorted(
        compile_initial_frontier(spark, cfg).collect(),
        key=lambda r: r["emit_seq"],
    )
    # newest first, two templates per item, handler/list order
    assert [r["url"] for r in rows[:4]] == [
        "https://archive.example.com/2024-01-10",
        "https://alt.example.com/2024-01-10T00:00:00",
        "https://archive.example.com/2024-01-07",
        "https://alt.example.com/2024-01-07T00:00:00",
    ]
    assert [r["emit_seq"] for r in rows] == list(range(8))


def test_enumerate_tee_fanout_order(spark):
    cfg = load_yaml(_yaml("""  init:
    method: enumerate
    params: {items: [alpha, beta]}
    handle: {pass: fan}
  fan:
    method: tee
    handle: {x: sx, y: sy}
  sx:
    method: seed
    params: {urls: ["https://a.example.com/%(item)s"]}
    handle: {pass: fetch}
  sy:
    method: seed
    params: {urls: ["https://b.example.com/%(item)s"]}
    handle: {pass: fetch}
"""))
    rows = sorted(
        compile_initial_frontier(spark, cfg).collect(),
        key=lambda r: r["emit_seq"],
    )
    # per item, branches in tee handler order (initializers.py:29-32)
    assert [r["url"] for r in rows] == [
        "https://a.example.com/alpha", "https://b.example.com/alpha",
        "https://a.example.com/beta", "https://b.example.com/beta",
    ]


def test_tee_init_literal_seed_union(spark):
    cfg = load_yaml(_yaml("""  init:
    method: tee
    handle: {one: s1, two: s2}
  s1:
    method: seed
    params: {urls: ["https://h0.example.com/doc/0"]}
    handle: {pass: fetch}
  s2:
    method: seed
    params: {urls: ["https://h1.example.com/doc/1", "https://h2.example.com/doc/2"]}
    handle: {pass: fetch}
"""))
    assert cfg.seeds == (
        "https://h0.example.com/doc/0",
        "https://h1.example.com/doc/1",
        "https://h2.example.com/doc/2",
    )


def test_load_rejects_unwired_shapes():
    # generator outside the init chain would silently never run
    with pytest.raises(ValueError, match="outside the init chain"):
        load_yaml(_yaml(SEED_INIT + """  stray:
    method: sequence
    params: {start: 0, stop: 5}
    handle: {pass: fetch}
"""))
    # sequence without stop can generate nothing in batch mode
    with pytest.raises(ValueError, match="stop"):
        load_yaml(_yaml(SEQ_INIT.replace(
            "{start: 0, stop: 3, step: 1}", "{start: 0}"
        )))
    # dates without an explicit end would be wall-clock-dependent
    with pytest.raises(ValueError, match="end"):
        load_yaml(_yaml("""  init:
    method: dates
    params: {days: 3}
    handle: {pass: urls}
  urls:
    method: seed
    params: {urls: ["https://x.example.com/%(date)s"]}
    handle: {pass: fetch}
"""))
    # templated seed with no generator to fill it
    with pytest.raises(ValueError, match="template"):
        load_yaml(_yaml("""  init:
    method: seed
    params: {urls: ["https://x.example.com/%(number)d"]}
    handle: {pass: fetch}
"""))
    # generator init that feeds no seed stage crawls nothing
    with pytest.raises(ValueError, match="seed"):
        load_yaml(_yaml("""  init:
    method: sequence
    params: {start: 0, stop: 3}
    handle: {pass: fetch}
"""))
    # a WARC store sink is not wired: it fails at load, not silently
    with pytest.raises(ValueError, match="unsupported method"):
        load_yaml(_yaml(SEED_INIT, """  store:
    method: warc
    params: {}
"""))


def test_template_unknown_field_fails_at_compile(spark):
    cfg = load_yaml(_yaml(SEQ_INIT.replace("%(number)d", "%(nope)s")))
    with pytest.raises(KeyError, match="nope"):
        compile_initial_frontier(spark, cfg)


def test_clean_html_stage_rewrites_and_rehashes(spark, corpus, tmp_path):
    cfg = load_yaml(_yaml(SEED_INIT, store_block="""  clean:
    method: clean_html
    params: {remove_paths: [".//img"]}
    handle: {pass: store}
  store:
    method: directory
    params: {}
""").replace(
        "handle: {store: store, fetch: fetch}",
        "handle: {store: clean, fetch: fetch}",
    ))
    assert cfg.clean_html_paths == (".//img",)
    store = RunStore(tmp_path, "c", "r1")
    res = CrawlRunner(spark, cfg, store).run(corpus)
    assert res.pages_stored > 10
    stored = {
        r["url"]: r
        for r in store.read_all(spark, "results", res.rounds).collect()
    }
    raw = {r["url"]: r for r in corpus.collect()}
    checked = 0
    for url, row in stored.items():
        src = raw[row["final_url"]] if row["final_url"] in raw else raw.get(url)
        if src is None or src["html"] is None:
            continue
        expected = htmlkit.clean_html(
            htmlkit.extract_text(bytes(src["html"]), src["content_type"]),
            [".//img"],
        )
        assert row["text"] == expected
        assert row["content_hash"] == hashlib.sha1(
            expected.encode("utf-8")
        ).hexdigest()
        # the hash genuinely changed vs the raw body's sha1
        assert row["content_hash"] != hashlib.sha1(bytes(src["html"])).hexdigest()
        assert "<img" not in row["text"]
        checked += 1
    assert checked > 10


def test_politeness_group_yaml_wiring(spark):
    """`fetch.params.politeness_group: domain` parses into the config;
    an unknown grouping is rejected at load. Removed crawl options
    fail at load, naming the key, instead of being ignored."""
    import copy

    import yaml as _y

    from memorious_spark.plans.pipeline import load_config

    spec = _y.safe_load(_yaml(SEED_INIT, extra=""))
    assert load_config(spec).politeness_group == "host"
    spec["pipeline"]["fetch"]["params"]["politeness_group"] = "domain"
    assert load_config(spec).politeness_group == "domain"
    spec["pipeline"]["fetch"]["params"]["politeness_group"] = "tld"
    with pytest.raises(ValueError, match="politeness_group"):
        load_config(spec)
    spec["pipeline"]["fetch"]["params"]["politeness_group"] = "host"
    for key, value in [
        ("robots", True), ("robots_sitemaps", True), ("max_pages", 500),
    ]:
        bad = copy.deepcopy(spec)
        bad[key] = value
        with pytest.raises(ValueError, match=repr(key)):
            load_config(bad)
    for key, value in [
        ("prioritize", "pagerank"), ("rank_iters", 2), ("traps", True),
        ("canonicalize", "aggressive"), ("error_backoff", {"threshold": 5}),
    ]:
        bad = copy.deepcopy(spec)
        bad["pipeline"]["fetch"]["params"][key] = value
        with pytest.raises(ValueError, match=repr(key)):
            load_config(bad)


def test_sitemap_feeds_frontier(spark, tmp_path):
    """`parse.params.sitemaps: true`: a seeded sitemap.xml (urlset →
    sitemapindex chain) feeds its <loc> URLs into the frontier and the
    listed pages get fetched and stored; with the flag off the same
    crawl stops at the sitemap (XML carries no anchors)."""
    import datetime

    from memorious_spark.plans.pipeline import load_yaml

    def xml_page(url, body):
        return (
            url, datetime.datetime(2026, 1, 1), bytearray(body.encode()),
            None, "en", "application/xml", 200, None,
        )

    def html_page(url):
        return (
            url, datetime.datetime(2026, 1, 1),
            bytearray(b"<html><body>hello</body></html>"),
            "hello", "en", "text/html", 200, None,
        )

    idx = ("<sitemapindex><sitemap><loc>https://s.example.com/maps/pages.xml"
           "</loc></sitemap></sitemapindex>")
    urlset = ('<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
              "<url><loc>https://s.example.com/p/1</loc></url>"
              "<url><loc>https://s.example.com/p/2</loc></url></urlset>")
    corpus = spark.createDataFrame(
        [
            xml_page("https://s.example.com/sitemap.xml", idx),
            xml_page("https://s.example.com/maps/pages.xml", urlset),
            html_page("https://s.example.com/p/1"),
            html_page("https://s.example.com/p/2"),
        ],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string, content_type string, status_code int, "
        "redirect_to string",
    )

    def run(flag, tag):
        y = f"""
name: mapdemo
max_rounds: 10
pipeline:
  init:
    method: seed
    params: {{urls: ["https://s.example.com/sitemap.xml"]}}
    handle: {{pass: fetch}}
  fetch:
    method: fetch
    params: {{retry: 1, rules: {{mime_group: web}}}}
    handle: {{pass: parse}}
  parse:
    method: parse
    params:
      sitemaps: {str(flag).lower()}
      store: {{mime_type: "text/html"}}
    handle: {{store: store, fetch: fetch}}
  store:
    method: directory
    params: {{}}
"""
        cfg = load_yaml(y)
        assert cfg.parse.sitemaps is flag
        store = RunStore(tmp_path / f"runs_{tag}", "mapdemo", "r1")
        res = CrawlRunner(spark, cfg, store).run(corpus)
        assert res.status == "done"
        stored, seen = set(), set()
        for r in range(10):
            df = store.read_round(spark, "results", r)
            if df is not None:
                stored |= {x.url for x in df.select("url").collect()}
            fr = store.read_round(spark, "frontier", r)
            if fr is not None:
                seen |= {x.url for x in fr.select("url").collect()}
        return stored, seen

    stored_on, seen_on = run(True, "on")
    assert seen_on >= {
        "https://s.example.com/sitemap.xml",
        "https://s.example.com/maps/pages.xml",
        "https://s.example.com/p/1",
        "https://s.example.com/p/2",
    }
    assert stored_on == {
        "https://s.example.com/p/1", "https://s.example.com/p/2",
    }
    stored_off, seen_off = run(False, "off")
    assert stored_off == set()
    assert seen_off == {"https://s.example.com/sitemap.xml"}
