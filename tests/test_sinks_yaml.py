"""YAML-driven sinks e2e: a `simple_web_scraper.yml`-shaped pipeline
(memorious/tests/testdata/config/simple_web_scraper.yml:11-62) whose
store stage params actually flow through the runner — `directory`
produces the blob+sidecar layout, `db` merges into the crawler-scoped
persistent table (with nested children, operations/db.py:25-54) and
the post-run aggregator fires after the drain."""

import json

import pytest
from pyspark.sql import functions as F

from memorious_spark.plans.pipeline import load_yaml
from memorious_spark.plans.runner import CrawlRunner
from memorious_spark.plans.storage import RunStore
from memorious_spark.sources.corpus import build_corpus

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


def _yaml(store_block: str, extra: str = "") -> str:
    return f"""
name: sink_crawl
max_rounds: 30
{extra}
pipeline:
  init:
    method: seed
    params:
      urls: ["https://h0.example.com/doc/0", "https://h1.example.com/doc/1"]
    handle: {{pass: fetch}}
  fetch:
    method: fetch
    params: {{retry: 1, rules: {{mime_group: web}}}}
    handle: {{pass: parse}}
  parse:
    method: parse
    params:
      store: {{mime_type: "text/html"}}
      properties: {{headings: ".//h1"}}
    handle: {{store: store, fetch: fetch}}
{store_block}
"""


def test_directory_sink_from_yaml(spark, corpus, tmp_path_factory):
    out = tmp_path_factory.mktemp("dirsink")
    cfg = load_yaml(_yaml(f"""
  store:
    method: directory
    params: {{path: {out}}}
"""))
    assert cfg.store_method == "directory"
    store = RunStore(tmp_path_factory.mktemp("runs"), cfg.name, "r1")
    res = CrawlRunner(spark, cfg, store).run(corpus)
    assert res.pages_stored > 50
    files = list((out / "sink_crawl").iterdir())
    datas = [f for f in files if ".data." in f.name]
    sidecars = [f for f in files if f.name.endswith(".json")]
    assert len(datas) == len(sidecars) > 0
    meta = json.loads(sidecars[0].read_text())
    assert meta["content_hash"] in sidecars[0].name
    assert meta["_file_name"].endswith(".html")
    # payloads carry the extracted text
    assert any(f.read_text() for f in datas)


def test_db_sink_with_children_and_merge(spark, corpus, tmp_path_factory):
    root = tmp_path_factory.mktemp("dbruns")
    yaml_text = _yaml("""
  store:
    method: db
    params:
      table: pages
      unique: [url]
      children:
        - key: headings
          table_suffix: heads
          inherit: {page_url: url}
""")
    cfg = load_yaml(yaml_text)
    assert cfg.store_method == "db"
    store1 = RunStore(root, cfg.name, "r1")
    CrawlRunner(spark, cfg, store1).run(corpus, now_ts="2024-01-02 00:00:00")
    t1 = store1.read_shared(spark, "db_pages")
    n1 = t1.count()
    assert n1 > 50
    first = {str(r["__first_seen"]) for r in t1.select("__first_seen").collect()}
    assert first == {"2024-01-02 00:00:00"}
    # child table: one row per h1 heading with the inherited parent url
    heads = store1.read_shared(spark, "db_pages_heads")
    hrow = heads.first()
    assert hrow["value"].startswith("Doc ")
    assert hrow["page_url"].startswith("https://h")

    # second run: same pages → updated __last_seen, preserved
    # __first_seen, no duplicate rows (update-by-unique, db.py:16-19)
    store2 = RunStore(root, cfg.name, "r2")
    CrawlRunner(spark, cfg, store2).run(corpus, now_ts="2024-01-05 00:00:00")
    t2 = store2.read_shared(spark, "db_pages")
    assert t2.count() == n1
    row = t2.first()
    assert str(row["__first_seen"]) == "2024-01-02 00:00:00"
    assert str(row["__last_seen"]) == "2024-01-05 00:00:00"


def test_extract_stage_from_yaml(spark, tmp_path_factory):
    """`extract` configured in YAML (operations/extract.py:69-97):
    archive-mime fetches additionally unpack into the run's members
    table, wildcard-filtered."""
    import io
    import zipfile
    from datetime import datetime, timezone

    def make_zip(names):
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as zf:
            for n in names:
                zf.writestr(
                    zipfile.ZipInfo(n, date_time=(1980, 1, 1, 0, 0, 0)),
                    f"content of {n}",
                )
        return buf.getvalue()

    ts = datetime(2024, 1, 1, tzinfo=timezone.utc)
    rows = [
        ("https://z.example.com/a.zip", ts, make_zip(["x/1.txt", "x/2.dat"]),
         None, "en", "application/zip", 200, None),
        ("https://z.example.com/b.zip", ts, make_zip(["y/3.txt"]),
         None, "en", "application/zip", 200, None),
    ]
    corpus = spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, lang string,"
        " content_type string, status_code int, redirect_to string",
    )
    cfg = load_yaml("""
name: zips
max_rounds: 3
pipeline:
  init:
    method: seed
    params: {urls: ["https://z.example.com/a.zip", "https://z.example.com/b.zip"]}
    handle: {pass: fetch}
  fetch:
    method: fetch
    handle: {pass: unpack}
  unpack:
    method: extract
    params: {wildcard: "*.txt"}
    handle: {pass: parse}
  parse:
    method: parse
    handle: {store: store}
  store:
    method: db
""")
    assert cfg.extract_enabled and cfg.extract_wildcard == "*.txt"
    store = RunStore(tmp_path_factory.mktemp("zipruns"), cfg.name, "r1")
    CrawlRunner(spark, cfg, store).run(corpus)
    members = store.read_all(spark, "members", 5)
    got = {
        (r["url"], r["file_name"]): bytes(r["content"]).decode()
        for r in members.collect()
    }
    assert got == {
        ("https://z.example.com/a.zip", "x/1.txt"): "content of x/1.txt",
        ("https://z.example.com/b.zip", "y/3.txt"): "content of y/3.txt",
    }


def test_aggregator_fires_after_drain(spark, corpus, tmp_path_factory):
    out = tmp_path_factory.mktemp("agg") / "export"
    cfg = load_yaml(_yaml("""
  store:
    method: db
    params: {table: pages, unique: [url]}
""", extra=f"aggregator: {{method: export_json, params: {{path: {out}}}}}"))
    store = RunStore(tmp_path_factory.mktemp("aggruns"), cfg.name, "r1")
    res = CrawlRunner(spark, cfg, store).run(corpus)
    exported = spark.read.json(str(out))
    assert exported.count() == res.pages_stored


def test_aggregator_module_function_latebind(spark, corpus, tmp_path_factory):
    """Any ``module:function`` aggregator resolves via importlib at
    fire time (crawler.py:66-81); unresolvable methods raise the
    reference's Unknown-method error."""
    out = tmp_path_factory.mktemp("agg2") / "count.txt"
    cfg = load_yaml(_yaml("""
  store:
    method: db
    params: {table: pages2, unique: [url]}
""", extra=(
        "aggregator: {method: 'tests.helpers_agg:count_to_file', "
        f"params: {{path: {out}}}}}"
    )))
    store = RunStore(tmp_path_factory.mktemp("aggruns2"), cfg.name, "r1")
    res = CrawlRunner(spark, cfg, store).run(corpus)
    assert int(out.read_text()) == res.pages_stored > 0

    from memorious_spark.operators.sinks import run_aggregator

    with pytest.raises(ValueError, match="Unknown method"):
        run_aggregator(
            spark, store, {"method": "tests.helpers_agg:nope"}, None
        )
    with pytest.raises(ValueError, match="unknown aggregator"):
        run_aggregator(spark, store, {"method": "no_colon_here"}, None)

def test_upsert_shared_delta_and_compaction(spark, tmp_path):
    """The O(batch) sink scheme: each run appends ONE stamped delta
    (no full-table rewrite), read_shared resolves the stack to exactly
    merge_upsert's contract, and minor compaction folds the deltas
    into a single base without changing the resolved view."""
    from memorious_spark.operators.sinks import merge_upsert
    from memorious_spark.plans.storage import RunStore

    store = RunStore(tmp_path, "lsm", "r1")
    b1 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    b2 = spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string")
    b3 = spark.createDataFrame([(1, "A2")], "k int, v string")
    store.upsert_shared(spark, "db_t", b1, ["k"], "2024-01-01 00:00:00")
    store.upsert_shared(spark, "db_t", b2, ["k"], "2024-02-01 00:00:00")
    store.upsert_shared(spark, "db_t", b3, ["k"], "2024-03-01 00:00:00")

    # three deltas on disk — each run wrote O(batch), never the table
    deltas = sorted(
        d.name for d in (store.shared_path("db_t")).glob("delta=*")
    )
    assert deltas == ["delta=0", "delta=1", "delta=2"]

    # resolved view == the sequential merge_upsert twin
    want = merge_upsert(
        merge_upsert(
            merge_upsert(None, b1, ["k"], "2024-01-01 00:00:00"),
            b2, ["k"], "2024-02-01 00:00:00",
        ),
        b3, ["k"], "2024-03-01 00:00:00",
    )
    cols = ["k", "v", "__first_seen", "__last_seen"]
    as_rows = lambda df: sorted(  # noqa: E731
        tuple(map(str, (r[c] for c in cols))) for r in df.collect()
    )
    got = store.read_shared(spark, "db_t")
    assert as_rows(got) == as_rows(want)

    # compaction folds to ONE dir; resolved view unchanged
    store.compact_shared(spark, "db_t")
    deltas2 = sorted(
        d.name for d in (store.shared_path("db_t")).glob("delta=*")
    )
    assert deltas2 == ["delta=3"]
    assert as_rows(store.read_shared(spark, "db_t")) == as_rows(want)

    # upserts after compaction keep working
    store.upsert_shared(
        spark, "db_t",
        spark.createDataFrame([(3, "C")], "k int, v string"),
        ["k"], "2024-04-01 00:00:00",
    )
    rows = {r["k"]: r for r in store.read_shared(spark, "db_t").collect()}
    assert rows[3]["v"] == "C" and str(rows[3]["__first_seen"]).startswith(
        "2024-02-01"
    )
    # auto minor-compact engages past compact_after
    for i in range(9):
        store.upsert_shared(
            spark, "db_t",
            spark.createDataFrame([(10 + i, "x")], "k int, v string"),
            ["k"], "2024-05-01 00:00:00", compact_after=4,
        )
    n_dirs = len(list((store.shared_path("db_t")).glob("delta=*")))
    assert n_dirs <= 5, n_dirs


def test_compaction_crash_recovery(spark, tmp_path):
    """The two compaction crash windows, decided by the ``_SUCCESS``
    job-commit marker: a partial ``__new`` (no marker) is dropped and
    the live deltas stay authoritative; a COMPLETE ``__new`` with the
    old deltas only partially removed is rolled FORWARD — the old rule
    (act only at zero live deltas) would have silently lost every key
    whose rows lived in the already-removed delta prefix."""
    import shutil

    from pyspark.sql import functions as F

    from memorious_spark.plans.storage import RunStore

    store = RunStore(tmp_path, "lsm", "r1")
    b1 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    b2 = spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string")
    b3 = spark.createDataFrame([(1, "A2")], "k int, v string")
    store.upsert_shared(spark, "db_t", b1, ["k"], "2024-01-01 00:00:00")
    store.upsert_shared(spark, "db_t", b2, ["k"], "2024-02-01 00:00:00")
    store.upsert_shared(spark, "db_t", b3, ["k"], "2024-03-01 00:00:00")
    p = store.shared_path("db_t")
    want = sorted(
        (r["k"], r["v"]) for r in store.read_shared(spark, "db_t").collect()
    )
    assert want == [(1, "A2"), (2, "B"), (3, "c")]

    # -- crash DURING the resolved write: partial __new, no _SUCCESS --
    junk = p / "delta=3__new"
    junk.mkdir()
    (junk / "part-00000.parquet").write_bytes(b"not parquet")
    got = sorted(
        (r["k"], r["v"]) for r in store.read_shared(spark, "db_t").collect()
    )
    assert got == want
    assert not junk.exists()  # partial dir swept
    assert [d.name for d in sorted(p.glob("delta=*"))] == [
        "delta=0", "delta=1", "delta=2",
    ]

    # -- crash DURING remove-old: complete __new + suffix of old ------
    resolved = store._read_resolved(spark, "db_t").withColumn(
        "__v", F.lit(3)
    )
    resolved.write.mode("overwrite").parquet(str(p / "delta=3__new"))
    assert (p / "delta=3__new" / "_SUCCESS").exists()  # marker premise
    shutil.rmtree(p / "delta=0")  # the prefix the crash already removed
    got = sorted(
        (r["k"], r["v"]) for r in store.read_shared(spark, "db_t").collect()
    )
    assert got == want  # key 1 lived in delta=0 — rolled forward, not lost
    assert [d.name for d in sorted(p.glob("delta=*"))] == ["delta=3"]

    # vacuum_shared sweeps tables a resumed run never touches
    q = store.shared_path("db_q")
    store.upsert_shared(
        spark, "db_q",
        spark.createDataFrame([(1, "z")], "k int, v string"),
        ["k"], "2024-01-01 00:00:00",
    )
    junk2 = q / "delta=9__new"
    junk2.mkdir()
    store.vacuum_shared()
    assert not junk2.exists()
    assert sorted(
        (r["k"], r["v"]) for r in store.read_shared(spark, "db_q").collect()
    ) == [(1, "z")]
