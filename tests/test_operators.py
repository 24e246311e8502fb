"""Unit tests for initializers, sinks, dedup, textops, similarity,
extract, multimodal, checks — mirroring the emit-count/payload
assertions of the reference's test_operations.py."""

import pytest
from pyspark.sql import functions as F

from memorious_spark.functions import checks, textops
from memorious_spark.operators import dedup, similarity
from memorious_spark.operators.extract import extract_members, extract_stage
from memorious_spark.operators.frontier import politeness_dequeue
from memorious_spark.operators.initializers import (
    dates, enumerate_items, seed, sequence,
)
from memorious_spark.operators.multimodal import (
    attach_media_meta, extract_features, fake_image_features,
)
from memorious_spark.operators.seen import dedup_new
from memorious_spark.operators.sinks import directory_sink, merge_upsert


# ---- initializers (reference test_operations.py:95-149 semantics) ----

def test_seed_templating(spark):
    df = seed(spark, ["http://x.com/%(n)s"], {"n": 5})
    assert [r["url"] for r in df.collect()] == ["http://x.com/5"]


def test_sequence_counts(spark):
    assert sequence(spark, 1, 10, 1).count() == 9
    assert [r["number"] for r in sequence(spark, 0, 10, 3).collect()] == [0, 3, 6, 9]


def test_dates_backwards(spark):
    rows = dates(spark, "2024-01-01", "2024-01-10", days=3).collect()
    isos = [r["date_iso"] for r in rows]
    assert isos == ["2024-01-10", "2024-01-07", "2024-01-04", "2024-01-01"]


def test_enumerate(spark):
    assert enumerate_items(spark, ["a", "b"]).count() == 2


# ---- politeness carryover ------------------------------------------------

def test_politeness_carryover_fifo(spark):
    rows = [(f"u{i}", "hostA" if i < 8 else "hostB", 0.0, i) for i in range(10)]
    frontier = spark.createDataFrame(
        rows, "url string, host string, priority double, emit_seq long"
    )
    sel, carry = politeness_dequeue(frontier, budget=3)
    sel_rows = sel.collect()
    assert sum(1 for r in sel_rows if r["host"] == "hostA") == 3
    assert sum(1 for r in sel_rows if r["host"] == "hostB") == 2
    # FIFO within host: the 3 selected hostA rows are the lowest emit_seq
    a_sel = sorted(r["emit_seq"] for r in sel_rows if r["host"] == "hostA")
    assert a_sel == [0, 1, 2]
    assert carry.count() == 5


def test_politeness_domain_grouping(spark):
    """group='domain': subdomain farms share ONE budget (here 3 for
    all of *.blogspot.com) while host mode would grant 3 each; FIFO
    order across the whole domain group; unknown group rejected."""
    import pytest as _pytest

    rows = [
        (f"https://s{i}.blogspot.com/p", f"s{i % 4}.blogspot.com", 0.0, i)
        for i in range(12)
    ] + [("https://other.com/x", "other.com", 0.0, 100)]
    frontier = spark.createDataFrame(
        rows, "url string, host string, priority double, emit_seq long"
    )
    sel, carry = politeness_dequeue(frontier, budget=3, group="domain")
    sel_rows = sel.collect()
    blog = [r for r in sel_rows if r["host"].endswith("blogspot.com")]
    assert len(blog) == 3
    assert sorted(r["emit_seq"] for r in blog) == [0, 1, 2]
    assert any(r["host"] == "other.com" for r in sel_rows)
    assert carry.count() == 9
    # host mode on the same frontier: 3 per HOST -> all 12 selected
    sel_h, _ = politeness_dequeue(frontier, budget=3, group="host")
    assert sel_h.count() == 13
    with _pytest.raises(ValueError, match="unknown group"):
        politeness_dequeue(frontier, budget=3, group="tld")


def test_politeness_robots_gate(spark):
    frontier = spark.createDataFrame(
        [
            ("https://a.com/private/x", "a.com", 0.0, 0),
            ("https://a.com/pub/y", "a.com", 0.0, 1),
            ("https://b.com/z", "b.com", 0.0, 2),
        ],
        "url string, host string, priority double, emit_seq long",
    )
    robots = spark.createDataFrame(
        [("a.com", ["/private"], 10)],
        "host string, disallow_prefixes array<string>, crawl_delay_budget int",
    )
    sel, carry = politeness_dequeue(frontier, budget=10, robots=robots)
    urls = {r["url"] for r in sel.collect()} | {r["url"] for r in carry.collect()}
    assert "https://a.com/private/x" not in urls
    assert "https://a.com/pub/y" in urls and "https://b.com/z" in urls


# ---- seen-set --------------------------------------------------------------

def test_dedup_new_exact(spark):
    cands = spark.range(1000).select(F.col("id").alias("url_hash"))
    seen = spark.range(0, 1000, 2).select(F.col("id").alias("url_hash"))
    out = dedup_new(cands, seen, seen_count=10_000_000)
    got = sorted(r["url_hash"] for r in out.collect())
    assert got == list(range(1, 1000, 2))


def _cuckoo_tables(filt):
    """The executor-resident shard tables, collected: {shard: (nb, 4)}."""
    import numpy as np

    from memorious_spark.operators.cuckoo import _BUCKET

    return {
        r["shard"]: np.frombuffer(r["tbl"], dtype=np.uint16).reshape(
            filt.nb, _BUCKET
        )
        for r in filt.df.select("shard", "tbl").collect()
    }


def _cuckoo_contains(filt, hv):
    """Membership of uint64 hashes, routed on the numpy side."""
    import numpy as np

    from memorious_spark.operators.cuckoo import _contains

    sid = (hv & np.uint64(filt.shards - 1)).astype(np.int64)
    out = np.zeros(len(hv), dtype=bool)
    for s, t in _cuckoo_tables(filt).items():
        m = sid == s
        out[m] = _contains(t, hv[m])
    return out


def test_dedup_new_cuckoo_path(spark):
    """Forced cuckoo prefilter == plain anti-join (exactness survives
    the probe), including after incremental insert AND delete — the
    capability a bloom filter lacks."""
    import numpy as np

    from memorious_spark.operators.cuckoo import build_cuckoo, delete_cuckoo
    from memorious_spark.operators.sharded_filter import update_sharded_cuckoo

    seen0 = spark.range(0, 1000, 2).select(F.col("id").alias("url_hash"))
    filt = build_cuckoo(seen0, "url_hash", expected=4000, n_shards=4)
    tables = _cuckoo_tables(filt)
    used = sum(int((t != 0).sum()) for t in tables.values())
    assert 0 < used / (filt.shards * filt.nb * 4) < 1  # fill ratio
    cands = spark.range(1000).select(F.col("id").alias("url_hash"))
    out = dedup_new(cands, seen0, cuckoo=filt)
    assert sorted(r["url_hash"] for r in out.collect()) == list(
        range(1, 1000, 2)
    )

    # incremental insert of a later round's additions
    add = spark.range(5000, 5100).select(F.col("id").alias("url_hash"))
    filt = update_sharded_cuckoo(filt, add)
    seen_all = seen0.unionByName(add)
    cands2 = cands.unionByName(
        spark.range(5000, 5200).select(F.col("id").alias("url_hash"))
    )
    out2 = dedup_new(cands2, seen_all, cuckoo=filt)
    assert sorted(r["url_hash"] for r in out2.collect()) == list(
        range(1, 1000, 2)
    ) + list(range(5100, 5200))

    # EXPIRY: remove hashes 0..498 from filter AND exact side — the
    # re-crawlable URLs come back without any rebuild
    expired = spark.range(0, 500, 2).select(F.col("id").alias("url_hash"))
    removed = delete_cuckoo(filt, expired)
    assert removed == 250
    live = spark.range(500, 1000, 2).select(
        F.col("id").alias("url_hash")
    ).unionByName(add)
    out3 = dedup_new(cands, live, cuckoo=filt)
    assert sorted(r["url_hash"] for r in out3.collect()) == sorted(
        list(range(1, 1000, 2)) + list(range(0, 500, 2))
    )
    # deleted keys genuinely left the filter (prefilter stays tight
    # modulo the ~1e-4 false-positive floor)
    hv = np.arange(0, 500, 2, dtype="uint64")
    assert _cuckoo_contains(filt, hv).mean() < 0.05
    filt.df.unpersist()


def test_cuckoo_overfull_fails_loud(spark):
    from memorious_spark.operators.cuckoo import build_cuckoo

    big = spark.range(3000).select(F.col("id").alias("url_hash"))
    with pytest.raises(Exception, match="over-full"):
        # expected=64 at 4 shards sizes each shard for ~16 keys;
        # 3000 keys cannot fit — must raise, never silently drop
        build_cuckoo(big, "url_hash", expected=64, n_shards=4)


def test_cuckoo_negative_hash_routing(spark):
    """xxhash64 is SIGNED in Spark — the JVM shard id (low-bit mask)
    must agree with numpy's uint64 routing or probes read the wrong
    shard."""
    from memorious_spark.operators.cuckoo import build_cuckoo

    df = spark.range(2000).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash")
    )
    hv = __import__("numpy").array(
        [r["url_hash"] for r in df.collect()], dtype="int64"
    ).astype("uint64")
    filt = build_cuckoo(df, "url_hash", expected=8000, n_shards=8)
    assert bool(_cuckoo_contains(filt, hv).all())  # no false negatives, ever
    assert dedup_new(df, df, cuckoo=filt).count() == 0
    filt.df.unpersist()


# ---- sinks ------------------------------------------------------------------

def test_merge_upsert_first_last_seen(spark):
    existing = spark.createDataFrame(
        [(1, "a"), (2, "b")], "k int, v string"
    ).withColumn("__first_seen", F.to_timestamp(F.lit("2024-01-01"))).withColumn(
        "__last_seen", F.to_timestamp(F.lit("2024-01-01"))
    )
    batch = spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string")
    out = merge_upsert(existing, batch, ["k"], now="2024-02-01")
    rows = {r["k"]: r for r in out.collect()}
    assert rows[1]["v"] == "a" and str(rows[1]["__last_seen"]) == "2024-01-01 00:00:00"
    assert rows[2]["v"] == "B" and str(rows[2]["__last_seen"]) == "2024-02-01 00:00:00"
    assert str(rows[2]["__first_seen"]) == "2024-01-01 00:00:00"
    assert rows[3]["v"] == "c" and str(rows[3]["__first_seen"]) == "2024-02-01 00:00:00"


def test_directory_sink(spark, tmp_path):
    df = spark.createDataFrame(
        [
            ("http://x/1", "hash1", "text/html", "text one"),
            ("http://x/2", "hash2", "application/pdf", "two"),
        ],
        "url string, content_hash string, content_type string, text string",
    )
    directory_sink(df, str(tmp_path), "mycrawler")
    data = (tmp_path / "mycrawler" / "hash1.data.html").read_text()
    assert data == "text one"
    assert (tmp_path / "mycrawler" / "hash2.data.pdf").exists()
    import json

    meta = json.loads((tmp_path / "mycrawler" / "hash1.json").read_text())
    assert meta["url"] == "http://x/1" and "text" not in meta
    assert meta["_file_name"] == "hash1.data.html"


# ---- dedup family ------------------------------------------------------------

@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog today"),
        (1, "the quick brown fox jumps over the lazy dog today"),  # exact dup of 0
        (2, "the quick brown fox jumps over the lazy cat today"),  # near dup
        (3, "completely different words appear in this document here"),
        (4, "another unrelated text with its own set of tokens"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    out = {r["doc_id"]: r["dup_count"] for r in dedup.exact_dedup(docs).collect()}
    assert out[0] == 2  # 0 and 1 collapse, min id kept
    assert 1 not in out and out[2] == 1


def test_minhash_and_jaccard_find_near_dups(docs):
    mh = {
        (r["id_a"], r["id_b"]) for r in dedup.minhash_lsh_pairs(docs).collect()
    }
    assert (0, 1) in mh  # exact dups always collide
    jc = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert jc[(0, 1)] == 1.0
    assert 0.5 <= jc[(0, 2)] < 1.0
    assert (0, 3) not in jc


def test_simhash_pairs(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_pairs(docs).collect()
    }
    assert pairs[(0, 1)] == 0  # identical text → identical signature
    # the hamming threshold actually filters: every returned pair ≤ 3
    assert all(h <= 3 for h in pairs.values())
    # unrelated docs (large hamming) are NOT in the result
    assert (0, 3) not in pairs and (3, 4) not in pairs


def test_simhash_signature_is_jvm_side(docs):
    from tests.test_plans import _plan

    plan = _plan(dedup.simhash_pairs(docs))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ngram_df_cap_drops_hot_shingle(spark):
    # 10 docs all share one boilerplate shingle; pairs supported only
    # by it disappear under the cap, truly-similar pairs survive
    rows = [(i, f"common boiler plate unique{i} words here") for i in range(10)]
    rows += [(100, "alpha beta gamma delta eps"), (101, "alpha beta gamma delta zeta")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    stats = {}
    capped = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs(
            df, threshold=0.3, max_df=5, stats=stats
        ).collect()
    }
    assert (100, 101) in capped
    assert not any(a < 100 and b < 100 for a, b in capped)
    # NO SILENT CAP: the drop is surfaced — exactly the one boilerplate
    # shingle ('common boiler plate'), present in all 10 docs
    assert stats == {"dropped_shingles": 1, "dropped_postings": 10}


def test_embedding_lsh_pairs_match_exact_on_near_dups(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.1, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    lsh = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_dup_pairs_lsh(
            emb, dim=4, threshold=0.9
        ).collect()
    }
    # identical-direction vectors share every band bucket → always found
    assert lsh == {(0, 1)}


def test_bmp_and_ppm_decode_real_pixels():
    import struct

    import numpy as np

    from memorious_spark.operators.multimodal import decode_image, image_features

    W, H = 3, 2
    row_size = ((24 * W + 31) // 32) * 4
    px = bytes([10, 20, 30]) * W + b"\x00" * (row_size - 3 * W)  # BGR
    data = px * H
    bmp = (
        b"BM" + struct.pack("<IHHI", 54 + len(data), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, W, H, 1, 24, 0, len(data),
                      2835, 2835, 0, 0) + data
    )
    img = decode_image(bmp)
    assert img.shape == (H, W, 3)
    assert (img[0, 0] == np.array([30, 20, 10])).all()  # RGB order
    feats = image_features(bmp)
    assert feats[7] == 1.0 and abs(feats[2] - 30 / 255) < 1e-9

    ppm = b"P6\n3 2\n255\n" + bytes([1, 2, 3]) * 6
    img2 = decode_image(ppm)
    assert img2.shape == (2, 3, 3) and (img2[1, 2] == np.array([1, 2, 3])).all()

    # non-image bytes fall back to the md5 stand-in, never crash
    feats3 = image_features(b"BMnot really a bitmap")
    assert len(feats3) == 8 and feats3[7] != 1.0


def test_sequence_tag_once_only(spark, tmp_path):
    from memorious_spark.operators.initializers import sequence
    from memorious_spark.plans.storage import RunStore

    store = RunStore(tmp_path, "seqc", "r1")
    first = sequence(spark, 0, 10, 1, tag="pages", store=store)
    assert sorted(r["number"] for r in first.collect()) == list(range(10))
    # overlapping second run only yields the unseen numbers
    second = sequence(spark, 5, 15, 1, tag="pages", store=store)
    assert sorted(r["number"] for r in second.collect()) == list(range(10, 15))


def test_tags_membership_and_newest_value(spark, tmp_path):
    """set_tag / check_tag / get_tag (context.py:114-125) over the
    shared tags table: two writes at two clocks, membership for exactly
    the written keys, and the newer write's value wins."""
    from memorious_spark.operators import tags as T
    from memorious_spark.plans.storage import RunStore

    store = RunStore(tmp_path, "tagc", "r1")
    first = spark.createDataFrame([("a", "1"), ("b", "1")], "key string, v string")
    second = spark.createDataFrame([("b", "2"), ("c", "2")], "key string, v string")
    T.set_tags(store, first, "tagc", "t", value_col="v", run_id="r1",
               now_ts="2024-01-01 00:00:00")
    T.set_tags(store, second, "tagc", "t", value_col="v", run_id="r2",
               now_ts="2024-02-01 00:00:00")
    keys = spark.createDataFrame([("a",), ("b",), ("c",), ("d",)], "key string")
    out = T.get_tags(spark, store, T.check_tags(spark, store, keys, "tagc", "t"),
                     "tagc", "t")
    got = {r["key"]: (r["tagged"], r["tag_value"]) for r in out.collect()}
    assert got == {
        "a": (True, "1"), "b": (True, "2"), "c": (True, "2"), "d": (False, None),
    }


def test_meta_date_normalizes_in_parse(spark):
    from memorious_spark.plans.pipeline import load_config

    cfg = load_config({
        "name": "md",
        "pipeline": {
            "init": {"method": "seed", "params": {"urls": ["https://a/"]},
                     "handle": {"pass": "parse"}},
            "parse": {"method": "parse",
                      "params": {"meta_date": {"published": ".//time"}}},
        },
        "init": "init",
    })
    assert cfg.parse.meta_dates == ("published",)
    from memorious_spark.functions.htmlkit import extract_meta, parse_html

    root = parse_html("<html><body><time>[2024-02-03]</time></body></html>")
    meta = extract_meta(root, dict(cfg.parse.meta), cfg.parse.meta_dates)
    assert meta["published"] == "2024-02-03T00:00:00"


def test_make_id_is_sha1_of_make_key(spark):
    import hashlib

    from memorious_spark.functions.keys import make_id, make_key

    df = spark.createDataFrame([("crawler", "GERMANY")], "a string, b string")
    row = df.select(
        make_key(F.col("a"), F.col("b")).alias("k"),
        make_id(F.col("a"), F.col("b")).alias("i"),
    ).first()
    assert row["k"] == "crawler:GERMANY"
    assert row["i"] == hashlib.sha1(b"crawler:GERMANY").hexdigest()


def test_embedding_dup_and_knn(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.99, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    dups = {
        (r["id_a"], r["id_b"]) for r in dedup.embedding_dup_pairs(emb, threshold=0.9).collect()
    }
    assert dups == {(0, 1)}
    knn = similarity.knn_brute_force(emb, [1.0, 0.0, 0.0], k=2).collect()
    assert [r["vec_id"] for r in knn] == [0, 1]
    ann = similarity.knn_lsh(emb, [1.0, 0.0, 0.0], k=2, n_planes=2).collect()
    assert 0 in [r["vec_id"] for r in ann]  # query's own bucket contains it


def test_dedup_components_min_label(spark):
    """Transitive near-dup clustering: component id = min id of the
    cluster, chains collapse, singletons absent from pairs are absent
    from output (they are their own representative by definition)."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 9), (9, 10), (3, 20)],
        "id_a long, id_b long",
    )
    out = {
        r["id"]: r["component"]
        for r in dedup.dedup_components(pairs).collect()
    }
    assert out == {
        1: 1, 2: 1, 3: 1, 20: 1,
        5: 5, 6: 5,
        8: 8, 9: 8, 10: 8,
    }


def test_ivf_full_probe_is_exact(spark):
    import math

    rows = [
        (i, [math.sin(0.3 * i + d) + 0.01 * ((i + d) % 7) for d in range(4)])
        for i in range(30)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # probing ALL centroids makes IVF exact — must equal brute force
    q = rows[7][1]
    ivf_all = similarity.knn_ivf(
        emb, q, k=5, n_centroids=2, nprobe=2, spacing=3
    ).collect()
    brute = similarity.knn_brute_force(emb, q, k=5).collect()
    assert [(r["vec_id"], r["cosine"]) for r in ivf_all] == [
        (r["vec_id"], r["cosine"]) for r in brute
    ]
    # single-probe returns the query's own bucket (contains vec 7)
    ivf_one = similarity.knn_ivf(
        emb, q, k=5, n_centroids=2, nprobe=1, spacing=3
    ).collect()
    assert 7 in [r["vec_id"] for r in ivf_one]


def test_knn_lsh_multiprobe_recall(spark):
    """Hamming-1 multiprobe dominates single-probe recall vs brute
    force: deterministic vector cloud, same planes, recall@k ordering
    must hold (and multiprobe scans planes+1 buckets, a strict
    superset of the single probe's candidate set)."""
    import math

    n_planes, k = 6, 10
    rows = [
        (
            i,
            [
                math.sin(0.1 * i + 0.7 * d) + 0.05 * ((i * 31 + d * 17) % 13 - 6)
                for d in range(8)
            ],
        )
        for i in range(300)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = rows[42][1]
    truth = {
        r["vec_id"]
        for r in similarity.knn_brute_force(emb, q, k=k).collect()
    }
    single = {
        r["vec_id"]
        for r in similarity.knn_lsh(
            emb, q, k=k, n_planes=n_planes, multiprobe=False
        ).collect()
    }
    multi = {
        r["vec_id"]
        for r in similarity.knn_lsh(emb, q, k=k, n_planes=n_planes).collect()
    }
    probes = similarity.query_probe_buckets(q, n_planes)
    assert len(probes) == n_planes + 1 and len(set(probes)) == len(probes)
    assert len(multi & truth) >= len(single & truth)
    # the query itself plus a healthy share of true neighbors
    assert 42 in multi
    assert len(multi & truth) >= k // 2


# ---- textops -------------------------------------------------------------------

def test_textops(spark):
    df = spark.createDataFrame(
        [("the cat and the dog of the house",)], "text string"
    )
    row = df.select(
        textops.token_count(F.col("text")).alias("n"),
        textops.lang_guess(F.col("text")).alias("lang"),
        textops.fingerprint(F.col("text")).alias("fp"),
        F.round(textops.alpha_ratio(F.col("text")), 6).alias("alpha"),
    ).first()
    assert row["n"] == 8
    assert row["lang"] == "en"
    import hashlib

    assert row["fp"] == hashlib.md5(b"the cat and the dog of the house").hexdigest()
    assert 0 < row["alpha"] < 1


# ---- archives -------------------------------------------------------------------

def test_extract_zip_and_tar(spark):
    import io
    import tarfile
    import zipfile

    zbuf = io.BytesIO()
    with zipfile.ZipFile(zbuf, "w") as zf:
        zf.writestr("a/1.txt", "one")
        zf.writestr("b/2.txt", "two")
    tbuf = io.BytesIO()
    with tarfile.open(fileobj=tbuf, mode="w:gz") as tf:
        data = b"three"
        info = tarfile.TarInfo("c/3.txt")
        info.size = len(data)
        tf.addfile(info, io.BytesIO(data))

    assert [m["file_name"] for m in extract_members(zbuf.getvalue())] == [
        "a/1.txt", "b/2.txt",
    ]
    assert extract_members(zbuf.getvalue(), wildcard="a/*")[0]["file_name"] == "a/1.txt"
    assert extract_members(tbuf.getvalue())[0]["content"] == b"three"
    assert extract_members(b"not an archive") == []

    df = spark.createDataFrame(
        [(1, zbuf.getvalue()), (2, tbuf.getvalue())], "id long, payload binary"
    )
    out = extract_stage(df).collect()
    assert len(out) == 3
    assert {r["file_name"] for r in out} == {"a/1.txt", "b/2.txt", "c/3.txt"}


# ---- multimodal -----------------------------------------------------------------

def test_multimodal_plumbing(spark):
    df = spark.createDataFrame(
        [(1, b"imagebytes"), (2, None)], "media_id long, payload binary"
    )
    out = extract_features(attach_media_meta(df)).collect()
    by_id = {r["media_id"]: r for r in out}
    assert by_id[1]["features"] == fake_image_features(b"imagebytes")
    assert by_id[2]["features"] == [0.0] * 8
    assert by_id[1]["n_bytes"] == 10 and by_id[1]["content_hash"] is not None
    from memorious_spark.operators.multimodal import decode_image

    with pytest.raises(NotImplementedError):
        decode_image(b"x")


# ---- checks ---------------------------------------------------------------------

def test_checks(spark):
    df = spark.createDataFrame([("ab",), ("",)], "b string")
    got = df.select(checks.is_not_empty(F.col("b")).alias("ne")).collect()
    assert [r["ne"] for r in got] == [True, False]


def _nearest_code_reference(vecs, book):
    """Explicit Σ(x−c)² argmin over ``book``'s vectors, first
    occurrence on ties — the reference the numpy kernel must match."""
    out = []
    for x in vecs:
        d = [sum((a - b) ** 2 for a, b in zip(x, c)) for c in book]
        out.append(d.index(min(d)))
    return out


def test_ivf_assignment_paths_agree(spark):
    """The nearest_codes kernel (‖c‖² − 2x·c argmin) assigns every
    vector to the same cell as an explicit Σ(x−c)² argmin with the
    lowest-cid tie rule."""
    import math

    rows = [
        (i, [math.sin(0.3 * i + d) + 0.01 * ((i + d) % 7) for d in range(4)])
        for i in range(40)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = similarity.ivf_seed_centroids(emb, n_centroids=4, spacing=3)
    got = emb.select(
        "vec_id",
        "embedding",
        similarity.nearest_codes(F.col("embedding"), [cents])[0].alias("_b"),
    ).orderBy("vec_id").collect()
    want = _nearest_code_reference(
        [list(r["embedding"]) for r in got], [c for _cid, c in cents]
    )
    assert [r["_b"] for r in got] == want


def test_pq_encode_hand_math_and_paths_agree(spark):
    """PQ encode on a hand-checkable fixture (dim 4, m=2, 2 codes):
    codes = per-subspace argmin vs the strided seed slices, lowest
    code wins ties; the kernel agrees with the explicit Σ(x−c)²
    reference per subspace."""
    from pyspark.sql import functions as F

    # seeds (spacing=1): vec 0 = [0,0, 10,10], vec 1 = [4,4, 0,0]
    rows = [
        (0, [0.0, 0.0, 10.0, 10.0]),
        (1, [4.0, 4.0, 0.0, 0.0]),
        (2, [3.9, 3.9, 9.0, 9.0]),   # sub0 -> code 1, sub1 -> code 0
        (3, [0.1, 0.1, 0.1, 0.0]),   # sub0 -> code 0, sub1 -> code 1
        (4, [2.0, 2.0, 5.0, 5.0]),   # sub0: tie -> code 0; sub1 -> code 0
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    books = similarity.pq_seed_codebooks(emb, m=2, n_codes=2, spacing=1)
    assert books[0] == [(0, [0.0, 0.0]), (1, [4.0, 4.0])]
    got = {
        r["vec_id"]: list(r["c"])
        for r in emb.select(
            "vec_id",
            similarity.nearest_codes(F.col("embedding"), books).alias("c"),
        ).collect()
    }
    assert got == {0: [0, 0], 1: [1, 1], 2: [1, 0], 3: [0, 1], 4: [0, 0]}
    for j, book in enumerate(books):
        want = _nearest_code_reference(
            [v[2 * j:2 * j + 2] for _i, v in rows], [c for _c, c in book]
        )
        assert [got[i][j] for i, _v in rows] == want


def test_knn_pq_full_refine_equals_brute_force(spark):
    """With k·refine covering the corpus the PQ candidate cut keeps
    everything, so the exact re-rank must equal brute force; with a
    tight refine the ADC scan still ranks the true neighbor first on
    well-separated data."""
    import math

    rows = [
        (
            i,
            [math.sin(0.7 * i + j * 0.3) for j in range(8)],
        )
        for i in range(24)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = rows[5][1]
    brute = [
        (r["vec_id"], r["cosine"])
        for r in similarity.knn_brute_force(emb, q, k=5).collect()
    ]
    full = [
        (r["vec_id"], r["cosine"])
        for r in similarity.knn_pq(
            emb, q, k=5, m=2, n_codes=4, spacing=3, refine=5,
        ).collect()
    ]
    assert full == brute
    tight = similarity.knn_pq(
        emb, q, k=3, m=2, n_codes=4, spacing=3, refine=2
    ).collect()
    assert tight[0]["vec_id"] == 5  # the query's own vector survives ADC


def test_corpus_dedup_normalize_collapses_unicode_twins(spark):
    """normalize_text_udf, then corpus_dedup: NFD vs NFC accents and
    NBSP vs space fingerprint together (the CCNet ordering); without
    the normalization the twins survive as distinct docs."""
    rows = [
        (0, "café au lait"),
        (1, "cafe\u0301\u00a0au lait"),   # NFD + NBSP twin of 0
        (2, "something else"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    plain = {
        r["doc_id"]: r["reason"]
        for r in dedup.corpus_dedup(docs).collect()
    }
    assert plain == {0: "kept", 1: "kept", 2: "kept"}
    norm = {
        r["doc_id"]: (r["canonical_id"], r["reason"])
        for r in dedup.corpus_dedup(
            docs.withColumn("text", textops.normalize_text_udf()("text"))
        ).collect()
    }
    assert norm[0] == (0, "kept")
    assert norm[1] == (0, "exact")
    assert norm[2] == (2, "kept")


def test_py_normalize_text_kernel():
    """NFC + enumerated Zs spaces + control strip — the pre-dedup
    canonical form; tab/newline survive, CR drops (CRLF -> LF)."""
    from memorious_spark.functions.textops import py_normalize_text as n

    assert n("café") == "café"
    assert n("a b c") == "a b c"
    assert n("xy\r\nz\tw") == "xy\nz\tw"
    assert n(None) is None
    assert n(" 　") == "  "


def test_knn_ivfpq_full_probe_full_refine_equals_brute(spark):
    """IVF+PQ composed: probing ALL cells with a corpus-covering
    refine keeps everything through both pruning layers, so the exact
    re-rank equals brute force; a tight (nprobe, refine) still ranks
    the query's own vector first."""
    import math

    rows = [
        (i, [math.sin(0.7 * i + j * 0.3) for j in range(8)])
        for i in range(24)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = rows[5][1]
    brute = [
        (r["vec_id"], r["cosine"])
        for r in similarity.knn_brute_force(emb, q, k=5).collect()
    ]
    full = [
        (r["vec_id"], r["cosine"])
        for r in similarity.knn_ivfpq(
            emb, q, k=5, n_centroids=4, nprobe=4, spacing=5,
            m=2, n_codes=4, pq_spacing=3, refine=5,
        ).collect()
    ]
    assert full == brute
    tight = similarity.knn_ivfpq(
        emb, q, k=3, n_centroids=4, nprobe=1, spacing=5,
        m=2, n_codes=4, pq_spacing=3, refine=2,
    ).collect()
    assert tight[0]["vec_id"] == 5


def test_knn_ivfpq_duplicate_seed_rows_fail_loud(spark):
    """A duplicated seed id must raise: the seed lookup would keep
    whichever duplicate row the collect returned last."""
    import math

    rows = [
        (i, [math.sin(0.7 * i + j * 0.3) for j in range(8)])
        for i in range(24)
    ]
    rows.append((5, [0.0] * 8))  # vec_id 5 is a coarse seed (spacing=5)
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="duplicate seed rows at ids \\[5\\]"):
        similarity.knn_ivfpq(
            emb, rows[5][1], k=3, n_centroids=4, nprobe=1, spacing=5,
            m=2, n_codes=4, pq_spacing=3, refine=2,
        )


def test_ivf_k256_full_probe_is_exact(spark):
    """K=256 cells: probing ALL of them is exact, so the result must
    equal brute force over the sf0.01 embeddings table."""
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.01")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 123).head()["embedding"]
    got = similarity.knn_ivf(
        emb, list(q), k=5, n_centroids=256, nprobe=256, spacing=1
    ).collect()
    brute = similarity.knn_brute_force(emb, list(q), k=5).collect()
    assert [(r["vec_id"], r["cosine"]) for r in got] == [
        (r["vec_id"], r["cosine"]) for r in brute
    ]


def test_ivf_missing_seed_row_fails_loud(spark):
    """A strided seed id absent from the table must raise — positions
    silently stopping to equal cids would probe the wrong lists."""
    emb = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(10) if i != 3],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="missing cids: \\[1\\]"):
        similarity.ivf_seed_centroids(emb, n_centroids=4, spacing=3)


def test_seed_template_percent_escape_and_bad_conversion(spark):
    """`%%(n)s` is an ESCAPED percent followed by literal text under
    Python's % operator — must render literal `%(n)s`, never
    substitute; unsupported conversions reject at compile time."""
    from memorious_spark.operators.initializers import template_col

    df = spark.range(1).select(F.lit(7).alias("n"))
    got = df.select(
        template_col(
            "http://x.com/100%%(n)s/%(n)d", {"n": F.col("n")}
        ).alias("url")
    ).head()["url"]
    assert got == "http://x.com/100%(n)s/7"
    with pytest.raises(ValueError, match="unsupported % conversion"):
        template_col("http://x.com/%(n)05d", {"n": F.col("n")})


def test_directory_sink_relative_path(spark, tmp_path, monkeypatch):
    """A scheme-less relative YAML `path` must work (resolved to an
    absolute file:// URI on the driver) — pyarrow's FileSystem.from_uri
    rejects relative paths with 'empty scheme' otherwise."""
    monkeypatch.chdir(tmp_path)
    df = spark.createDataFrame(
        [("http://x/1", "hr1", "text/html", "rel text")],
        "url string, content_hash string, content_type string, text string",
    )
    directory_sink(df, "relstore", "crawl")
    assert (tmp_path / "relstore" / "crawl" / "hr1.data.html").read_text() == (
        "rel text"
    )


def test_dedup_components_chain_logarithmic(spark):
    """A 512-node PATH graph (worst case for plain min-label
    propagation: O(diameter)=256 rounds) must converge in O(log n)
    star rounds and still label every node with the chain minimum.
    Every superseded round's checkpoint is released: the call leaves
    at most the three its result reads (edges, last labels, last star
    edges), compared by persistent-RDD id as in
    test_pack_token_shards_releases_its_cache."""
    import math

    n = 512
    pairs = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    stats = {}
    comp = dedup.dedup_components(pairs, stats=stats)
    rows = comp.collect()
    assert len(rows) == n
    assert all(r["component"] == 0 for r in rows)
    assert stats["iterations"] <= 3 * math.log2(n) + 5, stats
    assert len(set(jsc.getPersistentRDDs().keySet()) - before) <= 3


def test_lang_guess_twelve_languages(spark):
    """Accuracy over a synthetic multilingual corpus: one natural-ish
    sentence per language built from everyday function words — all 12
    marker languages must classify correctly, gibberish stays 'und'."""
    samples = [
        ("en", "the house is big and the garden is part of the town"),
        ("es", "el perro y la casa que los vecinos tienen es una maravilla"),
        ("de", "der hund und die katze sind nicht in das haus gegangen"),
        ("fr", "le chien et les chats sont des animaux et c'est est bien"),
        ("pt", "não vou para casa com uma pessoa para comprar mais coisas"),
        ("it", "il cane che corre per la strada della città sono contento"),
        ("nl", "ik heb het boek van een vriend en niet van de winkel"),
        ("ru", "я думаю что это не в первый раз и это хорошо"),
        ("pl", "nie wiem czy to jest dobre i czy się uda w tym roku"),
        ("tr", "bu bir deneme ve bunun için seninle ile gidiyorum"),
        ("sv", "det är en bok som jag läste på stranden och det var bra"),
        ("id", "buku yang saya baca di rumah dan dengan teman untuk belajar"),
        ("und", "zzz qqq xxx yyy www"),
    ]
    df = spark.createDataFrame(samples, "want string, text string")
    got = df.select(
        "want", textops.lang_guess(F.col("text")).alias("lang")
    ).collect()
    wrong = [(r["want"], r["lang"]) for r in got if r["lang"] != r["want"]]
    assert not wrong, wrong


def test_quality_gopher_and_c4(spark):
    """Gopher word/line rules + C4 line cleaning (functions/quality.py
    — Rae et al. 2021 §A1.1, Raffel et al. 2020 §2.2): each rule must
    reject exactly its own pathology and the cleaner must keep only
    punctuated ≥3-word unbanned lines."""
    from pyspark.sql import functions as F

    from memorious_spark.functions import quality as Q

    rows = [
        (0, "the cat sat on the mat and that was all of it with more words to be sure"),
        (1, "x" * 30),                      # mean word len 30 → reject
        (2, "## ## ## word word word"),     # symbol ratio 1.0 → reject
        (3, "short text"),                  # n_words < min → reject
        (4, "line one is fine.\n- bullet\nends with dots...\nline one is fine."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    wm = Q.word_metrics(F.col("text"))
    lm = Q.line_metrics(F.col("text"))
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            *[v.alias(k) for k, v in wm.items()],
            *[v.alias(k) for k, v in lm.items()],
            Q.gopher_keep(F.col("text"), min_words=5).alias("keep"),
            Q.c4_clean_lines(F.col("text")).alias("c4"),
        ).collect()
    }
    assert out[0]["keep"] and out[0]["stop_hits"] >= 2
    assert not out[1]["keep"] and out[1]["mean_word_len"] == 30.0
    assert not out[2]["keep"] and out[2]["symbol_word_ratio"] == 1.0
    assert not out[3]["keep"] and out[3]["n_words"] == 2
    # line metrics: 1 of 4 lines bulleted, 1 ellipsis-ended, the
    # duplicated "line one is fine." contributes its chars once
    assert out[4]["frac_bullet_lines"] == 0.25
    assert out[4]["frac_ellipsis_lines"] == 0.25
    assert out[4]["dup_line_char_frac"] > 0.2 and not out[4]["keep"]
    # C4: unpunctuated/bullet/short lines drop; dup punctuated lines stay
    assert out[4]["c4"] == "line one is fine.\nends with dots...\nline one is fine."
    assert out[0]["c4"] == ""  # no terminal punctuation anywhere


def test_quality_top_ngram(spark):
    """top_ngram_char_frac: occurrence-count approximation of the
    most-frequent-2-gram char fraction; ties break to the
    lexicographically largest gram (pinned for the SQL twin); docs
    with <n words are absent, never [0,-1]-sequence artifacts."""
    from memorious_spark.functions.quality import top_ngram_char_frac

    rows = [
        (0, "a b a b a"),      # "a b" ×2 (len 3) over 9 chars
        (1, "solo"),           # 1 word → absent
        (2, "x y"),            # single gram, frac 3/3
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in top_ngram_char_frac(df).collect()}
    assert set(got) == {0, 2}
    assert got[0]["top_gram"] == "b a"  # 2×"a b" ties 2×"b a" → lexic. max
    assert got[0]["top_gram_count"] == 2
    assert abs(got[0]["top_gram_char_frac"] - 2 * 3 / 9) < 1e-6
    assert got[2]["top_gram"] == "x y" and got[2]["top_gram_char_frac"] == 1.0


def test_curate_corpus_manifest_reasons(spark):
    """curate_corpus = quality gate -> exact -> near -> components in
    ONE call: every input doc appears exactly once in the manifest
    with reason kept/exact/near/low_quality, low-quality docs are cut
    BEFORE the dedup stages (they never become anyone's canonical),
    and near-dup chains resolve to the min surviving id."""
    from memorious_spark.functions import quality as Q

    base = ("the cat sat on the mat and then the dog ran over the "
            "hill to find the bone it had buried there last week")
    rows = [
        (1, base),                      # canonical of the near cluster
        (2, base + " again"),           # near-dup of 1 (high Jaccard)
        (3, base),                      # exact dup of 1
        (4, "short junk"),              # fails gopher gate -> low_quality
        (5, "a completely different document about spark shuffles and "
            "the partitioning of very large web corpora for training"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["canonical_id"], r["reason"])
        for r in dedup.curate_corpus(
            df,
            quality_filter=Q.gopher_keep(F.col("text"), min_words=10),
            n_perm=16, bands=4,
        ).collect()
    }
    assert set(out) == {1, 2, 3, 4, 5}
    assert out[1] == (1, "kept")
    assert out[2] == (1, "near")
    assert out[3] == (1, "exact")
    assert out[4] == (4, "low_quality")
    assert out[5] == (5, "kept")


def test_bpe_token_count_pretokenizer_semantics(spark):
    """bpe_token_count = GPT-2 pre-tokenizer segment count: leading
    space folds into the word token, contractions split ('s 't 'll),
    digit runs and punctuation runs are their own tokens, unicode
    letters count via \\p{L}."""
    rows = [
        (0, "Hello world"),            # Hello | _world
        (1, "it's can't we'll"),       # it|'s|_can|'t|_we|'ll
        (2, "a  b"),                   # a | (ws) | _b
        (3, "x123 y!!"),               # x|123|_y|!!
        (4, "héllo wörld"),            # héllo | _wörld
        (5, ""),                       # no tokens
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["n"]
        for r in df.select(
            "doc_id", textops.bpe_token_count(F.col("text")).alias("n")
        ).collect()
    }
    assert got == {0: 2, 1: 6, 2: 3, 3: 4, 4: 2, 5: 0}


def test_strip_boilerplate_lines_both_paths(spark):
    """Corpus-wide line dedup: a trimmed line in >= min_docs docs is
    stripped everywhere, blank lines and ordering survive, docs whose
    every line is boilerplate come back empty — and the broadcast and
    regroup plans produce identical output."""
    rows = [
        (1, "cookie banner\nreal content one\n\nfooter text"),
        (2, "  cookie banner \nreal content two\nfooter text"),
        (3, "cookie banner\nfooter text"),   # all boilerplate
        (4, "unique only"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    want = {
        1: "real content one\n",
        2: "real content two",
        3: "",
        4: "unique only",
    }
    for bmax, path in ((1000, "broadcast"), (0, "regroup")):
        stats = {}
        out = {
            r["doc_id"]: r["text"]
            for r in dedup.strip_boilerplate_lines(
                df, min_docs=2, broadcast_max=bmax, stats=stats
            ).collect()
        }
        assert stats["path"] == path
        assert stats["hot_lines"] == 2 and stats["hot_postings"] == 6
        assert out == want, path


# ---- round-4 curation extensions: PII, decontamination, packing, ----
# ---- sampling, WARC                                              ----

def test_pii_scrub_and_metrics(spark):
    """Redaction order is pinned (email -> ip -> phone): placeholders
    carry no digits, counts equal placeholder emissions, clean text
    passes through untouched."""
    from memorious_spark.functions.privacy import pii_metrics, pii_scrub

    rows = [
        (0, "write a@b.io or call +1 (555) 123-4567 from 10.0.0.1"),
        (1, "year 2024 and 1.2.3.4.5 trailing quad"),
        (2, "clean text with no identifiers at all"),
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    m = pii_metrics(F.col("t"))
    got = {
        r["id"]: r
        for r in df.select(
            "id", m["n_emails"].alias("e"), m["n_ipv4"].alias("i"),
            m["n_phones"].alias("p"), pii_scrub(F.col("t")).alias("s"),
        ).collect()
    }
    assert (got[0]["e"], got[0]["i"], got[0]["p"]) == (1, 1, 1)
    assert got[0]["s"] == "write <EMAIL> or call <PHONE> from <IP>"
    # documented over-match: the first dotted quad of 1.2.3.4.5 is
    # scrubbed (\b holds between digit and dot), year 2024 is not
    assert got[1]["s"] == "year 2024 and <IP>.5 trailing quad"
    assert got[1]["i"] == 1
    assert got[2]["s"] == rows[2][1]


def test_flag_contaminated_paths_agree(spark):
    """Any-13-gram-overlap decontamination: both the broadcast-array
    and the join path flag the same docs with the same DISTINCT hit
    counts (a doc repeating one benchmark sentence scores 1)."""
    from memorious_spark.operators.contamination import flag_contaminated

    bench_sent = "the quick brown fox jumps"
    docs = spark.createDataFrame(
        [
            (1, f"intro {bench_sent} outro words here"),
            (2, f"{bench_sent} again {bench_sent} repeated"),
            (3, "entirely different content with no overlap at all"),
            (4, "tiny"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(0, f"benchmark says {bench_sent} indeed")], "qid long, text string"
    )
    results = []
    for bmax in (10**6, 0):
        stats = {}
        out = {
            r["doc_id"]: (r["n_hit_grams"], r["contaminated"])
            for r in flag_contaminated(
                docs, bench, n=5, broadcast_max=bmax, stats=stats
            ).collect()
        }
        results.append((stats["path"], out))
    assert results[0][0] == "broadcast" and results[1][0] == "join"
    assert results[0][1] == results[1][1]
    out = results[0][1]
    assert out[1] == (1, True)
    assert out[2][0] >= 1 and out[2][1]
    assert out[3] == (0, False) and out[4] == (0, False)


def test_pack_token_shards_matches_global_prefix_sum(spark):
    """The two-phase distributed scan equals the single-partition
    global window bit-for-bit, docs land in the shard they START in,
    and a non-positive budget rejects."""
    from memorious_spark.operators.packing import pack_token_shards

    docs = spark.range(777).select(
        F.col("id").alias("doc_id"), ((F.col("id") * 13) % 41 + 1).alias("tokens")
    )
    out = {
        r["doc_id"]: (r["offset"], r["shard"])
        for r in pack_token_shards(docs, budget=300, num_partitions=7).collect()
    }
    off = 0
    for i in range(777):
        assert out[i] == (off, off // 300), i
        off += (i * 13) % 41 + 1
    with pytest.raises(ValueError, match="budget"):
        pack_token_shards(docs, budget=0)


def test_pack_token_shards_releases_its_cache(spark):
    """The advisory persist is released inside the call: a call plus a
    collect leaves no new persistent RDD. (Compared by RDD id: the
    JVM's persistent-RDD map holds weak values, so an earlier test's
    RDD can drop out of it mid-call and shrink a bare count.)"""
    from memorious_spark.operators.packing import pack_token_shards

    jsc = spark.sparkContext._jsc
    docs = spark.range(200).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7 + 1).alias("tokens")
    )
    before = set(jsc.getPersistentRDDs().keySet())
    pack_token_shards(docs, budget=100, num_partitions=4).collect()
    assert set(jsc.getPersistentRDDs().keySet()) - before == set()


def test_range_by_order_emit_seq_survives_recompute(spark):
    """Round-6 directive (VERDICT #2/#4): ``_pid`` must be a pure
    function of the data, so an emit_seq assignment computed from
    collected per-bucket sizes stays correct even when the cached
    frame is evicted and fully RECOMPUTED before the window job runs
    (persist is advisory; the former repartitionByRange +
    spark_partition_id pair re-sampled boundaries on recompute and
    silently corrupted emit_seq)."""
    from memorious_spark.operators.frontier import (
        range_by_order, seq_from_sizes,
    )

    order = ["src_emit_seq", "link_idx"]
    base = (
        spark.range(3000)
        .select(
            # hash-spread parent seqs (the bench frontier regime) with
            # unique (seq, idx) pairs
            F.abs(F.xxhash64((F.col("id") / 3).cast("long"))).alias(
                "src_emit_seq"
            ),
            (F.col("id") % 3).cast("int").alias("link_idx"),
        )
        .distinct()
        .repartition(13, "link_idx")  # adversarial input partitioning
        .persist()
    )
    rp = range_by_order(base, order)
    sizes = {
        int(r["_pid"]): int(r["cnt"])
        for r in rp.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    }
    out = seq_from_sizes(rp, order, sizes, start=100)
    first = sorted(tuple(r) for r in out.collect())
    # evict everything: the next action recomputes the whole chain
    base.unpersist(blocking=True)
    spark.catalog.clearCache()
    second = sorted(tuple(r) for r in out.collect())
    assert first == second
    # and the numbering is the dense global rank in order + start
    ranked = sorted(first)
    assert [t[2] for t in ranked] == list(
        range(100, 100 + len(ranked))
    )


def test_pack_token_shards_repeat_run_bit_equality(spark):
    """Round-5 directive: the op is a pure function of the corpus, not
    of Spark's partitioning. Run it 5× at p=8 over a shuffled,
    non-trivially-partitioned input; every run must produce the
    identical (offset, shard) assignment. Before the localCheckpoint
    fix, spark_partition_id() could differ between the totals-collect
    job and the window job, shifting offsets at a partition boundary
    (CORRECTNESS_r04 token_shards hash mismatch)."""
    from memorious_spark.operators.packing import pack_token_shards

    base = (
        spark.range(1500)
        .select(
            F.col("id").alias("doc_id"),
            ((F.col("id") * 131) % 257 + 1).alias("tokens"),
        )
        # adversarial input partitioning: hash-scrambled, not ordered
        .repartition(11, F.col("doc_id"))
    )
    runs = []
    for _ in range(5):
        rows = sorted(
            (r["doc_id"], r["offset"], r["shard"])
            for r in pack_token_shards(
                base, budget=2000, num_partitions=8
            ).collect()
        )
        runs.append(rows)
    assert all(r == runs[0] for r in runs[1:])
    # and the assignment is the true global prefix sum
    off = 0
    for i, (doc_id, offset, shard) in enumerate(runs[0]):
        assert doc_id == i and offset == off and shard == off // 2000
        off += (i * 131) % 257 + 1


def test_quota_sample_exact_and_fallback(spark):
    """Prune-then-exact quota sampling selects EXACTLY the global
    row_number()-by-(md5,id) top-N per group on both the pruned path
    and the forced-fallback path (safety too small to cover quota)."""
    import hashlib
    from collections import defaultdict

    from memorious_spark.operators.sampling import quota_sample

    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    docs = spark.createDataFrame(rows, "doc_id long, grp string")
    by = defaultdict(list)
    for i, g in rows:
        by[g].append((hashlib.md5(str(i).encode()).hexdigest(), i))
    want = {(i, g) for g, lst in by.items() for _, i in sorted(lst)[:50]}
    for safety, fb in ((2.0, 0), (0.05, 2)):
        stats = {}
        got = {
            (r["doc_id"], r["grp"])
            for r in quota_sample(
                docs, "grp", quota=50, safety=safety, stats=stats
            ).collect()
        }
        assert got == want, safety
        assert stats["groups_fallback"] == fb, stats
    # redo with quota that makes 'small' an under-quota group
    stats = {}
    got = {
        (r["doc_id"], r["grp"])
        for r in quota_sample(docs, "grp", quota=150, stats=stats).collect()
    }
    want = {(i, "small") for i in range(900, 1000)} | {
        (i, "big") for _, i in sorted(by["big"])[:150]
    }
    assert got == want
    assert stats["groups_small"] == 1 and stats["groups_pruned"] == 1


def test_warc_roundtrip_and_fail_loud(spark, tmp_path):
    """WARC write -> read reproduces uri + payload bytes exactly
    (CRLF payloads included); empty partitions emit no file; a
    truncated record raises with the file name."""
    from memorious_spark.sources.warc import read_warc, write_warc

    docs = spark.createDataFrame(
        [(f"urn:doc:{i}", f"body {i}\r\nwith crlf é".encode()) for i in range(20)],
        "uri string, payload binary",
    )
    dest = str(tmp_path / "warc")
    summary = write_warc(docs.repartition(30), dest).collect()
    assert sum(r["n_records"] for r in summary) == 20
    assert len(summary) <= 20  # 10 empty partitions -> no files
    back = {
        r["uri"]: bytes(r["payload"])
        for r in read_warc(spark, f"{dest}/*.warc").collect()
    }
    assert back == {r["uri"]: bytes(r["payload"]) for r in docs.collect()}
    # truncate one file mid-payload -> loud failure naming the file
    import glob, os

    victim = sorted(glob.glob(f"{dest}/*.warc"))[0]
    data = open(victim, "rb").read()
    open(victim, "wb").write(data[: len(data) - 6])
    with pytest.raises(Exception, match="truncated record"):
        read_warc(spark, f"{dest}/*.warc").collect()


def test_decode_wav_real_signal_stats(spark):
    """decode_wav parses stdlib-wave-written PCM (16-bit mono, 8-bit
    stereo), audio_features returns real signal stats, and non-PCM
    containers fall back to the md5 stand-in (flag 0 semantics: last
    element 1.0 only on real decode)."""
    import io
    import wave

    import numpy as np

    from memorious_spark.operators.multimodal import (
        audio_features, decode_wav,
    )

    s = ((np.arange(1000) * 7) % 2001 - 1000).astype("<i2")
    bio = io.BytesIO()
    w = wave.open(bio, "wb")
    w.setnchannels(1); w.setsampwidth(2); w.setframerate(8000)
    w.writeframes(s.tobytes()); w.close()
    sr, dec = decode_wav(bio.getvalue())
    assert sr == 8000 and dec.shape == (1000, 1)
    assert np.array_equal(dec[:, 0], s.astype(np.float64))
    f = audio_features(bio.getvalue())
    assert f[7] == 1.0 and f[6] == 1.0
    assert abs(f[1] - 1000 / 8000) < 1e-12
    assert abs(f[2] - float(np.sqrt(np.mean(s.astype(float) ** 2))) / 32768.0) < 1e-12

    # 8-bit stereo: frames reshape to (n, 2), uint8 recentered
    bio2 = io.BytesIO()
    w = wave.open(bio2, "wb")
    w.setnchannels(2); w.setsampwidth(1); w.setframerate(4000)
    w.writeframes(bytes(range(128, 144)))  # 8 stereo frames
    w.close()
    sr2, dec2 = decode_wav(bio2.getvalue())
    assert sr2 == 4000 and dec2.shape == (8, 2)
    assert dec2[0, 0] == 0.0 and dec2[0, 1] == 1.0

    # not a RIFF container -> stand-in path, decode flag 0 absent
    g = audio_features(b"plain bytes, not audio")
    assert g[7] != 1.0 or g == audio_features(b"plain bytes, not audio")
    assert len(g) == 8


def test_semantic_dedup_fixture_semantics(spark):
    """Hand-checkable SemDeDup: two cells, known priorities
    (distance² to centroid DESC, id ASC), known cosines — the
    manifest must drop exactly the dominated vectors and point each
    at its highest-priority dominator."""
    from memorious_spark.operators.dedup import semantic_dedup

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),    # cell 0 centroid; dominated by 1 and 5
        (1, [0.99, 0.1, 0.0, 0.0]),   # farthest from centroid in cell 0 → kept
        (2, [0.0, 1.0, 0.0, 0.0]),    # cell 1 centroid; dominated by 3
        (3, [0.0, 0.98, 0.2, 0.0]),   # kept
        (4, [0.0, 0.0, 1.0, 0.0]),    # equidistant → cell 0, nothing similar
        (5, [1.0, 0.02, 0.0, 0.0]),   # dominated by 1
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        r.vec_id: (r.cell, r.canonical_id, r.reason)
        for r in semantic_dedup(
            emb, threshold=0.95, n_centroids=2, spacing=2
        ).collect()
    }
    assert got == {
        0: (0, 1, "semantic"),
        1: (0, 1, "kept"),
        2: (1, 3, "semantic"),
        3: (1, 3, "kept"),
        4: (0, 4, "kept"),
        5: (0, 1, "semantic"),
    }


def test_semantic_dedup_assignment_paths_agree(spark):
    """semantic_dedup's cell is each vector's nearest centroid by an
    explicit Σ(x−c)² argmin with the lowest-cid tie rule (K=18 seed
    centroids), and the manifest drops something."""
    from memorious_spark.operators.dedup import semantic_dedup

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = similarity.ivf_seed_centroids(emb, 18, 23)
    vecs = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    got = sorted(
        map(
            tuple,
            semantic_dedup(
                emb, threshold=0.4, n_centroids=18, spacing=23
            ).collect(),
        )
    )
    ids = [r[0] for r in got]
    want = _nearest_code_reference(
        [vecs[i] for i in ids], [c for _cid, c in cents]
    )
    assert [r[1] for r in got] == want
    assert any(r[3] == "semantic" for r in got)  # non-vacuous


def test_hash_split_deterministic_and_stable(spark):
    """Assignments equal an independent md5 recomputation, never move
    when the corpus grows, and cover each split at the expected
    rate; bad weights fail loud."""
    import hashlib

    import pytest as _pytest

    from memorious_spark.operators.sampling import hash_split, split_bounds

    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    docs = spark.range(2000).select(F.col("id").alias("doc_id"))
    got = {r.doc_id: r.split for r in hash_split(docs, w).collect()}

    b = split_bounds(w)
    for did, split in list(got.items())[:200]:
        key = hashlib.md5(str(did).encode()).hexdigest()[:15]
        want = "train" if key < b[0] else ("val" if key < b[1] else "test")
        assert split == want, (did, split, want)

    # growth stability: the 2000-doc assignment restricted to the
    # first 100 ids equals the 100-doc assignment
    small = {
        r.doc_id: r.split
        for r in hash_split(
            spark.range(100).select(F.col("id").alias("doc_id")), w
        ).collect()
    }
    assert small == {k: v for k, v in got.items() if k < 100}

    from collections import Counter

    c = Counter(got.values())
    assert 0.75 < c["train"] / 2000 < 0.85 and c["val"] > 0 and c["test"] > 0

    with _pytest.raises(ValueError):
        hash_split(docs, {})
    with _pytest.raises(ValueError):
        hash_split(docs, {"a": 1.0, "b": -0.1})


def test_hash_split_is_pure_projection(spark):
    """Scale posture: the split column is a scan-riding projection —
    no Exchange, no Window, no UDF in the plan."""
    from memorious_spark.operators.sampling import hash_split

    docs = spark.range(500).select(F.col("id").alias("doc_id"))
    plan = hash_split(
        docs, {"train": 0.9, "val": 0.05, "test": 0.05}
    )._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "Exchange" not in plan, plan[:2000]
    assert "Window" not in plan and "Python" not in plan, plan[:2000]


def test_dsir_weights_hand_math_and_select(spark):
    """DSIR on a 3-doc corpus with a 1-doc target: the target-like
    document must out-weigh the off-distribution one, and weights
    recompute exactly from the published formula (add-one smoothing
    over B buckets, per-feature round-6 quantization)."""
    import hashlib
    import math
    from collections import Counter

    from memorious_spark.operators.selection import importance_weights

    B = 64
    rows = [
        (0, "the cat sat on the mat"),
        (1, "the cat sat"),
        (2, "zebra quagga okapi tapir"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    target = docs.filter("doc_id = 0")
    got = {
        r.doc_id: r.logw
        for r in importance_weights(docs, target, n_buckets=B).collect()
    }

    def feats(t):
        toks = t.lower().strip().split(" ")
        return toks + [
            f"{a} {b}" for a, b in zip(toks, toks[1:])
        ]

    def bucket(f):
        return int(hashlib.md5(f.encode()).hexdigest()[:8], 16) % B

    cc = Counter(bucket(f) for _, t in rows for f in feats(t))
    ct = Counter(bucket(f) for _, t in rows[:1] for f in feats(t))
    Tc, Tt = sum(cc.values()), sum(ct.values())
    want = {
        did: float(
            sum(
                round(
                    math.log(
                        ((ct.get(bucket(f), 0) + 1) * (Tc + B))
                        / ((cc.get(bucket(f), 0) + 1) * (Tt + B))
                    ),
                    6,
                )
                for f in feats(t)
            )
        )
        for did, t in rows
    }
    assert {k: round(v, 6) for k, v in got.items()} == {
        k: round(v, 6) for k, v in want.items()
    }
    assert got[0] > got[2] and got[1] > got[2]


def test_dsir_ratio_table_broadcasts(spark):
    """Scale posture: the per-feature scoring join must broadcast the
    (≤ n_buckets)-row ratio table — the corpus side never shuffles on
    the bucket key."""
    from memorious_spark.operators.selection import importance_weights

    docs = spark.range(50).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta "), F.col("id").cast("string")).alias("text"),
    )
    w = importance_weights(docs, docs.limit(5), n_buckets=128)
    plan = w._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "Exchange hashpartitioning(bucket" not in plan.split(
        "BroadcastHashJoin", 1
    )[0], plan[:3000]


def test_duplicate_span_fraction_hand_counts(spark):
    """4 docs, k=3: doc 0 and 1 share one verbatim 3-token window;
    doc 2 repeats that window twice (multiplicity counts both); doc 3
    shares nothing. Window counts and fractions are hand-derived."""
    from memorious_spark.operators.dedup import duplicate_span_fraction

    rows = [
        (0, "the quick brown fox jumps"),        # 3 windows, 1 dup
        (1, "a lazy the quick brown dog"),       # 4 windows, 1 dup
        (2, "the quick brown x the quick brown"),  # 5 windows, 2 dup
        (3, "entirely unrelated words here"),    # 2 windows, 0 dup
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_spans, r.dup_frac)
        for r in duplicate_span_fraction(docs, k=3).collect()
    }
    assert got == {
        0: (3, round(1 / 3, 6)),
        1: (4, 0.25),
        2: (5, 0.4),
        3: (2, 0.0),
    }


def test_pagerank_integer_exact(spark):
    """Fixed-point PageRank equals a hand-rolled Python twin UNIT FOR
    UNIT (the cross-engine exactness contract is integer arithmetic,
    so there is nothing to round). Graph exercises a dangling node,
    a 2-cycle, a duplicate input edge (must count once), and a
    self-loop."""
    from collections import defaultdict

    from memorious_spark.operators.linkrank import pagerank

    E = [(0, 1), (0, 2), (1, 2), (2, 0), (2, 3), (4, 0), (4, 4), (0, 1)]
    df = spark.createDataFrame(E, "src long, dst long")
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    ranked = pagerank(df, n_iter=5)
    got = {r.node: r.rank_units for r in ranked.collect()}
    # only the final ranks checkpoint, which `ranked` reads, is left
    assert len(set(jsc.getPersistentRDDs().keySet()) - before) == 1

    unit, dnum, dden = 10**6, 17, 20
    out = defaultdict(set)
    for s, d in E:
        out[s].add(d)
    nodes = sorted({u for e in E for u in e})
    n = len(nodes)
    base = ((dden - dnum) * unit) // dden
    r = {v: unit for v in nodes}
    for _ in range(5):
        dang = sum(r[v] for v in nodes if not out.get(v))
        share = dang // n
        ins = defaultdict(int)
        for s, ds in out.items():
            c = r[s] // len(ds)
            for d in ds:
                ins[d] += c
        r = {v: base + (dnum * (ins[v] + share)) // dden for v in nodes}
    assert got == r
    # authority ordering sanity: 2 has the most in-links
    assert max(got, key=got.get) == 2

    with pytest.raises(ValueError, match="fixed-point overflow"):
        pagerank(df, n_iter=1, unit=2 * 10**17)


def test_lm_bigram_scores_hand_math(spark):
    """Bigram-LM scoring recomputes exactly from the published
    formula: add-one smoothing over (prefix count + vocab), per-
    bigram round-6 quantization, < 2 tokens → (0, 0.0), unknown
    prefixes back off to ln(1/(0+V))."""
    import math

    from memorious_spark.operators.selection import lm_bigram_scores

    rows = [
        (0, "a b a b c"),  # the reference slice
        (1, "a b x"),
        (2, "z"),
        (3, "q r"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ref = docs.filter("doc_id = 0")
    got = {
        r.doc_id: (r.n_bigrams, r.avg_logp)
        for r in lm_bigram_scores(docs, ref).collect()
    }
    # ref model: c2 = {(a,b):2, (b,a):1, (b,c):1}; c1 = {a:2, b:2}; V=3
    lp = lambda c2, c1: round(math.log((c2 + 1) / (c1 + 3)), 6)
    want = {
        0: (4, (lp(2, 2) + lp(1, 2) + lp(2, 2) + lp(1, 2)) / 4),
        1: (2, (lp(2, 2) + lp(0, 2)) / 2),
        2: (0, 0.0),
        3: (1, lp(0, 0) / 1),
    }
    assert got.keys() == want.keys()
    for k in want:
        assert got[k][0] == want[k][0]
        assert got[k][1] == pytest.approx(want[k][1], abs=1e-9)


def test_paragraph_dedup_first_occurrence_semantics(spark):
    """CCNet paragraph dedup: normalized-hash collision keeps only the
    (doc_id, idx)-first copy; blank paragraphs drop; a fully-duplicated
    doc falls out; within-doc repeats keep the earlier one."""
    from memorious_spark.operators.dedup import paragraph_dedup

    rows = [
        (0, "alpha beta\nshared para\ngamma"),
        (1, "SHARED   PARA\nunique one\nunique one"),  # reflowed copy + self-repeat
        (2, "shared para"),                            # fully duplicated -> drops
        (3, "   \n\ndelta"),                           # blanks drop, delta kept
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in paragraph_dedup(docs).collect()}
    assert set(got) == {0, 1, 3}
    assert got[0].text == "alpha beta\nshared para\ngamma"
    assert (got[0].n_paras, got[0].n_kept) == (3, 3)
    # doc 1: its 'SHARED PARA' lost to doc 0's copy; second 'unique one'
    # lost to the first
    assert got[1].text == "unique one"
    assert (got[1].n_paras, got[1].n_kept) == (3, 1)
    assert got[3].text == "delta" and got[3].n_paras == 1


def test_remove_duplicate_spans_hand_math(spark):
    """k=2 windows: the shared span keeps its (doc,pos)-first copy and
    is cut everywhere else; covered indices union over overlapping
    windows; fully-covered docs return text='' (never vanish); short
    texts use one truncated window."""
    from memorious_spark.operators.dedup import remove_duplicate_spans

    rows = [
        (0, "a b c d"),   # windows: 'a b','b c','c d'
        (1, "x a b y"),   # 'x a','a b','b y' — 'a b' dup, keeper is doc 0
        (2, "a b"),       # one window 'a b' — dup, fully covered -> ''
        (3, "q r s"),     # no shared spans
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in remove_duplicate_spans(docs, k=2).collect()}
    assert set(got) == {0, 1, 2, 3}
    assert got[0].text == "a b c d" and got[0].n_removed == 0
    # doc 1 loses tokens 1..2 ('a b'), keeps 'x' and 'y'
    assert got[1].text == "x y"
    assert (got[1].n_tokens, got[1].n_removed) == (4, 2)
    assert got[2].text == "" and got[2].n_removed == 2
    assert got[3].text == "q r s" and got[3].n_removed == 0

    # within-doc multiplicity: 'p p p' with k=2 -> windows 'p p' twice;
    # second window (pos 1) removed, covering tokens 1,2 -> kept 'p'
    one = spark.createDataFrame([(9, "p p p")], "doc_id long, text string")
    r9 = remove_duplicate_spans(one, k=2).collect()[0]
    assert r9.text == "p" and r9.n_tokens == 3 and r9.n_removed == 2


def test_recrawl_priority_hand_math(spark):
    """Cho & Garcia-Molina estimator, hand-checked: 4 fetches with one
    hash change over 300s -> lambda = ln(3.5/2.5)/100; never-changed
    -> 0; single fetch -> NULL lambda, priority 0; priority = lambda *
    age at the pinned now."""
    import math

    from memorious_spark.operators.recrawl import change_stats, recrawl_priority

    rows = [
        ("a", "2026-01-01 00:00:00", "h1"),
        ("a", "2026-01-01 00:01:40", "h1"),
        ("a", "2026-01-01 00:03:20", "h2"),
        ("a", "2026-01-01 00:05:00", "h2"),
        ("b", "2026-01-01 00:00:00", "x"),
        ("b", "2026-01-01 00:05:00", "x"),
        ("c", "2026-01-01 00:05:00", "y"),
    ]
    hist = spark.createDataFrame(rows, "url string, t string, content_hash string")
    hist = hist.select("url", F.col("t").cast("timestamp").alias("fetch_ts"),
                       "content_hash")
    st = {r.url: r for r in change_stats(hist).collect()}
    assert (st["a"].n_fetches, st["a"].n_intervals, st["a"].n_changes,
            st["a"].span_seconds) == (4, 3, 1, 300)
    assert (st["b"].n_changes, st["c"].n_intervals) == (0, 0)

    got = {r.url: r for r in
           recrawl_priority(hist, now_ts="2026-01-01 00:06:40").collect()}
    lam_a = -math.log((3 - 1 + 0.5) / (3 + 0.5)) / 100.0
    assert got["a"].lambda_hat == pytest.approx(lam_a, rel=1e-9)
    # age = 100s after the last fetch at 00:05:00
    assert got["a"].priority == pytest.approx(round(round(lam_a, 12) * 100, 6))
    assert got["b"].lambda_hat == 0.0 and got["b"].priority == 0.0
    assert got["c"].lambda_hat is None and got["c"].priority == 0.0


# ---- temperature mixing ------------------------------------------------


def test_temperature_mix_flattens(spark):
    """tau=0.5 flattens the group distribution: the dominant group's
    effective share shrinks, tail groups upsample via copies >= 2;
    tau=1 reproduces the natural mix (targets == group sizes up to
    floor rounding); total effective size ~= the corpus size."""
    from memorious_spark.operators.sampling import temperature_mix

    rows = (
        [(i, "big") for i in range(400)]
        + [(400 + i, "mid") for i in range(80)]
        + [(480 + i, "tiny") for i in range(20)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, grp string")
    out = temperature_mix(docs, "grp", tau=0.5).persist()
    eff = {
        r["grp"]: r["eff"]
        for r in out.groupBy("grp")
        .agg(F.sum("copies").alias("eff"))
        .collect()
    }
    n = {"big": 400, "mid": 80, "tiny": 20}
    total_eff = sum(eff.values())
    # shares moved toward uniform: big strictly down, tiny strictly up
    assert eff["big"] / total_eff < 400 / 500
    assert eff["tiny"] / total_eff > 20 / 500
    # tiny upsamples: someone carries copies >= 2
    assert out.filter("grp = 'tiny' and copies >= 2").count() > 0
    # total effective stays ~corpus-sized (floor rounding only)
    assert abs(total_eff - 500) <= 3
    out.unpersist()

    ident = temperature_mix(docs, "grp", tau=1.0)
    eff1 = {
        r["grp"]: r["eff"]
        for r in ident.groupBy("grp").agg(F.sum("copies").alias("eff")).collect()
    }
    for g, cnt in n.items():
        assert abs(eff1[g] - cnt) <= 1, (g, eff1[g])


def test_temperature_mix_deterministic_and_total(spark):
    """Re-running selects the SAME documents with the SAME copies (no
    RNG); `total` rescales the effective corpus size."""
    from memorious_spark.operators.sampling import temperature_mix

    docs = spark.createDataFrame(
        [(i, f"g{i % 3}") for i in range(300)], "doc_id long, grp string"
    )
    a = sorted(map(tuple, temperature_mix(docs, "grp", tau=0.3).collect()))
    b = sorted(map(tuple, temperature_mix(docs, "grp", tau=0.3).collect()))
    assert a == b
    scaled = temperature_mix(docs, "grp", tau=0.3, total=900)
    tot = scaled.agg(F.sum("copies")).first()[0]
    assert abs(tot - 900) <= 3
    with pytest.raises(ValueError, match="tau"):
        temperature_mix(docs, "grp", tau=-0.1)


def test_temperature_mix_skew_posture(spark):
    """The remainder window never sees a whole stratum: a hot group
    resolves through the pruned candidate set (stats prove the path),
    and a deliberately broken sketch falls back loudly-but-correctly."""
    from memorious_spark.operators import sampling as sampling_mod
    from memorious_spark.operators.sampling import temperature_mix

    docs = spark.createDataFrame(
        [(i, "hot") for i in range(3000)] + [(3000 + i, "cold") for i in range(30)],
        "doc_id long, grp string",
    )
    stats = {}
    out = temperature_mix(docs, "grp", tau=0.5, stats=stats).persist()
    assert stats["groups_fallback"] == 0
    assert stats["groups_windowed"] >= 1
    baseline = sorted(map(tuple, out.collect()))
    out.unpersist()
    # force the sketch to miss (safety below 1 shrinks the candidate
    # prefix under the remainder) — result must be identical, via the
    # counted fallback
    stats2 = {}
    fb = temperature_mix(docs, "grp", tau=0.5, safety=0.01, stats=stats2)
    assert sorted(map(tuple, fb.collect())) == baseline
    assert stats2["groups_fallback"] >= 1
