"""Column URL kernel ↔ pure-Python mirror equivalence.

``py_registrable_domain`` and ``py_canon`` are the reference mirrors
the Column kernels are checked against; they live here because only
these tests use them."""

import re
from urllib.parse import urlsplit

from pyspark.sql import functions as F

from memorious_spark.functions import urls


def py_registrable_domain(
    host: str,
    rules: urls.PSLRules | None = None,
    include_private: bool = True,
) -> str:
    """Pure-Python mirror of :func:`urls.registrable_domain_col` —
    identical precedence: exception > longest rule > the implicit
    ``*``."""
    rules = rules or urls._default_psl(include_private)
    if re.fullmatch(r"\d+\.\d+\.\d+\.\d+", host):
        return host
    parts = host.split(".")
    n = len(parts)
    ps = None
    for k in sorted(rules.exc, reverse=True):
        if n >= k and ".".join(parts[-k:]) in rules.exc[k]:
            ps = k - 1
            break
    if ps is None:
        for k in range(rules.max_labels, 1, -1):
            if k in rules.exact and n >= k and ".".join(parts[-k:]) in rules.exact[k]:
                ps = k
                break
            if (
                (k - 1) in rules.wild and n >= k
                and ".".join(parts[-(k - 1):]) in rules.wild[k - 1]
            ):
                ps = k
                break
    if ps is None:
        ps = 1
    if n <= ps:
        return host
    return ".".join(parts[-(ps + 1):])


def py_canon(url: str) -> str | None:
    """Pure-Python mirror of :func:`urls.canon_col`."""
    base = urls.py_norm(url)
    if base is None:
        return None
    try:
        query = urlsplit(url).query
    except ValueError:
        return None
    path_part = base.split("?", 1)[0]
    kept = sorted(
        p
        for p in query.split("&")
        if p != ""
        and not p.startswith("utm_")
        and p.split("=", 1)[0] not in urls.TRACKING_PARAMS
    )
    return path_part + ("?" + "&".join(kept) if kept else "")

CASES = [
    "https://EXAMPLE.com/path?q=1#frag",
    "http://example.com:80/a",
    "https://example.com:443/a",
    "https://example.com:8443/a",
    "http://example.com",
    "https://h1.example.com/doc/5",
    "HTTPS://MiXeD.example.COM/Path/Case?X=Y",
    "ftp://example.com/file",
]


def test_py_norm_basics():
    assert urls.py_norm("https://EXAMPLE.com/path?q=1#frag") == (
        "https://example.com/path?q=1"
    )
    assert urls.py_norm("http://example.com:80/a") == "http://example.com/a"
    assert urls.py_norm("https://example.com:8443/a") == "https://example.com:8443/a"
    assert urls.py_norm("http://example.com") == "http://example.com/"
    assert urls.py_norm("not a url") is None


def test_column_matches_python(spark):
    df = spark.createDataFrame([(u,) for u in CASES], "url string")
    got = df.select(
        "url",
        urls.norm_col(F.col("url")).alias("norm"),
        urls.host_col(F.col("url")).alias("host"),
        urls.scheme_ok_col(F.col("url")).alias("ok"),
    ).collect()
    for row in got:
        py = urls.py_norm(row["url"])
        if py is not None and row["url"].lower().startswith(("http:", "https:")):
            assert row["norm"] == py, row["url"]
        assert row["host"] == urls.py_host(row["url"]), row["url"]
        assert row["ok"] == row["url"].lower().startswith(("http", "https")) or not row["ok"]


def test_registrable_domain(spark):
    hosts = [
        ("news.bbc.co.uk", "bbc.co.uk"),
        ("bbc.co.uk", "bbc.co.uk"),
        ("a.b.example.com", "example.com"),
        ("example.com", "example.com"),
        ("localhost", "localhost"),
        ("10.1.2.3", "10.1.2.3"),
        ("shop.example.com.au", "example.com.au"),
        ("x.gov.uk", "x.gov.uk"),
    ]
    df = spark.createDataFrame(hosts, "host string, want string")
    got = df.select(
        "host", "want",
        urls.registrable_domain_col(F.col("host")).alias("dom"),
    ).collect()
    for r in got:
        assert r["dom"] == r["want"], r["host"]
        assert py_registrable_domain(r["host"]) == r["want"], r["host"]


def test_canon_col_sorts_and_strips_tracking(spark):
    cases = [
        # param order collapses; utm_* and click ids stripped
        ("https://E.com/p?b=2&a=1&utm_source=x&fbclid=99",
         "https://e.com/p?a=1&b=2"),
        ("https://e.com/p?a=1&b=2", "https://e.com/p?a=1&b=2"),
        # all params stripped -> query dropped entirely
        ("https://e.com/p?utm_campaign=z&gclid=1", "https://e.com/p"),
        # no query: norm_col semantics preserved (default port, path)
        ("HTTP://e.com:80", "http://e.com/"),
        # value containing 'utm_' is NOT a key prefix match
        ("https://e.com/p?q=utm_x", "https://e.com/p?q=utm_x"),
    ]
    df = spark.createDataFrame(cases, "url string, want string")
    for r in df.select(
        "want", urls.canon_col(F.col("url")).alias("got")
    ).collect():
        assert r["got"] == r["want"]
    # the two differently-ordered variants share one canonical key
    two = spark.createDataFrame(
        [("https://e.com/p?b=2&a=1&utm_source=x",),
         ("https://e.com/p?a=1&b=2",)],
        "url string",
    )
    keys = {
        r["k"]
        for r in two.select(urls.canon_col(F.col("url")).alias("k")).collect()
    }
    assert len(keys) == 1


def test_canon_col_matches_python_mirror_property(spark):
    """Property: for generated URLs over hosts/paths/param soups
    (tracking params, utm prefixes, duplicates, empty values, missing
    '='), canon_col == py_canon — the same two-face contract py_norm
    already carries."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    param = st.one_of(
        st.sampled_from(
            ["a=1", "b=2", "z=9", "utm_source=x", "utm_campaign",
             "fbclid=77", "gclid", "q=utm_x", "a=2", "noval", "mc_cid=8"]
        ),
        st.text(alphabet="abz=_19", min_size=1, max_size=6),
    )
    url_strat = st.builds(
        lambda scheme, host, path, params: (
            f"{scheme}://{host}/{path}" + ("?" + "&".join(params) if params else "")
        ),
        st.sampled_from(["http", "https", "HTTPS"]),
        st.sampled_from(["E.com", "a.b.co.uk", "x.test:8080"]),
        st.sampled_from(["", "p", "p/q"]),
        st.lists(param, max_size=5),
    )

    cases: list[str] = []

    @settings(max_examples=60, deadline=None)
    @given(url_strat)
    def collect(u):
        cases.append(u)

    collect()
    df = spark.createDataFrame([(u,) for u in set(cases)], "url string")
    got = df.select(
        "url", urls.canon_col(F.col("url")).alias("c")
    ).collect()
    for r in got:
        assert r["c"] == py_canon(r["url"]), r["url"]


def test_hash_col_deterministic(spark):
    df = spark.createDataFrame([("https://example.com/a",)], "url string")
    h1 = df.select(urls.hash_col(F.col("url")).alias("h")).first()["h"]
    h2 = df.select(urls.hash_col(F.col("url")).alias("h")).first()["h"]
    assert h1 == h2 and isinstance(h1, int)


def test_trap_signals_hand_urls(spark):
    """Heritrix decide-rule family: pathological consecutive-segment
    runs, segment-count cap, query blowup, raw length — each signal
    hand-checked; alternating /a/b/a/b never fires (runs only)."""
    from pyspark.sql import functions as F

    from memorious_spark.functions.urls import is_trap_col, trap_signals

    urls = [
        ("clean", "https://a.com/x/y/z", False),
        ("run3", "https://a.com/a/a/a/page", True),
        ("alternating", "https://a.com/a/b/a/b/a/b", False),
        ("deep", "https://a.com/" + "/".join(f"s{i}" for i in range(25)), True),
        ("fewparams", "https://a.com/p?a=1&b=2", False),
        ("qblowup", "https://a.com/p?" + "&".join(f"k{i}=v" for i in range(20)), True),
        ("long", "https://a.com/" + "x" * 3000, True),
        ("root", "https://a.com/", False),
        ("emptysegs", "https://a.com//x//x", False),  # '' segs excluded
    ]
    df = spark.createDataFrame(
        [(n, u, t) for n, u, t in urls], "name string, url string, want boolean"
    )
    s = trap_signals(F.col("url"))
    got = {
        r.name: r
        for r in df.select(
            "name", "want",
            *[v.alias(k) for k, v in s.items()],
            is_trap_col(F.col("url")).alias("trap"),
        ).collect()
    }
    for name, _, want in urls:
        assert got[name].trap == want, (name, got[name])
    assert got["run3"].max_seg_run == 3
    assert got["alternating"].max_seg_run == 1
    assert got["deep"].n_segments == 25
    assert got["qblowup"].n_qparams == 20
    assert got["root"].n_segments == 0 and got["root"].max_seg_run == 0
    assert got["emptysegs"].n_segments == 2 and got["emptysegs"].max_seg_run == 2


def test_registrable_domain_full_psl(spark):
    """Full PSL semantics over the vendored snapshot: multi-level
    rules, private-section registries (github.io), wildcard rules
    (*.ck, *.kawasaki.jp), exception rules (!www.ck,
    !city.kawasaki.jp), hosts that ARE a public suffix, and the
    implicit * rule for unlisted TLDs — Column and py faces agree."""
    cases = [
        # directive's named trio
        ("news.bbc.co.uk", "bbc.co.uk"),
        ("shop.example.com.au", "example.com.au"),
        ("deep.sub.alice.github.io", "alice.github.io"),
        # private-section registries
        ("myblog.blogspot.com", "myblog.blogspot.com"),
        ("bucket.s3.amazonaws.com", "bucket.s3.amazonaws.com"),
        # wildcard: every *.ck 2-label suffix is public
        ("bar.foo.ck", "bar.foo.ck"),
        ("x.bar.foo.ck", "bar.foo.ck"),
        # exception beats the wildcard
        ("www.ck", "www.ck"),
        ("a.www.ck", "www.ck"),
        ("x.city.kawasaki.jp", "city.kawasaki.jp"),
        ("bar.foo.kawasaki.jp", "bar.foo.kawasaki.jp"),
        # 3-level exact rule
        ("www.school.pvt.k12.ma.us", "school.pvt.k12.ma.us"),
        # host IS a public suffix → pass through
        ("co.uk", "co.uk"),
        ("s3.amazonaws.com", "s3.amazonaws.com"),
        ("foo.kawasaki.jp", "foo.kawasaki.jp"),
        # implicit * rule
        ("a.weird.unknowntld", "weird.unknowntld"),
        ("weird.unknowntld", "weird.unknowntld"),
    ]
    df = spark.createDataFrame(cases, "host string, want string")
    got = df.select(
        "host", "want",
        urls.registrable_domain_col(F.col("host")).alias("dom"),
    ).collect()
    for r in got:
        assert r["dom"] == r["want"], (r["host"], r["dom"])
        assert py_registrable_domain(r["host"]) == r["want"], r["host"]


def test_load_psl_parses_real_format():
    """The parser reads the actual publicsuffix.org file format, so
    the full pinned list drops in as the same file name."""
    rules = urls.load_psl()
    assert "co.uk" in rules.exact[2]
    assert "github.io" in rules.exact[2]
    assert "ck" in rules.wild[1]
    assert "kawasaki.jp" in rules.wild[2]
    assert "www.ck" in rules.exc[2]
    assert "pvt.k12.ma.us" in rules.exact[4]
    assert rules.max_labels >= 4


def test_registrable_domain_property_py_mirror(spark):
    """Property: the Column face equals the py mirror on randomized
    hosts over snapshot suffixes — the contract the politeness oracle
    leans on."""
    import itertools
    import random

    rng = random.Random(7)
    suffixes = ["com", "co.uk", "ck", "www.ck", "kawasaki.jp",
                "github.io", "unlistedtld", "s3.amazonaws.com",
                "pvt.k12.ma.us", "city.kawasaki.jp"]
    labels = ["a", "bb", "ccc", "x0"]
    hosts = []
    for suf, depth in itertools.product(suffixes, range(4)):
        subs = [rng.choice(labels) for _ in range(depth)]
        hosts.append(".".join(subs + [suf]))
    df = spark.createDataFrame([(h,) for h in hosts], "host string")
    got = df.select(
        "host", urls.registrable_domain_col(F.col("host")).alias("dom")
    ).collect()
    for r in got:
        assert r["dom"] == py_registrable_domain(r["host"]), r["host"]


def test_registrable_domain_icann_vs_private(spark):
    """The two section postures: full PSL (default — eTLD+1/registrant
    semantics) treats each *.blogspot.com / *.github.io subdomain as
    its own registrable domain; ICANN-only (what politeness uses —
    infrastructure semantics) folds them into one. ICANN rules are a
    strict subset, so non-private hosts agree between the postures."""
    cases = [
        # host, full-PSL want, ICANN-only want
        ("myblog.blogspot.com", "myblog.blogspot.com", "blogspot.com"),
        ("deep.alice.github.io", "alice.github.io", "github.io"),
        ("bucket.s3.amazonaws.com", "bucket.s3.amazonaws.com",
         "amazonaws.com"),
        ("news.bbc.co.uk", "bbc.co.uk", "bbc.co.uk"),
        ("a.b.example.com", "example.com", "example.com"),
        ("x.city.kawasaki.jp", "city.kawasaki.jp", "city.kawasaki.jp"),
    ]
    df = spark.createDataFrame(
        cases, "host string, want_full string, want_icann string"
    )
    got = df.select(
        "host", "want_full", "want_icann",
        urls.registrable_domain_col(F.col("host")).alias("full"),
        urls.registrable_domain_col(
            F.col("host"), include_private=False
        ).alias("icann"),
    ).collect()
    for r in got:
        assert r["full"] == r["want_full"], (r["host"], r["full"])
        assert r["icann"] == r["want_icann"], (r["host"], r["icann"])
        assert py_registrable_domain(r["host"]) == r["want_full"]
        assert py_registrable_domain(
            r["host"], include_private=False
        ) == r["want_icann"]


def test_psl_missing_file_falls_back(monkeypatch):
    """A stripped install without the vendored snapshot degrades to
    the PSL-lite two-level set — politeness grouping coarsens, never
    crashes."""
    monkeypatch.setattr(urls, "_PSL_CACHE", {})
    real_open = urls.load_psl

    def boom(path=None, include_private=True):
        raise OSError("no data file")

    monkeypatch.setattr(urls, "load_psl", boom)
    rules = urls._default_psl()
    assert py_registrable_domain("news.bbc.co.uk", rules) == "bbc.co.uk"
    # private-section registries are absent from the fallback
    assert py_registrable_domain(
        "blog.myname.github.io", rules
    ) == "github.io"
    monkeypatch.setattr(urls, "load_psl", real_open)
    monkeypatch.setattr(urls, "_PSL_CACHE", {})
