"""Unit tests for the pure HTML kernel — the fidelity contract both the
Spark UDFs and the oracle share (mirrors the extraction assertions of
the reference's test_operations.py:50-92 / test_http.py:11-132)."""

from hypothesis import given, settings
from hypothesis import strategies as st

from memorious_spark.functions import htmlkit as hk

PAGE = (
    "<html><head><title>  My   Title </title>"
    '<meta name="author" content="Jane  Doe"/>'
    '<meta property="og:title" content="OG Title"/>'
    '<link href="/style.css" rel="stylesheet"/>'
    "</head><body>"
    '<a href="/a">First</a>'
    '<a href="/a">Dup</a>'
    '<a href="https://other.example.com/b">Cross</a>'
    '<a href="">empty</a>'
    "<a>noattr</a>"
    '<img src="/img.png"/>'
    '<iframe src="/frame.html"></iframe>'
    "<p>Some <b>bold</b> text</p>"
    "</body></html>"
)
BASE = "https://h1.example.com/doc/1"


def test_extract_text_charsets():
    for cs in ("utf-8", "utf-16", "iso-8859-1"):
        body = "héllo wörld".encode(cs, errors="replace")
        out = hk.extract_text(body, f"text/html; charset={cs}")
        assert "llo w" in out
    assert hk.extract_text(None, "text/html") is None
    # undeclared charset falls back to utf-8 with replacement, never raises
    assert hk.extract_text(b"\xff\xfe\x00", None) is not None


def test_detect_charset():
    assert hk.detect_charset("text/html; charset=UTF-16") == "utf-16"
    assert hk.detect_charset("text/html") == "utf-8"
    assert hk.detect_charset("text/html; charset=bogus-enc") == "utf-8"
    assert hk.detect_charset(None, b"\xff\xfe\x00a") == "utf-16"


def test_detect_charset_byte_sniff():
    """Header-silent bodies (memorious/logic/http.py:261-268 guesses
    from bytes): <meta charset> scan, then strict-utf-8 trial with
    iso-8859-1 as the legacy fallback."""
    meta = '<html><head><meta charset="iso-8859-1"></head>café</html>'
    assert hk.detect_charset(None, meta.encode("iso-8859-1")) == "iso-8859-1"
    httpequiv = (
        b'<html><head><meta http-equiv="Content-Type" '
        b'content="text/html; charset=ISO-8859-1"></head>caf\xe9</html>'
    )
    assert hk.detect_charset(None, httpequiv) == "iso-8859-1"
    # a declared header still wins over the meta tag
    assert hk.detect_charset(
        "text/html; charset=utf-8", meta.encode("iso-8859-1")
    ) == "utf-8"
    # undeclared latin-1 bytes: invalid utf-8 → iso-8859-1 heuristic
    assert hk.detect_charset(None, b"<p>caf\xe9 cr\xe8me</p>") == "iso-8859-1"
    assert hk.extract_text(b"<p>caf\xe9</p>", None) == b"<p>caf\xe9</p>".decode(
        "iso-8859-1"
    )
    # valid utf-8 stays utf-8
    assert hk.detect_charset(None, "<p>café</p>".encode()) == "utf-8"
    # a multibyte sequence cut at the 1 KiB window is not evidence
    body = b"a" * 1023 + "é".encode() + b"tail"  # é straddles byte 1024
    assert hk.detect_charset(None, body) == "utf-8"
    # bogus meta declaration falls through to the byte trial
    assert hk.detect_charset(
        None, b'<meta charset="not-a-codec">caf\xe9' + b"x" * 1100
    ) == "iso-8859-1"


def test_title_collapsed():
    root = hk.parse_html(PAGE)
    assert hk.page_title(root) == "My Title"


def test_links_order_dedup_urljoin():
    root = hk.parse_html(PAGE)
    urls = hk.extract_links(root, BASE)
    # URL_TAGS scan order: anchors, then img, link, iframe; first-wins dedup
    assert urls == [
        "https://h1.example.com/a",
        "https://other.example.com/b",
        "https://h1.example.com/img.png",
        "https://h1.example.com/style.css",
        "https://h1.example.com/frame.html",
    ]


def test_meta_first_match_and_attr_suffix():
    root = hk.parse_html(PAGE)
    meta = hk.extract_meta(
        root,
        {
            "author": [".//meta[@name='author']/@content"],
            "title": [".//missing", ".//title"],
            "absent": [".//meta[@name='nope']/@content"],
        },
    )
    assert meta == {"author": "Jane Doe", "title": "My Title"}


def test_properties_list_valued():
    root = hk.parse_html(PAGE)
    props = hk.extract_properties(root, {"links": ".//a/@href", "none": ".//q"})
    assert props["links"] == ["/a", "/a", "https://other.example.com/b"]
    assert "none" not in props


def test_tolerant_parse():
    # unclosed + stray close tags must not crash or lose content
    root = hk.parse_html("<body><p>one<p>two</div><a href='/x'>y</a>")
    assert root is not None
    assert hk.extract_links(root, "http://h/")[0] == "http://h/x"
    assert hk.parse_html(None) is None


def test_collapse_spaces():
    assert hk.collapse_spaces("  a \n\t b  ") == "a b"
    assert hk.collapse_spaces(None) is None


def test_clean_html_exact_output():
    """Pin the clean_html serialization contract byte-for-byte (the
    driver's clean_html_op is rows-only — no SQL can express DOM
    surgery — so this golden test is its exactness check)."""
    from memorious_spark.functions.htmlkit import clean_html

    src = (
        '<html><head><title>T</title></head><body><h1>Hi</h1>'
        '<img src="x.png"/><iframe src="y"></iframe><p>keep</p></body></html>'
    )
    assert clean_html(src, [".//img", ".//iframe"]) == (
        "<html><head><title>T</title></head>"
        "<body><h1>Hi</h1><p>keep</p></body></html>"
    )
    # removing nothing round-trips; unparseable input → None
    assert clean_html(src, [".//video"]) == (
        '<html><head><title>T</title></head><body><h1>Hi</h1>'
        '<img src="x.png"><iframe src="y"></iframe><p>keep</p></body></html>'
    )
    assert clean_html(None, [".//img"]) is None


def test_fuzzy_dates_i18n():
    """de/fr/es month-name parsing (round-3 dateparser-locale breadth)
    plus the existing English/numeric shapes — shared kernel, so the
    oracle inherits these bytes."""
    from memorious_spark.functions.dates import py_iso_date

    assert py_iso_date("5. Januar 2024") == "2024-01-05T00:00:00"
    assert py_iso_date("le 5 janvier 2024") == "2024-01-05T00:00:00"
    assert py_iso_date("5 de enero de 2024") == "2024-01-05T00:00:00"
    assert py_iso_date("Erschienen am 17. März 2023") == "2023-03-17T00:00:00"
    assert py_iso_date("publié le 1 août 1999 à Paris") == "1999-08-01T00:00:00"
    assert py_iso_date("12 de diciembre de 2020") == "2020-12-12T00:00:00"
    # day-out-of-range candidates are skipped, not crashed
    assert py_iso_date("31 de febrero de 2020") is None
    # English and numeric paths unchanged
    assert py_iso_date("Published on March 3, 2021 by staff") == "2021-03-03T00:00:00"
    assert py_iso_date("[2023-06-07]") == "2023-06-07T00:00:00"
    assert py_iso_date("no date here") is None


def test_relative_dates():
    """Relative shapes (dateparser's other family) resolve against an
    INJECTED base — deterministic across executors/retries, unlike
    dateparser's per-call datetime.now() (helpers/dates.py:6-16)."""
    from datetime import datetime

    from memorious_spark.functions.dates import py_iso_date, py_parse_date

    now = datetime(2024, 3, 15, 12, 30, 45)
    assert py_parse_date("3 days ago", now=now) == datetime(2024, 3, 12, 12, 30, 45)
    assert py_parse_date("posted 2 weeks ago by admin", now=now) == datetime(
        2024, 3, 1, 12, 30, 45
    )
    assert py_parse_date("an hour ago", now=now) == datetime(2024, 3, 15, 11, 30, 45)
    # calendar months, not 30-day approximations
    assert py_parse_date("3 months ago", now=now) == datetime(2023, 12, 15, 12, 30, 45)
    # end-of-month clamp (May 31 − 3 months → leap-year Feb 29)
    assert py_parse_date("3 months ago", now=datetime(2024, 5, 31)) == datetime(
        2024, 2, 29
    )
    # de / fr / es
    assert py_parse_date("vor 3 Tagen", now=now) == datetime(2024, 3, 12, 12, 30, 45)
    assert py_parse_date("vor einer Stunde", now=now) == datetime(
        2024, 3, 15, 11, 30, 45
    )
    assert py_parse_date("il y a 2 mois", now=now) == datetime(2024, 1, 15, 12, 30, 45)
    assert py_parse_date("hace un año", now=now) == datetime(2023, 3, 15, 12, 30, 45)
    # bare day words → midnight of that day, all four languages
    assert py_parse_date("yesterday", now=now) == datetime(2024, 3, 14)
    assert py_parse_date("heute", now=now) == datetime(2024, 3, 15)
    assert py_parse_date("demain", now=now) == datetime(2024, 3, 16)
    assert py_parse_date("publié hier à Paris", now=now) == datetime(2024, 3, 14)
    # absolute dates in the same string win over relative noise
    assert py_iso_date("updated 2023-06-07, 3 days ago", now=now) == (
        "2023-06-07T00:00:00"
    )
    # without a base, relative shapes stay unparsed (no hidden now())
    assert py_parse_date("3 days ago") is None
    assert py_parse_date("2024-01-02") == datetime(2024, 1, 2)


def test_parse_sitemap():
    """sitemaps.org protocol: namespaced urlset, bare sitemapindex,
    whitespace-trimmed locs, document order; non-sitemap XML / HTML /
    junk / None all -> []."""
    from memorious_spark.functions.htmlkit import parse_sitemap

    ns = (
        '<?xml version="1.0"?>'
        '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        "<url><loc> https://a.com/1 </loc><lastmod>2026-01-01</lastmod></url>"
        "<url><loc>https://a.com/2</loc></url></urlset>"
    )
    assert parse_sitemap(ns) == ["https://a.com/1", "https://a.com/2"]
    idx = (
        "<sitemapindex><sitemap><loc>https://a.com/s1.xml</loc></sitemap>"
        "<sitemap><loc>https://a.com/s2.xml</loc></sitemap></sitemapindex>"
    )
    assert parse_sitemap(idx) == ["https://a.com/s1.xml", "https://a.com/s2.xml"]
    assert parse_sitemap("<rss><channel><loc>x</loc></channel></rss>") == []
    assert parse_sitemap("<html><body>no</body></html>") == []
    assert parse_sitemap("not xml <") == []
    assert parse_sitemap(None) == []
    assert parse_sitemap("") == []


def test_dates_extended_locales():
    """dateparser-locale breadth (VERDICT r4 residual #3): it/pt/nl/pl
    month names (incl. Polish genitive + accent-stripped fallbacks),
    relative shapes ("3 giorni fa", "há 3 dias", "3 dagen geleden",
    "3 dni temu"), and day words — all against the injected base;
    uncovered locales still honest-fail."""
    from datetime import datetime

    from memorious_spark.functions.dates import py_iso_date

    now = datetime(2024, 3, 15, 10, 30)
    absolute = [
        ("pubblicato il 5 gennaio 2024", "2024-01-05T00:00:00"),
        ("publicado em 5 de janeiro de 2024", "2024-01-05T00:00:00"),
        ("gepubliceerd op 5 januari 2024", "2024-01-05T00:00:00"),
        ("opublikowano 5 stycznia 2024", "2024-01-05T00:00:00"),
        ("5 września 2023", "2023-09-05T00:00:00"),
        ("5 wrzesnia 2023", "2023-09-05T00:00:00"),  # ASCII fallback
        ("12 março 2021", "2021-03-12T00:00:00"),
    ]
    for text, want in absolute:
        assert py_iso_date(text) == want, text
    relative = [
        ("há 3 dias", "2024-03-12T10:30:00"),
        ("3 giorni fa", "2024-03-12T10:30:00"),
        ("2 settimane fa", "2024-03-01T10:30:00"),
        ("3 dagen geleden", "2024-03-12T10:30:00"),
        ("een uur geleden", "2024-03-15T09:30:00"),
        ("3 dni temu", "2024-03-12T10:30:00"),
        ("2 lata temu", "2022-03-15T10:30:00"),
        ("5 miesięcy temu", "2023-10-15T10:30:00"),  # month clamp path
        ("ieri", "2024-03-14T00:00:00"),
        ("ontem", "2024-03-14T00:00:00"),
        ("wczoraj", "2024-03-14T00:00:00"),
        ("jutro", "2024-03-16T00:00:00"),
    ]
    for text, want in relative:
        assert py_iso_date(text, now=now) == want, text
    # tr/ru/etc. stay honest-fails, and relative shapes without an
    # injected base never guess
    assert py_iso_date("5 Ocak 2024") is None
    assert py_iso_date("3 giorni fa") is None


def test_extract_links_fast_join_equals_urljoin():
    """The root-relative fast path must be byte-identical to urljoin
    for every ref shape, including the ones it must NOT fast-path
    (query/fragment markers, protocol-relative, stripped bytes)."""
    from urllib.parse import urljoin

    from memorious_spark.functions.htmlkit import extract_links, parse_html

    refs = [
        "/doc/5", "/", "/a/b;p=1", "/a%20b", "/a b", "/deep/../x",
        "/p?", "/p#", "/p?q=1", "/p#frag", "//other.host/x",
        "/tab\there", "doc/rel", "../up", "https://abs.example.com/z",
        "HTTPS://abs.example.com/Z", "?onlyquery", "#onlyfrag",
        "/trailing/", "/:@weird", "/a\\b", "/j3;", "/a;/b;",
    ]
    bases = [
        "https://h0.example.com/doc/1",
        "HTTP://MiXed.Example.com:8080/a/b?x=1#f",
        "https://h1.example.com/",
    ]
    for base in bases:
        html = "<html><body>" + "".join(
            f'<a href="{r}">t</a>' for r in refs
        ) + "</body></html>"
        got = extract_links(parse_html(html), base)
        # reference: plain urljoin over the same scan order with the
        # same first-wins dedup
        seen, want = set(), []
        for r in refs:
            u = urljoin(base, r.strip())
            if u and u not in seen:
                seen.add(u)
                want.append(u)
        assert got == want, (base, got, want)


# the bases of test_extract_links_fast_join_equals_urljoin
_LINK_BASES = [
    "https://h0.example.com/doc/1",
    "HTTP://MiXed.Example.com:8080/a/b?x=1#f",
    "https://h1.example.com/",
]
# path segments: dot segments, empty ones ("//"), ;params, escapes,
# whitespace and backslashes — every shape the fast path must leave to
# urljoin or join identically
_segment = st.sampled_from(
    ["a", "doc", "5", "", ".", "..", "%", "%2e", "%20", ";", "a;p=1",
     "a b", "t\tab", "n\nl", "a\\b", "x=1&y"]
)
_path = st.lists(_segment, min_size=1, max_size=5).map("/".join)
_tail = st.sampled_from(["", "?", "?q=1", "#", "#f", "?q#f", "\n", "\r"])
_href = st.one_of(
    st.builds(lambda p, t: "/" + p + t, _path, _tail),
    st.builds(
        lambda scheme, p, t: scheme + "://abs.example.com/" + p + t,
        st.sampled_from(["http", "https", "HTTP", "Https", "hTtPs"]),
        _path,
        _tail,
    ),
)
# leading/trailing whitespace the kernel and the reference both strip
_pad = st.sampled_from(["", " ", "\t", "\n"])


@settings(derandomize=True, deadline=None, max_examples=1000)
@given(st.lists(st.builds(lambda a, h, b: a + h + b, _pad, _href, _pad),
                min_size=1, max_size=12))
def test_extract_links_equals_urljoin_property(refs):
    """Property form of the fast-join contract: for generated hrefs,
    ``extract_links`` equals first-wins ``urljoin`` over the refs."""
    import html
    from urllib.parse import urljoin

    from memorious_spark.functions.htmlkit import extract_links, parse_html

    doc = "<html><body>" + "".join(
        f'<a href="{html.escape(r)}">t</a>' for r in refs
    ) + "</body></html>"
    for base in _LINK_BASES:
        got = extract_links(parse_html(doc), base)
        seen, want = set(), []
        for r in refs:
            u = urljoin(base, r.strip())
            if u and u not in seen:
                seen.add(u)
                want.append(u)
        assert got == want, (base, refs, got, want)
