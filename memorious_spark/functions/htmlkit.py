"""Pure-Python HTML kernel shared by the Spark pandas UDFs and the
single-threaded reference oracle.

This module is the fidelity pivot: the engine's parse stage
(:mod:`memorious_spark.operators.parse`) and the oracle crawler
(:mod:`memorious_spark.oracle`) both call *these* functions, so
"byte-identical extracted text per url" holds by construction and the
tests verify the Spark plumbing preserves it at scale.

Reference semantics reproduced here (see /root/reference):
- text extraction = decode body bytes with the declared charset,
  ``errors="replace"`` (memorious/logic/http.py:315-336, charset pick
  :261-268). lxml is unavailable in this sandbox, so the tolerant DOM
  is built on the stdlib ``html.parser`` instead; the contract is
  defined by THIS implementation and mirrored exactly in the oracle.
- link extraction order = the URL_TAGS scan order of
  memorious/operations/parse.py:12-18 — root ``href``, then ``.//a``
  hrefs, ``.//img`` srcs, ``.//link`` hrefs, ``.//iframe`` srcs, in
  document order within each tag class, with a per-page first-wins
  seen set (parse.py:21-69) and ``urljoin`` base resolution
  (parse.py:45).
- ``collapse_spaces`` = whitespace-run collapse + strip, applied to
  the page title and meta values (parse.py:83-86).

No state, no I/O, no wall clock: every function is deterministic in
its arguments, which is what lets it run unchanged inside an Arrow
batch on an executor or in a driver-side loop.
"""

from __future__ import annotations

import codecs
import re
from html.parser import HTMLParser
from urllib.parse import urljoin, urlsplit
from xml.etree.ElementTree import Element

__all__ = [
    "collapse_spaces",
    "detect_charset",
    "extract_text",
    "parse_html",
    "page_title",
    "extract_links",
    "extract_meta",
    "extract_properties",
    "URL_TAGS",
    "VOID_ELEMENTS",
]

# The exact tag/attribute scan set of memorious/operations/parse.py:12-18.
URL_TAGS: tuple[tuple[str, str], ...] = (
    (".", "href"),
    (".//a", "href"),
    (".//img", "src"),
    (".//link", "href"),
    (".//iframe", "src"),
)

# HTML5 void elements — never pushed on the open-element stack.
VOID_ELEMENTS = frozenset(
    {
        "area", "base", "br", "col", "embed", "hr", "img", "input",
        "link", "meta", "param", "source", "track", "wbr",
    }
)

_WS_RE = re.compile(r"\s+", re.U)
_CHARSET_RE = re.compile(r"charset=([\w.-]+)", re.I)
# byte-level sniff: <meta charset="…"> or <meta http-equiv=… content=
# "…; charset=…"> in the document head (both match on `charset=`)
_META_CHARSET_RE = re.compile(rb"<meta[^>]+charset\s*=\s*[\"']?([\w.-]+)", re.I)


def collapse_spaces(value: str | None) -> str | None:
    """Whitespace-run collapse + strip (normality.collapse_spaces shape)."""
    if value is None:
        return None
    return _WS_RE.sub(" ", value).strip()


def detect_charset(content_type: str | None, body: bytes | None = None) -> str:
    """Charset from the Content-Type parameter, else guessed from the
    raw bytes, else utf-8.

    The reference guesses from bytes when the header is silent
    (memorious/logic/http.py:261-268, chardet-backed); the
    dependency-free guess here is, in priority order:
    BOM sniff → ``<meta charset>`` / ``http-equiv`` scan of the first
    1 KiB → strict-utf-8 trial of that head (invalid byte sequences →
    iso-8859-1, the accepts-everything legacy-web fallback). A
    declared header charset always wins, so declared-corpus byte
    identity is unaffected.
    """
    if content_type:
        m = _CHARSET_RE.search(content_type)
        if m:
            enc = m.group(1).lower()
            try:
                codecs.lookup(enc)
                return enc
            except LookupError:
                pass
    if body is not None:
        if body.startswith(b"\xff\xfe") or body.startswith(b"\xfe\xff"):
            return "utf-16"
        if body.startswith(b"\xef\xbb\xbf"):
            return "utf-8-sig"
        head = bytes(body[:1024])
        m = _META_CHARSET_RE.search(head)
        if m:
            enc = m.group(1).decode("ascii", "ignore").lower()
            try:
                codecs.lookup(enc)
                return enc
            except LookupError:
                pass
        try:
            head.decode("utf-8")
        except UnicodeDecodeError as e:
            # an error within the last 3 bytes may just be a multibyte
            # sequence cut by the 1 KiB window — not evidence against
            # utf-8
            if e.start < len(head) - 3:
                return "iso-8859-1"
    return "utf-8"


def extract_text(body: bytes | None, content_type: str | None) -> str | None:
    """Decode raw body bytes → text, ``errors="replace"``.

    Mirrors memorious's ``ContextHttpResponse.text``
    (memorious/logic/http.py:315-321): bytes decoded with the detected
    encoding using the "replace" error handler; None body → None.
    """
    if body is None:
        return None
    return body.decode(detect_charset(content_type, body), errors="replace")


class _TreeBuilder(HTMLParser):
    """Tolerant HTML → ElementTree builder on the stdlib parser.

    Handles void elements, stray close tags, and unclosed elements the
    way scraped web pages require. The resulting Element supports the
    ElementPath subset (``.//a``, ``.//meta[@name='x']``) used by the
    rule DSL and meta-extraction specs.
    """

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = Element("html")
        self._stack: list[Element] = [self.root]
        self._saw_root = False

    def handle_starttag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        attrib = {k: (v if v is not None else "") for k, v in attrs}
        if tag == "html" and not self._saw_root:
            self._saw_root = True
            self.root.attrib.update(attrib)
            return
        el = Element(tag, attrib)
        self._stack[-1].append(el)
        if tag not in VOID_ELEMENTS:
            self._stack.append(el)

    def handle_startendtag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        attrib = {k: (v if v is not None else "") for k, v in attrs}
        if tag == "html" and not self._saw_root:
            self._saw_root = True
            self.root.attrib.update(attrib)
            return
        self._stack[-1].append(Element(tag, attrib))

    def handle_endtag(self, tag: str) -> None:
        if tag in VOID_ELEMENTS:
            return
        for i in range(len(self._stack) - 1, 0, -1):
            if self._stack[i].tag == tag:
                del self._stack[i:]
                return
        # stray close tag: ignored (tolerant parse)

    def handle_data(self, data: str) -> None:
        cur = self._stack[-1]
        if len(cur):
            last = cur[-1]
            last.tail = (last.tail or "") + data
        else:
            cur.text = (cur.text or "") + data


def parse_html(text: str | None) -> Element | None:
    """Parse HTML text into a tolerant ElementTree; None on failure.

    Stands in for ``lxml.html.fromstring`` with a None-on-parse-error
    contract (memorious/logic/http.py:323-336).
    """
    if text is None:
        return None
    try:
        builder = _TreeBuilder()
        builder.feed(text)
        builder.close()
        return builder.root
    except Exception:
        return None


def _text_content(el: Element) -> str:
    return "".join(el.itertext())


def _findall(root: Element, path: str) -> list:
    """ElementPath findall with an ``/@attr`` suffix extension.

    ``.//meta[@name='author']/@content`` → list of attribute strings.
    Plain paths return Elements. ``.`` returns the root itself.
    """
    attr = None
    if "/@" in path:
        path, attr = path.rsplit("/@", 1)
    if path in (".", ""):
        found = [root]
    else:
        try:
            found = root.findall(path)
        except SyntaxError:
            return []
    if attr is not None:
        return [el.get(attr) for el in found if el.get(attr) is not None]
    return found


def page_title(root: Element | None) -> str | None:
    """First ``.//title`` text, collapsed (parse.py:107-109 shape)."""
    if root is None:
        return None
    el = root.find(".//title")
    if el is None:
        return None
    return collapse_spaces(_text_content(el))


def extract_links(
    root: Element | None,
    base_url: str,
    include_paths: list[str] | None = None,
) -> list[str]:
    """Extract outbound links as absolute URLs in emit order.

    Faithful to memorious/operations/parse.py:21-69: URL_TAGS scan
    order, per-page first-wins dedup on the joined absolute URL,
    urljoin base resolution, skip empty attrs. A URL's list position
    is its emit index, the within-page ordering key for the
    deterministic crawl-order contract (SURVEY.md §4.3). The
    reference's optional link titles are not extracted: no table
    stores them.
    """
    if root is None:
        return []
    roots = [root]
    if include_paths:
        roots = [el for p in include_paths for el in _findall(root, p)]
    # root-relative fast path: for a plain "/path" ref (no "//", no
    # ;params/query/fragment marker — urljoin drops an empty ";" part —
    # none of the \t\r\n bytes urlsplit strips)
    # ``urljoin`` provably reduces to scheme://netloc + ref — the
    # dominant link shape on real pages, and urljoin's parse/unparse
    # round-trip is ~26µs/call (a quarter of the whole parse kernel).
    # Anything outside those conditions falls back to urljoin, so the
    # byte contract is untouched.
    fast_prefix = None
    try:
        sp = urlsplit(base_url)
        if sp.scheme and sp.netloc:
            fast_prefix = sp.scheme + "://" + sp.netloc
    except ValueError:
        pass
    seen: set[str] = set()
    out: list[str] = []
    for path, attr in URL_TAGS:
        for r in roots:
            for el in _findall(r, path):
                raw = el.get(attr)
                if raw is None or not raw.strip():
                    continue
                raw = raw.strip()
                if (
                    fast_prefix is not None
                    and raw.startswith("/")
                    and not raw.startswith("//")
                    and "/." not in raw  # urljoin removes ./.. segments
                    and not any(c in raw for c in ";?#\t\r\n")
                ):
                    url = fast_prefix + raw
                else:
                    try:
                        url = urljoin(base_url, raw)
                    except ValueError:
                        continue
                if not url or url in seen:
                    continue
                seen.add(url)
                out.append(url)
    return out


def clean_html(text: str | None, remove_paths: list[str]) -> str | None:
    """Drop DOM subtrees matching ``remove_paths``, re-serialize.

    The clean_html operation of memorious/operations/clean.py:11-26
    (remove_paths XPaths → re-serialized document with a new content
    hash). Serialization contract is ElementTree's html method —
    defined by THIS kernel, shared engine/oracle.
    """
    return clean_tree(parse_html(text), remove_paths)


def clean_tree(root: Element | None, remove_paths: list[str]) -> str | None:
    """:func:`clean_html` over an already-parsed tree (the parse UDF
    reuses its DOM instead of re-parsing). MUTATES ``root`` — callers
    must run their own extraction first."""
    if root is None:
        return None
    for path in remove_paths:
        victims = set(map(id, _findall(root, path)))
        if not victims:
            continue
        for parent in root.iter():
            for child in list(parent):
                if id(child) in victims:
                    parent.remove(child)
    from xml.etree.ElementTree import tostring

    return tostring(root, encoding="unicode", method="html")


def extract_meta(
    root: Element | None,
    meta_paths: dict[str, list[str]],
    date_keys: tuple[str, ...] | frozenset = (),
) -> dict[str, str]:
    """Per-key meta extraction (parse.py:72-92, faithfully): each
    xpath in the list takes its FIRST matching element; a later xpath
    whose value is non-None overwrites an earlier one (the reference
    breaks only the element loop, not the xpath loop). ``/@attr``
    suffixes select attribute values. Keys in ``date_keys`` (the
    YAML ``meta_date`` block) run through ``iso_date`` before
    assignment — an unparseable date leaves the key unset
    (parse.py:86-89).
    """
    from memorious_spark.functions.dates import py_iso_date

    out: dict[str, str] = {}
    if root is None:
        return out
    for key, paths in meta_paths.items():
        for path in paths:
            for hit in _findall(root, path):
                value = hit if isinstance(hit, str) else _text_content(hit)
                value = collapse_spaces(value)
                if key in date_keys:
                    value = py_iso_date(value)
                if value:
                    out[key] = value
                break  # first element per xpath, like the reference
    return out


def extract_properties(
    root: Element | None, properties: dict[str, str]
) -> dict[str, list[str]]:
    """FTM-style list-valued property extraction (parse.py:95-102).

    Every match of each path contributes one collapsed string; keys
    with no matches are omitted.
    """
    out: dict[str, list[str]] = {}
    if root is None:
        return out
    for key, path in properties.items():
        values = []
        for hit in _findall(root, path):
            value = hit if isinstance(hit, str) else _text_content(hit)
            value = collapse_spaces(value)
            if value:
                values.append(value)
        if values:
            out[key] = values
    return out


def parse_sitemap(text: str | None) -> list[str]:
    """``<loc>`` URLs from a sitemap document (sitemaps.org protocol):
    both ``<urlset>`` page lists and ``<sitemapindex>`` child-sitemap
    lists, namespace-agnostic (real sitemaps carry the
    ``http://www.sitemaps.org/schemas/sitemap/0.9`` xmlns; many hand-
    written ones don't). Order preserved (document order — the
    frontier's deterministic link_idx); whitespace inside ``<loc>``
    trimmed per spec. Unparseable/non-sitemap XML → ``[]`` (the
    tolerant-parse posture of the rest of this module). The reference
    never reads sitemaps (single-site YAML crawls seed explicit URLs);
    a frontier crawler gets its cheapest high-quality seeds here."""
    if not text:
        return []
    from xml.etree.ElementTree import fromstring

    try:
        root = fromstring(text)
    except Exception:
        return []
    tag = root.tag.rsplit("}", 1)[-1].lower()
    if tag not in ("urlset", "sitemapindex"):
        return []
    out: list[str] = []
    for el in root.iter():
        if el.tag.rsplit("}", 1)[-1].lower() == "loc" and el.text:
            loc = el.text.strip()
            if loc:
                out.append(loc)
    return out
