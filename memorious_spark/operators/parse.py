"""Parse stage: vectorized HTML extraction over the fetched batch.

One Arrow-batched pandas UDF per parse config replaces the per-task
lxml work of memorious/operations/parse.py:105-119 (title + links +
meta + FTM properties) and the text decode of
memorious/logic/http.py:315-336. The UDF body delegates to the pure
kernel :mod:`memorious_spark.functions.htmlkit` — the SAME functions
the reference-faithful oracle runs, which is what makes the per-URL
extracted text byte-identical by construction.

NON_HTML mimes (memorious/logic/mime.py shape) are never DOM-parsed
(the reference's ``.html`` returns None for them,
http.py:323-336) — their text is still the decoded body.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StringType

from memorious_spark.functions import htmlkit
from memorious_spark.functions.mime import NON_HTML

# sitemap-capable response types (sitemaps.org: served as XML)
_XML_MIMES = frozenset({"application/xml", "text/xml"})

__all__ = ["ParseConfig", "parse_stage", "extract_links_df"]


@dataclass(frozen=True)
class ParseConfig:
    """Driver-side parse parameters (the YAML ``params`` of a parse
    stage: meta/meta_date xpaths parse.py:72-92, schema+properties
    parse.py:95-102, include_paths parse.py:36-44)."""

    meta: dict[str, list[str]] = field(default_factory=dict)
    # keys of `meta` that came from the YAML meta_date block — their
    # values run through iso_date (parse.py:86-87, helpers/dates.py)
    meta_dates: tuple[str, ...] = ()
    properties: dict[str, str] = field(default_factory=dict)
    include_paths: tuple[str, ...] | None = None
    schema: str | None = None
    # emit <loc> URLs of sitemap XML responses as frontier links
    # (sitemaps.org protocol; functions/htmlkit.parse_sitemap). The
    # reference has no sitemap support — frontier crawlers do.
    sitemaps: bool = False


# links come back as a FLAT string array (the position is the emit
# index); extract_links_df explodes it JVM-side — python-object→Arrow
# conversion of list-of-dict columns measured ~10× slower than flat
# string arrays.
_PARSE_OUT_FIELDS = (
    "title string, text string, meta map<string,string>, "
    "properties map<string,array<string>>, link_urls array<string>"
)


def parse_stage(
    fetched: DataFrame,
    config: ParseConfig | None = None,
    clean_paths: tuple[str, ...] | None = None,
) -> DataFrame:
    """Add title/text/meta/properties/links columns; input needs
    ``final_url``, ``html``, ``content_type_raw`` (fetch_stage output).

    One ``mapInPandas`` pass, NOT a struct-returning pandas_udf +
    field projection: Catalyst inlines a struct UDF once per extracted
    field (measured 5× re-evaluation of the whole parse). The ``html``
    binary is consumed here and dropped from the output — downstream
    stages never need the raw bytes, so they stop riding the Arrow
    stream (the reference's pass-hash-not-body economy, SURVEY.md §3.3).

    ``clean_paths`` (the YAML clean_html stage, operations/clean.py:
    11-26) adds ``clean_text``/``clean_hash`` columns — the
    re-serialized DOM with the matching subtrees dropped and its sha1
    — computed in the SAME pass on the already-parsed tree (no second
    Arrow transfer of the body). Null for non-HTML / unparseable rows.
    """
    config = config or ParseConfig()
    meta_paths = dict(config.meta)
    date_keys = tuple(config.meta_dates)
    properties = dict(config.properties)
    include = list(config.include_paths) if config.include_paths else None
    clean_list = list(clean_paths) if clean_paths else None
    sitemaps = config.sitemaps

    keep_cols = [c for c in fetched.columns if c != "html"]
    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in fetched.schema.fields
        if f.name != "html"
    ) + ", " + _PARSE_OUT_FIELDS
    if clean_list:
        out_schema += ", clean_text string, clean_hash string"

    def parse_batches(batches):
        import hashlib

        for pdf in batches:
            titles, texts, metas, props = [], [], [], []
            lurls = []
            cleans, chashes = [], []
            for u, body, ct in zip(
                pdf["final_url"], pdf["html"], pdf["content_type_raw"]
            ):
                body = bytes(body) if body is not None else None
                text = htmlkit.extract_text(body, ct)
                mime = (ct or "").split(";", 1)[0].strip().lower()
                root = (
                    htmlkit.parse_html(text)
                    if text is not None and mime not in NON_HTML
                    else None
                )
                titles.append(htmlkit.page_title(root))
                texts.append(text)
                metas.append(
                    htmlkit.extract_meta(root, meta_paths, date_keys)
                    if meta_paths
                    else None
                )
                props.append(
                    htmlkit.extract_properties(root, properties)
                    if properties
                    else None
                )
                page_urls = htmlkit.extract_links(root, u, include)
                if sitemaps and mime in _XML_MIMES:
                    # sitemap face: XML responses carry no <a> anchors,
                    # links come from <loc> instead — same flat array
                    page_urls.extend(htmlkit.parse_sitemap(text))
                lurls.append(page_urls)
                if clean_list:
                    # LAST: clean_tree mutates the DOM the extractors
                    # above already consumed; hash = sha1 of the
                    # serialized bytes (context.store_data, clean.py:23)
                    cleaned = htmlkit.clean_tree(root, clean_list)
                    cleans.append(cleaned)
                    chashes.append(
                        hashlib.sha1(cleaned.encode("utf-8")).hexdigest()
                        if cleaned is not None
                        else None
                    )
            out = pdf[keep_cols].copy()
            out["title"] = titles
            out["text"] = texts
            out["meta"] = metas
            out["properties"] = props
            out["link_urls"] = lurls
            if clean_list:
                out["clean_text"] = cleans
                out["clean_hash"] = chashes
            yield out

    out = fetched.mapInPandas(parse_batches, out_schema)
    if config.schema is not None:
        out = out.withColumn("schema", F.lit(config.schema))
    return out


def clean_html_udf(remove_paths: list[str]):
    """clean_html op (memorious/operations/clean.py:11-26): drop DOM
    subtrees matching remove_paths, re-serialize. Returns a
    (html binary, content_type_raw string) → cleaned html string UDF."""
    paths = list(remove_paths)

    @F.pandas_udf(StringType())
    def _clean(html: pd.Series, ct: pd.Series) -> pd.Series:  # pragma: no cover
        return pd.Series(
            [
                htmlkit.clean_html(
                    htmlkit.extract_text(
                        bytes(b) if b is not None else None, c
                    ),
                    paths,
                )
                for b, c in zip(html, ct)
            ]
        )

    return _clean


def extract_links_df(parsed: DataFrame) -> DataFrame:
    """Explode outbound links → candidate rows for the next frontier
    round. Base-URL resolution already happened inside the UDF
    (urljoin against the post-redirect final_url, as the reference
    resolves against response.url, parse.py:45). ``link_idx`` is the
    within-page emit position — the deterministic-order key — and
    falls out of ``posexplode`` for free."""
    return parsed.select(
        F.col("final_url").alias("src_url"),
        F.col("emit_seq").alias("src_emit_seq"),
        (F.col("depth") + 1).alias("depth"),
        F.posexplode("link_urls").alias("link_idx", "url"),
    ).select(
        "url",
        F.col("link_idx").cast("int"),
        "src_url",
        "src_emit_seq",
        "depth",
    )
