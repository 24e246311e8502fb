"""Fetch stage: the corpus join.

The live ``requests.get`` of memorious (memorious/operations/fetch.py:
8-42, memorious/logic/http.py:180-203) becomes a join of the frontier
against the page-corpus table — same economy as the reference's
pass-content-hash-not-body handoff (SURVEY.md §3.3), but batched.

Join strategy (the 100 TB design point): Spark cannot broadcast the
left side of a LEFT OUTER join, so a naive ``frontier LEFT JOIN
corpus`` degrades to a full corpus shuffle. Instead:

- hits   = ``corpus INNER JOIN broadcast(frontier)`` — a broadcast
  hash join: zero shuffle, and Spark 4's runtime bloom/DPP machinery
  can prune corpus files by the broadcast side's key set.
- misses = ``frontier LEFT ANTI hit_keys`` (:func:`retry_rows`) —
  computed by the caller from the round's *persisted* parse output,
  so retry bookkeeping adds no corpus scan (one measurably dominated
  small rounds).

The corpus is scanned THREE times per round: ``hits`` is not cached
and feeds both the direct-hit and the redirect filter, so the plan
holds the direct-hit scan (reads ``html``), a narrow redirect-subset
scan (``url, status_code, redirect_to``) and the redirect-target scan
(reads ``html``). test_plans.py::test_fetch_join_broadcasts_frontier
locks that count.

Past ``_BROADCAST_MAX_ROWS`` the frontier side falls back to a
SHUFFLE_HASH-hinted key-partitioned shuffle join (hash build on the
frontier side — never a sort of the corpus). Crawl rounds plan
statically, so no adaptive skew-join split backs it. None is needed
for the direct join: its key is the url, which has one corpus row, and
the round's dedup and seen anti-join leave each url about once on the
frontier side. Only many redirects into one target share a key. On a
real deployment the corpus is bucketed by url so even that path
avoids re-shuffling the 100 TB side — demonstrated, not asserted:
test_plans.py::test_bucketed_corpus_join_never_shuffles_corpus shows
the bucketed-table join with ZERO exchange above the corpus scan.
``selected_count=None`` takes this fallback (test_plans.py locks its
plan; test_crawl_e2e.py lowers ``_BROADCAST_MAX_ROWS`` to verify crawl
equality).

Outcome taxonomy (reference-faithful):
- ``ok`` = status < 400, exactly requests' ``Response.ok`` used by the
  reference (memorious/logic/http.py:299-303). Non-ok rows (4xx/5xx)
  are fetched but NOT emitted downstream unless ``emit_errors``
  (fetch.py:22-26) — the runner gates on it.
- single-hop redirect (301/302 + redirect_to) → re-joined to the
  target row; the SOURCE url is tagged into the seen set after the
  rule+ok gates (fetch.py:31-33 tags ``make_key(run_id, url)`` with
  the *requested* url — the runner implements the tag).
- missing corpus row → transient failure → re-enqueued into the next
  round with ``attempt+1`` (the network-error retry loop of
  fetch.py:35-42 discretized to rounds), dropped after ``retries``.
  HTTP error statuses do NOT retry (the reference only recurses on
  RequestException, i.e. transport errors).

``F.sha1(html)`` reproduces the reference's content hash
(memorious/logic/http.py:190-199).

Contract: ``corpus.url`` must be canonical (pre-normalized) — both
the main join and redirect resolution join normalized keys against it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from memorious_spark.functions.urls import norm_col

__all__ = ["fetch_stage", "retry_rows", "FRONTIER_COLS"]

_BROADCAST_MAX_ROWS = 2_000_000

FRONTIER_COLS = [
    "url", "url_norm", "url_hash", "host", "depth", "priority",
    "src_url", "link_idx", "emit_seq", "attempt",
]

_CORPUS_COLS = {
    "url": "f_url",
    "warc_ts": "f_warc_ts",
    "html": "f_html",
    "lang": "f_lang",
    "content_type": "f_content_type_raw",
    "status_code": "f_status",
    "redirect_to": "f_redirect_to",
}


def _prefixed(corpus: DataFrame) -> DataFrame:
    return corpus.select(*[F.col(c).alias(a) for c, a in _CORPUS_COLS.items()])


def _finalize(
    joined: DataFrame, redirected_from: bool, frontier_cols: list[str]
) -> DataFrame:
    from_col = (
        F.col("_redir_src") if redirected_from else F.lit(None).cast("string")
    )
    return joined.select(
        *frontier_cols,
        F.col("f_url").alias("final_url"),
        from_col.alias("redirected_from"),
        F.col("f_status").alias("status_code"),
        F.lower(F.trim(F.split(F.col("f_content_type_raw"), ";").getItem(0))).alias(
            "content_type"
        ),
        F.col("f_content_type_raw").alias("content_type_raw"),
        F.col("f_warc_ts").alias("warc_ts"),
        F.col("f_lang").alias("lang"),
        F.col("f_html").alias("html"),
        F.when(F.col("f_html").isNotNull(), F.sha1(F.col("f_html"))).alias(
            "content_hash"
        ),
        # requests' Response.ok (status < 400) — the reference's emit gate
        (F.col("f_status") < 400).alias("ok"),
    )


def fetch_stage(
    selected: DataFrame,
    corpus: DataFrame,
    selected_count: int | None = None,
) -> DataFrame:
    """Join the budget-selected frontier rows against the corpus.

    Returns every hit (any status) with content + response metadata,
    redirects resolved single-hop. Gating (rules, ok) and retry of
    misses are the runner's job — this stage never drops a joined row,
    so its output is the single source of truth for the round's fetch
    outcomes (three corpus scans per round, see the module docstring).
    The frontier side is broadcast when ``selected_count`` is known and
    at most ``_BROADCAST_MAX_ROWS``.
    """
    broadcast_frontier = (
        selected_count is not None and selected_count <= _BROADCAST_MAX_ROWS
    )
    # non-broadcast fallback: SHUFFLE_HASH builds the hash table on the
    # frontier side — a sort-merge join would SORT the corpus side,
    # which is exactly the 100 TB catastrophe the hint forbids
    maybe_bc = (
        F.broadcast if broadcast_frontier else (lambda df: df.hint("shuffle_hash"))
    )
    # every non-corpus column of the frontier side passes through —
    # extra columns (e.g. the http-cache probe's cached_* fields) ride
    # the join untouched
    frontier_cols = [c for c in selected.columns]

    pc = _prefixed(corpus)
    hits = pc.join(
        maybe_bc(selected), pc["f_url"] == selected["url_norm"], "inner"
    )
    # NOT persisted: caching 10^5-10^6 rows of html measurably beats up
    # storage memory at high core counts; the downstream parse output IS
    # persisted (it's 10× smaller, no html) and carries the hit keys.
    # The price: ``direct`` and ``redirects`` each re-scan the corpus.
    direct = hits.filter(
        ~F.col("f_status").isin(301, 302) | F.col("f_redirect_to").isNull()
    )
    fetched_direct = _finalize(direct, redirected_from=False, frontier_cols=frontier_cols)

    # Single-hop redirect resolution: a narrow scan for the redirect
    # subset plus one more inner-join scan for its targets. The target
    # key is normalized like every other join key (corpus urls are
    # canonical).
    redirects = hits.filter(
        F.col("f_status").isin(301, 302) & F.col("f_redirect_to").isNotNull()
    ).select(
        *frontier_cols,
        F.col("url").alias("_redir_src"),
        norm_col(F.col("f_redirect_to")).alias("_target"),
    )
    pc2 = _prefixed(corpus)
    rjoined = pc2.join(
        maybe_bc(redirects), pc2["f_url"] == F.col("_target"), "inner"
    )  # dangling redirects drop out of the inner join; the redirect
    # subset follows the main join's strategy (a 10^10-row frontier's
    # redirect slice is itself too big to broadcast)
    return fetched_direct.unionByName(
        _finalize(rjoined, redirected_from=True, frontier_cols=frontier_cols)
    )


def retry_rows(
    selected: DataFrame, hit_keys: DataFrame, retries: int
) -> DataFrame:
    """Frontier rows whose url joined NO corpus row this round →
    re-enqueue with ``attempt+1``, dropped past ``retries``.
    ``hit_keys`` (url_norm) should come from the round's persisted
    parse output so this never re-scans the corpus.

    SHUFFLE_HASH, not broadcast: both sides are budget-bounded and
    cached, and a broadcast build of ~selected-size keys is a *serial*
    driver cost every round (measurably flattens N→4N scaling),
    whereas the shuffle parallelizes with the cluster."""
    return (
        selected.join(hit_keys.hint("shuffle_hash"), "url_norm", "left_anti")
        .select(*FRONTIER_COLS)
        .withColumn("attempt", F.col("attempt") + 1)
        .filter(F.col("attempt") <= retries)
    )
