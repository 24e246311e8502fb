"""Reference-faithful single-threaded crawl oracle.

A pure-Python reimplementation of memorious's execution loop — FIFO
queue drain (memorious/model/queue.py:17-27 append order +
servicelayer worker FIFO), tag-at-emit link dedup
(memorious/operations/parse.py:55-58), redirect SOURCE-url tagging at
fetch time after the rule+ok gates (memorious/operations/fetch.py:
17-33: rule gate → ``result.ok`` gate (< 400, http.py:299-303) →
``set_tag(make_key(run_id, url))`` with the *requested* url), and
store routing (parse.py:117-119) — run against the same in-memory
page corpus the Spark engine crawls.

``budget`` switches to the engine's round-discretized politeness
semantics ("k rows per host per round" ≙ the reference's stage
parking, memorious/model/queue.py:30-37): each round selects the
lowest-emit_seq ``budget`` rows per host, the rest carries over, and
corpus misses re-enter with ``attempt+1`` up to ``retries`` — a
parked retry occupies a later round's slot exactly as in the engine,
which is what makes emit order comparable under contention.

It deliberately shares the SAME pure kernels as the engine's UDFs
(:mod:`memorious_spark.functions.htmlkit`, ``rules.compile_py``,
``urls.py_norm``), so "byte-identical extracted text per url" and
"identical seen set / crawl order" are checked as *plumbing*
properties of the distributed engine, not as two independent parsers
agreeing by luck.

Driver-side only, test-scale only — this is the correctness yardstick,
never the execution path.
"""

from __future__ import annotations

from collections import deque
from dataclasses import dataclass, field
from urllib.parse import urlparse

from memorious_spark.functions import htmlkit
from memorious_spark.functions.mime import NON_HTML, normalize_mimetype
from memorious_spark.functions.urls import py_norm
from memorious_spark.plans.pipeline import CrawlConfig

__all__ = ["OracleResult", "run_oracle"]

_MISS = "miss"


@dataclass
class OracleResult:
    seen: set[str] = field(default_factory=set)  # normalized urls tagged
    order: list[tuple[int, str]] = field(default_factory=list)  # (emit_seq, url)
    fetched: list[str] = field(default_factory=list)  # frontier urls fetched, FIFO
    stored: list[dict] = field(default_factory=list)
    text_by_url: dict[str, str | None] = field(default_factory=dict)
    rounds: list[list[str]] = field(default_factory=list)  # budget mode: urls per round


def run_oracle(
    config: CrawlConfig, corpus: dict[str, dict], budget: int | None = None
) -> OracleResult:
    """Crawl ``corpus`` (normalized url → row dict with keys html,
    content_type, status_code, redirect_to) exactly as single-threaded
    memorious would. ``budget=None`` = unlimited politeness (pure FIFO
    drain); an integer = the engine's k-per-host-per-round contract."""
    fetch_rule = config.fetch_rule_py()
    store_rule = config.store_rule_py()
    res = OracleResult()
    emit_counter = len(config.seeds)

    def process(url: str, seq: int, depth: int):
        """One task: fetch → gates → tag → parse → store → emit.
        Returns _MISS for transport-equivalent failures (caller may
        retry), else the list of (url, seq, depth) emissions."""
        nonlocal emit_counter
        norm = py_norm(url)
        if norm is None or not norm.startswith(("http://", "https://")):
            return _MISS  # unsupported scheme never joins ≙ miss
        row = corpus.get(norm)
        if row is None:
            return _MISS
        status = row.get("status_code")
        final_url = norm
        if status in (301, 302) and row.get("redirect_to"):
            target = py_norm(row["redirect_to"])
            row = corpus.get(target)
            if row is None:
                return _MISS  # dangling redirect ≙ transport error
            final_url = target
            status = row.get("status_code")
        res.fetched.append(norm)

        ct_raw = row.get("content_type")
        mime = normalize_mimetype(ct_raw)
        body = row.get("html")
        text = htmlkit.extract_text(body, ct_raw)
        gate_row = {"url": final_url, "content_type": mime, "text": text}
        # reference gate order: rules first (fetch.py:17-20), then ok
        # (< 400, fetch.py:22-26); neither emits, neither retries
        if not fetch_rule(gate_row):
            return []
        if status is None or status >= 400:
            return []
        # fetch tags the redirect SOURCE url, post-gates (fetch.py:30-33)
        if final_url != norm:
            res.seen.add(norm)

        res.text_by_url[final_url] = text
        root = (
            htmlkit.parse_html(text)
            if text is not None and mime not in NON_HTML
            else None
        )
        title = htmlkit.page_title(root)
        meta = htmlkit.extract_meta(
            root, config.parse.meta, tuple(config.parse.meta_dates)
        )
        props = htmlkit.extract_properties(root, config.parse.properties)
        if store_rule(gate_row):
            res.stored.append(
                dict(
                    url=norm, final_url=final_url, depth=depth, emit_seq=seq,
                    status_code=status, content_type=mime, title=title,
                    text=text, meta=meta, properties=props,
                )
            )
        links = htmlkit.extract_links(
            root,
            final_url,
            list(config.parse.include_paths) if config.parse.include_paths else None,
        )
        next_depth = depth + 1
        if config.max_depth is not None and next_depth > config.max_depth:
            return []
        emitted = []
        for link_url in links:
            key = py_norm(link_url)
            if key is None or not key.startswith(("http://", "https://")):
                continue
            if key in res.seen:
                continue  # tag-at-emit dedup
            res.seen.add(key)
            res.order.append((emit_counter, link_url))
            emitted.append((link_url, emit_counter, next_depth))
            emit_counter += 1
        return emitted

    if budget is None:
        queue: deque[tuple[str, int, int]] = deque()
        for i, url in enumerate(config.seeds):
            queue.append((url, i, 0))
            res.order.append((i, url))
        while queue:
            url, seq, depth = queue.popleft()
            out = process(url, seq, depth)
            if out is not _MISS:
                queue.extend(out)
        return res

    # round-discretized budget mode
    frontier: list[tuple[str, int, int, int]] = []  # url, seq, depth, attempt
    for i, url in enumerate(config.seeds):
        frontier.append((url, i, 0, 0))
        res.order.append((i, url))
    rnd = 0
    while frontier and rnd < config.max_rounds:
        counts: dict[str, int] = {}
        selected, carry = [], []
        for task in sorted(frontier, key=lambda t: t[1]):  # (priority,)seq order
            host = (urlparse(task[0]).hostname or "").lower()
            if counts.get(host, 0) < budget:
                counts[host] = counts.get(host, 0) + 1
                selected.append(task)
            else:
                carry.append(task)
        res.rounds.append([t[0] for t in selected])
        nxt = list(carry)
        for url, seq, depth, attempt in selected:
            out = process(url, seq, depth)
            if out is _MISS:
                if attempt + 1 <= config.retries:
                    nxt.append((url, seq, depth, attempt + 1))
            else:
                nxt.extend((u, s, d, 0) for u, s, d in out)
        frontier = nxt
        rnd += 1
    return res
