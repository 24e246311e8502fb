"""Per-crawl output checks.

Pure Python over what a crawl left behind (manifest rounds, the
``RunResult``, a few rows read back from the run's tables), so a test
can feed them fabricated outputs without Spark. Each check returns a
list of problems; an empty list is a pass.
"""

from __future__ import annotations

from memorious_spark.functions.htmlkit import extract_text
from memorious_spark.functions.mime import normalize_mimetype
from memorious_spark.functions.urls import py_norm
from memorious_spark.oracle import OracleResult
from memorious_spark.plans.pipeline import CrawlConfig


def _final(records: dict[str, dict], rec: dict) -> dict | None:
    """The row a fetch of ``rec`` lands on: one redirect hop, like the
    engine's fetch stage and the oracle."""
    if rec["status_code"] in (301, 302) and rec["redirect_to"]:
        return records.get(py_norm(rec["redirect_to"]))
    return rec


def expected_bulk(records: dict[str, dict], cfg: CrawlConfig) -> dict:
    """Order-independent expectations for round 0 of a bulk drain,
    where every corpus URL is in the frontier.

    Stored rows are counted over non-redirected pages only: the engine
    evaluates store rules on the requested URL, the oracle (like
    memorious, whose rules see the response URL) on the final one, and
    a host rule such as ``h0`` tells them apart on redirects."""
    fetch_rule, store_rule = cfg.fetch_rule_py(), cfg.store_rule_py()
    emitted = stored_direct = 0
    for rec in records.values():
        final = _final(records, rec)
        if final is None:
            continue
        row = {
            "url": final["url"],
            "content_type": normalize_mimetype(final["content_type"]),
            "text": final["text"],
        }
        if not fetch_rule(row) or final["status_code"] >= 400:
            continue
        emitted += 1
        if final is rec and store_rule(row):
            stored_direct += 1
    return {"pages": len(records), "emitted": emitted, "stored_direct": stored_direct}


def _totals(rounds: list[dict], result, n_results: int) -> list[str]:
    problems = []
    fetched = sum(r["fetched"] for r in rounds)
    stored = sum(r["stored"] for r in rounds)
    if result.pages_fetched != fetched:
        problems.append(f"pages_fetched {result.pages_fetched} != manifest {fetched}")
    if not result.pages_stored == stored == n_results:
        problems.append(
            f"pages_stored {result.pages_stored}, manifest {stored}, "
            f"results rows {n_results} differ"
        )
    return problems


def check_bulk(
    rounds: list[dict],
    result,
    expect: dict,
    stored_direct_r0: int,
    retry_urls: list[str],
    n_results: int,
    records: dict[str, dict],
) -> list[str]:
    """Round 0 against ``expected_bulk``; round 1 for consistency: it
    fetches exactly round 0's new links, and the only rows it carries
    on are retries of URLs absent from the corpus."""
    if result.status != "done" or len(rounds) != 2:
        return [f"status {result.status} after {len(rounds)} rounds, want done after 2"]
    r0, r1 = rounds
    problems = _totals(rounds, result, n_results)
    n = expect["pages"]
    for key, want in (("selected", n), ("fetched", n), ("emitted", expect["emitted"])):
        if r0[key] != want:
            problems.append(f"round 0 {key} {r0[key]} != {want}")
    if stored_direct_r0 != expect["stored_direct"]:
        problems.append(
            f"round 0 stored non-redirected {stored_direct_r0} != {expect['stored_direct']}"
        )
    if r1["selected"] != r0["new_links"]:
        problems.append(f"round 1 selected {r1['selected']} != round 0 new links {r0['new_links']}")
    if r1["new_links"] != 0:
        problems.append(f"round 1 found {r1['new_links']} new links in a fully seen corpus")
    if r1["fetched"] + len(retry_urls) != r1["selected"]:
        problems.append(
            f"round 1 fetched {r1['fetched']} + retried {len(retry_urls)} != selected {r1['selected']}"
        )
    in_corpus = [u for u in retry_urls if py_norm(u) in records]
    if in_corpus:
        problems.append(f"retried URLs present in the corpus: {in_corpus[:3]}")
    return problems


def check_bfs(
    rounds: list[dict],
    result,
    oracle: OracleResult,
    engine_seen: set[int],
    oracle_seen: set[int],
    n_results: int,
) -> list[str]:
    """Per-round selected counts, fetched/stored totals and the final
    seen set against ``oracle.run_oracle`` under the same budget."""
    problems = _totals(rounds, result, n_results)
    got = [r["selected"] for r in rounds]
    want = [len(r) for r in oracle.rounds]
    if got != want:
        problems.append(f"selected per round {got} != oracle {want}")
    if result.pages_fetched != len(oracle.fetched):
        problems.append(f"pages_fetched {result.pages_fetched} != oracle {len(oracle.fetched)}")
    if result.pages_stored != len(oracle.stored):
        problems.append(f"pages_stored {result.pages_stored} != oracle {len(oracle.stored)}")
    if engine_seen != oracle_seen:
        problems.append(
            f"seen set differs: {len(engine_seen - oracle_seen)} extra, "
            f"{len(oracle_seen - engine_seen)} missing"
        )
    return problems


def check_text(rows: list[tuple[str, str | None]], records: dict[str, dict]) -> list[str]:
    """Stored ``text`` of sampled (final_url, text) rows must equal
    ``htmlkit.extract_text`` of the same page's body, byte for byte."""
    problems = []
    for final_url, text in rows:
        rec = records.get(py_norm(final_url))
        if rec is None:
            problems.append(f"stored page {final_url} is not in the corpus")
        elif text != extract_text(rec["html"], rec["content_type"]):
            problems.append(f"stored text of {final_url} differs from extract_text")
    return problems
