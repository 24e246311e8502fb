"""The output checks flag fabricated wrong results (no Spark needed)."""

import dataclasses
import math
from types import SimpleNamespace

import pytest

from memorious_spark.oracle import run_oracle
from memorious_spark.plans.runner import RunResult
from crawlbench import checks
from crawlbench.bench import Bench, Crawl
from crawlbench.workloads import BfsPolite, BulkDrain, page_records

N = 200


@pytest.fixture(scope="module")
def records():
    return page_records(N)


def _result(rounds, stored=None):
    return RunResult(
        run_id="r", rounds=len(rounds),
        pages_fetched=sum(r["fetched"] for r in rounds),
        pages_stored=sum(r["stored"] for r in rounds) if stored is None else stored,
        urls_seen=0, status="done",
    )


@pytest.fixture(scope="module")
def bulk(records):
    expect = checks.expected_bulk(records, BulkDrain(N, 1).config)
    retry = [f"https://h{k}.example.com/assets/style.css" for k in range(7)]
    new = N - 10
    rounds = [
        dict(round=0, selected=N, fetched=N, emitted=expect["emitted"], stored=30,
             new_links=new, next_frontier=new),
        dict(round=1, selected=new, fetched=new - len(retry), emitted=new - 20, stored=25,
             new_links=0, next_frontier=len(retry)),
    ]
    return expect, rounds, retry


def test_bulk_check_accepts_consistent_outputs(bulk, records):
    expect, rounds, retry = bulk
    assert checks.check_bulk(
        rounds, _result(rounds), expect, expect["stored_direct"], retry, 55, records
    ) == []


@pytest.mark.parametrize("wrong", ["stored_direct", "emitted", "retry_in_corpus", "results_rows"])
def test_bulk_check_counts_wrong_result_as_failure(bulk, records, wrong):
    expect, rounds, retry = bulk
    rounds = [dict(r) for r in rounds]
    direct, n_results = expect["stored_direct"], 55
    if wrong == "stored_direct":
        direct += 1
    elif wrong == "emitted":
        rounds[0]["emitted"] -= 1
    elif wrong == "retry_in_corpus":
        retry = retry[:-1] + ["https://h0.example.com/doc/7"]
    else:
        n_results -= 1
    assert checks.check_bulk(rounds, _result(rounds), expect, direct, retry, n_results, records)


def test_bfs_check_against_oracle(records):
    cfg = BfsPolite(N, 3).config
    oracle = run_oracle(cfg, records, budget=cfg.budget_per_host)
    rounds = [
        dict(round=i, selected=len(sel), fetched=0, stored=0)
        for i, sel in enumerate(oracle.rounds)
    ]
    rounds[0]["fetched"] = len(oracle.fetched)
    rounds[0]["stored"] = len(oracle.stored)
    seen = {hash(u) for u in oracle.seen}
    result = _result(rounds)
    n = len(oracle.stored)
    assert checks.check_bfs(rounds, result, oracle, seen, seen, n) == []
    assert checks.check_bfs(rounds, result, oracle, seen - {next(iter(seen))}, seen, n)
    short = [dict(r) for r in rounds]
    short[-1]["selected"] -= 1
    assert checks.check_bfs(short, result, oracle, seen, seen, n)
    fewer = dataclasses.replace(result, pages_fetched=result.pages_fetched - 1)
    assert checks.check_bfs(rounds, fewer, oracle, seen, seen, n)


def test_text_check_flags_changed_text(records):
    url, rec = next((u, r) for u, r in records.items() if r["status_code"] == 200)
    assert checks.check_text([(url, rec["text"])], records) == []
    assert checks.check_text([(url, rec["text"] + " ")], records)
    assert checks.check_text([("https://h0.example.com/missing", "x")], records)


def test_crawl_that_raised_is_a_failure_not_a_crash(tmp_path):
    bench = Bench("bulk_drain", 1, N, tmp_path)
    bench.setup_s = 30.0
    # raised before its first commit, then one that committed a round
    crawls = [
        Crawl(SimpleNamespace(commits=[]), 0.0, 2.0, None, ["crawl raised"]),
        Crawl(SimpleNamespace(commits=[11.5]), 10.0, 3.0, None, ["crawl raised"]),
    ]
    m = bench.end_to_end(crawls[:1])
    assert m["ok_frac"] == 0 and m["pages_per_s"] == 0 and math.isnan(m["round_s_p50"])
    assert bench.end_to_end(crawls)["round_s_p50"] == 1.5
    assert bench.per_layer([], crawls[:1]) == {}
