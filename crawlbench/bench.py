"""One benchmark run of one workload.

Set-up (timed as ``setup_s``): Spark session at ``local[4]``, corpus
generation and persist, one untimed warm-up crawl. Then the
expectations the output checks need (oracle, counts), outside every
timed region. Then the measured part: crawls back to back from this
one process — a closed loop, each crawl starting after the previous
one ended — each checked after it ends.
"""

from __future__ import annotations

import contextlib
import json
import math
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

import pandas as pd
from pyspark.sql import functions as F

from memorious_spark.oracle import run_oracle
from memorious_spark.plans.runner import CrawlRunner, RunResult
from memorious_spark.session import get_spark
from memorious_spark.sources.corpus import build_corpus

from crawlbench import checks, host, layers, trace
from crawlbench.workloads import WORKLOADS, doc_rows, page_records

SPEC = Path(__file__).resolve().parent.parent / "BENCHMARK.json"

# rounds selecting fewer rows than this are mostly per-round fixed cost
_SMALL_ROUND = 1000
_TEXT_SAMPLE = 20


def _log(msg: str) -> None:
    print(f"crawlbench: {msg}", file=sys.stderr, flush=True)


@dataclass
class Crawl:
    store: trace.RoundClock
    start: float
    seconds: float
    result: RunResult | None
    problems: list[str] = field(default_factory=list)

    @property
    def round_s(self) -> list[float]:
        marks = [self.start, *self.store.commits]
        return [b - a for a, b in zip(marks, marks[1:])]


class Bench:
    def __init__(self, workload: str, seed: int, n_pages: int, work: Path):
        self.wl = WORKLOADS[workload](n_pages, seed)
        self.seed = seed
        self.n_pages = n_pages
        self.work = work
        self.runs = work / "runs"

    # ---- set-up -------------------------------------------------------
    def setup(self) -> None:
        t0 = time.perf_counter()
        self.spark = get_spark(master="local[4]", app_name="crawlbench", shuffle_partitions=4)
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        docs = self._frame(doc_rows(self.n_pages), "doc_id long, text string, lang string")
        self.corpus = build_corpus(self.spark, docs, self.n_pages).persist()
        self.corpus_pages = self.corpus.count()
        self.corpus_s = time.perf_counter() - t1
        cfg, rows = self.wl.warmup()
        warm = self._crawl(cfg, rows, trace.RoundClock(self.runs, cfg.name, "warmup"))
        shutil.rmtree(warm.store.dir)
        self.setup_s = time.perf_counter() - t0
        _log(f"setup {self.setup_s:.1f}s: session {t1 - t0:.1f}s, corpus "
             f"{self.corpus_s:.1f}s, warm-up {[round(r, 1) for r in warm.round_s]}s")
        t2 = time.perf_counter()

        # expectations of the output checks: outside setup_s and timing
        self.records = page_records(self.n_pages)
        cfg = self.wl.config
        if self.wl.name == "bfs_polite":
            self.oracle = run_oracle(cfg, self.records, budget=cfg.budget_per_host)
            self.oracle_seen = self._hashes(sorted(self.oracle.seen))
        else:
            self.expect = checks.expected_bulk(self.records, cfg)
        _log(f"expectations {time.perf_counter() - t2:.1f}s")

    def _hashes(self, urls: list[str]) -> set[int]:
        df = self._frame([(u,) for u in urls], "u string")
        return {r[0] for r in df.select(F.xxhash64("u")).collect()}

    def _frame(self, rows: list[tuple], schema: str):
        """DataFrame of Python rows, sent over Arrow in one batch."""
        names = [f.split()[0] for f in schema.split(",")]
        return self.spark.createDataFrame(pd.DataFrame(rows, columns=names), schema)

    # ---- crawls -------------------------------------------------------
    def _crawl(self, cfg, rows, store: trace.RoundClock) -> Crawl:
        frontier = self._frame(rows, "url string, emit_seq long") if rows is not None else None
        start = time.perf_counter()
        result = CrawlRunner(self.spark, cfg, store).run(self.corpus, initial_frontier=frontier)
        return Crawl(store, start, time.perf_counter() - start, result)

    def loop(self, seconds: float, tag: str, traced: bool = False) -> list[Crawl]:
        """Crawls back to back until their total time is as close to
        ``seconds`` as whole crawls allow (at least one); each is
        checked after it ends, outside its timing."""
        crawls: list[Crawl] = []
        spent = 0.0
        while not crawls or spent + spent / len(crawls) / 2 < seconds:
            run_id = f"{tag}{len(crawls)}"
            kw = {"status_tracker": self.spark.sparkContext.statusTracker()} if traced else {}
            store_cls = trace.TracingStore if traced else trace.RoundClock
            store = store_cls(self.runs, self.wl.config.name, run_id, **kw)
            start = time.perf_counter()
            try:
                crawl = self._crawl(self.wl.config, self.wl.frontier_rows(), store)
                crawl.problems = self.check(crawl)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                # the rounds it committed before raising stay on its store
                crawl = Crawl(store, start, time.perf_counter() - start, None, ["crawl raised"])
            _log(f"crawl {run_id} {crawl.seconds:.1f}s, rounds "
                 f"{[round(r, 2) for r in crawl.round_s]}, checked in "
                 f"{time.perf_counter() - start - crawl.seconds:.1f}s")
            for p in crawl.problems:
                _log(f"check failed [{run_id}]: {p}")
            crawls.append(crawl)
            spent += crawl.seconds
        return crawls

    # ---- output checks ------------------------------------------------
    def check(self, crawl: Crawl) -> list[str]:
        spark, store = self.spark, crawl.store
        rounds = store.read_manifest()["rounds"]
        results = store.read_all(spark, "results", len(rounds))
        n_results = results.count() if results is not None else 0
        sample = (
            results.select("final_url", "text")
            .orderBy(F.xxhash64("url", F.lit(self.seed)))
            .limit(_TEXT_SAMPLE).collect()
            if results is not None else []
        )
        problems = checks.check_text([(r[0], r[1]) for r in sample], self.records)
        if self.wl.name == "bfs_polite":
            seen = store.read_all(spark, "seen", len(rounds))
            engine_seen = (
                {r[0] for r in seen.select("key_hash").distinct().collect()}
                if seen is not None else set()
            )
            problems += checks.check_bfs(
                rounds, crawl.result, self.oracle, engine_seen, self.oracle_seen, n_results
            )
        else:
            r0 = store.read_round(spark, "results", 0)
            direct = r0.filter(F.col("url") == F.col("final_url")).count() if r0 is not None else 0
            retry = store.read_round(spark, "frontier", len(rounds))
            retry_urls = [r[0] for r in retry.select("url").collect()] if retry is not None else []
            problems += checks.check_bulk(
                rounds, crawl.result, self.expect, direct, retry_urls, n_results, self.records
            )
        return problems

    def discard(self, crawls: list[Crawl]) -> None:
        for c in crawls:
            shutil.rmtree(c.store.dir, ignore_errors=True)

    # ---- metrics ------------------------------------------------------
    @staticmethod
    def pages_per_s(crawls: list[Crawl]) -> float:
        pages = sum(c.result.pages_fetched for c in crawls if c.result is not None)
        return pages / sum(c.seconds for c in crawls)

    def end_to_end(self, crawls: list[Crawl]) -> dict:
        ok = [c for c in crawls if not c.problems]
        rounds = [s for c in crawls for s in c.round_s]
        return {
            "pages_per_s": self.pages_per_s(crawls),
            # NaN when every crawl raised before its first commit
            "round_s_p50": statistics.median(rounds) if rounds else math.nan,
            "setup_s": self.setup_s,
            "ok_frac": len(ok) / len(crawls),
        }

    def per_layer(self, untraced: list[Crawl], traced: list[Crawl]) -> dict:
        """Per-layer metrics; none when the traced crawl raised, as its
        rounds and tables may be incomplete."""
        m = {}
        crawl = traced[0]
        if crawl.result is None:
            return m
        rounds = trace.round_phases(crawl.store, crawl.start)
        for k in ("plan_s", "wave1_s", "wave2_s", "wave3_s", "commit_s"):
            m[f"runner.{k}"] = trace.median_of(rounds, k)
        m["runner.jobs_per_round"] = trace.median_of(rounds, "jobs")
        selected = [r["selected"] for r in crawl.store.read_manifest()["rounds"]]
        small = [r["wall_s"] for r, n in zip(rounds, selected) if n < _SMALL_ROUND]
        # no small round (bulk_drain): the smallest round stands in
        m["runner.round_fixed_s"] = statistics.median(small) if small else min(
            zip(selected, (r["wall_s"] for r in rounds))
        )[1]
        m["storage.write_s"] = trace.median_of(rounds, "write_s")
        m["storage.seen_read_s"] = trace.median_of(rounds, "seen_read_s")
        files, size = trace.dir_size(crawl.store.dir)
        m["storage.files_written"] = files
        m["storage.bytes_written"] = size
        m["corpus.build_s"] = self.corpus_s
        m["corpus.pages"] = self.corpus_pages
        m["trace.pages_per_s"] = self.pages_per_s(traced)
        m["trace.overhead_pages_per_s"] = m["trace.pages_per_s"] - self.pages_per_s(untraced)
        m.update(layers.isolate_round(
            self.spark, self.wl.config, self.corpus, crawl.store, self.wl.iso_round,
            self.work / "iso", self.seed,
        ))
        m.update(layers.kernel_microbench(self.records, self.seed))
        return m


def run(workload: str, seed: int, seconds: float, traced: bool, n_pages: int, work: Path) -> dict:
    """Returns the result object the benchmark prints."""
    # RSS is sampled in traced runs only: under the engine's default
    # heap its peak is too unsteady from run to run to bound
    with host.RssMonitor() if traced else contextlib.nullcontext() as rss:
        probe_before = host.cpu_probe() if traced else None
        bench = Bench(workload, seed, n_pages, work)
        try:
            bench.setup()
            if traced:
                # an untraced crawl, then a traced one: their
                # difference is the tracing overhead
                untraced = bench.loop(0, "u")
                traced_crawls = bench.loop(0, "t", traced=True)
                bench.discard(untraced)
                crawls = untraced + traced_crawls
                trace.dump(work.parent / "traces" / f"{workload}-seed{seed}.jsonl",
                           [c.store for c in traced_crawls], [c.start for c in traced_crawls])
                metrics = bench.per_layer(untraced, traced_crawls)
                probe_after = host.cpu_probe()
                metrics["host.cpu_probe"] = (probe_before + probe_after) / 2
                metrics["host.cpu_probe_drift"] = probe_after / probe_before
                metrics["peak_rss_mb"] = rss.peak / 2**20
                section = "per_layer"
            else:
                crawls = bench.loop(seconds, "c")
                bench.discard(crawls)
                metrics = bench.end_to_end(crawls)
                section = "end_to_end"
        finally:
            if hasattr(bench, "spark"):
                host.stop_spark(bench.spark)
    failed = sum(1 for c in crawls if c.problems)
    units = {m["name"]: m["unit"] for m in json.loads(SPEC.read_text())[section]}
    if failed:  # a crawl that raised leaves some metrics underivable
        metrics = {k: metrics.get(k, math.nan) for k in units}
    return {
        "correct": failed == 0,
        "attempted": len(crawls),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
