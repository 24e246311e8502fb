"""The benchmark's inputs and workloads.

The corpus is the engine's own synthetic web (``sources.corpus``) built
over generated documents, so the benchmark needs no data files. The
documents depend only on the page count; the workload seed picks the
bulk frontier's ``emit_seq`` order and the BFS seed URLs.
"""

from __future__ import annotations

import random

from memorious_spark.functions.urls import py_norm
from memorious_spark.plans.pipeline import CrawlConfig
from memorious_spark.sources.corpus import doc_url, page_record

N_PAGES = 10_000

# bfs_polite: SEEDS seed URLs and BUDGET rows per host per round over
# the 7 corpus hosts, so every round selects ~7 * BUDGET rows and the
# rest of the frontier carries over. Each round costs ~6 s on 4 cores,
# mostly fixed cost; ROUNDS keeps a run near a minute.
BFS_SEEDS = 600
BFS_BUDGET = 60
BFS_ROUNDS = 2

# The generated documents follow the sf0.1 ``documents`` table (5,000
# rows): each text is 10-99 words drawn uniformly (word-count deciles
# 19 28 37 45 54 63 72 80 90, mean 54.1 words and 297 chars) from the
# 30 words below, each equally likely; lang is en for 41% of rows and
# zh, es, fr, de for about 15% each. The table's 5% of near-duplicate
# rows, marked by an extra "dup" word, are left out: the parse kernel
# does not look at what the words are.
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ("en",) * 8 + ("zh", "es", "fr", "de") * 3


def _lcg(x: int) -> int:
    return (x * 1103515245 + 12345) % 2**31


def doc_text(doc_id: int) -> str:
    """Deterministic body text of one document."""
    x = _lcg((doc_id * 2654435761 + 1) % 2**31)
    words = []
    for _ in range(10 + (x >> 8) % 90):
        x = _lcg(x)
        words.append(_VOCAB[(x >> 16) % len(_VOCAB)])
    return " ".join(words)


def doc_lang(doc_id: int) -> str:
    return _LANGS[(doc_id * 7 + 3) % len(_LANGS)]


def doc_rows(n_pages: int) -> list[tuple[int, str, str]]:
    """``documents``-shaped rows (doc_id, text, lang) for build_corpus."""
    return [(d, doc_text(d), doc_lang(d)) for d in range(n_pages)]


def page_records(n_pages: int) -> dict[str, dict]:
    """Normalized url → corpus row, the same bytes ``build_corpus``
    generates — the input of the oracle and the output checks."""
    out = {}
    for d in range(n_pages):
        rec = page_record(d, n_pages, doc_text(d), doc_lang(d))
        out[py_norm(rec["url"])] = rec
    return out


class Workload:
    name = ""
    # the traced crawl's round whose inputs the layer isolation replays
    iso_round = 0

    def __init__(self, n_pages: int, seed: int):
        self.n_pages = n_pages
        self.seed = seed
        self.config = self._config()

    def _config(self) -> CrawlConfig:
        raise NotImplementedError

    def frontier_rows(self) -> list[tuple[str, int]] | None:
        """(url, emit_seq) rows of round 0, or None to crawl the seeds."""
        return None

    def warmup(self) -> tuple[CrawlConfig, list[tuple[str, int]] | None]:
        """Config and round-0 rows of the untimed warm-up crawl: the
        timed crawl itself. Its first round takes a fresh JVM's one-off
        costs (class loading, Python workers); both rounds let the JIT
        compile the engine's hot code, which costs about two
        CPU-seconds per second of crawl over the first two crawls and
        would otherwise land on the timed one."""
        return self.config, self.frontier_rows()


class BulkDrain(Workload):
    """The whole corpus is the initial frontier: two rounds, no
    politeness, ``h0`` pages (~1/7) stored."""

    name = "bulk_drain"
    iso_round = 0

    def _config(self) -> CrawlConfig:
        return CrawlConfig(
            name=self.name, seeds=(), max_rounds=2,
            store_rules={"pattern": r"https://h0\."},
        )

    def frontier_rows(self):
        urls = [doc_url(d) for d in range(self.n_pages)]
        random.Random(self.seed).shuffle(urls)
        return [(u, i) for i, u in enumerate(urls)]

    def warmup(self):
        # half the frontier: the same code paths at ~2/3 of the time
        cfg, rows = super().warmup()
        return cfg, rows[: len(rows) // 2]


class BfsPolite(Workload):
    """BFS from seed-chosen URLs under a per-host budget: every round
    is budget-bound, most discovered URLs wait in the carried-over
    frontier, and the seen history grows each round."""

    name = "bfs_polite"
    iso_round = BFS_ROUNDS - 1

    def _config(self) -> CrawlConfig:
        rng = random.Random(self.seed)
        n_seeds = min(BFS_SEEDS, self.n_pages)
        seeds = tuple(doc_url(d) for d in rng.sample(range(self.n_pages), n_seeds))
        return CrawlConfig(
            name=self.name, seeds=seeds,
            budget_per_host=max(1, BFS_BUDGET * self.n_pages // N_PAGES),
            max_rounds=BFS_ROUNDS,
        )


WORKLOADS = {w.name: w for w in (BulkDrain, BfsPolite)}
