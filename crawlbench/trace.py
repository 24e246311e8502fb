"""Round boundaries and spans, observed from outside the runner.

``RoundClock`` and ``TracingStore`` are ``RunStore`` subclasses handed
to ``CrawlRunner``: every storage call a crawl makes passes through
them, so the benchmark can time rounds and their phases without any
hook inside the engine.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from dataclasses import asdict, dataclass
from pathlib import Path

from memorious_spark.plans.storage import RunStore


@dataclass
class Span:
    name: str    # the RunStore method
    table: str
    rnd: int
    t0: float
    t1: float
    parent: str  # the crawl that caused it

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0


class RoundClock(RunStore):
    """Timestamps each ``commit_round`` — the end of a frontier round."""

    def __init__(self, root, crawler: str, run_id: str):
        super().__init__(root, crawler, run_id)
        self.commits: list[float] = []

    def commit_round(self, rnd: int, stats: dict) -> None:
        super().commit_round(rnd, stats)
        self.commits.append(time.perf_counter())


class TracingStore(RoundClock):
    """Also records a span per storage call and the Spark job count at
    each round boundary."""

    def __init__(self, root, crawler: str, run_id: str, status_tracker):
        super().__init__(root, crawler, run_id)
        self.spans: list[Span] = []
        self._lock = threading.Lock()  # wave-3 writes run in threads
        self._tracker = status_tracker
        self.job_marks = [self._last_job()]

    def _last_job(self) -> int:
        # jobs submitted from the runner's worker threads carry no job
        # group, so count every job by id rather than per group
        return max(self._tracker.getJobIdsForGroup(), default=-1)

    def _timed(self, name: str, table: str, rnd: int, fn, *args):
        t0 = time.perf_counter()
        try:
            return fn(*args)
        finally:
            span = Span(name, table, rnd, t0, time.perf_counter(), self.dir.name)
            with self._lock:
                self.spans.append(span)

    def read_round(self, spark, table, rnd, schema=None):
        return self._timed("read_round", table, rnd, super().read_round, spark, table, rnd, schema)

    def read_all(self, spark, table, upto_round, schema=None):
        return self._timed("read_all", table, upto_round, super().read_all, spark, table, upto_round, schema)

    def write_round(self, table, rnd, df):
        return self._timed("write_round", table, rnd, super().write_round, table, rnd, df)

    def write_round_local(self, table, rnd, rows):
        return self._timed("write_round_local", table, rnd, super().write_round_local, table, rnd, rows)

    def commit_round(self, rnd, stats):
        self._timed("commit_round", "manifest", rnd, super().commit_round, rnd, stats)
        self.job_marks.append(self._last_job())


def round_phases(store: TracingStore, start: float) -> list[dict]:
    """Split each round of one traced crawl into the runner's phases.

    A round runs from the previous commit (or the crawl start) to its
    own commit. Wave 1 is the results write; wave 3 the frontier and
    seen writes that follow it; wave 2 the gap between them (the dedup
    chain and the emit_seq sizes collect); plan is everything before
    wave 1 and commit everything after wave 3."""
    rounds = []
    bounds = [start, *store.commits]
    for r, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        spans = [s for s in store.spans if lo <= s.t0 < hi]
        writes = [s for s in spans if s.name == "write_round"]
        w1 = next(s for s in writes if s.table == "results")
        w3 = [s for s in writes if s.table in ("frontier", "seen") and s.t0 >= w1.t1]
        w3_lo = min(s.t0 for s in w3)
        w3_hi = max(s.t1 for s in w3)
        rounds.append({
            "round": r,
            "wall_s": hi - lo,
            "plan_s": w1.t0 - lo,
            "wave1_s": w1.seconds,
            "wave2_s": w3_lo - w1.t1,
            "wave3_s": w3_hi - w3_lo,
            "commit_s": hi - w3_hi,
            "write_s": sum(s.seconds for s in writes),
            "seen_read_s": sum(
                s.seconds for s in spans if s.name == "read_all" and s.table == "seen"
            ),
            "jobs": store.job_marks[r + 1] - store.job_marks[r],
        })
    return rounds


def median_of(rounds: list[dict], key: str) -> float:
    return statistics.median(r[key] for r in rounds)


def dir_size(path: Path) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = [p for p in path.rglob("*") if p.is_file()]
    return len(files), sum(p.stat().st_size for p in files)


def dump(path: Path, stores: list[TracingStore], starts: list[float]) -> None:
    """Write every span of the traced crawls as JSON lines."""
    path.parent.mkdir(parents=True, exist_ok=True)
    with path.open("w") as fh:
        for store, start in zip(stores, starts):
            fh.write(json.dumps({"crawl": store.dir.name, "start": start,
                                 "commits": store.commits}) + "\n")
            for s in store.spans:
                fh.write(json.dumps(asdict(s)) + "\n")
