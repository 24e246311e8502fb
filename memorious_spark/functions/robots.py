"""robots.txt parsing + the robots gate table.

The north rule adds robots gating to the frontier scheduler (the
reference has NO robots support — memorious fetches whatever the
rules allow). The engine consumes a broadcastable table
``(host, disallow_prefixes array<string>, crawl_delay_budget int)``
(operators.frontier.politeness_dequeue); this module produces it from
actual robots.txt documents:

- :func:`parse_robots` — pure-python parser (shared kernel, also the
  oracle's), implementing the subset that matters for gating:
  grouped ``User-agent`` sections, ``Disallow`` path prefixes,
  ``Crawl-delay``; rules for the matching agent (exact name, else
  ``*``); empty Disallow = allow-all (per the original REP draft).
- :func:`robots_table` — find each host's ``/robots.txt`` row in the
  page corpus and parse it into the gate table with an Arrow-batched
  UDF; ``crawl_delay_budget`` discretizes Crawl-delay into the
  engine's per-round budget (``round_seconds / delay``, min 1),
  matching how the rate limit becomes "k rows per host per round".
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

__all__ = ["parse_robots", "robots_table"]


def parse_robots(
    text: str | None, agent: str = "memorious"
) -> tuple[list[str], float | None]:
    """(disallow_prefixes, crawl_delay) for ``agent``.

    Section selection: all groups whose User-agent matches the agent
    name (case-insensitive substring, the de-facto matching rule);
    if none match, the ``*`` groups apply. Empty ``Disallow:`` lines
    are allow-all markers and contribute no prefix. ``/`` disallows
    everything.
    """
    if not text:
        return [], None
    agent = agent.lower()
    groups: list[tuple[list[str], list[str], float | None]] = []
    cur_agents: list[str] = []
    cur_dis: list[str] = []
    cur_delay: float | None = None
    in_group_body = False

    def flush():
        nonlocal cur_agents, cur_dis, cur_delay, in_group_body
        if cur_agents:
            groups.append((cur_agents, cur_dis, cur_delay))
        cur_agents, cur_dis, cur_delay = [], [], None
        in_group_body = False

    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, value = line.partition(":")
        key = key.strip().lower()
        value = value.strip()
        if key == "user-agent":
            if in_group_body:
                flush()
            cur_agents.append(value.lower())
        elif key in ("disallow", "crawl-delay"):
            in_group_body = True
            if key == "disallow":
                if value:
                    cur_dis.append(value)
            else:
                try:
                    cur_delay = float(value)
                except ValueError:
                    pass
    flush()

    def collect(match):
        dis: list[str] = []
        delay: float | None = None
        for agents, d, cd in groups:
            if any(match(a) for a in agents):
                dis.extend(d)
                if cd is not None:
                    delay = cd if delay is None else min(delay, cd)
        return dis, delay

    dis, delay = collect(lambda a: a != "*" and (a in agent or agent in a))
    if not dis and delay is None:
        dis, delay = collect(lambda a: a == "*")
    return dis, delay


def robots_table(
    corpus: DataFrame,
    agent: str = "memorious",
    round_seconds: float = 60.0,
) -> DataFrame:
    """Build the politeness gate table from the corpus's own
    ``/robots.txt`` pages: ``(host, disallow_prefixes,
    crawl_delay_budget)``. Tiny by construction (one row per host) —
    always broadcastable into the dequeue join."""
    robots_rows = corpus.filter(
        F.parse_url(F.col("url"), F.lit("PATH")) == "/robots.txt"
    ).select(
        F.lower(F.parse_url(F.col("url"), F.lit("HOST"))).alias("host"),
        F.col("html").alias("body"),
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples():
                body = bytes(r.body).decode("utf-8", "replace") if r.body is not None else None
                dis, delay = parse_robots(body, agent)
                budget = (
                    max(int(round_seconds / delay), 1)
                    if delay and delay > 0
                    else None
                )
                out.append(dict(host=r.host, disallow_prefixes=dis,
                                crawl_delay_budget=budget))
            yield pd.DataFrame(
                out, columns=["host", "disallow_prefixes", "crawl_delay_budget"]
            )

    return robots_rows.mapInPandas(
        gen, "host string, disallow_prefixes array<string>, crawl_delay_budget int"
    )
