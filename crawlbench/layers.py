"""Layer isolation and the Spark-free parse-kernel microbench.

``isolate_round`` replays one checkpointed round of a traced crawl
through the engine's public operators, one layer at a time. Each layer
runs on materialized inputs and is forced through a ``noop`` sink, so
its time is its own; row counts ride the same job as observations.
"""

from __future__ import annotations

import random
import statistics
import time
from pathlib import Path

from pyspark.sql import DataFrame, Observation, functions as F

from memorious_spark.functions import htmlkit
from memorious_spark.functions.urls import hash_col, norm_col, scheme_ok_col
from memorious_spark.operators.cache import (
    HTTP_CACHE_SCHEMA, INC_TAGS_SCHEMA, apply_replay, cache_entries,
    cache_probe, inc_tag_entries, skip_unchanged,
)
from memorious_spark.operators.fetch import fetch_stage
from memorious_spark.operators.frontier import (
    FRONTIER_SCHEMA, dedup_within_round, politeness_dequeue, range_by_order,
    salt_partitions, seq_from_sizes,
)
from memorious_spark.operators.parse import extract_links_df, parse_stage
from memorious_spark.operators.seen import dedup_new
from memorious_spark.plans.storage import RunStore

from crawlbench.trace import dir_size

# the runner's emit-order key and stored columns
_ORDER = ["src_emit_seq", "link_idx"]
_RESULT_COLS = [
    "url", "final_url", "host", "depth", "emit_seq", "status_code",
    "content_type", "content_hash", "retrieved_at", "title", "text",
    "meta", "properties", "src_url",
]


def _rows():
    return F.count(F.lit(1))


def _sink(df: DataFrame, **counts) -> tuple[float, dict]:
    """Seconds to push ``df`` through a noop sink, and ``counts``
    (name → aggregate column) observed in the same job."""
    obs = Observation()
    observed = df.observe(obs, *[c.alias(k) for k, c in counts.items()])
    t0 = time.perf_counter()
    observed.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0, obs.get


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def changed_corpus(corpus: DataFrame, seed: int) -> DataFrame:
    """The corpus as a later snapshot: a seed-chosen ~10% of pages carry
    a newer ``warc_ts`` and a changed body."""
    pick = F.pmod(F.xxhash64("url", F.lit(seed)), F.lit(10)) == 0
    return corpus.withColumn(
        "html",
        F.when(pick & F.col("html").isNotNull(),
               F.concat("html", F.lit(bytearray(b" v2")))).otherwise(F.col("html")),
    ).withColumn(
        "warc_ts",
        F.when(pick, F.col("warc_ts") + F.expr("INTERVAL 1 DAY")).otherwise(F.col("warc_ts")),
    )


def isolate_round(spark, cfg, corpus, store: RunStore, rnd: int, scratch: Path, seed: int) -> dict:
    m: dict[str, float] = {}
    cached: list[DataFrame] = []

    def materialize(df: DataFrame) -> DataFrame:
        df = df.persist()
        df.count()
        cached.append(df)
        return df

    frontier = store.read_round(spark, "frontier", rnd, FRONTIER_SCHEMA)
    seen = store.read_all(spark, "seen", rnd - 1)
    try:
        sel, carry = politeness_dequeue(
            frontier, cfg.budget_per_host, None, group=cfg.politeness_group
        )
        t_sel, o_sel = _sink(sel, rows=_rows())
        t_carry, o_carry = _sink(carry, rows=_rows())
        n_sel = o_sel["rows"]
        m["frontier.dequeue_s"] = t_sel + t_carry
        m["frontier.selected_rows"] = n_sel
        m["frontier.carry_rows"] = o_carry["rows"]
        selected = materialize(salt_partitions(sel))

        fetched = fetch_stage(selected, corpus, selected_count=n_sel)
        t, o = _sink(fetched, hits=_rows(),
                     redirects=F.count(F.col("redirected_from")))
        m["fetch.join_s"] = t
        m["fetch.hits"] = o["hits"]
        m["fetch.hit_frac"] = _ratio(o["hits"], n_sel)
        m["fetch.redirect_rows"] = o["redirects"]
        fetched = materialize(fetched)

        # the runner's emit gate: rules and ok, gated bodies never parsed
        gated = fetched.withColumn(
            "_emit", F.col("ok") & cfg.fetch_rule_col()
        ).withColumn("html", F.when(F.col("_emit"), F.col("html")))
        parsed = parse_stage(gated, cfg.parse).withColumn("retrieved_at", F.col("warc_ts"))
        emitted = F.col("_emit")
        t, o = _sink(parsed, pages=F.count(F.when(emitted, 1)),
                     links=F.sum(F.when(emitted, F.size("link_urls"))))
        m["parse.stage_s"] = t
        m["parse.pages"] = o["pages"]
        m["parse.links_per_page"] = _ratio(o["links"] or 0, o["pages"])
        parsed = materialize(parsed)

        cands = extract_links_df(parsed.filter(emitted)).filter(scheme_ok_col(F.col("url")))
        cands = cands.withColumn("url_norm", norm_col(F.col("url"))).withColumn(
            "url_hash", hash_col(F.col("url_norm"))
        )
        obs_in = Observation()
        unique = dedup_within_round(cands.observe(obs_in, _rows().alias("rows")), _ORDER)
        t, o = _sink(unique, rows=_rows())
        n_unique = o["rows"]
        m["frontier.dedup_s"] = t
        m["frontier.cand_rows"] = obs_in.get["rows"]
        m["frontier.unique_frac"] = _ratio(n_unique, m["frontier.cand_rows"])
        unique = materialize(unique)

        history = seen.count() if seen is not None else 0
        seen_keys = seen.select(F.col("key_hash").alias("url_hash")) if seen is not None else None
        new = dedup_new(unique, seen_keys, seen_count=history + 1)
        t, o = _sink(new, rows=_rows())
        m["seen.anti_join_s"] = t
        m["seen.history_rows"] = history
        m["seen.new_frac"] = _ratio(o["rows"], n_unique)
        new = materialize(new)

        t0 = time.perf_counter()
        rp = range_by_order(new, _ORDER)
        sizes = {
            int(r["_pid"]): int(r["cnt"])
            for r in rp.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
        }
        _sink(seq_from_sizes(rp, _ORDER, sizes, start=0), rows=_rows())
        m["frontier.emit_seq_s"] = time.perf_counter() - t0

        stored = parsed.filter(emitted & cfg.store_rule_col()).select(*_RESULT_COLS)
        t0 = time.perf_counter()
        RunStore(scratch, cfg.name, "iso").write_round("results", rnd, stored)
        m["storage.isolated_write_s"] = time.perf_counter() - t0

        m.update(_cache_layer(spark, cfg, corpus, selected, n_sel, parsed, scratch, seed))
    finally:
        for df in cached:
            df.unpersist()
    return m


def _cache_layer(spark, cfg, corpus, selected, n_sel, parsed, scratch: Path, seed: int) -> dict:
    """Incremental re-crawl of the round: prime the http cache and inc
    tags from this round's fetch, then re-fetch the same rows from a
    changed snapshot — cache probe, 304 replay and the skip_unchanged
    anti-join."""
    now1, now2 = "2024-01-02 00:00:00", "2024-01-03 00:00:00"
    cstore = RunStore(scratch, "cache", "prime")
    primed = parsed.withColumn("replayed", F.lit(False))
    cstore.append_shared("http_cache", cache_entries(primed, "prime", None, now1))
    keep = cfg.store_rule_col()
    cstore.append_shared("inc_tags", inc_tag_entries(
        primed.filter(F.col("_emit") & keep).select("url_hash", "content_hash"),
        "prime", None, now1,
    ))
    cache_df = cstore.read_shared(spark, "http_cache", HTTP_CACHE_SCHEMA)
    inc_df = cstore.read_shared(spark, "inc_tags", INC_TAGS_SCHEMA)

    refetched = apply_replay(fetch_stage(
        cache_probe(selected, cache_df, now2), changed_corpus(corpus, seed),
        selected_count=n_sel,
    ))
    t_probe, o = _sink(refetched, hits=_rows(), replayed=F.count(F.when(F.col("replayed"), 1)))
    to_store = refetched.filter(F.col("ok") & cfg.fetch_rule_col() & keep)
    obs_in = Observation()
    kept = skip_unchanged(to_store.observe(obs_in, _rows().alias("rows")), inc_df, now2)
    t_skip, o_kept = _sink(kept, rows=_rows())
    n_in = obs_in.get["rows"]
    return {
        "cache.probe_s": t_probe,
        "cache.replay_frac": _ratio(o["replayed"], o["hits"]),
        "cache.skip_s": t_skip,
        "cache.skip_frac": _ratio(n_in - o_kept["rows"], n_in),
        "cache.shared_bytes": dir_size(cstore.shared_path("http_cache").parent)[1],
    }


def kernel_microbench(records: dict[str, dict], seed: int, n_pages: int = 300, passes: int = 3) -> dict:
    """µs/page of each step of the parse kernel — decode, tree, title,
    links — on a seed-chosen sample of the workload's HTML pages,
    single thread, median over ``passes``."""
    pages = [
        r for r in records.values()
        if r["status_code"] == 200 and r["content_type"].startswith("text/html")
    ]
    sample = random.Random(seed).sample(pages, min(n_pages, len(pages)))
    steps = ("decode", "tree", "title", "links")
    totals = {s: [] for s in steps}
    clock = time.perf_counter
    for _ in range(passes):
        acc = dict.fromkeys(steps, 0.0)
        for rec in sample:
            t0 = clock()
            text = htmlkit.extract_text(rec["html"], rec["content_type"])
            t1 = clock()
            root = htmlkit.parse_html(text)
            t2 = clock()
            htmlkit.page_title(root)
            t3 = clock()
            htmlkit.extract_links(root, rec["url"])
            t4 = clock()
            acc["decode"] += t1 - t0
            acc["tree"] += t2 - t1
            acc["title"] += t3 - t2
            acc["links"] += t4 - t3
        for s in steps:
            totals[s].append(acc[s])
    scale = 1e6 / len(sample)
    out = {f"htmlkit.{s}_us_per_page": statistics.median(totals[s]) * scale for s in steps}
    out["htmlkit.kernel_us_per_page"] = statistics.median(
        sum(totals[s][i] for s in steps) for i in range(passes)
    ) * scale
    return out
