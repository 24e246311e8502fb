"""The crawl runner: batched BFS frontier rounds.

One round = one generation of memorious's FIFO drain (SURVEY.md §3.1):

    frontier → politeness dequeue → fetch (corpus join, three scans)
             → parse (Arrow UDF) → rule + ok gate → store sink
             → link explode → within-round dedup → seen anti-join
             → emit_seq assignment → next frontier

Round-discretization contract (documented deviations are part of the
engine's spec, SURVEY.md §4.3):
- all round-r fetch-time seen tags (redirect SOURCE urls, tagged after
  the rule+ok gates exactly as memorious/operations/fetch.py:30-33)
  apply before round-r parse emissions from later emit_seqs;
- "k req per rate interval per host" (memorious/logic/http.py:209-214)
  becomes "k rows per host per round";
- non-ok responses (status ≥ 400 — requests' ``Response.ok``) are
  fetched but not emitted downstream unless ``emit_errors``
  (fetch.py:22-26); only corpus MISSES retry (the reference recurses
  on transport errors only, fetch.py:35-42);
- crawl order equals the reference's single-threaded FIFO order via
  the dense ``emit_seq`` (parents' emit order × link index), without
  any global sort in the hot path.

Driver-job economy (the N→4N scaling-efficiency lever): a frontier
round issues exactly THREE waves of driver actions on the default
(no-politeness) path —
  1. results write (fetch join + parse UDF; the selected cache
     materializes inside this job; row counts ride along as
     ``df.observe`` metrics instead of separate count() jobs —
     n_selected is last round's frontier-write observation, and
     per-partition lineage comes from the checkpointed frontier's
     parquet footers, driver-local),
  2. new-link dedup chain materialization (the emit-order bounds
     aggregate) + per-bucket sizes (a cached-scan collect that yields
     BOTH the new-link count and the emit_seq offsets; ``_pid`` is a
     deterministic key-range bucket, never ``spark_partition_id``),
  3. frontier + seen writes, submitted in parallel threads (both read
     only cached data; the next round's frontier size rides along as
     an observation, so empty rounds cost zero jobs).
Per-host budget rounds are ALSO three waves: their selection
histogram (count + lineage of the budget-selected cache) defers into
wave 2 as a parallel thread beside the dedup sizes collect, and the
fetch join's broadcast decision uses the frontier count as its safe
upper bound. Everything else (metrics, manifest) is driver-local
pyarrow/JSON.

A wave is one driver action (or one set of parallel actions). Crawl
rounds plan statically (:meth:`CrawlRunner.run` turns adaptive query
execution off for the run and restores the caller's value after it),
so an action is one job plus the job of each broadcast it builds, not
one stage job per shuffle exchange: a round runs 8-10 jobs (locked by
``test_crawl_e2e.py::test_round_runs_at_most_ten_jobs``) where adaptive
execution runs 20-30. The job count is not what a round costs: with
only adaptive execution turned off, a traced ``bfs_polite`` round went
from 29 to 9.5 jobs and its fixed cost stayed at about 5 s. A round's
fixed cost is driver time: about 0.8 s before the first job and 0.5 s
between each pair of waves (``crawlbench --trace 1``, ``local[4]``,
4-vCPU VM), planning plus whole-stage code generation. The compile part
is paid once per query shape only while Spark's generated-class cache
holds a round's working set: at Spark's default of 100 entries every
round compiles its classes again, so ``session.get_spark`` sizes the
cache, and a repeat crawl compiles no class
(``test_repeat_crawl_reuses_generated_classes``).

State (frontier / seen / results / metrics) is checkpointed per round
through :class:`RunStore`; a killed run resumes from the last complete
round. Metrics carry per-partition lineage rows
(``spark_partition_id`` granularity) per the north rule.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from memorious_spark.functions.urls import hash_col, host_col, norm_col, scheme_ok_col
from memorious_spark.operators.cache import (
    HTTP_CACHE_SCHEMA, INC_TAGS_SCHEMA, apply_replay, cache_entries,
    cache_probe, inc_tag_entries, skip_unchanged,
)
from memorious_spark.operators.fetch import fetch_stage, retry_rows
from memorious_spark.operators.frontier import (
    FRONTIER_SCHEMA, dedup_within_round, politeness_dequeue, range_by_order,
    salt_partitions, seq_from_sizes,
)
from memorious_spark.operators.parse import extract_links_df, parse_stage
from memorious_spark.operators.seen import dedup_new, seen_entries
from memorious_spark.plans.pipeline import CrawlConfig
from memorious_spark.plans.storage import RunStore

__all__ = ["CrawlRunner", "RunResult"]

_RESULT_COLS = [
    "url", "final_url", "host", "depth", "emit_seq", "status_code",
    "content_type", "content_hash", "retrieved_at", "title", "text",
    "meta", "properties", "src_url",
]

SEEN_SCHEMA = (
    "key_hash long, crawler string, run_id string, kind string, "
    "value string, created_at timestamp, expires_at timestamp"
)

_ORDER = ["src_emit_seq", "link_idx"]

_AQE = "spark.sql.adaptive.enabled"


def _unpersist_all(cached: list[DataFrame]) -> None:
    while cached:
        cached.pop().unpersist()


@dataclass
class RunResult:
    run_id: str
    rounds: int
    pages_fetched: int
    pages_stored: int
    urls_seen: int
    status: str


class CrawlRunner:
    def __init__(
        self,
        spark: SparkSession,
        config: CrawlConfig,
        store: RunStore,
    ):
        self.spark = spark
        self.config = config
        self.store = store
        from memorious_spark.plans.rules import uses_text

        self._fetch_rule_needs_text = uses_text(config.fetch_rules)

    # ---- frontier construction -------------------------------------
    def _seed_frontier(self) -> DataFrame:
        """Seed emit order = list order (memorious/operations/
        initializers.py:5-18 emits sequentially)."""
        rows = [(u, i) for i, u in enumerate(self.config.seeds)]
        df = self.spark.createDataFrame(rows, "url string, emit_seq long")
        return self._frontier_shape(df, depth=F.lit(0))

    def _frontier_shape(self, df: DataFrame, depth) -> DataFrame:
        url_norm = norm_col(F.col("url"))
        return df.select(
            "url",
            url_norm.alias("url_norm"),
            hash_col(url_norm).alias("url_hash"),
            host_col(F.col("url")).alias("host"),
            depth.cast("int").alias("depth"),
            F.lit(0.0).alias("priority"),
            (df["src_url"] if "src_url" in df.columns else F.lit(None).cast("string")).alias("src_url"),
            (df["link_idx"] if "link_idx" in df.columns else F.lit(None).cast("int")).alias("link_idx"),
            F.col("emit_seq").cast("long").alias("emit_seq"),
            F.lit(0).alias("attempt"),
        )

    # ---- gate + parse ------------------------------------------------
    def _members(self, pre: DataFrame, gate) -> DataFrame:
        """`extract` stage (operations/extract.py:69-97) wired from
        YAML: archive-mime responses unpack into member rows BEFORE the
        parse pass drops the raw bytes."""
        from memorious_spark.functions.mime import GROUPS
        from memorious_spark.operators.extract import extract_stage

        archives = pre.filter(
            gate & F.col("content_type").isin(GROUPS["archives"])
        ).select(
            "url", "url_norm", "host", "depth", "emit_seq", "content_type",
            F.col("html").alias("payload"),
        )
        return extract_stage(
            archives, "payload", self.config.extract_wildcard
        )

    def _gate_and_parse(self, fetched: DataFrame, fetch_rule) -> DataFrame:
        """Apply the reference's emit gate (rules → ok) and parse.

        Emission ⇔ rule ∧ ok (fetch.py:17-26). Instead of filtering
        gated rows out (which would force one more corpus scan to
        learn which urls joined at all, for retry bookkeeping), every
        hit row flows through with an ``_emit`` flag and its ``html``
        masked to NULL when gated — the lazy-fetch economy
        (fetch.py:16): gated bodies never cross the Arrow boundary
        and never get parsed, but the row's fetch outcome survives in
        the round's one persisted DataFrame.
        """
        cfg = self.config
        ok_gate = F.lit(True) if cfg.emit_errors else F.col("ok")
        members = None
        if self._fetch_rule_needs_text:
            # xpath-style rules need the decoded text → parse first
            # (bodies of non-ok rows still never transfer)
            pre = fetched.withColumn("html", F.when(ok_gate, F.col("html")))
            if cfg.extract_enabled:
                members = self._members(pre, ok_gate)
            parsed = parse_stage(
                pre, cfg.parse, clean_paths=cfg.clean_html_paths
            ).withColumn("_emit", ok_gate & fetch_rule)
        else:
            pre = fetched.withColumn("_emit", ok_gate & fetch_rule).withColumn(
                "html", F.when(F.col("_emit"), F.col("html"))
            )
            if cfg.extract_enabled:
                members = self._members(pre, F.col("_emit"))
            parsed = parse_stage(pre, cfg.parse, clean_paths=cfg.clean_html_paths)
        retrieved = (
            F.coalesce(F.col("retrieved_at_cached"), F.col("warc_ts"))
            if "retrieved_at_cached" in parsed.columns
            else F.col("warc_ts")
        )
        return parsed.withColumn("retrieved_at", retrieved), members

    # ---- main loop ---------------------------------------------------
    def _start(
        self, resume: bool, initial_frontier: DataFrame | None
    ) -> tuple[int, int, int, int, dict]:
        """``(start_round, next_seq, seen_count, frontier_rows, totals)``
        of a run: read back from the manifest on resume, else from the
        round-0 frontier this writes."""
        cfg, store, spark = self.config, self.store, self.spark
        if resume and (m := store.read_manifest()) is not None:
            # a resume follows a crash: sweep shared-table compaction
            # leftovers ONCE here — per-op recovery only covers tables
            # this run touches again (storage.vacuum_shared docstring)
            store.vacuum_shared()
            last = next(
                r for r in m["rounds"] if r["round"] == m["last_complete_round"]
            )
            totals = {
                "fetched": sum(r["fetched"] for r in m["rounds"]),
                "stored": sum(r["stored"] for r in m["rounds"]),
            }
            store.truncate_after(m["last_complete_round"])  # drop partials
            return (
                m["last_complete_round"] + 1, last["next_seq"],
                last["urls_seen"], last["next_frontier"], totals,
            )
        if initial_frontier is None and cfg.init_method in (
            "sequence", "dates", "enumerate",
        ):
            # generator init stage compiled from YAML → materialize the
            # round-0 frontier (sequence `tag` once-only state lives in
            # the store's shared tables)
            from memorious_spark.operators.initializers import (
                compile_initial_frontier,
            )

            initial_frontier = compile_initial_frontier(spark, cfg, store)
        if initial_frontier is not None:
            frontier0 = self._frontier_shape(initial_frontier, depth=F.lit(0))
            obs0 = Observation()
            store.write_round(
                "frontier", 0,
                frontier0.observe(obs0, F.count(F.lit(1)).alias("rows")),
            )
            n_seeds = int(obs0.get["rows"])
        else:
            n_seeds = len(cfg.seeds)
            store.write_round("frontier", 0, self._seed_frontier())
        return 0, n_seeds, 0, n_seeds, {"fetched": 0, "stored": 0}

    def run(
        self,
        corpus: DataFrame,
        resume: bool = False,
        initial_frontier: DataFrame | None = None,
        now_ts: str = "2024-01-01 00:00:00",
    ) -> RunResult:
        """``initial_frontier`` (url string, emit_seq long) seeds round 0
        from a DataFrame instead of the config's literal seed list —
        the scale path for huge seed sets (a billion-URL frontier never
        goes through the driver). ``now_ts`` stamps this run's cache /
        tag writes (deterministic for tests; pass wall-clock in prod)."""
        cfg, store, spark = self.config, self.store, self.spark
        fetch_rule = cfg.fetch_rule_col()
        store_rule = cfg.store_rule_col()
        # incremental mode: snapshot the crawler-scoped cache/tag
        # tables ONCE per run — within a run the seen set already
        # guarantees a url is fetched at most once
        if cfg.incremental:
            cache_df = store.read_shared(spark, "http_cache", HTTP_CACHE_SCHEMA)
            inc_df = store.read_shared(spark, "inc_tags", INC_TAGS_SCHEMA)
        else:
            cache_df = inc_df = None
        # crawl rounds plan statically: the runner places its own
        # partitioning, broadcast choice and hot-host salting, so
        # adaptive execution would add only its per-exchange stage jobs
        # and re-planning (module docstring). The caller's value comes
        # back in the ``finally``.
        aqe = spark.conf.get(_AQE)
        spark.conf.set(_AQE, "false")
        pool = ThreadPoolExecutor(max_workers=4)
        cached: list[DataFrame] = []  # this round's persists
        try:
            start_round, next_seq, seen_count, frontier_rows, totals = self._start(
                resume, initial_frontier
            )
            rnd = start_round
            status = "done"
            while rnd < cfg.max_rounds:
                if store.abort_requested():
                    status = "aborted"
                    break
                if frontier_rows == 0:
                    break
                frontier = store.read_round(spark, "frontier", rnd, FRONTIER_SCHEMA)
                if frontier is None:
                    break

                seen = store.read_all(spark, "seen", rnd - 1, SEEN_SCHEMA)

                # politeness budget + hot-host salting. No configured rate
                # limit → no parking semantics to enforce → skip the
                # per-host window entirely (one less shuffle; the reference
                # only parks stages when a limit exists,
                # memorious/model/queue.py:30-37).
                no_politeness = cfg.budget_per_host >= 1_000_000_000
                if no_politeness:
                    selected, carryover = frontier, None
                else:
                    selected, carryover = politeness_dequeue(
                        frontier, cfg.budget_per_host, group=cfg.politeness_group
                    )
                selected = salt_partitions(selected).persist()
                cached.append(selected)

                def _histogram():
                    hist = (
                        selected.groupBy(F.spark_partition_id().alias("pid"))
                        .agg(F.count("*").alias("rows"))
                        .collect()
                    )
                    return sum(int(r["rows"]) for r in hist), [
                        dict(round=rnd, stage="fetch_input",
                             partition_id=int(r["pid"]), rows=int(r["rows"]))
                        for r in hist
                    ]

                if no_politeness:
                    # fast path — ZERO jobs here: selection kept the whole
                    # frontier, whose exact row count rode last round's
                    # frontier-write observation, and per-partition lineage
                    # comes from the checkpointed frontier's parquet
                    # footers (driver-local). The selected cache
                    # materializes inside the results-write job instead of
                    # a dedicated histogram wave (N→4N efficiency: one
                    # fewer fixed scheduling wave per round).
                    n_selected = frontier_rows
                    lineage = [
                        dict(round=rnd, stage="fetch_input", partition_id=i, rows=n)
                        for i, n in enumerate(store.partition_rows(rnd))
                    ]
                else:
                    # politeness path: the budget-selected count is data-
                    # dependent, but nothing needs it before the retry
                    # decision — so the histogram DEFERS into wave 2
                    # (parallel thread beside the dedup sizes collect,
                    # scanning the by-then-materialized selected cache) and
                    # the broadcast decision uses the frontier count as its
                    # safe upper bound (selection only shrinks). Budget
                    # rounds therefore cost the same THREE waves.
                    n_selected, lineage = None, None

                # fetch = corpus join (broadcast frontier side when small),
                # then gate+parse; ONE persisted DataFrame carries every
                # fetch outcome of the round. Incremental runs probe the
                # http cache first (the conditional-GET of http.py:145-152)
                # and replay 304s after the join.
                probe_in = (
                    cache_probe(selected, cache_df, now_ts)
                    if cfg.incremental
                    else selected
                )
                fetched = fetch_stage(probe_in, corpus, selected_count=frontier_rows)
                if cfg.incremental:
                    fetched = apply_replay(fetched)
                parsed, members = self._gate_and_parse(fetched, fetch_rule)
                # serialized persist: deserialized caching of row objects with
                # long text columns causes GC/storage contention at high core
                # counts (local[32] measured SLOWER than local[8] without this)
                from pyspark.storagelevel import StorageLevel as _SL
                parsed = parsed.persist(_SL.MEMORY_AND_DISK)
                cached.append(parsed)

                obs_parse = Observation()
                obs_store = Observation()
                observed = parsed.observe(
                    obs_parse,
                    F.count(F.lit(1)).alias("hits"),
                    F.count(F.when(F.col("_emit"), 1)).alias("emitted"),
                )
                def _store_projection(df):
                    # clean_html store-path transform (operations/clean.py:
                    # 11-26): stored rows carry the re-serialized cleaned
                    # DOM + its new hash; a failed/non-HTML clean passes
                    # the original through (the reference emits data
                    # unchanged when the doc is None). The reference mutates
                    # data['content_hash'] BEFORE any skip_incremental, so
                    # every downstream consumer — store skip AND inc_tags —
                    # must see the cleaned hash (one shared projection).
                    df = df.filter(F.col("_emit") & store_rule)
                    if cfg.clean_html_paths:
                        df = df.withColumn(
                            "text", F.coalesce("clean_text", "text")
                        ).withColumn(
                            "content_hash", F.coalesce("clean_hash", "content_hash")
                        )
                    return df

                store_pre = _store_projection(observed)
                if cfg.incremental:
                    # skip_incremental: unchanged (url, content_hash) pairs
                    # — replayed rows and same-content re-fetches — are not
                    # re-stored (context.py:127-148)
                    store_pre = skip_unchanged(store_pre, inc_df, now_ts)
                # the un-observed twin of `stored` for extra sinks (a plan
                # node with an Observation cannot appear in two queries)
                sink_rows = store_pre.select(*_RESULT_COLS)
                stored = sink_rows.observe(
                    obs_store, F.count(F.lit(1)).alias("rows")
                )
                # wave 1: results write (counts ride along as observations)
                store.write_round("results", rnd, stored)
                parse_counts = obs_parse.get
                n_hits = int(parse_counts["hits"])
                n_emitted = int(parse_counts["emitted"])
                n_stored = int(obs_store.get["rows"])

                # fetch-time seen tags: the redirect SOURCE url, tagged only
                # for rows that passed the rule+ok gates (fetch.py:30-33).
                # tagger_seq preserves the sequential-interleaving contract:
                # in the single-threaded reference, the tag placed by the
                # task with emit_seq s blocks link emissions only from tasks
                # processed AFTER s — not from earlier ones whose emits
                # already happened.
                redirect_tags = (
                    parsed.filter(F.col("_emit") & F.col("redirected_from").isNotNull())
                    .groupBy("url_hash", "url_norm")
                    .agg(F.min("emit_seq").alias("tagger_seq"))
                )

                # link candidates → within-round dedup → seen anti-join
                cands = extract_links_df(parsed.filter(F.col("_emit"))).filter(
                    scheme_ok_col(F.col("url"))
                )
                if cfg.sampling_rate is not None and cfg.sampling_rate < 1.0:
                    # DEBUG emit sampling (context.py:56-61: emit proceeds
                    # with probability p); seeded for reproducibility
                    cands = cands.sample(cfg.sampling_rate, seed=42)
                if cfg.max_depth is not None:
                    cands = cands.filter(F.col("depth") <= cfg.max_depth)
                cands = cands.withColumn("url_norm", norm_col(F.col("url"))).withColumn(
                    "url_hash", hash_col(F.col("url_norm"))
                )
                cands = dedup_within_round(cands, _ORDER)
                # same-round redirect tags block only later emitters
                cands = (
                    cands.join(
                        F.broadcast(redirect_tags.select("url_hash", "tagger_seq")),
                        "url_hash",
                        "left",
                    )
                    .filter(
                        F.col("tagger_seq").isNull()
                        | (F.col("tagger_seq") > F.col("src_emit_seq"))
                    )
                    .drop("tagger_seq")
                )
                seen_keys = (
                    seen.select(F.col("key_hash").alias("url_hash"))
                    if seen is not None
                    else None
                )
                # new0 persisted: the dedup chain feeds the bounds job, the
                # sizes collect, and every wave-3 consumer (frontier/seen
                # writes) — advisory only, since _pid is a pure function of
                # the data (below)
                new0 = dedup_new(cands, seen_keys).persist()
                cached.append(new0)
                # wave 2: materialize the dedup chain (the bounds aggregate
                # inside range_by_order is the materializing action), then
                # ONE cached-scan collect yields the per-bucket sizes (→
                # emit_seq offsets) and their sum (→ n_new). ``_pid`` is a
                # deterministic key-range bucket — a recomputed partition
                # can never disagree with the collected sizes (the round-5
                # emit_seq two-consumer hole, closed structurally), and the
                # former repartitionByRange shuffle + second persist are
                # gone. A deferred politeness histogram rides this wave in
                # a parallel thread (it scans the selected cache job 1
                # materialized).
                hist_fut = None if no_politeness else pool.submit(_histogram)
                rp = range_by_order(new0, _ORDER)
                sizes = {
                    int(r["_pid"]): int(r["cnt"])
                    for r in rp.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
                }
                if hist_fut is not None:
                    n_selected, lineage = hist_fut.result()
                n_new = sum(sizes.values())
                new_links = seq_from_sizes(rp, _ORDER, sizes, start=next_seq)
                next_seq += n_new
                new_frontier_rows = new_links.select(
                    "url", "url_norm", "url_hash",
                    host_col(F.col("url")).alias("host"),
                    F.col("depth").cast("int"),
                    F.lit(0.0).alias("priority"),
                    "src_url",
                    F.col("link_idx").cast("int"),
                    "emit_seq",
                    F.lit(0).alias("attempt"),
                )
                # retry = corpus misses, from the round's persisted hit keys
                # (no second corpus scan); the observed counts prove the
                # all-hit case, where the anti-join is skipped outright
                if n_hits >= n_selected:
                    next_frontier = new_frontier_rows
                else:
                    retry = retry_rows(
                        selected, parsed.select("url_norm").distinct(), cfg.retries
                    )
                    next_frontier = retry.unionByName(new_frontier_rows)
                if carryover is not None:
                    next_frontier = carryover.unionByName(next_frontier)
                obs_frontier = Observation()
                next_frontier = next_frontier.observe(
                    obs_frontier, F.count(F.lit(1)).alias("rows")
                )

                # seen append: emitted links + redirect-source tags
                seen_rows = seen_entries(
                    new_links, cfg.name, store.dir.name, "link",
                    expire_days=cfg.expire_days, now_ts=now_ts,
                ).unionByName(
                    seen_entries(
                        redirect_tags, cfg.name, store.dir.name, "redirect",
                        expire_days=cfg.expire_days, now_ts=now_ts,
                    )
                )
                # wave 3: frontier + seen (+ cache/inc-tag appends in
                # incremental mode) in parallel threads — all read only
                # cached data, so the jobs overlap fully
                futs = [
                    pool.submit(store.write_round, "frontier", rnd + 1, next_frontier),
                    pool.submit(store.write_round, "seen", rnd, seen_rows),
                ]
                if members is not None:
                    # extract stage output; re-runs the (broadcast) corpus
                    # join for the archive subset — only when configured
                    futs.append(pool.submit(
                        store.write_round, "members", rnd, members
                    ))
                if cfg.store_method == "directory" and n_stored:
                    # YAML `directory` sink: blob + JSON sidecar per stored
                    # row (operations/store.py:42-70), off the parsed cache
                    from memorious_spark.operators.sinks import directory_sink

                    dir_path = (cfg.store_params or {}).get(
                        "path", str(store.dir / "store")
                    )
                    futs.append(pool.submit(
                        directory_sink, sink_rows, dir_path, cfg.name
                    ))
                if cfg.incremental:
                    run_id_str = store.dir.name
                    futs.append(pool.submit(
                        store.append_shared, "http_cache",
                        cache_entries(parsed, run_id_str, cfg.expire_days, now_ts),
                    ))
                    # inc_tags key off the SAME cleaned-hash projection the
                    # store skip used — otherwise the test-and-set compares
                    # a raw fetch hash against a stored cleaned hash and
                    # never matches (context.py:127-148 + operations/clean.py)
                    inc_keys = skip_unchanged(
                        _store_projection(parsed), inc_df, now_ts
                    ).select("url_hash", "content_hash")
                    futs.append(pool.submit(
                        store.append_shared, "inc_tags",
                        inc_tag_entries(inc_keys, run_id_str, cfg.expire_days, now_ts),
                    ))
                for fut in futs:
                    fut.result()
                frontier_rows = int(obs_frontier.get["rows"])
                seen_count = seen_count + n_new  # redirect-source tags (few) not counted

                # metrics: round summary + per-partition lineage (footer- or
                # histogram-derived above); a driver-local 1-partition
                # parquet (a distributed union-write of 36 rows costs whole
                # Spark jobs of scheduling latency per round)
                metrics_rows = lineage + [
                    dict(round=rnd, stage=stage, partition_id=-1, rows=n)
                    for stage, n in [
                        ("round_summary", n_selected), ("fetched", n_hits),
                        ("emitted", n_emitted), ("stored", n_stored),
                        ("new_links", n_new),
                    ]
                ]
                store.write_round_local("metrics", rnd, metrics_rows)

                if cfg.inspect_enabled:
                    # `inspect` debug stage (operations/debug.py:4-6):
                    # pretty-log a sample of this round's parsed rows
                    for r in parsed.select(
                        "url", "status_code", "content_type", "title"
                    ).head(3):
                        print(f"[inspect round={rnd}] {r.asDict()}", flush=True)

                totals["fetched"] += n_hits
                totals["stored"] += n_stored
                store.commit_round(
                    rnd,
                    {
                        "selected": n_selected,
                        "fetched": n_hits,
                        "emitted": n_emitted,
                        "stored": n_stored,
                        "new_links": n_new,
                        "next_seq": next_seq,
                        "urls_seen": seen_count,
                        "next_frontier": frontier_rows,
                    },
                )
                _unpersist_all(cached)
                rnd += 1

        finally:
            # a round that raises must not leave its caches on the
            # session or its writes running behind the caller
            pool.shutdown(wait=True, cancel_futures=True)
            _unpersist_all(cached)
            spark.conf.set(_AQE, aqe)
        # run-level sinks + the post-drain aggregator hook
        # (crawler.py:66-87 fires `aggregate` when pending hits 0)
        if status == "done" and (
            cfg.store_method == "db" or cfg.aggregator is not None
        ):
            results_all = store.read_all(spark, "results", rnd)
            if cfg.store_method == "db" and results_all is not None:
                from memorious_spark.operators.sinks import db_sink_run

                db_sink_run(
                    spark, store, results_all, cfg.store_params or {},
                    cfg.name, now_ts,
                )
            if cfg.aggregator is not None:
                from memorious_spark.operators.sinks import run_aggregator

                run_aggregator(spark, store, cfg.aggregator, results_all)
        store.finish(status)
        return RunResult(
            run_id=store.dir.name,
            rounds=rnd - start_round,
            pages_fetched=totals["fetched"],
            pages_stored=totals["stored"],
            urls_seen=seen_count,
            status=status,
        )
