"""Structured-Streaming face of the engine (optional per SURVEY.md §7).

Memorious's own execution is a finite FIFO drain, which the batch
round loop reproduces exactly; this module is the continuous-ingest
variant a production frontier needs: new seed URLs (or re-crawl
schedule rows) arrive as a stream, each micro-batch flows through the
SAME stage operators (canonicalize → dedup vs the persistent seen set
→ http-cache probe → fetch join → 304 replay → parse), and results
append to the run tables. The stage logic is shared with the batch
runner — ``foreachBatch`` delegates to the identical DataFrame
functions, so semantics can't drift between the two faces.

Face parity (round-3): the per-host politeness budget runs ON the
stream as the keyed-state park/release operator
(:mod:`memorious_spark.streaming.stateful` — the reference's parked
queue, queue.py:30-37, living in Spark's state store), and a
``cache_store`` wires the same crawler-scoped ``http_cache`` table the
batch face uses (conditional-GET replay, http.py:141-178).

Checkpointing: Spark's streaming checkpoint handles the source
offsets AND the politeness state; the engine's own seen/results
tables stay the source of truth (idempotent via anti-join, so
at-least-once delivery from the source is fine — the seen set makes
re-delivered URLs no-ops).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from memorious_spark.functions.urls import hash_col, host_col, norm_col, scheme_ok_col
from memorious_spark.operators.cache import (
    HTTP_CACHE_SCHEMA, apply_replay, cache_entries, cache_probe,
)
from memorious_spark.operators.fetch import fetch_stage
from memorious_spark.operators.parse import ParseConfig, parse_stage
from memorious_spark.operators.seen import dedup_new
from memorious_spark.streaming.stateful import politeness_release

__all__ = ["stream_seed_source", "run_streaming_crawl"]


def stream_seed_source(
    spark: SparkSession, path: str, schema: str = "url string, emit_seq long"
) -> DataFrame:
    """File-based streaming seed source: drop parquet files of
    ``(url, emit_seq)`` into ``path`` and each becomes a micro-batch.
    (On a real deployment this is a Kafka/queue source — same shape.)"""
    return spark.readStream.schema(schema).parquet(path)


def run_streaming_crawl(
    spark: SparkSession,
    seeds_stream: DataFrame,
    corpus: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    parse_config: ParseConfig | None = None,
    seen_dir: str | None = None,
    politeness_budget: int | None = None,
    politeness_timeout_ms: int | None = None,
    politeness_group: str = "host",
    cache_store=None,
    run_id: str = "stream",
    now_ts: str = "2024-01-01 00:00:00",
    retry_dir: str | None = None,
    max_retries: int = 3,
    trap_filter: bool = False,
    canonicalize: str = "conservative",
    robots: DataFrame | None = None,
):
    """Continuous crawl ingest: every micro-batch of seed URLs is
    canonicalized, deduped against the persistent seen table, probed
    against the crawler's http cache (``cache_store`` — a RunStore;
    unchanged pages replay their cached hash instead of re-hashing),
    fetched (corpus join) and parsed; parsed rows append to
    ``out_dir`` and their hashes to the seen table.

    ``politeness_budget`` applies the per-host budget ON the stream
    via the keyed-state park/release operator: at most ``budget`` urls
    per host per trigger, FIFO, the excess parked in checkpointed
    state and drained on later triggers. ``politeness_group="domain"``
    keys that state by registrable domain instead (face parity with
    ``CrawlConfig.politeness_group``) — subdomain farms share one
    budget.

    ``robots`` (host, disallow_prefixes, crawl_delay_budget — the
    batch face's ``functions.robots.robots_table`` shape) gates
    disallowed paths with a STREAM-STATIC join BEFORE politeness (a
    blocked url never consumes budget, never marks seen) and carries
    each host's crawl-delay budget into the keyed state as an
    override. Host-scoped like robots itself: with
    ``politeness_group="domain"`` the override applies only where the
    domain equals the host, matching the batch face's caveat.

    ``trap_filter`` applies the batch face's crawler-trap gate
    (functions/urls.is_trap_col — Heritrix decide rules) to every
    candidate before the seen probe, face parity with
    ``CrawlConfig.trap_filter``.

    ``retry_dir`` gives corpus-miss rows the batch face's retry
    semantics (fetch.py retry-as-rounds): a url that joins NO corpus
    row is parked as a retry file ``(url, emit_seq, attempt+1)`` and
    the same directory is unioned into the stream as a second file
    source, so the miss re-enters on a later trigger — through the
    politeness operator like any other candidate (attempt rides the
    keyed state) — and succeeds once the corpus has gained the row.
    Attempts beyond ``max_retries`` land in ``<retry_dir>_dead``
    instead (no silent drop). Retried rows bypass the seen anti-join
    exactly like the batch face's retry frontier rows (their hash was
    marked seen at first emission). Returns the StreamingQuery."""
    parse_config = parse_config or ParseConfig()
    seen_path = seen_dir or f"{out_dir}/_seen"

    stream = seeds_stream.withColumn("attempt", F.lit(0))
    if retry_dir is not None:
        import os

        os.makedirs(retry_dir, exist_ok=True)
        retries = (
            spark.readStream.schema("url string, emit_seq long, attempt int")
            .option("recursiveFileLookup", "true")
            .parquet(retry_dir)
        )
        stream = stream.unionByName(retries)
    if politeness_group not in ("host", "domain"):
        raise ValueError(
            f"run_streaming_crawl: unknown politeness_group "
            f"{politeness_group!r} (supported: host, domain)"
        )
    if canonicalize not in ("conservative", "aggressive"):
        raise ValueError(
            f"run_streaming_crawl: unknown canonicalize "
            f"{canonicalize!r} (supported: conservative, aggressive)"
        )
    # dedup/seen key parity with CrawlConfig.canonicalize: aggressive
    # hashes the canon form (tracking-param variants collapse); the
    # fetch join key (url_norm) is never altered
    if canonicalize == "aggressive":
        from memorious_spark.functions.urls import canon_col

        dedup_hash = hash_col(canon_col(F.col("url")))
    else:
        dedup_hash = hash_col(F.col("url_norm"))
    budget_overrides = None
    if robots is not None:
        # stream-static disallow gate BEFORE politeness: a blocked url
        # never consumes budget and never marks seen (batch-face order,
        # operators/frontier.politeness_dequeue)
        from memorious_spark.functions.hof import bind_once

        cols = stream.columns
        joined = stream.withColumn(
            "host", host_col(F.col("url"))
        ).join(F.broadcast(robots), "host", "left")
        disallowed = bind_once(
            F.expr("parse_url(url, 'PATH')"),
            lambda path: F.exists(
                F.col("disallow_prefixes"), lambda p: path.startswith(p)
            ),
        )
        stream = joined.filter(
            F.col("disallow_prefixes").isNull() | ~disallowed
        ).select(*cols)
        budget_overrides = {
            r["host"]: int(r["crawl_delay_budget"])
            for r in robots.select("host", "crawl_delay_budget").collect()
            if r["crawl_delay_budget"] is not None
        } or None
    # Face parity (batch: no_politeness requires robots is None): when
    # robots declares any crawl-delay budget, it must gate the stream
    # even with no global politeness budget — otherwise the overrides
    # are computed above and silently never applied, and crawl-delay
    # hosts get unbounded fetch rate. An effectively-unlimited global
    # budget keeps non-delayed hosts unthrottled while the per-host
    # overrides still bind.
    effective_budget = politeness_budget
    if effective_budget is None and budget_overrides:
        effective_budget = 2**31 - 1
    if effective_budget is not None:
        grp = host_col(F.col("url"))
        if politeness_group == "domain":
            from memorious_spark.functions.urls import (
                py_registrable_domain, registrable_domain_col,
            )

            # ICANN-only rules: batch-face parity (frontier.py) —
            # politeness groups by infrastructure, not registrant
            grp = registrable_domain_col(grp, include_private=False)
            if budget_overrides:
                # the stateful politeness key is the REGISTRABLE
                # DOMAIN in this mode — overrides keyed by raw robots
                # host would never match. Re-key by the same group
                # function; a domain takes its strictest (minimum)
                # host budget.
                rekeyed: dict[str, int] = {}
                for h, b in budget_overrides.items():
                    d = py_registrable_domain(h, include_private=False)
                    rekeyed[d] = min(b, rekeyed.get(d, b))
                budget_overrides = rekeyed
        # NOTE: when only crawl-delay overrides exist (no configured
        # politeness_budget), routing through the stateful path
        # subjects ALL hosts to stateful.py's _MAX_PENDING per-host
        # queue cap — a bound the pure pass-through configuration did
        # not have (documented trade; the cap is per-host and large).
        cands = stream.withColumn("host", grp)
        stream = politeness_release(
            cands.select("host", "url", "emit_seq", "attempt"),
            effective_budget,
            timeout_ms=politeness_timeout_ms,
            budget_overrides=budget_overrides,
        ).select("url", "emit_seq", "attempt")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        gated = batch_df.filter(scheme_ok_col(F.col("url")))
        if trap_filter:
            from memorious_spark.functions.urls import is_trap_col

            gated = gated.filter(~is_trap_col(F.col("url")))
        frontier = (
            gated
            .withColumn("url_norm", norm_col(F.col("url")))
            .withColumn("url_hash", dedup_hash)
            .withColumn("host", host_col(F.col("url")))
            .withColumn("depth", F.lit(0))
            .withColumn("priority", F.lit(0.0))
            .withColumn("src_url", F.lit(None).cast("string"))
            .withColumn("link_idx", F.lit(None).cast("int"))
        )
        if "attempt" not in batch_df.columns:
            frontier = frontier.withColumn("attempt", F.lit(0))
        try:
            seen = spark.read.parquet(seen_path)
        except Exception:
            seen = None
        # retry re-entries (attempt > 0) bypass the seen anti-join —
        # their hash was marked seen when they first emitted, exactly
        # like the batch runner's retry frontier rows
        first_time = frontier.filter(F.col("attempt") == 0)
        fresh = dedup_new(first_time, seen).unionByName(
            frontier.filter(F.col("attempt") > 0)
        ).persist()
        # Idempotent replay order: results land in a batch-id-keyed dir
        # with OVERWRITE (a retried batch replaces its own output —
        # never duplicates, never loses rows), and only then do the
        # hashes append to seen (duplicate hashes from a replayed
        # append are harmless: the seen probe is set-membership).
        # The reverse order would lose data: seen-first makes a retry's
        # anti-join drop the batch before its results ever landed.
        use_cache = cache_store is not None
        if use_cache:
            cache_df = cache_store.read_shared(
                spark, "http_cache", HTTP_CACHE_SCHEMA
            )
            probe_in = cache_probe(fresh, cache_df, now_ts)
        else:
            probe_in = fresh
        fetched = fetch_stage(probe_in, corpus)
        if use_cache:
            fetched = apply_replay(fetched)
        parsed = parse_stage(fetched, parse_config).persist()
        parsed.write.mode("overwrite").parquet(
            f"{out_dir}/batch={batch_id}"
        )
        if use_cache:
            # same table, same shape as the batch face's appends
            cache_store.append_shared(
                "http_cache",
                cache_entries(
                    parsed.withColumn("_emit", F.col("ok")).withColumn(
                        "retrieved_at",
                        F.coalesce(
                            F.col("retrieved_at_cached"), F.col("warc_ts")
                        ),
                    ),
                    run_id,
                    now_ts=now_ts,
                ),
            )
        fresh.select("url_hash").write.mode("append").parquet(seen_path)
        if retry_dir is not None:
            # corpus misses: candidates whose hash joined no corpus
            # row — park (url, emit_seq, attempt+1) back into the
            # retry source; exhausted attempts go to the dead-letter
            # dir so nothing ever vanishes silently
            misses = (
                fresh.join(
                    parsed.select("url_hash").distinct(),
                    "url_hash",
                    "left_anti",
                )
                .select(
                    "url", "emit_seq",
                    (F.col("attempt") + 1).cast("int").alias("attempt"),
                )
                .persist()
            )
            # batch-id-keyed OVERWRITE like the results write: a
            # replayed batch replaces its own park files instead of
            # duplicating them (the retry source lists recursively)
            misses.filter(F.col("attempt") <= max_retries).write.mode(
                "overwrite"
            ).parquet(f"{retry_dir}/batch={batch_id}")
            dead = misses.filter(F.col("attempt") > max_retries)
            if dead.head(1):
                dead.write.mode("overwrite").parquet(
                    f"{retry_dir}_dead/batch={batch_id}"
                )
            misses.unpersist()
        parsed.unpersist()
        fresh.unpersist()

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
