"""Frontier operators: politeness budget dequeue, deterministic
emit-sequence assignment, hot-host salting.

Replaces memorious's sequential scheduler: Redis FIFO drain
(memorious/model/queue.py:17-27) + whole-stage rate-limit parking
(queue.py:30-37, 120 req/min/host settings.py:38). Time is discretized
into frontier rounds: "k fetches per rate interval" becomes "k rows
per host per round", enforced by a window rank — deterministic, no
executor sleeps, carryover preserves FIFO order across rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from memorious_spark.functions.hof import bind_once

__all__ = [
    "FRONTIER_SCHEMA",
    "politeness_dequeue",
    "order_bucket_expr",
    "range_by_order",
    "seq_from_sizes",
    "dedup_within_round",
    "salt_partitions",
]

FRONTIER_SCHEMA = (
    "url string, url_norm string, url_hash long, host string, depth int, "
    "priority double, src_url string, link_idx int, emit_seq long, attempt int"
)

def _order_cols():
    return [F.col("priority"), F.col("emit_seq")]


def politeness_dequeue(
    frontier: DataFrame,
    budget: int,
    robots: DataFrame | None = None,
    group: str = "host",
) -> tuple[DataFrame, DataFrame]:
    """Select ≤ budget rows per host this round; rest carries over.

    Order within host is ``(priority, emit_seq)`` — emit_seq is the
    FIFO position, so budget-starved URLs win next round exactly as
    the reference's parked queue would drain them. ``robots`` (host,
    disallow_prefixes, crawl_delay_budget) both gates disallowed
    paths and overrides the per-host budget (north-rule addition; the
    reference has no robots support).

    ``group="domain"`` keys the budget on the REGISTRABLE domain
    (``functions.urls.registrable_domain_col``) instead of the raw
    host — ten thousand ``*.blogspot.com`` subdomains then share one
    budget rather than multiplying it. Robots gating/overrides stay
    per-host (robots.txt is a host-scoped protocol); with mixed
    per-host crawl-delay budgets a row is admitted only while the
    DOMAIN-wide rank is within that row's own host budget, so the
    domain total never exceeds its most permissive host's budget and
    stricter hosts cut off earlier.

    Skew-safe two-phase top-k: a single ``Window.partitionBy(host)``
    would funnel a mega-host's entire frontier (10^8 rows on a
    10^10-URL frontier) through ONE task's sort only to keep
    ``budget`` of them. Phase 1 ranks within ``(host, salt)`` (32
    salts) and keeps ≤ budget per salt — any row ranked past the
    budget inside its salt already has ≥ budget same-host rows ahead
    of it globally, so dropping it to carryover is exact. Phase 2 runs
    the precise per-host window over the ≤ salts·budget survivors.
    Same output as the naive window, no single-task stage.
    """
    if robots is not None:
        frontier = frontier.join(F.broadcast(robots), "host", "left")
        # bind the parsed path once — inlined in the exists lambda it
        # would re-parse the URL per disallow prefix (no CSE in HOFs)
        disallowed = bind_once(
            F.expr("parse_url(url, 'PATH')"),
            lambda path: F.exists(
                F.col("disallow_prefixes"), lambda p: path.startswith(p)
            ),
        )
        frontier = frontier.filter(
            F.col("disallow_prefixes").isNull() | ~disallowed
        )
        host_budget = F.coalesce(F.col("crawl_delay_budget"), F.lit(budget))
        robot_cols = ["disallow_prefixes", "crawl_delay_budget"]
    else:
        host_budget = F.lit(budget)
        robot_cols = []

    if group == "domain":
        from memorious_spark.functions.urls import registrable_domain_col

        # ICANN-only: politeness groups by origin INFRASTRUCTURE, so
        # private-section platform registries (blogspot.com,
        # github.io) stay ONE group — the whole point of domain mode
        grp = registrable_domain_col(F.col("host"), include_private=False)
    elif group == "host":
        grp = F.col("host")
    else:
        raise ValueError(
            f"politeness_dequeue: unknown group {group!r} "
            "(expected 'host' or 'domain')"
        )
    base = (
        frontier.withColumn("_budget", host_budget)
        .withColumn("_grp", grp)
        .withColumn(
            "_salt", F.pmod(F.xxhash64(F.col("emit_seq")), F.lit(32))
        )
    )
    w1 = Window.partitionBy("_grp", "_salt").orderBy(*_order_cols())
    p1 = base.withColumn("_rn1", F.row_number().over(w1))
    survivors = p1.filter(F.col("_rn1") <= F.col("_budget"))
    spill1 = p1.filter(F.col("_rn1") > F.col("_budget"))

    w2 = Window.partitionBy("_grp").orderBy(*_order_cols())
    ranked = survivors.withColumn("_rn", F.row_number().over(w2))
    selected = ranked.filter(F.col("_rn") <= F.col("_budget"))
    spill2 = ranked.filter(F.col("_rn") > F.col("_budget"))

    drop1 = ["_rn1", "_salt", "_grp", "_budget"] + robot_cols
    drop2 = ["_rn"] + drop1
    carryover = spill1.drop(*drop1).unionByName(spill2.drop(*drop2))
    return selected.drop(*drop2), carryover


def dedup_within_round(candidates: DataFrame, order_cols: list[str]) -> DataFrame:
    """First-emit-wins dedup of one round's new links.

    Sequential memorious tags each link the instant it's emitted
    (memorious/operations/parse.py:55-58), so within a BFS generation
    the FIRST emitter of a URL wins. ``order_cols`` (parent emit_seq,
    link_idx) is a total order, making this deterministic.

    Shape: ``min_by`` AGGREGATE, not a row_number window — the
    candidate stream carries ~links-per-page duplicates of every hot
    url, and partial aggregation collapses them map-side BEFORE the
    exchange (guide §2.3: aggregate before you shuffle), where the
    window shuffled and sorted every raw candidate row. The output
    keeps the aggregate's grouping column ``url_hash`` itself (only
    the other columns come out of ``_row``), so its hash partitioning
    on ``url_hash`` survives and the downstream seen anti-join reuses
    it instead of re-shuffling the candidates.
    """
    cols = candidates.columns
    rest = [c for c in cols if c != "url_hash"]
    ord_key = F.struct(*[F.col(c) for c in order_cols])
    return (
        candidates.groupBy("url_hash")
        .agg(F.min_by(F.struct(*rest), ord_key).alias("_row"))
        .select(*[
            F.col(c) if c == "url_hash" else F.col(f"_row.{c}") for c in cols
        ])
    )


def order_bucket_expr(col: "F.Column", lo, hi, n_buckets: int) -> "F.Column":
    """Equal-width bucket id over ``[lo, hi]`` as a PURE FUNCTION of
    the key value — the deterministic replacement for
    ``repartitionByRange(...) + spark_partition_id()``, whose range
    boundaries are re-sampled per job execution: a recomputed cached/
    checkpointed partition could disagree with an earlier collect over
    the same frame (the round-5 verdict's two-consumer hole, the
    ``token_shards`` flake class). Bucket MEMBERSHIP here depends only
    on the value, so any re-execution reproduces it bit-for-bit.

    Double arithmetic throughout: monotonic and deterministic for any
    long/double key (bucket BALANCE is approximate at the extremes of
    the 64-bit range; membership never is). Dense sequences and
    xxhash64-style uniform keys — the two frontier regimes — both
    spread evenly."""
    width = (float(hi) - float(lo) + 1.0) / n_buckets
    b = F.floor((col.cast("double") - F.lit(float(lo))) / F.lit(width))
    return (
        F.least(F.lit(n_buckets - 1), F.greatest(F.lit(0), b)).cast("int")
    )


def range_by_order(df: DataFrame, order_cols: list[str]) -> DataFrame:
    """Deterministic order-bucket assignment — the distributed half of
    dense sequence assignment. One tiny min/max aggregate job over the
    FIRST order key (which doubles as the materializing action for a
    caller-persisted ``df``), then ``_pid`` = equal-width bucket of
    that key (:func:`order_bucket_expr`, one bucket per default-
    parallelism slot) — contiguous ranges in key
    order, so :func:`seq_from_sizes`' per-bucket offsets are exact.

    vs the former ``repartitionByRange + spark_partition_id()``: no
    range-sampling pass, no extra shuffle of the rows (the downstream
    per-``_pid`` window supplies the one exchange), and — the round-5
    verdict's directive — ``_pid`` is a pure function of the data, so
    a recomputed partition (persist is advisory) can never disagree
    with the sizes a caller already collected."""
    n = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    first = order_cols[0]
    row = df.agg(F.min(first).alias("lo"), F.max(first).alias("hi")).first()
    lo, hi = row["lo"], row["hi"]
    if lo is None:  # empty input
        return df.withColumn("_pid", F.lit(0).cast("int"))
    return df.withColumn(
        "_pid", order_bucket_expr(F.col(first), lo, hi, n)
    )


def seq_from_sizes(
    rp: DataFrame,
    order_cols: list[str],
    sizes: dict[int, int],
    start: int,
) -> DataFrame:
    """Dense global ``emit_seq`` from per-partition sizes: rank within
    ``_pid`` + broadcast offsets. The order is total (callers dedup to
    unique keys first), so the numbering is deterministic regardless
    of partition boundaries."""
    keys = [F.col(c) for c in order_cols]
    if not sizes:  # empty input
        return rp.withColumn("emit_seq", F.lit(None).cast("long")).drop("_pid")
    offsets, acc = {}, start
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    offset_map = F.create_map(
        *[F.lit(x) for pid in sorted(sizes) for x in (pid, offsets[pid])]
    )
    w = Window.partitionBy("_pid").orderBy(*keys)
    return (
        rp.withColumn("_rn", F.row_number().over(w))
        .withColumn(
            "emit_seq",
            (offset_map[F.col("_pid")] + F.col("_rn") - 1).cast("long"),
        )
        .drop("_pid", "_rn")
    )


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Respread a DataFrame that arrives in too few partitions (e.g. a
    single small parquet split) so CPU-bound stages actually fan out.
    No-op when the input is already parallel enough — never adds a
    shuffle to a well-partitioned scale-sized input."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= max(target // 2, 2):
        return df
    return df.repartition(target)


def salt_partitions(df: DataFrame) -> DataFrame:
    """Re-spread budget-selected rows by url hash over the default
    parallelism so a hot host's rows don't pin one task through
    fetch/parse (the explicit hot-host salting of the north rule).
    Crawl rounds plan statically, with no adaptive skew-join split
    behind it, so this is the only guard against a hot host."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, F.xxhash64("url"))
