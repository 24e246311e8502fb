"""HTTP cache + incremental re-run — the cheap-re-crawl half of
memorious.

Reference semantics being re-expressed:

- **HTTP cache / 304 replay** (memorious/logic/http.py:141-178): the
  reference tags every ok GET response under ``request_id =
  make_key(method, url, …)`` with the serialized response, crawler-
  scoped, expiring after ``expire × 84600`` seconds
  (crawler.py:50). A later run sends a conditional request
  (If-Modified-Since/ETag) and on ``304`` replays the cached
  serialization — body from the content-addressed archive, original
  ``retrieved_at`` — instead of re-downloading. ``INCREMENTAL=True``
  is the reference DEFAULT (memorious/settings.py:26).

  Corpus-model mapping: the ``http_cache`` table (one row per ok
  fetch, latest-wins per url) is probed by LEFT JOIN before the
  corpus join; a row whose corpus ``warc_ts`` equals the cached
  ``warc_ts`` is a **replay** — the conditional-GET 304: its
  ``content_hash`` and ``retrieved_at`` come from the cache (the
  sha1 over the body is conditionally skipped — the replay's actual
  compute saving here) and, under incremental mode, it is not
  re-stored. Links are still extracted (the reference re-parses the
  replayed body too — a 304 does not stop the crawl).

- **skip_incremental** (memorious/logic/context.py:127-148): a
  test-and-set tag ``make_key("inc", *criteria)``; operators call it
  with e.g. ``(foreign_id, content_hash)`` to skip re-exporting
  unchanged documents (memorious/operations/aleph.py:63-66).
  Mapping: a crawler-scoped ``inc_tags`` table keyed
  ``(url_hash, content_hash)``; the store stage anti-joins it, so a
  second run stores only pages whose content actually changed.

Scale posture: both tables are keyed by ``url_hash`` (bucketable —
the probe join co-partitions without re-shuffling a 10^10-row cache),
appends are per-round parquet (Iceberg MERGE on a real deployment),
and latest-wins resolution is one window over the key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from memorious_spark.operators.seen import expiry_stamp, unexpired

__all__ = [
    "HTTP_CACHE_SCHEMA",
    "INC_TAGS_SCHEMA",
    "latest_cache",
    "cache_probe",
    "apply_replay",
    "cache_entries",
    "skip_unchanged",
    "inc_tag_entries",
]

HTTP_CACHE_SCHEMA = (
    "request_id string, url_hash long, url_norm string, warc_ts timestamp, "
    "status_code int, content_type string, content_hash string, "
    "retrieved_at timestamp, run_id string, created_at timestamp, "
    "expires_at timestamp"
)

INC_TAGS_SCHEMA = (
    "url_hash long, content_hash string, run_id string, "
    "created_at timestamp, expires_at timestamp"
)

_CACHED_COLS = ["cached_warc_ts", "cached_content_hash", "cached_retrieved_at",
                "cached_run_id"]


def latest_cache(cache: DataFrame, now_ts: str | None = None) -> DataFrame:
    """Resolve the append-only cache to one live row per url: drop
    expired entries, keep the newest ``(created_at, run_id)`` — the
    read-side of what an Iceberg MERGE would maintain in place."""
    cache = unexpired(cache, now_ts)
    w = Window.partitionBy("url_hash").orderBy(
        F.col("created_at").desc(), F.col("run_id").desc()
    )
    return (
        cache.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def cache_probe(
    selected: DataFrame, cache: DataFrame | None, now_ts: str | None = None
) -> DataFrame:
    """LEFT-JOIN the frontier against the live cache — the probe the
    reference does per-url via ``context.get_tag(request_id)``
    (http.py:145-147), batched. Adds ``cached_*`` columns (null ⇒
    cache miss) that ride the corpus join untouched."""
    if cache is None:
        out = selected
        for c in _CACHED_COLS:
            t = "string" if c in ("cached_content_hash", "cached_run_id") else "timestamp"
            out = out.withColumn(c, F.lit(None).cast(t))
        return out
    live = latest_cache(cache, now_ts).select(
        "url_hash",
        F.col("warc_ts").alias("cached_warc_ts"),
        F.col("content_hash").alias("cached_content_hash"),
        F.col("retrieved_at").alias("cached_retrieved_at"),
        F.col("run_id").alias("cached_run_id"),
    )
    return selected.join(live, "url_hash", "left")


def apply_replay(fetched: DataFrame) -> DataFrame:
    """Post-join 304 semantics: a hit whose corpus ``warc_ts`` equals
    the cached one is unchanged — the conditional GET would have come
    back 304 (http.py:170-173). Replayed rows reuse the cached
    ``content_hash`` (the sha1 branch short-circuits — no digest over
    the body) and the ORIGINAL ``retrieved_at``, exactly like
    ``apply_data`` rehydrating the cached serialization."""
    replayed = (
        F.col("cached_warc_ts").isNotNull()
        & (F.col("cached_warc_ts") == F.col("warc_ts"))
    )
    return (
        fetched.withColumn("replayed", replayed)
        .withColumn(
            "content_hash",
            F.when(replayed, F.col("cached_content_hash")).otherwise(
                F.col("content_hash")
            ),
        )
        .withColumn(
            "retrieved_at_cached",
            F.when(replayed, F.col("cached_retrieved_at")),
        )
    )


def cache_entries(
    parsed: DataFrame,
    crawler_run_id: str,
    expire_days: int | None = None,
    now_ts: str = "2024-01-01 00:00:00",
) -> DataFrame:
    """Cache rows for this round's ok responses (the reference caches
    only ``self.ok`` bodies, http.py:199-201). Replayed rows are not
    re-written — their live entry is already current."""
    rows = parsed.filter(
        F.col("_emit") & F.col("ok") & ~F.coalesce(F.col("replayed"), F.lit(False))
    )
    return rows.select(
        F.concat_ws(":", F.lit("GET"), F.col("url_norm")).alias("request_id"),
        "url_hash",
        "url_norm",
        "warc_ts",
        "status_code",
        "content_type",
        "content_hash",
        F.col("retrieved_at"),
        F.lit(crawler_run_id).alias("run_id"),
        *expiry_stamp(now_ts, expire_days),
    )


def skip_unchanged(
    stored: DataFrame, inc_tags: DataFrame | None, now_ts: str | None = None
) -> DataFrame:
    """``skip_incremental`` for the store stage: drop rows whose
    ``(url_hash, content_hash)`` already carries an unexpired inc tag
    (context.py:127-148 test; criteria shape per aleph.py:63-66)."""
    if inc_tags is None:
        return stored
    keys = unexpired(inc_tags, now_ts).select("url_hash", "content_hash").distinct()
    return stored.join(
        keys.hint("shuffle_hash"), ["url_hash", "content_hash"], "left_anti"
    )


def inc_tag_entries(
    stored: DataFrame,
    crawler_run_id: str,
    expire_days: int | None = None,
    now_ts: str = "2024-01-01 00:00:00",
) -> DataFrame:
    """The set half of skip_incremental's test-and-set (context.py:
    146-147): tag every row actually stored this round."""
    return stored.select(
        "url_hash",
        "content_hash",
        F.lit(crawler_run_id).alias("run_id"),
        *expiry_stamp(now_ts, expire_days),
    )
