"""The tag KV surface: set_tag / get_tag / check_tag as batch joins.

memorious tags are a SQL KV store keyed ``make_key(crawler, "tag",
key)`` with JSON values (memorious/logic/context.py:114-125; storage
memorious/core.py:40-43).
The engine's equivalent is a crawler-scoped ``tags`` table in the
RunStore's shared area:

    (key_hash LONG, crawler STRING, kind STRING, key STRING,
     value STRING, run_id STRING, created_at TIMESTAMP,
     expires_at TIMESTAMP)

- ``set_tags``    — batch ``set_tag``: append one row per input row.
- ``check_tags``  — batch ``check_tag``: boolean membership column via
  a left join on the key hash (the anti-join of the seen set applies
  when used as a filter — see operators.seen).
- ``get_tags``    — batch ``get_tag``: attach the latest value per
  key.

All keyed by ``xxhash64(crawler:kind:key)`` on the input's ``key``
column, so lookups co-partition with a bucketed tags table at scale.
Tags do not expire: ``set_tags`` writes ``expires_at`` NULL and the
readers ignore it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from memorious_spark.operators.seen import expiry_stamp

__all__ = ["TAGS_SCHEMA", "tag_key_hash", "set_tags", "check_tags", "get_tags"]

TAGS_SCHEMA = (
    "key_hash long, crawler string, kind string, key string, value string, "
    "run_id string, created_at timestamp, expires_at timestamp"
)

TAGS_TABLE = "tags"


def tag_key_hash(crawler: str, kind: str, key: Column) -> Column:
    """xxhash64 of the reference's make_key(crawler, 'tag'-like kind,
    key) — the join key everywhere."""
    return F.xxhash64(F.concat_ws(":", F.lit(crawler), F.lit(kind), key))


def set_tags(
    store,
    df: DataFrame,
    crawler: str,
    kind: str,
    value_col: str | None = None,
    run_id: str = "run",
    now_ts: str = "2024-01-01 00:00:00",
) -> None:
    """Batch set_tag (context.py:114-117): one tags row per input row,
    stamped ``now_ts``."""
    rows = df.select(
        tag_key_hash(crawler, kind, F.col("key")).alias("key_hash"),
        F.lit(crawler).alias("crawler"),
        F.lit(kind).alias("kind"),
        F.col("key").cast("string").alias("key"),
        (F.col(value_col).cast("string") if value_col else F.lit(None).cast("string")).alias("value"),
        F.lit(run_id).alias("run_id"),
        *expiry_stamp(now_ts, None),
    )
    store.append_shared(TAGS_TABLE, rows)


def _live(
    spark: SparkSession, store, crawler: str, kind: str
) -> DataFrame | None:
    tags = store.read_shared(spark, TAGS_TABLE, TAGS_SCHEMA)
    if tags is None:
        return None
    return tags.filter(
        (F.col("crawler") == crawler) & (F.col("kind") == kind)
    )


def check_tags(
    spark: SparkSession,
    store,
    df: DataFrame,
    crawler: str,
    kind: str,
) -> DataFrame:
    """Batch check_tag (context.py:122-125): boolean membership as
    ``tagged``."""
    live = _live(spark, store, crawler, kind)
    if live is None:
        return df.withColumn("tagged", F.lit(False))
    keys = live.select("key_hash").distinct().withColumn("_hit", F.lit(True))
    joined = df.withColumn(
        "_kh", tag_key_hash(crawler, kind, F.col("key"))
    ).join(keys.hint("shuffle_hash"), F.col("_kh") == F.col("key_hash"), "left")
    return joined.withColumn(
        "tagged", F.coalesce(F.col("_hit"), F.lit(False))
    ).drop("_kh", "key_hash", "_hit")


def get_tags(
    spark: SparkSession,
    store,
    df: DataFrame,
    crawler: str,
    kind: str,
) -> DataFrame:
    """Batch get_tag (context.py:118-121): latest value per ``key`` as
    ``tag_value`` (newest created_at/run_id wins, like the KV
    overwrite)."""
    live = _live(spark, store, crawler, kind)
    if live is None:
        return df.withColumn("tag_value", F.lit(None).cast("string"))
    w = Window.partitionBy("key_hash").orderBy(
        F.col("created_at").desc(), F.col("run_id").desc()
    )
    latest = (
        live.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("key_hash", F.col("value").alias("tag_value"))
    )
    joined = df.withColumn(
        "_kh", tag_key_hash(crawler, kind, F.col("key"))
    ).join(latest.hint("shuffle_hash"), F.col("_kh") == F.col("key_hash"), "left")
    return joined.drop("_kh", "key_hash")
