"""Sinks: directory store, db upsert (flat + nested children), and the
post-run aggregator hook.

- ``directory_sink`` reproduces the blob + JSON-sidecar layout of
  memorious/operations/store.py:42-70: per stored row a
  ``<content_hash>.data.<ext>`` payload (ext from the normalized mime,
  store.py:27-38) and a ``<content_hash>.json`` metadata sidecar under
  ``<path>/<crawler>/``. foreachPartition — executor-side writes, no
  driver collect — through ``pyarrow.fs.FileSystem.from_uri``, so the
  same code writes local paths in local mode and shared object
  storage (``s3://…``/``hdfs://…``) on a cluster: every executor
  resolves the SAME destination from the URI, buffered output
  streams, one filesystem handle per partition. (Payload is the
  extracted ``text`` — the engine drops raw html after parse, the
  pass-hash-not-body economy.)
- ``merge_upsert`` is the ``db`` op's core (memorious/operations/
  db.py:9-22): update-by-unique-keys else insert, stamping
  ``__first_seen`` / ``__last_seen``. Expressed as a full-outer-shaped
  DataFrame merge (Iceberg MERGE INTO on a real catalog); timestamps
  passed in, never wall-clock, for determinism.
- ``db_sink_run`` applies it per crawl run against the crawler-scoped
  persistent table, including the reference's nested-children
  recursive upsert (db.py:25-54): each configured child key explodes
  the parse ``properties`` array into a ``<table>_<suffix>`` child
  table with ``inherit``ed parent columns. (The reference's children
  are free-form dicts; the corpus engine's list-valued parse
  properties are the structured analogue — documented deviation.)
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession, functions as F

__all__ = [
    "directory_sink",
    "merge_upsert",
    "db_sink_run",
    "run_aggregator",
]

# extension from normalized mime (reference uses mimetypes.guess_extension,
# store.py:33-37; pinned table here so file names don't depend on the
# host's mime registry)
_EXT = {
    "text/html": "html",
    "text/plain": "txt",
    "application/pdf": "pdf",
    "application/json": "json",
    "text/css": "css",
    "image/png": "png",
    "image/jpeg": "jpg",
}


def directory_sink(results: DataFrame, path: str, crawler: str) -> None:
    """Write one ``<content_hash>.data.<ext>`` + ``<content_hash>.json``
    per row under ``<path>/<crawler>/`` (store.py:42-70 layout: the
    reference names blobs ``content_hash + '.' + safe_filename('data',
    ext)``).

    Cluster posture: the destination is resolved per partition from
    its URI via ``pyarrow.fs`` — ``file://``/plain paths in local
    mode, object storage (s3/gcs/hdfs) on a real deployment — so the
    blobs land in ONE shared location no matter which executor writes
    them; writes go through pyarrow's buffered output streams.
    """
    out_dir = f"{path.rstrip('/')}/{crawler}"
    if "://" not in out_dir:
        # pyarrow's FileSystem.from_uri rejects scheme-less relative
        # paths (ArrowInvalid: empty scheme); resolve on the DRIVER so
        # every executor writes to the same absolute location even if
        # their working directories differ
        import os

        out_dir = "file://" + os.path.abspath(out_dir)
    cols = [c for c in results.columns if c not in ("html",)]
    slim = results.select(*cols).filter(F.col("content_hash").isNotNull())

    def write_partition(rows):
        from pyarrow import fs as pa_fs

        filesystem, base = pa_fs.FileSystem.from_uri(out_dir)
        filesystem.create_dir(base, recursive=True)
        for row in rows:
            d = row.asDict(recursive=True)
            ch = d["content_hash"]
            ext = _EXT.get(d.get("content_type") or "", "raw")
            text = d.get("text")
            with filesystem.open_output_stream(
                f"{base}/{ch}.data.{ext}"
            ) as fh:
                fh.write((text or "").encode("utf-8"))
            meta = {
                k: (v.isoformat() if hasattr(v, "isoformat") else v)
                for k, v in d.items()
                if k != "text"
            }
            meta["_file_name"] = f"{ch}.data.{ext}"
            with filesystem.open_output_stream(f"{base}/{ch}.json") as fh:
                fh.write(json.dumps(meta, sort_keys=True).encode("utf-8"))

    slim.foreachPartition(write_partition)


def merge_upsert(
    existing: DataFrame | None,
    batch: DataFrame,
    keys: list[str],
    now: str,
) -> DataFrame:
    """Upsert ``batch`` into ``existing`` on ``keys`` with
    first/last-seen stamping (db.py:9-22 semantics):

    - new key → insert, ``__first_seen = __last_seen = now``
    - existing key → non-key columns take the batch values,
      ``__last_seen = now``, ``__first_seen`` preserved.

    This is the logical plan of a lakehouse MERGE INTO (anti-join
    survivors ∪ refreshed matches) and shuffles only on the merge
    keys.
    """
    ts = F.to_timestamp(F.lit(now))
    batch = batch.dropDuplicates(keys)
    if existing is None:
        return batch.withColumn("__first_seen", ts).withColumn("__last_seen", ts)
    data_cols = [c for c in batch.columns if c not in keys]
    b = batch.select(
        *keys, *[F.col(c).alias(f"_new_{c}") for c in data_cols]
    ).withColumn("_matched", F.lit(True))
    joined = existing.join(b, keys, "left")
    refreshed = joined.select(
        *keys,
        *[
            F.when(F.col("_matched"), F.col(f"_new_{c}")).otherwise(F.col(c)).alias(c)
            for c in data_cols
        ],
        F.col("__first_seen"),
        F.when(F.col("_matched"), ts).otherwise(F.col("__last_seen")).alias(
            "__last_seen"
        ),
    )
    inserts = (
        batch.join(existing.select(*keys), keys, "left_anti")
        .withColumn("__first_seen", ts)
        .withColumn("__last_seen", ts)
    )
    return refreshed.unionByName(inserts)


def db_sink_run(
    spark: SparkSession,
    store,
    results: DataFrame,
    params: dict,
    crawler: str,
    now_ts: str,
) -> None:
    """Run-level ``db`` sink: merge this run's stored rows into the
    crawler-scoped persistent table (+ child tables), once per run
    after the frontier drains — the bulk analogue of the reference's
    per-task rate-limited inserts (db.py:20-21: 6000 rows/min; a
    batch MERGE needs no rate limiting).

    ``params``: ``table`` (default crawler name), ``unique`` (merge
    keys; absent → append-only), ``children``: list of ``{key,
    table_suffix, inherit: {dest: src}, unique}`` where ``key`` names
    a parse ``properties`` entry (db.py:25-54).
    """
    table = params.get("table") or crawler
    unique = params.get("unique") or []
    if isinstance(unique, str):
        unique = [unique]
    # children consume `properties` (the reference pops child keys out
    # of the parent dict, db.py:31); the raw body never reaches the db
    batch = results.drop(
        *[c for c in ("html", "properties") if c in results.columns]
    )

    def _merge_into(tname: str, tbatch: DataFrame, keys: list[str]) -> None:
        # O(batch) sink: one stamped delta append; merge_upsert's
        # contract is realized at read time by the store's delta
        # resolution (storage.upsert_shared, the parquet delta stack)
        store.upsert_shared(spark, f"db_{tname}", tbatch, keys, now_ts)

    _merge_into(table, batch, unique)

    for child in params.get("children") or []:
        key = child.get("key")
        if not key or "properties" not in results.columns:
            continue
        suffix = child.get("table_suffix", key)
        inherit = child.get("inherit") or {}
        child_batch = results.select(
            F.explode(F.element_at(F.col("properties"), key)).alias("value"),
            *[F.col(src).alias(dest) for dest, src in inherit.items()],
        )
        child_unique = child.get("unique") or []
        if isinstance(child_unique, str):
            child_unique = [child_unique]
        _merge_into(f"{table}_{suffix}", child_batch, child_unique)


def run_aggregator(
    spark: SparkSession, store, config: dict, results: DataFrame | None
) -> str | None:
    """Post-run aggregator hook (memorious/logic/crawler.py:66-87 —
    one configured method invoked once when the job drains,
    worker.py:22-27; e.g. the example project's datafreeze export,
    example/src/example/quotes.py:74-76).

    Built-in method ``export_json`` writes every stored row as one
    JSON-lines dataset under ``params.path``. Any other method is
    late-bound exactly like the reference's ``module:function``
    resolution (crawler.py:66-81 via get_entrypoint): imported at
    call time and invoked as ``fn(spark, store, results, params)``;
    an unresolvable method raises with the reference's error shape."""
    method = config.get("method")
    params = config.get("params") or {}
    if method in ("export_json", "datafreeze"):
        path = params.get("path") or str(store.dir / "export")
        if results is None:
            return None
        (
            results.drop("html")
            .write.mode("overwrite")
            .json(path)
        )
        return path
    if isinstance(method, str) and ":" in method:
        import importlib

        mod_name, _, fn_name = method.partition(":")
        try:
            fn = getattr(importlib.import_module(mod_name), fn_name)
        except (ImportError, AttributeError) as e:
            raise ValueError(
                f"Unknown method: {method!r} (aggregator late-bind failed: {e})"
            ) from e
        return fn(spark, store, results, params)
    raise ValueError(f"unknown aggregator method: {method!r}")
