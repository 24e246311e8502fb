"""Run-state storage: per-round parquet snapshots + a JSON manifest.

Plays the role Iceberg snapshots would on a real cluster, over plain
parquet directories (SURVEY.md §7): every round's frontier / seen /
results / metrics appends land in ``round=K`` directories, and the
manifest is only advanced — by atomic rename — once all of round K's
writes are complete. A killed run therefore resumes from the last
*complete* round: re-read the manifest, load ``frontier/round=r`` and
the union of ``seen/round<=r``, continue. This is the checkpoint/resume +
per-partition-lineage requirement of the north rule.
"""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

__all__ = ["RunStore"]

_TABLES = ("frontier", "seen", "results", "metrics", "members")


class RunStore:
    def __init__(self, root: str | os.PathLike, crawler: str, run_id: str):
        self.dir = Path(root) / crawler / run_id
        self.dir.mkdir(parents=True, exist_ok=True)

    @property
    def manifest_path(self) -> Path:
        return self.dir / "manifest.json"

    def read_manifest(self) -> dict | None:
        if not self.manifest_path.exists():
            return None
        return json.loads(self.manifest_path.read_text())

    def _commit_manifest(self, manifest: dict) -> None:
        tmp = self.dir / "manifest.json.tmp"
        tmp.write_text(json.dumps(manifest, indent=1))
        tmp.replace(self.manifest_path)  # atomic on POSIX

    def round_path(self, table: str, rnd: int) -> str:
        return str(self.dir / table / f"round={rnd}")

    def write_round(self, table: str, rnd: int, df: DataFrame) -> None:
        assert table in _TABLES, table
        df.write.mode("overwrite").parquet(self.round_path(table, rnd))

    def write_round_local(
        self, table: str, rnd: int, rows: list[dict]
    ) -> None:
        """Driver-side parquet write for tiny tables (metrics rows).

        Round-tripping a 36-row local relation through a Spark write
        job costs ~5s of scheduling+commit; pyarrow writes it in
        microseconds and spark.read.parquet reads it identically."""
        assert table in _TABLES, table
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = Path(self.round_path(table, rnd))
        path.mkdir(parents=True, exist_ok=True)
        pq.write_table(
            pa.Table.from_pylist(rows), path / "part-00000.parquet"
        )

    def partition_rows(self, rnd: int) -> list[int]:
        """Per-partition row counts of a checkpointed round frontier, read
        from the parquet FOOTERS (driver-local, microseconds) — each
        written file is one partition of the job that produced it, so
        this is per-partition lineage with zero Spark jobs. (Iceberg
        manifests carry the same per-file row counts.)"""
        import pyarrow.parquet as pq

        p = Path(self.round_path("frontier", rnd))
        if not p.is_dir():
            return []
        return [
            pq.ParquetFile(f).metadata.num_rows
            for f in sorted(p.glob("*.parquet"))
        ]

    def read_round(
        self, spark: SparkSession, table: str, rnd: int, schema: str | None = None
    ) -> DataFrame | None:
        """``schema`` (DDL string) skips parquet schema inference — one
        less driver job per read on the hot loop's fixed-schema tables."""
        p = self.round_path(table, rnd)
        if not os.path.isdir(p):
            return None
        reader = spark.read.schema(schema) if schema else spark.read
        return reader.parquet(p)

    def read_all(
        self,
        spark: SparkSession,
        table: str,
        upto_round: int,
        schema: str | None = None,
    ) -> DataFrame | None:
        paths = [
            self.round_path(table, r)
            for r in range(upto_round + 1)
            if os.path.isdir(self.round_path(table, r))
        ]
        if not paths:
            return None
        reader = spark.read.schema(schema) if schema else spark.read
        return reader.parquet(*paths)

    # ---- crawler-scoped shared tables (survive across runs) ---------
    # The reference's crawler-scoped tags (http cache, incremental
    # skip markers — memorious/logic/http.py:147, context.py:127-148)
    # outlive any single run_id; they live beside the run dirs.

    def shared_path(self, table: str) -> Path:
        return self.dir.parent / "_shared" / table

    def read_shared(
        self,
        spark: SparkSession,
        table: str,
        schema: str | None = None,
    ) -> DataFrame | None:
        """Reads a SNAPSHOT: the file list is pinned at call time, so a
        later append to the same directory cannot leak into this
        DataFrame — appending to a path invalidates any cache built
        over it and the recompute would otherwise re-list the dir and
        see the writer's own output (observed: a sequence-tag anti-join
        that erased its own batch). Iceberg gives this for free via
        snapshot ids; pinned file lists are the parquet-dir analogue.

        Tables written through :meth:`upsert_shared` (the db_* sink
        tables) resolve their delta stack transparently here — every
        consumer sees the merged view."""
        p = self.shared_path(table)
        if not p.is_dir():
            return None
        if self._upsert_meta_path(table).exists():
            return self._read_resolved(spark, table)
        files = sorted(str(f) for f in p.glob("*.parquet"))
        if not files:
            return None
        reader = spark.read.schema(schema) if schema else spark.read
        return reader.parquet(*files)

    def append_shared(self, table: str, df: DataFrame) -> None:
        df.write.mode("append").parquet(str(self.shared_path(table)))

    # ---- upsert-shared: append + minor-compact (LSM over parquet) ---
    # The db_* sink tables used to be rewritten whole per run
    # (read → merge → swap): correct, but O(table) per crawl — at a
    # 10^9-row sink that full rewrite dominates the run. This scheme
    # makes a run's sink cost O(batch): each run APPENDS one stamped
    # delta (``delta=V/`` dir, rows carry ``__v = V``), upsert
    # semantics are resolved at READ time (latest __v per key wins for
    # data columns + __last_seen; __first_seen is the min over
    # versions — exactly ``merge_upsert``'s contract), and a minor
    # compaction folds the deltas into one base dir once their count
    # passes ``compact_after`` (amortized O(table)/compact_after per
    # run). The delta-dir layout is the parquet analogue of a
    # lakehouse MERGE INTO + snapshot expiry. Single-writer per
    # crawler (one driver per run — the engine's execution model) is
    # assumed, as with the manifest.

    def _upsert_meta_path(self, table: str) -> Path:
        return self.shared_path(table) / "_upsert_meta.json"

    def upsert_shared(
        self,
        spark: SparkSession,
        table: str,
        batch: DataFrame,
        keys: list[str],
        now_ts: str,
        compact_after: int = 8,
    ) -> None:
        from pyspark.sql import functions as F

        p = self.shared_path(table)
        self._recover_compaction(p)
        p.mkdir(parents=True, exist_ok=True)
        meta_path = self._upsert_meta_path(table)
        if meta_path.exists():
            meta = json.loads(meta_path.read_text())
            if meta["keys"] != list(keys):
                raise ValueError(
                    f"shared table {table!r} was created with merge keys "
                    f"{meta['keys']} — got {list(keys)}"
                )
        else:
            meta_path.write_text(json.dumps({"keys": list(keys)}))
        versions = self._delta_versions(p)
        v = (versions[-1] + 1) if versions else 0
        ts = F.to_timestamp(F.lit(now_ts))
        stamped = (
            (batch.dropDuplicates(keys) if keys else batch)
            .withColumn("__first_seen", ts)
            .withColumn("__last_seen", ts)
            .withColumn("__v", F.lit(v))
        )
        stamped.write.mode("overwrite").parquet(str(p / f"delta={v}"))
        if len(versions) + 1 > compact_after:
            self.compact_shared(spark, table)

    @staticmethod
    def _delta_versions(p: Path) -> list[int]:
        if not p.is_dir():
            return []
        return sorted(
            int(d.name.split("=")[1])
            for d in p.glob("delta=*")
            # numeric-only: skips in-flight ``__new`` dirs
            if d.is_dir() and d.name.split("=")[1].isdigit()
        )

    @staticmethod
    def _recover_compaction(p: Path) -> None:
        """Crash recovery for the compaction window, decided by the
        ``__new`` dir's ``_SUCCESS`` marker (Spark's job-commit flag):

        - marker PRESENT → the resolved write finished; the crash hit
          somewhere in remove-old → rename. FINISH the compaction:
          drop every older delta it folded, then rename. (Acting only
          when zero live deltas remain — the previous rule — was
          wrong: a crash midway through the remove-old loop leaves a
          complete ``__new`` ignored while readers see only a SUFFIX
          of the old deltas — keys whose rows lived in the removed
          prefix silently vanish.)
        - marker ABSENT → the write died mid-job; the source deltas
          are all still live. Drop the partial dir.

        Runs before every shared-table read/write (and via
        :meth:`vacuum_shared`), so stale ``__new`` dirs can't
        accumulate. Single-writer per crawler, as documented."""
        if not p.is_dir():
            return
        for pend in sorted(p.glob("delta=*__new")):
            v_new = int(pend.name.split("=")[1].split("__")[0])
            if (pend / "_SUCCESS").exists():
                for v in RunStore._delta_versions(p):
                    if v < v_new:
                        shutil.rmtree(p / f"delta={v}", ignore_errors=True)
                pend.rename(p / f"delta={v_new}")
            else:
                shutil.rmtree(pend, ignore_errors=True)

    def vacuum_shared(self) -> None:
        """Sweep every shared table's crashed ``delta=*__new`` dirs
        (completed writes rolled FORWARD, partial writes dropped). The
        per-op recovery already handles the table being touched; this
        covers tables a resumed run never writes again."""
        shared_root = self.dir.parent / "_shared"
        if not shared_root.is_dir():
            return
        for tdir in shared_root.iterdir():
            if tdir.is_dir():
                self._recover_compaction(tdir)

    def _read_resolved(
        self, spark: SparkSession, table: str
    ) -> DataFrame | None:
        from pyspark.sql import functions as F

        p = self.shared_path(table)
        self._recover_compaction(p)
        versions = self._delta_versions(p)
        if not versions:
            return None
        raw = spark.read.parquet(
            *[str(p / f"delta={v}") for v in versions]
        )
        keys = json.loads(self._upsert_meta_path(table).read_text())["keys"]
        if not keys:
            return raw.drop("__v")  # append-only: the union IS the table
        # ONE scan, ONE keys-shuffle, no join: per key, max_by(__v)
        # carries the latest version's data columns (+ __last_seen) and
        # min(__first_seen) rides the same aggregate — (key, __v) is
        # unique by construction (each delta dropDuplicates its keys),
        # so max_by is deterministic. A window+groupBy+join formulation
        # measured TWO full delta scans and exchanges.
        data_cols = [
            c for c in raw.columns
            if c not in set(keys) | {"__first_seen", "__v"}
        ]
        agg = raw.groupBy(*keys).agg(
            F.max_by(F.struct(*data_cols), F.col("__v")).alias("_r"),
            F.min("__first_seen").alias("__first_seen"),
        )
        return agg.select(
            *keys,
            *[F.col(f"_r.{c}").alias(c) for c in data_cols],
            "__first_seen",
        )

    def compact_shared(self, spark: SparkSession, table: str) -> None:
        """Minor compaction: fold every delta into one base dir whose
        rows carry the RESOLVED values at the next version number.
        Write-new → remove-old → rename, with read-side recovery for
        the one non-atomic window. The folded deltas are deleted at
        once: single-writer AND single-reader per crawler is the
        engine's own execution model."""
        from pyspark.sql import functions as F

        p = self.shared_path(table)
        versions = self._delta_versions(p)
        if len(versions) <= 1:
            return
        v_new = versions[-1] + 1
        resolved = self._read_resolved(spark, table).withColumn(
            "__v", F.lit(v_new)
        )
        tmp = p / f"delta={v_new}__new"
        resolved.write.mode("overwrite").parquet(str(tmp))
        for v in versions:
            shutil.rmtree(p / f"delta={v}", ignore_errors=True)
        tmp.rename(p / f"delta={v_new}")

    def flush_crawler(self) -> None:
        """The reference's ``crawler.flush()`` (memorious/logic/
        crawler.py:89-96): drop EVERY crawler-scoped shared table —
        tags, http cache, incremental markers, sequence once-only
        state, db sink tables — so the next run behaves like the
        crawler's very first (everything re-fetches and re-stores).
        Per-run round data (frontier/seen/results under run dirs) is
        untouched: the reference flushes its Redis/SQL state, not its
        archived output."""
        shared_root = self.dir.parent / "_shared"
        if shared_root.is_dir():
            shutil.rmtree(shared_root)

    def commit_round(self, rnd: int, stats: dict) -> None:
        """Advance the manifest: round ``rnd`` is durable and complete."""
        manifest = self.read_manifest() or {"rounds": []}
        manifest["last_complete_round"] = rnd
        manifest["rounds"] = [r for r in manifest["rounds"] if r["round"] != rnd]
        manifest["rounds"].append({"round": rnd, **stats})
        manifest["rounds"].sort(key=lambda r: r["round"])
        self._commit_manifest(manifest)

    def finish(self, status: str) -> None:
        manifest = self.read_manifest() or {}
        manifest["status"] = status
        self._commit_manifest(manifest)

    def abort_requested(self) -> bool:
        """Driver checks a kill-file between rounds (the reference
        checks a Redis abort flag before each op,
        memorious/model/crawl.py:98-113)."""
        return (self.dir / "ABORT").exists()

    def truncate_after(self, rnd: int) -> None:
        """Drop anything written after complete round ``rnd`` (crash
        cleanup) and prune its manifest entries — a resume must never
        pick up counters from rounds that no longer exist on disk.

        Round r writes its NEXT frontier under ``frontier/round=r+1``,
        so the frontier table's cutoff is ``rnd + 1`` — deleting it
        would leave the resumed run nothing to read."""
        manifest = self.read_manifest()
        if manifest is not None and "rounds" in manifest:
            manifest["rounds"] = [
                r for r in manifest["rounds"] if r["round"] <= rnd
            ]
            if manifest.get("last_complete_round", -1) > rnd:
                manifest["last_complete_round"] = rnd
            self._commit_manifest(manifest)
        for table in _TABLES:
            cutoff = rnd + 1 if table == "frontier" else rnd
            tdir = self.dir / table
            if not tdir.is_dir():
                continue
            for child in tdir.iterdir():
                if child.name.startswith("round="):
                    try:
                        k = int(child.name.split("=", 1)[1])
                    except ValueError:
                        continue
                    if k > cutoff:
                        shutil.rmtree(child)
