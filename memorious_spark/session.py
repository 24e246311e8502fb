"""SparkSession factory with the engine's scale posture baked in.

AQE on (runtime re-plan, skew-join splitting, post-filter coalescing),
Arrow on (every UDF in this engine is pandas/Arrow-batched), shuffle
partitions sized from the environment. On a real cluster these are the
same knobs; nothing here is local-mode-specific except the master
default. Crawl rounds are the exception to AQE:
:meth:`CrawlRunner.run` plans them statically for the length of the
run and restores the session's value afterwards.

The generated-class cache (``spark.sql.codegen.cache.maxEntries``)
holds 2000 classes instead of Spark's 100. One crawl round needs more
than 100 distinct whole-stage classes, so at 100 the LRU cache evicts
each round's classes before the next round asks for them and every
round compiles its code again (130-270 compiles per benchmark crawl).
A whole crawl-benchmark process, with corpus build, warm-up, timed
crawls and checks, compiles about 210 distinct classes; 2000 leaves
room for the contract queries that share one session. The bound is a
static conf: it takes effect only when the session is created here.

:func:`release_checkpoint` frees a ``localCheckpoint`` frame's storage,
which ``DataFrame.unpersist`` cannot reach.
"""

from __future__ import annotations

import os
import tempfile
import zipfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    master: str | None = None,
    app_name: str = "memorious-spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config(
            "spark.local.dir",
            os.environ.get("SPARK_LOCAL_DIRS", "/tmp"),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # runtime bloom-filter join injection prunes big-side scans by the
        # small side's key set. NOTE: do NOT also enable
        # runtimeFilter.semiJoinReduction — it hangs RDD jobs on 4.1.2.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark


def ship_package(spark: SparkSession) -> None:
    """Ship ``memorious_spark`` to executors (``--py-files`` semantics).

    The engine's pandas UDFs close over this package, so Python
    workers must be able to import it regardless of the driver's cwd.
    Equivalent to ``spark-submit --py-files memorious_spark.zip`` on a
    real cluster; idempotent per session.
    """
    if getattr(spark, "_memorious_shipped", False):
        return
    pkg_dir = Path(__file__).resolve().parent
    zip_path = Path(tempfile.gettempdir()) / f"memorious_spark_{os.getpid()}.zip"
    if not zip_path.exists():
        with zipfile.ZipFile(zip_path, "w") as zf:
            for py in sorted(pkg_dir.rglob("*.py")):
                zf.write(py, py.relative_to(pkg_dir.parent))
    spark.sparkContext.addPyFile(str(zip_path))
    spark._memorious_shipped = True


def release_checkpoint(*dfs: DataFrame) -> None:
    """Free the storage of each bare ``localCheckpoint`` frame in
    ``dfs``; any other frame is left alone.

    A local checkpoint is an RDD-level persist, not a CacheManager
    entry, so ``DataFrame.unpersist`` is a no-op on it and an iterative
    operator's superseded rounds would stay in memory and on disk until
    the JVM happens to collect them. Release only a frame nothing reads
    any more: reading it afterwards fails with
    ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``.
    """
    for df in dfs:
        plan = df._jdf.queryExecution().analyzed()
        if plan.nodeName() == "LogicalRDD":
            plan.rdd().unpersist(False)
