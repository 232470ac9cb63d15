"""SparkSession factory with the engine's scale-oriented defaults, and
the one cache-ownership helper (:class:`CacheOwner`).

Local mode stands in for a multi-executor cluster (the sandbox has no
cluster); every setting below is the one you'd ship in spark-defaults on a
1000-executor deployment:

  * AQE on (runtime coalescing + skew-join splitting)
  * Arrow on, with a small ``maxRecordsPerBatch`` — rows carry multi-MB
    PDF payloads, so batches are sized by bytes-in-flight, not row count
  * python worker reuse on, so kernel/module init (and, in production, an
    OCR model) happens once per executor python worker
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "pdf-ocr-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # PDF payloads are big; keep Arrow batches small so a batch of
        # binaries never blows executor memory (SURVEY.md §7 hard part (d))
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_BATCH", "128"),
        )
        # GC threads default to #cores; on a many-core executor 32 GC
        # threads thrash a mid-size heap (measured 2x wall-time at
        # local[32] on this job) — cap them like a tuned cluster would
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ParallelGCThreads=4 -XX:ConcGCThreads=2",
        )
        .config(
            "spark.executor.extraJavaOptions",
            "-XX:ParallelGCThreads=4 -XX:ConcGCThreads=2",
        )
        .config("spark.python.worker.reuse", "true")
        # zstd ≈ snappy speed at much better ratio — at 100 TB the
        # storage/IO saving on the output tables is substantial
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


class CacheOwner:
    """Persist-now, release-on-the-next-call ownership of cached frames:
    each entry point calls :meth:`release` before caching its own, so a
    long-lived driver looping over inputs holds at most one call's
    caches.  Results stay correct after release — the cache only avoids
    recomputing a frame once per consumer."""

    def __init__(self) -> None:
        self.live: list = []

    def cache(self, df: DataFrame) -> DataFrame:
        """persist() + register for release by the next call."""
        df = df.persist()
        self.live.append(df)
        return df

    def release(self) -> None:
        """Unpersist every cache owned here."""
        while self.live:
            df = self.live.pop()
            try:
                df.unpersist(blocking=False)
            except Exception:  # noqa: BLE001 — session may already be stopped
                pass
