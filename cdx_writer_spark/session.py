"""SparkSession factory with the configs this engine needs.

Tuned for the sandbox (local[N], 128 GiB) but every knob is the one you'd
set on a real cluster:

* AQE on (runtime re-planning, skew-join splitting, partition coalescing)
* Arrow enabled with a moderate maxRecordsPerBatch (2048) — large enough
  to amortize JVM<->python transfer, small enough for KB-scale page rows;
  payload-heavy WARC-file jobs (MB-scale rows) lower it at runtime
  (cli.py) so Python workers can't OOM (SURVEY.md §4 item 5)
* shuffle partitions scaled with cores (2x) so the same job scales from
  local[8] to local[32] without config edits (BASELINE.md scaling protocol)
* driver heap ``SPARK_GRAFT_DRIVER_MEM``, else half the host's RAM
  (at most 48g)
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "DEFAULT_CPUS"]

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _default_heap() -> str:
    """Driver heap when ``SPARK_GRAFT_DRIVER_MEM`` is unset: half the
    host's RAM, at least 2g and at most 48g.  The JVM grows its heap
    toward the cap instead of collecting; with a fixed 48g cap a test
    run passed 11 GB of RSS within four test files and a 16 GB host
    OOM-killed it."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(2, min(48, ram // (2 << 30)))}g"


def get_spark(app_name: str = "cdx-writer-spark", cores: int | None = None,
              shuffle_partitions: int | None = None,
              extra: dict | None = None) -> SparkSession:
    cores = cores or DEFAULT_CPUS
    shuffle = shuffle_partitions or max(2 * cores, 8)
    b = (
        SparkSession.builder
        .master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 2048-row Arrow batches: measured 1.4-2x faster than 256 through the
        # pandas-UDF field pipeline (fewer JVM<->python round trips), while
        # capping per-batch memory for multi-MB WARC payloads.  Payload-heavy
        # jobs can lower it at runtime via spark.conf.set.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # snappy, not zstd: zstd-jni showed severe lock contention at >8
        # concurrent decode threads on this host (16-core parquet scans ran
        # 2.4x SLOWER than 4-core); snappy scans scaled at 0.83 efficiency.
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_heap())
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # no-op under local[N] (everything is PROCESS_LOCAL); on a real
        # multi-executor cluster the default 3s delay-scheduling wait
        # stalls the crawl loop's short checkpoint-block stages for whole
        # waves (local-cluster[8,2] measured 2.2x total: see
        # scripts/submit_crawl_job.py) — a remote fetch beats a 3s idle.
        .config("spark.locality.wait", "0s")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
