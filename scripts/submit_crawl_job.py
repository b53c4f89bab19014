#!/usr/bin/env python3
"""spark-submit entrypoint: run the crawl loop end-to-end on whatever
cluster ``--master`` provides and print one JSON result line.

This is the north-rule deployment shape (BASELINE.json: "runs via
spark-submit --py-files on multi-executor clusters") exercised for
real: the script imports ``cdx_writer_spark`` ONLY from the archive
shipped with ``--py-files cdx_writer_spark.zip`` (the launcher runs it
from a neutral cwd with the repo absent from sys.path), builds its
SparkSession with ``getOrCreate()`` so the master/executor topology
comes entirely from spark-submit, and sizes shuffle partitions off
``sc.defaultParallelism`` — the same job scales across cluster sizes
with no config edits.

Usage (see scripts/spark_submit_demo.py for the measured protocol):

    spark-submit --master local-cluster[8,2,8192] \
        --py-files cdx_writer_spark.zip scripts/submit_crawl_job.py \
        --pages 400000 --batch 100000 --generations 2

Output: ``RESULT {"urls_per_sec": ..., "cdx": ..., "executors": ...}``
"""

from __future__ import annotations

import argparse
import json
import re
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=400_000)
    ap.add_argument("--batch", type=int, default=100_000)
    ap.add_argument("--generations", type=int, default=2)
    ap.add_argument("--warm", type=int, default=1,
                    help="untimed warm-up runs (JIT + Arrow worker spin-up)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    # master, executor count and memory all come from spark-submit; only
    # engine-semantic configs are set here (mirrors session.get_spark).
    spark = (
        SparkSession.builder.appName("cdx-submit-crawl")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.autoBroadcastJoinThreshold",
                str(64 * 1024 * 1024))
        # the crawl loop is a chain of short stages over localCheckpoint
        # blocks scattered across executors; the default 3s delay-
        # scheduling wait idles cores for whole waves hunting
        # PROCESS_LOCAL placements (measured on local-cluster[8,2]: the
        # fused generation job ran 27s with 3/16 cores busy; =0s -> 11s).
        # A remote block fetch costs far less than a 3s stall.
        .config("spark.locality.wait", "0s")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    sc = spark.sparkContext
    # sc.defaultParallelism lies at startup (executors may not have
    # registered yet — the smoke run read 2 on an 8x2 cluster); for
    # local-cluster[E,C,M] the topology is in the master string, and a
    # real cluster manager would pass executor counts the same way
    m = re.match(r"local-cluster\[(\d+),(\d+),\d+\]", sc.master)
    total_cores = (int(m.group(1)) * int(m.group(2)) if m
                   else sc.defaultParallelism)
    spark.conf.set("spark.sql.shuffle.partitions",
                   str(max(2 * total_cores, 8)))
    sc.setLogLevel("ERROR")

    # the import must resolve from the --py-files zip on the driver and
    # inside every executor's python worker
    import cdx_writer_spark
    from cdx_writer_spark.frontier.crawl import CrawlConfig, run_crawl
    from cdx_writer_spark.sources.synth import (synth_pages, synth_robots,
                                                synth_seeds)

    n_hosts = args.pages // 20
    pages = synth_pages(spark, args.pages, n_hosts=n_hosts)
    seeds = synth_seeds(spark, args.batch, args.pages, n_hosts=n_hosts)
    robots = synth_robots(spark, n_hosts=n_hosts)
    cfg = CrawlConfig(per_host_budget=64, global_batch=args.batch)

    def stat() -> list[int]:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]

    def one() -> dict:
        s0, t0 = stat(), time.time()
        _f, _s, cdx, metrics = run_crawl(spark, pages, seeds, robots, cfg,
                                         args.generations)
        n_cdx = cdx.count()
        dt = time.time() - t0
        d = [b - a for a, b in zip(s0, stat())]
        tot = sum(m["scheduled"] + m["novel"] for m in metrics)
        return {"urls_per_sec": round(tot / dt, 1), "wall": round(dt, 2),
                "cdx": n_cdx, "steal_timed": d[7], "sys_timed": d[2],
                "busy_timed": sum(d) - d[3] - d[4],
                "phases": [m.get("wall_phases") for m in metrics]}

    for _ in range(args.warm):
        one()
    res = one()
    res.update({
        "total_cores": total_cores,
        # executor JVMs actually registered (local-cluster: one block
        # manager per executor process + one for the driver)
        "executors": sc._jsc.sc().getExecutorMemoryStatus().size() - 1,
        "master": sc.master,
        "module_file": cdx_writer_spark.__file__,
    })
    print("RESULT " + json.dumps(res), flush=True)
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
