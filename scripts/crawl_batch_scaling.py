#!/usr/bin/env python3
"""Crawl-loop scaling vs GENERATION BATCH SIZE (companion to
scripts/scaling_bench.py workload 2).

The main protocol's crawl runs 3 generations of ~100k-row batches, a
regime where ~3k-row tasks make per-task overhead rival compute and the
wall barely moves with cores (BENCH.md).  This script measures the SAME
loop at a production-shaped batch (one generation, 4x the batch over a
4x web) at N and 4N cores, interleaved pairs, best-of-2 per side — the
direct test of the claim that crawl scaling is batch-size-bound, not
design-bound.  Each JVM gets ab_cfg.py's pre-touched heap (a quarter of
RAM, at most 12 GiB), so both fit the host at once.

Usage: python scripts/crawl_batch_scaling.py [n_pages] [batch] [lo] [hi] [pairs]
Prints one JSON line; BENCH.md consumes the numbers manually.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

from ab_cfg import HEAP, JVM_OPTS

CHILD = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
os.environ["SPARK_GRAFT_DRIVER_MEM"] = {heap!r}
from cdx_writer_spark.session import get_spark
from cdx_writer_spark.sources.synth import synth_pages, synth_robots, synth_seeds
from cdx_writer_spark.frontier.crawl import CrawlConfig, run_crawl
from cdx_writer_spark.functions.udfs import sha1_b32, surt_key
cores = {cores}
spark = get_spark(app_name="crawl-batch-%d" % cores, cores=cores,
                  extra={{"spark.driver.extraJavaOptions": {jvm_opts!r}}})
spark.sparkContext.setLogLevel("ERROR")

def stat():
    with open('/proc/stat') as f:
        p = f.readline().split()
    return [int(x) for x in p[1:9]]

n_pages = {n_pages}
pages = synth_pages(spark, n_pages, n_hosts=n_pages // 20)
(pages.limit(4096).select(surt_key("url").alias("k"),
                          sha1_b32("html").alias("h"))
 .groupBy("k").count().count())
seeds = synth_seeds(spark, {batch}, n_pages, n_hosts=n_pages // 20)
robots = synth_robots(spark, n_hosts=n_pages // 20)
cfg = CrawlConfig(per_host_budget=64, global_batch={batch})

def one():
    s0, t0 = stat(), time.time()
    _f, _s, cdx, metrics = run_crawl(spark, pages, seeds, robots, cfg, 1)
    n_cdx = cdx.count()
    dt = time.time() - t0
    d = [b - a for a, b in zip(s0, stat())]
    tot = sum(m["scheduled"] + m["novel"] for m in metrics)
    return {{"urls_per_sec": round(tot / dt, 1), "wall": round(dt, 2),
             "cdx": n_cdx,
             "steal_frac": round(d[7] / max(100.0 * os.cpu_count() * dt, 1),
                                 4)}}

one()  # untimed warm
print("READY", flush=True)
for line in sys.stdin:
    if line.strip() == "RUN":
        print("RESULT " + json.dumps(one()), flush=True)
    elif line.strip() == "QUIT":
        break
spark.stop()
"""


class Runner:
    def __init__(self, cores, n_pages, batch, repo):
        self.p = subprocess.Popen(
            [sys.executable, "-u", "-c",
             CHILD.format(repo=repo, cores=cores, n_pages=n_pages,
                          batch=batch, jvm_opts=JVM_OPTS, heap=HEAP)],
            cwd=repo, text=True, stdin=subprocess.PIPE,
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)

    def _read(self, tag):
        for line in self.p.stdout:
            line = line.strip()
            if tag and line == tag:
                return None
            if line.startswith("RESULT "):
                return json.loads(line[7:])
        raise RuntimeError("runner died")

    def run(self):
        self.p.stdin.write("RUN\n")
        self.p.stdin.flush()
        return self._read("")

    def quit(self):
        try:
            self.p.stdin.write("QUIT\n")
            self.p.stdin.flush()
            self.p.wait(timeout=60)
        except Exception:
            self.p.kill()


def main():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 1600000
    batch = int(sys.argv[2]) if len(sys.argv) > 2 else 400000
    lo = int(sys.argv[3]) if len(sys.argv) > 3 else 4
    hi = int(sys.argv[4]) if len(sys.argv) > 4 else 16
    pairs = int(sys.argv[5]) if len(sys.argv) > 5 else 3
    r_lo = Runner(lo, n_pages, batch, repo)
    r_lo._read("READY")
    r_hi = Runner(hi, n_pages, batch, repo)
    r_hi._read("READY")
    lo_runs, hi_runs, effs = [], [], []
    for _ in range(pairs):
        a = max(r_lo.run(), r_lo.run(), key=lambda r: r["urls_per_sec"])
        b = max(r_hi.run(), r_hi.run(), key=lambda r: r["urls_per_sec"])
        lo_runs.append(a)
        hi_runs.append(b)
        effs.append((b["urls_per_sec"] / (hi / lo)) / a["urls_per_sec"])
    r_lo.quit()
    r_hi.quit()
    print(json.dumps({
        "n_pages": n_pages, "batch": batch, "cores": [lo, hi],
        "lo_runs": lo_runs, "hi_runs": hi_runs,
        "pair_efficiencies": [round(e, 3) for e in effs],
        "median_efficiency": round(statistics.median(effs), 3),
    }))


if __name__ == "__main__":
    main()
