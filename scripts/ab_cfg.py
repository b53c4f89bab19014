#!/usr/bin/env python3
"""Interleaved A/B of the crawl loop between two CrawlConfig overrides,
or between two repo checkouts: two live JVMs at the same core count.
Each pair runs both sides in the same host window, each side best-of-2,
and the side that runs first alternates, so minute-scale host drift
cancels pairwise and favours neither side (BENCH.md protocol).  Side B
always runs this checkout; side A runs REPO_A (default: this checkout).

Usage:
  python scripts/ab_cfg.py CORES N_PAGES BATCH GENS PAIRS CFG_A CFG_B [SEEDS] [REPO_A]
e.g. the seen filter engaged from key 1 against the exact anti-join alone:
  python scripts/ab_cfg.py 4 100000 25000 3 5 '{}' '{"bloom_min_keys": 1}'
or one production-shaped generation, an older checkout against this one:
  python scripts/ab_cfg.py 16 1600000 400000 1 3 '{}' '{}' 400000 OLD_REPO
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys


def _heap_gb() -> int:
    """Driver heap per runner: a quarter of MemTotal (capped at 12 GiB),
    so the two pre-touched JVMs plus their Python workers fit the host."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f
                  if line.startswith("MemTotal:"))
    return max(1, min(12, kb // (4 << 20)))


HEAP = f"{_heap_gb()}g"
JVM_OPTS = f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:+UseParallelGC"

CHILD = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
os.environ["SPARK_GRAFT_DRIVER_MEM"] = {heap!r}
from cdx_writer_spark.session import get_spark
from cdx_writer_spark.sources.synth import synth_pages, synth_robots, synth_seeds
from cdx_writer_spark.frontier.crawl import CrawlConfig, run_crawl
from cdx_writer_spark.functions.udfs import sha1_b32, surt_key
spark = get_spark(app_name="abcfg-{tag}", cores={cores},
                  extra={{"spark.driver.extraJavaOptions": {jvm_opts!r}}})
spark.sparkContext.setLogLevel("ERROR")

def stat():
    with open('/proc/stat') as f:
        p = f.readline().split()
    return [int(x) for x in p[1:9]]

n_pages = {n_pages}
n_hosts = max(1000, n_pages // 20)
pages = synth_pages(spark, n_pages, n_hosts=n_hosts)
(pages.limit(4096).select(surt_key("url").alias("k"),
                          sha1_b32("html").alias("h"))
 .groupBy("k").count().count())
seeds = synth_seeds(spark, {seeds}, n_pages, n_hosts=n_hosts)
robots = synth_robots(spark, n_hosts=n_hosts)
cfg = CrawlConfig(per_host_budget=64, global_batch={batch}, **{overrides})

def one():
    s0, t0 = stat(), time.time()
    _f, _s, cdx, metrics = run_crawl(spark, pages, seeds, robots, cfg, {gens})
    n_cdx = cdx.count()
    dt = time.time() - t0
    d = [b - a for a, b in zip(s0, stat())]
    tot = sum(m["scheduled"] + m["novel"] for m in metrics)
    phases = {{k: round(sum(m["wall_phases"][k] for m in metrics), 3)
              for k in ("plan", "job", "post")}}
    return {{"urls_per_sec": round(tot / dt, 1), "wall": round(dt, 2),
             "cdx": n_cdx, "phases": phases,
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
    def __init__(self, repo, tag, cores, n_pages, batch, gens, overrides,
                 seeds):
        self.p = subprocess.Popen(
            [sys.executable, "-u", "-c",
             CHILD.format(repo=repo, tag=tag, cores=cores, n_pages=n_pages,
                          batch=batch, gens=gens, jvm_opts=JVM_OPTS, heap=HEAP,
                          overrides=repr(overrides), seeds=seeds)],
            cwd=repo, text=True, stdin=subprocess.PIPE,
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)

    def ready(self):
        for line in self.p.stdout:
            if line.strip() == "READY":
                return
        raise RuntimeError("runner died before READY")

    def run(self):
        self.p.stdin.write("RUN\n")
        self.p.stdin.flush()
        for line in self.p.stdout:
            line = line.strip()
            if line.startswith("RESULT "):
                return json.loads(line[7:])
        raise RuntimeError("runner died")

    def quit(self):
        try:
            self.p.stdin.write("QUIT\n")
            self.p.stdin.flush()
            self.p.wait(timeout=60)
        except Exception:
            self.p.kill()


def main():
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else 32
    n_pages = int(sys.argv[2]) if len(sys.argv) > 2 else 200000
    batch = int(sys.argv[3]) if len(sys.argv) > 3 else 50000
    gens = int(sys.argv[4]) if len(sys.argv) > 4 else 3
    pairs = int(sys.argv[5]) if len(sys.argv) > 5 else 3
    cfg_a = json.loads(sys.argv[6]) if len(sys.argv) > 6 else {}
    cfg_b = json.loads(sys.argv[7]) if len(sys.argv) > 7 else {}
    seeds = (int(sys.argv[8]) if len(sys.argv) > 8
             else max(500, n_pages // 10))
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    repo_a = os.path.abspath(sys.argv[9]) if len(sys.argv) > 9 else repo
    r_a = Runner(repo_a, "A", cores, n_pages, batch, gens, cfg_a, seeds)
    r_a.ready()
    r_b = Runner(repo, "B", cores, n_pages, batch, gens, cfg_b, seeds)
    r_b.ready()
    a_runs, b_runs, speedups, first = [], [], [], []
    for i in range(pairs):
        order = (r_a, r_b) if i % 2 == 0 else (r_b, r_a)
        best = {r: max(r.run(), r.run(), key=lambda x: x["urls_per_sec"])
                for r in order}
        a, b = best[r_a], best[r_b]
        a_runs.append(a)
        b_runs.append(b)
        first.append("A" if i % 2 == 0 else "B")
        speedups.append(round(b["urls_per_sec"] / a["urls_per_sec"], 3))
    r_a.quit()
    r_b.quit()
    assert all(x["cdx"] == a_runs[0]["cdx"] for x in a_runs + b_runs), \
        "A/B output row counts diverge — not comparing the same work"
    print(json.dumps({
        "cores": cores, "n_pages": n_pages, "batch": batch, "gens": gens,
        "seeds": seeds, "repo_a": repo_a, "repo_b": repo,
        "cfg_a": cfg_a, "cfg_b": cfg_b, "first": first,
        "a": a_runs, "b": b_runs, "pair_speedups_b_over_a": speedups,
        "median_speedup": round(statistics.median(speedups), 3),
    }))


if __name__ == "__main__":
    main()
