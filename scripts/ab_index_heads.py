#!/usr/bin/env python3
"""Interleaved A/B of the CDX index map between two repo checkouts,
reproducing bench.py's cdx_index protocol: a local[N] session at this
host's core count with task.cpus=2, n synth envelope records, a
full-size untimed warm, then timed runs that each build and run
``cdx_lines(cdx_fields(recs))`` as bench.py's index_bench does (plan
construction included) — but INTERLEAVED between two live JVMs, the
side that runs first alternating, so this host's bursty steal cancels
(the only valid comparison protocol here; see BENCH.md §0).  Each JVM
gets ab_cfg.py's heap (a quarter of RAM, at most 12 GiB, pre-touched),
so both fit the host at once.

Usage: ab_index_heads.py OLD_REPO [NEW_REPO] [n_records] [pairs]
(NEW_REPO defaults to this checkout)
"""
from __future__ import annotations

import json
import os
import subprocess
import sys

from ab_cfg import HEAP, JVM_OPTS

CORES = len(os.sched_getaffinity(0))

CHILD = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
import os
os.environ["SPARK_GRAFT_DRIVER_MEM"] = {heap!r}
from cdx_writer_spark.session import get_spark
from bench import materialize, synth_warc_records
from cdx_writer_spark.operators.cdx import cdx_fields, cdx_lines
spark = get_spark(app_name="abidx-{tag}", cores={cores},
                  extra={{"spark.task.cpus": "2",
                          "spark.driver.extraJavaOptions": {jvm_opts!r}}})
spark.sparkContext.setLogLevel("ERROR")
recs = synth_warc_records(spark, {n})
materialize(cdx_lines(cdx_fields(recs)))   # untimed full-size warm
print("READY", flush=True)
for line in sys.stdin:
    if line.strip() != "RUN":
        break
    t0 = time.time(); materialize(cdx_lines(cdx_fields(recs)))
    dt = time.time() - t0
    print("RESULT %.3f" % dt, flush=True)
spark.stop()
"""


def spawn(repo, tag, n):
    code = CHILD.format(repo=repo, tag=tag, n=n, heap=HEAP, cores=CORES,
                        jvm_opts=JVM_OPTS)
    return subprocess.Popen([sys.executable, "-u", "-c", code], cwd=repo,
                            text=True, stdin=subprocess.PIPE,
                            stdout=subprocess.PIPE,
                            stderr=subprocess.DEVNULL)


def read(p, tag=""):
    for line in p.stdout:
        line = line.strip()
        if tag and line == tag:
            return None
        if line.startswith("RESULT "):
            return float(line[7:])
    raise RuntimeError("child died")


def run(p):
    p.stdin.write("RUN\n")
    p.stdin.flush()
    return read(p)


def main():
    old_repo = sys.argv[1]
    new_repo = (sys.argv[2] if len(sys.argv) > 2
                else os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    n = int(sys.argv[3]) if len(sys.argv) > 3 else 1_000_000
    pairs = int(sys.argv[4]) if len(sys.argv) > 4 else 4

    def steal():
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])

    old = spawn(old_repo, "old", n)
    read(old, "READY")
    new = spawn(new_repo, "new", n)
    read(new, "READY")
    olds, news, steals = [], [], []
    for i in range(pairs):
        s0 = steal()
        # best-of-2 per side per pair, same as bench.py; the side that
        # runs first alternates, so drift within a pair favours neither
        best = {p: min(run(p), run(p))
                for p in ((old, new) if i % 2 == 0 else (new, old))}
        olds.append(best[old])
        news.append(best[new])
        steals.append(steal() - s0)
    for p in (old, new):
        p.stdin.write("QUIT\n")
        p.stdin.flush()
    print(json.dumps({
        "n": n, "cores": CORES, "heap": HEAP, "old_sec": olds, "new_sec": news,
        "steal_jiffies": steals,
        "old_rows_per_sec": [round(n / t, 1) for t in olds],
        "new_rows_per_sec": [round(n / t, 1) for t in news],
        "pairwise_old_over_new": [round(o / x, 3)
                                  for o, x in zip(olds, news)]}))


if __name__ == "__main__":
    main()
