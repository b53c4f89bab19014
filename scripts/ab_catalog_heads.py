#!/usr/bin/env python3
"""Interleaved A/B of flagged catalog queries between two repo checkouts
(round-3 HEAD vs working tree), the same two-live-JVM protocol as
ab_index_heads.py: both children hold warm sessions on the same
testdata, the parent alternates RUN commands (and which side goes
first in a pair) so this host's minutes-scale bursty steal/DRAM
contention cancels between sides.

Round-4 verdict task 3: q1/q5/q6/quality_score read +18-31% in
BENCH_r04.json vs r3 with no commit touching their paths; this pairs
the heads directly instead of comparing across host windows.

Each JVM runs local[N] at this host's core count with ab_cfg.py's heap
(a quarter of RAM, at most 12 GiB, pre-touched), so both fit the host
at once.

Usage: ab_catalog_heads.py OLD_REPO [NEW_REPO] [pairs] [q1,q5,...]
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
from cdx_writer_spark.plans.catalog import QUERIES
spark = get_spark(app_name="abcat-{tag}", cores={cores},
                  extra={{"spark.driver.extraJavaOptions": {jvm_opts!r}}})
spark.sparkContext.setLogLevel("ERROR")
SF = "/root/testdata/sf0.1"
NAMES = {names!r}
def materialize(df):
    df.write.format("noop").mode("overwrite").save()
for nm in NAMES:
    materialize(QUERIES[nm](spark, SF))   # untimed warm, full size
print("READY", flush=True)
for line in sys.stdin:
    if line.strip() != "RUN":
        break
    out = {{}}
    for nm in NAMES:
        t0 = time.time(); materialize(QUERIES[nm](spark, SF))
        out[nm] = round(time.time() - t0, 3)
    print("RESULT " + json.dumps(out), flush=True)
spark.stop()
"""


def spawn(repo, tag, names):
    code = CHILD.format(repo=repo, tag=tag, names=names, heap=HEAP,
                        cores=CORES, jvm_opts=JVM_OPTS)
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
            return json.loads(line[7:])
    raise RuntimeError("child died")


def run(p):
    p.stdin.write("RUN\n")
    p.stdin.flush()
    return read(p)


def best2(p):
    a, b = run(p), run(p)
    return {k: min(a[k], b[k]) for k in a}


def main():
    old_repo = sys.argv[1]
    new_repo = (sys.argv[2] if len(sys.argv) > 2
                else os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    pairs = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    names = (sys.argv[4].split(",") if len(sys.argv) > 4 else
             ["q1_pricing_summary", "q5_regional_revenue",
              "q6_forecast_filter", "quality_score"])

    def steal():
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])

    old = spawn(old_repo, "old", names)
    read(old, "READY")
    new = spawn(new_repo, "new", names)
    read(new, "READY")
    olds, news, steals = [], [], []
    for i in range(pairs):
        s0 = steal()
        # the side that runs first alternates, so drift favours neither
        best = {p: best2(p) for p in ((old, new) if i % 2 == 0
                                      else (new, old))}
        olds.append(best[old])
        news.append(best[new])
        steals.append(steal() - s0)
    for p in (old, new):
        p.stdin.write("QUIT\n")
        p.stdin.flush()
    ratios = {nm: [round(n[nm] / o[nm], 3) for o, n in zip(olds, news)]
              for nm in names}
    print(json.dumps({
        "queries": names, "pairs": pairs,
        "old_sec": olds, "new_sec": news, "steal_jiffies": steals,
        "pairwise_new_over_old": ratios}))


if __name__ == "__main__":
    main()
