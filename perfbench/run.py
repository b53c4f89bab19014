#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload index_records --seed 1 \\
        --seconds 10 --trace 0

Run from the root of a checkout.  One run: set up the Spark session (JVM
launch through ``session.get_spark``, then a first job) and report it as
``setup_s``; write the seeded inputs and compute the oracle; the
workload's ``warmups`` warm-up repetitions (plan codegen, Python worker
start-up, JIT; checked, not timed); then timed repetitions of the
workload's entry call for ``--seconds`` (at least the workload's
``min_reps``), each checked against the oracle outside its timed window;
report medians.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of traced repetitions (interleaved with untraced ones, whose
difference is the tracing overhead).  Metric names and units come from
BENCHMARK.json.  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; spans and per-repetition
detail go to ``.perfbench_out/<run id>.json``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# traced runs interleave an untraced and a traced repetition per pair
MIN_PAIRS = 2
# no repetition starts after this many seconds into the run, once one
# has been timed, so that a run on a very slow host still exits within
# 180 s.  On a normal host the fixed repetition counts end a run first.
HARD_LIMIT_S = 120.0


def _attempt(fn, log: list, what: str):
    """Run one repetition; any exception or output mismatch is a failure,
    reported on stderr and counted, never skipped."""
    try:
        res = fn()
    except Exception:
        tb = traceback.format_exc()
        print(f"perfbench: {what} raised:\n{tb}", file=sys.stderr)
        log.append({"what": what, "error": tb.splitlines()[-1]})
        return None
    rep = res[0] if isinstance(res, tuple) else res
    for p in rep.problems:
        print(f"perfbench: {what} output mismatch: {p}", file=sys.stderr)
    log.append({"what": what, "wall_s": rep.wall_s,
                "problems": rep.problems,
                **({"layers": {k: v for k, v in res[1].items()
                               if not k.startswith("_")}}
                   if isinstance(res, tuple) else {})})
    return res


def _med(xs):
    return statistics.median(xs) if xs else math.nan


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (smoke tests only)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "cdx_writer_spark")):
        print(f"perfbench: no cdx_writer_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from perfbench.harness import Env, host_state, peak_rss_mb
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    t_start = time.perf_counter()
    run_id = (f"{args.workload}-seed{args.seed}-trace{args.trace}-"
              f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}")
    env = Env(ROOT, run_id)
    wl = WORKLOADS[args.workload](env, args.seed, args.scale)
    log: list[dict] = []
    spark = tracer = None
    timed, traced, untraced = [], [], []
    try:
        host0 = host_state()
        spark, start_s, warm_s = env.start()
        t_prep = time.perf_counter()
        wl.prepare(spark)
        prep_s = time.perf_counter() - t_prep
        tracer = Tracer(spark, run_id) if args.trace else None
        for w in range(wl.warmups):
            _attempt(lambda: wl.run(spark, f"warm{w}"), log, f"warm-up {w}")
        t_meas = time.perf_counter()
        i = 0
        while True:
            if args.trace:
                # alternate which of the pair runs first, so neither side
                # always follows the warm-up
                for kind in (("t", "u") if i % 2 else ("u", "t")):
                    if kind == "u":
                        r = _attempt(lambda: wl.run(spark, f"u{i}"), log,
                                     f"untraced {i}")
                        if r is not None and not r.problems:
                            untraced.append(r)
                    else:
                        r = _attempt(lambda: wl.traced(spark, tracer,
                                                       f"t{i}"),
                                     log, f"traced {i}")
                        if r is not None and not r[0].problems:
                            traced.append(r)
            else:
                r = _attempt(lambda: wl.run(spark, f"r{i}"), log, f"rep {i}")
                if r is not None and not r.problems:
                    timed.append(r)
            i += 1
            now = time.perf_counter()
            if (now - t_start > HARD_LIMIT_S and (timed or traced)) or (
                    now - t_meas >= args.seconds
                    and i >= (MIN_PAIRS if args.trace else wl.min_reps)):
                break
        rss = peak_rss_mb()
        host1 = host_state()
    finally:
        Env.stop(spark)
        shutil.rmtree(env.work, ignore_errors=True)

    attempted = len(log)
    failed = sum(1 for e in log if "error" in e or e.get("problems"))
    host = {k: _med([h[k] for h in (host0, host1) if k in h])
            for k in ("steal_cores", "mem_gbps_1t")}
    values: dict[str, float] = {}
    summary: dict[str, object] = {
        "error_rate": failed / attempted, "input_digest": wl.digest,
        "prepare_s": prep_s, "host": host}

    if not args.trace:
        reps = timed
        if not reps:
            print("perfbench: no repetition succeeded", file=sys.stderr)
            return 1
        wall = _med([r.wall_s for r in reps])
        values = {"setup_s": start_s + warm_s, "wall_s": wall,
                  "records_per_s": wl.records / wall,
                  "urls_per_s": wl.urls_of(reps[0]) / wall,
                  "peak_rss_mb": rss}
        summary.update(wl.summary(reps), reps=len(reps))
        metric_specs = spec["end_to_end"]
    else:
        if not traced or not untraced:
            print("perfbench: no traced repetition succeeded",
                  file=sys.stderr)
            return 1
        layers = [lay for _r, lay in traced]
        wall = _med([r.wall_s for r in untraced])
        full_s = _med([lay["_full"]["seconds"] for lay in layers])
        values = {"session.start_s": start_s,
                  "session.warmup_s": warm_s,
                  "spark.jobs": _med([lay["_full"]["jobs"] for lay in layers]),
                  "spark.stages": _med([lay["_full"]["stages"]
                                        for lay in layers]),
                  "spark.tasks": _med([lay["_full"]["tasks"]
                                       for lay in layers]),
                  "trace.overhead_s": full_s - wall,
                  # a prefix that took longer than the prefix after it
                  "trace.negative_layer_s": _med(
                      [sum(-x for x in lay["_layers"] if x < 0)
                       for lay in layers]),
                  "host.steal_cores": host["steal_cores"],
                  "host.mem_gbps_1t": host["mem_gbps_1t"]}
        if layers[0].get("_clocked"):
            # only layers clocked on their own can be reconciled with
            # the untraced wall; prefix differences add up by construction
            values["trace.reconcile_ratio"] = _med(
                [sum(lay["_layers"]) for lay in layers]) / wall
        for key in layers[0]:
            if not key.startswith("_"):
                values[key] = _med([lay[key] for lay in layers])
        summary["untraced_wall_s"] = wall
        summary["traced_reps"] = len(traced)
        metric_specs = spec["per_layer"]
    # a layer this workload never enters reports 0 (no spans, no work)
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in metric_specs}

    summary["run_s"] = time.perf_counter() - t_start
    detail = {"run": run_id, "summary": summary, "log": log,
              "metrics": metrics,
              "spans": tracer.spans_json() if tracer is not None else []}
    with open(os.path.join(env.out, run_id + ".json"), "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    print(f"perfbench {args.workload} seed={args.seed} "
          f"trace={args.trace} cores={env.cores} heap={env.heap} "
          f"digest={wl.digest}")
    for k, v in summary.items():
        print(f"  {k:28s} {v}")
    for k, m in metrics.items():
        print(f"  {k:28s} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
