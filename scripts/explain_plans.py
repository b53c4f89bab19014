#!/usr/bin/env python3
"""Dump the physical plans the engine actually produces -> PLANS.md.

Evidence for the scale-design claims: filters run before the Arrow UDF,
scans prune columns, small dims broadcast, the index map has no shuffle,
the hot expressions stay inside WholeStageCodegen, and the WARC reader
starts from a JVM Range.
"""

from __future__ import annotations

import os
import re
import sys
import tempfile
import zlib

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def _warc_member(url: str) -> bytes:
    """One gzipped WARC response record."""
    payload = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<html/>"
    rec = (f"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: {url}\r\n"
           "WARC-Date: 2024-01-01T00:00:00Z\r\n"
           "Content-Type: application/http; msgtype=response\r\n"
           f"Content-Length: {len(payload)}\r\n\r\n").encode() \
        + payload + b"\r\n\r\n"
    co = zlib.compressobj(6, zlib.DEFLATED, 31)
    return co.compress(rec) + co.flush()


def fmt(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted")


def grab(df, title: str, notes: str, out: list, max_lines: int = 60):
    plan = fmt(df)
    head = "\n".join(plan.splitlines()[:max_lines])
    out.append(f"## {title}\n\n{notes}\n\n```\n{head}\n```\n")
    return plan


def main():
    from pyspark.sql import functions as F

    from bench import synth_warc_records
    from cdx_writer_spark.operators.cdx import cdx_fields, cdx_lines
    from cdx_writer_spark.plans.catalog import QUERIES
    from cdx_writer_spark.session import get_spark

    spark = get_spark(app_name="explain-plans", cores=8)
    spark.sparkContext.setLogLevel("ERROR")
    out: list[str] = [
        "# PLANS — physical-plan evidence (generated by "
        "scripts/explain_plans.py)\n"
    ]

    # 1. CDX index map: no shuffle, filters before the UDF
    recs = synth_warc_records(spark, 1000)
    plan = grab(
        cdx_lines(cdx_fields(recs)), "CDX index map (cdx_fields+cdx_lines)",
        "Claim: embarrassingly parallel — ONE WholeStageCodegen span into "
        "ArrowEvalPython, no Exchange; native record-type/length filters "
        "run before the python stage.", out)
    checks = {
        "no Exchange in index map": "Exchange" not in plan,
        "ArrowEvalPython present": "ArrowEvalPython" in plan,
        "WholeStageCodegen spans present": "codegen id" in plan,
    }

    # 2. Parquet scan pushdown on the catalog q6 (filter-heavy)
    q6 = QUERIES["q6_forecast_filter"](spark, SF)
    plan = grab(
        q6, "q6 forecast filter (parquet scan pushdown)",
        "Claim: predicates reach the scan (PushedFilters) and only needed "
        "columns are read (ReadSchema).", out, 40)
    checks["q6 has PushedFilters"] = "PushedFilters: [" in plan
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    checks["q6 pushes l_discount + l_quantity"] = bool(
        m and "l_discount" in m.group(1) and "l_quantity" in m.group(1))

    # 3. Broadcast joins on q5 (dims broadcast, fact never shuffled for dims)
    q5 = QUERIES["q5_regional_revenue"](spark, SF)
    plan = grab(
        q5, "q5 regional revenue (broadcast dim joins)",
        "Claim: region/nation/supplier dims broadcast; the lineitem fact "
        "table is not shuffled to join them.", out, 80)
    checks["q5 uses BroadcastHashJoin"] = "BroadcastHashJoin" in plan

    # 4. Politeness top-k window (salted two-phase)
    pol = QUERIES["politeness_topk"](spark, SF)
    plan = grab(
        pol, "politeness top-k (salted per-host rank)",
        "Claim: partial salted top-k before the exact per-host window rank "
        "bounds skew; one hash exchange on (host) only.", out, 60)

    # 5. Exclude lists that fit the driver: probed inside the field UDF
    from cdx_writer_spark.operators.cdx import cdx_fields as cf
    small = spark.createDataFrame(
        [(f"com,example{i})",) for i in range(10)], "prefix string")
    exc = cf(recs, excludes=small)
    plan = grab(
        exc, "driver-sized exclude list probed inside the field UDF",
        "Claim: a list that fits the driver is reduced there to a "
        "prefix-free prober, broadcast, and decided inside the one "
        "ArrowEvalPython that computes the urlkey — no join, no "
        "Exchange, no second Python stage (MapInArrow), and no "
        "literal-array exists().", out, 60)
    checks["driver-sized exclude: one Python stage, no join, no exchange"] = (
        plan.count("ArrowEvalPython (") == 1 and "MapInArrow" not in plan
        and "exists(" not in plan and "Join" not in plan
        and "Exchange" not in plan)

    # 5b. BIG exclude lists: range-merge, never a nested-loop join
    from cdx_writer_spark.plans.catalog import prefix_exclude_big
    plan = grab(
        prefix_exclude_big(spark, SF),
        "big exclude list as range-partitioned ordered prefix merge",
        "Claim: at banlist scale (10^4-10^6 prefixes) there is NO "
        "nested-loop join anywhere — urlkeys and the prefix-free ban "
        "list co-range-partition on shared bounds and one mapInPandas "
        "merge scan decides every record.", out, 80)
    checks["big exclude has no nested-loop join"] = (
        "BroadcastNestedLoopJoin" not in plan
        and "CartesianProduct" not in plan)
    checks["big exclude range-partitions"] = "rangepartitioning(" in plan

    # 6. SimHash: one-pass bit votes (no 64x explode)
    from cdx_writer_spark.operators.dedup import simhash
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(200)
    plan = grab(
        simhash(docs), "simhash (one-pass 64-bit votes)",
        "Claim: all 64 bit-vote counters are conditional sums in ONE "
        "groupBy(doc) — the plan contains no broadcast Range(0,64) bits "
        "table and no (doc, bit) exchange; shuffle payload is "
        "O(docs x 64 longs), not O(tokens x 64).", out, 60)
    checks["simhash has no 64-row bits table"] = "Range (0, 64" not in plan

    # 7. IVF assignment: scalar grouping key, never the embedding array
    from cdx_writer_spark.operators.similarity import ivf_topk
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.limit(2).select(F.col("vec_id").alias("query_id"),
                            F.col("embedding").alias("qvec"))
    plan = grab(
        ivf_topk(emb, q, k=5, n_cells=4, n_probe=2, iters=1),
        "IVF top-k (cell assignment groups on vec_id)",
        "Claim: the nearest-cell aggregation hash-partitions on the "
        "scalar vec_id — the embedding array is agg payload, never a "
        "shuffle key.", out, 80)
    checks["ivf shuffles on vec_id, not embedding"] = (
        "hashpartitioning(vec_id" in plan
        and "hashpartitioning(embedding" not in plan)

    # 8. CDX lookup: host-equi broadcast hash join, never a nested loop
    plan = grab(
        QUERIES["cdx_lookup"](spark, SF),
        "CDX lookup (prefix + nearest-timestamp over the index)",
        "Claim: the query list joins the CDX table on its EQUI component "
        "(the SURT host segment) as a broadcast HASH join — the "
        "sub-host prefix is a residual in-task filter — so a 10^10-row "
        "index is never nested-loop scanned per query.", out, 60)
    checks["cdx_lookup is a hash join, not a nested loop"] = (
        "BroadcastHashJoin" in plan
        and "BroadcastNestedLoopJoin" not in plan
        and "CartesianProduct" not in plan)

    # 9. CDX index over WARC files: the reader is one Python stage over a
    # JVM range, not a scan of a parallelized Python list
    from cdx_writer_spark.sources.warc import read_warc_records
    with tempfile.TemporaryDirectory() as d:
        warcs = []
        for i in range(2):
            warcs.append(os.path.join(d, f"plan-{i}.warc.gz"))
            with open(warcs[-1], "wb") as fh:
                fh.write(_warc_member(f"http://example.com/{i}"))
        plan = grab(
            cdx_lines(cdx_fields(read_warc_records(spark, warcs))),
            "CDX index over WARC files (read_warc_records)",
            "Claim: one task per archive from a JVM Range with one slice "
            "per file; the reader's mapInPandas looks its file up in a "
            "broadcast list, so no task scans a parallelized Python list "
            "(Scan ExistingRDD), which costs a second Python worker per "
            "task.", out, 60)
    leaf = [ln for ln in plan.split("\n\n")[0].splitlines()
            if ln.strip()][-1]
    checks["WARC read leaf is Range, no Scan ExistingRDD"] = (
        re.search(r"\bRange \(\d+\)$", leaf) is not None
        and "Scan ExistingRDD" not in plan)

    out.append("## Automated checks\n")
    for k, v in checks.items():
        out.append(f"- {'PASS' if v else 'FAIL'}: {k}")
    out.append("")

    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print({k: bool(v) for k, v in checks.items()})


if __name__ == "__main__":
    main()
