"""Exclude parity without reference fixtures: ``cdx_fields(excludes=...)``
against the kernel pipeline's per-record linear scan (reference
cdx_writer.py:625-633) on a WARC written here, for every form an exclude
list takes — a list and a DataFrame (both probed inside the field UDF)
and the range merge — plus the plan shape of the fused probe."""

import zlib

import pytest
from pyspark.sql import functions as F

from cdx_writer_spark.kernels.pipeline import make_cdx_lines
from cdx_writer_spark.kernels.warcrec import parse_archive_bytes
from cdx_writer_spark.operators import exclude as ex_mod
from cdx_writer_spark.operators.cdx import cdx_fields, cdx_lines
from cdx_writer_spark.sources.warc import read_warc_records

# non-ASCII, so the warcinfo urlkey ("warcinfo:/<name>/<version>") is too
NAME = "arch-é.warc.gz"
URLS = ["http://example.com/", "http://example.com/a/b",
        "http://example.com/a/c?x=1", "http://example.com/ab",
        "http://www.other.org/x"]


def _member(wtype: str, url: str, ctype: str, payload: bytes) -> bytes:
    head = f"WARC/1.0\r\nWARC-Type: {wtype}\r\n"
    if url:
        head += f"WARC-Target-URI: {url}\r\n"
    rec = (head + "WARC-Date: 2024-01-01T00:00:00Z\r\n"
           f"Content-Type: {ctype}\r\nContent-Length: {len(payload)}"
           "\r\n\r\n").encode() + payload + b"\r\n\r\n"
    co = zlib.compressobj(6, zlib.DEFLATED, 31)
    return co.compress(rec) + co.flush()


def _warc_bytes() -> bytes:
    out = [_member("warcinfo", "", "application/warc-fields",
                   b"software: test\r\n")]
    for i, u in enumerate(URLS):
        html = (b"<html><head><meta name=\"robots\" content=\"noindex\">"
                if i % 2 else b"<html><head>") + b"</head>%d</html>" % i
        out.append(_member(
            "response", u, "application/http; msgtype=response",
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html))
        out.append(_member("metadata", u, "image/png", b"png%d" % i))
    out.append(_member("revisit", URLS[1],
                       "application/http; msgtype=response",
                       b"HTTP/1.1 200 OK\r\n\r\n"))
    return b"".join(out)


# (exclude prefixes, screenshot_mode)
CASES = {
    "overlapping": (["com,example)/a", "com,example)/a/b",
                     "com,example)/a/"], False),
    "equal_to_urlkey": (["org,other)/x", "com,example)/a/c?x=1"], False),
    "non_ascii": (["warcinfo:/arch-é", "com,exé)/", "com,example)/ab"],
                  False),
    "empty": ([], False),
    "screenshot": (["org,archive,web)/screenshot/http:/example.com/a"],
                   True),
}


@pytest.fixture(scope="module")
def warc(tmp_path_factory):
    data = _warc_bytes()
    path = tmp_path_factory.mktemp("excl") / NAME
    path.write_bytes(data)
    return str(path), parse_archive_bytes(data, NAME)


def _as(form, spark, prefixes):
    if form == "list":
        return prefixes
    return spark.createDataFrame([(p,) for p in prefixes], "prefix string")


@pytest.mark.parametrize("form", ["list", "frame", "merge"])
@pytest.mark.parametrize("case", sorted(CASES))
def test_cdx_fields_exclude_matches_linear_scan(spark, monkeypatch, warc,
                                                form, case):
    prefixes, screenshot = CASES[case]
    if form == "merge":
        monkeypatch.setattr(ex_mod, "BROADCAST_MAX_PREFIXES", 0)
    path, records = warc
    _h, want, stats = make_cdx_lines(records, NAME, all_records=True,
                                     screenshot_mode=screenshot,
                                     excludes=prefixes)
    assert want and (stats["num_records_filtered"] > 0) == bool(prefixes)
    recs = read_warc_records(spark, path)
    kw = dict(all_records=True, screenshot_mode=screenshot,
              excludes=_as(form, spark, prefixes))

    flagged = cdx_fields(recs, keep_excluded_flag=True, **kw)
    assert flagged.filter("excluded").count() == \
        stats["num_records_filtered"]
    got = [r[0] for r in
           cdx_lines(flagged.filter(~F.col("excluded"))).collect()]
    assert sorted(got) == sorted(want)
    got = [r[0] for r in cdx_lines(cdx_fields(recs, **kw)).collect()]
    assert sorted(got) == sorted(want)


def test_fused_exclude_plan_is_one_python_stage(spark, warc):
    """A driver-sized list is probed inside the one field UDF: exactly one
    ArrowEvalPython, no MapInArrow or literal-array exists(), no Exchange —
    for a list, for an RDD-backed frame (which has no size estimate), and
    in the library form that filters on the flag itself (a filter pushed
    below the UDF would copy it into a second Python stage).  The WARC
    read below it is the one other Python stage: one MapInPandas over a
    JVM range, no scan of a Python-side RDD."""
    path, records = warc
    prefixes = CASES["overlapping"][0]
    _h, want, _st = make_cdx_lines(records, NAME, all_records=True,
                                   excludes=prefixes)
    recs = read_warc_records(spark, path)
    lib = cdx_lines(cdx_fields(recs, all_records=True, excludes=prefixes,
                               keep_excluded_flag=True)
                    .filter(~F.col("excluded")))
    for df in (cdx_fields(recs, excludes=prefixes),
               cdx_fields(recs, excludes=_as("frame", spark, prefixes)),
               lib):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("ArrowEvalPython") == 1, plan
        assert plan.count("MapInPandas") == 1, plan
        for node in ("MapInArrow", "exists(", "Exchange", "ExistingRDD"):
            assert node not in plan, plan
    assert sorted(r[0] for r in lib.collect()) == sorted(want)


def test_driver_gate_without_estimate_bounds_bytes(spark, monkeypatch):
    """With no size estimate the gate measures the frame's rows and bytes
    in one aggregate and routes a frame past the byte bound to the merge."""
    monkeypatch.setattr(ex_mod, "_size_estimate", lambda df: None)
    frame = spark.createDataFrame([("com,a)/x",), ("com,b)/yy",)],
                                  "prefix string")
    prober = ex_mod.driver_prober(frame)
    assert list(prober(["com,a)/x/1", "com,b)/y", "com,b)/yy"])) == \
        [True, False, True]
    monkeypatch.setattr(ex_mod, "BROADCAST_MAX_PREFIX_EST_BYTES", 16)
    assert ex_mod.driver_prober(frame) is None
