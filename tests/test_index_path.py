"""The index path's fixed-cost machinery, without reference fixtures:
the WARC reader's one-file-per-task layout against the single-process
kernel, the CLI leaving the caller's session conf as it found it, and
the per-SparkContext memo the Column caches use."""

import os
import zlib

import pytest
from pyspark.sql import functions as F

from cdx_writer_spark import util
from cdx_writer_spark.kernels.warcrec import read_archive
from cdx_writer_spark.sources.warc import (WARC_RECORDS_SCHEMA,
                                           read_warc_records)

ARROW_BATCH = "spark.sql.execution.arrow.maxRecordsPerBatch"


def _response(url: str, payload: bytes) -> bytes:
    rec = (f"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: {url}\r\n"
           "WARC-Date: 2024-01-01T00:00:00Z\r\n"
           "Content-Type: application/http; msgtype=response\r\n"
           f"Content-Length: {len(payload)}\r\n\r\n").encode() \
        + payload + b"\r\n\r\n"
    co = zlib.compressobj(6, zlib.DEFLATED, 31)
    return co.compress(rec) + co.flush()


def _warc(path, fi: int) -> str:
    """File ``fi`` holds fi + 1 responses, so files differ in length."""
    body = b"".join(
        _response(f"http://f{fi}.example.com/{i}",
                  b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                  b"<html>%d/%d</html>" % (fi, i))
        for i in range(fi + 1))
    path.write_bytes(body)
    return str(path)


@pytest.fixture(scope="module")
def warcs(spark, tmp_path_factory):
    # more files than the session runs tasks at once, so a layout that
    # packs files by core count would show
    n = max(5, spark.sparkContext.defaultParallelism + 1)
    d = tmp_path_factory.mktemp("warcs")
    return [_warc(d / f"part-{fi:02d}.warc.gz", fi) for fi in range(n)]


def _kernel_rows(path, name):
    return [(r.record_idx, r.offset, r.payload)
            for r in read_archive(path, filename=name)]


def test_reader_one_file_per_partition(spark, warcs):
    recs = read_warc_records(spark, warcs)
    assert recs.rdd.getNumPartitions() == len(warcs)
    rows = (recs.select(F.spark_partition_id().alias("pid"), "filename",
                        "record_idx", "offset", "payload").collect())
    by_pid: dict = {}
    for r in rows:
        by_pid.setdefault(r["pid"], []).append(r)
    assert len(by_pid) == len(warcs)
    seen = set()
    for part in by_pid.values():
        names = {r["filename"] for r in part}
        assert len(names) == 1, names
        name = names.pop()
        seen.add(name)
        path = next(p for p in warcs if os.path.basename(p) == name)
        got = [(r["record_idx"], r["offset"], bytes(r["payload"]))
               for r in part]
        assert got == _kernel_rows(path, name)
    assert seen == {os.path.basename(p) for p in warcs}


def test_reader_use_full_path_and_directory(spark, warcs):
    d = os.path.dirname(warcs[0])
    recs = read_warc_records(spark, d, use_full_path=True)
    got = sorted((r["filename"], r["record_idx"], r["offset"],
                  bytes(r["payload"])) for r in recs.collect())
    want = sorted((p, *row) for p in warcs for row in _kernel_rows(p, p))
    assert got == want


def test_reader_empty_inputs(spark, tmp_path):
    for path in ([], str(tmp_path)):
        recs = read_warc_records(spark, path)
        assert recs.schema == WARC_RECORDS_SCHEMA
        assert recs.count() == 0


def test_cli_restores_session_conf(spark, warcs, capsys):
    """cli.main lowers the Arrow batch size for its own job, and its
    get_spark re-applies the engine's settings to the caller's session:
    the caller's values are back after a successful and after a failing
    call."""
    from cdx_writer_spark import cli
    mine = {ARROW_BATCH: "777", "spark.sql.shuffle.partitions": "7"}
    before = {k: spark.conf.get(k) for k in mine}
    for k, v in mine.items():
        spark.conf.set(k, v)
    try:
        cli.main([warcs[0]])
        out = capsys.readouterr().out.splitlines()
        assert out[0] == " CDX N b a m s k r M S V g" and len(out) == 2
        assert {k: spark.conf.get(k) for k in mine} == mine
        with pytest.raises(Exception):
            cli.main([os.path.join(os.path.dirname(warcs[0]),
                                   "missing.warc.gz")])
        assert {k: spark.conf.get(k) for k in mine} == mine
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


def test_per_context_memo(monkeypatch):
    ctx_a, ctx_b = object(), object()
    ctx = [ctx_a]
    monkeypatch.setattr(util, "_active_ctx", lambda: ctx[0])
    calls = []

    @util.per_context
    def build(*args):
        calls.append(args)
        return object()

    first = build()
    assert build() is first and calls == [()]
    keyed = build("x")
    assert build("x") is keyed and keyed is not first
    ctx[0] = ctx_b
    second = build()
    assert second is not first and calls == [(), ("x",), ()]
    assert build() is second
    ctx[0] = ctx_a
    assert build() is not first     # a context switch drops the memo
    assert len(calls) == 4
