"""Self-tests of the benchmark: the checker rejects corrupted output, the
generators are deterministic per seed, every workload passes a smoke-size
run, and the known ``--sort --stats-file`` defect stays visible.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import copy
import json
import os
import shutil
import subprocess
import sys
from collections import Counter

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs, oracle  # noqa: E402


def _warcs(tmp_path, seed=7, n=60, files=2):
    paths = []
    for fi in range(files):
        recs = inputs.archive_records(seed, n, 1 if fi == 0 else 0,
                                      file_tag=f"t{fi}")
        p = str(tmp_path / f"t-{seed}-{fi}.warc.gz")
        inputs.write_warc_gz(p, recs)
        paths.append(p)
    return paths


def _kernel(paths, excludes=None):
    from cdx_writer_spark.kernels.warcrec import read_archive
    return oracle.index_oracle(
        {os.path.basename(p): read_archive(p, filename=os.path.basename(p))
         for p in paths}, excludes)


# -------------------------------------------------------------- checker ----

@pytest.fixture(scope="module")
def index_case(tmp_path_factory):
    paths = _warcs(tmp_path_factory.mktemp("warcs"))
    want, stats = _kernel(paths)
    return list(want.elements()), want, stats


def test_checker_accepts_exact_output_in_any_order(index_case):
    lines, want, _ = index_case
    assert oracle.check_lines(list(reversed(lines)), want) == []


def test_checker_fails_on_one_byte_change(index_case):
    lines, want, _ = index_case
    bad = list(lines)
    ln = bad[len(bad) // 2]
    bad[len(bad) // 2] = ln[:-1] + chr(ord(ln[-1]) ^ 1)
    assert oracle.check_lines(bad, want)


def test_checker_fails_on_dropped_and_duplicated_line(index_case):
    lines, want, _ = index_case
    assert oracle.check_lines(lines[1:], want)
    assert oracle.check_lines(lines[1:] + lines[:1] * 2, want)


def test_checker_fails_on_doubled_stat(index_case, tmp_path):
    _, _, stats = index_case
    p = tmp_path / "stats.json"
    p.write_text(json.dumps(stats))
    assert oracle.check_stats(str(p), stats) == []
    p.write_text(json.dumps({**stats, "num_records_processed":
                             2 * stats["num_records_processed"]}))
    assert oracle.check_stats(str(p), stats)


def test_checker_fails_on_perturbed_crawl_priority():
    want = {"cdx": [("com,a)/", "20130601000000", "http://a.com/",
                     "text/html", "200", "X", "-", "-", "10", "-", 0)],
            "seen": ["com,a)/", "com,b)/"],
            "frontier": [("com,b)/", "http://b.com/", "b.com", 0.8, 1)]}
    got = copy.deepcopy(want)
    assert oracle.check_crawl(got, want) == []
    got["frontier"][0] = got["frontier"][0][:3] + (0.8000001, 1)
    assert oracle.check_crawl(got, want)


def test_exclude_oracle_reduction_matches_linear_scan(tmp_path):
    """The prefix-subset reduction gives the kernel's own answer with the
    full list."""
    from cdx_writer_spark.kernels.pipeline import load_excludes
    paths = _warcs(tmp_path, seed=11, n=80)
    urls = []
    from cdx_writer_spark.kernels.warcrec import read_archive
    for p in paths:
        urls += [r.url for r in read_archive(p) if r.url
                 and r.url.startswith(b"http")]
    ex = tmp_path / "ex.txt"
    inputs.write_exclude_list(str(ex), 11, 300, urls)
    excludes = load_excludes(ex.read_text())
    fast = _kernel(paths, excludes)
    from cdx_writer_spark.kernels.pipeline import make_cdx_lines
    lines, stats = Counter(), Counter()
    for p in paths:
        name = os.path.basename(p)
        _h, got, st = make_cdx_lines(read_archive(p, filename=name), name,
                                     excludes=excludes)
        lines.update(got)
        stats.update(st)
    assert fast == (lines, dict(stats))
    assert stats["num_records_filtered"] > 0


# ----------------------------------------------------------- generators ----

def test_generators_are_deterministic_per_seed(tmp_path):
    def digest(seed, tag):
        d = tmp_path / f"{tag}-{seed}"
        d.mkdir(exist_ok=True)
        env = str(d / "env")
        inputs.write_envelope(env, seed, 2, 40, 1)
        w = str(d / "a.warc.gz")
        recs = inputs.archive_records(seed, 40, 1)
        inputs.write_warc_gz(w, recs)
        ex = str(d / "ex.txt")
        inputs.write_exclude_list(ex, seed, 50, [r.url for r in recs])
        return inputs.file_digest([env, w, ex])

    first = digest(1, "a")
    assert first == digest(1, "b")
    assert first != digest(2, "a")


def test_record_mix_covers_the_variants():
    recs = inputs.archive_records(5, 3000, 3)
    types = Counter(r.record_type for r in recs)
    assert {"warcinfo", "response", "revisit", "request",
            "metadata"} <= set(types)
    pay = b"".join(r.payload[:300] for r in recs)
    for needle in (b"text/css", b"image/gif", b"application/pdf",
                   b" 301 ", b" 404 ", b"X-Robots-Tag", b"NOARCHIVE"):
        assert needle in pay, needle
    assert sum(len(r.payload) > 1 << 20 for r in recs) == 3


def test_records_come_in_capture_order():
    """request, response or revisit, metadata for one URL, in that order;
    a dns record only the first time a host appears."""
    recs = inputs.archive_records(6, 400, 1)
    hosts = set()
    i = 1
    while i + 2 < len(recs):
        if recs[i].content_type == b"text/dns":
            host = recs[i].url[len(b"dns:"):]
            assert host not in hosts
            hosts.add(host)
            i += 1
        req, resp, meta = recs[i:i + 3]
        assert (req.record_type, meta.record_type) == ("request", "metadata")
        assert resp.record_type in ("response", "revisit")
        assert req.url == resp.url == meta.url
        i += 3
    assert any(b"jsessionid" in r.url for r in recs)
    assert any(max(r.url or b"\0") > 127 for r in recs)
    assert any(r.content_type == b"text/dns" for r in recs)


# ---------------------------------------------------------------- runs ----

def _run(args, cwd=ROOT, timeout=300):
    return subprocess.run([sys.executable, "perfbench/run.py", *args],
                          cwd=cwd, capture_output=True, text=True,
                          timeout=timeout)


@pytest.mark.parametrize("workload,trace", [
    ("index_records", 0), ("index_records", 1), ("index_warc", 1),
    ("crawl", 0), ("crawl", 1)])
def test_smoke_run(workload, trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    p = _run(["--workload", workload, "--seed", "3", "--seconds", "1",
              "--trace", str(trace), "--scale", "0.05"])
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = spec["per_layer" if trace else "end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in want}


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(["--workload", "crawl", "--seed", "1", "--seconds", "1",
              "--trace", "0"], cwd=str(tmp_path), timeout=60)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


# --------------------------------------------------------- known defect ----

@pytest.mark.xfail(strict=True, raises=AssertionError, reason=(
    "cli --sort --stats-file doubles every stats counter: the range "
    "partitioner's sampling job re-fires the observe() metrics"))
def test_sort_stats_match_unsorted(tmp_path):
    paths = _warcs(tmp_path, seed=2, n=120)
    _lines, want = _kernel(paths)
    stats = tmp_path / "stats.json"
    env = {**os.environ, "PYTHONPATH": ROOT, "TMPDIR": str(tmp_path),
           "SPARK_LOCAL_DIRS": str(tmp_path),
           "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
           "SPARK_GRAFT_DRIVER_MEM": "1g"}
    p = subprocess.run(
        [sys.executable, "-m", "cdx_writer_spark.cli", "--sort",
         "--stats-file", str(stats), *paths, str(tmp_path / "out")],
        cwd=str(tmp_path), env=env, capture_output=True, text=True,
        timeout=300)
    if p.returncode:
        # a crashed CLI is not the known defect: fail outright, without the
        # AssertionError the expected failure accepts
        pytest.fail(f"cli exited {p.returncode}:\n{p.stderr[-3000:]}")
    got = json.loads(stats.read_text())
    assert got == want
