"""Full-output oracles and the checker every timed run goes through.

* Index workloads: the golden-pinned single-process kernel
  (``kernels.pipeline.make_cdx_lines``) over the same records, compared
  as an order-insensitive multiset of CDX lines; ``--stats-file`` counts
  must match exactly.
* Crawl: ``simulate_crawl`` from ``tests/test_crawl_simulator.py`` run for
  the same generations, compared on CDX rows, seen set and final frontier.

Oracles are computed once per run (one seed, one size) and reused by every
repetition; checks run outside the timed window.
"""

from __future__ import annotations

import glob
import importlib.util
import json
import os
from collections import Counter

__all__ = ["records_from_envelope", "index_oracle", "read_lines",
           "check_lines", "check_stats", "crawl_oracle", "read_crawl",
           "check_crawl"]


def _records(rows, filename):
    from cdx_writer_spark.kernels.warcrec import Record
    out = []
    for r in rows:
        headers = {}
        if r["payload_digest"] is not None:
            headers["warc-payload-digest"] = r["payload_digest"]
        if r["sfps"] is not None:
            headers["warc-simple-form-province-status"] = r["sfps"]
        out.append(Record(
            filename=filename, record_idx=r["record_idx"],
            offset=r["offset"], compressed_size=r["compressed_size"],
            record_type=r["record_type"], url=r["url_raw"],
            date_raw=r["date_raw"], content_type=r["content_type"],
            content_length_hdr=r["content_length_hdr"],
            payload=r["payload"] or b"", headers=headers))
    return out


def records_from_envelope(path: str) -> dict[str, list]:
    """Envelope parquet -> {filename: [kernel Record, ...]} in file order."""
    import pyarrow.parquet as pq
    out: dict[str, list] = {}
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        rows = pq.read_table(f).to_pylist()
        for name in dict.fromkeys(r["filename"] for r in rows):
            out.setdefault(name, []).extend(
                _records([r for r in rows if r["filename"] == name], name))
    return out


def index_oracle(files: dict[str, list], excludes: list[str] | None = None):
    """(Counter of CDX lines, stats dict) from the kernel pipeline.

    With ``excludes`` the kernel's own per-record linear prefix scan
    decides every exclusion, but over the subset of prefixes that prefix
    at least one record's urlkey — an exact reduction (a prefix that
    matches no urlkey can never exclude anything) that keeps the oracle
    linear in the records instead of records x prefixes."""
    from cdx_writer_spark.kernels.fields import get_massaged_url
    from cdx_writer_spark.kernels.pipeline import make_cdx_lines
    lines: Counter = Counter()
    stats = Counter()
    pset = set(excludes or ())
    for name, recs in files.items():
        live = None
        if pset:
            live = set()
            for rec in recs:
                try:
                    key = get_massaged_url(rec, name)
                except Exception:   # the kernel decides these rows below
                    continue
                live.update(key[:i] for i in range(len(key) + 1)
                            if key[:i] in pset)
            live = sorted(live)
        _h, got, st = make_cdx_lines(recs, name, excludes=live)
        lines.update(got)
        stats.update(st)
    return lines, dict(stats)


def read_lines(out_dir: str) -> list[str]:
    """Every line of every text part file the writer left in ``out_dir``."""
    lines: list[str] = []
    for part in sorted(glob.glob(os.path.join(out_dir, "part-*"))):
        with open(part, encoding="utf-8") as fh:
            lines.extend(fh.read().splitlines())
    return lines


def check_lines(got: list[str], want: Counter) -> list[str]:
    """Problems (empty when equal) between CDX output and the oracle
    multiset."""
    g = Counter(got)
    if g == want:
        return []
    missing = want - g
    extra = g - want
    probs = [f"cdx lines differ: {sum(missing.values())} missing, "
             f"{sum(extra.values())} unexpected of {sum(want.values())}"]
    probs += [f"  missing: {ln[:160]!r}" for ln in list(missing)[:3]]
    probs += [f"  unexpected: {ln[:160]!r}" for ln in list(extra)[:3]]
    return probs


def check_stats(path: str, want: dict) -> list[str]:
    try:
        with open(path) as fh:
            got = json.load(fh)
    except (OSError, ValueError) as e:
        return [f"stats file unreadable: {e}"]
    return [] if got == want else [f"stats {got} != oracle {want}"]


# -------------------------------------------------------------- crawl ----

def _simulator(root: str):
    path = os.path.join(root, "tests", "test_crawl_simulator.py")
    spec = importlib.util.spec_from_file_location("_perfbench_crawl_sim",
                                                  path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.simulate_crawl


def crawl_oracle(root: str, inputs: dict, cfg, generations: int) -> dict:
    """Simulator result for ``generations`` generations, as sorted lists."""
    import pyarrow.parquet as pq
    pages = pq.read_table(inputs["pages"],
                          columns=["url", "warc_ts", "html"]).to_pylist()
    seeds = pq.read_table(inputs["seeds"]).to_pylist()
    robots = pq.read_table(inputs["robots"]).to_pylist()
    cdx, seen, frontier = _simulator(root)(pages, seeds, robots, cfg,
                                           generations)
    return {"cdx": sorted(cdx), "seen": sorted(seen),
            "frontier": sorted((k, u, h, p, g)
                               for k, (p, u, h, g) in frontier.items())}


def read_crawl(ckpt: str) -> dict:
    """The crawl's on-disk output: every generation's CDX rows and seen
    delta, and the last generation's frontier."""
    import pyarrow.parquet as pq
    gens = sorted(glob.glob(os.path.join(ckpt, "gen=*")))

    def rows(name):
        return [r for g in gens
                for r in pq.read_table(os.path.join(g, name)).to_pylist()]
    cdx_cols = ["urlkey", "cdx_date", "original_url", "mime", "status_code",
                "checksum", "redirect", "meta_flags", "rec_size",
                "rec_offset", "generation"]
    fr_cols = ["urlkey", "url", "host", "priority", "generation"]
    frontier = (pq.read_table(os.path.join(gens[-1], "frontier")).to_pylist()
                if gens else [])
    return {"cdx": sorted(tuple(r[c] for c in cdx_cols) for r in rows("cdx")),
            "seen": sorted(r["urlkey"] for r in rows("seen")),
            "frontier": sorted(tuple(r[c] for c in fr_cols)
                               for r in frontier)}


def check_crawl(got: dict, want: dict) -> list[str]:
    probs = []
    for part in ("cdx", "seen", "frontier"):
        if got[part] != want[part]:
            g, w = Counter(got[part]), Counter(want[part])
            probs.append(f"crawl {part} differs from simulator: "
                         f"{sum((w - g).values())} missing, "
                         f"{sum((g - w).values())} unexpected of "
                         f"{len(want[part])}; e.g. "
                         f"{list((g - w))[:1] or list((w - g))[:1]}")
    return probs
