"""Value-level pin for the distributed crawl loop: a ~100-line
single-process reference simulator (same seeds, budgets, tiebreaks,
priority decay and robots rules — the semantics of frontier/crawl.py
without any Spark) must produce IDENTICAL CDX rows, seen set and final
frontier.  This converts the driver's rows-only `crawl_frontier_cdx`
check into a value-checked one: the orchestration (politeness ranking,
global top-k, seen anti-join, leftover removal, generation bookkeeping)
is verified against an independent implementation, not just against
itself at two parallelism levels.
"""

import base64
import hashlib
import re
from decimal import ROUND_HALF_UP, Decimal
from urllib.parse import urljoin

import pytest

from cdx_writer_spark.frontier.crawl import CrawlConfig, run_crawl
from cdx_writer_spark.sources.synth import (synth_pages, synth_robots,
                                            synth_seeds)

N_PAGES = 2000
_HREF = re.compile(rb"""<a\b[^>]*?\bhref\s*=\s*['"]?([^'">\s]+)""", re.I)


def _keyhost(u):
    from cdx_writer_spark.kernels.surt import host_of, surt
    try:
        k = surt(u)
    except Exception:
        k = u
    return k, host_of(u)


def _round6(x: float) -> float:
    # Spark's round(double, 6): BigDecimal.valueOf(double) + HALF_UP —
    # Decimal(repr(x)) matches Double.toString's shortest-repr semantics
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"),
                                           ROUND_HALF_UP))


def simulate_crawl(pages_rows, seeds_rows, robots_rows, cfg: CrawlConfig,
                   generations: int):
    pages = {r["url"]: r for r in pages_rows}
    robots: dict[str, list[str]] = {}
    robots_allow: dict[str, list[str]] = {}
    for r in robots_rows:
        if r["rule_type"] == "disallow":
            robots.setdefault(r["host"], []).append(r["path_prefix"])
        elif r["rule_type"] == "allow":
            robots_allow.setdefault(r["host"], []).append(r["path_prefix"])

    frontier: dict[str, list] = {}   # urlkey -> [priority, url, host, gen]
    for r in seeds_rows:
        k, h = _keyhost(r["url"])
        cur = frontier.get(k)
        if cur is None:
            frontier[k] = [r["priority"], r["url"], h, 0]
        else:
            cur[0] = max(cur[0], r["priority"])
            cur[1] = min(cur[1], r["url"])
            cur[2] = min(cur[2], h)
    seen = set(frontier)
    cdx = []

    for gen in range(generations):
        # politeness: per-host top-budget, then global top-batch, both by
        # (priority desc, urlkey asc) — the loop's determinism contract
        by_host: dict[str, list] = {}
        for k, (p, u, h, g) in frontier.items():
            by_host.setdefault(h, []).append((-p, k))
        polite = []
        for lst in by_host.values():
            lst.sort()
            polite += lst[:cfg.per_host_budget]
        polite.sort()
        selected = [k for _, k in polite[:cfg.global_batch]]

        parsed = []
        for k in selected:
            p, u, h, g = frontier[k]
            page = pages.get(u)
            if page is None:
                continue                    # dead link: attempted, dropped
            html = bytes(page["html"])
            checksum = base64.b32encode(
                hashlib.sha1(html).digest()).decode("ascii")
            cdx.append((k, page["warc_ts"].strftime("%Y%m%d%H%M%S"), u,
                        "text/html", "200", checksum, "-", "-",
                        str(len(html)), "-", gen))
            links = []
            for m in _HREF.finditer(html):
                raw = m.group(1).decode("utf-8", "replace")
                try:
                    links.append(urljoin(u, raw).replace(" ", "%20"))
                except ValueError:
                    continue
            parsed.append((p, links))

        raw_best: dict[str, float] = {}
        for p, links in parsed:
            for link in links:
                if link not in raw_best or raw_best[link] < p:
                    raw_best[link] = p
        cand: dict[str, list] = {}
        for u_raw, pp in raw_best.items():
            k, h = _keyhost(u_raw)
            cur = cand.get(k)
            if cur is None:
                cand[k] = [pp, u_raw, h]
            else:
                cur[0] = max(cur[0], pp)
                cur[1] = min(cur[1], u_raw)
                cur[2] = min(cur[2], h)

        new_entries = {}
        for k, (pp, u_raw, h) in cand.items():
            path = re.sub(r"^https?://[^/]*", "", u_raw)
            # RFC 9309 longest-match; Allow wins ties (mirrors robots_gate)
            d = max((len(b) for b in robots.get(h, [])
                     if path.startswith(b)), default=-1)
            a = max((len(b) for b in robots_allow.get(h, [])
                     if path.startswith(b)), default=-1)
            if d > a:
                continue
            if k in seen:
                continue
            new_entries[k] = [_round6(pp * cfg.priority_decay), u_raw, h,
                              gen + 1]
        for k in selected:
            frontier.pop(k)
        frontier.update(new_entries)
        seen |= set(new_entries)
    return cdx, seen, frontier


@pytest.fixture(scope="module")
def sim_world(spark):
    pages = synth_pages(spark, N_PAGES, partitions=8)
    seeds = synth_seeds(spark, 20, N_PAGES)
    robots = synth_robots(spark)
    rows = (pages.select("url", "warc_ts", "html").collect(),
            seeds.collect(), robots.collect())
    return pages, seeds, robots, rows


def _check_against_simulator(world, cfg, gens, f, seen, cdx, metrics):
    """The loop's CDX rows, seen set and final frontier must equal the
    simulator's; so must its per-generation ``scheduled`` count (the
    simulator's CDX rows of that generation) and its total ``novel``
    count (every seen key that is not a deduplicated seed)."""
    rows = world[3]
    sim_cdx, sim_seen, sim_frontier = simulate_crawl(*rows, cfg, gens)
    got_cdx = sorted(tuple(r) for r in cdx.collect())
    got_seen = sorted(r["urlkey"] for r in seen.collect())
    got_frontier = sorted((r["urlkey"], r["url"], r["host"],
                           r["priority"], r["generation"])
                          for r in f.collect())

    assert got_cdx == sorted(sim_cdx), "CDX rows diverge from simulator"
    assert got_seen == sorted(sim_seen), "seen set diverges from simulator"
    assert got_frontier == sorted(
        (k, u, h, p, g) for k, (p, u, h, g) in sim_frontier.items()), \
        "frontier diverges from simulator"
    assert [m["generation"] for m in metrics] == list(range(gens))
    assert [m["scheduled"] for m in metrics] == \
        [sum(1 for r in sim_cdx if r[10] == g) for g in range(gens)], \
        "per-generation scheduled count diverges from simulator"
    n_seeds = len({_keyhost(r["url"])[0] for r in rows[1]})
    assert sum(m["novel"] for m in metrics) == len(sim_seen) - n_seeds, \
        "novel counts do not add up to the simulator's seen growth"


@pytest.mark.parametrize("bloom_min_keys,resume", [
    (1, False), (CrawlConfig.bloom_min_keys, False),
    (CrawlConfig.bloom_min_keys, True)],
    ids=["cuckoo", "exact", "exact-resume"])
def test_crawl_matches_reference_simulator(spark, sim_world, tmp_path,
                                           bloom_min_keys, resume):
    """``cuckoo`` runs the sharded seen filter from the first key; ``exact``
    is the default path (exact anti-join); ``exact-resume``
    checkpoints gens-1 generations and resumes the last one, which must
    run the same layout and land on the same values."""
    pages, seeds, robots, _rows = sim_world
    cfg = CrawlConfig(per_host_budget=2, global_batch=200,
                      bloom_min_keys=bloom_min_keys)
    gens = 3

    if resume:
        ckpt = str(tmp_path / "ckpt")
        _f, _s, cdx1, m1 = run_crawl(spark, pages, seeds, robots, cfg,
                                     gens - 1, checkpoint_dir=ckpt)
        f, seen, cdx2, m2 = run_crawl(spark, pages, seeds, robots, cfg,
                                      gens, checkpoint_dir=ckpt,
                                      resume=True)
        assert [m["generation"] for m in m2] == [gens - 1]
        cdx, metrics = cdx1.unionByName(cdx2), m1 + m2
    else:
        f, seen, cdx, metrics = run_crawl(spark, pages, seeds, robots, cfg,
                                          gens)
    _check_against_simulator(sim_world, cfg, gens, f, seen, cdx, metrics)


@pytest.mark.parametrize("bloom_min_keys", [1, CrawlConfig.bloom_min_keys],
                         ids=["cuckoo", "exact"])
def test_seen_compaction_matches_reference_simulator(spark, sim_world,
                                                     monkeypatch,
                                                     bloom_min_keys):
    """With SEEN_COMPACT_PARTS lowered to 2 the seen-delta chain is
    compacted (and the superseded deltas freed) every generation; the
    crawl must still equal the simulator, and of the seen chain only the
    compacted base may keep checkpoint blocks."""
    import cdx_writer_spark.frontier.crawl as crawl_mod
    monkeypatch.setattr(crawl_mod, "SEEN_COMPACT_PARTS", 2)
    pages, seeds, robots, _rows = sim_world
    cfg = CrawlConfig(per_host_budget=2, global_batch=200,
                      bloom_min_keys=bloom_min_keys)
    gens = 4
    sc = spark.sparkContext

    def n_persisted():
        return len(sc._jsc.sc().getRDDStorageInfo())

    before = n_persisted()
    f, seen, cdx, metrics = run_crawl(spark, pages, seeds, robots, cfg, gens)
    survivors = n_persisted() - before
    # per gen only parsed (it backs the returned cdx); plus the compacted
    # seen base and the live frontier
    assert survivors <= gens + 2, \
        f"{survivors} persisted RDDs survive a {gens}-gen compacting crawl"
    _check_against_simulator(sim_world, cfg, gens, f, seen, cdx, metrics)
