"""Frontier correctness: byte-identical text extraction (input_hint
invariant), deterministic scheduling under repartitioning, seen-filter
crawls == exact anti-join crawls, robots gating, checkpoint/resume
idempotence."""

import shutil

import pytest
from pyspark.sql import functions as F

from cdx_writer_spark.frontier.crawl import (CrawlConfig, crawl_step,
                                             init_frontier, run_crawl)
from cdx_writer_spark.frontier.seen import (anti_join_seen, bloom_prefilter,
                                            build_bloom)
from cdx_writer_spark.functions.udfs import extract_text
from cdx_writer_spark.sources.synth import (synth_pages, synth_robots,
                                            synth_seeds)

N_PAGES = 2000


@pytest.fixture(scope="module")
def world(spark):
    pages = synth_pages(spark, N_PAGES, partitions=8).cache()
    seeds = synth_seeds(spark, 20, N_PAGES)
    robots = synth_robots(spark)
    pages.count()
    return pages, seeds, robots


@pytest.fixture
def filter_builds(monkeypatch):
    """Capacities of the seen-filter (re)builds run_crawl makes."""
    import cdx_writer_spark.frontier.crawl as crawl_mod
    builds: list[int] = []
    real_build = crawl_mod._seen_filter

    def counting_build(seen, capacity):
        builds.append(capacity)
        return real_build(seen, capacity)

    monkeypatch.setattr(crawl_mod, "_seen_filter", counting_build)
    return builds


def test_text_extraction_byte_identical(spark, world):
    pages, _, _ = world
    diff = (pages.withColumn("extracted", extract_text("html"))
            .filter(F.col("extracted") != F.col("text")).count())
    assert diff == 0


def test_crawl_deterministic_under_repartitioning(spark, world):
    pages, seeds, robots = world
    cfg = CrawlConfig(per_host_budget=2, global_batch=200)

    def run(parts):
        f, seen, cdx, m = run_crawl(spark, pages.repartition(parts),
                                    seeds.repartition(parts), robots, cfg, 3)
        return (sorted(r["urlkey"] for r in seen.collect()),
                sorted((r["urlkey"], r["generation"]) for r in cdx.collect()),
                sorted(tuple(r) for r in f.collect()))
    s1 = run(2)
    s2 = run(16)
    assert s1[0] == s2[0], "seen-set differs with parallelism"
    assert s1[1] == s2[1], "cdx differs with parallelism"
    assert s1[2] == s2[2], "frontier differs with parallelism"


def test_bloom_prefilter_matches_exact(spark):
    """The driver-global bloom, as the big-batch fetch join uses it: no
    false negatives, so pre-filtering on ``maybe_seen`` and then joining
    exactly keeps every match; the exact anti-join is the complement."""
    seen = spark.range(0, 3000).select(
        F.concat(F.lit("key"), F.col("id")).alias("urlkey"))
    cand = spark.range(2000, 5000).select(
        F.concat(F.lit("key"), F.col("id")).alias("urlkey"))
    b, m, k = build_bloom(seen, "urlkey", capacity=3000, fpp=0.01)
    flagged = bloom_prefilter(cand, "urlkey", b, m, k)
    assert (flagged.join(seen, "urlkey", "left_semi")
            .filter(~F.col("maybe_seen")).count()) == 0, "false negative"
    exact = sorted(r["urlkey"] for r in
                   cand.join(seen, "urlkey", "left_semi").collect())
    via_bloom = sorted(r["urlkey"] for r in
                       flagged.filter("maybe_seen").drop("maybe_seen")
                       .join(seen, "urlkey", "left_semi").collect())
    assert exact == via_bloom
    assert len(exact) == 1000
    assert anti_join_seen(cand, seen, "urlkey").count() == 2000


def test_robots_gate_blocks_banned_paths(spark, world):
    pages, seeds, robots = world
    cfg = CrawlConfig(per_host_budget=2, global_batch=300)
    frontier = init_frontier(seeds)
    seen = frontier.select("urlkey")
    nf, _, _ = crawl_step(pages, frontier, seen, robots, cfg, 0)
    banned_hosts = {r["host"] for r in robots.collect()}
    newly = nf.filter(F.col("generation") == 1)
    offenders = (newly.filter(F.col("host").isin(list(banned_hosts))
                              & F.col("url").rlike("/p/9"))
                 .count())
    assert offenders == 0


def test_checkpoint_resume_no_reemission(spark, world, tmp_path):
    pages, seeds, robots = world
    cfg = CrawlConfig(per_host_budget=2, global_batch=200)
    ckpt = str(tmp_path / "crawl_ckpt")

    _f, _s, cdx_full, _m = run_crawl(spark, pages, seeds, robots, cfg, 3,
                                     checkpoint_dir=ckpt)
    full = sorted((r["urlkey"], r["generation"]) for r in cdx_full.collect())

    # simulate a crash after generation 1: drop gen 2's checkpoint
    shutil.rmtree(f"{ckpt}/gen=00002")
    _f2, _s2, cdx_resumed, m2 = run_crawl(spark, pages, seeds, robots, cfg, 3,
                                          checkpoint_dir=ckpt, resume=True)
    assert [m["generation"] for m in m2] == [2], "resume should redo only gen 2"
    resumed = sorted((r["urlkey"], r["generation"])
                     for r in cdx_resumed.collect())
    gen2_full = [x for x in full if x[1] == 2]
    assert resumed == gen2_full, "resumed generation must re-emit exactly gen 2"
    # idempotence: no urlkey emitted twice across the resumed run
    emitted_before = {k for k, g in full if g < 2}
    assert all(k not in emitted_before for k, _ in resumed)


def test_distributed_top_k_exact(spark):
    from cdx_writer_spark.frontier.crawl import distributed_top_k
    df = (spark.range(0, 50000)
          .select(F.col("id"),
                  (F.xxhash64("id") % 1000).alias("priority"),
                  F.concat(F.lit("u"), F.col("id")).alias("urlkey")))
    got = distributed_top_k(df, [F.desc("priority"), F.col("urlkey")],
                            12345)
    expect = df.orderBy(F.desc("priority"), "urlkey").limit(12345)
    g = sorted(tuple(r) for r in got.collect())
    e = sorted(tuple(r) for r in expect.collect())
    assert len(g) == 12345
    assert g == e


def test_legacy_checkpoint_full_snapshot_load(spark, tmp_path):
    """Checkpoints from the pre-delta format (manifest without
    seen_format) stored the FULL seen set each generation; load_state must
    read only the latest snapshot, not union them into duplicates."""
    import json as jsonmod
    import os
    from cdx_writer_spark.frontier.crawl import load_state
    root = str(tmp_path / "legacy")
    full = spark.range(100).select(
        F.concat(F.lit("k"), F.col("id")).alias("urlkey"))
    for gen in (0, 1):
        d = os.path.join(root, f"gen={gen:05d}")
        full.limit(50 * (gen + 1)).write.parquet(os.path.join(d, "seen"))
        full.limit(10).selectExpr("urlkey", "urlkey AS url",
                                  "'h' AS host", "1.0 AS priority",
                                  f"{gen} AS generation") \
            .write.parquet(os.path.join(d, "frontier"))
        spark.createDataFrame([("k0", gen)], ["urlkey", "generation"]) \
            .write.parquet(os.path.join(d, "cdx"))
        with open(os.path.join(d, "manifest.json"), "w") as f:
            jsonmod.dump({"complete": True, "generation": gen}, f)
    gen, _fr, seen, _m = load_state(spark, root)
    assert gen == 1
    assert seen.count() == 100, "legacy snapshots must not be unioned"


def test_checkpoint_blocks_actually_freed(spark, world):
    """Dataset.unpersist() is a no-op for localCheckpoint blocks on Spark
    4.1.2; the loop must free them via util.free_checkpoint or the block
    store grows monotonically.  Bound what survives a 3-generation crawl:
    per generation only parsed (backs the returned cdx) and the seen-part
    handle may remain, plus the seed-keys part and the live frontier."""
    sc = spark.sparkContext

    def n_persisted():
        return len(sc._jsc.sc().getRDDStorageInfo())

    pages, seeds, robots = world
    before = n_persisted()
    cfg = CrawlConfig(per_host_budget=2, global_batch=200, bloom_min_keys=1)
    gens = 3
    run_crawl(spark, pages, seeds, robots, cfg, gens)
    survivors = n_persisted() - before
    # per gen: parsed + the seen-delta checkpoint; plus the seed-keys
    # delta and the live frontier.  Anything above that means scratch
    # (selected / filter-flagged), a superseded frontier or the final
    # filter table leaked
    assert survivors <= 2 * gens + 2, \
        f"{survivors} persisted RDDs survive a {gens}-gen crawl"


def test_free_checkpoint_frees_blocks(spark):
    """unpersist() alone leaves localCheckpoint blocks cached (the Spark
    behavior free_checkpoint exists to work around); free_checkpoint
    removes them immediately."""
    from cdx_writer_spark.util import free_checkpoint
    sc = spark.sparkContext

    def ids():
        return {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}

    before = ids()
    df = spark.range(0, 10000).selectExpr("id", "id * 2 AS x") \
        .localCheckpoint(eager=True)
    new = ids() - before
    assert new, "localCheckpoint should persist blocks"
    df.unpersist(True)
    assert new <= ids(), "documented no-op: unpersist leaves ckpt blocks"
    free_checkpoint(df)
    assert not (new & ids()), "free_checkpoint must drop the blocks"


def test_mixed_legacy_then_delta_checkpoint_load(spark, tmp_path):
    """Resuming a legacy (full-snapshot) dir and appending delta-v2
    generations must not union the legacy snapshots as if they were
    deltas: each generation's own manifest decides, and the newest
    non-delta generation supersedes everything before it."""
    import json as jsonmod
    import os
    from cdx_writer_spark.frontier.crawl import load_state

    root = str(tmp_path / "mixed")

    def write_gen(gen, keys_df, fmt):
        d = os.path.join(root, f"gen={gen:05d}")
        keys_df.write.parquet(os.path.join(d, "seen"))
        keys_df.limit(5).selectExpr(
            "urlkey", "urlkey AS url", "'h' AS host", "1.0 AS priority",
            f"{gen} AS generation").write.parquet(os.path.join(d, "frontier"))
        spark.createDataFrame([("k0", gen)], ["urlkey", "generation"]) \
            .write.parquet(os.path.join(d, "cdx"))
        mf = {"complete": True, "generation": gen}
        if fmt:
            mf["seen_format"] = fmt
        with open(os.path.join(d, "manifest.json"), "w") as f:
            jsonmod.dump(mf, f)

    keys = spark.range(100).select(
        F.concat(F.lit("k"), F.col("id")).alias("urlkey"))
    # legacy gens 0-1: FULL snapshots (gen1 = all 100 keys)
    write_gen(0, keys.limit(60), None)
    write_gen(1, keys, None)
    # delta-v2 gens 2-3: disjoint novel deltas of 10 each
    d2 = spark.range(100, 110).select(
        F.concat(F.lit("k"), F.col("id")).alias("urlkey"))
    d3 = spark.range(110, 120).select(
        F.concat(F.lit("k"), F.col("id")).alias("urlkey"))
    write_gen(2, d2, "delta-v2")
    write_gen(3, d3, "delta-v2")
    gen, _fr, seen, _m = load_state(spark, root)
    assert gen == 3
    assert seen.count() == 120, \
        "latest legacy snapshot + later deltas, no k-fold duplication"
    assert seen.distinct().count() == 120


def test_bloom_auto_shards_mid_run(spark, world, filter_builds):
    """The seen filter (its shard count auto-sized from capacity) first
    engages mid-run, once the seen set crosses bloom_min_keys: the early
    generations run the exact join alone, the later ones through the
    filter.  Engaging must not change any result."""
    pages, seeds, robots = world
    base = dict(per_host_budget=2, global_batch=200)

    def run(cfg):
        f, seen, cdx, m = run_crawl(spark, pages, seeds, robots, cfg, 3)
        return (sorted(r["urlkey"] for r in seen.collect()),
                sorted((r["urlkey"], r["generation"]) for r in cdx.collect()))
    e = run(CrawlConfig(**base))
    assert not filter_builds, "the default threshold must keep the filter off"
    # the threshold sits between gen-0 seen (20 seeds) and the final seen
    # count, so generation 0 runs without the filter and a later one with
    a = run(CrawlConfig(bloom_min_keys=200, **base))
    assert filter_builds and filter_builds[0] >= 4 * 200, \
        f"the filter never engaged mid-run: {filter_builds}"
    assert e[0] == a[0], "seen differs once the filter engages"
    assert e[1] == a[1], "cdx differs once the filter engages"


def test_robots_rules_parser(spark):
    """frontier/robots.py vs hand-computed expectations on the RFC-9309
    grammar corners: shared user-agent groups, non-matching agents,
    comments, blank Disallow, CRLF, case-insensitive fields, rules
    before any User-agent line (invalid, dropped)."""
    from cdx_writer_spark.frontier.robots import robots_rules
    body_a = ("Disallow: /orphan\n"              # before any UA: dropped
              "# comment only\n"
              "User-Agent: GoogleBot\r\n"
              "Disallow: /google-only\r\n"
              "\r\n"
              "User-agent: crawler\n"
              "USER-AGENT: *\n"                   # shared group matches *
              "Disallow: /a/   # inline comment\n"
              "Allow: /a/pub\n"
              "disallow:\n"                       # blank: allow-all, drop
              "\n"
              "User-agent: *\n"
              "DISALLOW: /b\n")
    body_b = ("User-agent: other\nDisallow: /x\n")   # nothing for *
    docs = spark.createDataFrame(
        [("h1.example", body_a), ("h2.example", body_b)], ["host", "body"])
    got = sorted(tuple(r) for r in robots_rules(docs).collect())
    assert got == [("h1.example", "allow", "/a/pub"),
                   ("h1.example", "disallow", "/a/"),
                   ("h1.example", "disallow", "/b")]
    # agent-specific parse picks the google record instead
    got_g = sorted(tuple(r) for r in
                   robots_rules(docs, agent="googlebot").collect())
    assert got_g == [("h1.example", "disallow", "/google-only")]


def test_big_batch_join_path_equals_broadcast(spark, world, monkeypatch):
    """Forcing the big-batch join strategy (bloom-prefiltered shuffle
    fetch + shuffle leftover anti-join, AQE left on) must be
    result-identical to the broadcast path — join strategy is a cost
    decision, not semantics."""
    import cdx_writer_spark.frontier.crawl as crawl_mod
    pages, seeds, robots = world
    base = dict(per_host_budget=2, global_batch=200)
    def run(cfg):
        f, seen, cdx, m = run_crawl(spark, pages, seeds, robots, cfg, 3)
        return (sorted(r["urlkey"] for r in seen.collect()),
                sorted((r["urlkey"], r["generation"]) for r in cdx.collect()),
                sorted(tuple(r) for r in f.collect()))
    a = run(CrawlConfig(**base))
    monkeypatch.setattr(crawl_mod, "BROADCAST_BATCH_MAX_ROWS", 0)
    b = run(CrawlConfig(**base))
    assert a == b, "big-batch join strategy changed results"


def test_crawl_delay_budgets(spark, world):
    """Crawl-delay robots lines become per-host budget overrides: a host
    asking for a delay gets at most gen_seconds/delay fetches per
    generation, every other host keeps the default budget, and budgets
    never exceed the default (salt-guard invariant)."""
    from cdx_writer_spark.frontier.robots import host_budgets, robots_rules
    pages, seeds, robots = world
    docs = spark.createDataFrame(
        [("site0.example.org",
          "User-agent: *\nCrawl-delay: 30\nDisallow: /p/9\n"),
         ("site1.example.org",
          "User-agent: *\nCrawl-delay: 0.5\nDisallow: /p/9\n")],
        ["host", "body"])
    rules = robots_rules(docs)
    budgets = host_budgets(rules, default_budget=4, gen_seconds=60.0)
    got = {r["host"]: r["budget"] for r in budgets.collect()}
    assert got == {"site0.example.org": 2,      # 60/30
                   "site1.example.org": 4}      # 120 clamped to default

    cfg = CrawlConfig(per_host_budget=4, global_batch=500)
    f, seen, cdx, m = run_crawl(spark, pages, seeds, robots, cfg, 2,
                                host_budgets=budgets)
    per_host = (cdx.join(
        spark.createDataFrame([("site0.example.org",)], ["h"]),
        F.expr("original_url LIKE 'http://site0.example.org/%'"), "left_semi")
        .groupBy("generation").count().collect())
    assert all(r["count"] <= 2 for r in per_host), \
        "crawl-delay budget exceeded for site0"
    # unconstrained run fetches at least as much overall
    f2, _s2, cdx2, _m2 = run_crawl(spark, pages, seeds, robots, cfg, 2)
    assert cdx2.count() >= cdx.count()


def test_async_saver_propagates_failures():
    """A failed background checkpoint write must surface at the next
    join/start, not vanish in the thread."""
    import pytest as _pytest
    from cdx_writer_spark.frontier import crawl as crawl_mod

    saver = crawl_mod._AsyncSave()
    orig = crawl_mod.save_state
    crawl_mod.save_state = lambda *a: (_ for _ in ()).throw(
        IOError("disk full"))
    try:
        saver.start("/nonexistent", 0, None, None, None, {})
        with _pytest.raises(IOError, match="disk full"):
            saver.join()
        saver.join()  # error is consumed; subsequent joins are clean
    finally:
        crawl_mod.save_state = orig


def test_crawl_with_cuckoo_equals_exact(spark, world):
    """crawl_step driven directly with a sharded cuckoo built over the
    seen set each generation == the exact anti-join crawl."""
    from cdx_writer_spark.frontier import crawl as crawl_mod
    from cdx_writer_spark.frontier.seen import build_sharded_cuckoo
    pages, seeds, robots = world
    base = dict(per_host_budget=2, global_batch=200)

    def run(cfg, bloom_override=None):
        if bloom_override is None:
            f, seen, cdx, m = run_crawl(spark, pages, seeds, robots, cfg, 2)
            return (sorted(r["urlkey"] for r in seen.collect()),
                    sorted((r["urlkey"], r["generation"])
                           for r in cdx.collect()))
        # drive crawl_step directly with the cuckoo sidecar
        from pyspark.sql import Observation
        frontier = crawl_mod.init_frontier(seeds).localCheckpoint(eager=True)
        seen = frontier.select("urlkey")
        cdx_parts = []
        for gen in range(2):
            filt = build_sharded_cuckoo(seen, "urlkey", n_shards=4,
                                        capacity=200000)
            frontier, cdx, m = crawl_mod.crawl_step(
                pages, frontier, seen, robots, cfg, gen, bloom=filt)
            frontier = frontier.localCheckpoint(eager=True)
            new_seen = frontier.where(
                F.col("generation") == gen + 1).select("urlkey")
            seen = seen.unionByName(new_seen)
            cdx_parts.append(cdx)
        all_cdx = cdx_parts[0].unionByName(cdx_parts[1])
        return (sorted(r["urlkey"] for r in seen.collect()),
                sorted((r["urlkey"], r["generation"])
                       for r in all_cdx.collect()))

    e = run(CrawlConfig(**base))
    c = run(CrawlConfig(**base), bloom_override=True)
    assert e[0] == c[0], "seen differs under cuckoo sidecar"
    assert e[1] == c[1], "cdx differs under cuckoo sidecar"


def test_robots_gate_allow_overrides_disallow(spark):
    """RFC 9309 longest-match in the gate: an Allow carve-out inside a
    Disallow admits its subtree; Allow wins length ties."""
    from cdx_writer_spark.frontier.crawl import robots_gate
    rules = spark.createDataFrame(
        [("h1", "disallow", "/a/"), ("h1", "allow", "/a/pub"),
         ("h1", "disallow", "/a/pub/sec/"),   # deeper disallow re-blocks
         ("h2", "disallow", "/x"), ("h2", "allow", "/x")],  # tie: allow
        ["host", "rule_type", "path_prefix"])
    cand = spark.createDataFrame(
        [("h1", "http://h1/a/priv/1"), ("h1", "http://h1/a/pub/ok"),
         ("h1", "http://h1/a/pub/sec/no"), ("h1", "http://h1/other"),
         ("h2", "http://h2/x/tie"), ("h3", "http://h3/x/norules")],
        ["host", "url"])
    got = sorted(r["url"] for r in robots_gate(cand, rules).collect())
    assert got == ["http://h1/a/pub/ok", "http://h1/other",
                   "http://h2/x/tie", "http://h3/x/norules"]


def test_robots_gate_rfc9309_wildcards(spark):
    """RFC 9309 §2.2.3 special characters in the gate: '*' matches any
    octet sequence, a trailing '$' anchors at end-of-path, regex
    metacharacters in rules stay literal, a mid-rule '$' is a literal
    octet, and specificity (rule octet length) still decides between a
    wildcard Disallow and a longer Allow carve-out."""
    from cdx_writer_spark.frontier.crawl import robots_gate
    rules = spark.createDataFrame(
        [("h1", "disallow", "/*?sid="),       # session-id ban, any path
         ("h1", "allow", "/pub*?sid="),       # longer carve-out wins
         ("h2", "disallow", "/*.pdf$"),       # anchored extension ban
         ("h3", "disallow", "/a+(b)"),        # regex specials literal
         ("h4", "disallow", "/x$y")],         # mid-rule '$' literal
        ["host", "rule_type", "path_prefix"])
    cand = spark.createDataFrame(
        [("h1", "http://h1/p?sid=7"),         # blocked by /*?sid=
         ("h1", "http://h1/a/b?sid=x"),       # blocked (deep path)
         ("h1", "http://h1/p?x=1"),           # kept: no sid
         ("h1", "http://h1/pub1?sid=3"),      # kept: allow is longer
         ("h2", "http://h2/doc.pdf"),         # blocked: anchored hit
         ("h2", "http://h2/doc.pdfx"),        # kept: '$' anchors
         ("h2", "http://h2/doc.pdf?x"),       # kept: not end-of-path
         ("h3", "http://h3/a+(b)/q"),         # blocked literally
         ("h3", "http://h3/aab/q"),           # kept: '+' not a regex
         ("h4", "http://h4/x$y/z"),           # blocked literally
         ("h4", "http://h4/xy/z")],           # kept
        ["host", "url"])
    got = sorted(r["url"] for r in robots_gate(cand, rules).collect())
    assert got == ["http://h1/p?x=1", "http://h1/pub1?sid=3",
                   "http://h2/doc.pdf?x", "http://h2/doc.pdfx",
                   "http://h3/aab/q", "http://h4/xy/z"]


def test_robots_rules_star_fallback_for_named_agent(spark):
    """RFC 9309 §2.2.1: a named agent uses its specific group when the
    host has one, else falls back to the host's '*' group; hosts with
    neither contribute nothing."""
    from cdx_writer_spark.frontier.robots import robots_rules
    docs = spark.createDataFrame(
        [("spec.example",                      # has a googlebot group
          "User-agent: googlebot\nDisallow: /g\n\n"
          "User-agent: *\nDisallow: /star\n"),
         ("star.example",                      # '*' group only
          "User-agent: *\nDisallow: /s\n"),
         ("other.example",                     # unrelated group only
          "User-agent: bingbot\nDisallow: /b\n")],
        ["host", "body"])
    got = sorted(tuple(r) for r in
                 robots_rules(docs, agent="GoogleBot").collect())
    assert got == [("spec.example", "disallow", "/g"),
                   ("star.example", "disallow", "/s")]


def test_resume_after_midgeneration_kill_autoshard(spark, world, tmp_path,
                                                   monkeypatch):
    """Kill the loop BETWEEN gen 1's checkpoint write and that
    generation's block-freeing (write durable on disk, frees never ran),
    then resume with the seen filter live from the first key.
    Resume must redo exactly gen 2, re-emit no earlier urlkey, and land
    on the same seen set and frontier as an uninterrupted run."""
    import cdx_writer_spark.frontier.crawl as crawl_mod
    pages, seeds, robots = world
    ckpt = str(tmp_path / "kill_ckpt")
    cfg = CrawlConfig(per_host_budget=2, global_batch=200, bloom_min_keys=1)

    saved: list[int] = []
    real_save = crawl_mod.save_state
    real_free = crawl_mod.free_checkpoint

    def sync_start(self, *args):   # make the write synchronous so the
        self.join()                # kill lands deterministically after it
        real_save(*args)
        saved.append(args[1])

    def killer(df):
        if 1 in saved:
            raise RuntimeError("simulated kill")
        real_free(df)

    monkeypatch.setattr(crawl_mod._AsyncSave, "start", sync_start)
    monkeypatch.setattr(crawl_mod, "free_checkpoint", killer)
    with pytest.raises(RuntimeError, match="simulated kill"):
        run_crawl(spark, pages, seeds, robots, cfg, 3, checkpoint_dir=ckpt)
    assert saved == [0, 1], "kill must land right after gen 1's write"
    monkeypatch.undo()

    f2, s2, cdx2, m2 = run_crawl(spark, pages, seeds, robots, cfg, 3,
                                 checkpoint_dir=ckpt, resume=True)
    assert [m["generation"] for m in m2] == [2], "resume should redo gen 2"

    ff, sf, cdxf, _ = run_crawl(spark, pages, seeds, robots, cfg, 3)
    full = sorted((r["urlkey"], r["generation"]) for r in cdxf.collect())
    resumed = sorted((r["urlkey"], r["generation"]) for r in cdx2.collect())
    assert resumed == [x for x in full if x[1] == 2], \
        "resumed run must re-emit exactly gen 2"
    emitted_before = {k for k, g in full if g < 2}
    assert not emitted_before & {k for k, _ in resumed}, "re-emission"
    assert sorted(r["urlkey"] for r in s2.collect()) == \
        sorted(r["urlkey"] for r in sf.collect()), "seen parity"
    assert sorted(tuple(r) for r in f2.collect()) == \
        sorted(tuple(r) for r in ff.collect()), "frontier parity"


def test_sharded_cuckoo_matches_exact_1m_keys(spark):
    """The 10^10-path cuckoo: (shard, buckets) table at 10^6 keys, O(1)
    driver memory (no driver merge loop — the build never collects).
    No false negatives, sane fp rate, anti-join == exact, and the
    co-grouped insert into the existing table preserves the contract
    (new keys land without clobbering stored ones)."""
    from cdx_writer_spark.frontier.seen import (anti_join_seen,
                                                build_sharded_cuckoo,
                                                sharded_cuckoo_insert,
                                                sharded_cuckoo_prefilter)
    n = 1_000_000
    seen = spark.range(0, n).select(
        F.concat(F.lit("key"), F.col("id")).alias("urlkey"))
    filt = build_sharded_cuckoo(seen, "urlkey", n_shards=32, capacity=4 * n)

    sample = spark.range(0, n, 97).select(
        F.concat(F.lit("key"), F.col("id")).alias("urlkey"))
    fneg = (sharded_cuckoo_prefilter(sample, "urlkey", filt)
            .filter(~F.col("maybe_seen")).count())
    assert fneg == 0, "false negative in sharded cuckoo"
    out = spark.range(10**8, 10**8 + 20000).select(
        F.concat(F.lit("key"), F.col("id")).alias("urlkey"))
    fp = (sharded_cuckoo_prefilter(out, "urlkey", filt)
          .filter("maybe_seen").count())
    assert fp / 20000 < 0.05, f"fp rate {fp/20000}"

    cand = spark.range(n - 20000, n + 20000).select(
        F.concat(F.lit("key"), F.col("id")).alias("urlkey"))
    exact = sorted(r["urlkey"] for r in
                   anti_join_seen(cand, seen, "urlkey").collect())
    got = sorted(r["urlkey"] for r in
                 anti_join_seen(cand, seen, "urlkey", bloom=filt).collect())
    assert got == exact

    # insert a new stripe into the existing table
    newk = spark.range(10**9, 10**9 + 20000).select(
        F.concat(F.lit("key"), F.col("id")).alias("urlkey"))
    filt2 = sharded_cuckoo_insert(filt, newk, "urlkey")
    assert (sharded_cuckoo_prefilter(sample, "urlkey", filt2)
            .filter(~F.col("maybe_seen")).count()) == 0, \
        "stored keys vanished after the insert"
    assert (sharded_cuckoo_prefilter(newk, "urlkey", filt2)
            .filter(~F.col("maybe_seen")).count()) == 0, \
        "the insert lost keys"


def test_cuckoo_filter_matches_exact(spark):
    """Cuckoo sidecar contract at a size that runs in seconds: NO false
    negatives ever (every inserted key reads maybe_seen=True), sane
    false-positive rate, and anti-join results identical to the exact
    join."""
    from cdx_writer_spark.frontier.seen import (build_sharded_cuckoo,
                                                sharded_cuckoo_prefilter)
    seen = spark.range(0, 30000).select(
        F.concat(F.lit("key"), F.col("id")).alias("urlkey"))
    cand = spark.range(20000, 50000).select(
        F.concat(F.lit("key"), F.col("id")).alias("urlkey"))
    filt = build_sharded_cuckoo(seen, "urlkey", n_shards=4, capacity=60000)

    flagged = sharded_cuckoo_prefilter(seen, "urlkey", filt)
    assert flagged.filter(~F.col("maybe_seen")).count() == 0, \
        "false negative: an inserted key read as definitely-novel"
    fp = (sharded_cuckoo_prefilter(
        spark.range(10**6, 10**6 + 20000).select(
            F.concat(F.lit("key"), F.col("id")).alias("urlkey")),
        "urlkey", filt).filter("maybe_seen").count())
    assert fp / 20000 < 0.05, f"false-positive rate too high: {fp/20000}"

    exact = sorted(r["urlkey"] for r in
                   anti_join_seen(cand, seen, "urlkey").collect())
    got = sorted(r["urlkey"] for r in
                 anti_join_seen(cand, seen, "urlkey", bloom=filt).collect())
    assert got == exact


@pytest.mark.parametrize("mode", ["sharded"])
def test_crawl_with_bloom_equals_exact(spark, world, filter_builds, mode,
                                       monkeypatch):
    """The crawl must produce identical seen/cdx with every filter it
    deploys switched on at once: the filters are an optimization, never
    a semantics change.  ``mode`` names the seen-filter deployment — the
    sharded cuckoo, engaged from the first seen key — and the big-batch
    fetch path adds its bloom over the batch's urls on the web side."""
    pages, seeds, robots = world
    base = dict(per_host_budget=2, global_batch=200)
    cfg_exact = CrawlConfig(**base)
    cfg_filtered = CrawlConfig(bloom_min_keys=1, **base)

    def run(cfg):
        f, seen, cdx, m = run_crawl(spark, pages, seeds, robots, cfg, 3)
        return (sorted(r["urlkey"] for r in seen.collect()),
                sorted((r["urlkey"], r["generation"])
                       for r in cdx.collect()))
    e = run(cfg_exact)
    assert not filter_builds
    import cdx_writer_spark.frontier.crawl as crawl_mod
    monkeypatch.setattr(crawl_mod, "BROADCAST_BATCH_MAX_ROWS", 0)
    b = run(cfg_filtered)
    assert filter_builds, f"vacuous: the {mode} seen filter never engaged"
    assert e[0] == b[0], f"seen-set differs under {mode} filter"
    assert e[1] == b[1], f"cdx differs under {mode} filter"


def test_run_crawl_cuckoo_filter_equals_exact(spark, world, filter_builds):
    """bloom_min_keys=1 runs the sharded cuckoo through the WHOLE loop
    (build at generation 0, per-generation inserts, prefilter) with
    results identical to the exact anti-join crawl."""
    pages, seeds, robots = world
    base = dict(per_host_budget=2, global_batch=200)

    def run(cfg):
        f, seen, cdx, m = run_crawl(spark, pages, seeds, robots, cfg, 3)
        return (sorted(r["urlkey"] for r in seen.collect()),
                sorted((r["urlkey"], r["generation"]) for r in cdx.collect()),
                sorted(tuple(r) for r in f.collect()))

    e = run(CrawlConfig(**base))
    assert not filter_builds
    c = run(CrawlConfig(bloom_min_keys=1, **base))
    assert filter_builds, "vacuous: the filter never engaged"
    assert e[0] == c[0], "seen differs under loop cuckoo filter"
    assert e[1] == c[1], "cdx differs under loop cuckoo filter"
    assert e[2] == c[2], "frontier differs under loop cuckoo filter"


def test_run_crawl_cuckoo_survives_capacity_overflow(spark):
    """Regression: the sharded cuckoo is built with 4x-seen headroom,
    but a discovery-phase generation can find MORE novel keys than that
    before the next top-of-loop rebuild check — the delta insert then
    overflowed a shard and the kick loop hard-failed ('cuckoo filter
    over capacity'; blooms just degrade fpp when overfull).  The loop
    must rebuild-with-headroom instead of folding an overflowing delta,
    and stay byte-identical to the exact-join crawl.  Shape: tiny seed
    set (seen_count ~ tens) over a branching world whose first
    generation discovers hundreds of novel urlkeys."""
    pages = synth_pages(spark, 4000, n_hosts=200, partitions=8)
    seeds = synth_seeds(spark, 30, 4000, n_hosts=200)
    robots = synth_robots(spark, n_hosts=200)
    base = dict(per_host_budget=64, global_batch=1000)

    def run(cfg):
        f, seen, cdx, m = run_crawl(spark, pages, seeds, robots, cfg, 3)
        return (sorted(r["urlkey"] for r in seen.collect()),
                sorted((r["urlkey"], r["generation"]) for r in cdx.collect()),
                [x["novel"] for x in m])

    e = run(CrawlConfig(**base))
    c = run(CrawlConfig(bloom_min_keys=1, **base))
    # the shape must actually exercise the overflow path: replay the
    # loop's own sizing rule (cap = 4x keys at every (re)build) over the
    # observed novel-per-generation sequence and require that some
    # generation's delta pushed the count past the standing cap — the
    # exact condition under which the old code overflowed a shard
    n0 = len(e[0]) - sum(e[2])     # initial (seed) urlkey count
    cap, cnt, hit = 4 * n0, n0, False
    for nov in e[2]:
        cnt += nov
        if cnt > cap:
            hit, cap = True, 4 * cnt
    assert hit, \
        f"vacuous shape: novel-per-gen {e[2]} never outgrows the filter"
    assert e[0] == c[0], "seen differs after cuckoo overflow rebuild"
    assert e[1] == c[1], "cdx differs after cuckoo overflow rebuild"


def test_recrawl_expiry_through_loop(spark, world, tmp_path):
    """Recrawl THROUGH run_crawl: expire previously-crawled urlkeys at
    resume with the seen filter live from the first key (it is built
    over the post-expiry seen set); the resumed crawl must (a) match the
    exact-join crawl row-for-row and (b) actually re-emit rediscovered
    expired URLs."""
    import shutil as _sh
    pages, seeds, robots = world
    base = dict(per_host_budget=2, global_batch=200)
    cfg_ck = CrawlConfig(bloom_min_keys=1, **base)
    cfg_ex = CrawlConfig(**base)

    d1 = str(tmp_path / "ck")
    run_crawl(spark, pages, seeds, robots, cfg_ck, 2, checkpoint_dir=d1)
    _sh.copytree(d1, str(tmp_path / "ex"))

    # expire EVERYTHING emitted in gens 0-1: any rediscovery re-admits
    emitted = spark.read.parquet(f"{d1}/gen=00000/cdx",
                                 f"{d1}/gen=00001/cdx")
    expired = emitted.select("urlkey").distinct()

    def finish(cfg, d):
        f, seen, cdx, m = run_crawl(spark, pages, seeds, robots, cfg, 4,
                                    checkpoint_dir=d, resume=True,
                                    expire_keys=expired)
        assert [x["generation"] for x in m] == [2, 3]
        return (sorted(r["urlkey"] for r in seen.collect()),
                sorted((r["urlkey"], r["generation"]) for r in cdx.collect()),
                sorted(tuple(r) for r in f.collect()))

    ck = finish(cfg_ck, d1)
    ex = finish(cfg_ex, str(tmp_path / "ex"))
    assert ck == ex, "filtered expiry resume differs from exact resume"
    re_emitted = {k for k, _ in ck[1]} & \
        {r["urlkey"] for r in expired.collect()}
    assert re_emitted, "no expired URL was re-emitted (vacuous recrawl)"


def test_jvm_parse_path_matches_python_udfs(spark, world):
    """The crawl parse stage keeps page bytes JVM-side: checksum =
    sha1+base32 expression arithmetic, outlinks = regexp_extract_all +
    a slim normalize UDF.  Both must equal the reference Python kernels
    (sha1_b32 / extract_outlinks) byte-for-byte — on the synth pages AND
    on adversarial hand-written html (quote styles, missing quotes,
    nested tags, whitespace, empty/None payloads, relative links)."""
    from pyspark.sql import functions as F

    from cdx_writer_spark.functions.udfs import (extract_outlinks,
                                                 normalize_links,
                                                 raw_hrefs_expr, sha1_b32)
    from cdx_writer_spark.operators.cdx import sha1_b32_binary_expr

    pages, _seeds, _robots = world
    adversarial = [
        ("http://ex.com/a/b", b'<a href="http://x.com/1">x</a>'
         b"<a href='/rel/p'>r</a><a href=bare>b</a>"),
        ("http://ex.com/", b'<A HREF = "UPPER">u</A><a id=z href="#frag">f'
         b'</a><a href="">empty</a>'),
        ("http://ex.com/d/", b'<a href="../up one">sp</a>'
         b'<a data-href="no">n</a><area href="not-a">'),
        ("http://ex.com/", "<a href=\"café/ü?q=1\">uni</a>"
         .encode("utf-8")),
        ("http://ex.com/", b""),
        ("http://ex.com/", None),
    ]
    adv = spark.createDataFrame(
        [(u, h) for u, h in adversarial], "url string, html binary")
    for df in (pages.select("url", "html").limit(500), adv):
        rows = (df.select(
            sha1_b32("html").alias("py_sum"),
            sha1_b32_binary_expr(F.col("html")).alias("jvm_sum"),
            extract_outlinks("html", "url").alias("py_links"),
            normalize_links(raw_hrefs_expr(F.col("html")), F.col("url"))
            .alias("hy_links"))).collect()
        assert rows
        for r in rows:
            assert r["py_sum"] == r["jvm_sum"]
            assert r["py_links"] == r["hy_links"]


def test_checkpoint_frontier_sorted_partitions_with_lineage(spark, world,
                                                            tmp_path):
    """The north rule materializes the frontier checkpoint as a priority
    queue: range-partitioned + sorted on (priority DESC, urlkey ASC), so
    part files carry disjoint descending priority ranges (parquet min/max
    stats prune top-of-queue scans), and the manifest records
    per-partition lineage (every part file of every artifact + parent
    generation + the layout contract) alongside the fetch/parse
    metrics."""
    import json
    import os

    import pyarrow.parquet as pq

    pages, seeds, robots = world
    cfg = CrawlConfig(per_host_budget=2, global_batch=200)
    ckpt = str(tmp_path / "sorted_ckpt")
    run_crawl(spark, pages, seeds, robots, cfg, 2, checkpoint_dir=ckpt)

    d = os.path.join(ckpt, "gen=00001")
    with open(os.path.join(d, "manifest.json")) as fh:
        m = json.load(fh)
    lin = m["lineage"]
    assert lin["parent_gen"] == 0
    assert lin["frontier_layout"] == ["priority DESC", "urlkey ASC"]
    for name in ("frontier", "seen", "cdx"):
        recorded = {e["file"] for e in lin["partitions"][name]}
        on_disk = {f for f in os.listdir(os.path.join(d, name))
                   if f.startswith("part-") and not f.endswith(".crc")}
        assert recorded == on_disk and recorded, f"{name} lineage mismatch"
        assert all(e["bytes"] > 0 for e in lin["partitions"][name])
    # gen 0's manifest must say it has no parent
    with open(os.path.join(ckpt, "gen=00000", "manifest.json")) as fh:
        assert json.load(fh)["lineage"]["parent_gen"] is None

    # sortedness within each part file, and disjoint descending ranges
    # across files (file index order == range partition order)
    files = sorted(os.path.join(d, "frontier", e["file"])
                   for e in lin["partitions"]["frontier"])
    prev_min = None
    for path in files:
        t = pq.read_table(path, columns=["priority", "urlkey"]).to_pandas()
        if t.empty:
            continue
        pairs = list(zip(-t["priority"].to_numpy(), t["urlkey"].tolist()))
        assert pairs == sorted(pairs), f"{path} not sorted"
        if prev_min is not None:
            assert t["priority"].max() <= prev_min, \
                "part files must cover descending priority ranges"
        prev_min = t["priority"].min()


def test_frontier_top_is_exact_and_reads_head_files_only(spark, tmp_path):
    """frontier_top must equal a full-scan TakeOrdered at every n, while
    the sorted-partition layout lets it read only the head part files
    (range partition blocks are contiguous in the total order, so the
    global top-n is a subset of the first files holding >= n rows)."""
    import json
    import os

    import pyarrow.parquet as pq

    from cdx_writer_spark.frontier.crawl import frontier_top, save_state

    fr = spark.range(2000).selectExpr(
        "concat('k', lpad(cast(id AS string), 6, '0')) AS urlkey",
        "concat('http://h/', id) AS url",
        "concat('h', id % 50) AS host",
        "round(rand(7), 6) AS priority",
        "0 AS generation")
    root = str(tmp_path / "queue_ckpt")
    # frontier_size forces ceil(17M/5M) = 4 range-partitioned part files
    save_state(root, 0, fr, fr.select("urlkey"), fr.select("urlkey"),
               {"frontier_size": 17_000_000})

    d = os.path.join(root, "gen=00000")
    with open(os.path.join(d, "manifest.json")) as fh:
        m = json.load(fh)
    files = [e["file"] for e in m["lineage"]["partitions"]["frontier"]]
    assert len(files) == 4, "test needs a multi-file layout"
    first_rows = pq.ParquetFile(
        os.path.join(d, "frontier", files[0])).metadata.num_rows

    def key(r):
        return (-r["priority"], r["urlkey"])

    full = spark.read.parquet(os.path.join(d, "frontier"))
    for n in (7, first_rows + 50, 1999):   # 1 file / 2 files / all files
        want = sorted(full.orderBy(F.desc("priority"), F.asc("urlkey"))
                      .limit(n).collect(), key=key)
        got = sorted(frontier_top(spark, root, n).collect(), key=key)
        assert [key(r) for r in got] == [key(r) for r in want], f"n={n}"

    # a FOREIGN declared layout must disable pruning (full-scan fallback),
    # not silently read the wrong head files
    want = sorted(full.orderBy(F.desc("priority"), F.asc("urlkey"))
                  .limit(7).collect(), key=key)
    m["lineage"]["frontier_layout"] = ["warc_ts ASC"]
    with open(os.path.join(d, "manifest.json"), "w") as fh:
        json.dump(m, fh)
    got = sorted(frontier_top(spark, root, 7).collect(), key=key)
    assert [key(r) for r in got] == [key(r) for r in want]

    # legacy checkpoint (no lineage block): full-scan fallback still exact
    del m["lineage"]
    with open(os.path.join(d, "manifest.json"), "w") as fh:
        json.dump(m, fh)
    got = sorted(frontier_top(spark, root, 7).collect(), key=key)
    assert [key(r) for r in got] == [key(r) for r in want]


def test_aqe_restored_after_loop_and_on_failure(spark, world):
    """run_crawl disables AQE for a fresh broadcast-fetch run
    (global_batch at most BROADCAST_BATCH_MAX_ROWS); the session value
    must come back at
    loop exit AND when the loop dies mid-generation (the session
    outlives the loop)."""
    import pytest as _pytest

    pages, seeds, robots = world
    key = "spark.sql.adaptive.enabled"
    orig = spark.conf.get(key)
    cfg = CrawlConfig(per_host_budget=2, global_batch=200)
    run_crawl(spark, pages, seeds, robots, cfg, 1)
    assert spark.conf.get(key) == orig, "AQE not restored after clean exit"

    bad_pages = pages.select("url")   # parse stage needs warc_ts/html
    with _pytest.raises(Exception):
        run_crawl(spark, bad_pages, seeds, robots, cfg, 1)
    assert spark.conf.get(key) == orig, "AQE not restored after failure"


def test_expiry_tombstone_persists_across_resumes(spark, world, tmp_path):
    """run_crawl(expire_keys=...) persists a tombstone: a LATER resume
    that does NOT re-pass expire_keys must still treat never-rediscovered
    expired keys as unseen (the recrawl isn't silently cancelled), while
    rediscovered keys — re-recorded in post-expiry deltas — stay seen."""
    import json as jsonmod
    import os

    from cdx_writer_spark.frontier.crawl import load_state

    pages, seeds, robots = world
    cfg = CrawlConfig(per_host_budget=2, global_batch=200)
    d = str(tmp_path / "tomb")
    run_crawl(spark, pages, seeds, robots, cfg, 2, checkpoint_dir=d)
    expired_df = (spark.read.parquet(f"{d}/gen=00000/cdx",
                                     f"{d}/gen=00001/cdx")
                  .select("urlkey").distinct())
    expired = {r["urlkey"] for r in expired_df.collect()}
    assert expired

    # resume WITH expire_keys for one generation -> tombstone written
    run_crawl(spark, pages, seeds, robots, cfg, 3, checkpoint_dir=d,
              resume=True, expire_keys=expired_df)
    tomb_dirs = os.listdir(os.path.join(d, "expired"))
    assert tomb_dirs, "no tombstone persisted"
    with open(os.path.join(d, "expired", tomb_dirs[0],
                           "manifest.json")) as fh:
        tm = jsonmod.load(fh)
    assert tm["complete"] and tm["asof_gen"] == 2

    # what generation 2 re-recorded: its seen delta (novel discoveries)
    redisc = {r["urlkey"] for r in
              spark.read.parquet(f"{d}/gen=00002/seen").collect()} & expired
    not_redisc = expired - redisc
    assert redisc, "vacuous: nothing was rediscovered at gen 2"
    assert not_redisc, "vacuous: everything was rediscovered at gen 2"

    # a fresh load_state WITHOUT expire_keys honors the tombstone
    _gen, _fr, seen, _m = load_state(spark, d)
    seen_keys = {r["urlkey"] for r in seen.collect()}
    assert redisc <= seen_keys, \
        "rediscovered expired keys fell out of the reassembled seen set"
    assert not (seen_keys & not_redisc), \
        "tombstone lost on resume: never-rediscovered expired keys " \
        "re-entered the seen set"

    # and a further resume without expire_keys keeps crawling consistently:
    # anything it emits is NOT something already re-emitted at gen 2
    _f, _s, cdx3, m3 = run_crawl(spark, pages, seeds, robots, cfg, 4,
                                 checkpoint_dir=d, resume=True)
    assert [x["generation"] for x in m3] == [3]
    g2 = {r["urlkey"] for r in
          spark.read.parquet(f"{d}/gen=00002/cdx").collect()}
    g3 = {r["urlkey"] for r in cdx3.collect()}
    assert not (g3 & g2), "re-emitted a key already re-emitted post-expiry"
    # manifest honesty (ADVICE): the recorded cdx_rows equals the rows
    # actually written for the resumed generation
    with open(os.path.join(d, "gen=00003", "manifest.json")) as fh:
        m = jsonmod.load(fh)
    assert m["cdx_rows"] == spark.read.parquet(
        f"{d}/gen=00003/cdx").count()


def test_frontier_top_priority_ties_across_file_boundaries(spark, tmp_path):
    """The frontier_top exactness argument leans on urlkey-unique
    tiebreaks: when a run of EQUAL priorities spans a part-file boundary,
    the range partitioner must have split the tie run in urlkey order, so
    reading head files in index order still yields the exact top-n.  Pin
    it with an all-ties frontier and with a two-level frontier whose tie
    run straddles the boundary."""
    import json
    import os

    import pyarrow.parquet as pq

    from cdx_writer_spark.frontier.crawl import frontier_top, save_state

    def build(priority_expr, tag):
        fr = spark.range(2000).selectExpr(
            "concat('k', lpad(cast(id AS string), 6, '0')) AS urlkey",
            "concat('http://h/', id) AS url",
            "concat('h', id % 50) AS host",
            f"{priority_expr} AS priority",
            "0 AS generation")
        root = str(tmp_path / tag)
        save_state(root, 0, fr, fr.select("urlkey"), fr.select("urlkey"),
                   {"frontier_size": 17_000_000})
        d = os.path.join(root, "gen=00000")
        with open(os.path.join(d, "manifest.json")) as fh:
            m = json.load(fh)
        files = [e["file"] for e in m["lineage"]["partitions"]["frontier"]]
        assert len(files) == 4, "test needs a multi-file layout"
        first_rows = pq.ParquetFile(
            os.path.join(d, "frontier", files[0])).metadata.num_rows
        return root, d, first_rows

    def key(r):
        return (-r["priority"], r["urlkey"])

    # (a) every priority identical: the entire frontier is one tie run
    root, d, first = build("cast(0.5 AS double)", "all_ties")
    full = spark.read.parquet(os.path.join(d, "frontier"))
    for n in (1, first - 1, first, first + 1, 1999):
        want = [key(r) for r in sorted(
            full.orderBy(F.desc("priority"), F.asc("urlkey"))
            .limit(n).collect(), key=key)]
        got = [key(r) for r in sorted(
            frontier_top(spark, root, n).collect(), key=key)]
        assert got == want, f"all-ties frontier diverges at n={n}"

    # (b) two priority levels, the high-priority tie run larger than the
    # first file so it MUST straddle a boundary
    root, d, first = build(
        "CASE WHEN id % 2 = 0 THEN 0.9 ELSE 0.1 END", "two_level")
    full = spark.read.parquet(os.path.join(d, "frontier"))
    assert first < 1000, "high-priority run must span multiple files"
    for n in (first, first + 1, 999, 1000, 1001):
        want = [key(r) for r in sorted(
            full.orderBy(F.desc("priority"), F.asc("urlkey"))
            .limit(n).collect(), key=key)]
        got = [key(r) for r in sorted(
            frontier_top(spark, root, n).collect(), key=key)]
        assert got == want, f"two-level frontier diverges at n={n}"


def test_generation_job_count_pinned(spark, world):
    """crawl_step's contract is one heavy job plus a count per
    generation, plus the small broadcast jobs its plan runs.  Pin the
    Spark job count of one steady-state generation: a fresh 3-generation
    crawl's jobs minus a fresh 2-generation crawl's, each counted under
    its own job group with statusTracker.  Here that generation runs 6:
    the heavy frontier checkpoint, the parsed-block count, three
    broadcast builds, and the count ensure_checkpointed spends on the
    previous generation's seen delta, which the heavy job left
    unmaterialized."""
    pages, seeds, robots = world
    sc = spark.sparkContext
    st = sc.statusTracker()
    cfg = CrawlConfig(per_host_budget=2, global_batch=200)
    props = ("spark.jobGroup.id", "spark.job.description",
             "spark.job.interruptOnCancel")
    saved = {k: sc.getLocalProperty(k) for k in props}
    jobs = {}
    try:
        for gens in (2, 3):
            group = f"crawl-job-count-{gens}"
            sc.setJobGroup(group, f"{gens}-generation crawl")
            run_crawl(spark, pages, seeds, robots, cfg, gens)
            jobs[gens] = len(st.getJobIdsForGroup(group))
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
    assert jobs[3] - jobs[2] == 6, jobs


def test_sharded_cuckoo_overflow_recognised_through_spark(spark):
    """A real shard overflow, raised in a Python worker, reaches the
    driver wrapped in Spark's own exception; is_cuckoo_overflow must
    still recognise it (run_crawl's escalation keys on it)."""
    from cdx_writer_spark.frontier.seen import (CuckooOverflow,
                                                build_sharded_cuckoo,
                                                is_cuckoo_overflow,
                                                sharded_cuckoo_insert)

    def keys(lo, hi):
        return spark.range(lo, hi).select(
            F.concat(F.lit("k"), F.col("id")).alias("urlkey"))

    # two shards of 128 buckets x 4 slots: 5000 keys cannot fit
    filt = build_sharded_cuckoo(keys(0, 100), "urlkey", n_shards=2,
                                capacity=2)
    grown = sharded_cuckoo_insert(filt, keys(100, 5000), "urlkey")
    with pytest.raises(Exception) as info:
        grown.df.localCheckpoint(eager=True)
    assert not isinstance(info.value, CuckooOverflow), \
        "expected the overflow wrapped by Spark, not the raw exception"
    assert is_cuckoo_overflow(info.value), repr(info.value)[:500]
    assert not is_cuckoo_overflow(ValueError("some other failure"))


def test_cuckoo_insert_shard_overflow_falls_back_to_rebuild(
        spark, world, monkeypatch):
    """A per-shard overflow during the incremental delta insert
    (possible under urlkey-hash skew even when the GLOBAL seen count is
    under the filter's capacity) must trigger a full rebuild with fresh
    headroom, not kill the loop — and the crawl's output must be
    unchanged.  The overflow is real: the first insert adds every delta
    key nine times, and one fingerprint fits in at most the 8 slots of
    its two buckets."""
    from cdx_writer_spark.frontier import seen as seen_mod
    from cdx_writer_spark.frontier.crawl import CrawlConfig, run_crawl
    pages, seeds, robots = world
    base = dict(per_host_budget=2, global_batch=200, bloom_min_keys=1)

    def cdx_set(cdx):
        return sorted((r["urlkey"], r["generation"]) for r in cdx.collect())

    _f, _s, cdx0, _m = run_crawl(spark, pages, seeds, robots,
                                 CrawlConfig(**base), 3)
    expected = cdx_set(cdx0)

    real_insert = seen_mod.sharded_cuckoo_insert
    boom = {"armed": True, "fired": 0}

    def overflowing_insert(filt, keys, key="urlkey"):
        if not boom["armed"]:
            return real_insert(filt, keys, key)
        boom["armed"] = False
        boom["fired"] += 1
        nine = keys.crossJoin(spark.range(9)).drop("id")
        return real_insert(filt, nine, key)

    monkeypatch.setattr(seen_mod, "sharded_cuckoo_insert",
                        overflowing_insert)
    _f, _s, cdx1, m1 = run_crawl(spark, pages, seeds, robots,
                                 CrawlConfig(**base), 3)
    assert boom["fired"] == 1, "the overflowing insert never ran"
    assert cdx_set(cdx1) == expected, \
        "overflow fallback changed the crawl output"
