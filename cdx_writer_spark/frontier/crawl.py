"""The crawl frontier: iterative batch generations of
select → fetch → parse → index → discover → dedup → schedule
(north_rule; generalizes the reference's single-file loop,
cdx_writer.py:654-705, into a distributed URL-frontier pipeline).

Determinism contract (BASELINE.md): same seeds + budgets ⇒ identical
frontier ordering, seen-set and CDX rows at ANY parallelism level — every
selection is totally ordered with urlkey tiebreaks and every aggregate is
order-insensitive (min/max/sum only).

Scale notes (10^10 frontier):
* politeness ranking is two-phase: a salted partial top-k bounds the
  per-partition work on Zipf-hot hosts before the exact per-host
  row_number (engaged only when one host could overwhelm a reducer);
  per-host budgets can be reduced by robots Crawl-delay overrides
  (frontier/robots.py); the global pop is skipped when the frontier
  fits in the batch;
* the seen-set anti-join is the only unavoidable big shuffle; at
  cfg.bloom_min_keys seen keys a sharded cuckoo filter
  (frontier/seen.py) starts pre-filtering its probe side; the big-batch
  fetch join is bloom-prefiltered over the batch's urls so the web side
  shuffles ~|batch| rows, never |web|;
* every generation, fresh or resumed and at any frontier size, runs as
  one heavy job plus a trivial count (lazy localCheckpoints — see
  crawl_step); checkpoint-block storage is freed deterministically
  with util.free_checkpoint, never left to JVM GC;
* per-generation state is written as parquet snapshots (frontier, seen
  DELTA, cdx, metrics + manifest-last) = the checkpoint, asynchronously
  overlapped with the next generation; resume replays from the last
  complete manifest and re-emits nothing (anti-join on emitted CDX
  keys).  tests/test_crawl_simulator.py value-pins the whole loop
  against an independent single-process implementation.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.udfs import surt_and_host
from ..util import ensure_checkpointed, free_checkpoint, per_context

__all__ = ["CrawlConfig", "init_frontier", "crawl_step", "run_crawl",
           "load_state", "page_cdx", "frontier_top"]

N_SALT = 16

# Size gates.  Each is a module constant, not a CrawlConfig field: no
# caller sets a different value, and tests monkeypatch them.

# Broadcast the selected batch into the fetch/leftover joins only up to
# this size; beyond it the driver collect+rebroadcast is a measured
# ~1.5s/generation of serial time (and at 10^8-row production batches
# would be GBs) — use a shuffle join instead.  (On a real deployment the
# frontier/pages tables are bucketed by key — Iceberg storage-partitioned
# joins — so the shuffle is one-sided or free; plans/layout.py carries
# that design.)  The same size gates AQE for the whole run (run_crawl).
BROADCAST_BATCH_MAX_ROWS = 200_000
# Skip the salted pre-top-k (schedule phase 0) while the frontier is
# below this many rows: the skew it guards against needs ONE host with
# enough rows to overwhelm a single reducer's sort (~10^7), and under a
# Zipf host law the hottest host carries a few percent of the frontier —
# so below ~2x10^7 frontier rows the extra window shuffle is pure fixed
# cost per generation.  Size comes free from the observe() metric on the
# frontier's checkpoint materialization (and, on resume, the manifest).
SALT_PHASE_MIN_ROWS = 20_000_000
# Global top-k by TakeOrderedAndProject (k-per-partition heaps + driver
# merge) up to this batch size, the distributed quota pop above it:
# profiling at 400k-row frontiers showed TakeOrdered beats the quota pop
# (which pays a full extra materialization) until k reaches several
# hundred thousand.  The quota pop runs jobs at plan time, so above this
# size crawl_step's plan phase is not job-free (ROADMAP item 5).
TAKE_ORDERED_MAX_ROWS = 150_000
# Compact the seen-set delta chain once it reaches this many parts, so
# per-part scan/task overhead stays bounded: one O(total) pass amortized
# over this many generations.  The value is a design bound, not a
# measured optimum; tests/test_crawl_simulator.py pins compaction's
# results with a lowered value.
SEEN_COMPACT_PARTS = 32


def _union_all(parts: list[DataFrame]) -> DataFrame:
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@per_context
def _parse_cols() -> tuple:
    """The parse stage's projection Columns (content digest as sha1+base32
    expression arithmetic, html length, JVM-extracted hrefs -> python
    urljoin) — built ONCE per SparkContext and reused every generation.

    Column objects are immutable unresolved-attribute expressions, reusable
    across plans; rebuilding them per generation cost a measured ~0.3-1.3s
    of pure driver py4j time per generation (the base32 bit-algebra tree
    alone is ~300 nodes = hundreds of gateway round-trips), a straight
    addition to the loop's core-count-independent Amdahl term."""
    from ..functions.udfs import normalize_links, raw_hrefs_expr
    from ..operators.cdx import sha1_b32_binary_expr
    return (sha1_b32_binary_expr(F.col("html")).alias("checksum"),
            F.length("html").alias("html_len"),
            normalize_links(raw_hrefs_expr(F.col("html")), F.col("url"))
            .alias("outlinks"))


@dataclass
class CrawlConfig:
    per_host_budget: int = 4       # politeness: max fetches per host per gen
    global_batch: int = 2000       # frontier pops per generation
    priority_decay: float = 0.8
    # at or above this many seen keys the loop keeps the sharded cuckoo
    # seen-filter (frontier/seen.py) beside the exact anti-join; below
    # it the exact join runs alone.  A few-million-key join is
    # sub-second and parallel, while the filter costs a build job plus
    # one co-grouped insert job per generation — core-count-independent
    # serial time.  The r6 interleaved A/B at the 2M-page / 500k-batch
    # shape (filter first engaging at ~1M seen keys) measured the
    # 3-generation loop at 20.1-25.4s with min=4M (filter never builds)
    # vs 29.1-81.9s with min=1M, identical CDX.  The sidecar-only A/B
    # at 10^7 seen keys and the filter-from-key-1 loop A/B (BENCH.md,
    # "One URL-seen sidecar") leave that crossover where it was.
    bloom_min_keys: int = 4_000_000


def _with_keys(df: DataFrame, url_col: str = "url") -> DataFrame:
    kh = surt_and_host(F.col(url_col))
    return (df.withColumn("_kh", kh)
            .withColumn("urlkey", F.col("_kh.urlkey"))
            .withColumn("host", F.col("_kh.host"))
            .drop("_kh"))


def init_frontier(seeds: DataFrame) -> DataFrame:
    """seeds(url, priority) -> frontier(urlkey, url, host, priority,
    generation).  Duplicate seeds collapse to max priority."""
    return (_with_keys(seeds)
            .groupBy("urlkey")
            .agg(F.max("priority").alias("priority"),
                 F.min("url").alias("url"), F.min("host").alias("host"))
            .withColumn("generation", F.lit(0))
            .select("urlkey", "url", "host", "priority", "generation"))


def distributed_top_k(df: DataFrame, order_cols, k: int,
                      scratch: list | None = None) -> DataFrame:
    """Exact global top-k without the driver merge.

    ``orderBy().limit(k)`` (TakeOrderedAndProject) ships up to k rows *per
    partition* to the driver and merges them single-threaded — for a 10^5+
    batch that serializes the whole scheduler and anti-scales with partition
    count.  Instead: range-partition on the order (so partition i precedes
    partition i+1 globally), sort within partitions, then take per-partition
    quotas computed from partition COUNTS (the only thing the driver ever
    sees).  Exact, deterministic, and independent of partitioning."""
    ranged = (df.repartitionByRange(*order_cols)
              .sortWithinPartitions(*order_cols)
              .localCheckpoint(eager=True))
    if scratch is not None:
        # the ranged checkpoint backs the returned frame; hand it to the
        # caller so its blocks are freed once the result materializes
        # (a per-generation leak otherwise — util.free_checkpoint)
        scratch.append(ranged)
    counts = {r["pid"]: r["cnt"] for r in
              ranged.groupBy(F.spark_partition_id().alias("pid"))
              .agg(F.count("*").alias("cnt")).collect()}
    quotas: dict[int, int] = {}
    remaining = k
    for pid in sorted(counts):
        if remaining <= 0:
            break
        take = min(remaining, counts[pid])
        quotas[pid] = take
        remaining -= take
    bc = df.sparkSession.sparkContext.broadcast(quotas)
    schema = ranged.schema

    def take_fn(batches):
        from pyspark import TaskContext
        quota = bc.value.get(TaskContext.get().partitionId(), 0)
        taken = 0
        for pdf in batches:
            if taken >= quota:
                break
            n = min(len(pdf), quota - taken)
            yield pdf.iloc[:n]
            taken += n

    return ranged.mapInPandas(take_fn, schema)


def schedule(frontier: DataFrame, cfg: CrawlConfig,
             frontier_size: int | None = None,
             host_budgets: DataFrame | None = None,
             scratch: list | None = None) -> DataFrame:
    """Politeness + priority-queue pop: per-host budget then global top-k,
    fully deterministic (urlkey tiebreaks).

    ``host_budgets`` (host, budget) optionally REDUCES specific hosts'
    budgets below cfg.per_host_budget (e.g. robots Crawl-delay via
    frontier.robots.host_budgets); values above the default are clamped
    by construction there, so the salted skew guard — sized for the
    default — stays an upper bound.  The join rides the same (host)
    hash partitioning the politeness window needs: no extra shuffle of
    the frontier.

    Phase 0 (skew): partial top-k within (host, salt) — cheap map-side
    bound so the hottest Zipf host can't overload one reducer.  Skipped
    (result-identical: phase 1 is exact, and every per-host top-budget
    row is inside its salt bucket's top-budget) while the frontier is
    known to be below SALT_PHASE_MIN_ROWS — one fewer window shuffle
    per generation.
    Phase 1: exact row_number per host ≤ budget.
    Phase 2: global top ``global_batch`` by (priority, urlkey) via a
    range-partitioned sort (no single-node sort)."""
    pre = frontier
    if frontier_size is None or frontier_size >= SALT_PHASE_MIN_ROWS:
        salted = frontier.withColumn(
            "salt", F.pmod(F.xxhash64("urlkey"), F.lit(N_SALT)))
        w0 = (Window.partitionBy("host", "salt")
              .orderBy(F.desc("priority"), "urlkey"))
        pre = (salted.withColumn("rn0", F.row_number().over(w0))
               .filter(F.col("rn0") <= cfg.per_host_budget)
               .drop("rn0", "salt"))
    w1 = Window.partitionBy("host").orderBy(F.desc("priority"), "urlkey")
    if host_budgets is not None:
        pre = pre.join(host_budgets, "host", "left")
        cap = F.coalesce(F.col("budget"), F.lit(cfg.per_host_budget))
    else:
        cap = F.lit(cfg.per_host_budget)
    polite = (pre.withColumn("rn", F.row_number().over(w1))
              .filter(F.col("rn") <= cap).drop("rn"))
    if host_budgets is not None:
        polite = polite.drop("budget")
    if frontier_size is not None and frontier_size <= cfg.global_batch:
        # the whole frontier fits in the batch: every polite row is
        # selected, so the global top-k (a full sort + extra
        # materialization, zero-scaling at sandbox size) is a no-op —
        # skip it.  Typical of the ramp-up generations of a crawl.
        return polite
    if cfg.global_batch <= TAKE_ORDERED_MAX_ROWS:
        return (polite.orderBy(F.desc("priority"), "urlkey")
                .limit(cfg.global_batch))
    return distributed_top_k(polite, [F.desc("priority"), F.col("urlkey")],
                             cfg.global_batch, scratch=scratch)


def page_cdx(parsed: DataFrame) -> DataFrame:
    """CDX projection of fetched+parsed pages (the reference's 11 fields
    where they exist for a live page; ``checksum`` was fabricated at parse
    time as base32(sha1(html)) exactly like cdx_writer.py:399-425)."""
    return parsed.select(
        F.col("urlkey").alias("urlkey"),
        F.date_format("warc_ts", "yyyyMMddHHmmss").alias("cdx_date"),
        F.col("url").alias("original_url"),
        F.lit("text/html").alias("mime"),
        F.lit("200").alias("status_code"),
        F.col("checksum"),
        F.lit("-").alias("redirect"),
        F.lit("-").alias("meta_flags"),
        F.col("html_len").cast("string").alias("rec_size"),
        F.lit("-").alias("rec_offset"),
        F.col("generation"))


# RFC 3986 §2.3 unreserved characters: a percent-encoded octet in this set
# is equivalent to the bare character and is DECODED during normalization;
# everything else (reserved gen/sub-delims, non-ASCII, controls) stays
# encoded, with its hex digits uppercased (RFC 3986 §6.2.2.1).
_UNRESERVED = ("ABCDEFGHIJKLMNOPQRSTUVWXYZ"
               "abcdefghijklmnopqrstuvwxyz0123456789-._~")


def _pct_norm_expr(col) -> "F.Column":
    """RFC 9309 §2.2.2 percent-encoding normalization as a pure JVM
    expression (no UDF): ``%XX`` decodes when the octet is unreserved
    (so ``Disallow: /%7Ejoe/`` matches ``/~joe/``), otherwise the hex is
    uppercased (``%2f`` ≡ ``%2F``); a ``%`` not followed by two hex
    digits stays literal.  Note ``%2A``/``%24`` stay ENCODED (``*`` and
    ``$`` are reserved sub-delims) and are therefore literal octets, not
    wildcard/anchor metacharacters — matching Google's reference matcher.
    Strings without ``%`` (the overwhelming majority of URL paths) pay a
    single contains() check."""
    dec = F.create_map(*[lit for ch in _UNRESERVED
                         for lit in (F.lit(f"{ord(ch):02X}"), F.lit(ch))])
    parts = F.split(col, "%", -1)
    rest = F.slice(parts, 2, F.greatest(F.size(parts) - 1, F.lit(0)))

    def fix(x):
        hx = F.upper(F.substring(x, 1, 2))
        return F.when(
            x.rlike("^[0-9A-Fa-f]{2}"),
            F.concat(F.coalesce(dec[hx], F.concat(F.lit("%"), hx)),
                     F.substring(x, 3, 2147483647))
        ).otherwise(F.concat(F.lit("%"), x))

    norm = F.concat(F.element_at(parts, 1),
                    F.array_join(F.transform(rest, fix), ""))
    return F.when(col.contains("%"), norm).otherwise(col)


def robots_rules_table(robots: DataFrame) -> DataFrame:
    """Per-host rule aggregation feeding robots_gate — generation-invariant,
    so run_crawl builds this plan ONCE and reuses it every generation
    (the regex-translation expression construction alone is hundreds of
    driver py4j calls).  Rule paths are percent-encoding-normalized first
    (RFC 9309 §2.2.2 — see _pct_norm_expr), so rule specificity (octet
    length) is measured on the canonical form.  Rules containing RFC 9309
    §2.2.3 special characters (``*`` = any octet sequence, trailing ``$``
    = end anchor) are translated here, in the tiny per-host agg, to
    anchored Java regexes; wildcard-free rules stay plain prefixes."""
    p = _pct_norm_expr(F.col("path_prefix"))
    # a '*' anywhere or a terminal '$' makes the rule a wildcard rule;
    # a '$' mid-rule is a literal octet per the RFC's grammar
    is_wild = p.contains("*") | p.endswith("$")
    # literal -> anchored regex: escape Java-regex specials except '*',
    # then '*' -> '.*', then a trailing escaped-'$' back to the anchor
    esc = F.regexp_replace(p, r"([.\\+?\[\]^$(){}|])", r"\\$1")
    rex = F.regexp_replace(esc, r"\*", ".*")
    rex = F.regexp_replace(rex, r"\\\$$", r"\$")
    wild_rule = F.struct(F.concat(F.lit("^"), rex).alias("rex"),
                         F.length(p).alias("n"))
    return (robots.filter(F.col("rule_type").isin("allow", "disallow"))
            .groupBy("host")
            .agg(F.collect_list(
                     F.when((F.col("rule_type") == "disallow") & ~is_wild,
                            p)).alias("bans"),
                 F.collect_list(
                     F.when((F.col("rule_type") == "allow") & ~is_wild,
                            p)).alias("allows"),
                 F.collect_list(
                     F.when((F.col("rule_type") == "disallow") & is_wild,
                            wild_rule)).alias("bans_w"),
                 F.collect_list(
                     F.when((F.col("rule_type") == "allow") & is_wild,
                            wild_rule)).alias("allows_w")))


@per_context
def _gate_keep_col() -> "F.Column":
    """``NOT blocked`` filter over a candidates-⋈-rules row, cached per
    SparkContext (pure unresolved-attribute expression: ~100 py4j calls
    plus four aggregate-lambda closures per build, all per-generation
    driver time before this cache)."""
    path = _pct_norm_expr(F.regexp_replace("url", r"^https?://[^/]*", ""))

    def longest_match(plain, wild):
        lp = F.aggregate(
            F.coalesce(plain, F.array().cast("array<string>")), F.lit(-1),
            lambda acc, r: F.when(path.startswith(r)
                                  & (F.length(r) > acc), F.length(r))
            .otherwise(acc))
        lw = F.aggregate(
            F.coalesce(wild,
                       F.array().cast("array<struct<rex:string,n:int>>")),
            F.lit(-1),
            lambda acc, r: F.when(F.regexp_like(path, r["rex"])
                                  & (r["n"] > acc), r["n"]).otherwise(acc))
        return F.greatest(lp, lw)

    return ~(longest_match(F.col("bans"), F.col("bans_w"))
             > longest_match(F.col("allows"), F.col("allows_w")))


def robots_gate(candidates: DataFrame, robots: DataFrame | None = None,
                rules: DataFrame | None = None) -> DataFrame:
    """Broadcast-join robots rules on host; drop candidates the rules
    disallow, with RFC 9309 longest-match semantics: the most specific
    matching rule wins (specificity = rule-pattern octet length, as in
    Google's reference matcher), Allow wins a length tie — so an
    'Allow: /a/pub' carve-out inside 'Disallow: /a/' admits /a/pub/....
    RFC 9309 §2.2.3 special characters are supported (``*``/``$`` — see
    robots_rules_table).  Both rule paths and URL paths are normalized to
    canonical percent-encoding before comparison (RFC 9309 §2.2.2:
    unreserved octets decoded, remaining hex uppercased — _pct_norm_expr),
    so ``Disallow: /%7Ejoe/`` blocks ``/~joe/``.  Vectorized higher-order
    array folds, no UDF.

    Pass a prebuilt ``rules`` (robots_rules_table) to skip rebuilding the
    aggregation plan — run_crawl does, once for the whole crawl."""
    if rules is None:
        if robots is None:
            raise ValueError(
                "robots_gate needs either `robots` (raw (host, rule_type, "
                "path_prefix) rows) or a prebuilt `rules` table")
        rules = robots_rules_table(robots)
    joined = candidates.join(F.broadcast(rules), "host", "left")
    return joined.filter(_gate_keep_col()).drop("bans", "allows", "bans_w",
                                                "allows_w")


def crawl_step(pages: DataFrame, frontier: DataFrame, seen: DataFrame,
               robots: DataFrame | None, cfg: CrawlConfig, gen: int,
               bloom=None, frontier_size: int | None = None,
               host_budgets: DataFrame | None = None,
               robots_rules: DataFrame | None = None):
    """One generation's plan.  Returns (next_frontier, cdx, metrics).

    ``pages`` simulates the web: fetch = equi join on url.  ``bloom`` is an
    optional seen.ShardedCuckoo covering all of ``seen`` (run_crawl
    maintains it incrementally); without it the exact anti-join runs
    alone.

    The generation runs as ONE heavy job — the next-frontier checkpoint
    in run_crawl — plus a trivial count of the persisted parse blocks.
    Every compute-once frame (selection, parsed, filter-flagged
    candidates) is a LAZY localCheckpoint: the first job that touches it
    materializes+persists it in-line and later consumers (including a
    second union branch of the SAME job) read the persisted blocks,
    verified compute-once on Spark 4.1.2.  Rationale: each eager job
    barrier measured ~1.5-2s of core-count-independent stage-launch +
    planning time at 16c (the 4-5-job round-2 layout cost ~12s/generation
    — the Amdahl term behind the loop's 0.26 round-2 scaling; fusing the
    parse barrier was another interleaved +10% at 16c).  The eager
    per-stage layout once kept for production-size frontiers measured
    0.92x of this one at the 400k-batch shuffle-join shape (7 interleaved
    pairs, identical CDX) and was deleted; BENCH.md "One crawl generation
    layout" holds that A/B and its re-run.

    Nothing here materializes, so nothing can be counted here: an
    observe() under a lazy checkpoint records nothing (verified — the
    metric fires empty).  run_crawl fills ``scheduled``/``cdx_rows``
    (a count of the persisted parse blocks, ``metrics["_parsed"]``) and
    ``novel`` (an observation on its frontier job) after the job, and
    derives the seen delta from the checkpointed next frontier.

    ``metrics["step_phases"]`` holds the driver wall clock of each
    plan-building sub-phase; the big-batch fetch bloom is the only job
    one can contain (besides a distributed top-k above
    TAKE_ORDERED_MAX_ROWS).
    """
    _timers: dict[str, float] = {}   # sub-phase driver wall clocks

    def _mark(tag: str, t0: float) -> float:
        t = time.perf_counter()
        _timers[tag] = round(t - t0, 3)
        return t

    _t = time.perf_counter()
    # the (small, batch-bounded) selection is computed once — it feeds the
    # fetch join and the leftover anti-join, and its lineage contains
    # window shuffles that must not re-execute per consumer; the fetch
    # join's broadcast build materializes it.
    # (A round-4 experiment replaced this + the leftover anti-join with a
    # single flagged "staged" checkpoint, fusing gen-0 seed dedup into the
    # politeness window's host partitioning — interleaved same-window A/B
    # at 16c measured it 0.81x: under AQE each lazy checkpoint's toRdd
    # materializes its pre-final stages one driver round-trip at a time,
    # so the fewer-exchanges layout actually serialized MORE than the
    # eager init job it replaced, and the staged checkpoint write cost
    # more than the broadcast anti-join it removed.  Reverted; evidence
    # in BENCH.md.  A second round-4 experiment swapped these lazy
    # localCheckpoints for persist() — a ~free cache mark vs 0.5-1.5s of
    # toRdd planning — and measured 0.77x pairwise on steal-clean
    # windows: DataFrame persist() routes through the COLUMNAR
    # InMemoryRelation, which anti-scales under task concurrency on
    # this host, while localCheckpoint persists raw row blocks and its
    # toRdd pre-materialization is reused stage work.  Also reverted;
    # evidence in BENCH.md.)
    scratch: list = []
    selected = (schedule(frontier, cfg, frontier_size,
                         host_budgets=host_budgets, scratch=scratch)
                .withColumn("generation", F.lit(gen))
                .localCheckpoint(eager=False))
    scratch.append(selected)
    _t = _mark("selected_ckpt", _t)

    # fetch: small batches broadcast against the (arbitrarily large) web
    # so the pages table never shuffles; big batches pay a shuffle join
    # instead — the driver collect + rebroadcast of a 10^5+-row batch is
    # measured serial time every generation, and at production batch
    # sizes would be GBs through one process.  The shuffle join is
    # preceded by a bloom pre-filter built from the batch keys (~1.2 MB
    # per 10^6 keys): only probable matches shuffle their payload, so
    # the web side's shuffle volume is ~|batch| rows instead of |web| —
    # at the production web:batch ratio (~100:1) a ~100x cut, and on
    # this host it keeps the join under the measured DRAM-bandwidth
    # ceiling (BENCH.md).  False positives are resolved by the join
    # itself.  (Deployed, pages and frontier are additionally bucketed
    # on their keys so the join is storage-partitioned; see
    # plans/layout.py.)
    web = pages.select("url", "warc_ts", "html")
    small_batch = cfg.global_batch <= BROADCAST_BATCH_MAX_ROWS
    if small_batch:
        fetched = web.join(F.broadcast(selected), "url", "inner")
    else:
        from .seen import bloom_prefilter, build_bloom
        fb, fm, fk = build_bloom(selected, "url",
                                 capacity=cfg.global_batch, fpp=0.02)
        pre = (bloom_prefilter(web, "url", fb, fm, fk)
               .filter(F.col("maybe_seen")).drop("maybe_seen"))
        fetched = pre.join(selected, "url", "inner")
    _t = _mark("fetch_bloom", _t)
    # parse once, checkpoint a SLIM projection (digest + outlinks, never the
    # raw html) — both the CDX emission and the discovery stage read it, so
    # the web table is scanned exactly once per generation.
    # the page payload NEVER crosses the JVM->Python boundary: the digest
    # is JVM expression arithmetic (sha1 + base32 bit algebra) and href
    # extraction is regexp_extract_all inside codegen; Python receives
    # only the slim href arrays for urljoin normalization.  Shipping raw
    # html through Arrow (the previous layout) was the loop's largest
    # DRAM mover — the binding resource on the bandwidth-capped 16-core
    # side (BENCH.md), and at 100 TB/generation scale pure waste.
    parsed = (fetched.select("urlkey", "url", "warc_ts", "generation",
                             "priority", *_parse_cols())
              .localCheckpoint(eager=False))
    _t = _mark("parsed_ckpt", _t)
    cdx = page_cdx(parsed)

    # discover: explode outlinks -> dedup RAW urls -> canonicalize -> dedup
    # urlkeys.  Nav-link duplication on the web is ~10x, so deduping the raw
    # strings first (pure JVM hash agg) cuts the python SURT kernel's input
    # by that factor; the second (cheap) agg merges the few raw spellings
    # that canonicalize to the same urlkey.
    cand = (parsed.select(F.col("priority").alias("parent_priority"),
                          F.explode("outlinks").alias("url"))
            .groupBy("url")
            .agg(F.max("parent_priority").alias("parent_priority"))
            .transform(_with_keys)
            .groupBy("urlkey")
            .agg(F.max("parent_priority").alias("parent_priority"),
                 F.min("url").alias("url"), F.min("host").alias("host")))
    if robots_rules is not None or robots is not None:
        cand = robots_gate(cand, robots, rules=robots_rules)
    _t = _mark("cand_robots_build", _t)

    # seen-set: candidates anti-join seen (the cuckoo pre-filter cuts the
    # probe volume; the exact join stays the source of truth)
    from .seen import anti_join_seen
    novel = anti_join_seen(cand, seen, "urlkey", bloom=bloom,
                           scratch=scratch)
    _t = _mark("anti_join_seen", _t)

    # no checkpoint: new_entries materializes once, inside the
    # next-frontier checkpoint job; run_crawl derives the seen delta by
    # filtering the checkpointed frontier on generation
    new_entries = novel.select(
        "urlkey", "url", "host",
        F.round(F.col("parent_priority") * cfg.priority_decay, 6).alias("priority"),
        F.lit(gen + 1).alias("generation"))
    # selected is bounded by global_batch — broadcast when small so the
    # (much larger) frontier never shuffles for this anti-join; same
    # size gate as the fetch join above
    sel_keys = selected.select("urlkey")
    leftover = frontier.join(
        F.broadcast(sel_keys) if small_batch else sel_keys,
        "urlkey", "left_anti")
    next_frontier = leftover.unionByName(new_entries)
    _t = _mark("leftover_union_build", _t)

    metrics = {
        "generation": gen,
        "_parsed": parsed,
        # checkpointed frames with no consumer after the next frontier
        # materializes — run_crawl frees their blocks with
        # util.free_checkpoint (plain unpersist() is a no-op on
        # localCheckpoint blocks; un-freed they accumulate across
        # generations and throughput degrades monotonically — measured
        # 2x over 3 repeats)
        "_scratch": scratch,
        "step_phases": _timers,
    }
    return next_frontier, cdx, metrics


# ------------------------------------------------------------ checkpoint --

def _gen_dir(root: str, gen: int) -> str:
    return os.path.join(root, f"gen={gen:05d}")


class _AsyncSave:
    """At-most-one-outstanding background checkpoint writer.

    Spark supports concurrent job submission from multiple driver
    threads, so the per-generation parquet writes (frontier, seen delta,
    cdx, manifest-last) overlap the next generation's compute instead of
    serializing after it.  ``join()`` re-raises any writer failure; the
    loop joins before starting the next write, before freeing any blocks
    the writer might still read (delta compaction), and before
    returning."""

    def __init__(self):
        self._t = None
        self._err = None

    def start(self, *args):
        import threading
        self.join()

        def run():
            try:
                save_state(*args)
            except BaseException as e:   # re-raised at join
                self._err = e

        self._t = threading.Thread(target=run, daemon=True)
        self._t.start()

    def join(self):
        if self._t is not None:
            self._t.join()
            self._t = None
        if self._err is not None:
            err, self._err = self._err, None
            raise err


def _part_files(path: str) -> list[dict]:
    """Per-partition lineage entry for one written parquet artifact:
    the part files with their byte sizes, straight off the filesystem
    (no Spark job)."""
    try:
        return sorted(
            ({"file": f, "bytes": os.path.getsize(os.path.join(path, f))}
             for f in os.listdir(path)
             if f.startswith("part-") and not f.endswith(".crc")),
            key=lambda e: e["file"])
    except OSError:
        return []


def save_state(root: str, gen: int, frontier: DataFrame, seen_delta: DataFrame,
               cdx: DataFrame, metrics: dict):
    """Per-generation snapshot.  ``seen`` is stored as a DELTA (this
    generation's new keys; gen 0 additionally carries the seed keys) — the
    seen set grows monotonically, so rewriting the whole set per generation
    would be O(total) I/O per generation at 10^10 scale.  Resume unions the
    deltas.

    The frontier is materialized as the north rule's priority queue:
    range-partitioned on DESCENDING priority (urlkey tiebreak) and sorted
    within partitions, so each parquet part file covers one priority
    range and carries min/max priority stats — a resumed scheduler that
    wants the top of the queue prunes whole files/row groups instead of
    scanning the frontier (and the hottest partition is the FIRST one,
    which a streaming consumer can take alone).  The manifest records
    per-partition lineage: every part file of every artifact with its
    size, the parent generation, the layout contract, and the
    generation's fetch/parse metrics (scheduled / novel / cdx_rows /
    wall_phases ride in ``metrics``)."""
    d = _gen_dir(root, gen)
    # partition count sized from the frontier (known for free from the
    # generation's observe() metric): ~5M rows per sorted partition at
    # scale, one file for the small frontiers of tests/sandbox runs
    n_rows = metrics.get("frontier_size")
    n_parts = (max(1, min(-(-n_rows // 5_000_000), 10_000))
               if n_rows is not None else None)
    srt = (F.desc("priority"), F.asc("urlkey"))
    fr_sorted = (frontier.repartitionByRange(n_parts, *srt) if n_parts
                 else frontier.repartitionByRange(*srt))
    (fr_sorted.sortWithinPartitions(*srt)
     .write.mode("overwrite").parquet(os.path.join(d, "frontier")))
    seen_delta.write.mode("overwrite").parquet(os.path.join(d, "seen"))
    cdx.write.mode("overwrite").parquet(os.path.join(d, "cdx"))
    manifest = dict(metrics)
    manifest["complete"] = True
    # format stamp: 'delta-v2' = per-generation seen DELTAS (union to
    # reassemble); absent = legacy full-snapshot-per-generation format
    manifest["seen_format"] = "delta-v2"
    manifest["lineage"] = {
        "parent_gen": gen - 1 if gen > 0 else None,
        "frontier_layout": list(_FRONTIER_LAYOUT),
        "partitions": {name: _part_files(os.path.join(d, name))
                       for name in ("frontier", "seen", "cdx")},
    }
    with open(os.path.join(d, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=2)


_FRONTIER_LAYOUT = ["priority DESC", "urlkey ASC"]


def _latest_complete(root: str):
    """Newest generation dir under ``root`` whose manifest says
    complete -> (gen, dir, manifest) or None.  The single source of the
    latest-checkpoint rule, shared by load_state and frontier_top."""
    if not os.path.isdir(root):
        return None
    for g in sorted((g for g in os.listdir(root) if g.startswith("gen=")),
                    reverse=True):
        mf = os.path.join(root, g, "manifest.json")
        if os.path.exists(mf):
            with open(mf) as fh:
                m = json.load(fh)
            if m.get("complete"):
                return int(g.split("=")[1]), os.path.join(root, g), m
    return None


def frontier_top(spark: SparkSession, root: str, n: int) -> DataFrame:
    """Top-``n`` of the persisted priority queue WITHOUT scanning the
    frontier — the operational "what crawls next" query.

    The sorted-partition layout (save_state) is what makes this O(n)
    instead of O(frontier): part files cover DISJOINT descending
    (priority DESC, urlkey ASC) ranges in file-index order, so reading
    files in order until ``n`` rows are accumulated is EXACT — every row
    with priority above the cutoff lives in the files already read, and
    ties at the cutoff sort into earlier files too (same priority ⇒
    smaller urlkey first, and urlkey is unique in the frontier).  Row
    counts come from parquet footers (no data read); at a 10^10-row
    frontier a top-10^5 probe touches one ~5M-row file instead of 2000.

    The manifest's declared ``frontier_layout`` gates the pruning:
    legacy checkpoints without lineage, or any future/foreign layout,
    fall back to a full scan + TakeOrdered instead of silently reading
    the wrong files."""
    import pyarrow.parquet as pq

    state = _latest_complete(root)
    if state is None:
        raise FileNotFoundError(f"no complete checkpoint under {root}")
    _gen, state_dir, m = state
    fdir = os.path.join(state_dir, "frontier")
    order = (F.desc("priority"), F.asc("urlkey"))
    lin = m.get("lineage") or {}
    parts = (lin.get("partitions") or {}).get("frontier")
    if not parts or lin.get("frontier_layout") != _FRONTIER_LAYOUT:
        # legacy checkpoint, or a layout this reader doesn't understand
        return spark.read.parquet(fdir).orderBy(*order).limit(n)
    subset, rows = [], 0
    for e in parts:   # lineage order == range-partition order
        path = os.path.join(fdir, e["file"])
        subset.append(path)
        rows += pq.ParquetFile(path).metadata.num_rows
        if rows >= n:
            break
    return spark.read.parquet(*subset).orderBy(*order).limit(n)


def _tombstones(root: str) -> list[tuple[int, str]]:
    """Persisted recrawl-expiry tombstones under ``root/expired/`` ->
    [(asof_gen, keys_parquet_path)] ascending by asof_gen.  A tombstone
    written when a resume started at generation ``s`` cancels seen /
    emitted keys recorded by generations < s; deltas from s onward (which
    contain any rediscoveries) are untouched — so a rediscovered-and-
    re-emitted URL stays seen across later resumes while a
    not-yet-rediscovered one stays expired, without re-passing
    expire_keys."""
    d = os.path.join(root, "expired")
    if not os.path.isdir(d):
        return []
    out = []
    for name in sorted(os.listdir(d)):
        mf = os.path.join(d, name, "manifest.json")
        if os.path.exists(mf):
            with open(mf) as fh:
                m = json.load(fh)
            if m.get("complete"):
                out.append((int(m["asof_gen"]),
                            os.path.join(d, name, "keys")))
    out.sort(key=lambda t: t[0])
    return out


def _write_tombstone(root: str, asof_gen: int, exp: DataFrame) -> None:
    """Persist a recrawl-expiry tombstone (keys parquet + manifest-last,
    same complete-marker discipline as generation checkpoints).  Multiple
    tombstones may share an asof_gen (re-expiry at the same resume
    point); the subtraction in load_state applies each independently."""
    base = os.path.join(root, "expired")
    os.makedirs(base, exist_ok=True)
    k = 0
    while os.path.exists(os.path.join(base, f"asof={asof_gen:05d}-{k:02d}")):
        k += 1
    d = os.path.join(base, f"asof={asof_gen:05d}-{k:02d}")
    exp.write.mode("overwrite").parquet(os.path.join(d, "keys"))
    with open(os.path.join(d, "manifest.json"), "w") as f:
        json.dump({"complete": True, "asof_gen": asof_gen}, f)


def _subtract_tombstones(spark: SparkSession, frames: list[tuple[int, DataFrame]],
                         tombs: list[tuple[int, str]],
                         key_col: str = "urlkey") -> DataFrame | None:
    """Union per-generation frames, anti-joining each generation with the
    tombstones NEWER than it (asof_gen > gen).  Frames sharing the same
    applicable-tombstone set are unioned first so the number of anti-joins
    is O(#tombstones), not O(#generations)."""
    if not frames:
        return None
    groups: dict[tuple, DataFrame] = {}
    for g, df in frames:
        key = tuple(p for a, p in tombs if a > g)
        groups[key] = df if key not in groups \
            else groups[key].unionByName(df)
    out = None
    for key, df in groups.items():
        if key:
            tomb = (spark.read.parquet(*key)
                    .select(key_col).distinct())
            df = df.join(tomb, key_col, "left_anti")
        out = df if out is None else out.unionByName(df)
    return out


def load_state(spark: SparkSession, root: str):
    """Latest complete checkpoint -> (gen, frontier, seen, metrics) or None.
    ``seen`` is reassembled as the union of the per-generation deltas up to
    and including the returned generation, minus any persisted recrawl
    tombstones (run_crawl(expire_keys=...) — see _tombstones) that
    postdate each delta."""
    state = _latest_complete(root)
    if state is None:
        return None
    gen, state_dir, m = state
    fr = spark.read.parquet(os.path.join(state_dir, "frontier"))
    # assemble the seen set newest-first, checking EACH generation's own
    # manifest: a delta-v2 gen contributes its delta and the walk
    # continues; a legacy gen stored the FULL set, superseding everything
    # before it — stop there.  (Deciding from only the latest manifest
    # would union legacy FULL snapshots as if they were deltas after a
    # resume that appended delta-v2 gens to a legacy dir, duplicating the
    # seen set ~gen-fold and inflating the filter sizing.)
    parts: list[tuple[int, str]] = []
    for i in range(gen, -1, -1):
        parts.append((i, os.path.join(_gen_dir(root, i), "seen")))
        mfi = os.path.join(_gen_dir(root, i), "manifest.json")
        fmt = None
        if os.path.exists(mfi):
            with open(mfi) as fh:
                fmt = json.load(fh).get("seen_format")
        if fmt != "delta-v2":
            break
    tombs = _tombstones(root)
    if not tombs:
        seen = spark.read.parquet(*[p for _, p in parts])
    else:
        seen = _subtract_tombstones(
            spark, [(i, spark.read.parquet(p)) for i, p in parts], tombs)
    return gen, fr, seen, m


def _seen_filter(seen: DataFrame, capacity: int):
    """The sharded cuckoo over the whole seen set, sized for ``capacity``
    keys (at most 16M keys, 64 MB of buckets, per shard; at least 16
    shards) and checkpointed.  Every (re)build in run_crawl goes through
    here."""
    from .seen import ShardedCuckoo, build_sharded_cuckoo
    f = build_sharded_cuckoo(seen, "urlkey",
                             max(16, -(-capacity // 16_000_000)), capacity)
    return ShardedCuckoo(f.df.localCheckpoint(eager=True), f.n_shards,
                         f.n_buckets)


def run_crawl(spark: SparkSession, pages: DataFrame, seeds: DataFrame,
              robots: DataFrame | None, cfg: CrawlConfig, generations: int,
              checkpoint_dir: str | None = None, resume: bool = False,
              host_budgets: DataFrame | None = None,
              expire_keys: DataFrame | None = None):
    """Run ``generations`` crawl steps; returns (frontier, seen, all_cdx,
    metrics list).  With ``resume``, continues from the last complete
    checkpoint and never re-emits a CDX row (idempotence via anti-join on
    already-emitted urlkeys per generation).  Every generation, fresh or
    resumed, runs crawl_step's one-heavy-job layout; a resumed one reads
    its frontier size off the last manifest, so it takes the same size
    gates a fresh generation would.

    ``expire_keys`` (resume path): recrawl scheduling — a (urlkey) frame
    of URLs whose revisit interval expired.  They leave the seen set and
    the emitted-keys guard, so rediscovering them re-enqueues and
    re-emits.  No filter outlives a call, so the seen filter, if one is
    engaged, is simply built over the post-expiry set — nothing beyond
    the expired keys is re-admitted.  The expiry is PERSISTED as a
    tombstone under ``checkpoint_dir/expired/`` (keys parquet + asof_gen
    manifest): later resumes subtract it from the seen/emitted
    reassembly for all generations that predate it, so a recrawl that
    wasn't rediscovered yet is not silently cancelled and expire_keys
    need not be re-passed.

    Scale bookkeeping (all O(delta) per generation, never O(total)):
    * the seen set is a UNION of per-generation checkpointed deltas — no
      generation rewrites or re-materializes the whole set;
    * the sharded cuckoo over it (from cfg.bloom_min_keys seen keys) is
      built once with 4x capacity headroom, then takes each generation's
      novel keys by one co-grouped insert job, driver memory O(1) in
      keys; it is rebuilt over the full set only when the count outgrows
      that headroom or a shard overflows (_seen_filter);
    * the seen-set cardinality that gates/sizes the filter is a running
      total from per-generation novel counts — no seen.count() jobs
      (one at resume);
    * per-generation metric counts are observe() metrics on the frontier
      job plus one count of the persisted parse blocks — nothing
      recomputes."""
    from .seen import ShardedCuckoo, is_cuckoo_overflow, sharded_cuckoo_insert

    start_gen = 0
    all_metrics: list[dict] = []
    emitted_keys = None
    seen_parts: list[DataFrame]
    frontier_size: int | None = None
    if resume and checkpoint_dir:
        state = load_state(spark, checkpoint_dir)
        if state is not None:
            last_gen, frontier, seen, last_manifest = state
            start_gen = last_gen + 1
            # the manifest records the resumed frontier's size, so a
            # resumed generation takes the same salt / top-k gates as a
            # fresh one; None (older manifests) keeps the salt phase,
            # which is exact either way
            frontier_size = last_manifest.get("frontier_size")
            # reassemble the emitted-CDX guard with the same persisted-
            # tombstone subtraction load_state applies to the seen set:
            # a tombstone at asof_gen s cancels emissions from gens < s
            # only (re-emissions from s onward stay guarded)
            tombs = _tombstones(checkpoint_dir)
            emitted_keys = _subtract_tombstones(
                spark,
                [(g, spark.read.parquet(
                    os.path.join(_gen_dir(checkpoint_dir, g), "cdx")))
                 for g in range(start_gen)],
                tombs)
            if expire_keys is not None:
                # recrawl expiry: the keys leave the seen set AND the
                # re-emission guard, so rediscovery re-enqueues them.
                # Persisted as a tombstone FIRST (manifest-last), so a
                # later resume without expire_keys keeps the expiry for
                # everything this run didn't rediscover.
                exp = expire_keys.select("urlkey").distinct()
                _write_tombstone(checkpoint_dir, start_gen, exp)
                seen = seen.join(exp, "urlkey", "left_anti")
                emitted_keys = emitted_keys.join(exp, "urlkey",
                                                 "left_anti")
    from pyspark.sql import Observation

    init_handle = None   # gen-0 seed-keys delta (lazy checkpoint of the
    #                      init frontier), tracked in seen_handles
    if start_gen == 0:
        obs0 = Observation()
        frontier = (init_frontier(seeds)
                    .observe(obs0, F.count(F.lit(1)).alias("n"))
                    .localCheckpoint(eager=True))
        frontier_size = int(obs0.get["n"])
        # compact lazy delta (see the seen-delta note below): the seed
        # keys materialize on first use, and the init frontier snapshot
        # is freed after generation 0 instead of being pinned by this
        # seen part until compaction
        seen = frontier.select("urlkey").localCheckpoint(eager=False)
        init_handle = seen
    seen_parts = [seen]
    # the persisted frames backing seen_parts (None for resume's parquet
    # read): each generation's lazy delta checkpoint, or the compacted
    # base — what compaction frees
    seen_handles: list = [init_handle]

    # fresh start: |seen| == |frontier| == the seed count we already
    # observed — no dedicated count() job
    seen_count = frontier_size if start_gen == 0 else seen.count()
    filt: ShardedCuckoo | None = None   # the seen filter, once engaged
    filt_cap = 0                        # the key count it is sized for

    cdx_parts = []
    saver = _AsyncSave()
    # the per-host robots rules aggregation is generation-invariant: build
    # the plan once (its regex-translation expression construction is
    # hundreds of driver py4j calls) and let each generation's broadcast
    # build re-run only the tiny agg job
    robots_rules_plan = (robots_rules_table(robots)
                         if robots is not None else None)
    # AQE re-plans every lazy localCheckpoint's toRdd one materialized
    # stage at a time — on a SHUFFLE-FREE (broadcast-fetch) generation
    # that driver-serial planning buys nothing: interleaved A/B measured
    # AQE-off at 1.25-1.94x (median 1.69x) on the 3-generation
    # broadcast-path loop, identical output, but 0.95x on the
    # shuffle-join 400k-batch generation (BENCH.md).  A resumed run
    # keeps AQE: it plans over parquet-read state (frontier, seen
    # deltas, the emitted-keys guard), and an interleaved A/B in one
    # JVM measured its generation 0.885x as long with AQE on (10 pairs,
    # 9 faster; BENCH.md "One crawl generation layout").  Both inputs
    # are fixed for the run, so this is one decision per run: set
    # before the first generation (no checkpoint write is in flight
    # yet, and every background write then plans under the same
    # setting) and restored at exit.
    aqe_key = "spark.sql.adaptive.enabled"
    aqe_orig = spark.conf.get(aqe_key, "true")
    if emitted_keys is None and cfg.global_batch <= BROADCAST_BATCH_MAX_ROWS:
        spark.conf.set(aqe_key, "false")
    try:
        for gen in range(start_gen, generations):
            if filt is None and seen_count >= cfg.bloom_min_keys:
                # the filter engages: build over the full set with
                # headroom so later generations only insert their deltas
                filt_cap = max(4 * seen_count, cfg.bloom_min_keys)
                filt = _seen_filter(seen, filt_cap)

            prev_frontier_handle = frontier   # current gen's persisted frontier
            prev_frontier_delta = seen_parts[-1]   # lazy delta reading its blocks
            _t0 = time.perf_counter()
            frontier, cdx, metrics = crawl_step(
                pages, frontier, seen, robots, cfg, gen, bloom=filt,
                frontier_size=frontier_size, host_budgets=host_budgets,
                robots_rules=robots_rules_plan)
            _t1 = time.perf_counter()   # plan construction (+ fetch-bloom job)
            scratch = metrics.pop("_scratch", [])
            parsed_handle = metrics.pop("_parsed")
            if emitted_keys is not None:
                cdx = cdx.join(emitted_keys.select("urlkey").distinct(),
                               "urlkey", "left_anti")
            # frontier feeds two consumers next generation (schedule + leftover
            # anti-join) through window shuffles — materialize it once; its
            # row count and the novel-discovery count ride along as free
            # observe() metrics.  This is the generation's ONLY heavy job:
            # selection, fetch, parse, discovery, filter check, exact
            # anti-join and union all materialize inside it.
            obs_f = Observation()
            frontier = (frontier.observe(
                obs_f, F.count(F.lit(1)).alias("n"),
                F.sum(F.when(F.col("generation") == gen + 1, 1)
                      .otherwise(0)).alias("novel"))
                .localCheckpoint(eager=True))
            vals = obs_f.get
            _t2 = time.perf_counter()   # the heavy frontier job
            frontier_size = int(vals["n"])
            metrics["frontier_size"] = frontier_size
            metrics["novel"] = int(vals["novel"] or 0)
            # the frontier job just materialized the lazy parsed checkpoint
            # in-line; counting its persisted blocks is a trivial job (no
            # recompute) — an observe() under the lazy checkpoint would
            # record nothing
            n_fetched = parsed_handle.count()
            metrics["scheduled"] = n_fetched    # == fetched by design
            metrics["cdx_rows"] = n_fetched
            if emitted_keys is not None:
                # resumed runs: the manifest's cdx_rows must count the
                # rows the checkpoint actually writes — AFTER the
                # emitted-keys anti-join — not the parsed-block count
                # (which overstates any generation that re-parsed
                # already-emitted URLs).  parsed is persisted by now, so
                # this is a projection + anti-join over it, resume-only.
                metrics["cdx_rows"] = cdx.count()
            # the seen delta: this generation's novel entries, read off
            # the frontier snapshot (they are exactly the generation==gen+1
            # rows), as a LAZY checkpoint — its first consumer (the next
            # generation's anti-join, or this generation's checkpoint
            # write / filter insert) materializes the compact key list
            # in-line, after which the seen chain reads these small blocks
            # instead of re-filtering every retained full-frontier snapshot
            # per generation (measured ~2x on the 3-generation loop), and
            # the superseded frontier snapshot is freed on schedule
            new_seen = (frontier.where(F.col("generation") == gen + 1)
                        .select("urlkey").localCheckpoint(eager=False))
            seen_parts.append(new_seen)
            seen_handles.append(new_seen)
            compact_old: list | None = None
            if len(seen_parts) >= SEEN_COMPACT_PARTS:
                # long crawls: compact the delta chain so per-part scan/task
                # overhead stays bounded — one O(total) pass amortized over
                # SEEN_COMPACT_PARTS generations; the superseded backing
                # frames are freed at the END of this generation
                base = _union_all(seen_parts).localCheckpoint(eager=True)
                compact_old = [h for h in seen_handles if h is not None]
                seen_parts, seen_handles = [base], [base]
            seen = _union_all(seen_parts)
            novel = metrics["novel"]
            seen_count += novel
            if filt is not None and novel:
                old_filt = filt
                try:
                    if seen_count > filt_cap:
                        # the delta would push the filter past its design
                        # load, and a cuckoo shard HARD-FAILS once its kick
                        # loop can't place a fingerprint: rebuild over the
                        # full set with fresh headroom instead
                        filt_cap = max(4 * seen_count, cfg.bloom_min_keys)
                        filt = _seen_filter(seen, filt_cap)
                    else:
                        # insert the delta keys into their shards (one
                        # co-grouped job)
                        f = sharded_cuckoo_insert(filt, new_seen, "urlkey")
                        filt = ShardedCuckoo(
                            f.df.localCheckpoint(eager=True), f.n_shards,
                            f.n_buckets)
                except Exception as e:
                    # the count guard sizes against filt_cap, but a shard
                    # overflows PER-SHARD: severe urlkey-hash skew can fill
                    # one while seen_count is still under cap.  Rebuild
                    # with ESCALATED headroom — doubling beyond the current
                    # cap, so the retry never repeats (byte-identically,
                    # hence deterministically) the build that just failed.
                    if not is_cuckoo_overflow(e):
                        raise
                    filt_cap = max(4 * seen_count, cfg.bloom_min_keys,
                                   2 * filt_cap)
                    filt = _seen_filter(seen, filt_cap)
                free_checkpoint(old_filt.df)
            # phase walls (driver clock): plan = crawl_step call (plus the
            # fetch-bloom job for big batches), job = the heavy job,
            # post = parsed count + seen/filter maintenance up to here
            metrics["wall_phases"] = {
                "plan": round(_t1 - _t0, 3), "job": round(_t2 - _t1, 3),
                "post": round(time.perf_counter() - _t2, 3)}
            cdx_parts.append(cdx)
            all_metrics.append(metrics)
            if checkpoint_dir:
                # gen 0's delta also carries the seed keys so the union of
                # deltas reconstructs the full seen set on resume.  The write
                # runs in the background (at most one outstanding) and
                # overlaps the next generation's compute; everything it reads
                # (frontier ckpt, delta, parsed-backed cdx) survives this
                # generation's frees, and the compaction branch joins first.
                delta = (seen_parts[0].unionByName(new_seen) if gen == 0
                         else new_seen)
                saver.start(checkpoint_dir, gen, frontier, delta, cdx, metrics)
            # ---- free superseded checkpoint blocks (last: everything that
            # still reads them — frontier ckpt, filter insert, save_state —
            # has materialized).
            for df in scratch:
                free_checkpoint(df)
            # the seen delta derived from the previous frontier snapshot is
            # a LAZY checkpoint; normally some job this generation already
            # materialized it (the anti-join scans the seen union), but a
            # path that skipped it — e.g. AQE collapsing an empty
            # candidate leg — would otherwise leave live lineage into the
            # blocks we are about to free
            if any(h is prev_frontier_delta for h in seen_handles):
                if checkpoint_dir and gen == 0:
                    # gen 0's in-flight background write unions this same
                    # lazy seed-keys delta: a writer job planned against
                    # the not-yet-materialized checkpoint can still be
                    # computing from the init frontier's lineage when its
                    # blocks are unpersisted, and lost localCheckpoint
                    # blocks are unrecoverable (the crash would surface
                    # at the next saver.join).  Wait for the write first;
                    # only gen 0 pays the serialization.
                    saver.join()
                ensure_checkpointed(prev_frontier_delta)
            free_checkpoint(prev_frontier_handle)
            if compact_old is not None:
                # the in-flight checkpoint write may still read this
                # generation's delta, which compaction is about to free
                saver.join()
                for h in compact_old:
                    free_checkpoint(h)
        if filt is not None:
            # nothing returned reads the filter table (its last consumer,
            # the final generation's anti-join, is inside the
            # materialized frontier)
            free_checkpoint(filt.df)
    finally:
        # join the background writer on EVERY exit: a mid-loop failure
        # must not leak a still-running checkpoint write (an immediate
        # resume retry could race it on the same gen directory) or
        # swallow an error the writer captured.  If both the loop and
        # the writer failed, the writer's error propagates with the
        # loop's attached as __context__.  The AQE restore runs last —
        # the session outlives the loop and other queries expect the
        # original setting — and never while a write is in flight.
        try:
            saver.join()
        finally:
            spark.conf.set(aqe_key, aqe_orig)
    all_cdx = _union_all(cdx_parts) if cdx_parts else None
    return frontier, seen, all_cdx, all_metrics
