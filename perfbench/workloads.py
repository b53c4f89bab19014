"""The three workloads: seeded inputs, the timed entry call, the output
check, and the traced per-layer decomposition.

* ``index_records`` — a ``warc_records`` parquet envelope through
  ``operators.cdx.cdx_fields`` -> ``cdx_lines`` -> text write.
* ``index_warc`` — ``cli.main`` over gzipped WARC files with
  ``--exclude-list`` and ``--stats-file`` (no ``--sort``).
* ``crawl`` — ``frontier.crawl.run_crawl`` for ``GENERATIONS`` generations
  with checkpoints, then one more generation with ``resume=True``.

A traced repetition times each layer from outside by materializing
successive prefixes of the pipeline; a layer's time is the difference
between the prefix that ends with it and the one before.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from . import inputs, oracle
from .harness import isolated_conf
from .tracing import materialize_plan, python_time_s

__all__ = ["WORKLOADS", "Rep"]


@dataclass
class Rep:
    """One repetition of a workload's entry call."""
    wall_s: float = 0.0
    problems: list[str] = field(default_factory=list)
    extra: dict = field(default_factory=dict)


def _dir_mb(path: str) -> float:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs) / 1e6


class _Workload:
    name = ""
    # untimed repetitions before the timed ones.  The first pays Python
    # worker start-up and plan codegen (3x a warm repetition); the second
    # still runs 15-25 % slow while the JIT compiles.
    warmups = 2
    # timed repetitions per run, at least.  Repetitions keep getting a
    # little faster through a run, so a run reports the median of the
    # same repetition numbers whatever the host's speed: on a normal host
    # this count, not --seconds, ends the run.
    min_reps = 4

    def __init__(self, env, seed: int, scale: float = 1.0):
        self.env = env
        self.seed = seed
        self.scale = scale
        self.dir = os.path.join(env.work, self.name)
        os.makedirs(self.dir, exist_ok=True)
        self.records = 0     # input records one repetition reads
        self.urls = 0        # URLs one repetition delivers
        self.digest = ""

    def urls_of(self, rep: Rep) -> int:
        return self.urls

    def summary(self, reps: list[Rep]) -> dict:
        """Workload-specific figures for the printed summary."""
        return {}

    def _n(self, n: int) -> int:
        return max(8, int(n * self.scale))

    def _fresh(self, tag: str) -> str:
        p = os.path.join(self.dir, "out", tag)
        shutil.rmtree(p, ignore_errors=True)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def run(self, spark, tag: str) -> Rep:
        """Timed entry call, then (untimed) the full-output check."""
        out = self._fresh(tag)
        t0 = time.perf_counter()
        extra = self._entry(spark, out) or {}
        rep = Rep(wall_s=time.perf_counter() - t0, extra=extra)
        rep.problems = self._check(out)
        shutil.rmtree(out, ignore_errors=True)
        return rep


# ------------------------------------------------------- index_records ----

class IndexRecords(_Workload):
    name = "index_records"
    FILES, PER_FILE, BIG = 4, 1500, 3

    def prepare(self, spark) -> None:
        self.path = os.path.join(self.dir, "envelope")
        inputs.write_envelope(self.path, self.seed, self.FILES,
                              self._n(self.PER_FILE), self.BIG)
        self.digest = inputs.file_digest([self.path])
        files = oracle.records_from_envelope(self.path)
        self.want, self.stats = oracle.index_oracle(files)
        self.records = self.stats["num_records_processed"]
        self.urls = self.stats["num_records_included"]

    def _read(self, spark):
        return spark.read.parquet(self.path)

    def _entry(self, spark, out):
        from cdx_writer_spark.operators.cdx import cdx_fields, cdx_lines
        cdx_lines(cdx_fields(self._read(spark))).write.text(out)

    def _check(self, out):
        return oracle.check_lines(oracle.read_lines(out), self.want)

    def traced(self, spark, tr, tag: str) -> tuple[Rep, dict]:
        from cdx_writer_spark.operators.cdx import cdx_fields
        with tr.span("rep", workload=self.name):
            with tr.span("prefix:io.scan") as s_scan:
                materialize_plan(self._read(spark))
            with tr.span("prefix:operators.cdx.fields") as s_f:
                plan = materialize_plan(cdx_fields(self._read(spark)))
                s_f["python_s"] = python_time_s(plan)
            with tr.span("full:operators.cdx.lines_write") as s_full:
                rep = self.run(spark, tag)
        scan, f, full = (s_scan["seconds"], s_f["seconds"], rep.wall_s)
        return rep, {
            "io.scan_s": scan,
            "operators.cdx.fields_s": f - scan,
            "operators.cdx.python_s": s_f["python_s"],
            "operators.cdx.lines_write_s": full - f,
            "_layers": [scan, f - scan, full - f],
            "_full": s_full,
        }


# --------------------------------------------------------- index_warc ----

class IndexWarc(_Workload):
    name = "index_warc"
    FILES, PER_FILE, BIG, PREFIXES = 4, 800, 2, 3000
    # cli.main's own session setting for WARC payload rows (cli.py); the
    # traced prefixes before the CLI runs run under it too
    CLI_CONF = {"spark.sql.execution.arrow.maxRecordsPerBatch": "64"}

    def prepare(self, spark) -> None:
        from cdx_writer_spark.kernels.pipeline import load_excludes
        from cdx_writer_spark.kernels.warcrec import read_archive
        d = os.path.join(self.dir, "warcs")
        os.makedirs(d, exist_ok=True)
        self.files, files, hit_urls = [], {}, []
        for fi in range(self.FILES):
            name = "bench-%d-%02d.warc.gz" % (self.seed, fi)
            recs = inputs.archive_records(
                self.seed, self._n(self.PER_FILE),
                self.BIG if fi == 0 else 0, file_tag=f"warc{fi}")
            hit_urls += [r.url for r in recs if r.record_type == "response"
                         and r.url.startswith(b"http")]
            path = os.path.join(d, name)
            inputs.write_warc_gz(path, recs)
            self.files.append(path)
        self.exclude = os.path.join(self.dir, "exclude.txt")
        inputs.write_exclude_list(self.exclude, self.seed, self.PREFIXES,
                                  hit_urls)
        self.digest = inputs.file_digest(self.files + [self.exclude])
        with open(self.exclude) as fh:
            self.excludes = load_excludes(fh.read())
        for p in self.files:
            name = os.path.basename(p)
            files[name] = read_archive(p, filename=name)
        self.want, self.stats = oracle.index_oracle(files, self.excludes)
        self.records = self.stats["num_records_processed"]
        self.urls = self.stats["num_records_included"]
        self.mb_in = sum(os.path.getsize(p) for p in self.files) / 1e6

    def _entry(self, spark, out, exclude: bool = True):
        from cdx_writer_spark import cli
        self.stats_path = out + ".stats.json"
        args = ["--exclude-list", self.exclude] if exclude else []
        with isolated_conf(spark):
            cli.main([*args, "--stats-file", self.stats_path,
                      "--cores", str(self.env.cores), *self.files, out])

    def _check(self, out, want=None):
        lines, stats = want or (self.want, self.stats)
        probs = oracle.check_lines(oracle.read_lines(out), lines)
        probs += oracle.check_stats(self.stats_path, stats)
        os.remove(self.stats_path)
        return probs

    def traced(self, spark, tr, tag: str) -> tuple[Rep, dict]:
        """Prefixes: archive read; read + ``cdx_fields``; the CLI without
        the exclude list; the CLI with it.  The exclude probe is the
        difference of the two CLI runs (with list - without), so both
        go through the same entry point and plan shape."""
        from cdx_writer_spark.kernels.warcrec import read_archive
        from cdx_writer_spark.operators.cdx import cdx_fields
        from cdx_writer_spark.sources.warc import read_warc_records

        if not hasattr(self, "want_all"):
            self.want_all = oracle.index_oracle(
                {os.path.basename(p): read_archive(
                    p, filename=os.path.basename(p)) for p in self.files})

        def read():
            return read_warc_records(spark, self.files)

        with tr.span("rep", workload=self.name):
            with isolated_conf(spark):
                for k, v in self.CLI_CONF.items():
                    spark.conf.set(k, v)
                with tr.span("prefix:sources.warc.read") as s_r:
                    materialize_plan(read())
                with tr.span("prefix:operators.cdx.fields") as s_f:
                    plan = materialize_plan(
                        cdx_fields(read(), keep_excluded_flag=True))
                    s_f["python_s"] = python_time_s(plan)
            with tr.span("prefix:cli.no_exclude") as s_c0:
                out = self._fresh(tag + "-all")
                self._entry(spark, out, exclude=False)
                s_c0["problems"] = self._check(out, self.want_all)
                shutil.rmtree(out, ignore_errors=True)
            with tr.span("full:cli") as s_full:
                rep = self.run(spark, tag)
        rep.problems += s_c0["problems"]
        r, f = s_r["seconds"], s_f["seconds"]
        c0, full = s_c0["seconds"], rep.wall_s
        hits = self.stats["num_records_filtered"]
        return rep, {
            "sources.warc.read_s": r,
            "sources.warc.records": self.records,
            "sources.warc.mb_in": self.mb_in,
            "operators.cdx.fields_s": f - r,
            "operators.cdx.python_s": s_f["python_s"],
            "operators.exclude.probe_s": full - c0,
            "operators.exclude.prefixes": len(self.excludes),
            "operators.exclude.hits": hits,
            "operators.exclude.hit_ratio": hits / max(1, hits + self.urls),
            # the CLI's stage after cdx_fields is cdx_lines plus the text
            # write (and its stats), so both metrics are this difference
            "operators.cdx.lines_write_s": c0 - f,
            "cli.write_s": c0 - f,
            "_layers": [r, f - r, c0 - f, full - c0],
            "_full": s_full,
        }


# -------------------------------------------------------------- crawl ----

class Crawl(_Workload):
    name = "crawl"
    # 6-10 s a repetition, bound by Spark job and planning latency rather
    # than data (ten times the pages take the same time).  A run of two
    # warm-ups and two timed repetitions takes 50-72 s, which keeps an
    # evaluation (4 + 22 runs per workload in 3420 s) inside its limit
    # on a slow host too
    min_reps = 2
    PAGES, SEEDS, HOSTS, GENERATIONS = 4000, 200, 400, 1
    BATCH, BUDGET = 1000, 64

    def cfg(self):
        from cdx_writer_spark.frontier.crawl import CrawlConfig
        return CrawlConfig(per_host_budget=self.BUDGET,
                           global_batch=self._n(self.BATCH))

    def prepare(self, spark) -> None:
        self.inputs = inputs.write_crawl_inputs(
            spark, os.path.join(self.dir, "web"), self.seed,
            self._n(self.PAGES), self._n(self.SEEDS), self.HOSTS)
        self.want = oracle.crawl_oracle(self.env.root, self.inputs,
                                        self.cfg(), self.GENERATIONS + 1)
        self.digest = inputs.table_digest(
            [self.inputs[k] for k in ("pages", "seeds", "robots")])
        self.records = len(self.want["cdx"])

    def urls_of(self, rep: Rep) -> int:
        return rep.extra["scheduled"] + rep.extra["novel"]

    def summary(self, reps: list[Rep]) -> dict:
        return {"gen_p50_s": statistics.median(
                    statistics.median(r.extra["gen_walls"]) for r in reps),
                "resume_s": statistics.median(r.extra["resume_s"]
                                              for r in reps)}

    def _frames(self, spark):
        return [spark.read.parquet(self.inputs[k])
                for k in ("pages", "seeds", "robots")]

    def _entry(self, spark, ckpt, tr=None):
        from contextlib import nullcontext

        from cdx_writer_spark.frontier.crawl import run_crawl
        pages, seeds, robots = self._frames(spark)
        t0 = time.perf_counter()
        span = tr.span if tr is not None else (lambda *_: nullcontext({}))
        with isolated_conf(spark):
            with span("frontier.crawl") as s_c:
                *_, m1 = run_crawl(spark, pages, seeds, robots, self.cfg(),
                                   self.GENERATIONS, checkpoint_dir=ckpt)
            t1 = time.perf_counter()
            with span("frontier.crawl.resume"):
                *_, m2 = run_crawl(spark, pages, seeds, robots, self.cfg(),
                                   self.GENERATIONS + 1,
                                   checkpoint_dir=ckpt, resume=True)
            resume_s = time.perf_counter() - t1
        gens = m1 + m2
        return {"resume_s": resume_s,
                "call_s": time.perf_counter() - t0,
                "gen_walls": [sum(m["wall_phases"].values()) for m in gens],
                "phases": {k: sum(m["wall_phases"][k] for m in gens)
                           for k in ("plan", "job", "post")},
                "scheduled": sum(m["scheduled"] for m in gens),
                "novel": sum(m["novel"] for m in gens),
                "frontier_rows": gens[-1]["frontier_size"],
                "crawl_jobs": s_c.get("jobs")}

    def _check(self, ckpt):
        self.got = oracle.read_crawl(ckpt)
        return oracle.check_crawl(self.got, self.want)

    def run(self, spark, tag: str, tr=None) -> Rep:
        ckpt = self._fresh(tag)
        t0 = time.perf_counter()
        extra = self._entry(spark, ckpt, tr)
        rep = Rep(wall_s=time.perf_counter() - t0, extra=extra)
        rep.problems = self._check(ckpt)
        rep.extra["checkpoint_mb"] = _dir_mb(ckpt)
        if tr is None:
            shutil.rmtree(ckpt, ignore_errors=True)
        self.ckpt = ckpt      # a traced repetition reads it back once more
        return rep

    def traced(self, spark, tr, tag: str) -> tuple[Rep, dict]:
        from cdx_writer_spark.frontier.crawl import load_state
        with tr.span("rep", workload=self.name):
            with tr.span("prefix:io.scan") as s_scan:
                materialize_plan(self._frames(spark)[0])
            with tr.span("full:crawl") as s_full:
                rep = self.run(spark, tag, tr)
            with tr.span("frontier.crawl.load_state") as s_l:
                _g, fr, seen, _m = load_state(spark, self.ckpt)
                materialize_plan(fr)
                materialize_plan(seen)
        shutil.rmtree(self.ckpt, ignore_errors=True)
        e = rep.extra
        ph = e["phases"]
        return rep, {
            "io.scan_s": s_scan["seconds"],
            "frontier.crawl.plan_s": ph["plan"],
            "frontier.crawl.job_s": ph["job"],
            "frontier.crawl.post_s": ph["post"],
            # outside the generations' own phase clocks: initial frontier,
            # state reload on resume, the last checkpoint write's join
            "frontier.crawl.other_s": e["call_s"] - sum(ph.values()),
            "frontier.crawl.jobs_per_gen": e["crawl_jobs"] / self.GENERATIONS,
            "frontier.crawl.scheduled": e["scheduled"],
            "frontier.crawl.novel": e["novel"],
            "frontier.crawl.novel_ratio": e["novel"] / max(1, e["scheduled"]),
            "frontier.crawl.frontier_rows": e["frontier_rows"],
            "frontier.crawl.gen_p50_s": statistics.median(e["gen_walls"]),
            "frontier.crawl.resume_s": e["resume_s"],
            "frontier.crawl.checkpoint_mb": e["checkpoint_mb"],
            "frontier.crawl.load_state_s": s_l["seconds"],
            "frontier.seen.keys": len(self.got["seen"]),
            # the program's own phase clocks, independent of the call's
            "_layers": list(ph.values()),
            "_clocked": True,
            "_full": s_full,
        }


WORKLOADS = {w.name: w for w in (IndexRecords, IndexWarc, Crawl)}
