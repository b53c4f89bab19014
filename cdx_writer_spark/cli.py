"""CLI entry point mirroring the reference's option surface
(cdx_writer.py:716-755): ``python -m cdx_writer_spark.cli [options]
warc.gz [output.cdx]`` — but executed as a Spark job over any number of
archive files (``spark-submit --py-files cdx_writer_spark.zip`` on a
cluster).
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import Observation, SparkSession, functions as F

from .util import restore_conf


def main(argv=None):
    p = argparse.ArgumentParser(
        usage="%(prog)s [options] warc.gz [output_file.cdx]")
    p.add_argument("inputs", nargs="+",
                   help="archive file(s)/glob [+ optional output path last]")
    p.add_argument("--format", default="N b a m s k r M S V g",
                   help="space-separated list of fields [default: %(default)s]")
    p.add_argument("--use-full-path", action="store_true",
                   help="use the full warc path in the 'g' field")
    p.add_argument("--file-prefix", default=None,
                   help="path prefix for the warc name in the 'g' field")
    p.add_argument("--all-records", action="store_true",
                   help="index all record types, not just http responses")
    p.add_argument("--screenshot-mode", action="store_true",
                   help="index screenshot WARCs: keep only metadata "
                        "records and prefix urls with the screenshot "
                        "namespace (reference cdx_writer.py:733)")
    p.add_argument("--exclude-list", default=None,
                   help="file of url prefixes to exclude")
    p.add_argument("--stats-file", default=None,
                   help="write json stats (processed/included/filtered)")
    p.add_argument("--sort", action="store_true",
                   help="globally sort output by (urlkey, date)")
    p.add_argument("--strict", action="store_true",
                   help="abort on malformed/truncated records (reference "
                        "ParseError parity) instead of skipping them")
    p.add_argument("--cores", type=int, default=None)
    args = p.parse_args(argv)

    out_path = None
    inputs = args.inputs
    if len(inputs) > 1 and not inputs[-1].endswith(
            (".warc", ".arc", ".warc.gz", ".arc.gz")):
        out_path, inputs = inputs[-1], inputs[:-1]

    from .kernels.fields import CDX_DEFAULT_FORMAT  # noqa: F401  (parity)
    from .kernels.pipeline import load_excludes
    from .operators.cdx import FIELD_COLUMNS
    from .session import get_spark

    for f in args.format.split():
        if f not in FIELD_COLUMNS:
            raise SystemExit(f"Unknown field: {f}")

    excludes = None
    if args.exclude_list:
        with open(args.exclude_list) as fh:
            excludes = load_excludes(fh.read())

    # get_spark re-applies its settings to a caller's live session, and
    # the Arrow batch size below is this job's alone: a library caller
    # (tests, benchmarks) gets its runtime conf back however the call ends
    caller = SparkSession.getActiveSession()
    before = dict(caller.conf.getAll) if caller is not None else None
    spark = get_spark(app_name="cdx-writer", cores=args.cores)
    if before is None:
        before = dict(spark.conf.getAll)
    spark.sparkContext.setLogLevel("ERROR")
    # WARC payload rows are MB-scale (up to 5 MB html is still parsed,
    # cdx_writer.py:71-73): cap Arrow batches well below the session
    # default, which is tuned for KB-scale page rows.
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
    try:
        _index(spark, args, inputs, out_path, excludes)
    finally:
        restore_conf(spark, before)


def _index(spark, args, inputs, out_path, excludes) -> None:
    """Build the index job for ``main``'s parsed options and run it."""
    from .operators.cdx import cdx_fields, cdx_lines
    from .sources.warc import read_warc_records

    records = read_warc_records(spark, inputs,
                                use_full_path=args.use_full_path,
                                strict=args.strict)
    # stats parity with the reference (cdx_writer.py:659,674):
    # `processed` counts EVERY record read (before the type filter),
    # `filtered` counts exclude hits, `included` counts emitted lines.
    # Both counters ride as observe() metrics on the one job that writes
    # the output — no extra pass over the archives.
    obs_all = Observation()
    records = records.observe(obs_all, F.count(F.lit(1)).alias("n"))
    fields = cdx_fields(records, all_records=args.all_records,
                        screenshot_mode=args.screenshot_mode,
                        excludes=excludes, keep_excluded_flag=True)
    if args.file_prefix:
        fields = fields.withColumn(
            "warc_name", F.concat(F.lit(args.file_prefix.rstrip("/") + "/"),
                                  F.col("warc_name")))
    obs_kept = Observation()
    fields = fields.observe(
        obs_kept, F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("excluded"), 1).otherwise(0)).alias("excl"))
    kept = fields.filter(~F.col("excluded"))
    lines = cdx_lines(kept, fmt=args.format, sort=args.sort)

    header = " CDX " + args.format
    if out_path:
        (lines.select("cdx_line")
         .write.mode("overwrite").text(out_path))
        print(header, file=sys.stderr)
    elif args.stats_file:
        # observe() metrics only materialize when a full action completes;
        # toLocalIterator keeps the query open and would hang obs.get, so
        # write to a scratch dir (one pass, fires the observations) and
        # stream the part files to stdout in partition order
        import glob as globmod
        import shutil
        import tempfile
        tmp = tempfile.mkdtemp(prefix="cdx_out_")
        try:
            lines.select("cdx_line").write.mode("overwrite").text(tmp)
            print(header)
            for part in sorted(globmod.glob(f"{tmp}/part-*")):
                with open(part) as fh:
                    shutil.copyfileobj(fh, sys.stdout)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    else:
        print(header)
        for r in lines.toLocalIterator():
            print(r["cdx_line"])

    if args.stats_file:
        n_excl = int(obs_kept.get["excl"])
        stats = {
            "num_records_processed": int(obs_all.get["n"]),
            "num_records_included": int(obs_kept.get["n"]) - n_excl,
            "num_records_filtered": n_excl,
        }
        with open(args.stats_file, "w") as fh:
            json.dump(stats, fh, indent=4)


if __name__ == "__main__":
    main()
