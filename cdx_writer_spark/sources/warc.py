"""WARC/ARC → ``warc_records`` DataFrame source.

Spark-first shape (SURVEY.md §2.1 S1/S2): one task per file — WARC gzip
members are not splittable mid-file, the same unit of parallelism the
reference used: one process per WARC.  The driver expands the paths and
broadcasts the list; a JVM ``spark.range`` with one slice per file hands
each task the index of its file, so the read is a single Python stage
(a Python-side path RDD would start a second Python worker in every
task).  An Arrow ``mapInPandas`` stage opens each file on its
executor and STREAMS records out of it with the incremental kernel
``kernels.warcrec.stream_archive_records``: O(record) memory per task
and bounded Arrow batches, so multi-GB archives (the reference's
large-WARC layer, its tests/test_large_warcs.py:7-27) never hit the
2 GiB single-cell Arrow limit or O(file) executor heap that a
``binaryFile``-based scan pays.

The resulting envelope schema is FIXTURES.md §1.  Non-UTF-8-safe byte
fields (``url_raw``, ``payload``, ``content_type``) are ``binary`` so they
survive parquet round-trips losslessly.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

__all__ = ["WARC_RECORDS_SCHEMA", "read_warc_records", "records_to_rows"]

# batch flush thresholds for the record stream: whichever trips first.
# 256 rows of MB-scale html ≈ low hundreds of MB worst case; the byte cap
# keeps pathological payload mixes bounded well below executor heap.
_BATCH_ROWS = 256
_BATCH_BYTES = 64 << 20

WARC_RECORDS_SCHEMA = T.StructType([
    T.StructField("filename", T.StringType()),
    T.StructField("record_idx", T.IntegerType()),
    T.StructField("offset", T.LongType()),
    T.StructField("compressed_size", T.LongType()),
    T.StructField("record_type", T.StringType()),
    T.StructField("url_raw", T.BinaryType()),
    T.StructField("date_raw", T.StringType()),
    T.StructField("content_type", T.BinaryType()),
    T.StructField("content_length_hdr", T.LongType()),
    T.StructField("payload", T.BinaryType()),
    T.StructField("payload_digest", T.StringType()),
    T.StructField("sfps", T.StringType()),          # WARC-Simple-Form-Province-Status
])


def records_to_rows(records) -> list[dict]:
    """kernels.warcrec.Record -> plain dicts matching WARC_RECORDS_SCHEMA."""
    rows = []
    for r in records:
        rows.append({
            "filename": r.filename,
            "record_idx": r.record_idx,
            "offset": r.offset,
            "compressed_size": r.compressed_size,
            "record_type": r.record_type,
            "url_raw": r.url,
            "date_raw": r.date_raw,
            "content_type": r.content_type,
            "content_length_hdr": r.content_length_hdr,
            "payload": r.payload,
            "payload_digest": r.get_header("WARC-Payload-Digest"),
            "sfps": r.get_header("WARC-Simple-Form-Province-Status"),
        })
    return rows


def _expand_paths(path: str | list[str]) -> list[str]:
    """Driver-side path expansion: directories list their files, globs
    expand; remote URIs (``s3://``, ``hdfs://``) pass through untouched
    (the executor opens them with pyarrow.fs)."""
    import glob as globmod
    out: list[str] = []
    for p in ([path] if isinstance(path, str) else list(path)):
        bare = p[len("file:"):] if p.startswith("file:") else p
        if "://" in p and not p.startswith("file:"):
            out.append(p)
        elif os.path.isdir(bare):
            out.extend(sorted(
                os.path.join(bare, f) for f in os.listdir(bare)
                if os.path.isfile(os.path.join(bare, f))))
        elif any(ch in bare for ch in "*?["):
            out.extend(sorted(globmod.glob(bare)))
        else:
            out.append(bare)
    return out


def _open_stream(p: str):
    """Executor-side open: local paths via open(); URIs via pyarrow.fs
    (carries HDFS/S3 credentials config the same way Hadoop's FS would)."""
    if "://" in p and not p.startswith("file:"):
        from pyarrow import fs as pafs
        fsys, rel = pafs.FileSystem.from_uri(p)
        return fsys.open_input_stream(rel)
    bare = p[len("file:"):] if p.startswith("file:") else p
    return open(bare, "rb")


def read_warc_records(spark: SparkSession, path: str | list[str],
                      use_full_path: bool = False,
                      strict: bool = False) -> DataFrame:
    """Scan archive file(s) into the warc_records envelope, streaming each
    file from executor-local reads in bounded Arrow batches.

    ``use_full_path`` mirrors the reference's --use-full-path: keep the whole
    path in ``filename`` instead of the basename (cdx_writer.py:75-80).
    ``strict`` mirrors the reference's hard ParseError on malformed input
    (cdx_writer.py:702-705): the task fails instead of skipping."""
    files = _expand_paths(path)
    if not files:
        return spark.createDataFrame([], WARC_RECORDS_SCHEMA)
    # exactly one file per task: a JVM range with one slice per path
    # gives each task the single id it looks its file up by (a hash
    # repartition on a path column can collide, putting 2+ archives in
    # one task).  The list rides as a broadcast, so each task's command
    # stays O(1) in the file count; a parallelized Python list would
    # cost every task an extra Python worker just to unpickle its path.
    ids = spark.range(0, len(files), 1, len(files))
    paths = spark.sparkContext.broadcast(files)

    def split_files(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # import inside the task so executors resolve the shipped package
        from cdx_writer_spark.kernels.warcrec import stream_archive_records
        cols = [f.name for f in WARC_RECORDS_SCHEMA.fields]
        empty = True
        for pdf in batches:
            for i in pdf["id"]:
                p = paths.value[i]
                bare = p[len("file:"):] if p.startswith("file:") else p
                name = bare if use_full_path else os.path.basename(bare)
                rows: list[dict] = []
                nbytes = 0
                with _open_stream(p) as f:
                    for rec in stream_archive_records(f, name,
                                                      strict=strict):
                        rows.extend(records_to_rows([rec]))
                        nbytes += len(rec.payload or b"")
                        if len(rows) >= _BATCH_ROWS or nbytes >= _BATCH_BYTES:
                            empty = False
                            yield pd.DataFrame(rows, columns=cols)
                            rows, nbytes = [], 0
                if rows:
                    empty = False
                    yield pd.DataFrame(rows, columns=cols)
        if empty:
            yield pd.DataFrame({c: [] for c in cols})

    return ids.mapInPandas(split_files, WARC_RECORDS_SCHEMA)
