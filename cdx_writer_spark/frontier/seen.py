"""URL-seen set: the exact anti-join, plus one sidecar filter at scale.

Design for 10^10 keys (north_rule):

* the *source of truth* is an exact LEFT ANTI join on the url key;
* at or above ``CrawlConfig.bloom_min_keys`` seen keys a sharded cuckoo
  filter (:class:`ShardedCuckoo`) *pre-filters* candidates to cut the
  join's probe volume — it never decides membership (a hit still goes
  through the exact join; a miss is definitely novel and skips it).

The filter splits the key space into ``n_shards`` by key hash; each
shard's (n_buckets, 4) uint16 bucket array (16-bit fingerprints, ~2
B/key at the design load) lives in a ROW of a (shard, buckets)
DataFrame.  Build fills each shard in its own ``applyInPandas`` task,
the per-generation novel keys are inserted by co-grouping them with
their shard's row, and candidates are probed the same way: the driver
never holds a bucket array, so its memory is O(1) in the key count.
Keys leave the seen set (recrawl expiry) by a rebuild over what
remains, never by a cuckoo delete, which can also evict a colliding
key.  A shard whose kick loop cannot place a fingerprint raises
:class:`CuckooOverflow`; the caller recognises it with
:func:`is_cuckoo_overflow` through Spark's error wrapping and rebuilds
with more headroom.

The driver-global bloom (:func:`build_bloom`, :func:`bloom_prefilter`)
is not a seen-set filter: crawl_step's big-batch fetch join uses it
over the selected batch's urls so the web side shuffles ~|batch| rows.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

__all__ = ["bloom_params", "build_bloom", "bloom_prefilter", "anti_join_seen",
           "CUCKOO_OVERFLOW", "CuckooOverflow", "is_cuckoo_overflow",
           "cuckoo_params", "ShardedCuckoo", "build_sharded_cuckoo",
           "sharded_cuckoo_insert", "sharded_cuckoo_prefilter"]


def bloom_params(capacity: int, fpp: float = 0.01) -> tuple[int, int]:
    """(m_bits, k_hashes) for a target capacity/false-positive rate."""
    m = max(64, int(-capacity * math.log(fpp) / (math.log(2) ** 2)))
    m = (m + 63) // 64 * 64
    k = max(1, round(m / max(capacity, 1) * math.log(2)))
    return m, min(k, 8)


def build_bloom(df: DataFrame, key: str, capacity: int,
                fpp: float = 0.01) -> tuple[bytes, int, int]:
    """Distributed bloom build: per-partition numpy bitmaps, OR-reduced.
    Returns (bitmap bytes, m_bits, k_hashes)."""
    m, k = bloom_params(capacity, fpp)
    hashed = df.select(
        F.xxhash64(F.col(key), F.lit(1)).alias("h1"),
        F.xxhash64(F.col(key), F.lit(2)).bitwiseOR(F.lit(1)).alias("h2"))

    n_words = m // 64

    def to_bitmap(batches):
        bits = np.zeros(n_words, dtype=np.uint64)
        for pdf in batches:
            h1 = pdf["h1"].to_numpy(dtype=np.uint64)
            h2 = pdf["h2"].to_numpy(dtype=np.uint64)
            for i in range(k):
                pos = (h1 + np.uint64(i) * h2) % np.uint64(m)
                np.bitwise_or.at(bits, (pos >> np.uint64(6)).astype(np.int64),
                                 np.uint64(1) << (pos & np.uint64(63)))
        yield pd.DataFrame({"bitmap": [bits.tobytes()]})

    schema = T.StructType([T.StructField("bitmap", T.BinaryType())])
    parts = hashed.mapInPandas(to_bitmap, schema).collect()
    acc = np.zeros(n_words, dtype=np.uint64)
    for row in parts:
        acc |= np.frombuffer(row["bitmap"], dtype=np.uint64)
    return acc.tobytes(), m, k


def bloom_prefilter(candidates: DataFrame, key: str, bitmap: bytes,
                    m: int, k: int) -> DataFrame:
    """Adds ``maybe_seen``: False ⇒ definitely absent from the filtered
    set, True ⇒ must be resolved by an exact join.  ``bitmap`` is
    broadcast here, once per call."""
    bc = candidates.sparkSession.sparkContext.broadcast(bitmap)

    @F.pandas_udf(T.BooleanType())
    def might_contain(h1: pd.Series, h2: pd.Series) -> pd.Series:
        bits = np.frombuffer(bc.value, dtype=np.uint64)
        a = h1.to_numpy(dtype=np.uint64)
        b = h2.to_numpy(dtype=np.uint64)
        res = np.ones(len(a), dtype=bool)
        for i in range(k):
            pos = (a + np.uint64(i) * b) % np.uint64(m)
            word = bits[(pos >> np.uint64(6)).astype(np.int64)]
            res &= (word >> (pos & np.uint64(63))) & np.uint64(1) != 0
        return pd.Series(res)

    return candidates.withColumn(
        "maybe_seen",
        might_contain(F.xxhash64(F.col(key), F.lit(1)),
                      F.xxhash64(F.col(key), F.lit(2)).bitwiseOR(F.lit(1))))


def anti_join_seen(candidates: DataFrame, seen: DataFrame, key: str = "urlkey",
                   bloom: ShardedCuckoo | None = None,
                   materialize: bool = True,
                   scratch: list | None = None) -> DataFrame:
    """candidates − seen.  With a :class:`ShardedCuckoo` sidecar, only the
    maybe-seen slice pays the join shuffle; the definite-novel slice is
    unioned back.

    ``materialize``: the flagged frame feeds TWO consumers (the novel
    slice and the maybe slice); without materializing it once, everything
    upstream of the filter — typically the candidate pipeline with its
    canonicalization UDF and dedup shuffles — executes twice (measured
    7x slower on the crawl's discover stage).  The flagged rows are
    candidate-batch-sized, so the checkpoint is cheap.  It is a LAZY
    checkpoint: the first job that touches the frame materializes+persists
    it in-line, and later consumers (including the second union branch
    of the SAME job) read the persisted blocks — compute-once without a
    job barrier of its own.

    ``scratch``: optional list; the materialized flagged frame is
    appended so the caller can free it (util.free_checkpoint — plain
    ``unpersist()`` is a no-op on localCheckpoint blocks) once its
    consumers are materialized; a many-generation crawl that never
    frees them degrades monotonically as the block store fills."""
    if bloom is None:
        return candidates.join(seen.select(key), key, "left_anti")
    flagged = sharded_cuckoo_prefilter(candidates, key, bloom)
    if materialize:
        flagged = flagged.localCheckpoint(eager=False)
        if scratch is not None:
            scratch.append(flagged)
    novel = flagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
    maybe = flagged.filter(F.col("maybe_seen")).drop("maybe_seen")
    resolved = maybe.join(seen.select(key), key, "left_anti")
    return novel.unionByName(resolved)


# ----------------------------------------------------------- cuckoo ----

CUCKOO_SLOTS = 4
_CUCKOO_C = np.uint64(0x5bd1e995)          # odd constant: b2 = b1 ^ (fp*C)
CUCKOO_OVERFLOW = "cuckoo filter over capacity"


class CuckooOverflow(ValueError):
    """A shard's kick loop could not place a fingerprint.  Raised in a
    Python worker, so the driver sees it inside Spark's own exception,
    whose text carries :data:`CUCKOO_OVERFLOW` — test with
    :func:`is_cuckoo_overflow`, not by type."""

    def __init__(self):
        super().__init__(CUCKOO_OVERFLOW)


def is_cuckoo_overflow(err: BaseException) -> bool:
    """True when ``err`` (raw or wrapped by Spark) is a shard overflow."""
    return CUCKOO_OVERFLOW in str(err)


def cuckoo_params(capacity: int, load: float = 0.5) -> int:
    """Power-of-two bucket count for a target capacity at a safe load."""
    need = max(int(capacity / (CUCKOO_SLOTS * load)), 8)
    n = 1
    while n < need:
        n <<= 1
    return n


def _cuckoo_fp_bucket(h1: np.ndarray, h2: np.ndarray, n_buckets: int):
    fp = (h1 % np.uint64(65535)).astype(np.uint16) + np.uint16(1)  # != 0
    b1 = (h2 & np.uint64(n_buckets - 1)).astype(np.int64)
    return fp, b1


def _cuckoo_alt(b: np.ndarray | int, fp, n_buckets: int):
    return (np.int64(b) ^ ((np.uint64(fp) * _CUCKOO_C)
                           & np.uint64(n_buckets - 1)).astype(np.int64))


def _cuckoo_bulk_insert(buckets: np.ndarray, fp: np.ndarray,
                        b1: np.ndarray, n_buckets: int) -> None:
    """Vectorized batch insert: two batched passes fill empty slots in
    each key's home then alternate bucket (grouping same-bucket keys with
    a sort so every key claims a DISTINCT empty slot); only the residue
    that found both buckets full takes the per-key kick loop — a small
    tail at the design load factor.  Raises :class:`CuckooOverflow` when
    a key cannot be placed."""
    fp = np.asarray(fp, dtype=np.uint16)
    b = np.asarray(b1, dtype=np.int64)
    for _pass in range(2):
        if fp.size == 0:
            return
        order = np.argsort(b, kind="stable")
        bs, fs = b[order], fp[order]
        first = np.ones(bs.size, dtype=bool)
        first[1:] = bs[1:] != bs[:-1]
        run_start = np.maximum.accumulate(
            np.where(first, np.arange(bs.size), 0))
        runpos = np.arange(bs.size) - run_start   # rank within its bucket
        # rows stay left-packed (nothing is ever deleted), so a key's
        # slot is its bucket's fill count plus its rank
        slot = (buckets[bs] != 0).sum(axis=1) + runpos
        ok = slot < CUCKOO_SLOTS
        buckets[bs[ok], slot[ok]] = fs[ok]
        bs, fs = bs[~ok], fs[~ok]
        b, fp = _cuckoo_alt(bs, fs, n_buckets), fs
    for i in range(fp.size):
        if not _cuckoo_insert_one(buckets, int(b[i]), int(fp[i]),
                                  n_buckets):
            raise CuckooOverflow()


def _cuckoo_insert_one(buckets: np.ndarray, b: int, fp: int,
                       n_buckets: int, max_kicks: int = 500) -> bool:
    cur_b, cur_fp = int(b), int(fp)
    for attempt in range(max_kicks):
        row = buckets[cur_b]
        empty = np.flatnonzero(row == 0)
        if empty.size:
            row[empty[0]] = cur_fp
            return True
        alt = int(_cuckoo_alt(cur_b, cur_fp, n_buckets))
        row2 = buckets[alt]
        empty2 = np.flatnonzero(row2 == 0)
        if empty2.size:
            row2[empty2[0]] = cur_fp
            return True
        # deterministic kick (no RNG: determinism contract)
        s = (cur_fp + attempt) % CUCKOO_SLOTS
        victim = int(row2[s])
        row2[s] = cur_fp
        cur_b, cur_fp = int(_cuckoo_alt(alt, victim, n_buckets)), victim
    return False


@dataclass
class ShardedCuckoo:
    """Partial-key cuckoo filter as a distributed table (north_rule names
    "bloom/cuckoo"): the key space is split into ``n_shards`` by key
    hash, each shard's (n_buckets, 4) uint16 bucket array living in a
    ROW of a (shard int, buckets binary) DataFrame.  Build fills each
    shard in its own ``applyInPandas`` task (no driver merge — keys are
    hash-partitioned to their shard); per-generation delta keys are
    inserted by co-grouping them with their shard's row; candidates are
    probed the same way.  Driver memory is O(1) in the key count."""
    df: DataFrame
    n_shards: int
    n_buckets: int       # per shard


def _shard_col(key: str, n_shards: int):
    return F.pmod(F.xxhash64(F.col(key), F.lit(0)), F.lit(n_shards)).cast("int")


def _cuckoo_hash_cols(key: str):
    return (F.xxhash64(F.col(key), F.lit(1)).alias("_h1"),
            F.xxhash64(F.col(key), F.lit(2)).alias("_h2"))


def build_sharded_cuckoo(df: DataFrame, key: str, n_shards: int,
                         capacity: int) -> ShardedCuckoo:
    """Build the (shard, buckets) table; ``capacity`` is TOTAL keys
    (each shard is sized for capacity/n_shards at the design load)."""
    n_buckets = cuckoo_params(max(capacity // n_shards, 256))
    hashed = df.select(_shard_col(key, n_shards).alias("shard"),
                       *_cuckoo_hash_cols(key))

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        buckets = np.zeros((n_buckets, CUCKOO_SLOTS), dtype=np.uint16)
        fp, b1 = _cuckoo_fp_bucket(pdf["_h1"].to_numpy(dtype=np.uint64),
                                   pdf["_h2"].to_numpy(dtype=np.uint64),
                                   n_buckets)
        _cuckoo_bulk_insert(buckets, fp, b1, n_buckets)
        return pd.DataFrame({"shard": [int(pdf["shard"].iloc[0])],
                             "buckets": [buckets.tobytes()]})

    bdf = hashed.groupBy("shard").applyInPandas(
        build, "shard int, buckets binary")
    return ShardedCuckoo(bdf, n_shards, n_buckets)


def sharded_cuckoo_insert(filt: ShardedCuckoo, keys: DataFrame,
                          key: str = "urlkey") -> ShardedCuckoo:
    """New filter table with ``keys`` (the crawl's per-generation novel
    keys) inserted into their shards; shards with no keys pass through
    untouched.  One co-grouped shuffle of the (small) key delta — the
    bucket table itself moves only between its own shuffle files, never
    to the driver."""
    n_buckets = filt.n_buckets
    hashed = keys.select(_shard_col(key, filt.n_shards).alias("shard"),
                         *_cuckoo_hash_cols(key))

    def fn(kpdf: pd.DataFrame, bpdf: pd.DataFrame) -> pd.DataFrame:
        if kpdf.empty:
            return bpdf[["shard", "buckets"]]
        if bpdf.empty:
            buckets = np.zeros((n_buckets, CUCKOO_SLOTS), dtype=np.uint16)
        else:
            buckets = (np.frombuffer(bytes(bpdf["buckets"].iloc[0]),
                                     dtype=np.uint16)
                       .reshape(n_buckets, CUCKOO_SLOTS).copy())
        fp, b1 = _cuckoo_fp_bucket(kpdf["_h1"].to_numpy(dtype=np.uint64),
                                   kpdf["_h2"].to_numpy(dtype=np.uint64),
                                   n_buckets)
        _cuckoo_bulk_insert(buckets, fp, b1, n_buckets)
        return pd.DataFrame({"shard": [int(kpdf["shard"].iloc[0])],
                             "buckets": [buckets.tobytes()]})

    out = (hashed.groupBy("shard").cogroup(filt.df.groupBy("shard"))
           .applyInPandas(fn, "shard int, buckets binary"))
    return ShardedCuckoo(out, filt.n_shards, n_buckets)


def sharded_cuckoo_prefilter(candidates: DataFrame, key: str,
                             filt: ShardedCuckoo) -> DataFrame:
    """Adds ``maybe_seen`` (False ⇒ definitely novel): candidates
    hash-partition on shard (the same shuffle the exact anti-join would
    pay anyway, but carrying only candidate rows), each task probes one
    shard's bucket array; a shard with no row holds no keys."""
    n_buckets = filt.n_buckets
    cand = candidates.select(
        "*", _shard_col(key, filt.n_shards).alias("_shard"),
        *_cuckoo_hash_cols(key))
    out_fields = [f"`{c}` {t}" for c, t in candidates.dtypes]
    out_schema = ", ".join(out_fields + ["maybe_seen boolean"])
    out_cols = [c for c, _ in candidates.dtypes]

    def check(cpdf: pd.DataFrame, bpdf: pd.DataFrame) -> pd.DataFrame:
        if cpdf.empty:
            return pd.DataFrame(columns=out_cols + ["maybe_seen"])
        out = cpdf[out_cols].copy()
        if bpdf.empty:
            out["maybe_seen"] = False
            return out
        buckets = (np.frombuffer(bytes(bpdf["buckets"].iloc[0]),
                                 dtype=np.uint16)
                   .reshape(n_buckets, CUCKOO_SLOTS))
        fp, b1 = _cuckoo_fp_bucket(cpdf["_h1"].to_numpy(dtype=np.uint64),
                                   cpdf["_h2"].to_numpy(dtype=np.uint64),
                                   n_buckets)
        b2 = _cuckoo_alt(b1, fp, n_buckets)
        out["maybe_seen"] = ((buckets[b1] == fp[:, None]).any(axis=1)
                             | (buckets[b2] == fp[:, None]).any(axis=1))
        return out

    return (cand.groupBy("_shard")
            .cogroup(filt.df.groupBy("shard"))
            .applyInPandas(check, out_schema))
