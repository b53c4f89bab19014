"""Scale-safe exclude-list filtering (F3, reference cdx_writer.py:625-633).

The reference checks each urlkey against every exclude prefix in a
per-record loop — fine for its 10^2-10^4-line lists.  Against a full
archive banlist (10^6+ prefixes, the clean_the_banlist.py use case) any
all-pairs shape — including Spark's broadcast nested-loop join — is
O(records x prefixes) compute, a scale-killer.  This module gives the
O((records + prefixes) log) alternative promised in SURVEY.md §2.3:

1. make the prefix list PREFIX-FREE (operators/banlist.py — a shorter
   ban subsumes every longer one), which guarantees that for any urlkey
   ``u`` the largest prefix ``p <= u`` in lexicographic order is THE
   only candidate match: every list element in ``(p, u]`` would have to
   start with ``p`` and so cannot coexist with it in a prefix-free set;
2. range-partition the union of urlkeys and prefixes on ONE shared set
   of bounds (tagged rows through a single repartitionByRange), sort
   within partitions with prefixes before identical urlkeys, and decide
   every record in one forward merge scan per partition — vectorized
   over runs of records sharing the same governing prefix;
3. fix the partition boundary exactly like banlist.py: the driver sees
   ONE string per partition (its last prefix), from which each
   partition's carry-in prefix follows sequentially.

Cost at scale: one range shuffle of the records (the only data-sized
move — there is no join, no per-prefix work per record), a shuffle of
the prefixes riding along, and partition-count metadata at the driver.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

__all__ = ["prefix_exclude_flag", "prefix_exclude_anti", "driver_prober",
           "PrefixProber"]

_K, _TAG = "_xk", "_is_prefix"

# Prefix-free lists up to this many entries are broadcast as ONE sorted
# array and probed per record with a vectorized binary search — the
# records side then never shuffles at all (the 10^10-record x 10^6-prefix
# archive-banlist shape: optimization guide §2.4 "remove shuffles
# outright" / §3.2 "reduce the big side before shuffling").  Above it
# (prefix lists too big to broadcast) the range-partitioned ordered
# merge below remains the scale path.  ~25 B/prefix -> ~250 MB at the
# cap, comparable to a routine broadcast-join build side.
BROADCAST_MAX_PREFIXES = 10_000_000
# byte bound on the same decision: the optimizer's sizeInBytes estimate
# of the prefix frame (the signal Spark's own broadcast planning uses),
# else the frame's measured bytes.  1 GiB comfortably covers 10^6-10^7
# short prefixes and is far below what a 10^9-row banlist measures.
BROADCAST_MAX_PREFIX_EST_BYTES = 1 << 30
# fixed-width kernels (driver prefix-free matrices, the probe's padded
# key matrix) cost rows x MAX length; a single long outlier line would
# blow that up quadratically vs the data size, so entries beyond this
# length route the whole list to the merge path instead (SURT prefixes
# are URL-sized, far below it)
MAX_FAST_PREFIX_LEN = 512


def _ascii_below_del(arr) -> bool:
    """True iff every byte of every string in the Arrow array is < 0x7f
    (memory-speed scan of the raw UTF-8 buffer, ~1 ms / 5 MB)."""
    data = arr.buffers()[2]
    if data is None or len(data) == 0:
        return True
    return int(np.frombuffer(data, dtype=np.uint8).max()) < 0x7F


def _startswith_batch(keys: np.ndarray, gov: np.ndarray) -> np.ndarray:
    """Per-row ``keys[i].startswith(gov[i])`` (gov entries may be null).

    Fast path (pyarrow C kernels, measured 1.2-1.7x the zip loop at
    200k-row batches, any prefix density): because ``gov`` is the
    forward-fill of the sorted merge, ``gov <= key`` always holds, so
    ``key.startswith(gov)  <=>  key < gov + '\\x7f'`` — PROVIDED every
    code unit is below 0x7f.  SURT urlkeys are lowercase-ASCII by
    construction, so the raw-buffer guard almost never trips; when it
    does (exotic prefix lists), the exact per-row loop decides the
    whole batch.  (Run-grouping with a vectorized startswith per run
    was also measured: slower than the zip loop even at 11 runs/200k
    rows — pandas per-run slicing overhead dominates.)"""
    import pyarrow.compute as pc
    ka = pa.array(keys, type=pa.string(), from_pandas=True)
    ga = pa.array(gov, type=pa.string(), from_pandas=True)
    if _ascii_below_del(ka) and _ascii_below_del(ga):
        hi = pc.binary_join_element_wise(ga, "\x7f", "")
        # the ge arm is implied by the ffill invariant (gov <= key) but
        # keeps the kernel correct for arbitrary inputs at ~no cost
        flag = pc.and_kleene(pc.greater_equal(ka, ga), pc.less(ka, hi))
        return pc.fill_null(flag, False).to_numpy(zero_copy_only=False)
    return np.array([isinstance(p, str) and k.startswith(p)
                     for k, p in zip(keys, gov)], dtype=bool)


def _build_payload(raw) -> tuple:
    """Driver-side prefix-free reduction of a raw (dup-laden) prefix
    Series -> the broadcast payload, fully vectorized on the ASCII path:

    1. ascii-encode to a fixed-width bytes matrix and memcmp-sort;
    2. prefix-free via the interval trick: entry ``a[i]`` is subsumed
       iff some earlier entry ``p`` has ``p <= a[i] < p+'\\x7f'``, and
       because subsumed intervals NEST (``s`` startswith ``p`` implies
       ``s+'\\x7f' < p+'\\x7f'`` for sub-DEL data), the test collapses
       to one cumulative max over the per-entry upper bounds — no
       sequential Python scan (measured ~1s at 850k prefixes);
    3. the kept rows and their bounds ship as raw buffers.

    Non-ASCII / NUL / DEL lists (never SURT data) take the exact
    object-path: Python sort + last-kept scan, shipped as str objects.

    Memory guard: every matrix here (and the probe's padded key matrix)
    is rows x MAX length, so one multi-KB outlier line in an otherwise
    short list would inflate the cost quadratically vs its data size —
    width above MAX_FAST_PREFIX_LEN or a matrix beyond ~256 MB returns
    None and the caller takes the range-partitioned merge, whose cost is
    bounded by sum(len)."""
    vals = raw.dropna()
    try:
        arr = vals.to_numpy().astype("S")      # ascii; raises otherwise
        n = len(arr)
        if n == 0:
            return ("bytes", b"", "|S1", b"", "|S1", 0)
        L = arr.dtype.itemsize
        if L + 1 > MAX_FAST_PREFIX_LEN or n * (L + 1) > 256 * 1024 * 1024:
            return None
        M = np.ascontiguousarray(np.sort(arr)).view(np.uint8).reshape(n, L)
        if M.max() >= 0x7F:                    # DEL breaks the hi-bound
            raise UnicodeEncodeError("ascii", "", 0, 1, "del byte")
        # keys/prefixes carry no interior NULs (ascii strings), so the
        # per-row length is the nonzero count and the exclusive upper
        # bound is the row with '\x7f' appended at its length
        lens = (M != 0).sum(axis=1)
        if int(lens.sum()) != int(vals.str.len().sum()):
            # an interior NUL byte (legal in a Python str, ascii-encodable)
            # would corrupt both the length derivation and padded order
            raise UnicodeEncodeError("ascii", "", 0, 1, "interior NUL")
        H = np.zeros((n, L + 1), dtype=np.uint8)
        H[:, :L] = M
        H[np.arange(n), lens] = 0x7F
        hi_all = H.view(f"S{L + 1}").ravel()
        a_all = M.view(f"S{L}").ravel()
        # lexicographic running max by doubling (np.maximum has no bytes
        # loop, but elementwise comparison does): log2(n) vectorized
        # passes
        cummax = hi_all.copy()
        shift = 1
        while shift < n:
            tail, head = cummax[shift:], cummax[:-shift]
            cummax[shift:] = np.where(tail >= head, tail, head)
            shift *= 2
        kept = np.ones(n, dtype=bool)
        # compare against the bound cummax of STRICTLY EARLIER rows
        kept[1:] = ~(a_all[1:].astype(hi_all.dtype) < cummax[:-1])
        arr_b = np.ascontiguousarray(a_all[kept])
        hi_b = np.ascontiguousarray(hi_all[kept])
        return ("bytes", arr_b.tobytes(), arr_b.dtype.str,
                hi_b.tobytes(), hi_b.dtype.str, int(kept.sum()))
    except (UnicodeEncodeError, SystemError):
        plist: list[str] = []
        last = None
        for u in sorted(vals):
            if last is None or not u.startswith(last):
                plist.append(u)
                last = u
        return ("obj", plist)


class PrefixProber:
    """``key.startswith(p)`` for any ``p`` of a prefix-free list (built
    from a ``_build_payload`` payload), decided per batch of keys.

    Prefix-freeness makes the largest prefix <= key the ONLY candidate
    match (the merge path's lemma), so one vectorized ``np.searchsorted``
    per batch decides every key: memcmp over fixed-width bytes when the
    data is pure ASCII, an exact object-array search otherwise.  The
    bytes form holds the sorted list and its exclusive upper bounds
    ``p + '\\x7f'`` as NumPy byte arrays, so a broadcast prober unpickles
    as a memcpy (the same list as 10^6 str objects measured tens of
    seconds of first-task unpickling across the worker pool)."""

    def __init__(self, payload: tuple):
        if payload[0] == "bytes":
            _, ab, adt, hb, hdt, _n = payload
            self.pfx_b = np.frombuffer(ab, dtype=adt)
            self.pfx_hi = np.frombuffer(hb, dtype=hdt)
            self.pfx_obj = None
        else:
            self.pfx_b = self.pfx_hi = None
            self.pfx_obj = np.array(payload[1], dtype=object)

    def __len__(self) -> int:
        return len(self.pfx_obj if self.pfx_b is None else self.pfx_b)

    def __call__(self, keys) -> np.ndarray:
        """Boolean flag per key of an Arrow string array (or a sequence
        of str); null keys are never excluded."""
        if not isinstance(keys, pa.Array):
            keys = pa.array(keys, type=pa.string())
        if not len(self) or not len(keys):
            return np.zeros(len(keys), dtype=bool)
        flag = self._flags_fast(keys)
        return flag if flag is not None else self._flags_exact(keys)

    def _flags_exact(self, karr) -> np.ndarray:
        """Object-array path: exact for any data (non-ASCII, NUL/DEL)."""
        if self.pfx_obj is None:
            self.pfx_obj = np.array([b.decode("ascii") for b in self.pfx_b],
                                    dtype=object)
        po = self.pfx_obj
        keys = karr.to_numpy(zero_copy_only=False)
        flag = np.zeros(len(keys), dtype=bool)
        mask = ~pd.isna(keys)
        if mask.any():
            ks = keys[mask]
            idx = np.searchsorted(po, ks, side="right") - 1
            gov = np.where(idx >= 0, po[np.clip(idx, 0, None)], None)
            flag[mask] = _startswith_batch(ks, gov)
        return flag

    def _flags_fast(self, karr) -> "np.ndarray | None":
        """memcpy path: the key column's raw UTF-8 buffer is padded into
        ONE fixed-width byte matrix (no per-row objects), then
        searchsorted + one vectorized compare against the hi-bounds
        decide every row.  Returns None when a guard trips (nulls,
        non-string offsets, any byte >= 0x7f)."""
        if self.pfx_b is None or karr.null_count:
            return None
        width = self.pfx_hi.dtype.itemsize     # <= MAX_FAST_PREFIX_LEN
        if pa.types.is_string(karr.type):
            off_dt = np.int32
        elif pa.types.is_large_string(karr.type):
            off_dt = np.int64
        else:
            return None
        bufs = karr.buffers()
        off = np.frombuffer(bufs[1], dtype=off_dt)[
            karr.offset: karr.offset + len(karr) + 1]
        data = np.frombuffer(bufs[2], dtype=np.uint8)
        seg = data[off[0]: off[-1]]
        if len(seg) and int(seg.max()) >= 0x7F:
            return None
        lens = np.diff(off)
        cl = np.minimum(lens, width)    # truncation-safe: a fixed-width
        # compare against entries of length <= width-1 is decided within
        # the first width bytes (hi ends in \x7f, keys are sub-DEL)
        out = np.zeros((len(karr), width), dtype=np.uint8)
        pos = off[:-1, None] + np.arange(width)[None, :]
        m = np.arange(width)[None, :] < cl[:, None]
        out[m] = data[pos[m]]
        ks_b = out.view(f"S{width}").ravel()
        idx = np.searchsorted(self.pfx_b, ks_b, side="right") - 1
        safe = np.clip(idx, 0, None)
        return (idx >= 0) & (ks_b < self.pfx_hi[safe])


def _size_estimate(df: DataFrame) -> int | None:
    """The optimizer's sizeInBytes estimate of ``df`` (free — no job)."""
    try:
        return int(df._jdf.queryExecution()      # noqa: SLF001
                   .optimizedPlan().stats().sizeInBytes())
    except Exception:   # py4j surfaces any planner failure as its own type
        return None


def driver_prober(prefixes: list[str] | DataFrame) -> PrefixProber | None:
    """The exclude list made prefix-free on the driver, as a prober to
    broadcast — or None when it belongs on the range merge: more than
    BROADCAST_MAX_PREFIXES rows or BROADCAST_MAX_PREFIX_EST_BYTES bytes,
    or entries ``_build_payload`` rejects.

    A frame's RAW rows come over in one Arrow transfer, duplicates and
    all (a distinct() measured 3-4s of extra shuffle at 860k rows; the
    reduction collapses them anyway).  A frame whose optimizer size
    ESTIMATE is within the byte bound passes with no job; otherwise (no
    estimate, or one above the bound — any RDD-backed frame reports
    Long.MaxValue) ONE aggregate job measures its rows and bytes."""
    if isinstance(prefixes, DataFrame):
        pcol = prefixes.columns[0]
        est = _size_estimate(prefixes)
        if est is None or est > BROADCAST_MAX_PREFIX_EST_BYTES:
            n, nbytes = prefixes.agg(
                F.count(F.lit(1)),
                F.coalesce(F.sum(F.octet_length(pcol)), F.lit(0))).first()
            if (n > BROADCAST_MAX_PREFIXES
                    or nbytes > BROADCAST_MAX_PREFIX_EST_BYTES):
                return None
        # the limit BOUNDS the collect even when the estimate lied low: at
        # cap+1 rows we learn "too big" without pulling the whole frame
        raw = (prefixes.select(pcol).limit(BROADCAST_MAX_PREFIXES + 1)
               .toPandas()[pcol])
    else:
        raw = pd.Series(prefixes, dtype=object)
    if len(raw) > BROADCAST_MAX_PREFIXES:
        return None
    payload = _build_payload(raw)
    return None if payload is None else PrefixProber(payload)


def prefix_exclude_flag(records: DataFrame, prefixes: DataFrame,
                        key: str = "urlkey", flag_col: str = "excluded",
                        scratch: list | None = None) -> DataFrame:
    """Adds boolean ``flag_col``: True iff ``key`` starts with any prefix.

    ``prefixes`` is a one-column DataFrame (column ``prefix``).  Exact for
    arbitrary lists (subsumed prefixes are collapsed internally).

    ``scratch``: optional list — the checkpoint backing the merge is
    appended so loop-style callers can free its blocks with
    util.free_checkpoint once the result materializes; batch callers may
    ignore it (the blocks are bounded by the input and die with the
    session)."""
    # lists that fit the driver: the prober is broadcast once and runs
    # per record batch in mapInArrow — the records side stays where it
    # was scanned: no range shuffle, checkpoint or carry metadata pass
    prober = driver_prober(prefixes)
    if prober is None:
        return _prefix_flag_merge(records, prefixes, key, flag_col, scratch)
    bc = records.sparkSession.sparkContext.broadcast(prober)
    cols = records.columns
    schema_df = records.withColumn(flag_col, F.lit(False))
    out_schema = ", ".join(f"`{c}` {t}" for c, t in schema_df.dtypes)
    key_i = cols.index(key)

    def probe(batches):
        flags = bc.value
        for batch in batches:
            flag = flags(batch.column(key_i))
            yield pa.RecordBatch.from_arrays(
                list(batch.columns) + [pa.array(flag, type=pa.bool_())],
                names=cols + [flag_col])

    return records.mapInArrow(probe, out_schema)


def _prefix_flag_merge(records: DataFrame, prefixes: DataFrame, key: str,
                       flag_col: str, scratch: list | None) -> DataFrame:
    """Range-partitioned ordered merge engine (module docstring)."""
    from .banlist import prefix_free
    spark = records.sparkSession
    pf = prefix_free(prefixes.withColumnRenamed(prefixes.columns[0], "url"))

    cols = records.columns
    tagged_r = records.withColumn(_K, F.col(key)).withColumn(
        _TAG, F.lit(False))
    tagged_p = pf.select(F.col("url").alias(_K), F.lit(True).alias(_TAG))
    u = tagged_r.unionByName(tagged_p, allowMissingColumns=True)

    # one shared range partitioning for both sides; within a partition
    # prefixes sort BEFORE an identical urlkey (a prefix equal to the key
    # matches it), giving the merge scan its invariant: when a record row
    # is reached, the last prefix row seen is the largest prefix <= key.
    # Lazy checkpoint: the per-partition-last-prefix collect below is the
    # first consumer and materializes it — no extra job barrier; the
    # merge scan then reads the persisted blocks.
    ranged = (u.repartitionByRange(F.col(_K))
              .sortWithinPartitions(F.asc(_K), F.desc(_TAG))
              .localCheckpoint(eager=False))

    # partition-count metadata only: each partition's last (max) prefix
    lasts = {r["pid"]: r["last_p"] for r in
             (ranged.groupBy(F.spark_partition_id().alias("pid"))
              .agg(F.max(F.when(F.col(_TAG), F.col(_K))).alias("last_p"))
              .collect())}
    carry_in: dict[int, str] = {}
    carry = None
    for pid in sorted(lasts):
        if carry is not None:
            carry_in[pid] = carry
        if lasts[pid] is not None:
            carry = lasts[pid]
    bc = spark.sparkContext.broadcast(carry_in)

    schema_df = records.withColumn(flag_col, F.lit(False))
    out_schema = ", ".join(f"`{c}` {t}" for c, t in schema_df.dtypes)

    def scan(batches):
        from pyspark import TaskContext
        last = bc.value.get(TaskContext.get().partitionId())
        for pdf in batches:
            keys = pdf[_K]
            is_p = pdf[_TAG]
            # governing prefix per row = forward-fill of prefix rows over
            # the sorted batch, seeded with the carry-in
            gov = keys.where(is_p).reindex(pdf.index).ffill()
            if last is not None:
                gov = gov.fillna(last)
            if is_p.any():
                last_here = keys[is_p].iloc[-1]
                last = last_here
            rec = pdf[~is_p]
            if rec.empty:
                continue
            g = gov[~is_p]
            out = rec[cols].copy()
            out[flag_col] = _startswith_batch(rec[_K].to_numpy(),
                                              g.to_numpy())
            yield out

    if scratch is not None:
        scratch.append(ranged)
    return ranged.mapInPandas(scan, out_schema)


def prefix_exclude_anti(records: DataFrame, prefixes: DataFrame,
                        key: str = "urlkey",
                        scratch: list | None = None) -> DataFrame:
    """records minus every row whose ``key`` starts with any prefix."""
    flagged = prefix_exclude_flag(records, prefixes, key=key,
                                  scratch=scratch)
    return flagged.filter(~F.col("excluded")).drop("excluded")
