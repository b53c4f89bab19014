"""warc_records DataFrame → CDX DataFrame: the reference's ``make_cdx`` loop
(cdx_writer.py:638-712) as a declarative Spark plan.

Plan shape (deliberately ordered — Catalyst won't reorder around opaque
pandas UDFs, so cheap native filters run first, SURVEY.md §4 item 2):

1. native filters: record-type/content-type (F1), negative length (F2)
2. ONE Arrow pandas UDF computing the byte-level fields that need Python
   (urlkey/original-url/mime/status/checksum/meta — shares the HTTP header
   split across all six, mirroring the reference's per-record precompute,
   cdx_writer.py:677-681)
3. native column exprs: date (P3), sentinels, file name, S/V
4. exclude flag (F3): lists that fit the driver are reduced there to a
   prefix-free prober (operators/exclude.py), broadcast, and probed
   inside the step-2 UDF on the urlkeys it just computed — no join, no
   shuffle, no second Python stage; bigger lists take the range merge
5. optional CDX line serialization: concat_ws + rstrip

At 100 TB the only shuffle in this pipeline is the final (optional) sort —
everything else is embarrassingly parallel per archive file.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T

from ..util import per_context
from .exclude import _prefix_flag_merge, driver_prober

__all__ = ["cdx_fields", "cdx_lines", "date_expr", "FIELD_COLUMNS"]

# CDX field letter -> column name (Spark resolves identifiers
# case-insensitively, so the reference's m/M and s/S letters cannot be
# column names directly)
FIELD_COLUMNS = {
    "N": "urlkey", "b": "cdx_date", "a": "original_url", "m": "mime",
    "s": "status_code", "k": "checksum", "r": "redirect",
    "M": "meta_flags", "S": "rec_size", "V": "rec_offset", "g": "warc_name",
}

_PY_FIELDS_SCHEMA = T.StructType([
    T.StructField("urlkey", T.StringType()),
    T.StructField("original_url", T.StringType()),
    T.StructField("mime", T.StringType()),
    T.StructField("status", T.StringType()),
    T.StructField("checksum", T.StringType()),
    T.StructField("meta_flags", T.StringType()),
])

# ---------------------------------------------------------------------------
# JVM-side kernels (whole-stage codegen, zero python transfer)
# ---------------------------------------------------------------------------

_ALPHA32 = "ABCDEFGHIJKLMNOPQRSTUVWXYZ234567"
META_PARSE_LIMIT = 5 * 1024 * 1024


def _b32_of_sha1_hex(hex_col: Column) -> Column:
    """base32(unhex(sha1_hex)) as pure Column arithmetic: 160 bits = eight
    20-bit groups (5 hex chars) -> four 5-bit alphabet indices each.  Python
    equivalent: base64.b32encode(hashlib.sha1(x).digest()) — no padding since
    160 % 40 == 0 (reference cdx_writer.py:399-425 digest format)."""
    alpha = F.array(*[F.lit(c) for c in _ALPHA32])
    chars = []
    for i in range(8):
        v = F.conv(F.substring(hex_col, 1 + 5 * i, 5), 16, 10).cast("int")
        for shift in (15, 10, 5, 0):
            idx = F.shiftright(v, shift).bitwiseAND(F.lit(31))
            chars.append(F.element_at(alpha, idx + F.lit(1)))
    return F.concat(*chars)


def sha1_b32_expr(latin1_str: Column) -> Column:
    """sha1-base32 content digest of a latin-1-decoded byte string, fully
    JVM-side (F.sha1 is native; base32 is expression arithmetic)."""
    return _b32_of_sha1_hex(F.sha1(F.encode(latin1_str, "ISO-8859-1")))


def sha1_b32_binary_expr(payload: Column) -> Column:
    """sha1-base32 of a BINARY column, null-safe JVM-side (the crawl parse
    stage's checksum — equals functions.udfs.sha1_b32 byte-for-byte,
    pinned by tests/test_frontier.py).  The null guard matters: conv()
    over the null hex propagates as an all-'7' string, not NULL."""
    return F.when(payload.isNull(), F.lit(None).cast("string")) \
        .otherwise(_b32_of_sha1_hex(F.sha1(payload)))


def date_expr(col: Column) -> Column:
    """Field b (reference cdx_writer.py:352-376) as a pure Column expr:
    12/14/16/18-digit passthrough/truncate/pad, hex→'-', else ISO-8601."""
    digits = col.rlike("^[0-9]+$")
    return (
        F.when(digits & (F.length(col) == 14), col)
        .when(digits & F.length(col).isin(16, 18), F.substring(col, 1, 14))
        .when(digits & (F.length(col) == 12), F.concat(col, F.lit("00")))
        .when(col.rlike("^[a-f0-9]+$"), F.lit("-"))
        .otherwise(F.coalesce(
            F.date_format(
                F.to_timestamp(col, "yyyy-MM-dd'T'HH:mm:ss'Z'"),
                "yyyyMMddHHmmss"),
            F.lit("-")))
    )


def _struct_udf(fn, schema: T.StructType, probe):
    """``fn`` as a struct Arrow UDF, plus ``excluded`` when it runs an
    exclude ``probe``.  Nondeterministic so the optimizer never copies the
    call into a filter pushed below it (``~excluded`` above all), which
    ran a second ArrowEvalPython over the whole JVM field chain."""
    if probe is not None:
        schema = T.StructType(schema.fields
                              + [T.StructField("excluded", T.BooleanType())])
    return F.pandas_udf(schema)(fn).asNondeterministic()


def _make_py_fields_udf(screenshot_mode: bool = False, probe=None):
    """Factory for the vectorized (Arrow-batched) byte-level CDX field UDF.
    One batch in, one struct-column batch out; regexes are compiled once per
    executor at kernel-module import.  ``screenshot_mode`` mirrors the
    reference's --screenshot-mode flag (cdx_writer.py:285-286,345-348,
    447-448,613-615).  ``probe``: as in _make_url_meta_udf."""
    def kernel(record_type: pd.Series, url_raw: pd.Series,
               content_type: pd.Series, payload: pd.Series,
               content_length_hdr: pd.Series, payload_digest: pd.Series,
               sfps: pd.Series, filename: pd.Series) -> pd.DataFrame:
        from cdx_writer_spark.kernels import fields as K
        from cdx_writer_spark.kernels.warcrec import Record

        out = {k: [] for k in ("urlkey", "original_url", "mime", "status",
                               "checksum", "meta_flags")}
        for rt, url, ct, pl, clen, pdg, sf, fn in zip(
                record_type, url_raw, content_type, payload,
                content_length_hdr, payload_digest, sfps, filename):
            headers = {}
            if pdg is not None:
                headers["warc-payload-digest"] = pdg
            if sf is not None:
                headers["warc-simple-form-province-status"] = sf
            rec = Record(
                filename=fn, record_idx=0, offset=0, compressed_size=None,
                record_type=rt,
                url=bytes(url) if url is not None else None,
                date_raw=None,
                content_type=bytes(ct) if ct is not None else None,
                content_length_hdr=int(clen) if pd.notna(clen) else None,
                payload=bytes(pl) if pl is not None else b"",
                headers=headers,
            )
            http_headers, content = K.parse_headers_and_content(
                rec, screenshot_mode)
            mime = K.get_mime_type(rec, http_headers, screenshot_mode)
            meta = K.parse_meta_tags(rec, mime, content)
            out["urlkey"].append(K.get_massaged_url(rec, fn, screenshot_mode))
            out["original_url"].append(
                K.get_original_url(rec, fn, screenshot_mode))
            out["mime"].append(mime)
            out["status"].append(K.get_response_code(rec))
            out["checksum"].append(K.get_new_style_checksum(rec, content))
            out["meta_flags"].append(
                K.get_aif_meta_tags(rec, http_headers, meta))
        if probe is not None:
            out["excluded"] = probe.value(out["urlkey"])
        return pd.DataFrame(out)
    return _struct_udf(kernel, _PY_FIELDS_SCHEMA, probe)


_PY_URL_SCHEMA = T.StructType([
    T.StructField("urlkey", T.StringType()),
    T.StructField("original_url", T.StringType()),
    T.StructField("meta_flags", T.StringType()),
    T.StructField("checksum_fab", T.StringType()),
])


def _make_url_meta_udf(probe=None):
    """The slim python side of the hot path: SURT/chardet url fields, the
    meta-robots scan, and hex->base32 of the JVM-computed sha1.  Everything
    byte-heavy (header/body split, sha1, status, mime) stays JVM-side —
    this UDF receives only url bytes, a bounded html-head slice (NULL
    for every row but a <=5 MB text/html response body — the JVM
    ``_mgate``), and a 40-char digest, ~10x less Arrow transfer than
    shipping payloads.

    Per-row work is inlined from kernels.fields get_massaged_url /
    get_original_url (same dispatch, minus a dataclass construction per
    row — measured ~1us/row across 10^7-row index runs), and the
    meta-flag assembly for sliceless rows is memoized on the raw
    (x-robots, sfps) header pair, which is near-constant per crawl.

    ``probe``: a broadcast exclude.PrefixProber; the struct then gains
    ``excluded`` (urlkey starts with an exclude prefix), decided per
    batch here, so the exclude list costs no Python crossing of its own."""
    def _py_url_meta_udf(record_type: pd.Series, url_raw: pd.Series,
                         filename: pd.Series, meta_slice: pd.Series,
                         x_robots: pd.Series, sfps: pd.Series,
                         fab_hex: pd.Series) -> pd.DataFrame:
        import base64

        from cdx_writer_spark.kernels import fields as K
        from cdx_writer_spark.kernels.encdetect import to_unicode_like_reference
        from cdx_writer_spark.kernels.surt import surt

        fake = K.FAKE_BUILD_VERSION
        flag_cache: dict = {}
        urlkeys, origs, flags, fabs = [], [], [], []
        for rt, url, fn, ms, xr, sf, fh in zip(record_type, url_raw,
                                               filename, meta_slice,
                                               x_robots, sfps, fab_hex):
            if rt == "warcinfo":
                w = "warcinfo:/%s/%s" % (fn, fake)
                urlkeys.append(w)
                origs.append(w)
            else:
                b = bytes(url) if url is not None else b""
                orig = (to_unicode_like_reference(b)
                        .replace("\r", "%0D").replace("\n", "%0A")
                        .replace("\x0c", "%0C").replace("\x00", "%00"))
                origs.append(orig)
                try:
                    urlkeys.append(surt(b))
                except Exception:   # bare fallback mirrors cdx_writer.py:290
                    urlkeys.append(orig)
            if ms is not None:
                flags.append(K.aif_flags(K.meta_tags_from_html(bytes(ms)),
                                         xr, sf))
            else:
                ck = (xr, sf)
                v = flag_cache.get(ck)
                if v is None:
                    v = K.aif_flags(None, xr, sf)
                    if len(flag_cache) < 4096:
                        flag_cache[ck] = v
                flags.append(v)
            fabs.append(base64.b32encode(bytes.fromhex(fh)).decode("ascii")
                        if fh is not None else None)
        out = {"urlkey": urlkeys, "original_url": origs,
               "meta_flags": flags, "checksum_fab": fabs}
        if probe is not None:
            out["excluded"] = probe.value(urlkeys)
        return pd.DataFrame(out)
    return _struct_udf(_py_url_meta_udf, _PY_URL_SCHEMA, probe)


@per_context
def _jvm_field_stages() -> tuple:
    """Byte-level CDX kernels as Column expressions (P5/P6/P12/P15 plus the
    header extraction for P4/P7) — the reference semantics of
    cdx_writer.py:399-425,429-457,585-620,105-114 with zero python transfer.
    Returns the ``(name, Column)`` stages that _jvm_fields applies in
    order; built once per SparkContext, since building the ~30 string
    expressions through py4j cost more driver time per call than
    applying them.

    The payload is viewed through a lossless latin-1 decode so string
    functions (regexp, substring, sha1-over-encode) operate on exact byte
    positions; char i == byte i."""
    stages: list = []

    def stage(name: str, col: Column) -> Column:
        stages.append((name, col))
        return F.col(name)

    rt = F.col("record_type")
    pay = stage("_pay", F.decode(F.col("payload"), "ISO-8859-1"))
    is_http = stage("_is_http", (rt == "response") & pay.startswith("HTTP"))
    # P15 split on the FIRST \r?\n\r?\n (python _CRLF_SPLIT.split(payload, 1)).
    # Any match of \r?\n\r?\n starts with one of exactly four literals, so
    # the leftmost match position is the min of four intrinsic indexOf
    # scans — ~4x faster than java.util.regex over the payload.  The
    # "\r\n\r\n" scan (early-terminating at the real header/body split for
    # well-formed HTTP) BOUNDS the other three: any leftmost variant match
    # starts at or before it, so they scan a header-sized prefix instead of
    # re-walking the whole payload.  None of the four runs for non-HTTP rows.
    pos4 = F.nullif(F.locate("\r\n\r\n", pay), F.lit(0))
    head4 = F.when(pos4.isNotNull(),
                   pay.substr(F.lit(1), pos4 + 1)).otherwise(pay)
    locs = [F.nullif(F.locate(lit, head4), F.lit(0))
            for lit in ("\n\n", "\n\r\n", "\r\n\n")]
    pos = stage("_pos",
                F.when(is_http, F.coalesce(F.least(pos4, *locs), F.lit(0))))
    # greedy match length at _pos (python regex prefers the longest here)
    s4 = pay.substr(pos, F.lit(4))
    sep_len = (F.when(s4.startswith("\r\n\r\n"), F.lit(4))
               .when(s4.startswith("\r\n\n") | s4.startswith("\n\r\n"),
                     F.lit(3))
               .otherwise(F.lit(2)))
    hdrs = (F.when(is_http & (pos > 0), pay.substr(F.lit(1), pos - 1))
            .when(is_http, pay))
    hdrs = stage("_hdrs", hdrs)
    sep_len = stage("_sep_len", sep_len)
    has_body = stage("_has_body", F.coalesce(is_http & (pos > 0),
                                             F.lit(False)))
    # 1-based char offset of the body inside _pay (== byte offset inside
    # payload: the header region is ASCII wherever a split was found)
    cstart = pos + sep_len

    # P18 is_response: ^application/http;\s*msgtype=response$ case-insens.
    is_resp_ct = stage(
        "_is_resp_ct",
        F.decode(F.col("content_type"), "ISO-8859-1")
        .rlike(r"(?i)^application/http;\s*msgtype=response$"))

    # P5 status: anchored HTTP(/d.d)? (ddd).  The anchored match can only
    # span the first ~20 chars, so scan a 64-char prefix — java regex
    # find() otherwise retries the dead anchor at every payload position.
    status = F.when(
        rt == "response",
        F.coalesce(
            F.nullif(F.regexp_extract(
                pay.substr(F.lit(1), F.lit(64)),
                r"^HTTP(?:/\d\.\d)? (\d+)", 1), F.lit("")),
            F.lit("-"))
    ).otherwise(F.lit("-"))

    # P12 first matching header line (python: pat.match per splitlines line)
    def header(name: str) -> Column:
        return F.nullif(F.regexp_extract(
            hdrs,
            r"(?im)^" + name + r":[ \t\x0B\f]*([^\r\n]+)", 1), F.lit(""))

    # P4 mime — staged columns so each regexp runs ONCE per row:
    # CollapseProject refuses to inline non-cheap exprs referenced more than
    # once, keeping the generated code linear instead of the ~12x textual
    # expansion a single nested CASE tree produces.
    strip_re = r"^[ \t\n\r\x0B\f]+|[ \t\n\r\x0B\f]+$"
    ct_hdr = stage("_ct_hdr", header("content-type"))
    ct_stripped = stage("_ct_stripped",
                        F.regexp_replace(ct_hdr, strip_re, ""))
    pre_semi_m = stage("_pre_semi_m",
                       F.regexp_extract(ct_stripped, r"^(.+?);", 1))
    pre_semi = stage("_pre_semi", F.when(pre_semi_m != "", pre_semi_m)
                     .otherwise(ct_stripped))
    mime_http = (
        F.when(ct_hdr.isNull() | (ct_stripped == ""), F.lit("unk"))
        .when(pre_semi.rlike(r"^[a-z0-9\-\.\+/]+$"), pre_semi)
        .otherwise(F.lit("unk")))
    ct_raw = F.decode(F.col("content_type"), "ISO-8859-1")
    ct_replaced = stage("_ct_replaced",
                        F.replace(ct_raw, F.lit("no-type"), F.lit("unk")))
    mime_resp_other = (
        F.when(F.col("content_type").isNull(), F.lit("unk"))
        .when(ct_replaced.rlike(r"[^\x00-\x7F]"), F.lit("unk"))
        .otherwise(ct_replaced))
    mime = (F.when((rt == "response") & is_resp_ct, mime_http)
            .when(rt == "response", mime_resp_other)
            .when(rt == "warcinfo", F.lit("warc-info"))
            .otherwise(F.concat(
                F.lit("warc/"),
                F.regexp_replace(rt, r"[^\x00-\x7F]", "?"))))
    mime = stage("_mime", mime)

    # P6 checksum: header digest else fabricated base32(sha1(body)).
    # The sha1 runs JVM-side (native, no payload transfer); the cheap
    # hex->base32 of the 40-char digest happens in the python UDF where
    # base64.b32encode is a C call (a pure-expression base32 costs ~12us/row
    # in conv/element_at trees — measured, see sha1_b32_expr docstring).
    digest = stage("_digest", F.replace(F.col("payload_digest"),
                                        F.lit("sha1:"), F.lit("")))
    # resolved-without-fabrication part of the CASE; NULL means "fabricate"
    checksum_pre = (
        F.when(rt == "revisit", F.coalesce(digest, F.lit("-")))
        .when((rt == "response") & (is_resp_ct | has_body), digest))
    checksum_pre = stage("_checksum_pre", checksum_pre)
    # hash the BINARY body slice directly (substring on BinaryType is
    # byte-positional) — same bytes as the latin-1 _content view, minus a
    # decode/encode round trip per row
    content_bin = F.when(
        has_body,
        F.substring(F.col("payload"), cstart, F.length("payload")))
    empty_bin = F.lit(b"")
    fab_body = (
        F.when((rt == "response") & is_resp_ct,
               F.coalesce(content_bin, F.col("payload"), empty_bin))
        .when((rt == "response") & has_body, content_bin)
        .otherwise(F.coalesce(F.col("payload"), empty_bin)))
    stage("_fab_hex", F.when(checksum_pre.isNull(), F.sha1(fab_body)))

    # P7 inputs: x-robots-tag header + a bounded html-head slice for the
    # python meta scan.  Reference scans <meta> tags up to (?i)</head> (or
    # the whole body if absent, cdx_writer.py:165-230); the slice keeps 4 KiB
    # past </head> so a tag straddling it stays intact.
    #
    # Case-insensitive search WITHOUT copying the body: a zero-copy
    # intrinsic indexOf finds the first lowercase "</head>" (the 99.9% case,
    # early-terminating at the head end); the exact (?i)-leftmost match can
    # only start at or before it, so only that head-sized prefix is lowered
    # and rescanned (latin-1 lower() preserves char positions 1:1).  Only
    # when NO lowercase "</head>" exists does the full body pay the lower().
    # All of it runs only for ≤5MB text/html response bodies (meta_gate) —
    # the old plan scanned+lowered every body twice, html or not.
    clen = F.col("content_length_hdr")
    mgate = stage("_mgate",
                  (rt == "response") & (mime == "text/html") & has_body
                  & (clen.isNull() | (clen <= META_PARSE_LIMIT)))
    hpf = stage(
        "_hpf",
        F.when(mgate,
               F.nullif(F.call_function("locate", F.lit("</head>"), pay,
                                        cstart), F.lit(0)) - cstart + 1))
    body_low = F.lower(pay.substr(
        cstart, F.coalesce(hpf + 6, F.length(pay))))
    hp = stage(
        "_hp",
        F.when(mgate, F.coalesce(F.nullif(F.locate("</head>", body_low),
                                          F.lit(0)), F.lit(0))))
    # the slice ships as BINARY cut straight from the payload: char
    # offsets in the latin-1 view ARE byte offsets, so one binary
    # substring replaces the string-substr + encode round trip (two
    # body-sized copies -> one; interleaved A/B at 10^7 records read
    # 30.0-30.6s vs 32.2-32.7s, every pair).
    # (A JVM-side "<meta" pre-gate on the slice — lower()+locate so rows
    # with no meta tag ship nothing to Python — was measured this round:
    # +4s of JVM time per 10^7-row index run against a Python saving
    # that is hidden anyway, because ArrowEvalPython pipelines the
    # Python scan behind the JVM stage on the 2-cpu index tasks.
    # Rejected; evidence in OPTIMIZATION_r06.md.)
    slice_b = (F.when(hp > 0,
                      F.substring(F.col("payload"), cstart,
                                  hp + F.lit(4102)))
               .otherwise(F.substring(F.col("payload"), cstart,
                                      F.length("payload"))))
    stage("_status", status)
    stage("_x_robots", header("x-robots-tag"))
    stage("_meta_slice", F.when(mgate, slice_b))
    return tuple(stages)


# _jvm_field_stages' intermediates; cdx_fields reads the other stages
_JVM_SCRATCH = ("_pay", "_is_http", "_pos", "_hdrs", "_sep_len", "_has_body",
                "_is_resp_ct", "_ct_hdr", "_ct_stripped", "_pre_semi_m",
                "_pre_semi", "_ct_replaced", "_digest", "_mgate", "_hpf",
                "_hp")


def _jvm_fields(df: DataFrame) -> DataFrame:
    """Apply _jvm_field_stages one ``withColumn`` each, in order: each
    stage reads the columns of the ones before it, and the staging keeps
    the generated code linear (see the mime note in _jvm_field_stages)."""
    for name, col in _jvm_field_stages():
        df = df.withColumn(name, col)
    return df.drop(*_JVM_SCRATCH)


@per_context
def _record_filters(screenshot_mode: bool, all_records: bool) -> tuple:
    """cdx_fields' native row filters, applied in this order before the
    Python stage."""
    if screenshot_mode:
        # screenshot WARCs keep only metadata records (cdx_writer.py:660-662)
        kind = (F.col("record_type") == "metadata",)
    elif not all_records:
        # F1 (reference cdx_writer.py:643-646,660-664)
        kind = (F.col("record_type").isin("response", "revisit")
                & (F.col("content_type").isNull()
                   | (F.col("content_type") != F.lit(b"text/dns"))),)
    else:
        kind = ()
    # F2: negative declared Content-Length (cdx_writer.py:666-670)
    clen = F.col("content_length_hdr")
    return kind + (clen.isNull() | (clen >= 0),)


@per_context
def _projection(screenshot_mode: bool, probed: bool) -> tuple:
    """cdx_fields' output Columns over the ``_py`` struct (and, on the hot
    path, the JVM field stages), plus the ``NOT excluded`` filter."""
    if screenshot_mode:
        mime_c = F.col("_py.mime")
        status_c = F.col("_py.status")
        checksum_c = F.col("_py.checksum")
    else:
        mime_c = F.col("_mime")
        status_c = F.col("_status")
        checksum_c = F.coalesce(F.col("_checksum_pre"),
                                F.col("_py.checksum_fab"))
    cols = (
        F.col("_py.urlkey").alias("urlkey"),
        date_expr(F.col("date_raw")).alias("cdx_date"),
        F.col("_py.original_url").alias("original_url"),
        mime_c.alias("mime"),
        status_c.alias("status_code"),
        checksum_c.alias("checksum"),
        F.lit("-").alias("redirect"),
        F.col("_py.meta_flags").alias("meta_flags"),
        F.coalesce(F.col("compressed_size").cast("string"), F.lit("-")).alias("rec_size"),
        F.col("offset").cast("string").alias("rec_offset"),
        F.col("filename").alias("warc_name"),
        F.col("record_idx"),
        (F.col("_py.excluded") if probed else F.lit(False)).alias("excluded"),
    )
    return cols, ~F.col("excluded")


def cdx_fields(records: DataFrame, *, all_records: bool = False,
               screenshot_mode: bool = False,
               excludes: list[str] | DataFrame | None = None,
               keep_excluded_flag: bool = False) -> DataFrame:
    """Project the warc_records envelope to the 11 CDX columns.

    ``excludes``: SURT prefixes, a list or a one-column DataFrame.  One
    that fits the driver (exclude.driver_prober) is reduced there once,
    broadcast, and probed inside the field UDF that computes the urlkey;
    bigger lists take the range merge of operators/exclude.py.  With
    ``keep_excluded_flag`` the excluded rows are kept with an
    ``excluded`` boolean (stats parity, reference cdx_writer.py:673-675)."""
    probe = merge = None
    if excludes is not None:
        prober = driver_prober(excludes)
        if prober is None:
            merge = (excludes if isinstance(excludes, DataFrame)
                     else records.sparkSession.createDataFrame(
                         [(p,) for p in excludes], "prefix string"))
        elif len(prober):
            probe = records.sparkSession.sparkContext.broadcast(prober)

    df = records
    for cond in _record_filters(screenshot_mode, all_records):
        df = df.filter(cond)
    if screenshot_mode:
        # niche path: keep the reference-shaped all-python kernel
        udf = _make_py_fields_udf(True, probe)
        df = df.withColumn("_py", udf(
            "record_type", "url_raw", "content_type", "payload",
            "content_length_hdr", "payload_digest", "sfps", "filename"))
    else:
        # hot path: byte-heavy kernels as whole-stage-codegen Column exprs
        # over the latin-1 (lossless bytes<->chars) view of the payload;
        # python sees only url bytes + a bounded html-head slice.
        df = _jvm_fields(df)
        df = df.withColumn("_py", _make_url_meta_udf(probe)(
            "record_type", "url_raw", "filename", "_meta_slice",
            "_x_robots", "sfps", "_fab_hex"))
    cols, not_excluded = _projection(screenshot_mode, probe is not None)
    df = df.select(*cols)
    if merge is not None:
        df = _prefix_flag_merge(df.drop("excluded"), merge, "urlkey",
                                "excluded", None)
    if not keep_excluded_flag:
        df = df.filter(not_excluded).drop("excluded")
    return df


@per_context
def _line_columns(fmt: str) -> tuple:
    """cdx_lines' ``cdx_line`` Column and the sort key Columns it keeps."""
    cols = [FIELD_COLUMNS[f] for f in fmt.split()]
    keep = tuple(F.col(c) for c in ("urlkey", "cdx_date") if c in cols)
    return (F.rtrim(F.concat_ws(" ", *[F.col(c) for c in cols]))
            .alias("cdx_line"), keep)


def cdx_lines(fields_df: DataFrame, fmt: str = "N b a m s k r M S V g",
              sort: bool = False) -> DataFrame:
    """Serialize to one-line-per-record (reference cdx_writer.py:683-699).
    ``sort=True`` produces the CDX convention (urlkey, date) global order via
    a range partition — the only shuffle in the pipeline."""
    line, keep = _line_columns(fmt)
    out = fields_df.select(line, *keep)
    if sort and keep:
        out = (out.repartitionByRange(*keep).sortWithinPartitions(*keep))
    return out.select("cdx_line")

