"""Seeded input generators for the three workloads.

Every generator is a pure function of ``seed`` (``random.Random`` streams,
no clock, no global state), so the same seed writes the same inputs and
the digest of those inputs is stable.  Sizes are fixed per workload; a new
seed changes contents, not the amount of work.

* ``archive_records`` — the record mix shared by both index workloads:
  request / response-or-revisit / metadata captures, dns and warcinfo
  records,
  html / css / gif / pdf bodies, 200 / 301 / 404 statuses, meta-robots and
  X-Robots-Tag variants, non-ASCII and session-id URLs, a few >1 MB pages.
* ``write_envelope`` — those records as a ``warc_records`` parquet table
  (``index_records``).
* ``write_warc_gz`` — the same records as real gzipped WARC files
  (``index_warc``); ``write_exclude_list`` — the prefix list the CLI reads.
* ``write_crawl_inputs`` — the synthetic Zipf web, seeds and robots rules
  materialized to parquet with the program's own ``sources.synth``.
"""

from __future__ import annotations

import base64
import hashlib
import os
import random
import zlib
from dataclasses import dataclass, field

__all__ = ["SpecRecord", "archive_records", "write_envelope",
           "write_warc_gz", "write_exclude_list", "write_crawl_inputs",
           "file_digest", "table_digest"]

_WORDS = ("archive index crawl frontier warc record offset digest robots "
          "meta header body page link anchor host path query session "
          "canonical surt revisit request response metadata").split()

_MIMES = (("text/html", 55), ("text/css", 15), ("image/gif", 15),
          ("application/pdf", 15))
_STATUSES = ((200, "OK", 80), (301, "Moved Permanently", 10),
             (404, "Not Found", 10))
_X_ROBOTS = ((None, 85), ("noarchive", 6), ("noindex, nofollow", 5),
             ("none", 4))
_META_ROBOTS = (("", 80),
                ('<meta name="robots" content="noindex,nofollow">', 7),
                ('<META NAME="ROBOTS" CONTENT="NOARCHIVE">', 7),
                ("<meta name='robots' content='nofollow' />", 6))
# Share of captures written as a revisit record (the payload digest
# repeats an earlier capture's) instead of a response.  An assumption,
# like the MIME, status and robots shares above and the URL features in
# _url: no real sample WARC is in the repository to measure them on.
_REVISIT_PCT = 10


@dataclass
class SpecRecord:
    """One archive record, independent of its container format."""
    record_type: str
    url: bytes
    date: str
    content_type: bytes
    payload: bytes
    payload_digest: str | None = None
    sfps: str | None = None
    extra_headers: dict = field(default_factory=dict)


def _pick(rng: random.Random, table):
    total = sum(w for *_, w in table)
    x = rng.randrange(total)
    for row in table:
        x -= row[-1]
        if x < 0:
            return row[0] if len(row) == 2 else row[:-1]
    raise AssertionError("unreachable")


def _zipf(rng: random.Random, n: int) -> int:
    # inverse-CDF of the continuous harmonic law: host k gets ~1/(k+1)
    return min(int((n + 1) ** rng.random()) - 1, n - 1)


def _url(rng: random.Random, n_hosts: int) -> bytes:
    h = _zipf(rng, n_hosts)
    n = rng.randrange(10 ** 6)
    kind = rng.randrange(100)
    if kind < 6:      # session ids, which SURT canonicalization strips
        sid = "%032X" % rng.getrandbits(128)
        return (f"http://shop{h}.example.net/cart;jsessionid={sid}"
                f"?item={n}").encode()
    if kind < 10:
        return (f"http://www.forum{h}.example.org/view.php"
                f"?PHPSESSID={rng.getrandbits(64):016x}&t={n}").encode()
    if kind < 14:     # UTF-8 IRI bytes
        return f"http://bücher{h}.example.de/straße/{n}?q=çà".encode()
    if kind < 16:     # legacy latin-1 bytes, as old crawlers stored them
        return f"http://caf\xe9{h}.example.fr/men\xfa/{n}".encode("latin-1")
    if kind < 20:     # case, default port and fragment to canonicalize
        return f"HTTP://WWW.Site{h}.Example.COM:80/Index.HTML?B={n}&a=1#top".encode()
    scheme = "https" if kind < 35 else "http"
    a, b = rng.randrange(50), rng.randrange(1000)
    return f"{scheme}://www.site{h}.example.com/p/{a}/{b}-{n}.html".encode()


def _date(rng: random.Random) -> str:
    s = rng.randrange(86400 * 365)
    d, s = divmod(s, 86400)
    mo, dd = divmod(d, 28)
    return "2014-%02d-%02dT%02d:%02d:%02dZ" % (
        mo % 12 + 1, dd + 1, s // 3600, s // 60 % 60, s % 60)


def _text(rng: random.Random, n_words: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n_words))


def _html(rng: random.Random, big: bool) -> bytes:
    links = "".join('<a href="/p/%d/%d.html">%s</a>' % (
        rng.randrange(50), rng.randrange(1000), rng.choice(_WORDS))
        for _ in range(rng.randrange(2, 8)))
    body = _text(rng, rng.randrange(80, 400))
    if big:   # a 1.1 MB page, under the 5 MB meta-parse limit
        body = ((body + " ") * (1_100_000 // (len(body) + 1) + 1))[:1_100_000]
    meta = _pick(rng, _META_ROBOTS)
    charset = rng.choice(("", '<meta charset="utf-8">',
                          '<meta http-equiv="Content-Type" '
                          'content="text/html; charset=iso-8859-1">'))
    return (f"<!DOCTYPE html><html><head><title>{rng.choice(_WORDS)}"
            f"</title>{charset}{meta}</head><body><p>{body}</p>{links}"
            f"</body></html>").encode()


def _body(rng: random.Random, mime: str, big: bool) -> bytes:
    if mime == "text/html":
        return _html(rng, big)
    if mime == "text/css":
        return ("".join(".c%d{color:#%06x;margin:%dpx}\n" % (
            i, rng.getrandbits(24), rng.randrange(20))
            for i in range(rng.randrange(10, 80)))).encode()
    if mime == "image/gif":
        return b"GIF89a" + rng.randbytes(rng.randrange(200, 4000))
    return (b"%PDF-1.4\n" + rng.randbytes(rng.randrange(1000, 8000))
            + b"\n%%EOF\n")


def _sha1_b32(data: bytes) -> str:
    return base64.b32encode(hashlib.sha1(data).digest()).decode("ascii")


def _response(rng: random.Random, url: bytes, big: bool,
              date: str) -> SpecRecord:
    status, reason = (200, "OK") if big else _pick(rng, _STATUSES)
    mime = "text/html" if big or status != 200 else _pick(rng, _MIMES)
    if status == 301:
        body = b"<html><body>moved</body></html>"
        extra = b"Location: http://www.example.com/moved\r\n"
    elif status == 404:
        body = b"<html><head><title>404</title></head><body>gone</body></html>"
        extra = b""
    else:
        body = _body(rng, mime, big)
        extra = b""
    ctype = mime.encode()
    if mime == "text/html" and rng.randrange(3) == 0:
        ctype += b"; charset=utf-8"
    xr = _pick(rng, _X_ROBOTS)
    if xr is not None:
        extra += b"X-Robots-Tag: " + xr.encode() + b"\r\n"
    payload = (f"HTTP/1.1 {status} {reason}\r\n".encode()
               + b"Content-Type: " + ctype + b"\r\n"
               + b"Content-Length: " + str(len(body)).encode() + b"\r\n"
               + extra + b"\r\n" + body)
    digest = ("sha1:" + _sha1_b32(body)) if rng.randrange(2) else None
    return SpecRecord("response", url, date,
                      b"application/http; msgtype=response", payload,
                      payload_digest=digest,
                      sfps="1" if rng.randrange(50) == 0 else None)


def _host(url: bytes) -> bytes:
    return url.split(b"/")[2].split(b":")[0].lower()


def archive_records(seed: int, n_records: int, n_big: int, *,
                    n_hosts: int = 400, file_tag: str = "") -> list[SpecRecord]:
    """``n_records`` records: a warcinfo, then captures in the order
    Heritrix's WARC writer emits them (and Common Crawl's WARC files hold
    them): a ``dns:`` response the first time the file meets a host, then
    for every HTTP fetch a request, the response (or a revisit) and a
    metadata record.  The indexer skips all but responses and revisits.
    ``n_big`` captures at seeded positions are >1 MB html responses."""
    rng = random.Random(f"perfbench:{file_tag}:{seed}")
    # a capture is at most 4 records, so these captures always fit
    big_at = set(rng.sample(range(max(1, (n_records - 1) // 4)), n_big))
    out = [SpecRecord(
        "warcinfo", b"", _date(rng), b"application/warc-fields",
        b"software: perfbench\r\nformat: WARC File Format 1.0\r\n"
        b"operator: " + _text(rng, 3).encode() + b"\r\n")]
    hosts: set[bytes] = set()
    cap = 0
    while len(out) < n_records:
        url = _url(rng, n_hosts)
        host, date = _host(url), _date(rng)
        if host not in hosts:
            hosts.add(host)
            out.append(SpecRecord(
                "response", b"dns:" + host, date, b"text/dns",
                b"20140314173216\n" + host
                + b". 300 IN A 192.0.2.%d\n" % rng.randrange(255)))
        path = b"/" + url.split(b"/", 3)[3] if url.count(b"/") > 2 else b"/"
        out.append(SpecRecord(
            "request", url, date, b"application/http; msgtype=request",
            b"GET " + path + b" HTTP/1.1\r\nHost: " + host
            + b"\r\nUser-Agent: perfbench\r\n\r\n"))
        if cap not in big_at and rng.randrange(100) < _REVISIT_PCT:
            hdr = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                   b"Content-Length: 0\r\n\r\n")
            digest = ("sha1:" + _sha1_b32(rng.randbytes(20))
                      if rng.randrange(10) else None)
            out.append(SpecRecord(
                "revisit", url, date,
                b"application/http; msgtype=response", hdr,
                payload_digest=digest,
                extra_headers={"WARC-Profile": "http://netpreserve.org/"
                               "warc/1.0/revisit/identical-payload-digest"}))
        else:
            out.append(_response(rng, url, cap in big_at, date))
        out.append(SpecRecord(
            "metadata", url, date, b"application/warc-fields",
            b"outlink: " + url + b"/a E\r\nfetchTimeMs: "
            + str(rng.randrange(5000)).encode() + b"\r\n"))
        cap += 1
    return out[:n_records]


# --------------------------------------------------------------- WARC ----

def _warc_bytes(r: SpecRecord) -> bytes:
    hdr = [b"WARC/1.0", b"WARC-Type: " + r.record_type.encode()]
    if r.record_type != "warcinfo":
        hdr.append(b"WARC-Target-URI: " + r.url)
    hdr.append(b"WARC-Date: " + r.date.encode())
    if r.payload_digest is not None:
        hdr.append(b"WARC-Payload-Digest: " + r.payload_digest.encode())
    if r.sfps is not None:
        hdr.append(b"WARC-Simple-Form-Province-Status: " + r.sfps.encode())
    for k, v in r.extra_headers.items():
        hdr.append(f"{k}: {v}".encode())
    hdr.append(b"Content-Type: " + r.content_type)
    hdr.append(b"Content-Length: " + str(len(r.payload)).encode())
    return b"\r\n".join(hdr) + b"\r\n\r\n" + r.payload + b"\r\n\r\n"


def write_warc_gz(path: str, records: list[SpecRecord]) -> None:
    """One gzip member per record, as crawlers write WARCs."""
    with open(path, "wb") as fh:
        for r in records:
            co = zlib.compressobj(6, zlib.DEFLATED, 31)
            fh.write(co.compress(_warc_bytes(r)) + co.flush())


def write_exclude_list(path: str, seed: int, n_prefixes: int,
                       hit_urls: list[bytes]) -> None:
    """``n_prefixes`` exclude lines.  One in ten is a page URL from the
    archives cut short by two characters, so it hits that record (and
    rarely another); the rest are hosts the archives never contain.
    Page-level hits keep the excluded count nearly the same for every
    seed, where a host-level prefix on a Zipf-heavy host would exclude a
    seed-dependent share of the records."""
    rng = random.Random(f"perfbench:exclude:{seed}")
    pages = [u.decode() for u in hit_urls if b"/p/" in u and b"?" not in u]
    lines = [u[:-2] for u in rng.sample(pages, min(n_prefixes // 10,
                                                   len(pages)))]
    while len(lines) < n_prefixes:
        lines.append("http://www.nohit%d-%x.example.%s/%s" % (
            rng.randrange(10 ** 6), rng.getrandbits(24),
            rng.choice(("com", "org", "net", "io")), rng.choice(_WORDS)))
    rng.shuffle(lines)
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")


# ----------------------------------------------------------- envelope ----

def write_envelope(path: str, seed: int, n_files: int, per_file: int,
                   n_big: int) -> None:
    """``warc_records`` envelope rows (sources.warc.WARC_RECORDS_SCHEMA),
    one parquet file per archive so the scan has one split per file."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from cdx_writer_spark.sources.warc import WARC_RECORDS_SCHEMA

    schema = pa.schema([
        (f.name, {"string": pa.string(), "int": pa.int32(),
                  "bigint": pa.int64(), "binary": pa.binary()}[
                      f.dataType.simpleString()])
        for f in WARC_RECORDS_SCHEMA.fields])
    os.makedirs(path, exist_ok=True)
    for fi in range(n_files):
        name = "bench-%d-%02d.warc.gz" % (seed, fi)
        recs = archive_records(seed, per_file, n_big if fi == 0 else 0,
                               file_tag=f"env{fi}")
        rng = random.Random(f"perfbench:envlen:{fi}:{seed}")
        cols = {f.name: [] for f in schema}
        offset = 0
        for i, r in enumerate(recs):
            size = len(_warc_bytes(r)) // 3 + 40
            clen = len(r.payload)
            if r.record_type == "response" and rng.randrange(400) == 0:
                clen = -1     # malformed declared length: dropped (F2)
            for k, v in (("filename", name), ("record_idx", i),
                         ("offset", offset), ("compressed_size", size),
                         ("record_type", r.record_type),
                         ("url_raw", r.url if r.record_type != "warcinfo"
                          else None),
                         ("date_raw", r.date),
                         ("content_type", r.content_type),
                         ("content_length_hdr", clen),
                         ("payload", r.payload),
                         ("payload_digest", r.payload_digest),
                         ("sfps", r.sfps)):
                cols[k].append(v)
            offset += size
        pq.write_table(pa.table(cols, schema=schema),
                       os.path.join(path, "part-%02d.parquet" % fi),
                       compression="snappy")


# -------------------------------------------------------------- crawl ----

def write_crawl_inputs(spark, root: str, seed: int, n_pages: int,
                       n_seeds: int, n_hosts: int) -> dict:
    """Materialize pages / seeds / robots once with ``sources.synth``;
    the crawl then reads only these parquet tables."""
    from cdx_writer_spark.sources.synth import (synth_pages, synth_robots,
                                                synth_seeds)
    paths = {k: os.path.join(root, k) for k in ("pages", "seeds", "robots")}
    synth_pages(spark, n_pages, seed=seed, n_hosts=n_hosts,
                partitions=4).write.mode("overwrite").parquet(paths["pages"])
    synth_seeds(spark, n_seeds, n_pages, seed=seed, n_hosts=n_hosts) \
        .coalesce(1).write.mode("overwrite").parquet(paths["seeds"])
    synth_robots(spark, seed=seed, n_hosts=n_hosts) \
        .coalesce(1).write.mode("overwrite").parquet(paths["robots"])
    return paths


def file_digest(paths: list[str]) -> str:
    """sha256 over the contents of every file under ``paths``, in
    relative-path order."""
    h = hashlib.sha256()
    for root in paths:
        files = ([root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs
            if not f.startswith((".", "_"))))
        for f in files:
            h.update(os.path.relpath(f, os.path.dirname(root)).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def table_digest(paths: list[str]) -> str:
    """sha256 over the rows of parquet tables in a canonical row order
    (Spark names its part files with random ids, so file bytes would
    not repeat)."""
    import pyarrow.parquet as pq
    h = hashlib.sha256()
    for p in paths:
        rows = sorted(repr(tuple(r.values()))
                      for r in pq.read_table(p).to_pylist())
        h.update(os.path.basename(p).encode())
        for r in rows:
            h.update(r.encode())
    return h.hexdigest()[:16]
