"""SURT (Sort-friendly URI Reordering Transform) canonicalization.

From-scratch reimplementation of the behavior of the ``surt`` library used by
the reference engine (call sites: reference ``cdx_writer.py:15,91,289``).  The
observable behavior is pinned by the 30 golden CDX lines in the reference's
``tests/test_small_warcs.py:8-38`` — see ``tests/test_surt.py`` for the
derived unit corpus.  The algorithm follows the publicly documented
safe-browsing URL canonicalization (Google canonicalizer) followed by the
Internet Archive canonicalizer rules (``www`` stripping, default-port
stripping, alpha query reordering, trailing-slash stripping), formatted as a
SURT string ``tld,domain,...)path?query``.

Everything operates on *bytes* — archive URLs routinely carry raw non-UTF-8
bytes (e.g. GBK query strings), which must survive as ``%XX`` escapes.
"""

from __future__ import annotations

import re
import struct

__all__ = ["surt", "SurtError", "host_of"]


class SurtError(ValueError):
    """Raised when a URL cannot be canonicalized (caller falls back to the
    original URL, mirroring reference ``cdx_writer.py:288-291``)."""


_HEX = b"0123456789abcdefABCDEF"

_SCHEME_RE = re.compile(rb"^([a-zA-Z][a-zA-Z0-9+.\-]*):(//)?")

# Schemes the reference's surt passes through unchanged (archive-internal
# pseudo-URLs; the warcinfo branch is normally handled before surt is called,
# reference cdx_writer.py:281-282, but filedesc:// records reach surt and the
# golden exclude-test output keeps them verbatim).
_PASSTHROUGH_PREFIXES = (b"filedesc:", b"warcinfo:", b"dns:", b"mailto:")

_DEFAULT_PORTS = {b"http": 80, b"https": 443, b"ftp": 21, b"rtsp": 554,
                  b"mms": 1755, b"ws": 80, b"wss": 443}

# IA canonicalizer session-id query params (publicly documented in
# archive-access / archive-commons IAURLCanonicalizer).
_QUERY_SESSIONID_RES = [
    re.compile(rb"^(.*)(?:jsessionid=[0-9a-z]{32})(?:&(.*))?$", re.I),
    re.compile(rb"^(.*)(?:phpsessid=[0-9a-z]{32})(?:&(.*))?$", re.I),
    re.compile(rb"^(.*)(?:sid=[0-9a-z]{32})(?:&(.*))?$", re.I),
    re.compile(rb"^(.*)(?:aspsessionid[a-z]{8}=[a-z]{24})(?:&(.*))?$", re.I),
    re.compile(rb"^(.*)(?:cfid=[^&]+&cftoken=[^&]+)(?:&(.*))?$", re.I),
]
_PATH_SESSIONID_RES = [
    re.compile(rb"^(.*/)(\((?:[a-z]\([0-9a-z]{24}\))+\)/)([^?]+\.aspx.*)$", re.I),
    re.compile(rb"^(.*/)(\([0-9a-z]{24}\)/)([^?]+\.aspx.*)$", re.I),
    re.compile(rb"^(.+)(?:;jsessionid=[0-9a-z]{32})(\?.*)?$", re.I),
]

_IPV4_RE = re.compile(rb"^(\d{1,3})\.(\d{1,3})\.(\d{1,3})\.(\d{1,3})$")


_HEX_SET = frozenset(_HEX)


def _unescape_once(s: bytes) -> bytes:
    if b"%" not in s:
        return s
    out = bytearray()
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c == 0x25 and i + 2 < n and s[i + 1] in _HEX_SET and s[i + 2] in _HEX_SET:
            out.append(int(s[i + 1: i + 3].decode("ascii"), 16))
            i += 3
        else:
            out.append(c)
            i += 1
    return bytes(out)


def _unescape_repeatedly(s: bytes) -> bytes:
    while True:
        u = _unescape_once(s)
        if u == s:
            return u
        s = u


_ESCAPED_RE = re.compile(rb"[\x00-\x20\x7f-\xff#%]")


def _escape_once(s: bytes) -> bytes:
    """Percent-escape bytes <= 0x20, >= 0x7F, '#' and '%' (safe-browsing rule)."""
    if _ESCAPED_RE.search(s) is None:
        return s
    out = bytearray()
    for b in s:
        if b <= 0x20 or b >= 0x7F or b == 0x23 or b == 0x25:
            out += b"%%%02X" % b
        else:
            out.append(b)
    return bytes(out)


def _minimal_escape(s: bytes) -> bytes:
    return _escape_once(_unescape_repeatedly(s))


def _canonicalize_host(host: bytes) -> bytes:
    host = _unescape_repeatedly(host)
    host = host.lower()
    host = host.strip(b".")
    host = re.sub(rb"\.\.+", b".", host)
    # normalize unusual IPv4 spellings (decimal/octal/hex single-number hosts)
    ip = _attempt_ip(host)
    if ip is not None:
        return ip
    return _escape_once(host)


def _attempt_ip(host: bytes) -> bytes | None:
    m = _IPV4_RE.match(host)
    if m:
        parts = [int(g) for g in m.groups()]
        if all(p <= 255 for p in parts):
            return host
        return None
    if re.fullmatch(rb"\d+", host or b"x"):
        try:
            v = int(host)
        except ValueError:
            return None
        if 0 <= v <= 0xFFFFFFFF:
            return ".".join(str(b) for b in struct.pack(">I", v)).encode()
    return None


def _normalize_path(path: bytes) -> bytes:
    """Safe-browsing path normalization: resolve /./ and /../, collapse
    duplicate slashes, then minimal-escape."""
    path = _unescape_repeatedly(path)
    if not path:
        path = b"/"
    # collapse consecutive slashes
    path = re.sub(rb"/+", b"/", path)
    segs = path.split(b"/")
    out: list[bytes] = []
    for seg in segs:
        if seg == b".":
            continue
        if seg == b"..":
            if len(out) > 1:
                out.pop()
            continue
        out.append(seg)
    norm = b"/".join(out)
    if path.endswith((b"/.", b"/..")) and not norm.endswith(b"/"):
        norm += b"/"
    if not norm.startswith(b"/"):
        norm = b"/" + norm
    return _escape_once(norm)


def _strip_query_session_id(query: bytes) -> bytes:
    for rx in _QUERY_SESSIONID_RES:
        while True:
            m = rx.match(query)
            if not m:
                break
            pre, post = m.group(1), m.group(2)
            q = pre
            if post:
                if q and not q.endswith(b"&"):
                    q += b"&"
                q += post
            query = q.rstrip(b"&")
    return query


def _strip_path_session_id(path: bytes) -> bytes:
    for rx in _PATH_SESSIONID_RES:
        m = rx.match(path)
        if m:
            groups = [g for g in m.groups() if g is not None]
            if len(groups) == 3:
                path = groups[0] + groups[2]
            else:
                path = b"".join(groups)
    return path


def parse_url(url: bytes):
    """Split a URL into (scheme, userinfo, host, port, path, query, frag).

    Raises :class:`SurtError` on structurally invalid URLs (notably a
    non-numeric port — the reference surt raised there too, which the engine
    converts into an original-url fallback; golden fixtures
    ``bad_url_with_colon_1/2``)."""
    m = _SCHEME_RE.match(url)
    if not m:
        scheme = b"http"
        rest = url
    else:
        scheme = m.group(1).lower()
        rest = url[m.end():]
    frag = None
    if b"#" in rest:
        rest, frag = rest.split(b"#", 1)
    query = None
    if b"?" in rest:
        rest, query = rest.split(b"?", 1)
    if b"/" in rest:
        netloc, path = rest.split(b"/", 1)
        path = b"/" + path
    else:
        netloc, path = rest, b""
    userinfo = None
    if b"@" in netloc:
        userinfo, netloc = netloc.rsplit(b"@", 1)
    port = None
    if b":" in netloc:
        netloc, port_s = netloc.split(b":", 1)
        if port_s:
            if not re.fullmatch(rb"\d+", port_s):
                raise SurtError("invalid port: %r" % port_s)
            port = int(port_s)
            if port > 65535:
                raise SurtError("port out of range: %d" % port)
    if not netloc:
        raise SurtError("empty host in %r" % url)
    return scheme, userinfo, netloc, port, path, query, frag


# Fast-path guard: URLs for which every canonicalization stage below is
# provably the identity, so the SURT form follows from pure string ops.
# Constraints encoded in the regex (each maps to a stage it neutralizes):
#   * literal lowercase "http://"         -> scheme parse, no default-port
#   * no userinfo/port (charset excludes ':' '@' in the host part)
#   * host = 2+ dot-separated [a-z0-9-] labels with >= one LETTER in the
#     first label char or anywhere (checked below)  -> lower()/strip('.')/
#     '..'-collapse/IP-normalization/escaping are all no-ops
#   * host does not match ^www\d*\.       -> www-strip is a no-op
#   * path charset [a-z0-9_./-] with no '%', '?', '#', space, upper,
#     ';', '(' -> unescape/escape/lower()/session-id strips are no-ops
#   * "//", "/." further excluded below   -> path resolution is a no-op
# Everything else falls through to the full algorithm (identical result
# by construction; pinned by tests/test_surt_properties.py fuzz parity).
_FAST_RE = re.compile(
    rb"^http://(?!www\d*\.)"
    rb"([a-z0-9-]+(?:\.[a-z0-9-]+)+)"
    rb"(/[a-z0-9_./-]*)?$")
_ALPHA_RE = re.compile(rb"[a-z]")


def _surt_fast(url: bytes) -> str | None:
    """SURT of a provably-trivial URL, or None to use the full path."""
    m = _FAST_RE.match(url)
    if m is None:
        return None
    host, path = m.group(1), m.group(2) or b""
    if _ALPHA_RE.search(host) is None:
        return None        # all-digit hosts enter IP normalization
    if b"//" in path or b"/." in path:
        return None        # duplicate-slash / dot-segment resolution
    if path.endswith(b"/") and len(path) > 1:
        path = path[:-1]
    return (b",".join(host.split(b".")[::-1]) + b")" + path).decode("ascii")


def surt(url: bytes | str) -> str:
    """Canonicalize ``url`` to its SURT form (lowercased), mirroring the
    reference's ``surt.surt`` behavior as pinned by the golden fixtures.

    Raises :class:`SurtError` for URLs the original library raised on."""
    if url is None or url == b"" or url == "":
        return "-"
    if isinstance(url, str):
        url = url.encode("utf-8", "surrogateescape")
    fast = _surt_fast(url)
    if fast is not None:
        return fast
    return _surt_full(url)


def _surt_full(url: bytes) -> str:
    """The full canonicalization pipeline (every URL the fast path
    declines).  Kept separately callable so the fast==full fuzz parity
    test (tests/test_surt_properties.py) can compare both on inputs the
    fast path accepts."""
    for p in _PASSTHROUGH_PREFIXES:
        if url.lower().startswith(p):
            return url.decode("latin-1")
    # safe-browsing: remove tab/CR/LF entirely before parsing
    url = url.replace(b"\t", b"").replace(b"\r", b"").replace(b"\n", b"")
    scheme, _user, host, port, path, query, _frag = parse_url(url)

    host = _canonicalize_host(host)
    if not host:
        raise SurtError("empty host after canonicalization")
    path = _normalize_path(path) if path else b""
    if query is not None:
        query = _minimal_escape(query)

    # ---- IA canonicalizer rules ----
    # lowercase before query reordering (golden: query param sort is on the
    # lowercased byte strings)
    path = path.lower()
    if query is not None:
        query = query.lower()
    path = _strip_path_session_id(path)
    if query is not None:
        query = _strip_query_session_id(query)
        parts = query.split(b"&") if query else [b""]
        parts.sort()
        query = b"&".join(parts)
    # strip leading www\d*. from registered hosts (not bare IPs)
    if not _IPV4_RE.match(host):
        host = re.sub(rb"^www\d*\.", b"", host, count=1)
    if port is not None and port == _DEFAULT_PORTS.get(scheme):
        port = None
    # strip one trailing slash unless the path is just '/'
    if path.endswith(b"/") and len(path) > 1:
        path = path[:-1]

    # ---- SURT formatting ----
    if _IPV4_RE.match(host):
        host_surt = host
    else:
        host_surt = b",".join(reversed(host.split(b".")))
    out = host_surt
    if port is not None:
        out += b":%d" % port
    out += b")" + path
    if query is not None:
        out += b"?" + query
    return out.decode("latin-1").lower()


def host_of(url: bytes | str) -> str:
    """Extract the canonicalized (lowercased, www-stripped) host of a URL;
    '-' when unparseable.  Used by the frontier's politeness bucketing."""
    try:
        if isinstance(url, str):
            url = url.encode("utf-8", "surrogateescape")
        m = _FAST_RE.match(url)
        if m is not None and _ALPHA_RE.search(m.group(1)) is not None:
            # same guard as _surt_fast: canonicalization is the identity
            return m.group(1).decode("ascii")
        _s, _u, host, _p, _pa, _q, _f = parse_url(
            url.replace(b"\t", b"").replace(b"\r", b"").replace(b"\n", b""))
        host = _canonicalize_host(host)
        if not _IPV4_RE.match(host):
            host = re.sub(rb"^www\d*\.", b"", host, count=1)
        return host.decode("latin-1")
    except (SurtError, ValueError):
        return "-"
