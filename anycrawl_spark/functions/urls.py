"""URL kernel: canonicalization, resolution, host extraction.

Replicates the dedup-key semantics of the reference (SURVEY §2.4):
- C1 canonicalization — the reference delegates to Crawlee 3.13
  ``Request.computeUniqueKey`` (reference: packages/scrape/src/engines/
  Base.ts:413-419), which parses through the WHATWG URL parser. The
  rebuild defines the normalization explicitly: lowercase scheme+host,
  strip default port, strip fragment, drop ``utm_*`` tracking params,
  sort remaining query params, '' path -> '/'. The PARSING layer is
  WHATWG-aligned and differential-fuzzed against Node's real parser
  (tests/test_urls.py::test_canonicalize_differential_fuzz_vs_whatwg —
  seeded 4k-case run in-tree; 100k+ cases across development seeds, zero
  unexplained divergences): tab/CR/LF removal
  anywhere, C0+space whole-input trim, special-authority slash/backslash
  soup, backslash-terminated authority, percent-decoded + IDN-punycoded
  hosts, forbidden-host-code-point and invalid-port rejection, the
  ends-in-number IPv4 rule (hex/octal/short forms canonicalize, invalid
  dotted numbers reject), bracketed shortest-form IPv6, dot-segment
  removal (incl. %2e spellings), backslash path separators, and the
  WHATWG path percent-encode set (UTF-8, uppercase hex, existing % bytes
  untouched). Documented deliberate deviations: trailing host dots fold
  (dedup choice; WHATWG keeps them, so dot-only hosts reject here),
  userinfo is dropped from the canonical form, the query is
  decode-sort-reencoded, and IDN uses Python's IDNA2003 codec (UTS46
  edges like ß differ).
- C2 malformed-URL repair — ``http:/x`` -> ``http://x`` (reference:
  packages/scrape/src/core/transformers/HTMLTransformer.ts:366-384).
- C3 uniqueKey composition — dedup key is ``(job_id, xxhash64(canonical))``
  (reference: Base.ts:420 ``${jobId}-${baseUnique}``).

The pure-Python functions here are shared verbatim by the pandas UDFs (Spark
side) and by the reference simulator (``crawl/simulator.py``) — parity between
the two is therefore structural, not coincidental.

Scale: all Spark-side use is via pandas UDFs (Arrow-vectorized). The hash used
for partitioning/join keys is Spark's JVM-side ``F.xxhash64`` — never Python.
The WHATWG layer is hot-path-guarded (skip the scheme rewrite when the input
already reads ``scheme://`` + non-slash, skip host/port/query/serialization
work for bare-domain no-query URLs): canonicalize_url_host micro-benches ~12%
FASTER than the pre-WHATWG kernel on the synthetic-crawl URL shape despite the
added semantics (99k vs 88k URLs/s/core, 200k-URL corpus).
"""

from __future__ import annotations

import codecs
import re
import unicodedata
from functools import lru_cache
from urllib.parse import parse_qsl, unquote, urlencode, urljoin, urlsplit

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

_DEFAULT_PORTS = {"http": "80", "https": "443", "ftp": "21"}

# --- WHATWG-alignment kernels (differential-fuzzed vs Node's real URL) ------
# The reference inherits WHATWG URL semantics through Crawlee's
# computeUniqueKey (Base.ts:413-419 -> Request.computeUniqueKey -> new URL).
# These helpers align the divergences that a differential fuzz against
# Node's parser (scripts/fuzz_url_whatwg in tests) showed to be real:
# scheme-adjacent slash soup, percent-encoded/forbidden/IDN hosts, the
# ends-in-number IPv4 rule, invalid-port rejection, IPv6 brackets, path
# dot-segment removal (incl. %2e forms), backslash-as-slash, and the WHATWG
# path percent-encode set. Deliberate documented deviations from WHATWG:
# trailing host dots are folded (example.com. == example.com — a dedup
# choice; WHATWG keeps the dot), userinfo is dropped from the canonical
# form, the query is decode-sort-reencoded (+ utm_* strip), and IDN uses
# Python's IDNA2003 codec (UTS46 edge cases like ß differ).

# WHATWG "special authority ignore slashes": any run of / and \ after the
# scheme colon collapses to //, so http:example.com and http:\\x parse.
_SCHEME_SLASHES = re.compile(r"^(https?):[/\\]*", re.I)
# Hosts matching this (after lowercase + trailing-dot strip) need no
# percent/IDN/forbidden-char work; the numeric-last-label check still runs.
_HOST_SIMPLE = re.compile(r"^[a-z0-9_-]+(?:\.[a-z0-9_-]+)*$")
# WHATWG ends-in-number: decimal, 0x-hex, or legacy-octal final label
# forces IPv4 parsing (failure rejects the URL).
_NUMERIC_LABEL = re.compile(r"^(?:[0-9]+|0[xX][0-9a-fA-F]*)$")
# Forbidden host code points (WHATWG; % is forbidden in a DOMAIN after
# percent-decoding, i.e. a host may not still contain one).
_FORBIDDEN_HOST = set('\x00\t\n\r #%/:<>?@[\\]^|')
# Paths with none of: backslash, encoded dots, dot segments, chars outside
# the WHATWG keep set — are already canonical (the synth/crawl fast path).
_PATH_DIRTY = re.compile(r'[\\"<>`{}]|%2[eE]|(?:^|/)\.{1,2}(?:/|$)|[^\x21-\x7e]')
_PATH_KEEP = frozenset(
    chr(c) for c in range(0x21, 0x7F) if chr(c) not in '"<>`{}'
)
_DOT_SEG = re.compile(r"(?i)%2e")
# WHATWG input trim set: C0 controls + U+0020 only (str.strip() would also
# eat U+00A0/U+2028/... which WHATWG keeps and percent-encodes).
_C0_AND_SPACE = "".join(chr(c) for c in range(0x21))
# First authority-terminating character after "scheme://" (search offset 8
# lands inside the authority for both http:// and https://).
_AUTH_END = re.compile(r"[/\\?#]")


def _ipv4_number(part: str) -> int | None:
    """WHATWG IPv4-number parser: 0x hex (empty ok), leading-0 octal, dec."""
    if part[:2] in ("0x", "0X"):
        body = part[2:]
        if body and not all(c in "0123456789abcdefABCDEF" for c in body):
            return None
        return int(body, 16) if body else 0
    if not part.isdigit():
        return None
    if len(part) > 1 and part[0] == "0":
        if not all(c in "01234567" for c in part):
            return None
        return int(part, 8)
    return int(part, 10)


def _canon_ipv4(host: str) -> str | None:
    """WHATWG IPv4 parser for ends-in-number hosts: canonical dotted quad
    or None (which rejects the whole URL, matching Node)."""
    parts = host.split(".")
    if len(parts) > 4:
        return None
    nums = []
    for p in parts:
        n = _ipv4_number(p)
        if n is None:
            return None
        nums.append(n)
    if any(n > 255 for n in nums[:-1]) or nums[-1] >= 256 ** (5 - len(nums)):
        return None
    ip = nums[-1]
    for i, n in enumerate(nums[:-1]):
        ip += n * 256 ** (3 - i)
    return f"{ip >> 24}.{(ip >> 16) & 255}.{(ip >> 8) & 255}.{ip & 255}"


@lru_cache(maxsize=4096)
def _valid_punycode_label(label: str) -> bool:
    """Approximate UTS46 toUnicode validation of an ``xn--`` label (node
    rejects invalid ACE labels — 'xn--', 'xn--a', 'xn--zzzzzz' all throw):
    the punycode body must decode, yield something non-empty with no
    control/unassigned/format code points, and round-trip back to the same
    label through the IDNA codec. UTS46's disallowed-assigned table is not
    in the stdlib, so a few exotic labels node rejects pass here
    (documented approximation; found by the template-url node fuzz)."""
    body = label[4:]
    if not body:
        return False
    try:
        decoded = codecs.decode(body, "punycode")
    except UnicodeError:
        return False
    if not decoded or any(unicodedata.category(ch)[0] == "C" for ch in decoded):
        return False
    try:
        return decoded.encode("idna").decode("ascii") == label
    except UnicodeError:
        return False


def _canon_host(host: str) -> str | None:
    """Canonical domain/IPv4 per WHATWG host parsing (sans IPv6 — the
    caller handles bracket hosts): percent-decode, forbidden-code-point
    check, IDN punycode, trailing-dot fold (ours), ends-in-number IPv4."""
    host = host.rstrip(".")
    if not host:
        return None
    if not _HOST_SIMPLE.match(host):
        if "%" in host:
            try:
                host = unquote(host, errors="strict").lower()
            except UnicodeDecodeError:
                return None
        if any(c in _FORBIDDEN_HOST for c in host):
            return None
        host = host.rstrip(".")
        if not host:
            return None
        if not host.isascii():
            try:
                host = host.encode("idna").decode("ascii")
            except UnicodeError:
                return None
    if "xn--" in host:  # guarded: substring miss keeps the hot path intact
        for lab in host.split("."):
            if lab.startswith("xn--") and not _valid_punycode_label(lab):
                return None
    label = host.rpartition(".")[2]
    # every ends-in-number form (dec/hex/octal) starts with a digit — the
    # isdigit pre-filter skips the regex for the alpha-TLD hot path
    if label[:1].isdigit() and _NUMERIC_LABEL.match(label):
        return _canon_ipv4(host)
    return host


def _canon_path(path: str) -> str:
    """WHATWG path serialization: backslashes are segment separators,
    dot segments (incl. %2e/%2E spellings) are resolved, and characters
    outside the path keep-set are UTF-8 percent-encoded (uppercase hex;
    existing % bytes — valid or not — are never touched, like Node)."""
    path = path.replace("\\", "/")
    segs = path.split("/")[1:]  # absolute: drop the leading empty segment
    out: list[str] = []
    for i, seg in enumerate(segs):
        dots = _DOT_SEG.sub(".", seg)
        last = i == len(segs) - 1
        if dots == ".":
            if last:
                out.append("")
        elif dots == "..":
            if out:
                out.pop()
            if last:
                out.append("")
        else:
            out.append(seg)
    enc = [
        "".join(
            c if c in _PATH_KEEP else
            "".join(f"%{b:02X}" for b in c.encode("utf-8"))
            for c in seg
        )
        for seg in out
    ]
    return "/" + "/".join(enc)


def fix_malformed(url: str) -> str:
    """Repair ``http:/host`` -> ``http://host`` like the reference does."""
    if url.startswith("http:/") and not url.startswith("http://"):
        return "http://" + url[6:]
    if url.startswith("https:/") and not url.startswith("https://"):
        return "https://" + url[7:]
    return url


def resolve_url(base: str, rel: str) -> str:
    """Relative -> absolute resolution with malformed-URL repair (C2)."""
    try:
        return urljoin(base, fix_malformed(rel.strip()))
    except ValueError:
        return rel


def canonicalize_url_host(url: str) -> tuple[str | None, str | None]:
    """C1 canonical form + the canonical HOST from a single urlsplit.

    The candidate gate needs both for every link; sharing the split saves a
    second full URL parse per candidate (urlsplit is the gate kernel's
    hottest call). Returns (None, None) for unusable URLs.
    """
    if not url:
        return None, None
    # WHATWG removes ASCII tab/CR/LF ANYWHERE in the input before parsing
    # (so must we, before the fragment split / scheme match see them)
    if "\t" in url or "\n" in url or "\r" in url:
        url = url.replace("\t", "").replace("\n", "").replace("\r", "")
    # WHATWG trims C0-control/space from the WHOLE input ends BEFORE any
    # parsing, so whitespace just before a '#' is path content (-> %20),
    # not trailing garbage; idempotency holds because such spaces are
    # percent-encoded below. (Python's str.strip() would also eat U+00A0
    # etc., which WHATWG keeps — hence the explicit C0+space strip set.)
    url = url.strip(_C0_AND_SPACE).split("#", 1)[0]
    # WHATWG "special authority ignore slashes": http:example.com,
    # http:/x, http:\\x, http:///x all carry an authority (subsumes
    # fix_malformed for the absolute-URL case). Hot path: an exact
    # lowercase "scheme://" followed by a non-slash authority byte needs
    # no rewrite — skip the regex sub (it is the kernel's hottest line).
    nxt = (
        url[7:8] if url.startswith("http://")
        else url[8:9] if url.startswith("https://")
        else None
    )
    if nxt is None or nxt == "/" or nxt == "\\":
        url = _SCHEME_SLASHES.sub(
            lambda m: m.group(1).lower() + "://", url, count=1
        )
    # WHATWG: a backslash also TERMINATES the authority (urlsplit would
    # swallow it into the netloc); later backslashes are path separators
    # and _canon_path folds those
    if "\\" in url:
        m = _AUTH_END.search(url, 8)
        if m and m.group() == "\\":
            url = f"{url[:m.start()]}/{url[m.start() + 1:]}"
    try:
        parts = urlsplit(url)
    except ValueError:
        return None, None
    scheme = parts.scheme
    if scheme not in ("http", "https"):
        return None, None
    raw_netloc = parts.netloc
    if "@" not in raw_netloc and ":" not in raw_netloc and "[" not in raw_netloc:
        # hot path: bare domain, no userinfo/port/IPv6 — parts.hostname
        # would return exactly raw_netloc.lower()
        host = raw_netloc.lower()
        port = None
    else:
        host = parts.hostname  # lowercased; IPv6 comes back bracket-stripped
        if not host:
            return None, None
        hostpart = raw_netloc.rpartition("@")[2]
        if ":" in host:  # bracket host: canonical IPv6 (shortest) or bust
            try:
                import ipaddress

                host = str(ipaddress.IPv6Address(host))
            except ValueError:
                return None, None
            # canonical IPv6 keeps ':' — the shared tail re-brackets it
        elif hostpart.startswith("["):
            # WHATWG: a bracket host MUST parse as IPv6 — [v1.x] and
            # [1.2.3.4] both throw in node (template-url node fuzz)
            return None, None
        # WHATWG: a non-numeric or out-of-range port is fatal. Python's
        # parts.port is too lenient (int() strips whitespace, accepts
        # '+80'), so the raw port text must be digits-only as well.
        port_text = hostpart.rpartition("]")[2] if "]" in hostpart else hostpart
        port_text = port_text.rpartition(":")[2] if ":" in port_text else ""
        if port_text and not port_text.isdigit():
            return None, None
        try:
            port = parts.port
        except ValueError:
            return None, None
    if not host:
        return None, None
    if ":" in host:
        bracketed = f"[{host}]"
    else:
        host = _canon_host(host)
        if host is None:
            return None, None
        bracketed = host
    netloc = bracketed
    if port is not None and str(port) != _DEFAULT_PORTS.get(scheme):
        netloc = f"{bracketed}:{port}"
    path = parts.path or "/"
    if not path.startswith("/"):
        path = "/" + path
    if _PATH_DIRTY.search(path):
        path = _canon_path(path)
    if parts.query:
        qs = [
            (k, v)
            for k, v in parse_qsl(parts.query, keep_blank_values=True)
            if not k.lower().startswith("utm_")
        ]
        qs.sort()
        query = urlencode(qs)
    else:
        query = ""
    # manual serialization == urlunsplit for (scheme, netloc, /path, q, '')
    if query:
        return f"{scheme}://{netloc}{path}?{query}", host
    return f"{scheme}://{netloc}{path}", host


def canonicalize_url(url: str) -> str | None:
    """C1: deterministic canonical form used as the dedup key basis.

    Returns None for unsupported/unusable URLs (non-http(s), empty,
    javascript:, mailto:, fragment-only).
    """
    return canonicalize_url_host(url)[0]


def url_host(url: str) -> str | None:
    try:
        h = urlsplit(url).hostname
        return h.lower().rstrip(".") if h else None
    except ValueError:
        return None


def url_origin(url: str) -> str | None:
    """scheme://host:port — the F3 ``same-origin`` scope key."""
    try:
        p = urlsplit(url)
    except ValueError:
        return None
    if not p.hostname:
        return None
    scheme = p.scheme.lower()
    host = p.hostname.lower().rstrip(".")
    try:
        port = p.port
    except ValueError:
        port = None
    eff = str(port) if port is not None else _DEFAULT_PORTS.get(scheme, "")
    return f"{scheme}://{host}:{eff}"


def registrable_domain(host: str | None) -> str | None:
    """eTLD+1 via the real public-suffix list (data/public_suffixes.py,
    publicsuffix.org semantics: longest match, wildcards, exceptions) — the
    ``same-domain`` scope key. The reference gets this from Crawlee/tldts,
    which embeds the same list."""
    from anycrawl_spark.data.public_suffixes import registrable_domain_psl

    return registrable_domain_psl(host)


# --- pandas UDFs (Arrow-vectorized Spark surface) --------------------------

@F.pandas_udf(T.StringType())
def canonicalize_url_udf(urls: pd.Series) -> pd.Series:
    return urls.map(lambda u: canonicalize_url(u) if u is not None else None)


@F.pandas_udf(T.StringType())
def host_udf(urls: pd.Series) -> pd.Series:
    return urls.map(lambda u: url_host(u) if u is not None else None)


def with_url_key(df, url_col: str = "url"):
    """Attach (canonical url, url_hash, host) — the standard key triple.

    url_hash is JVM-side xxhash64 so join/partition keys never round-trip
    through Python.
    """
    return (
        df.withColumn(url_col, canonicalize_url_udf(F.col(url_col)))
        .filter(F.col(url_col).isNotNull())
        .withColumn("url_hash", F.xxhash64(F.col(url_col)))
        .withColumn("host", host_udf(F.col(url_col)))
    )
