"""URL canonicalization — the heart of the engine (SURVEY.md §2.8).

Capability parity: BASELINE.json north_star names the exact op list —
"URL normalization (scheme/host lowercasing, query canonicalization,
fragment stripping)" keyed by "canonicalized URL hash".

Canonicalization spec (frozen; golden tests depend on it):
  1. scheme and host lowercased
  2. default port stripped (http:80, https:443)
  3. fragment removed
  4. query parameters parsed, sorted by (key, value) stably, re-encoded;
     empty query drops the '?'
  5. path dot-segments removed (RFC 3986 §5.2.4); empty path -> '/'
  6. percent-encodings: unreserved characters decoded, remaining escapes
     uppercased (via quote(unquote(...)) round-trip with a fixed safe set)
  7. leading/trailing whitespace stripped

Implemented as vectorized pandas UDFs (Arrow batches — no per-row Python
at the Spark level). The 64-bit dedup key is computed JVM-side with the
built-in ``xxhash64`` so it never leaves whole-stage codegen.
"""

from __future__ import annotations

import re

from urllib.parse import quote, unquote, urlsplit, urlunsplit, parse_qsl, urlencode, urljoin

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType
from pyspark.sql.functions import pandas_udf

_SAFE_PATH = "/:@!$&'()*+,;=~-._"
_DEFAULT_PORTS = {"http": "80", "https": "443"}


def _remove_dot_segments(path: str) -> str:
    # RFC 3986 §5.2.4
    out: list[str] = []
    for seg in path.split("/"):
        if seg == ".":
            continue
        if seg == "..":
            if out and out[-1] != "":
                out.pop()
                if not out:
                    out = [""]
            continue
        out.append(seg)
    norm = "/".join(out)
    if path.startswith("/") and not norm.startswith("/"):
        norm = "/" + norm
    return norm


def canonicalize_one(url: str) -> str:
    """Canonicalize a single URL (pure Python; the pandas UDF maps this
    over an Arrow batch). Kept importable for unit/property tests."""
    if url is None:
        return None
    u = url.strip()
    try:
        parts = urlsplit(u)
    except ValueError:
        return u
    scheme = parts.scheme.lower()
    host = (parts.hostname or "").lower()
    # IDNA hosts stay as-is (bytes-level determinism; no network).
    port = parts.port
    netloc = host
    if port is not None and str(port) != _DEFAULT_PORTS.get(scheme, ""):
        netloc = f"{host}:{port}"
    if parts.username:
        cred = parts.username + (f":{parts.password}" if parts.password else "")
        netloc = f"{cred}@{netloc}"
    path = _remove_dot_segments(parts.path) or "/"
    path = quote(unquote(path), safe=_SAFE_PATH)
    qsl = parse_qsl(parts.query, keep_blank_values=True)
    query = urlencode(sorted(qsl)) if qsl else ""
    return urlunsplit((scheme, netloc, path, query, ""))


# Absolute hrefs already in canonical form (lowercase scheme+host, no port/
# userinfo/query/fragment/escape, no dot segments) skip the urlsplit round-
# trip — the dominant extractor cost on link-dense pages. The property test
# asserts fast-path output == canonicalize_one output on generated URLs.
_FAST_CANONICAL_RE = re.compile(
    r"^https?://[a-z0-9-]+(?:\.[a-z0-9-]+)+"
    r"(?:/(?:(?!\.{1,2}(?:/|$))[A-Za-z0-9._~-]+/)*(?!\.{1,2}$)[A-Za-z0-9._~-]*)$"
)


# scheme://authority/path split for the cheap-transform tail of resolve_one
# (r6). No userinfo handling needed: an '@' in the authority survives the
# lowercasing and then fails the final _FAST_CANONICAL_RE certification, so
# those hrefs fall through to the full slow path untouched.
_CHEAP_ABS_RE = re.compile(r"^([hH][tT][tT][pP][sS]?)://([^/?#]*)([^?#]*)$")


def resolve_one(base: str, href: str) -> str | None:
    """Resolve an href against a base URL; http(s) only, else None."""
    if href is None:
        return None
    href = href.strip()
    if not href or href.startswith(("javascript:", "mailto:", "data:", "#")):
        return None
    if _FAST_CANONICAL_RE.match(href):
        return href
    # Cheap exact transforms for the classic dirty absolute forms —
    # fragment, scheme/host case, default port, dot segments (RFC 3986's
    # own normalization steps, and the overwhelming bulk of real dirty
    # hrefs). Each transform preserves the canonical equivalence class;
    # the final _FAST_CANONICAL_RE match CERTIFIES the result is already
    # in canonical form, so on match the transformed string equals
    # canonicalize_one(urljoin(base, href)) without the urlsplit
    # round-trip (measured ~3x on the extract stage's dirty-link tail;
    # equality is property-tested in tests/unit/test_urlnorm.py). On
    # no-match the ORIGINAL href takes the slow path below.
    i = href.find("#")
    h = href[:i] if i >= 0 else href
    m = _CHEAP_ABS_RE.match(h)
    if m is not None and (
        m[1].islower() or base[: len(m[1]) + 3].lower() == m[1].lower() + "://"
    ):
        # The guard mirrors a urljoin quirk the slow path inherits: urljoin
        # lowercases the href's scheme only when it equals the base's
        # scheme; otherwise the href comes back verbatim and the
        # case-sensitive http(s):// check below DROPS mixed-case schemes.
        # The cheap path therefore only fires when the slow path would
        # keep the link (lowercase scheme, or scheme == base's).
        scheme = m[1].lower()
        auth = m[2].lower()
        path = m[3]
        if auth.endswith(":80" if scheme == "http" else ":443"):
            auth = auth.rpartition(":")[0]
        if "." in path and (
            "/../" in path or "/./" in path or path.endswith(("/..", "/."))
        ):
            path = _remove_dot_segments(path)
        t = f"{scheme}://{auth}{path}"
        if _FAST_CANONICAL_RE.match(t):
            return t
    try:
        joined = urljoin(base, href)
    except ValueError:
        return None
    if not joined.startswith(("http://", "https://")):
        return None
    return canonicalize_one(joined)


@pandas_udf(StringType())
def canonicalize_udf(urls: pd.Series) -> pd.Series:
    return urls.map(canonicalize_one, na_action="ignore")


def extract_host(url: Column) -> Column:
    """Registrable host of an (already canonical) URL — pure JVM built-ins
    (parse_url stays inside whole-stage codegen; no Python round-trip)."""
    return F.lower(F.parse_url(url, F.lit("HOST")))
