"""URL column functions for webtext tables — all JVM expressions
(`parse_url` + regex), zero Python.

The engine's tables key on ``url`` (BASELINE.json input_hint); its rules
already derive hosts ad hoc (``parse_url(url, 'HOST')`` in refint fact
exprs, ref rules/refint.py:69). This module centralizes the derivations a
Common-Crawl-style pipeline needs: host, registered domain (public-suffix
LITE — a fixed multi-part-TLD inventory, documented), path depth,
normalization for dedup keys. The reference's ancestor is its per-file
identity handling (paths/URIs as record keys, ref: transcription/models.py
TranscriptionResult.audio_path semantics).

At 10^12 rows every one of these is a scan-local projection; the intended
use is groupBy(registered_domain) skew diagnostics and normalized-url
exact dedup (operators/dedup.py) without a second tokenization of the key.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# multi-part public suffixes the LITE registered-domain logic recognizes;
# a real deployment would load the full public-suffix list as a broadcast
# lookup — same column signature
MULTI_PART_SUFFIXES = [
    "co.uk", "ac.uk", "gov.uk", "co.jp", "ne.jp", "or.jp",
    "com.au", "net.au", "org.au", "com.br", "com.cn", "com.mx",
]


def _c(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def url_host(c: Column | str) -> Column:
    """Lowercased host; NULL for unparseable urls (try_parse_url — ANSI
    parse_url raises on malformed input in Spark 4)."""
    return F.lower(F.try_parse_url(_c(c), F.lit("HOST")))


def url_path(c: Column | str) -> Column:
    return F.try_parse_url(_c(c), F.lit("PATH"))


def path_depth(c: Column | str) -> Column:
    """Number of non-empty path segments ('/a/b/' → 2; '' or '/' → 0)."""
    p = F.coalesce(url_path(_c(c)), F.lit(""))
    segs = F.filter(F.split(p, "/"), lambda s: s != "")
    return F.size(segs).cast("long")


def registered_domain(c: Column | str) -> Column:
    """eTLD+1 under the LITE suffix inventory: last 2 host labels, or last 3
    when the last 2 form a known multi-part suffix (e.g. bbc.co.uk). Hosts
    with <2 labels (localhost) and IPv4 literals return the host itself."""
    host = url_host(_c(c))
    labels = F.split(host, r"\.")
    n = F.size(labels)
    last2 = F.concat_ws(".", F.slice(labels, F.greatest(n - 1, F.lit(1)), 2))
    last3 = F.concat_ws(".", F.slice(labels, F.greatest(n - 2, F.lit(1)), 3))
    suffixes = F.array(*[F.lit(s) for s in MULTI_PART_SUFFIXES])
    is_ip = host.rlike(r"^(\d{1,3}\.){3}\d{1,3}$")
    return (
        F.when(host.isNull(), F.lit(None).cast("string"))
        .when(is_ip | (n <= 2), host)
        .when(F.array_contains(suffixes, last2), last3)
        .otherwise(last2)
    )


def surt_key(c: Column | str) -> Column:
    """LITE SURT (Sort-friendly URI Reordering Transform, the pywb/
    OpenWayback CDX key): reversed comma-joined host labels + ')' +
    lowercased path[?query]; fragment dropped, empty path canonicalized to
    '/'. Sorting on it clusters a domain's pages contiguously, which is
    what makes a range-partitioned url index seekable. NULL for urls with
    no parseable host."""
    host = url_host(_c(c))
    rev = F.concat_ws(",", F.reverse(F.split(host, r"\.")))
    u = F.regexp_replace(_c(c), r"#.*$", "")
    tail = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([/?][^#]*)?", 1)
    tail = F.when(tail == "", F.lit("/")).otherwise(F.lower(tail))
    return F.when(host.isNull(), F.lit(None).cast("string")).otherwise(
        F.concat(rev, F.lit(")"), tail)
    )


def normalize_url(c: Column | str) -> Column:
    """Canonical form for exact-dedup keys: lowercase scheme+host, strip
    fragment, strip default ports (:80 http / :443 https), drop trailing
    slash on a bare host path. Query string is preserved verbatim (order
    is significant to many origin servers — not resorted)."""
    u = F.regexp_replace(_c(c), r"#.*$", "")  # fragment
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    after = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    auth = F.regexp_extract(after, r"^([^/?#]*)", 1)
    tail = F.regexp_replace(after, r"^[^/?#]*", "")
    r = F.concat(scheme, F.lit("://"), F.lower(auth), tail)
    r = F.regexp_replace(r, r"^(https://[^/:?#]+):443(?=[/?#]|$)", "$1")
    r = F.regexp_replace(r, r"^(http://[^/:?#]+):80(?=[/?#]|$)", "$1")
    # bare-host trailing slash: "http://a.b/" -> "http://a.b"
    r = F.regexp_replace(r, r"^([a-z0-9+.-]+://[^/?#]+)/$", "$1")
    # scheme-less strings pass through (fragment still stripped)
    return F.when(scheme == "", u).otherwise(r)
