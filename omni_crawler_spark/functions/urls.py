"""URL canonicalization + hashing as pure column expressions.

The reference keeps URLs raw and dedups on ``md5(url)`` of the *raw*
string (src/discovery/url_discovery_engine.py:108-123), so
``http://WWW.Example.com/a?b=1&a=2#x`` and
``http://example.com/a?a=2&b=1`` count as different pages. Per the
north rule we canonicalize first, then hash. Canonical form:

1. trim surrounding whitespace;
2. scheme lowercased;
3. host lowercased, leading ``www.`` stripped
   (mirrors the reference's domain normalization,
   src/crawler/simple_crawler.py:122-132);
4. default ports stripped (``:80`` for http, ``:443`` for https);
5. fragment dropped;
6. query parameters sorted bytewise (so permutations collide);
7. trailing slash stripped from non-root paths.

All steps are built-in column functions → whole-stage codegen, no
Python. The same semantics are mirrored in the DuckDB oracle SQL
(analytics/registry.py) and property-tested in tests/test_urls.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _scheme(url: Column) -> Column:
    return F.lower(F.regexp_extract(url, r"^\s*([A-Za-z][A-Za-z0-9+.-]*)://", 1))


def _after_scheme(url: Column) -> Column:
    """authority + path + query + fragment (raw, scheme stripped)."""
    return F.regexp_replace(F.trim(url), r"^[A-Za-z][A-Za-z0-9+.-]*://", "")


def url_host(url: Column) -> Column:
    """Lowercased host without ``www.`` prefix, port or userinfo."""
    authority = F.regexp_extract(_after_scheme(url), r"^([^/?#]*)", 1)
    no_user = F.regexp_replace(authority, r"^[^@]*@", "")
    no_port = F.regexp_replace(no_user, r":\d*$", "")
    return F.regexp_replace(F.lower(no_port), r"^www\.", "")


def _port_suffix(url: Column) -> Column:
    """':NNNN' port suffix, or '' — with default ports removed."""
    authority = F.regexp_extract(_after_scheme(url), r"^([^/?#]*)", 1)
    port = F.regexp_extract(authority, r":(\d+)$", 1)
    scheme = _scheme(url)
    is_default = ((scheme == "http") & (port == "80")) | (
        (scheme == "https") & (port == "443")
    )
    return F.when((port == "") | is_default, F.lit("")).otherwise(
        F.concat(F.lit(":"), port)
    )


def _path(url: Column) -> Column:
    """Path with a trailing slash stripped unless it's the root path."""
    rest = F.regexp_replace(_after_scheme(url), r"^[^/?#]*", "")
    path = F.regexp_extract(rest, r"^([^?#]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    return F.when(path == "/", path).otherwise(
        F.regexp_replace(path, r"/$", "")
    )


def _sorted_query(url: Column) -> Column:
    """'?k=v&...' with params bytewise-sorted, or ''."""
    rest = F.regexp_replace(_after_scheme(url), r"^[^/?#]*", "")
    qs = F.regexp_extract(rest, r"\?([^#]*)", 1)
    sorted_qs = F.array_join(F.array_sort(F.split(qs, "&")), "&")
    return F.when(qs == "", F.lit("")).otherwise(F.concat(F.lit("?"), sorted_qs))


def canonicalize_url(url: Column) -> Column:
    """Full canonical URL string (see module docstring for the rules)."""
    return F.concat(
        _scheme(url),
        F.lit("://"),
        url_host(url),
        _port_suffix(url),
        _path(url),
        _sorted_query(url),
    )


def url_hash64(canonical_url: Column) -> Column:
    """64-bit key for the seen-set / bloom filter (xxhash64, JVM-side).

    Replaces the reference's hex md5 membership key
    (src/discovery/url_discovery_engine.py:111) with an 8-byte long —
    at 10^10 URLs that is 80 GB of keys instead of 320 GB of hex
    strings, and it hash-partitions for free.
    """
    return F.xxhash64(canonical_url)


def url_seen_md5(url: Column) -> Column:
    """Reference-compatible seen key: hex md5 of the raw URL
    (src/discovery/url_discovery_engine.py:108-115). Kept for
    byte-identical seen-set comparison against reference semantics."""
    return F.md5(url.cast("binary"))


def trap_signals(url: Column) -> Column:
    """Crawl-trap admission signals from the URL string alone, as a
    struct (path_depth, max_seg_count, n_params, has_calendar,
    verdict) — the four heuristics that keep infinite URL spaces
    (auto-generated deep trees, cyclic path repeats, calendar pages,
    parameter explosions) out of a 10^10-URL frontier. Thresholds:
    depth >= 8, any segment >= 3 times, /YYYY/MM/DD tail, >= 8 query
    params; verdict precedence deep > repeat > calendar > params.

    Pure column expressions (array higher-order functions — segment
    multiplicity cannot be a regex, RE2 has no backreferences), zero
    shuffle, O(segments^2) per row with segments <= 16. Shared by the
    oracle-paired ``crawl_trap_detect`` query and CrawlEngine's
    opt-in ``trap_filter`` admission gate so both enforce the same
    policy. The reference's only trap defense is its BFS depth cap
    (url_discovery_engine.py:28)."""
    segs = F.filter(
        F.split(F.regexp_extract(url, "^https?://[^/?]+([^?]*)", 1), "/"),
        lambda x: x != "",
    )
    path_depth = F.size(segs).cast("long")
    max_seg_count = F.coalesce(
        F.array_max(
            F.transform(
                segs, lambda x: F.size(F.filter(segs, lambda y: y == x))
            )
        ),
        F.lit(0),
    ).cast("long")
    # params are counted in the QUERY STRING only — '&' is legal in
    # path segments, and counting it there would reject legitimate
    # URLs once this predicate gates frontier admission
    query = F.regexp_extract(url, "\\?(.*)$", 1)
    n_params = F.size(
        F.filter(F.split(query, "&"), lambda x: x != "")
    ).cast("long")
    has_calendar = url.rlike("/20[0-9][0-9]/[0-9][0-9]/[0-9][0-9]")
    verdict = (
        F.when(path_depth >= 8, F.lit("trap_deep"))
        .when(max_seg_count >= 3, F.lit("trap_repeat"))
        .when(has_calendar, F.lit("trap_calendar"))
        .when(n_params >= 8, F.lit("trap_params"))
        .otherwise(F.lit("ok"))
    )
    return F.struct(
        path_depth.alias("path_depth"),
        max_seg_count.alias("max_seg_count"),
        n_params.alias("n_params"),
        has_calendar.alias("has_calendar"),
        verdict.alias("verdict"),
    )
