"""URL kernel — vectorized re-implementations of the reference's URL semantics.

Each function is a pure Column expression (JVM-side, inside whole-stage
codegen — faster than any UDF). Reference semantics are transcribed, not
copied, from the cited Go functions:

- ``normalize_url_seen``   ← ``NormalizeURL``            /root/reference/pkg/common/url.go:24-32
- ``normalize_link``       ← ``normalizeURL(url, 0)``    /root/reference/pkg/crawler/crawler.go:2104-2114
- ``combine_urls``         ← ``combineURLs``             /root/reference/pkg/crawler/crawler.go:2433-2447
- ``is_valid_url``         ← ``IsValidURL``              /root/reference/pkg/crawler/crawler.go:2016-2041
                              + ``classifySourceProtocol`` /root/reference/pkg/crawler/protocol.go:33-50
- ``url_to_host``          ← ``URLToHost``               /root/reference/pkg/common/common.go:206-217
- ``url_hostname``         ← Go ``url.Parse().Hostname()`` (port/userinfo stripped)
- ``domain_parts``         ← ``getDomainParts``          /root/reference/pkg/crawler/crawler.go:2175-2187
- ``is_external_link``     ← ``isExternalLink``          /root/reference/pkg/crawler/crawler.go:2131-2172

Known, documented approximations (hold for any http(s) URL corpus):
- Go ``url.ParseRequestURI`` failure is modeled as "contains whitespace
  or is empty" — the only failure mode reachable from ``<a href>``
  extraction in practice.
- domain-level-0/1 comparisons use the raw trimmed strings instead of
  Go's re-serialized ``url.URL.String()`` (identical unless the URL
  needs percent-re-encoding).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Web schemes the reference accepts, case-sensitively
#: (/root/reference/pkg/crawler/protocol.go:33).
WEB_SCHEME_PREFIXES = ("http://", "https://", "ftp://", "ftps://")


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def rtrim_slashes(c: Column | str) -> Column:
    """strings.TrimRight(url, "/") — strip ALL trailing slashes.

    ``rtrim(col, '/')`` is the exact char-set TrimRight and ~2× faster
    than the regexp_replace('/+$') equivalent (measured 0.42 s vs
    0.84 s warm over 3M URLs on local[8]) — this runs 2× per discovered
    link in the crawl hot path."""
    return F.rtrim(_col(c), F.lit("/"))


def normalize_url_seen(c: Column | str) -> Column:
    """Dedup key: trim → strip trailing '/' → lowercase.

    Reference: ``NormalizeURL`` /root/reference/pkg/common/url.go:24-32.
    """
    return F.lower(rtrim_slashes(F.trim(_col(c))))


def normalize_link(c: Column | str) -> Column:
    """Fetch-URL normalization: trim → strip trailing '/', case KEPT.

    Reference: ``normalizeURL(link, 0)`` at link extraction,
    /root/reference/pkg/crawler/crawler.go:2065,2104-2114. Note the
    asymmetry with :func:`normalize_url_seen` (SURVEY.md §7 trap 2).
    """
    return rtrim_slashes(F.trim(_col(c)))


def scheme_host(c: Column | str) -> Column:
    """``scheme://host`` prefix of an absolute URL ('' if none)."""
    return F.regexp_extract(F.trim(_col(c)), r"^([A-Za-z][A-Za-z0-9+.\-]*://[^/]*)", 1)


def combine_urls(base: Column | str, link: Column | str) -> Column:
    """Relative-URL resolution: '/x' → scheme://host-of-base + '/x'.

    Reference: ``combineURLs`` /root/reference/pkg/crawler/crawler.go:2433-2447
    (only root-relative links are resolved; everything else passes through).
    """
    link_c = _col(link)
    return F.when(link_c.startswith("/"), F.concat(scheme_host(base), link_c)).otherwise(link_c)


def is_valid_url(c: Column | str) -> Column:
    """Validity per ``IsValidURL`` /root/reference/pkg/crawler/crawler.go:2016-2041.

    trim → prepend ``http://`` if schemeless → scheme must be a web
    scheme (case-sensitive prefix match, protocol.go:37-43) → reject a
    bare ``scheme://`` → reject unparseable (≈ internal whitespace).
    """
    t = F.trim(_col(c))
    with_scheme = F.when(t.contains("://"), t).otherwise(F.concat(F.lit("http://"), t))
    scheme_ok = F.lit(False)
    for p in WEB_SCHEME_PREFIXES:
        scheme_ok = scheme_ok | with_scheme.startswith(p)
    not_bare = ~with_scheme.endswith("://")
    parseable = ~t.rlike(r"\s")
    return (t != "") & scheme_ok & not_bare & parseable


def url_to_host(c: Column | str) -> Column:
    """Host (PORT KEPT, case kept) — string slicing, not URI parsing.

    Reference: ``URLToHost`` /root/reference/pkg/common/common.go:206-217:
    cut after first ``://``, cut at first ``/``, trim.
    """
    t = F.trim(_col(c))
    no_scheme = F.regexp_replace(t, r"^.*?://", "")
    return F.trim(F.substring_index(no_scheme, "/", 1))


def url_hostname(c: Column | str) -> Column:
    """Hostname as Go ``url.Parse().Hostname()``: no port, no userinfo."""
    t = F.trim(_col(c))
    return F.regexp_extract(t, r"^(?:[^/]*://)?(?:[^/@]*@)?([^/:?#]*)", 1)


def domain_parts(host: Column | str, level: Column | str) -> Column:
    """Last-k-labels of a hostname per restriction level.

    Reference: ``getDomainParts`` /root/reference/pkg/crawler/crawler.go:2175-2187.
    level 2 → last 2 labels (SLD), level 3 → last label (TLD); fewer
    labels than k → whole host. ``substring_index(host, '.', -k)`` is
    exactly this semantics, JVM-side.
    """
    h = _col(host)
    lvl = _col(level)
    return (
        F.when(lvl == 2, F.substring_index(h, ".", -2))
        .when(lvl == 3, F.substring_index(h, ".", -1))
        .otherwise(h)
    )


def is_external_link(source_url: Column | str, link_url: Column | str, level: Column | str) -> Column:
    """External-link predicate per restriction level 0-4.

    Reference: ``isExternalLink`` /root/reference/pkg/crawler/crawler.go:2131-2172.
    4 → never external; relative ('/...') → never external;
    0 → any URL != source; 1 → not prefixed by source;
    2/3 → SLD/TLD label mismatch.
    """
    src = F.trim(_col(source_url))
    lnk = F.trim(_col(link_url))
    lvl = _col(level)
    src_dom = domain_parts(url_hostname(src), lvl)
    lnk_dom = domain_parts(url_hostname(lnk), lvl)
    return (
        F.when(lvl == 4, F.lit(False))
        .when(lnk.startswith("/"), F.lit(False))
        .when(lvl == 0, src != lnk)
        .when(lvl == 1, ~lnk.startswith(src))
        .otherwise(src_dom != lnk_dom)
    )


#: infoseed's default tracking-parameter set, sorted
#: (``defaultTrackingParams`` /root/reference/pkg/infoseed/candidates.go:293-297)
DEFAULT_TRACKING_PARAMS = (
    "fbclid", "gclid", "mc_cid", "mc_eid", "msclkid",
    "utm_campaign", "utm_content", "utm_medium", "utm_source", "utm_term",
)


def strip_tracking_params(
    c: Column | str, params: tuple[str, ...] = DEFAULT_TRACKING_PARAMS
) -> Column:
    """Drop tracking query params and re-encode with SORTED pairs.

    Reference: ``removeTrackingParams``
    /root/reference/pkg/infoseed/candidates.go:264-290 — keys compared
    case-insensitively; Go re-encodes via url.Values.Encode, which
    SORTS keys for stable candidate identity, so any URL with a query
    comes out key-sorted even when nothing was removed. Approximations
    (documented): pairs sort as whole 'k=v' strings (Go sorts by key
    keeping per-key value order — differs only on duplicate keys), and
    values are assumed already %-encoded. Fragments are untouched
    (NormalizeURL drops them before calling this; the frontier dedup
    key has no fragments in the corpus).

    Pure Column expression: split / filter / array_sort / join.
    """
    t = _col(c)
    base = F.substring_index(t, "?", 1)
    query = F.when(t.contains("?"), F.regexp_extract(t, r"\?([^#]*)", 1)).otherwise(F.lit(""))
    pset = F.array(*[F.lit(p) for p in params])
    kept = F.filter(
        F.split(query, "&"),
        lambda p: (p != "")
        & ~F.array_contains(pset, F.lower(F.trim(F.substring_index(p, "=", 1)))),
    )
    q2 = F.array_join(F.array_sort(kept), "&")
    return F.when(
        (query == "") | (q2 == ""), base
    ).otherwise(F.concat(base, F.lit("?"), q2))


def registrable_domain(host: Column | str) -> Column:
    """Last two labels of a hostname (whole host when ≤ 2 labels).

    Reference: ``registrableDomain``
    /root/reference/pkg/infoseed/candidates.go:256-262 (a heuristic,
    not the PSL — faithful to the reference's own choice).
    """
    h = F.lower(F.trim(_col(host)))
    h = F.regexp_replace(F.regexp_replace(h, r"^\.+", ""), r"\.+$", "")
    return F.substring_index(h, ".", -2)


def matches_domain_set(host: Column | str, domains: tuple[str, ...]) -> Column:
    """host == d or host endswith '.d' for any d (``matchesDomainSet``,
    candidates.go:246-254); the set is config-sized, so an OR chain."""
    h = F.lower(F.trim(_col(host)))
    out = F.lit(False)
    for d in domains:
        d = d.strip().lower().lstrip(".")
        if d:
            out = out | (h == d) | h.endswith("." + d)
    return out


def canonical_candidate_url(
    c: Column | str, params: tuple[str, ...] = DEFAULT_TRACKING_PARAMS
) -> Column:
    """infoseed ``NormalizeURL`` (candidates.go:89-123) as one struct
    column: (url, host, ok).

    trim → scheme must be http/https (lowercased) → host lowercased,
    default port dropped (http:80/https:443) → fragment dropped →
    tracking params removed + query key-sorted → empty path becomes
    '/'. Go url.Parse failure is modeled as internal whitespace (the
    repo-wide documented approximation); userinfo is assumed absent.
    """
    t = F.trim(_col(c))
    scheme = F.lower(F.regexp_extract(t, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    hostport = F.regexp_extract(t, r"^[^/]*://([^/?#]*)", 1)
    host = F.lower(F.regexp_extract(hostport, r"^([^:]*)", 1))
    port = F.regexp_extract(hostport, r":([0-9]+)$", 1)
    drop_port = ((scheme == "http") & (port == "80")) | (
        (scheme == "https") & (port == "443")
    )
    eff_hp = F.when((port == "") | drop_port, host).otherwise(
        F.concat(host, F.lit(":"), port)
    )
    path = F.regexp_extract(t, r"^[^/]*://[^/?#]*([^?#]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(t, r"\?([^#]*)", 1)
    rebuilt = strip_tracking_params(
        F.when(query == "", F.concat(scheme, F.lit("://"), eff_hp, path)).otherwise(
            F.concat(scheme, F.lit("://"), eff_hp, path, F.lit("?"), query)
        ),
        params,
    )
    ok = (
        (t != "")
        & scheme.isin("http", "https")
        & (host != "")
        & ~t.rlike(r"\s")
    )
    return F.struct(rebuilt.alias("url"), host.alias("host"), ok.alias("ok"))


def salted_host_key(host: Column | str, url: Column | str, salt_buckets: int) -> Column:
    """Skew-killing shuffle key: ``host#pmod(xxhash64(url), S)``.

    At 10^10-URL scale a handful of mega-hosts dominate; salting the
    host key spreads one host over ``salt_buckets`` reducers while
    keeping per-host work joinable by stripping the suffix
    (SURVEY.md §4 "Skew handling").
    """
    return F.concat_ws("#", _col(host), F.pmod(F.xxhash64(_col(url)), F.lit(salt_buckets)).cast("string"))
