"""URL curation operators for crawl-scale corpora.

The slice of a Common Crawl pipeline that sits between the archive
readers and the text operators: canonicalize URLs so dedup keys agree
across crawls, reduce hosts to registered domains for per-site
policies, cap documents per domain (the standard corpus-diversity
rule), and drop blocklisted sites.

Everything here is built-in column expressions (regex, split, md5) —
JVM-side, codegen-friendly, no Python workers — so at 100 TB these
are scan-speed passes. The only exchange in the family is the
per-domain cap's hash partition on the domain key, and that has a
salted two-phase variant for skewed domains (a handful of mega-sites
holding a large fraction of any real crawl).

Beyond the reference (kristianfoerster/melodist has no web layer);
the operator set follows the public CCNet / RefinedWeb / Gopher
recipes (URL canonicalization, per-domain caps, blocklists).

Regex note: every pattern used here must behave identically under
Java's regex engine (Spark) and RE2 (the DuckDB oracles), so the
patterns avoid backreferences and lookaround — both engines then
give leftmost, first-alternative matches.
"""

from __future__ import annotations

from functools import reduce
from operator import or_

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: query parameters that carry tracking state, not content identity —
#: stripped during normalization so the same page fetched from two
#: campaign links dedups to one URL
TRACKING_PARAM_RE = (
    r"^(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|mc_eid|igshid|ref|ref_src)="
)

_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
_AUTHORITY_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)"
_AFTER_AUTHORITY_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*"

#: second-level registrable suffixes (co.uk, com.au, ...) — the small
#: head of the public-suffix list that covers the vast majority of
#: multi-part TLD hosts; a production deployment swaps in the full
#: PSL the same way `decode_features` takes `real_decoder=`
_REGISTERED_DOMAIN_RE = (
    r"([^.]+\.(?:co|com|net|org|gov|edu|ac)\.[a-z][a-z]|[^.]+\.[^.]+)$"
)


def url_scheme(url: Column) -> Column:
    """Lowercased scheme, or '' when the value has no ``scheme://``."""
    return F.lower(F.regexp_extract(url, _SCHEME_RE, 1))


def url_host(url: Column, strip_www: bool = True) -> Column:
    """Lowercased host with userinfo and port stripped (and the bare
    ``www.`` label, by default — content identity, not transport)."""
    auth = F.regexp_extract(url, _AUTHORITY_RE, 1)
    hostport = F.regexp_replace(auth, r"^[^@]*@", "")
    host = F.lower(F.regexp_replace(hostport, r":[0-9]+$", ""))
    if strip_www:
        host = F.regexp_replace(host, r"^www\.", "")
    return host


def url_port(url: Column) -> Column:
    """Explicit port as a string, or '' when none is present."""
    auth = F.regexp_extract(url, _AUTHORITY_RE, 1)
    hostport = F.regexp_replace(auth, r"^[^@]*@", "")
    return F.regexp_extract(hostport, r":([0-9]+)$", 1)


def url_path(url: Column) -> Column:
    """Raw path component ('' when the URL ends at the authority)."""
    rest = F.regexp_replace(url, _AFTER_AUTHORITY_RE, "")
    return F.regexp_extract(rest, r"^([^?#]*)", 1)


def url_query(url: Column) -> Column:
    """Raw query string without the leading '?' ('' when absent)."""
    return F.regexp_extract(url, r"\?([^#]*)", 1)


def normalize_url(
    url: Column,
    strip_params_re: str = TRACKING_PARAM_RE,
    strip_www: bool = True,
) -> Column:
    """Canonical URL: lowercased scheme and host, userinfo / default
    ports (80 on http, 443 on https) / fragment dropped, duplicate
    and trailing slashes collapsed, tracking parameters removed and
    the surviving query parameters sorted. Two crawl records of the
    same page then compare equal as strings, which is what URL-level
    dedup keys on.

    Values without a ``scheme://`` (rare malformed crawl rows) fall
    back to ``lower(trim(url))`` — deterministic, never a task
    failure.
    """
    scheme = url_scheme(url)
    host = url_host(url, strip_www=strip_www)
    port = url_port(url)
    default_port = ((scheme == "http") & (port == "80")) | (
        (scheme == "https") & (port == "443")
    )
    portpart = (
        F.when((port == "") | default_port, F.lit(""))
        .otherwise(F.concat(F.lit(":"), port))
    )
    path = F.regexp_replace(url_path(url), r"/{2,}", "/")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    path = F.when(
        F.length(path) > 1, F.regexp_replace(path, r"/$", "")
    ).otherwise(path)
    params = F.filter(
        F.split(url_query(url), "&"),
        lambda p: (p != "") & ~p.rlike(strip_params_re),
    )
    qn = F.array_join(F.array_sort(params), "&")
    built = F.concat(
        scheme,
        F.lit("://"),
        host,
        portpart,
        path,
        F.when(qn == "", F.lit("")).otherwise(F.concat(F.lit("?"), qn)),
    )
    return F.when(scheme == "", F.lower(F.trim(url))).otherwise(built)


def surt(url: Column, strip_www: bool = True) -> Column:
    """SURT-form sort key ("com,example)/path?a=1") — the urlkey
    convention of CDX crawl indexes: host labels reversed and
    comma-joined (so one domain's pages sort contiguously and a
    domain-prefix range scan replaces a wildcard match), then ")" and
    the lowercased path with sorted query. Same canonicalization
    choices as :func:`normalize_url` (www/userinfo/default-port
    dropped, fragment cut, params sorted — tracking params KEPT here:
    an index key must reproduce what was crawled, not what dedup
    wants). IDN punycode and per-site session-id rules are the
    documented production seam. Scheme-less rows degrade to
    ``lower(trim(url))`` like normalize_url; pure codegen."""
    host = url_host(url, strip_www=strip_www)
    rev = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    scheme = url_scheme(url)
    port = url_port(url)
    default_port = ((scheme == "http") & (port == "80")) | (
        (scheme == "https") & (port == "443")
    )
    portpart = (
        F.when((port == "") | default_port, F.lit(""))
        .otherwise(F.concat(F.lit(":"), port))
    )
    path = F.lower(url_path(url))
    path = F.when(path == "", F.lit("/")).otherwise(path)
    params = F.filter(F.split(url_query(url), "&"), lambda p: p != "")
    qn = F.array_join(F.array_sort(params), "&")
    built = F.concat(
        rev,
        portpart,
        F.lit(")"),
        path,
        F.when(qn == "", F.lit("")).otherwise(F.concat(F.lit("?"), F.lower(qn))),
    )
    return F.when(url_scheme(url) == "", F.lower(F.trim(url))).otherwise(built)


def registered_domain(host: Column) -> Column:
    """Registrable domain of a host: ``a.b.example.co.uk`` →
    ``example.co.uk``, ``x.example.com`` → ``example.com``. IPv4
    literals and single-label hosts pass through unchanged. Uses the
    compact multi-part-suffix head above; see its PSL seam note."""
    rd = F.regexp_extract(host, _REGISTERED_DOMAIN_RE, 1)
    return (
        F.when(host.rlike(r"^[0-9.]+$"), host)
        .when(rd == "", host)
        .otherwise(rd)
    )


def domain_rank(
    df: DataFrame,
    domain_col: str = "domain",
    url_col: str = "url",
    rank_col: str = "domain_rank",
) -> DataFrame:
    """Deterministic 1-based rank of each row within its domain,
    ordered by ``md5(url)`` (uniform, crawl-order-free) with the URL
    itself as tiebreak. One hash partition on the domain key."""
    w = Window.partitionBy(domain_col).orderBy(
        F.md5(F.col(url_col)), F.col(url_col)
    )
    return df.withColumn(rank_col, F.row_number().over(w))


def cap_per_domain(
    df: DataFrame,
    n: int,
    domain_col: str = "domain",
    url_col: str = "url",
    salt: int | None = None,
) -> DataFrame:
    """Keep at most ``n`` documents per domain (md5 order — a
    deterministic uniform sample, not crawl order, so the survivors
    are unbiased). The corpus-diversity cap every public crawl recipe
    applies before training.

    A plain per-domain ``row_number`` puts a mega-domain's whole row
    set through one task (AQE skew-split does not apply to windows).
    Pass ``salt=s`` for the skew-safe two-phase shape: rank within
    ``(domain, md5 % s)`` and keep ``rank <= n`` first — each salted
    partition is 1/s of the domain, and since md5 order is uniform
    the global top-``n`` survives the cut — then re-rank the at most
    ``s*n`` survivors per domain exactly. Cost: one extra (much
    smaller) shuffle; per-task work is bounded by the salt width.
    """
    if salt is not None and salt > 1:
        pre = F.pmod(
            F.conv(F.substring(F.md5(F.col(url_col)), 1, 8), 16, 10).cast(
                "long"
            ),
            F.lit(salt),
        )
        w1 = Window.partitionBy(domain_col, "_salt").orderBy(
            F.md5(F.col(url_col)), F.col(url_col)
        )
        df = (
            df.withColumn("_salt", pre)
            .withColumn("_r1", F.row_number().over(w1))
            .filter(F.col("_r1") <= n)
            .drop("_salt", "_r1")
        )
    return domain_rank(df, domain_col, url_col).filter(
        F.col("domain_rank") <= n
    )


def filter_url_blocklist(
    df: DataFrame,
    blocked_domains: list[str],
    host_col: str = "host",
) -> DataFrame:
    """Drop rows whose host equals a blocked domain or is a
    subdomain of one. For list-sized blocklists (the usual case —
    UT1/adult lists are ~1M entries, a few MB) the literal OR-chain
    below is fine up to hundreds of entries; beyond that, broadcast
    the list as a DataFrame and left-anti join on
    ``registered_domain(host)`` instead — same semantics, one
    broadcast, no plan blow-up."""
    host = F.col(host_col)
    hit = reduce(
        or_,
        [
            (host == b) | host.endswith("." + b)
            for b in blocked_domains
        ],
    )
    return df.filter(~hit)
