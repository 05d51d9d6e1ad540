"""URL canonicalization — the web-pipeline preprocessing step in front
of the url-uniqueness constraint (SURVEY.md §2.7): crawlers emit the
same page as ``HTTPS://Host:443/a#frag`` and ``https://host/a``, and a
uniqueness check over raw strings misses the collision.

Only the RFC 3986 §6.2.2-3 normalizations that NEVER change which
resource a URL names are applied (safe for dedup keys):

* scheme and host lowercased (case-insensitive by spec);
* default port dropped (``:80`` for http, ``:443`` for https);
* empty path -> ``/`` (``https://h`` == ``https://h/``);
* fragment stripped (client-side only, never sent to the server);
* query string preserved byte-for-byte (order/percent-encoding are
  server-semantics; touching them is lossy).

Everything is a pure Column expression (``regexp_extract`` + string
ops, JVM codegen) — zero shuffle, zero Python; at 10^12 rows this is a
free map stage fused into the scan.  Strings without a ``scheme://``
prefix pass through unchanged (not a URL — let the schema's ``format:
uri`` rule report it instead of silently rewriting).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SCHEME = r"^([a-zA-Z][a-zA-Z0-9+.-]*)://"
_AUTHORITY = r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)"
_PATH = r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)"
_QUERY = r"^[^#?]*(\?[^#]*)"

_DEFAULT_PORTS = {"http": "80", "https": "443", "ws": "80", "wss": "443"}


def url_host(url) -> Column:
    """Lowercased host of ``url`` (a name or Column): the authority
    minus userinfo and port, IP-literals (``[::1]``) kept bracketed.
    Empty string for non-URL strings (no ``scheme://``)."""
    u = F.col(url) if isinstance(url, str) else url
    authority = F.regexp_extract(u, _AUTHORITY, 1)
    return F.lower(
        F.regexp_extract(authority, r"^(?:[^@]*@)?(\[[^\]]*\]|[^:]*)", 1))


def normalize_url(url) -> Column:
    """Canonical form of ``url`` (a name or Column) as a Column.

    The authority is decomposed per RFC 3986 §3.2: an optional
    ``userinfo@`` prefix is carried through UNCHANGED (userinfo is
    case-sensitive — only scheme and host may be lowercased), and
    IP-literal hosts (``[::1]``) are split on the closing bracket, not
    on ``:`` — so ``https://user:pw@example.com/x`` keeps its real host
    and ``https://[::1]:8080/`` keeps its address."""
    u = F.col(url) if isinstance(url, str) else url
    scheme = F.regexp_extract(u, _SCHEME, 1)
    authority = F.regexp_extract(u, _AUTHORITY, 1)
    path = F.regexp_extract(u, _PATH, 1)
    query = F.regexp_extract(u, _QUERY, 1)
    # userinfo ends at the FIRST '@' (a raw '@' is illegal in host and
    # must be percent-encoded inside userinfo); kept verbatim.  All
    # three parts come from FLAT single-pass regexes over the authority
    # — no when() branches and no nested extracts: branches defeat
    # common-subexpression elimination and nesting balloons the
    # expression tree (both A/B-measured 2-5x slower on the
    # normalization bench query).  The host alternation handles
    # IP-literals ([::1] style) in the same pass, and a bracketed host
    # can never match the trailing :port regex (it ends in ']'), nor
    # can userinfo (the port anchor is end-of-authority).
    userinfo = F.regexp_extract(authority, r"^([^@]*@)", 1)
    host = F.regexp_extract(authority, r"^(?:[^@]*@)?(\[[^\]]*\]|[^:]*)", 1)
    port = F.regexp_extract(authority, r":([0-9]+)$", 1)

    lscheme = F.lower(scheme)
    default_port = F.lit(None).cast("string")
    for sch, prt in sorted(_DEFAULT_PORTS.items()):
        default_port = F.when(lscheme == F.lit(sch), F.lit(prt)) \
            .otherwise(default_port)
    keep_port = (port != F.lit("")) & ~port.eqNullSafe(default_port)
    norm = F.concat(
        lscheme, F.lit("://"), userinfo, F.lower(host),
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        F.when(path == F.lit(""), F.lit("/")).otherwise(path),
        query,
    )
    return F.when(scheme == F.lit(""), u).otherwise(norm)


def duplicate_urls_normalized(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Duplicate groups AFTER canonicalization: ``norm_url, dup_count``.
    Same aggregate as :func:`uniqueness.duplicate_keys`: its map-side
    partial count keeps hot normalized keys — e.g. a canonicalized hot
    domain root — from meeting their raw siblings on one reducer."""
    from .uniqueness import duplicate_keys
    normed = df.select(normalize_url(url_col).alias("norm_url"))
    return duplicate_keys(normed, "norm_url")
