"""URL canonicalization + decomposition — the crawl-frontier cleanup pass.

Every large-scale crawl dedups its frontier on CANONICAL urls (the same
page is reachable as `HTTP://Example.com:80/a/?utm_source=x#top` and
`http://example.com/a`); Common-Crawl, Heritrix, and every search
pipeline apply a normalization of exactly this shape before url-keyed
joins. Rules implemented (a documented, deterministic subset of RFC 3986
normalization + the de-facto tracking-param strip):

  1. strip the fragment (`#...`),
  2. lowercase the scheme and the host (NEVER the path/query — those are
     case-sensitive per RFC 3986),
  3. drop the default port (`:80` for http, `:443` for https),
  4. remove tracking query parameters (`utm_*`, `gclid`, `fbclid`),
     fixing up separator artifacts (three passes handle any run of up to
     three ADJACENT tracking params; the fix-up rules make additional
     params compose),
  5. strip one trailing url-final slash (including the bare root
     slash: `http://ex.com/` -> `http://ex.com` — the equivalence RFC
     3986 section 6.2.3 licenses for an empty path).

A url with no scheme (`ex.com/a`) is a relative reference with no
authority to parse: rules 2 and 3 leave it alone, and it has no host.

Everything is a `regexp_replace` / `regexp_extract` chain in the
Java-regex ∩ RE2 common subset (no lookaround, no pattern backrefs) so
the DuckDB oracle reproduces the rewrite byte-for-byte — the pii.py
convention. One projection over the scan: no UDF, no shuffle, whole-stage
codegen end to end; at 100 TB this is a free column rewrite ahead of the
url-keyed dictionary joins in pages.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TRACK = r"(utm_[A-Za-z0-9_]+|gclid|fbclid)"
# ordered rewrite rules applied AFTER fragment strip + case/port fixes;
# ($1-style Java replacements map to \1 in DuckDB)
_PARAM_RULES = [
    # tracking param first with others following: ?utm=x&id=1 -> ?id=1
    (r"\?" + TRACK + r"=[^&#]*&", "?"),
    # tracking param in the middle: &utm=x&id=1 -> &id=1
    (r"&" + TRACK + r"=[^&#]*&", "&"),
    # tracking param last: [?&]utm=x$ -> ''
    (r"[?&]" + TRACK + r"=[^&#]*$", ""),
]
_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
_HOSTPORT_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"


def canonicalize_col(url: F.Column) -> F.Column:
    """The canonical-url column expression (pure JVM)."""
    u = F.regexp_replace(url, r"#.*$", "")  # 1. fragment
    scheme = F.lower(F.regexp_extract(u, _SCHEME_RE, 1))
    hostport = F.lower(F.regexp_extract(u, _HOSTPORT_RE, 1))
    rest = F.regexp_replace(u, _HOSTPORT_RE, "")  # path?query remainder
    hostport = F.when(
        (scheme == "http") & hostport.endswith(":80"),
        F.regexp_replace(hostport, r":80$", ""),
    ).when(
        (scheme == "https") & hostport.endswith(":443"),
        F.regexp_replace(hostport, r":443$", ""),
    ).otherwise(hostport)
    # a scheme-less url has no authority to rebuild: it stays as it is
    u = F.when(scheme != "", F.concat(scheme, F.lit("://"), hostport, rest)).otherwise(u)
    for _ in range(3):  # compose runs of adjacent tracking params
        for pat, repl in _PARAM_RULES:
            u = F.regexp_replace(u, pat, repl)
    # 5. url-final slash ("...x/" -> "...x"; "//" untouched since the
    # preceding char must be a non-slash)
    u = F.regexp_replace(u, r"([^/])/$", "$1")
    return u


def canonicalize_urls(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Adds (canon_url, host, path_depth) next to ``url_col``:
    host = lowercased authority without port; path_depth = number of
    non-empty path segments of the canonical url."""
    canon = canonicalize_col(F.col(url_col))
    host = F.regexp_replace(
        F.lower(F.regexp_extract(F.col(url_col), _HOSTPORT_RE, 1)),
        r":\d+$",
        "",
    )
    path = F.regexp_replace(
        F.regexp_replace(canon, _HOSTPORT_RE, ""), r"[?#].*$", ""
    )
    depth = F.size(
        F.filter(F.split(path, "/"), lambda x: x != F.lit(""))
    )
    return df.withColumns(
        {"canon_url": canon, "host": host, "path_depth": depth}
    )


def _sql_chain(expr: str) -> str:
    """The identical rewrite chain in DuckDB SQL over ``expr``."""
    u = f"regexp_replace({expr}, '#.*$', '', 'g')"
    scheme = f"lower(regexp_extract({u}, '{_SCHEME_RE}', 1))"
    hostport = f"lower(regexp_extract({u}, '{_HOSTPORT_RE}', 1))"
    rest = f"regexp_replace({u}, '{_HOSTPORT_RE}', '')"
    hostport_fixed = (
        f"CASE WHEN {scheme} = 'http' AND {hostport} LIKE '%:80'"
        f" THEN regexp_replace({hostport}, ':80$', '')"
        f" WHEN {scheme} = 'https' AND {hostport} LIKE '%:443'"
        f" THEN regexp_replace({hostport}, ':443$', '')"
        f" ELSE {hostport} END"
    )
    u = f"(CASE WHEN {scheme} <> '' THEN {scheme} || '://' || {hostport_fixed} || {rest} ELSE {u} END)"
    for _ in range(3):
        for pat, repl in _PARAM_RULES:
            sql_repl = repl.replace("$1", r"\1")
            u = f"regexp_replace({u}, '{pat}', '{sql_repl}', 'g')"
    u = f"regexp_replace({u}, '([^/])/$', '\\1', 'g')"
    return u


def canonicalize_urls_sql(source_sql: str) -> str:
    """DuckDB oracle over any (doc_id, url) source."""
    canon = _sql_chain("url")
    host = (
        f"regexp_replace(lower(regexp_extract(url, '{_HOSTPORT_RE}', 1)),"
        f" ':[0-9]+$', '')"
    )
    path = f"regexp_replace(regexp_replace({canon}, '{_HOSTPORT_RE}', ''), '[?#].*$', '', 'g')"
    depth = (
        f"len(list_filter(string_split({path}, '/'), x -> x <> ''))"
    )
    return f"""
WITH src AS ({source_sql})
SELECT doc_id, url, {canon} AS canon_url, {host} AS host,
       {depth} AS path_depth
FROM src
"""
