"""URL curation: normalization, domain extraction, blocklists, canonical dedup.

Web-crawl pipelines (C4, RefinedWeb, FineWeb) curate BY URL before they
ever read page bytes: normalize the URL (case, default ports, tracking
parameters, fragments), extract the registered domain, drop blocklisted
domains, and keep one canonical document per normalized URL. All of it is
string algebra — pure Catalyst regexp/array expressions here (zero UDFs,
zero shuffles except the canonical-pick window), with every step mirrored
in DuckDB SQL so the whole normalization is hash-checkable.

Normalization spec (fixed fold order — the spec IS the implementation):
  1. scheme and host lowercase; path/query case preserved;
  2. default ports dropped (``http:80``, ``https:443``); other ports kept;
  3. fragment dropped;
  4. tracking parameters dropped (``utm_*``, ``gclid``, ``fbclid``,
     ``ref``), remaining query parameters sorted bytewise and rejoined —
     parameter order never distinguishes two URLs;
  5. trailing slashes trimmed from the path.

``registered_domain`` is the last two host labels — the documented
sandbox simplification of eTLD+1 (a real deployment swaps in the Public
Suffix List as a broadcast lookup; every other step is unchanged).

The regex subset used is the Java-regex ∩ RE2 common dialect (the
``operators/pii.py`` posture) so Spark and DuckDB replay identical
matches. The testdata has no URL column, so the registry row injects a
deterministic URL fixture derived from ``doc_id``/``source`` (mixed-case
hosts, default and explicit ports, tracking params, fragments — the PII
fixture posture: the operator under test is the normalizer, the fixture
is replayable).

Reference parity: the reference engine has no URL surface — this is
beyond-reference LLM-pipeline scope (SURVEY.md §6).
"""

from __future__ import annotations

from typing import List, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SCHEME_RE = "^([a-zA-Z][a-zA-Z0-9+.-]*)://"
_HOSTPORT_RE = "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)"
_PATH_RE = "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)"
_QUERY_RE = "\\?([^#]*)"
_PORT_RE = ":([0-9]+)$"
_REG_DOMAIN_RE = "([^.]+\\.[^.]+)$"

#: query parameters dropped during normalization (prefix match for utm_).
TRACKING_PARAMS = ("utm_", "gclid", "fbclid", "ref")


def _is_tracking(p: Column) -> Column:
    cond = F.lit(False)
    for t in TRACKING_PARAMS:
        if t.endswith("_"):
            cond = cond | p.startswith(t)
        else:
            cond = cond | p.startswith(t + "=") | (p == t)
    return cond


def _tracking_sql(var: str) -> str:
    arms = []
    for t in TRACKING_PARAMS:
        if t.endswith("_"):
            arms.append(f"{var} LIKE '{t}%'")
        else:
            arms.append(f"({var} LIKE '{t}=%' OR {var} = '{t}')")
    return " OR ".join(arms)


def url_scheme(url: Column) -> Column:
    return F.lower(F.regexp_extract(url, _SCHEME_RE, 1))


def url_host(url: Column) -> Column:
    """Lowercased host with any ``:port`` suffix stripped."""
    hp = F.regexp_extract(url, _HOSTPORT_RE, 1)
    return F.lower(F.regexp_replace(hp, _PORT_RE, ""))


def normalize_url(url: Column) -> Column:
    """The five-step normalization above as one Catalyst expression tree."""
    scheme = url_scheme(url)
    hp = F.regexp_extract(url, _HOSTPORT_RE, 1)
    host = F.lower(F.regexp_replace(hp, _PORT_RE, ""))
    port = F.regexp_extract(hp, _PORT_RE, 1)
    default = ((scheme == "http") & (port == "80")) | (
        (scheme == "https") & (port == "443")
    )
    port_part = F.when(
        (port == "") | default, F.lit("")
    ).otherwise(F.concat(F.lit(":"), port))
    path = F.regexp_replace(F.regexp_extract(url, _PATH_RE, 1), "/+$", "")
    q = F.regexp_extract(url, _QUERY_RE, 1)
    params = F.array_sort(
        F.filter(
            F.split(q, "&"),
            lambda p: (p != "") & ~_is_tracking(p),
        )
    )
    q_join = F.array_join(params, "&")
    q_part = F.when(q_join == "", F.lit("")).otherwise(F.concat(F.lit("?"), q_join))
    return F.concat(scheme, F.lit("://"), host, port_part, path, q_part)


def normalize_url_sql(url_expr: str) -> str:
    """DuckDB expression replaying :func:`normalize_url` bit-for-bit on
    ``url_expr``. DuckDB ``regexp_replace`` needs the ``'g'`` flag where
    Spark replaces all matches; the patterns below each match at most once
    so the default single-replace is identical."""
    u = url_expr
    scheme = f"lower(regexp_extract({u}, '{_SCHEME_RE}', 1))"
    hp = f"regexp_extract({u}, '{_HOSTPORT_RE}', 1)"
    host = f"lower(regexp_replace({hp}, '{_PORT_RE}', ''))"
    port = f"regexp_extract({hp}, '{_PORT_RE}', 1)"
    default = (
        f"(({scheme} = 'http' AND {port} = '80')"
        f" OR ({scheme} = 'https' AND {port} = '443'))"
    )
    port_part = (
        f"CASE WHEN {port} = '' OR {default} THEN '' ELSE ':' || {port} END"
    )
    path = f"regexp_replace(regexp_extract({u}, '{_PATH_RE}', 1), '/+$', '')"
    q = f"regexp_extract({u}, '{_QUERY_RE}', 1)"
    params = (
        f"list_sort(list_filter(string_split({q}, '&'),"
        f" p -> p <> '' AND NOT ({_tracking_sql('p')})))"
    )
    q_join = f"coalesce(list_aggregate({params}, 'string_agg', '&'), '')"
    q_part = f"CASE WHEN {q_join} = '' THEN '' ELSE '?' || {q_join} END"
    return f"{scheme} || '://' || {host} || {port_part} || {path} || {q_part}"


def url_features(
    df: DataFrame,
    url_col: str = "url",
    blocklist: Sequence[str] = (),
) -> DataFrame:
    """Append ``url_norm``, ``host``, ``registered_domain``, and
    ``blocked`` (registered domain or any parent-label match against the
    literal ``blocklist`` — small lists compile into the projection; a
    data-sized blocklist swaps in a broadcast left-semi join, same
    columns). Narrow, zero shuffle."""
    u = F.col(url_col)
    host = url_host(u)
    reg = F.regexp_extract(host, _REG_DOMAIN_RE, 1)
    blocked = F.lit(False)
    for d in blocklist:
        blocked = blocked | (host == d) | host.endswith("." + d)
    return (
        df.withColumn("url_norm", normalize_url(u))
        .withColumn("host", host)
        .withColumn("registered_domain", reg)
        .withColumn("blocked", blocked)
    )


def url_features_blocked_sql(host_expr: str, blocklist: Sequence[str]) -> str:
    arms = [
        f"({host_expr} = '{d}' OR {host_expr} LIKE '%.{d}')" for d in blocklist
    ]
    return "(" + (" OR ".join(arms) if arms else "FALSE") + ")"


def canonicalize_urls(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    blocklist: Sequence[str] = (),
) -> DataFrame:
    """URL-level dedup: normalize, then keep the smallest ``id_col`` per
    ``url_norm`` as canonical (``is_canonical``). One exchange on the
    normalized-URL key — the same dedup-window shape as
    ``dedup.exact_dedup``; everything else is narrow."""
    from pyspark.sql.window import Window

    feats = url_features(df, url_col, blocklist)
    w = Window.partitionBy("url_norm").orderBy(F.col(id_col))
    return feats.withColumn(
        "is_canonical", (F.row_number().over(w) == 1) & ~F.col("blocked")
    )


# ---------------------------------------------------------------------------
# Deterministic URL fixture (testdata has no URL column).
# ---------------------------------------------------------------------------


def url_fixture(doc_id: Column, source: Column) -> Column:
    """A replayable synthetic URL: mixed-case scheme/host, WWW prefixes,
    default and explicit ports, tracking params, fragments — and REAL
    duplicate groups: docs with ``doc_id % 40 >= 20 AND doc_id % 4 == 1``
    are ALIASES of ``doc_id - 20`` (same ``source`` bucket, since sources
    repeat every 20 ids). Everything normalization keeps (scheme, host,
    non-default port, path, non-tracking params) derives from the
    effective id; only cosmetic bits a crawler actually varies (tracking
    params, trailing slash, fragment) come from the raw id — so an alias
    and its target print different raw URLs that normalize identically,
    giving the canonical pick genuine groups to resolve (r9c fixture
    audit: without this the duplicate_url leg was vacuous)."""
    alias = (doc_id % 40 >= 20) & (doc_id % 4 == 1)
    eff = F.when(alias, doc_id - 20).otherwise(doc_id)
    scheme = F.when(eff % 3 == 0, F.lit("HTTPS")).otherwise(F.lit("http"))
    www = F.when(eff % 5 == 0, F.lit("WWW.")).otherwise(F.lit(""))
    mid = F.when(eff % 9 == 0, F.lit(".Blog.")).otherwise(F.lit(".Example."))
    tld = F.when(eff % 4 == 0, F.lit("COM")).otherwise(F.lit("org"))
    port = (
        F.when(eff % 3 == 0, F.lit(":443"))
        .when(eff % 7 == 0, F.lit(":8080"))
        .otherwise(F.lit(""))
    )
    path = F.concat(
        F.lit("/Docs/item"), ((eff / F.lit(3)).cast("long")).cast("string")
    )
    slash = F.when(doc_id % 2 == 0, F.lit("/")).otherwise(F.lit(""))
    query = F.concat(
        F.lit("?utm_source=feed&id="),
        (((eff / F.lit(3)).cast("long")) % 50).cast("string"),
        F.lit("&utm_campaign=c"),
        (doc_id % 7).cast("string"),
        F.when(doc_id % 6 == 0, F.lit("&ref=tw&b=2")).otherwise(F.lit("&b=2")),
    )
    frag = F.when(doc_id % 2 == 0, F.lit("#Section-1")).otherwise(F.lit(""))
    return F.concat(
        scheme,
        F.lit("://"),
        www,
        F.lower(source),
        mid,
        tld,
        port,
        path,
        slash,
        query,
        frag,
    )


def url_fixture_sql(doc_id: str = "doc_id", source: str = "source") -> str:
    """DuckDB expression emitting the identical fixture URL. Spark's
    ``CAST(eff / 3 AS LONG)`` on non-negative ids equals DuckDB
    ``eff // 3``. ``e`` below is the effective (alias-resolved) id — see
    :func:`url_fixture`."""
    e = (
        f"(CASE WHEN {doc_id} % 40 >= 20 AND {doc_id} % 4 = 1"
        f" THEN {doc_id} - 20 ELSE {doc_id} END)"
    )
    return f"""
      (CASE WHEN {e} % 3 = 0 THEN 'HTTPS' ELSE 'http' END) || '://'
      || (CASE WHEN {e} % 5 = 0 THEN 'WWW.' ELSE '' END)
      || lower({source})
      || (CASE WHEN {e} % 9 = 0 THEN '.Blog.' ELSE '.Example.' END)
      || (CASE WHEN {e} % 4 = 0 THEN 'COM' ELSE 'org' END)
      || (CASE WHEN {e} % 3 = 0 THEN ':443'
               WHEN {e} % 7 = 0 THEN ':8080' ELSE '' END)
      || '/Docs/item' || CAST({e} // 3 AS VARCHAR)
      || (CASE WHEN {doc_id} % 2 = 0 THEN '/' ELSE '' END)
      || '?utm_source=feed&id=' || CAST(({e} // 3) % 50 AS VARCHAR)
      || '&utm_campaign=c' || CAST({doc_id} % 7 AS VARCHAR)
      || (CASE WHEN {doc_id} % 6 = 0 THEN '&ref=tw&b=2' ELSE '&b=2' END)
      || (CASE WHEN {doc_id} % 2 = 0 THEN '#Section-1' ELSE '' END)
    """
