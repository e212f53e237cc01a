"""URL-level curation — the chronologically FIRST gate of a crawl
pipeline (r11 verdict item 3): C4 filters and dedups by URL before any
content operator runs (Raffel 2020 §2.2 URL blocklist; Penedo 2023's
RefinedWeb URL dedup + host-level aggregation). Three row-local
primitives over a `url` column:

1. **canonicalize** — lowercase scheme and host, strip the fragment,
   strip the DEFAULT port (http:80 / https:443; any other explicit
   port is meaningful and kept), drop tracking query parameters
   (``TRACKING_PARAM_RE``: utm_*, gclid, fbclid, ref, mc_*), keep the
   remaining parameters in their original order (C4 does not reorder),
   and normalize an empty path to "/". Everything is deterministic
   scalar regex/string work, so the DuckDB oracle restates the SAME
   rules from the same module constants (the generated-oracle
   discipline of operators/markup.py).
2. **host aggregation** — per-host document statistics (one hash agg).
3. **host blocklist** — drop documents whose canonical host IS a
   blocked domain or is a subdomain of one. The blocklist ships with
   the job (C4's is a static file), so the gate is a row-local
   predicate over a literal list — at 100 TB there is no join at all;
   a blocklist too large to inline would become a broadcast anti-join
   on the registrable suffix, never a shuffle of the corpus.

The corpus fixtures carry no URL column, so ``url_wrap`` synthesizes a
deterministic one per document (the html_wrap fixture pattern,
operators/markup.py:122): page identity (scheme kind, host, port,
path, the one real query parameter) derives from ``doc_id % 40`` so
distinct documents share canonical URLs (URL dedup has real work), and
the noise canonicalization must strip (scheme/host case, tracking
params, fragments) derives from ``doc_id`` itself so raw URLs differ
within a canonical group.

Scale shape: every leg is a narrow row-local projection (zero
Exchange) except the host aggregation (ONE two-phase hash agg on a
low-cardinality key) and the URL dedup (ONE hash agg on the canonical
string — at 100 TB you'd agg on xxhash64(canonical) to shrink the
shuffle; the oracle-portable form aggs the string itself).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# --- shared rule constants (both engines read these) -----------------------

#: query parameters that never change content identity (C4/RefinedWeb
#: strip lists: Google/Facebook/Mailchimp click + campaign trackers).
TRACKING_PARAM_RE = r"^(utm_[a-z0-9]+|gclid|fbclid|ref|mc_cid|mc_eid)="

#: scheme -> default port, stripped during canonicalization.
DEFAULT_PORTS = [("http", "80"), ("https", "443")]

#: URL piece extractors (RE2-safe; group 1 is the payload).
SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.\-]*)://"
AUTHORITY_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)"
PATHQ_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^#]*)"
PORT_RE = r":([0-9]+)$"
PORT_STRIP_RE = r":[0-9]+$"

#: fixture hosts (index = group % 6): two belong to the blocked domain.
FIXTURE_HOSTS = [
    "example.com",
    "news.example.com",
    "blog.sample.org",
    "tracker.ads-site.net",
    "ads-site.net",
    "docs.example.com",
]

#: host blocklist (exact domain or any subdomain of it).
BLOCKED_HOSTS = ["ads-site.net", "malware.example"]

#: fixture group modulus: page identity repeats every this many docs.
URL_GROUPS = 40


# --- Spark side -------------------------------------------------------------


def url_parts(url: Column) -> dict[str, Column]:
    """Decompose a URL into canonical-ready pieces; every piece is a
    scalar expression (no UDF, no exchange)."""
    scheme = F.lower(F.regexp_extract(url, SCHEME_RE, 1))
    auth = F.regexp_extract(url, AUTHORITY_RE, 1)
    host = F.lower(F.regexp_replace(auth, PORT_STRIP_RE, ""))
    port = F.regexp_extract(auth, PORT_RE, 1)
    pathq = F.regexp_extract(url, PATHQ_RE, 1)
    path = F.regexp_extract(pathq, r"^([^?]*)", 1)
    qs = F.regexp_extract(pathq, r"^[^?]*\?(.*)$", 1)
    return {"scheme": scheme, "host": host, "port": port, "path": path, "query": qs}


def canonical_url(url: Column) -> Column:
    """The canonical form (rules 1-5 of the module docstring)."""
    p = url_parts(url)
    kept = F.filter(
        F.split(p["query"], "&"),
        lambda q: (q != F.lit("")) & ~q.rlike(TRACKING_PARAM_RE),
    )
    default_port = F.lit(False)
    for scheme, port in DEFAULT_PORTS:
        default_port = default_port | (
            (p["scheme"] == scheme) & (p["port"] == port)
        )
    canon_port = F.when(
        (p["port"] == "") | default_port, F.lit("")
    ).otherwise(F.concat(F.lit(":"), p["port"]))
    canon_path = F.when(p["path"] == "", F.lit("/")).otherwise(p["path"])
    canon_query = F.when(
        F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))
    ).otherwise(F.lit(""))
    return F.concat(
        p["scheme"], F.lit("://"), p["host"], canon_port, canon_path, canon_query
    )


def has_tracking(url: Column) -> Column:
    """True when any query parameter matches TRACKING_PARAM_RE."""
    qs = url_parts(url)["query"]
    return F.exists(F.split(qs, "&"), lambda q: q.rlike(TRACKING_PARAM_RE))


def host_blocked(host: Column) -> Column:
    """True when the canonical host is a blocked domain or one of its
    subdomains. The blocklist is a literal (ships with the job), so the
    gate compiles to a row-local boolean — zero joins."""
    blocked = F.lit(False)
    for b in BLOCKED_HOSTS:
        blocked = blocked | (host == b) | host.endswith("." + b)
    return blocked


ID_COL = "doc_id"


def url_wrap(df: DataFrame) -> DataFrame:
    """Deterministic URL fixture: page identity from doc_id % URL_GROUPS
    (so canonical URLs collide across documents), canonicalization
    noise (case, tracking params, fragments, default ports) from doc_id
    itself (so raw URLs differ within a canonical group)."""
    did = F.col(ID_COL)
    k = did % URL_GROUPS
    scheme = F.when(k % 3 == 0, F.lit("http")).otherwise(F.lit("https"))
    scheme = F.when(did % 2 == 0, F.upper(scheme)).otherwise(scheme)
    host = F.element_at(
        F.array(*[F.lit(h) for h in FIXTURE_HOSTS]), (k % 6 + 1).cast("int")
    )
    host = F.when(did % 3 == 0, F.upper(host)).otherwise(host)
    port = F.element_at(
        F.array(F.lit(":80"), F.lit(":443"), F.lit(":8080"), F.lit(""), F.lit("")),
        (k % 5 + 1).cast("int"),
    )
    path = F.concat(
        F.lit("/a/"), (k % 7).cast("string"), F.lit("/item-"), (k % 13).cast("string")
    )
    real_q = F.when(
        k % 4 == 1, F.concat(F.lit("id="), (k % 11).cast("string"))
    ).otherwise(F.lit(""))
    track_q = F.when(
        did % 2 == 0,
        F.concat(
            F.lit("utm_source=feed&utm_campaign=c"), (did % 7).cast("string")
        ),
    ).otherwise(F.lit(""))
    qparts = F.filter(F.array(real_q, track_q), lambda x: x != F.lit(""))
    query = F.when(
        F.size(qparts) > 0, F.concat(F.lit("?"), F.array_join(qparts, "&"))
    ).otherwise(F.lit(""))
    frag = F.when(
        did % 3 == 0, F.concat(F.lit("#sec"), (did % 4).cast("string"))
    ).otherwise(F.lit(""))
    return df.withColumn(
        "url", F.concat(scheme, F.lit("://"), host, port, path, query, frag)
    )


# --- oracle side (generated from the SAME constants) ------------------------


def _parts_sql(url: str) -> dict[str, str]:
    return {
        "scheme": f"lower(regexp_extract({url}, '{SCHEME_RE}', 1))",
        "host": (
            f"lower(regexp_replace(regexp_extract({url}, '{AUTHORITY_RE}', 1), "
            f"'{PORT_STRIP_RE}', ''))"
        ),
        "port": f"regexp_extract(regexp_extract({url}, '{AUTHORITY_RE}', 1), '{PORT_RE}', 1)",
        "path": f"regexp_extract(regexp_extract({url}, '{PATHQ_RE}', 1), '^([^?]*)', 1)",
        "query": f"regexp_extract(regexp_extract({url}, '{PATHQ_RE}', 1), '^[^?]*\\?(.*)$', 1)",
    }


def canonical_url_sql(url: str) -> str:
    p = _parts_sql(url)
    kept = (
        f"list_filter(string_split({p['query']}, '&'), "
        f"q -> q != '' AND NOT regexp_matches(q, '{TRACKING_PARAM_RE}'))"
    )
    default_port = " OR ".join(
        f"({p['scheme']} = '{s}' AND {p['port']} = '{pt}')"
        for s, pt in DEFAULT_PORTS
    )
    return (
        f"{p['scheme']} || '://' || {p['host']} || "
        f"(CASE WHEN {p['port']} = '' OR {default_port} THEN '' "
        f"ELSE ':' || {p['port']} END) || "
        f"(CASE WHEN {p['path']} = '' THEN '/' ELSE {p['path']} END) || "
        f"(CASE WHEN len({kept}) > 0 "
        f"THEN '?' || array_to_string({kept}, '&') ELSE '' END)"
    )


def host_sql(url: str) -> str:
    return _parts_sql(url)["host"]


def has_tracking_sql(url: str) -> str:
    qs = _parts_sql(url)["query"]
    return (
        f"len(list_filter(string_split({qs}, '&'), "
        f"q -> regexp_matches(q, '{TRACKING_PARAM_RE}'))) > 0"
    )


def host_blocked_sql(host: str) -> str:
    return " OR ".join(
        f"({host} = '{b}' OR {host} LIKE '%.{b}')" for b in BLOCKED_HOSTS
    )


def url_wrap_sql() -> str:
    """DuckDB expression rebuilding url_wrap's URL from doc_id."""
    k = f"({ID_COL} % {URL_GROUPS})"
    hosts = ", ".join(f"'{h}'" for h in FIXTURE_HOSTS)
    scheme_base = f"(CASE WHEN {k} % 3 = 0 THEN 'http' ELSE 'https' END)"
    scheme = (
        f"(CASE WHEN {ID_COL} % 2 = 0 THEN upper({scheme_base}) "
        f"ELSE {scheme_base} END)"
    )
    host_base = f"list_extract([{hosts}], CAST({k} % 6 + 1 AS INT))"
    host = (
        f"(CASE WHEN {ID_COL} % 3 = 0 THEN upper({host_base}) "
        f"ELSE {host_base} END)"
    )
    port = f"list_extract([':80', ':443', ':8080', '', ''], CAST({k} % 5 + 1 AS INT))"
    path = (
        f"('/a/' || CAST({k} % 7 AS VARCHAR) || '/item-' "
        f"|| CAST({k} % 13 AS VARCHAR))"
    )
    real_q = (
        f"(CASE WHEN {k} % 4 = 1 THEN 'id=' || CAST({k} % 11 AS VARCHAR) "
        f"ELSE '' END)"
    )
    track_q = (
        f"(CASE WHEN {ID_COL} % 2 = 0 THEN 'utm_source=feed&utm_campaign=c' "
        f"|| CAST({ID_COL} % 7 AS VARCHAR) ELSE '' END)"
    )
    qparts = f"list_filter([{real_q}, {track_q}], x -> x != '')"
    query = (
        f"(CASE WHEN len({qparts}) > 0 "
        f"THEN '?' || array_to_string({qparts}, '&') ELSE '' END)"
    )
    frag = (
        f"(CASE WHEN {ID_COL} % 3 = 0 THEN '#sec' || "
        f"CAST({ID_COL} % 4 AS VARCHAR) ELSE '' END)"
    )
    return f"{scheme} || '://' || {host} || {port} || {path} || {query} || {frag}"
