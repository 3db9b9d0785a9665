"""URL canonicalization + hashing as JVM-side Column expressions.

Everything here stays inside whole-stage codegen (regexp/string
builtins, no Python UDFs), so canonicalizing 10^10 URLs is a pure
map stage.  ``canonicalize_url_sql_duckdb`` emits the equivalent
DuckDB SQL so the driver's oracle can verify semantics byte-for-byte.

Canonical form:
    * trim, strip fragment
    * scheme + authority lowercased
    * default ports removed (http:80, https:443)
    * empty path -> '/'
    * query parameters sorted lexicographically ('&'-split)
    * trailing lone '?' dropped
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_AUTH_RE = r"^([a-zA-Z][a-zA-Z0-9+.\-]*://[^/?]*)"


def canonicalize_url(url: Column) -> Column:
    u = F.regexp_replace(F.trim(url), "#.*$", "")
    authority = F.regexp_extract(u, _AUTH_RE, 1)
    rest = F.substring(u, F.length(authority) + F.lit(1), F.lit(1 << 30))
    auth = F.lower(authority)
    auth = F.regexp_replace(auth, "^(http://[^/:]+):80$", "$1")
    auth = F.regexp_replace(auth, "^(https://[^/:]+):443$", "$1")
    path = F.regexp_replace(rest, r"\?.*$", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    has_q = F.instr(rest, "?") > 0
    query = F.regexp_replace(rest, r"^[^?]*\?", "")
    qsorted = F.array_join(F.array_sort(F.split(query, "&")), "&")
    tail = F.when(has_q & (qsorted != ""), F.concat(F.lit("?"), qsorted)).otherwise(
        F.lit("")
    )
    return F.when(authority == "", F.trim(url)).otherwise(
        F.concat(auth, path, tail)
    )


def canonicalize_url_sql_duckdb(col: str) -> str:
    """DuckDB SQL mirroring :func:`canonicalize_url` (oracle side)."""
    u = f"regexp_replace(trim({col}, ' '), '#.*$', '')"
    authority = rf"regexp_extract({u}, '^([a-zA-Z][a-zA-Z0-9+.\-]*://[^/?]*)', 1)"
    rest = f"substring({u}, length({authority}) + 1)"
    auth = f"lower({authority})"
    auth = rf"regexp_replace({auth}, '^(http://[^/:]+):80$', '\1')"
    auth = rf"regexp_replace({auth}, '^(https://[^/:]+):443$', '\1')"
    path = rf"regexp_replace({rest}, '\?.*$', '')"
    path = f"(CASE WHEN {path} = '' THEN '/' ELSE {path} END)"
    has_q = f"(instr({rest}, '?') > 0)"
    query = rf"regexp_replace({rest}, '^[^?]*\?', '')"
    qsorted = (
        f"list_aggregate(list_sort(string_split({query}, '&')), 'string_agg', '&')"
    )
    tail = (
        f"(CASE WHEN {has_q} AND {qsorted} <> '' THEN '?' || {qsorted} ELSE '' END)"
    )
    return (
        f"(CASE WHEN {authority} = '' THEN trim({col}, ' ') "
        f"ELSE {auth} || {path} || {tail} END)"
    )


def url_hash(canon_url: Column) -> Column:
    """64-bit identity of a canonical URL (frontier/seen key)."""
    return F.xxhash64(canon_url)
