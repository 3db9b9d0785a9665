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

Keys: ``url_hash`` is ``xxhash64`` (seed 42) of the canonical URL and
``host_id`` is ``xxhash64`` of its ``scheme://authority``; a URL with
no authority has no host (null).  ``url_hash_py`` and ``host_id_py``
compute the same longs in pure Python (XXH64 over the UTF-8 bytes), so
the reference crawl simulator keys URLs exactly as the engine does.
"""

from __future__ import annotations

import re
import struct

from pyspark.sql import Column
from pyspark.sql import functions as F

_AUTH_RE = r"^([a-zA-Z][a-zA-Z0-9+.\-]*://[^/?]*)"
_AUTH_PY = re.compile(_AUTH_RE)


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
    """64-bit identity of a canonical URL (frontier/seen key, and the
    crawl order within a priority)."""
    return F.xxhash64(canon_url)


def host_id(canon_url: Column) -> Column:
    """64-bit host key: ``xxhash64`` of the URL's ``scheme://authority``,
    null when it has none."""
    authority = F.regexp_extract(canon_url, _AUTH_RE, 1)
    return F.when(authority != "", F.xxhash64(authority))


# --- pure-Python mirrors: XXH64 with seed 42, as Spark's xxhash64 ---

_P1, _P2, _P3, _P4, _P5 = (
    0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
    0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5,
)
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _lane(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def _xxh64(data: bytes, seed: int = 42) -> int:
    n = len(data)
    i = n - n % 32  # the bytes of whole 32-byte stripes
    h = seed + _P5
    if i:
        v = [seed + _P1 + _P2, seed + _P2, seed, seed - _P1]
        for stripe in struct.iter_unpack("<4Q", data[:i]):
            v = [_lane(a, b) for a, b in zip(v, stripe)]
        h = sum(_rotl(a, r) for a, r in zip(v, (1, 7, 12, 18))) & _M64
        for a in v:
            h = ((h ^ _lane(0, a)) * _P1 + _P4) & _M64
    h = (h + n) & _M64
    j = n - (n - i) % 8  # the end of the 8-byte words
    for (k,) in struct.iter_unpack("<Q", data[i:j]):
        h = (_rotl(h ^ _lane(0, k), 27) * _P1 + _P4) & _M64
    if n - j >= 4:
        (k,) = struct.unpack_from("<I", data, j)
        h = (_rotl(h ^ (k * _P1 & _M64), 23) * _P2 + _P3) & _M64
        j += 4
    for b in data[j:]:
        h = _rotl(h ^ (b * _P5 & _M64), 11) * _P1 & _M64
    for shift, prime in ((33, _P2), (29, _P3)):
        h = (h ^ (h >> shift)) * prime & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def url_hash_py(canon_url: str) -> int:
    """:func:`url_hash` of one URL, in Python."""
    return _xxh64(canon_url.encode("utf-8"))


def host_id_py(canon_url: str) -> int | None:
    """:func:`host_id` of one URL, in Python."""
    m = _AUTH_PY.match(canon_url)
    return url_hash_py(m.group(1)) if m else None
