"""Deterministic synthetic web — corpus, link graph, robots, fetcher.

The sandbox has no network, so the crawl engine fetches from a
deterministic synthetic web derived purely from the URL string (no
external data, task brief / BASELINE.md).  The SAME pure functions
drive both the Spark fetch UDF and the single-process reference
simulator, which is what makes the crawl-ordering equality gate
meaningful.

URL space: the generator writes pages and links as
``http://h{h}.test/p/{p}`` for host id h in [0, n_hosts) and page id
p >= 0; only page generation reads that shape back.  The crawl keys a
URL by hashes of the URL itself (``functions.url``), never by h or p.
The link graph has host locality plus a built-in hot host (h0 receives
~20% of cross-host links) to exercise skew mitigation.  The synthetic
robots rule disallows a URL when ``pmod(url_hash, 13) == 7``.
"""

from __future__ import annotations

import re
from hashlib import md5

from pyspark.sql import functions as F

_URL_RE = re.compile(r"^http://h(\d+)\.test/p/(\d+)$")


def make_url(host_id: int, page_id: int) -> str:
    return f"http://h{host_id}.test/p/{page_id}"


def parse_url_ids(url: str):
    m = _URL_RE.match(url)
    if not m:
        return None
    return int(m.group(1)), int(m.group(2))


def _rnd(*parts) -> int:
    return int(md5("/".join(str(p) for p in parts).encode()).hexdigest()[:12], 16)


def out_link_ids(host_id: int, page_id: int, n_hosts: int):
    """Deterministic outbound (host, page) targets of a page."""
    base = _rnd("links", host_id, page_id)
    n_links = 4 + base % 4
    targets = []
    for i in range(n_links):
        r = _rnd("edge", host_id, page_id, i)
        m = r % 10
        if m < 7:
            th = host_id  # locality
        elif m < 9:
            th = 0  # hot host: absorbs ~20% of non-local traffic
        else:
            th = r % n_hosts
        tp = (page_id * 7 + i * 13 + (r >> 8)) % 100_000
        targets.append((th, tp))
    return targets


def robots_disallowed(url_hash: int) -> bool:
    # Python's % on a negative long is Spark's pmod, not its %
    return url_hash % 13 == 7


_WORDS = (
    "spark scan merge join filter sort window batch stream vector "
    "query table column row hash agg part order key value data"
).split()


def html_for_url(url: str, n_hosts: int = 50) -> str:
    """Deterministic page body: title, paragraphs, media, anchors."""
    ids = parse_url_ids(url)
    if ids is None:
        return "<html><head><title>404</title></head><body></body></html>"
    h, p = ids
    r = _rnd("page", h, p)
    n_paras = 2 + r % 3
    paras = []
    for i in range(n_paras):
        pr = _rnd("para", h, p, i)
        words = [_WORDS[(pr >> (4 * j)) % len(_WORDS)] for j in range(8)]
        paras.append(f"<p>{' '.join(words)}</p>")
    media = ""
    if r % 3 == 0:
        media = f'<img class="hero" src="media://h{h}/p{p}/img0" />'
    anchors = "".join(
        f'<a href="{make_url(th, tp)}">link {i}</a>'
        for i, (th, tp) in enumerate(out_link_ids(h, p, n_hosts))
    )
    return (
        f"<html><head><title>Page {h}/{p}</title></head><body>"
        f"<h1>host {h} page {p}</h1>"
        f"{''.join(paras)}{media}<nav>{anchors}</nav>"
        f"</body></html>"
    )


def fetch_robots_rules(hosts_df):
    """Synthetic per-host robots.txt fetch: every host's rules parse
    to 'disallow URLs where pmod(url_hash, 13) == 7' (matches
    :func:`robots_disallowed`).  Production swaps this for a batched
    HTTP GET of /robots.txt per host inside a pandas UDF — the cache
    table and broadcast-join shape downstream are unchanged."""
    return hosts_df.select(
        "host_id",
        F.lit(13).alias("disallow_mod"),
        F.lit(7).alias("disallow_rem"),
    )
