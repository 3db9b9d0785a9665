"""Single-process reference crawl simulator.

Defines the deterministic crawl policy that the distributed engine
must reproduce EXACTLY (north rule: "matching the reference's crawl
ordering and URL-seen set under the same seed list + politeness
budget").  Because the reference library has no crawler of its own,
this simulator *is* the executable specification; the Spark engine and
this file share the synthetic-web functions, and the equality gate in
tests/test_frontier.py compares ordered fetch logs and seen sets.

Policy (shared with plans/frontier.py):
  * state: frontier {url -> (priority, seq)}, seen set of canonical
    urls, per-host token buckets (capacity CAP, +REFILL per round)
  * each round: refill tokens; per host take the top ``tokens`` urls
    ordered by (priority, seq); fetch; extract links via the scalpel
    combinator ``attrs('href', tag('a'))``; canonicalize; drop
    robots-disallowed targets; de-dup against seen; enqueue with
    priority = round + 1 and data-derived seq
  * fetch-log ordering key: (round, priority, seq) — data-derived,
    never task/scheduler-derived
"""

from __future__ import annotations

from dataclasses import dataclass, field
from urllib.parse import urljoin

import scalpel_ts_spark.core.scraper as S
import scalpel_ts_spark.core.select as Sel
from scalpel_ts_spark.core.scraper import NOTHING
from scalpel_ts_spark.core.tag_spec import tags_to_spec
from scalpel_ts_spark.core.tokenizer import parse
from scalpel_ts_spark.sources.synthetic import (
    html_for_url,
    parse_url_ids,
    robots_disallowed,
    seq_of,
)


@dataclass
class SimState:
    frontier: dict = field(default_factory=dict)  # url -> (priority, seq)
    seen: set = field(default_factory=set)
    tokens: dict = field(default_factory=dict)  # host_id -> tokens
    fetch_log: list = field(default_factory=list)
    round: int = 0


def simulate_crawl(
    seeds,
    rounds: int,
    cap: int = 8,
    refill: int = 4,
    n_hosts: int = 50,
) -> SimState:
    links_scraper = S.attrs("href", Sel.tag("a"))
    st = SimState()
    for url in seeds:
        st.frontier[url] = (0, seq_of(url))
        st.seen.add(url)

    for r in range(rounds):
        st.round = r + 1
        # refill / init token buckets for hosts with pending urls
        by_host: dict = {}
        for url, (prio, seq) in st.frontier.items():
            h, _ = parse_url_ids(url)
            by_host.setdefault(h, []).append((prio, seq, url))
        for h in by_host:
            st.tokens[h] = min(cap, st.tokens.get(h, cap) + (refill if h in st.tokens else 0))

        fetched = []
        for h, items in by_host.items():
            items.sort()
            quota = st.tokens[h]
            take = items[:quota]
            st.tokens[h] -= len(take)
            fetched.extend((r, prio, seq, url, h) for prio, seq, url in take)

        if not fetched:
            break

        for _, _, _, url, _ in fetched:
            del st.frontier[url]

        discovered: dict = {}
        for rnd, prio, seq, url, h in sorted(fetched, key=lambda t: (t[1], t[2])):
            html = html_for_url(url, n_hosts)
            spec = tags_to_spec(parse(html))
            raw_links = links_scraper.run(spec)
            links = [] if raw_links is NOTHING else [urljoin(url, x) for x in raw_links]
            n_new = 0
            for link in links:
                ids = parse_url_ids(link)
                if ids is None or robots_disallowed(ids[1]):
                    continue
                if link in st.seen or link in discovered:
                    continue
                discovered[link] = (r + 1, seq_of(link))
                n_new += 1
            st.fetch_log.append(
                {
                    "round": rnd,
                    "priority": prio,
                    "seq": seq,
                    "url": url,
                    "host_id": h,
                    "n_links": len(links),
                    "n_new": n_new,
                }
            )

        for link, (prio, seq) in discovered.items():
            st.frontier[link] = (prio, seq)
            st.seen.add(link)

    return st
