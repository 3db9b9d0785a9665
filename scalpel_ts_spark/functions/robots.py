"""robots.txt parsing + distributed allow/deny filtering (RFC 9309).

The crawl engine's sandbox politeness uses the deterministic synthetic
rule table (sources/synthetic.py) so the simulator-equality gates stay
exact; THIS module is the production robots path that pairs with
``sources/fetch.http_fetch_stage``: parse each host's real robots.txt
once, then filter candidate URLs host-by-host with the same
partition-owned cogroup shape as the bloom seen-set (one task holds one
host's compiled rules and vets its whole candidate batch — rules are
never broadcast, so 10^7 hosts of rule state stay partitioned).

Semantics per RFC 9309 (and the de-facto Googlebot extensions):

* groups = one or more ``User-agent:`` lines followed by rules;
  the group whose agent token is the LONGEST match for our product
  token applies; ``*`` is the fallback group; multiple groups for the
  same agent merge
* ``Allow`` / ``Disallow`` path patterns support ``*`` (any run) and a
  trailing ``$`` (end anchor); field names are case-insensitive;
  ``#`` starts a comment
* decision = the matching rule with the LONGEST pattern wins;
  tie -> Allow; no rule matches (or no group) -> allowed; an empty
  Disallow pattern disallows nothing
"""

from __future__ import annotations

import re
from typing import Iterable, List, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

# (allow?, pattern_length, compiled_regex)
Rule = Tuple[bool, int, "re.Pattern[str]"]


def _compile_path_pattern(pattern: str) -> "re.Pattern[str]":
    anchored = pattern.endswith("$")
    if anchored:
        pattern = pattern[:-1]
    parts = [re.escape(p) for p in pattern.split("*")]
    body = ".*".join(parts)
    return re.compile("^" + body + ("$" if anchored else ""))


def _parse_groups(text: str) -> dict:
    """robots.txt -> {agent_token: {"rules": [Rule], "delay": float?}}
    (same-agent groups merged; shared by rule and crawl-delay
    extraction)."""
    groups: dict[str, dict] = {}
    current_agents: list[str] = []
    rules_open = False  # False while collecting consecutive UA lines
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if not value:
                # a bare "User-agent:" line is malformed; recording an
                # empty token would PREFIX-MATCH every crawler and
                # outrank the explicit '*' fallback group — ignore the
                # line entirely (Google parser behavior for lines that
                # fail to parse a valid agent)
                continue
            if rules_open:
                current_agents = []
                rules_open = False
            current_agents.append(value.lower())
            for a in current_agents:
                groups.setdefault(a, {"rules": [], "delay": None})
        elif field == "crawl-delay":
            # de-facto extension (not RFC 9309): seconds between
            # requests, bound to the agents collected so far.  Like
            # sitemap/unknown fields it does NOT close the user-agent
            # collection run (pinned: a UA line after it still joins
            # the same group for subsequent rules).  Invalid or
            # negative values are ignored.
            if not current_agents:
                continue
            try:
                delay = float(value)
            except ValueError:
                continue
            if delay >= 0:
                for a in current_agents:
                    groups[a]["delay"] = delay
        elif field in ("allow", "disallow"):
            rules_open = True
            if not current_agents:
                continue  # rules before any user-agent line: ignored
            if field == "disallow" and value == "":
                continue  # empty Disallow permits everything
            rule = (field == "allow", len(value), _compile_path_pattern(value))
            for a in current_agents:
                groups[a]["rules"].append(rule)
        else:
            # sitemap / unknown fields end nothing: they neither open a
            # group's rule section nor close the user-agent collection
            # run (Google parser behavior)
            pass
    return groups


def _select_group(groups: dict, user_agent: str) -> Optional[dict]:
    """Group selection: the group token must be a case-insensitive
    PREFIX of our product token (the part before '/'), longest prefix
    wins — the de-facto standard (Google's parser: "user-agent: goo"
    matches Googlebot); bare substring matching would let an unrelated
    group like "park" capture "scalpel-ts-spark".  ``*`` is the
    fallback group."""
    product = user_agent.lower().split("/", 1)[0].strip()
    best = None  # (match_len, group)
    for agent_token, group in groups.items():
        if agent_token == "*":
            continue
        if product.startswith(agent_token) and (
            best is None or len(agent_token) > best[0]
        ):
            best = (len(agent_token), group)
    if best is not None:
        return best[1]
    return groups.get("*")


def parse_robots(text: str, user_agent: str = "scalpel-ts-spark") -> List[Rule]:
    """Parse a robots.txt body into the rule list applying to
    ``user_agent`` (longest agent-token match; ``*`` fallback;
    same-agent groups merged)."""
    group = _select_group(_parse_groups(text), user_agent)
    return group["rules"] if group is not None else []


def crawl_delay(
    text: str, user_agent: str = "scalpel-ts-spark"
) -> Optional[float]:
    """The Crawl-delay (seconds) of the group applying to
    ``user_agent``, or None when the host declares none.  Feeds the
    politeness token bucket: refill_rate = 1/delay requests/sec."""
    group = _select_group(_parse_groups(text), user_agent)
    return group["delay"] if group is not None else None


def is_allowed(rules: Iterable[Rule], path: str) -> bool:
    """Longest-pattern match wins; tie -> Allow; no match -> allowed."""
    best_len = -1
    best_allow = True
    for allow, plen, rx in rules:
        if rx.match(path) and (
            plen > best_len or (plen == best_len and allow)
        ):
            best_len = plen
            best_allow = allow
    return best_allow


#: RFC 9309 §2.3.1.3-4: a robots.txt unreachable due to SERVER error
#: (5xx / transport) means complete disallow; writing this body into
#: the cache makes the parser yield that naturally, with no separate
#: status column to lose on the way through the table
DISALLOW_ALL = "User-agent: *\nDisallow: /"


def http_robots_stage(fetch_fn, user_agent: str = "scalpel-ts-spark"):
    """Factory for CrawlEngine's ``robots_stage`` seam: fetch each new
    host's real robots.txt.

    Input: one row per new host ``(host_id long, url string)`` where
    url is any exemplar URL of the host (the engine passes
    ``min(url)``); output ``(host_id, robots_txt)``.  Error classes
    per RFC 9309 §2.3.1:

    * 2xx — body decoded with the reference charset rule; a body whose
      advertised utf-8 charset lies decodes best-effort as ISO-8859-1
      (a SUCCESSFUL fetch must never be treated as unreachable);
    * 4xx (``HTTPError`` or returned status) — "unavailable": NULL
      body, i.e. no restrictions;
    * 5xx / transport failure — "unreachable": the DISALLOW_ALL
      sentinel body, i.e. complete disallow.

    mapInPandas (one short row per host) — robots fetching scales with
    hosts, never with URLs.
    """
    from typing import Iterator
    from urllib.error import HTTPError
    from urllib.parse import urlsplit

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from scalpel_ts_spark.sources.fetch import (
        decode_iso8859_1,
        decode_response,
    )

    out_schema = StructType(
        [
            StructField("host_id", LongType()),
            StructField("robots_txt", StringType()),
        ]
    )

    def stage(df: DataFrame) -> DataFrame:
        def _fetch(batches: "Iterator[pd.DataFrame]"):
            for pdf in batches:
                texts = []
                for url in pdf["url"]:
                    sp = urlsplit(url)
                    robots_url = f"{sp.scheme}://{sp.netloc}/robots.txt"
                    try:
                        try:
                            status, ctype, body = fetch_fn(robots_url)
                        except HTTPError as he:
                            if he.code >= 500:
                                raise
                            status, ctype, body = he.code, None, b""
                        if 200 <= status < 300:
                            try:
                                texts.append(decode_response(body, ctype))
                            except UnicodeDecodeError:
                                # a SUCCESSFULLY fetched robots.txt
                                # whose advertised charset lies (e.g.
                                # windows-1252 bytes labeled utf-8)
                                # must be parsed best-effort, not
                                # treated as unreachable — RFC 9309
                                # scopes complete-disallow to 5xx /
                                # network failure only
                                texts.append(decode_iso8859_1(body))
                        elif status < 500:
                            texts.append(None)  # 4xx: no restrictions
                        else:
                            texts.append(DISALLOW_ALL)
                    except Exception:
                        texts.append(DISALLOW_ALL)  # unreachable
                yield pdf[["host_id"]].assign(robots_txt=texts)

        return df.mapInPandas(_fetch, out_schema)

    return stage


def host_crawl_delays(
    robots: DataFrame,
    host_col: str = "host_id",
    robots_txt_col: str = "robots_txt",
    user_agent: str = "scalpel-ts-spark",
) -> DataFrame:
    """(host_id, crawl_delay double) for every host declaring one.

    One vectorized pass over the per-host robots cache (one short row
    per host — tiny next to the frontier).  The scheduler joins this
    onto host_state to derive per-host token refill rates
    (refill = round_seconds / crawl_delay, capped by the global
    politeness budget); streaming/politeness.host_budget_fn consumes
    the same signal via a per-host ``refill`` column.
    """
    from pyspark.sql.types import DoubleType

    @F.pandas_udf(DoubleType())
    def _delay(bodies: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None if b is None else crawl_delay(b, user_agent)
                for b in bodies
            ],
            dtype="float64",
        )

    return (
        robots.select(
            F.col(host_col),
            _delay(F.col(robots_txt_col)).alias("crawl_delay"),
        )
        .filter(F.col("crawl_delay").isNotNull())
    )


def robots_filter_stage(
    candidates: DataFrame,
    robots: DataFrame,
    host_col: str = "host_id",
    path_col: str = "path",
    robots_txt_col: str = "robots_txt",
    user_agent: str = "scalpel-ts-spark",
) -> DataFrame:
    """Keep only candidates allowed by their host's robots.txt.

    Cogrouped by host: each task parses ONE host's robots body once and
    vets that host's whole candidate batch — the partition-owned shape
    that scales to 10^7 hosts without broadcasting rule state.

    Error-class conventions (RFC 9309 §2.3.1):

    * no robots row, or a NULL body — "unreachable / 4xx" class: the
      host is fully allowed (§2.3.1.2-3);
    * a 5xx robots fetch should be written by the fetcher as the body
      ``"User-agent: *\\nDisallow: /"`` — the parser then yields
      disallow-all naturally, matching §2.3.1.4's MUST-assume-complete-
      disallow for server errors (there is no separate status column to
      lose on the way through the cache table);
    * if the robots table carries several rows for one host (e.g. a
      re-fetch landed next to a cached row), the lexicographically
      greatest body wins — deterministic under pandas cogroup order.
    """
    out_schema = StructType(
        list(candidates.schema.fields) + [StructField("allowed", IntegerType())]
    )

    def _pick_body(rob_pdf: pd.DataFrame):
        if len(rob_pdf) == 0:
            return None
        if len(rob_pdf) > 1:
            rob_pdf = rob_pdf.sort_values(robots_txt_col, na_position="first")
        return rob_pdf[robots_txt_col].iloc[-1]

    def _vet(cand_pdf: pd.DataFrame, rob_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(cand_pdf) == 0:
            return cand_pdf.assign(allowed=pd.array([], dtype="int32"))
        body = _pick_body(rob_pdf)
        if body is None:
            rules = None  # unreachable robots.txt: no restrictions
        else:
            rules = parse_robots(body, user_agent)
        # a NULL path is a malformed candidate: drop it rather than
        # crash the task (crawl-must-survive-bad-input posture)
        flags = [
            0
            if p is None
            else (1 if rules is None or is_allowed(rules, p) else 0)
            for p in cand_pdf[path_col]
        ]
        return cand_pdf.assign(allowed=pd.array(flags, dtype="int32"))

    cg = candidates.groupBy(host_col).cogroup(robots.groupBy(host_col))
    return (
        cg.applyInPandas(_vet, out_schema)
        .filter(F.col("allowed") == 1)
        .drop("allowed")
    )
