"""Extraction operators: Arrow-batched pandas UDFs over the core.

The single-document core (scalpel_ts_spark.core) is pure Python and
shipped by cloudpickle, so a compiled scraper travels to executors
inside the UDF closure — the Spark-side plan stays fully declarative
and Catalyst can prune/push down around the UDF.  Each UDF parses a
document ONCE; only a scraper UDF builds a TagSpec from the tokens, and
the span and signature UDFs fold over the tokens themselves.

Scale notes:
* ``pandas_udf`` (Series -> Series/DataFrame) keeps transfer in Arrow
  batches (spark.sql.execution.arrow.maxRecordsPerBatch) — no
  per-row Python at the Spark boundary.
* Catalyst cannot see inside a UDF, so :func:`with_tag_signature`
  materializes a cheap per-doc ``tag_names`` column at ingest; filters
  like ``array_contains(tag_names, 'h2')`` then prune documents
  *before* the expensive extract UDF runs (and push down to the
  parquet/Iceberg scan on re-read).
"""

from __future__ import annotations

from urllib.parse import urljoin

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from scalpel_ts_spark.core.scraper import NOTHING, Scraper
from scalpel_ts_spark.core.tag_spec import TagSpec, tags_to_spec
from scalpel_ts_spark.core.tokenizer import TagClose, TagOpen, Text, parse

# The interleaved text+media span schema (BASELINE.json input_hint).
SPAN_SCHEMA = ArrayType(
    StructType(
        [
            StructField("kind", StringType()),
            StructField("text", StringType()),
            StructField("media_ref", StringType()),
            StructField("offset", IntegerType()),
        ]
    )
)

# media tags -> span kind
MEDIA_KINDS = {
    "img": "image",
    "audio": "audio",
    "video": "video",
    "embed": "embed",
}


def _spans(tokens):
    """The interleaved (kind, text, media_ref, offset) span sequence of
    a token stream, in token order; the one code that builds span rows.

    Text tokens become ``text`` spans; media open tags (img/audio/
    video/embed) become media spans whose ``media_ref`` is their
    src attribute.  ``offset`` is the ordinal in the interleaved
    sequence — the per-row invariant checked against the reference is
    (kind, text, media_ref, order).  The fold reads tokens only, never
    the tag forest, so the UDFs run it on ``parse`` output directly.
    """
    spans = []
    for tok in tokens:
        k = type(tok)
        if k is Text:
            kind, text, ref = "text", tok.text, None
        elif k is TagOpen and tok.name in MEDIA_KINDS:
            kind, text, ref = MEDIA_KINDS[tok.name], None, None
            for ak, av in tok.attributes:
                if ak == "src":
                    ref = av
                    break
        else:
            continue
        spans.append(
            {"kind": kind, "text": text, "media_ref": ref, "offset": len(spans)}
        )
    return spans


def _spec_spans(spec: TagSpec):
    return _spans(info.token for info in spec.tags)


class SpanExtractor(Scraper):
    """Scraper over :func:`_spans` of the chroot's tokens; it pickles by
    reference, so plain ``pickle`` ships it as well as cloudpickle."""

    __slots__ = ()

    def __init__(self):
        super().__init__(_spec_spans)


def _doc_udf(fn, return_type):
    """Arrow-batched UDF: html -> ``fn(parse(html))`` per document
    (``fn``'s result must fit ``return_type``); a NULL document gives
    NULL."""

    @F.pandas_udf(return_type)
    def _udf(html: pd.Series) -> pd.Series:
        return pd.Series(
            [None if doc is None else fn(parse(doc)) for doc in html]
        )

    return _udf


def scrape_udf(scraper: Scraper, return_type):
    """Generic factory: run ``scraper`` per document over Arrow batches.

    The scraper's result must be representable in ``return_type``
    (NOTHING becomes NULL).
    """
    run = scraper.run

    def scrape(tokens):
        v = run(tags_to_spec(tokens))
        return None if v is NOTHING else v

    return _doc_udf(scrape, return_type)


def extract_spans_udf():
    """html -> interleaved span sequence (SPAN_SCHEMA)."""
    return _doc_udf(_spans, SPAN_SCHEMA)


CRAWL_EXTRACT_SCHEMA = StructType(
    [
        StructField("spans", SPAN_SCHEMA),
        StructField("links", ArrayType(StringType())),
        StructField("title", StringType()),
    ]
)


def crawl_extract_tokens(tokens):
    """The crawl triple (spans, links, title) of a token list: the span
    fold :func:`_spans` plus one flat links/title pass — semantically
    identical to running ``SpanExtractor``, ``attrs('href', tag('a'))``
    and ``text(tag('title'))`` over the TagSpec, but without building
    the forest or walking it three times.

    Why this is sound (asserted over the golden corpus + random HTML in
    tests/test_property.py):

    * every ``TagOpen`` becomes exactly one forest node, and the DFS
      emits single-tag matches in document order — so "all ``a``
      matches" == "all ``TagOpen('a')`` tokens in order";
    * the ``attrs`` fold (Scraper.ts:296-310) returns the FIRST
      href-bearing ``TagOpen`` anywhere in each match's span
      ``[open, open+closeOffset]`` (so an href-less ``<a>`` can pick
      up a descendant's href): emulated with a per-name LIFO of
      pending anchors, each resolved by the first href-carrying open
      seen while it is still on the stack, finalized at its matching
      close; an anchor still open at EOF has span ``[open, open]``
      and therefore counts only its own href.  Two deliberate
      deviations, both scoped to link DISCOVERY semantics (the crawl
      consumes links through canonicalize -> dedup, where order and
      multiplicity are immaterial): (a) nested anchors emit in
      document order rather than the reference cons-fold's
      (node, later-siblings, children) order; (b) malformed
      cross-nesting (fixTree hoist + liftSiblings overlap) can make
      the reference emit the SAME anchor node twice — this pass emits
      each anchor exactly once.  The link value SET is always
      identical (50k-case fuzz + property tests), sibling anchors in
      well-formed HTML are exactly identical, and the generic DFS
      path keeps full reference behavior;
    * ``SpanExtractor`` runs the same :func:`_spans` over
      ``spec.tags`` (token order) and never consults the hierarchy;
    * ``text(tag('title'))`` concatenates Text tokens in the first
      title's span; the matching close under the reference's per-name
      LIFO annotation (TagInfo.ts:228-237) is found by depth-counting
      ``title`` opens/closes, and an unclosed title has span
      ``[open, open]`` => ``''``.

    This is the crawl engine's hot path: the tokenizer remains the
    single parsing authority; only the O(nodes x selectors) DFS and the
    O(n log n) forest build are bypassed for this fixed plan.
    """
    link_slots: list = []  # one slot per <a> open, document order
    a_stack: list = []  # [slot_idx, own_href, first_href_in_span]
    title = NOTHING
    title_parts: list = []
    collecting = False
    title_seen = False
    pending = 0
    for tok in tokens:
        k = type(tok)
        if k is Text:
            if collecting:
                title_parts.append(tok.text)
        elif k is TagOpen:
            name = tok.name
            href = None
            for ak, av in tok.attributes:
                if ak == "href":
                    href = av
                    break
            if name == "a":
                a_stack.append([len(link_slots), href, None])
                link_slots.append(None)
            if href is not None:
                # first href-bearing open in each still-open span wins
                for entry in a_stack:
                    if entry[2] is None:
                        entry[2] = href
            if name == "title":
                if not title_seen:
                    title_seen = True
                    collecting = True
                    pending = 1
                elif collecting:
                    pending += 1
        elif k is TagClose:
            name = tok.name
            if name == "a":
                if a_stack:
                    slot, _own, first = a_stack.pop()
                    link_slots[slot] = first
            elif collecting and name == "title":
                pending -= 1
                if pending == 0:
                    collecting = False
                    title = "".join(title_parts)
    for slot, own, _first in a_stack:
        # unclosed anchor: span is [open, open] — only its own href
        link_slots[slot] = own
    if collecting:
        # first title never closed: closeOffset is None, span is
        # [open, open], so the text fold over it is empty
        title = ""
    links = [v for v in link_slots if v is not None]
    return _spans(tokens), links, title


def crawl_extract_udf():
    """(url, html) -> struct(spans, links, title) in ONE parse per doc.

    links are href attributes of anchor tags (reference combinator
    ``attrs('href', tag('a'))``) resolved against the document URL;
    title is ``text(tag('title'))``.  The plan runs the fused flat
    pass (:func:`crawl_extract_tokens`).
    """

    @F.pandas_udf(CRAWL_EXTRACT_SCHEMA)
    def _udf(url: pd.Series, html: pd.Series) -> pd.DataFrame:
        return _extract_batch(url, html)

    return _udf


def _extract_batch(url: pd.Series, html) -> pd.DataFrame:
    """One Arrow batch through the fused flat pass (shared by the
    two-stage and fetch-fused UDFs — identical semantics by
    construction)."""
    spans_out, links_out, title_out = [], [], []
    for u, doc in zip(url, html):
        if doc is None:
            spans_out.append(None)
            links_out.append(None)
            title_out.append(None)
            continue
        spans, raw_links, title = crawl_extract_tokens(parse(doc))
        # absolute links (the overwhelming majority of crawl
        # discoveries) skip urllib's parse/unparse round-trip —
        # urljoin(base, absolute) is the identity
        links = [
            link
            if link.startswith(("http://", "https://"))
            else urljoin(u, link)
            for link in raw_links
        ]
        spans_out.append(spans)
        links_out.append(links)
        title_out.append(None if title is NOTHING else title)
    return pd.DataFrame(
        {"spans": spans_out, "links": links_out, "title": title_out}
    )


def fused_fetch_extract_udf(fetch_fn):
    """url -> struct(spans, links, title): fetch AND parse inside one
    Python worker call.

    Chaining a fetch UDF and ``crawl_extract_udf`` evaluates as two
    ArrowEvalPython stages (the second consumes the first's output),
    so every document body crosses the JVM<->Python boundary twice —
    serialized out of the fetch UDF and back into the extract UDF —
    even though the engine drops ``html`` immediately after
    extraction.  Fusing them means bodies are produced and consumed
    inside the same worker process and only the ~10x-smaller extract
    struct rides Arrow.  A production fetch stage should compose the
    parser the same way so multi-KB bodies never hit the exchange
    (``http_fetch_stage`` still returns ``html``).  ``fetch_fn``:
    url -> html string (the synthetic web's ``html_for_url`` in the
    sandbox).
    """

    @F.pandas_udf(CRAWL_EXTRACT_SCHEMA)
    def _udf(url: pd.Series) -> pd.DataFrame:
        return _extract_batch(url, url.map(fetch_fn))

    return _udf


def tag_signature_udf():
    """html -> sorted distinct tag names (materialized pushdown column)."""
    return _doc_udf(
        lambda tokens: sorted({t.name for t in tokens if type(t) is TagOpen}),
        ArrayType(StringType()),
    )


def with_tag_signature(df, html_col: str = "html", out_col: str = "tag_names"):
    return df.withColumn(out_col, tag_signature_udf()(F.col(html_col)))


def selector_prefilter(selector, tag_names_col: str = "tag_names"):
    """Cheap Column prefilter for a compiled selector: every SelectOne
    tag in the selector must appear in the doc's tag signature.

    This is the engine's materialized-signature pushdown: it prunes
    documents before the opaque extract UDF (SURVEY.md §4.2).
    """
    cond = F.lit(True)
    for selection in selector:
        if selection.strategy == "one" and selection.tag:
            cond = cond & F.array_contains(F.col(tag_names_col), selection.tag)
    return cond
