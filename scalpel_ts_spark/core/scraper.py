"""Scraper combinators — extraction programs over a TagSpec.

Reference: src/Scraper.ts (combinators) + src/Internal/ReaderOption.ts
(the Monad/Alternative/Filterable instances).  A scraper is a function
``TagSpec -> value | NOTHING``; ``NOTHING`` models the reference's
``Option`` failure and becomes SQL NULL at the Spark boundary.

Every combinator returns a ``Scraper`` around a closure over the
scrapers it composes, and Spark's cloudpickle ships those closures
inside pandas-UDF task closures to executors unchanged.
"""

from __future__ import annotations

from scalpel_ts_spark.core.select import select
from scalpel_ts_spark.core.tag_spec import TagSpec, tags_to_spec
from scalpel_ts_spark.core.tokenizer import (
    TagOpen,
    Text,
    parse,
    show_token,
)


class _Nothing:
    """Singleton failure marker (reference Option None)."""

    def __repr__(self):
        return "NOTHING"

    def __reduce__(self):  # pickle by reference to the module global
        return "NOTHING"


NOTHING = _Nothing()


class Scraper:
    """Wraps ``run: TagSpec -> value | NOTHING`` with combinator methods."""

    __slots__ = ("run",)

    def __init__(self, run):
        self.run = run

    # Functor / Monad / Alternative / Filterable
    # (reference src/Internal/ReaderOption.ts:160-318)
    def map(self, f):
        run = self.run

        def mapped(spec):
            v = run(spec)
            return v if v is NOTHING else f(v)

        return Scraper(mapped)

    def chain(self, f):
        """f: value -> Scraper (reference chain / do-notation bind)."""
        run = self.run

        def chained(spec):
            v = run(spec)
            return v if v is NOTHING else f(v).run(spec)

        return Scraper(chained)

    def alt(self, other):
        """First success wins (ReaderOption.ts:240-242)."""
        first, second = self.run, other.run

        def alternative(spec):
            v = first(spec)
            return v if v is not NOTHING else second(spec)

        return Scraper(alternative)

    def filter(self, predicate):
        run = self.run

        def filtered(spec):
            v = run(spec)
            if v is NOTHING or not predicate(v):
                return NOTHING
            return v

        return Scraper(filtered)

    def filter_map(self, f):
        """f: value -> value | NOTHING."""
        return self.map(f)

    # do-notation helpers mirroring bindTo / bind
    def bind_to(self, name):
        return self.map(lambda value: {name: value})

    def bind(self, name, f):
        """f: dict -> Scraper; result dict gains key ``name``."""
        run = self.run

        def bound(spec):
            ctx = run(spec)
            if ctx is NOTHING:
                return NOTHING
            v = f(ctx).run(spec)
            if v is NOTHING:
                return NOTHING
            out = dict(ctx)
            out[name] = v
            return out

        return Scraper(bound)


def of(value):
    """Scrape.of — always succeeds with ``value``."""
    return Scraper(lambda spec: value)


def _fail(spec):
    return NOTHING


def fail():
    return Scraper(_fail)


# ---------------------------------------------------------------------------
# value extractors over a chrooted TagSpec (reference Scraper.ts:263-331)
# ---------------------------------------------------------------------------


def _tags_to_text(spec: TagSpec) -> str:
    return "".join(
        i.token.text for i in spec.tags if type(i.token) is Text
    )


def _tags_to_attr(key: str, spec: TagSpec):
    """First attribute value with exact key on any TagOpen in the span.

    Key matching here is case-SENSITIVE (Scraper.ts:288) — distinct
    from the selector-level ``attribute`` predicate.
    """
    for info in spec.tags:
        tok = info.token
        if type(tok) is TagOpen:
            for k, v in tok.attributes:
                if k == key:
                    return v
    return NOTHING


def _tags_to_html(spec: TagSpec) -> str:
    return "".join(show_token(i.token) for i in spec.tags)


def _tags_to_inner_html(spec: TagSpec) -> str:
    if len(spec.tags) < 2:
        return ""
    return "".join(show_token(i.token) for i in spec.tags[1:-1])


# ---------------------------------------------------------------------------
# the scraper primitives (reference Scraper.ts:36-224)
# ---------------------------------------------------------------------------


def chroots(selector, scraper):
    """chroots: run inner scraper per match, keep successes
    (Scraper.ts:46-49)."""
    selector, run = tuple(selector), scraper.run

    def each(spec):
        out = []
        for sub in select(selector, spec):
            v = run(sub)
            if v is not NOTHING:
                out.append(v)
        return out

    return Scraper(each)


def chroot(selector, scraper):
    """chroot: first match only (Scraper.ts:62-63)."""
    selector, run = tuple(selector), scraper.run

    def first(spec):
        for sub in select(selector, spec):
            v = run(sub)
            if v is not NOTHING:
                return v
        return NOTHING

    return Scraper(first)


def matches(selector):
    """matches: None (void) if the selector matches at all
    (Scraper.ts:72-78)."""
    selector = tuple(selector)
    return Scraper(lambda spec: None if select(selector, spec) else NOTHING)


def _first_match(selector, extract):
    """``extract`` of the first match, NOTHING without one
    (text/html/innerHTML)."""
    selector = tuple(selector)

    def first(spec):
        found = select(selector, spec)
        return extract(found[0]) if found else NOTHING

    return Scraper(first)


def _every_match(selector, extract):
    """``extract`` of every match (texts/htmls/innerHTMLs)."""
    selector = tuple(selector)
    return Scraper(lambda spec: [extract(m) for m in select(selector, spec)])


def _head(values):
    return values[0] if values else NOTHING


def text(selector):
    return _first_match(selector, _tags_to_text)


def texts(selector):
    return _every_match(selector, _tags_to_text)


def html(selector):
    return _first_match(selector, _tags_to_html)


def htmls(selector):
    return _every_match(selector, _tags_to_html)


def inner_html(selector):
    return _first_match(selector, _tags_to_inner_html)


def inner_htmls(selector):
    return _every_match(selector, _tags_to_inner_html)


def attr(key, selector):
    """First value of :func:`attrs`, so a first match lacking the key
    falls through to the next match that has it."""
    return attrs(key, selector).filter_map(_head)


def attrs(key, selector):
    """Values of ``key`` over the matches; matches lacking it drop."""
    selector = tuple(selector)

    def values(spec):
        out = []
        for m in select(selector, spec):
            v = _tags_to_attr(key, m)
            if v is not NOTHING:
                out.append(v)
        return out

    return Scraper(values)


def _position(spec):
    return spec.context.position


#: position: index of the current chroot among sibling matches
#: (Scraper.ts:224)
position = Scraper(_position)


# ---------------------------------------------------------------------------
# runners (reference Scraper.ts:237-243, Fetch.ts:201-206)
# ---------------------------------------------------------------------------


def scrape(scraper: Scraper, tokens):
    """Run a scraper on a token stream → value | NOTHING."""
    return scraper.run(tags_to_spec(tokens))


def scrape_raw(html_source: str, scraper: Scraper):
    """End-to-end on a raw HTML string → value | NOTHING."""
    return scrape(scraper, parse(html_source))


def scrape_either(html_source: str, scraper: Scraper):
    """Reference ``scrapeRaw`` Either: ('right', v) or
    ('left', 'Failed to scrape source')."""
    v = scrape_raw(html_source, scraper)
    if v is NOTHING:
        return ("left", "Failed to scrape source")
    return ("right", v)
