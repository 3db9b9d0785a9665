"""Scraper combinators — extraction programs over a TagSpec.

Reference: src/Scraper.ts (combinators) + src/Internal/ReaderOption.ts
(the Monad/Alternative/Filterable instances).  A scraper is a function
``TagSpec -> value | NOTHING``; ``NOTHING`` models the reference's
``Option`` failure and becomes SQL NULL at the Spark boundary.

Everything is picklable: scrapers built from these combinators are
shipped inside pandas-UDF closures to executors unchanged.
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

    _instance = None

    def __new__(cls):
        if cls._instance is None:
            cls._instance = super().__new__(cls)
        return cls._instance

    def __repr__(self):
        return "NOTHING"

    def __reduce__(self):  # pickle to the same singleton
        return (_Nothing, ())


NOTHING = _Nothing()


class Scraper:
    """Wraps ``run: TagSpec -> value | NOTHING`` with combinator methods."""

    __slots__ = ("run",)

    def __init__(self, run):
        self.run = run

    # Functor / Monad / Alternative / Filterable
    # (reference src/Internal/ReaderOption.ts:160-318)
    def map(self, f):
        return _Map(self, f)

    def chain(self, f):
        """f: value -> Scraper (reference chain / do-notation bind)."""
        return _Chain(self, f)

    def alt(self, other):
        """First success wins (ReaderOption.ts:240-242)."""
        return _Alt(self, other)

    def filter(self, predicate):
        return _Filter(self, predicate)

    def filter_map(self, f):
        """f: value -> value | NOTHING."""
        return _FilterMap(self, f)

    # do-notation helpers mirroring bindTo / bind
    def bind_to(self, name):
        return _Map(self, _BindTo(name))

    def bind(self, name, f):
        """f: dict -> Scraper; result dict gains key ``name``."""
        return _Bind(self, name, f)


class _BindTo:
    def __init__(self, name):
        self.name = name

    def __call__(self, value):
        return {self.name: value}


class _Map(Scraper):
    __slots__ = ("inner", "f")

    def __init__(self, inner, f):
        self.inner = inner
        self.f = f
        super().__init__(self._run)

    def _run(self, spec):
        v = self.inner.run(spec)
        return v if v is NOTHING else self.f(v)

    def __reduce__(self):
        return (_Map, (self.inner, self.f))


class _Chain(Scraper):
    __slots__ = ("inner", "f")

    def __init__(self, inner, f):
        self.inner = inner
        self.f = f
        super().__init__(self._run)

    def _run(self, spec):
        v = self.inner.run(spec)
        return v if v is NOTHING else self.f(v).run(spec)

    def __reduce__(self):
        return (_Chain, (self.inner, self.f))


class _Alt(Scraper):
    __slots__ = ("first", "second")

    def __init__(self, first, second):
        self.first = first
        self.second = second
        super().__init__(self._run)

    def _run(self, spec):
        v = self.first.run(spec)
        return v if v is not NOTHING else self.second.run(spec)

    def __reduce__(self):
        return (_Alt, (self.first, self.second))


class _Filter(Scraper):
    __slots__ = ("inner", "predicate")

    def __init__(self, inner, predicate):
        self.inner = inner
        self.predicate = predicate
        super().__init__(self._run)

    def _run(self, spec):
        v = self.inner.run(spec)
        if v is NOTHING or not self.predicate(v):
            return NOTHING
        return v

    def __reduce__(self):
        return (_Filter, (self.inner, self.predicate))


class _FilterMap(Scraper):
    __slots__ = ("inner", "f")

    def __init__(self, inner, f):
        self.inner = inner
        self.f = f
        super().__init__(self._run)

    def _run(self, spec):
        v = self.inner.run(spec)
        return v if v is NOTHING else self.f(v)

    def __reduce__(self):
        return (_FilterMap, (self.inner, self.f))


class _Bind(Scraper):
    __slots__ = ("inner", "name", "f")

    def __init__(self, inner, name, f):
        self.inner = inner
        self.name = name
        self.f = f
        super().__init__(self._run)

    def _run(self, spec):
        ctx = self.inner.run(spec)
        if ctx is NOTHING:
            return NOTHING
        v = self.f(ctx).run(spec)
        if v is NOTHING:
            return NOTHING
        out = dict(ctx)
        out[self.name] = v
        return out

    def __reduce__(self):
        return (_Bind, (self.inner, self.name, self.f))


class _Of(Scraper):
    __slots__ = ("value",)

    def __init__(self, value):
        self.value = value
        super().__init__(self._run)

    def _run(self, spec):
        return self.value

    def __reduce__(self):
        return (_Of, (self.value,))


def of(value):
    """Scrape.of — always succeeds with ``value``."""
    return _Of(value)


def fail():
    return _FailScraper()


class _FailScraper(Scraper):
    __slots__ = ()

    def __init__(self):
        super().__init__(self._run)

    def _run(self, spec):
        return NOTHING

    def __reduce__(self):
        return (_FailScraper, ())


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


class _Chroots(Scraper):
    """chroots: run inner scraper per match, keep successes
    (Scraper.ts:46-49)."""

    __slots__ = ("selector", "inner")

    def __init__(self, selector, inner):
        self.selector = tuple(selector)
        self.inner = inner
        super().__init__(self._run)

    def _run(self, spec):
        out = []
        for sub in select(self.selector, spec):
            v = self.inner.run(sub)
            if v is not NOTHING:
                out.append(v)
        return out

    def __reduce__(self):
        return (_Chroots, (self.selector, self.inner))


class _Chroot(Scraper):
    """chroot: first match only (Scraper.ts:62-63)."""

    __slots__ = ("selector", "inner")

    def __init__(self, selector, inner):
        self.selector = tuple(selector)
        self.inner = inner
        super().__init__(self._run)

    def _run(self, spec):
        for sub in select(self.selector, spec):
            v = self.inner.run(sub)
            if v is not NOTHING:
                return v
        return NOTHING

    def __reduce__(self):
        return (_Chroot, (self.selector, self.inner))


class _Matches(Scraper):
    """matches: None (void) if the selector matches at all
    (Scraper.ts:72-78)."""

    __slots__ = ("selector",)

    def __init__(self, selector):
        self.selector = tuple(selector)
        super().__init__(self._run)

    def _run(self, spec):
        return None if select(self.selector, spec) else NOTHING

    def __reduce__(self):
        return (_Matches, (self.selector,))


class _WithMatches(Scraper):
    """Shared shape of text/texts/html/htmls/innerHTML(s)/attr/attrs."""

    __slots__ = ("selector", "mode", "key")

    _FIRST = {"text", "html", "inner_html", "attr"}

    def __init__(self, selector, mode, key=None):
        self.selector = tuple(selector)
        self.mode = mode
        self.key = key
        super().__init__(self._run)

    def _run(self, spec):
        matches = select(self.selector, spec)
        mode = self.mode
        if mode in ("text", "texts"):
            fn = _tags_to_text
        elif mode in ("html", "htmls"):
            fn = _tags_to_html
        elif mode in ("inner_html", "inner_htmls"):
            fn = _tags_to_inner_html
        else:  # attr / attrs: drop matches lacking the key
            results = []
            for m in matches:
                v = _tags_to_attr(self.key, m)
                if v is not NOTHING:
                    results.append(v)
            if mode == "attr":
                return results[0] if results else NOTHING
            return results
        if mode in self._FIRST:
            if not matches:
                return NOTHING
            return fn(matches[0])
        return [fn(m) for m in matches]

    def __reduce__(self):
        return (_WithMatches, (self.selector, self.mode, self.key))


class _Position(Scraper):
    """position: index of the current chroot among sibling matches
    (Scraper.ts:224)."""

    __slots__ = ()

    def __init__(self):
        super().__init__(self._run)

    def _run(self, spec):
        return spec.context.position

    def __reduce__(self):
        return (_Position, ())


def chroots(selector, scraper):
    return _Chroots(selector, scraper)


def chroot(selector, scraper):
    return _Chroot(selector, scraper)


def matches(selector):
    return _Matches(selector)


def text(selector):
    return _WithMatches(selector, "text")


def texts(selector):
    return _WithMatches(selector, "texts")


def html(selector):
    return _WithMatches(selector, "html")


def htmls(selector):
    return _WithMatches(selector, "htmls")


def inner_html(selector):
    return _WithMatches(selector, "inner_html")


def inner_htmls(selector):
    return _WithMatches(selector, "inner_htmls")


def attr(key, selector):
    return _WithMatches(selector, "attr", key)


def attrs(key, selector):
    return _WithMatches(selector, "attrs", key)


position = _Position()


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
