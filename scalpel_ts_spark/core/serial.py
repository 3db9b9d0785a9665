"""Serial scrapers — stateful traversal over sibling nodes.

Reference: src/SerialScraper.ts + src/Internal/StateOption.ts.  A
serial scraper is ``zipper -> (value, zipper) | NOTHING`` over a
zipper of Option[TagSpec] bookended with None at both ends (valid
cursor rests that fail on read, SerialScraper.ts:100-139).

The zipper is an immutable triple (lefts, focus, rights); elements are
TagSpec instances or None (the reference's Option None bookends and
any off-end positions).
"""

from __future__ import annotations

from typing import NamedTuple, Optional, Tuple

from scalpel_ts_spark.core.scraper import NOTHING, Scraper
from scalpel_ts_spark.core.tag_spec import TagSpec


class Zipper(NamedTuple):
    lefts: Tuple[Optional[TagSpec], ...]
    focus: Optional[TagSpec]
    rights: Tuple[Optional[TagSpec], ...]


def _up(z: Zipper):
    if not z.lefts:
        return NOTHING
    return Zipper(z.lefts[:-1], z.lefts[-1], (z.focus,) + z.rights)


def _down(z: Zipper):
    if not z.rights:
        return NOTHING
    return Zipper(z.lefts + (z.focus,), z.rights[0], z.rights[1:])


def _zipper_from_specs(specs) -> Zipper:
    """None-bookended zipper focused on the leading bookend
    (SerialScraper.ts:134-139)."""
    return Zipper((), None, tuple(specs) + (None,))


class SerialScraper:
    """Wraps ``run: Zipper -> (value, Zipper) | NOTHING``."""

    __slots__ = ("run",)

    def __init__(self, run):
        self.run = run

    def map(self, f):
        return _SMap(self, f)

    def chain(self, f):
        """f: value -> SerialScraper."""
        return _SChain(self, f)

    def alt(self, other):
        return _SAlt(self, other)

    def ap_second(self, other):
        return _SApSecond(self, other)

    def bind_to(self, name):
        return _SMap(self, _SBindTo(name))

    def bind(self, name, f):
        return _SBind(self, name, f)


class _SBindTo:
    def __init__(self, name):
        self.name = name

    def __call__(self, value):
        return {self.name: value}


class _SOf(SerialScraper):
    __slots__ = ("value",)

    def __init__(self, value):
        self.value = value
        super().__init__(self._run)

    def _run(self, z):
        return (self.value, z)

    def __reduce__(self):
        return (_SOf, (self.value,))


def of(value):
    return _SOf(value)


class _SMap(SerialScraper):
    __slots__ = ("inner", "f")

    def __init__(self, inner, f):
        self.inner = inner
        self.f = f
        super().__init__(self._run)

    def _run(self, z):
        r = self.inner.run(z)
        if r is NOTHING:
            return NOTHING
        v, z2 = r
        return (self.f(v), z2)

    def __reduce__(self):
        return (_SMap, (self.inner, self.f))


class _SChain(SerialScraper):
    __slots__ = ("inner", "f")

    def __init__(self, inner, f):
        self.inner = inner
        self.f = f
        super().__init__(self._run)

    def _run(self, z):
        r = self.inner.run(z)
        if r is NOTHING:
            return NOTHING
        v, z2 = r
        return self.f(v).run(z2)

    def __reduce__(self):
        return (_SChain, (self.inner, self.f))


class _SAlt(SerialScraper):
    __slots__ = ("first", "second")

    def __init__(self, first, second):
        self.first = first
        self.second = second
        super().__init__(self._run)

    def _run(self, z):
        r = self.first.run(z)
        return r if r is not NOTHING else self.second.run(z)

    def __reduce__(self):
        return (_SAlt, (self.first, self.second))


class _SApSecond(SerialScraper):
    __slots__ = ("first", "second")

    def __init__(self, first, second):
        self.first = first
        self.second = second
        super().__init__(self._run)

    def _run(self, z):
        r = self.first.run(z)
        if r is NOTHING:
            return NOTHING
        return self.second.run(r[1])

    def __reduce__(self):
        return (_SApSecond, (self.first, self.second))


class _SBind(SerialScraper):
    __slots__ = ("inner", "name", "f")

    def __init__(self, inner, name, f):
        self.inner = inner
        self.name = name
        self.f = f
        super().__init__(self._run)

    def _run(self, z):
        r = self.inner.run(z)
        if r is NOTHING:
            return NOTHING
        ctx, z2 = r
        r2 = self.f(ctx).run(z2)
        if r2 is NOTHING:
            return NOTHING
        v, z3 = r2
        out = dict(ctx)
        out[self.name] = v
        return (out, z3)

    def __reduce__(self):
        return (_SBind, (self.inner, self.name, self.f))


class _Sequence(SerialScraper):
    """Applicative sequence of serial scrapers → list of values."""

    __slots__ = ("items",)

    def __init__(self, items):
        self.items = tuple(items)
        super().__init__(self._run)

    def _run(self, z):
        out = []
        for s in self.items:
            r = s.run(z)
            if r is NOTHING:
                return NOTHING
            v, z = r
            out.append(v)
        return (out, z)

    def __reduce__(self):
        return (_Sequence, (self.items,))


def sequence(items):
    return _Sequence(items)


# ---------------------------------------------------------------------------
# movement combinators (reference SerialScraper.ts:178-349)
# ---------------------------------------------------------------------------


class _Step(SerialScraper):
    """step{Next,Back}: move once, read focus, run scraper
    (SerialScraper.ts:200-215, 293-302)."""

    __slots__ = ("scraper", "forward")

    def __init__(self, scraper, forward):
        self.scraper = scraper
        self.forward = forward
        super().__init__(self._run)

    def _run(self, z):
        z2 = _down(z) if self.forward else _up(z)
        if z2 is NOTHING or z2.focus is None:
            return NOTHING
        v = self.scraper.run(z2.focus)
        if v is NOTHING:
            return NOTHING
        return (v, z2)

    def __reduce__(self):
        return (_Step, (self.scraper, self.forward))


class _Seek(SerialScraper):
    """seek{Next,Back}: advance until the scraper succeeds
    (SerialScraper.ts:220-247, 312-322)."""

    __slots__ = ("scraper", "forward")

    def __init__(self, scraper, forward):
        self.scraper = scraper
        self.forward = forward
        super().__init__(self._run)

    def _run(self, z):
        move = _down if self.forward else _up
        while True:
            z2 = move(z)
            if z2 is NOTHING:
                return NOTHING
            z = z2
            if z.focus is not None:
                v = self.scraper.run(z.focus)
                if v is not NOTHING:
                    return (v, z)

    def __reduce__(self):
        return (_Seek, (self.scraper, self.forward))


class _Until(SerialScraper):
    """until{Next,Back}: collect nodes into a sub-context until the
    sentinel matches, run the inner serial scraper on the sub-context;
    the outer cursor is left just before the sentinel
    (SerialScraper.ts:255-284, 332-349)."""

    __slots__ = ("sentinel", "inner", "forward")

    def __init__(self, sentinel, inner, forward):
        self.sentinel = sentinel
        self.inner = inner
        self.forward = forward
        super().__init__(self._run)

    def _run(self, z):
        forward = self.forward
        move = _down if forward else _up
        collected = []
        state = z
        while True:
            z2 = move(state)
            if z2 is NOTHING or z2.focus is None:
                break  # off the end: sub-context gets everything collected
            if self.sentinel.run(z2.focus) is not NOTHING:
                break  # sentinel matched; cursor stays before it
            collected.append(z2.focus)
            state = z2
        # Build the sub-zipper exactly as the reference's appendNode
        # unwinding does: forward (insertLeft) leaves the cursor on the
        # left bookend with elements to the right in document order;
        # backward (insertRight) leaves it on the right bookend with
        # the collected elements to the left in document order.
        if forward:
            sub = Zipper((), None, tuple(collected) + (None,))
        else:
            sub = Zipper((None,) + tuple(reversed(collected)), None, ())
        r = self.inner.run(sub)
        if r is NOTHING:
            return NOTHING
        return (r[0], state)

    def __reduce__(self):
        return (_Until, (self.sentinel, self.inner, self.forward))


class _Repeat(SerialScraper):
    """repeat / repeat1 (SerialScraper.ts:178-195)."""

    __slots__ = ("inner", "at_least_one")

    def __init__(self, inner, at_least_one):
        self.inner = inner
        self.at_least_one = at_least_one
        super().__init__(self._run)

    def _run(self, z):
        out = []
        while True:
            r = self.inner.run(z)
            if r is NOTHING:
                break
            v, z = r
            out.append(v)
        if self.at_least_one and not out:
            return NOTHING
        return (out, z)

    def __reduce__(self):
        return (_Repeat, (self.inner, self.at_least_one))


def step_next(scraper):
    return _Step(scraper, True)


def step_back(scraper):
    return _Step(scraper, False)


def seek_next(scraper):
    return _Seek(scraper, True)


def seek_back(scraper):
    return _Seek(scraper, False)


def until_next(sentinel, inner):
    return _Until(sentinel, inner, True)


def until_back(sentinel, inner):
    return _Until(sentinel, inner, False)


def repeat(serial):
    return _Repeat(serial, False)


def repeat1(serial):
    return _Repeat(serial, True)


# ---------------------------------------------------------------------------
# destructor (reference SerialScraper.ts:159-172)
# ---------------------------------------------------------------------------


class _InSerial(Scraper):
    """Run a serial scraper over the focused node's immediate children
    (chrooted) or the document's root siblings (top level)."""

    __slots__ = ("serial",)

    def __init__(self, serial):
        self.serial = serial
        super().__init__(self._run)

    def _run(self, spec):
        if not spec.hierarchy:
            return NOTHING
        if spec.context.in_chroot:
            trees = spec.hierarchy[0].forest
        else:
            trees = spec.hierarchy
        specs = [TagSpec(spec.context, [t], spec.tags) for t in trees]
        r = self.serial.run(_zipper_from_specs(specs))
        if r is NOTHING:
            return NOTHING
        return r[0]

    def __reduce__(self):
        return (_InSerial, (self.serial,))


def in_serial(serial) -> Scraper:
    return _InSerial(serial)
