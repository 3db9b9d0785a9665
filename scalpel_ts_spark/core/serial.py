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


def _zipper_from_specs_back(specs_back) -> Zipper:
    """``_zipper_from_specs``' mirror for nodes collected moving back:
    focused on the trailing bookend, nodes to its left in document
    order."""
    return Zipper((None,) + tuple(reversed(specs_back)), None, ())


class SerialScraper:
    """Wraps ``run: Zipper -> (value, Zipper) | NOTHING``."""

    __slots__ = ("run",)

    def __init__(self, run):
        self.run = run

    def map(self, f):
        run = self.run

        def mapped(z):
            r = run(z)
            if r is NOTHING:
                return NOTHING
            v, z2 = r
            return (f(v), z2)

        return SerialScraper(mapped)

    def chain(self, f):
        """f: value -> SerialScraper."""
        run = self.run

        def chained(z):
            r = run(z)
            if r is NOTHING:
                return NOTHING
            v, z2 = r
            return f(v).run(z2)

        return SerialScraper(chained)

    def alt(self, other):
        first, second = self.run, other.run

        def alternative(z):
            r = first(z)
            return r if r is not NOTHING else second(z)

        return SerialScraper(alternative)

    def ap_second(self, other):
        first, second = self.run, other.run

        def then(z):
            r = first(z)
            if r is NOTHING:
                return NOTHING
            return second(r[1])

        return SerialScraper(then)

    def bind_to(self, name):
        return self.map(lambda value: {name: value})

    def bind(self, name, f):
        run = self.run

        def bound(z):
            r = run(z)
            if r is NOTHING:
                return NOTHING
            ctx, z2 = r
            r2 = f(ctx).run(z2)
            if r2 is NOTHING:
                return NOTHING
            v, z3 = r2
            out = dict(ctx)
            out[name] = v
            return (out, z3)

        return SerialScraper(bound)


def of(value):
    return SerialScraper(lambda z: (value, z))


def sequence(items):
    """Applicative sequence of serial scrapers → list of values."""
    runs = tuple(s.run for s in items)

    def each(z):
        out = []
        for run in runs:
            r = run(z)
            if r is NOTHING:
                return NOTHING
            v, z = r
            out.append(v)
        return (out, z)

    return SerialScraper(each)


# ---------------------------------------------------------------------------
# movement combinators (reference SerialScraper.ts:178-349)
# ---------------------------------------------------------------------------


def _step(move, scraper):
    """step{Next,Back}: move once, read focus, run scraper
    (SerialScraper.ts:200-215, 293-302)."""
    run = scraper.run

    def step(z):
        z2 = move(z)
        if z2 is NOTHING or z2.focus is None:
            return NOTHING
        v = run(z2.focus)
        if v is NOTHING:
            return NOTHING
        return (v, z2)

    return SerialScraper(step)


def _seek(move, scraper):
    """seek{Next,Back}: advance until the scraper succeeds
    (SerialScraper.ts:220-247, 312-322)."""
    run = scraper.run

    def seek(z):
        while True:
            z2 = move(z)
            if z2 is NOTHING:
                return NOTHING
            z = z2
            if z.focus is not None:
                v = run(z.focus)
                if v is not NOTHING:
                    return (v, z)

    return SerialScraper(seek)


def _until(move, sub_zipper, sentinel, inner):
    """until{Next,Back}: collect nodes into a sub-context until the
    sentinel matches, run the inner serial scraper on the sub-context;
    the outer cursor is left just before the sentinel
    (SerialScraper.ts:255-284, 332-349).

    ``sub_zipper`` builds the sub-context exactly as the reference's
    appendNode unwinding does: forward (insertLeft) leaves the cursor on
    the left bookend with elements to the right in document order;
    backward (insertRight) leaves it on the right bookend with the
    collected elements to the left in document order."""
    is_sentinel, run = sentinel.run, inner.run

    def until(z):
        collected = []
        state = z
        while True:
            z2 = move(state)
            if z2 is NOTHING or z2.focus is None:
                break  # off the end: sub-context gets everything collected
            if is_sentinel(z2.focus) is not NOTHING:
                break  # sentinel matched; cursor stays before it
            collected.append(z2.focus)
            state = z2
        r = run(sub_zipper(collected))
        if r is NOTHING:
            return NOTHING
        return (r[0], state)

    return SerialScraper(until)


def _repeat(serial, at_least_one):
    """repeat / repeat1 (SerialScraper.ts:178-195)."""
    run = serial.run

    def repeated(z):
        out = []
        while True:
            r = run(z)
            if r is NOTHING:
                break
            v, z = r
            out.append(v)
        if at_least_one and not out:
            return NOTHING
        return (out, z)

    return SerialScraper(repeated)


def step_next(scraper):
    return _step(_down, scraper)


def step_back(scraper):
    return _step(_up, scraper)


def seek_next(scraper):
    return _seek(_down, scraper)


def seek_back(scraper):
    return _seek(_up, scraper)


def until_next(sentinel, inner):
    return _until(_down, _zipper_from_specs, sentinel, inner)


def until_back(sentinel, inner):
    return _until(_up, _zipper_from_specs_back, sentinel, inner)


def repeat(serial):
    return _repeat(serial, False)


def repeat1(serial):
    return _repeat(serial, True)


# ---------------------------------------------------------------------------
# destructor (reference SerialScraper.ts:159-172)
# ---------------------------------------------------------------------------


def in_serial(serial) -> Scraper:
    """Run a serial scraper over the focused node's immediate children
    (chrooted) or the document's root siblings (top level)."""
    run = serial.run

    def over_siblings(spec):
        if not spec.hierarchy:
            return NOTHING
        if spec.context.in_chroot:
            trees = spec.hierarchy[0].forest
        else:
            trees = spec.hierarchy
        specs = [TagSpec(spec.context, [t], spec.tags) for t in trees]
        r = run(_zipper_from_specs(specs))
        if r is NOTHING:
            return NOTHING
        return r[0]

    return Scraper(over_siblings)
