"""Selectors and the selection engine.

Reference: src/Select.ts.  A Selector is a sequence of Selections
(outermost..innermost); selection walks the tag forest depth-first,
producing one chrooted TagSpec per match tagged with its match index
(``position``).  Three-valued match results drive the walk: Ok emits /
descends, Fail keeps descending, Cull prunes the whole subtree
(reference MatchResult.ts:105-111 — Cull absorbs).

Compiled selectors are shipped by cloudpickle into Spark task
closures.
"""

from __future__ import annotations

import re
import sys
from itertools import groupby
from operator import itemgetter
from typing import NamedTuple, Optional, Tuple

from scalpel_ts_spark.core.tag_spec import SelectContext, TagSpec
from scalpel_ts_spark.core.tag_forest import TagNode
from scalpel_ts_spark.core.tokenizer import TagOpen, Text

# MatchResult (reference src/Internal/MatchResult.ts)
MATCH_OK = 1
MATCH_FAIL = 0
MATCH_CULL = -1


def combine_match(x: int, y: int) -> int:
    """Cull-absorbing semigroup (MatchResult.ts:105-111)."""
    if x == MATCH_CULL or y == MATCH_CULL:
        return MATCH_CULL
    if x == MATCH_OK and y == MATCH_OK:
        return MATCH_OK
    return MATCH_FAIL


# ---------------------------------------------------------------------------
# attribute predicates (reference Select.ts:288-431)
# ---------------------------------------------------------------------------


class AttributePredicate:
    """Base: callable over the attribute tuple of a TagOpen."""

    def __call__(self, attrs: Tuple[Tuple[str, str], ...]) -> bool:
        raise NotImplementedError


class AttrEquals(AttributePredicate):
    """attribute(key, value): key case-insensitive, value case-sensitive
    (Select.ts:288-308; pinned by test/Select.test.ts:153-176)."""

    def __init__(self, key: str, value: str):
        self.key = key.lower()
        self.value = value

    def __call__(self, attrs):
        return any(k.lower() == self.key and v == self.value for k, v in attrs)


class AnyAttrEquals(AttributePredicate):
    """anyAttribute(value) (Select.ts:320-324)."""

    def __init__(self, value: str):
        self.value = value

    def __call__(self, attrs):
        return any(v == self.value for _, v in attrs)


class AttrRegex(AttributePredicate):
    """attributeRegex(key, re) (Select.ts:334-338)."""

    def __init__(self, key: str, pattern: str):
        self.key = key.lower()
        self.rx = re.compile(pattern)

    def __call__(self, attrs):
        rx = self.rx
        return any(
            k.lower() == self.key and rx.search(v) is not None
            for k, v in attrs
        )


class AnyAttrRegex(AttributePredicate):
    """anyAttributeRegex(re) (Select.ts:347-351)."""

    def __init__(self, pattern: str):
        self.rx = re.compile(pattern)

    def __call__(self, attrs):
        rx = self.rx
        return any(rx.search(v) is not None for _, v in attrs)


class HasClass(AttributePredicate):
    """hasClass(c): key 'class' exact, space-split membership
    (Select.ts:406-409 — note the key check is case-sensitive here)."""

    def __init__(self, class_name: str):
        self.class_name = class_name

    def __call__(self, attrs):
        return any(
            k == "class" and self.class_name in v.split(" ")
            for k, v in attrs
        )


class NotP(AttributePredicate):
    """notP(pred) (Select.ts:417)."""

    def __init__(self, inner: AttributePredicate):
        self.inner = inner

    def __call__(self, attrs):
        return not self.inner(attrs)


class MatchPred(AttributePredicate):
    """match(f): f(key, value) over any attribute (Select.ts:427-431)."""

    def __init__(self, fn):
        self.fn = fn

    def __call__(self, attrs):
        return any(self.fn(k, v) for k, v in attrs)


# public combinator aliases matching the reference API surface
attribute = AttrEquals
any_attribute = AnyAttrEquals
attribute_regex = AttrRegex
any_attribute_regex = AnyAttrRegex
has_class = HasClass
not_p = NotP
match = MatchPred


# ---------------------------------------------------------------------------
# selector AST (reference Select.ts:39-136)
# ---------------------------------------------------------------------------

STRAT_ONE = "one"
STRAT_ANY = "any"
STRAT_TEXT = "text"


class Selection(NamedTuple):
    strategy: str
    tag: Optional[str]  # lowercased; STRAT_ONE only
    predicates: tuple
    depth: Optional[int]


def tag(name: str):
    """Select.tag (Select.ts:243-244)."""
    return (Selection(STRAT_ONE, name.lower(), (), None),)


def with_attributes(name: str, predicates):
    """Select.withAttributes (Select.ts:272-275)."""
    return (Selection(STRAT_ONE, name.lower(), tuple(predicates), None),)


def any_with_attributes(predicates):
    """Select.anyWithAttributes (Select.ts:285-286)."""
    return (Selection(STRAT_ANY, None, tuple(predicates), None),)


# Select.any / Select.text (Select.ts:253, 261)
any_node = (Selection(STRAT_ANY, None, (), None),)
text_node = (Selection(STRAT_TEXT, None, (), None),)


def at_depth(selector, depth: int):
    """Constrain the LAST selection to an exact depth (Select.ts:367-378)."""
    sel = tuple(selector)
    if not sel:
        return sel
    last = sel[-1]
    return sel[:-1] + (Selection(last.strategy, last.tag, last.predicates, depth),)


def nested(parent, child):
    """nested(parent, child): child constrained inside parent
    (Select.ts:394-395 — selector order is outermost..innermost)."""
    return tuple(parent) + tuple(child)


# ---------------------------------------------------------------------------
# selection engine (reference Select.ts:441-704)
# ---------------------------------------------------------------------------


def _check_predicates(token, predicates) -> int:
    """Select.ts:566-601."""
    if not predicates:
        kind = type(token)
        return MATCH_OK if (kind is TagOpen or kind is Text) else MATCH_FAIL
    if type(token) is not TagOpen:
        return MATCH_FAIL
    attrs = token.attributes
    return MATCH_OK if all(p(attrs) for p in predicates) else MATCH_FAIL


def _check_tag(tag_name, predicates, info) -> int:
    """Select.ts:603-620."""
    x = _check_predicates(info.token, predicates)
    tok = info.token
    y = (
        MATCH_OK
        if type(tok) is TagOpen and tok.name.lower() == tag_name
        else MATCH_FAIL
    )
    return combine_match(x, y)


def _containment_counts(root_hierarchy) -> dict:
    """``(start, end) -> `` the number of spans in the root hierarchy
    strictly containing that span: the depth :func:`at_depth` checks.

    The tree's spans, one per occurrence, are sorted by start and swept
    with a Fenwick tree over their ends.  Each group of equal starts is
    counted against the spans already inserted, which all start
    strictly earlier, before it is inserted itself: O(n log n) for the
    whole tree.  Tree depth is not the same count: crossing closes can
    hoist a node inside a sibling's span."""
    spans = []
    stack = list(root_hierarchy)
    while stack:
        t = stack.pop()
        spans.append((t.start, t.end))
        stack.extend(t.forest)
    spans.sort()
    rank = {e: r for r, e in enumerate(sorted({e for _, e in spans}), 1)}
    fenwick = [0] * (len(rank) + 1)
    counts = {}
    inserted = 0
    for start, group in groupby(spans, key=itemgetter(0)):
        ends = [e for _, e in group]
        for e in ends:
            # inserted spans that end after e
            r = rank[e]
            at_or_before = 0
            while r:
                at_or_before += fenwick[r]
                r &= r - 1
            counts[(start, e)] = inserted - at_or_before
        for e in ends:
            r = rank[e]
            while r < len(fenwick):
                fenwick[r] += 1
                r += r & -r
        inserted += len(ends)
    return counts


def _depth_counts(selectors, root_hierarchy):
    """The containment counts of a root, built only when a remaining
    selection constrains depth."""
    if any(s.depth is not None for s in selectors):
        return _containment_counts(root_hierarchy)
    return None


def _check_settings(depth, curr_hierarchy, counts, i=0) -> int:
    """Depth constraint on ``curr_hierarchy[i]``: Fail below, Cull
    beyond (Select.ts:629-668).  ``counts`` is the root's
    :func:`_containment_counts`."""
    if depth is None or i >= len(curr_hierarchy):
        return MATCH_OK
    node = curr_hierarchy[i]
    current_depth = counts[(node.start, node.end)]
    if current_depth < depth:
        return MATCH_FAIL
    if current_depth > depth:
        return MATCH_CULL
    return MATCH_OK


def _node_matches(selection, info, curr_hierarchy, i, counts) -> int:
    """Select.ts:670-704."""
    settings = _check_settings(selection.depth, curr_hierarchy, counts, i)
    if selection.strategy == STRAT_ONE:
        check = _check_tag(selection.tag, selection.predicates, info)
    elif selection.strategy == STRAT_ANY:
        check = _check_predicates(info.token, selection.predicates)
    else:  # STRAT_TEXT
        check = MATCH_OK if type(info.token) is Text else MATCH_FAIL
    return combine_match(settings, check)


def lift_siblings(acc, start, end, forest, i=0, ordered=False):
    """Hoist malformed-HTML spans nested in siblings ``forest[i:]``
    (Select.ts:467-479).

    ``ordered`` says that ``forest`` and every sibling list of its
    tree are ordered by start.  The walk then stops at the first
    sibling that starts past ``end``, since every later one does too.
    That also holds for the lists lifted from an overlapping sibling:
    they hold contained spans, which start before ``end``, followed by
    one sibling list of the tree."""
    if i >= len(forest):
        return acc
    t = forest[i]
    if ordered and end < t.start:
        return acc
    if start < t.start and t.end < end:
        return [t] + lift_siblings(acc, start, end, forest, i + 1, ordered)
    if end < t.start or t.end < start:
        return lift_siblings(acc, start, end, forest, i + 1, ordered)
    lifted = lift_siblings(acc, start, end, forest, i + 1, ordered)
    return lift_siblings(t.forest, start, end, lifted, 0, ordered)


def _in_order(nodes) -> bool:
    return all(a.start <= b.start for a, b in zip(nodes, nodes[1:]))


def _tree_in_order(forest) -> bool:
    """True when every sibling list of the forest is ordered by start.
    Crossing closes can break that: a hoisted node may start after the
    next sibling of the node it left."""
    stack = [forest]
    while stack:
        nodes = stack.pop()
        if not _in_order(nodes):
            return False
        stack.extend(t.forest for t in nodes)
    return True


def _recenter_tree(node, offset):
    return TagNode(
        node.start - offset,
        node.end - offset,
        [_recenter_tree(c, offset) for c in node.forest],
    )


def _shrink_spec_with(spec: TagSpec, node: TagNode) -> TagSpec:
    """Chroot: slice tags[start..end], rebase spans (Select.ts:448-458)."""
    return TagSpec(
        spec.context,
        [_recenter_tree(node, node.start)],
        spec.tags[node.start : node.end + 1],
    )


def _select_nodes(selectors, hier, i, spec, counts, acc, ordered):
    """The DFS (Select.ts:481-564) over the siblings ``hier[i:]``.

    ``acc`` is a cons list of ``(match, rest)`` pairs ending in None:
    matches are prepended exactly as the reference's cons-based fold
    does, each in O(1), and :func:`select` unwinds the list once.
    ``ordered`` says that ``hier`` and every sibling list of the tree
    are ordered by start (:func:`lift_siblings`).  ``counts`` holds the
    current root's containment counts (:func:`_depth_counts`)."""
    if not selectors or i >= len(hier):
        return acc
    n = selectors[0]
    ns = selectors[1:]
    f = hier[i]
    verdict = _node_matches(n, spec.tags[f.start], hier, i, counts)

    if not ns:
        if verdict == MATCH_OK:
            inner = _select_nodes(selectors, f.forest, 0, spec, counts, acc, ordered)
            outer = _select_nodes(selectors, hier, i + 1, spec, counts, inner, ordered)
            return (_shrink_spec_with(spec, f), outer)
        if verdict == MATCH_CULL:
            return _select_nodes(selectors, hier, i + 1, spec, counts, acc, ordered)
        inner = _select_nodes(selectors, hier, i + 1, spec, counts, acc, ordered)
        return _select_nodes(selectors, f.forest, 0, spec, counts, inner, ordered)

    if verdict == MATCH_OK:
        # malformed-HTML siblings nested inside f's span may be valid
        # children for the remaining selectors (Select.ts:526-535)
        siblings = lift_siblings([], f.start, f.end, hier, i + 1, ordered)
        children = list(f.forest) + siblings
        inner = _select_nodes(selectors, hier, i + 1, spec, counts, acc, ordered)
        return _select_nodes(
            ns,
            children,
            0,
            spec,
            _depth_counts(ns, [f] + siblings),  # new root for depth checks
            inner,
            # lifted siblings may start before f's later children
            ordered and _in_order(children),
        )
    if verdict == MATCH_CULL:
        return _select_nodes(selectors, hier, i + 1, spec, counts, acc, ordered)
    inner = _select_nodes(selectors, hier, i + 1, spec, counts, acc, ordered)
    return _select_nodes(selectors, f.forest, 0, spec, counts, inner, ordered)


def select(selector, spec: TagSpec):
    """Run a selector over a spec → chrooted TagSpecs with positions
    (Select.ts:441-445)."""
    sys.setrecursionlimit(
        max(sys.getrecursionlimit(), 8 * len(spec.tags) + 1000)
    )
    selector = tuple(selector)
    # only a nested selector lifts siblings
    ordered = len(selector) > 1 and _tree_in_order(spec.hierarchy)
    counts = _depth_counts(selector, spec.hierarchy)
    acc = _select_nodes(selector, spec.hierarchy, 0, spec, counts, None, ordered)
    out = []
    while acc is not None:
        s, acc = acc
        out.append(TagSpec(SelectContext(len(out), True), s.hierarchy, s.tags))
    return out
