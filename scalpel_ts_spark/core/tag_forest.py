"""Tag span forest — the document hierarchy index.

Reference: src/Internal/Tag/TagForest.ts.  Nodes are (start, end) index
spans into the token stream; a node's parent is the smallest span that
completely contains it; siblings are ordered by document position.
Unclosed tags have ``end == start``.  ``fix_tree`` hoists nodes whose
closing tag lies outside their parent (malformed HTML) up to the level
whose span contains them (TagForest.ts:74-100).

TagClose and Comment tokens never become nodes (TagForest.ts:59-64);
TagOpen and Text do.
"""

from __future__ import annotations

import sys
from typing import List

from scalpel_ts_spark.core.tokenizer import Comment, TagClose


class TagNode:
    """One forest node: a span plus its child forest."""

    __slots__ = ("start", "end", "forest")

    def __init__(self, start: int, end: int, forest: List["TagNode"]):
        self.start = start
        self.end = end
        self.forest = forest

    def __repr__(self):  # pragma: no cover - debug aid
        return f"TagNode({self.start},{self.end},{self.forest})"

    def __eq__(self, other):
        return (
            isinstance(other, TagNode)
            and self.start == other.start
            and self.end == other.end
            and self.forest == other.forest
        )


def _fix_tree(forest: list) -> list:
    """Hoist malformed children (reference fixTree, TagForest.ts:94-100).

    Same fold as the reference — each node's hoisted children are
    spliced between it and its right siblings — but iterated right to
    left with amortized-O(1) appends instead of the reference's
    head/tail recursion: per-sibling ``forest[1:]`` slicing plus list
    concat is O(siblings²), which measured 9.5 s on a single document
    with 16k sibling nodes (large flat tables/lists) inside every
    extract UDF.  Recursion remains only in tree DEPTH.
    """
    out_rev: list = []  # result in reverse document order
    for head in reversed(forest):
        fixed_children = _fix_tree(head.forest)
        ok: list = []
        hoisted: list = []
        for node in fixed_children:
            (hoisted if head.end < node.end else ok).append(node)
        out_rev.extend(reversed(hoisted))
        out_rev.append(TagNode(head.start, head.end, ok))
    out_rev.reverse()
    return out_rev


def from_tag_info(token_info) -> list:
    """Build the span forest from annotated tokens.

    Reference: TagForest.ts:114-146 (forestWithin + fixTree).
    """
    n = len(token_info)
    sys.setrecursionlimit(max(sys.getrecursionlimit(), 4 * n + 1000))

    def forest_within(start: int, end: int) -> list:
        out: list = []
        while not (end <= start or start >= n):
            info = token_info[start]
            kind = type(info.token)
            if kind is TagClose or kind is Comment:
                start += 1  # skip tokens that never become nodes
                continue
            close_index = start + (info.close_offset or 0)
            subforest = forest_within(start + 1, close_index)
            out.append(TagNode(start, close_index, subforest))
            start = close_index + 1
        return out

    return _fix_tree(forest_within(0, n))
