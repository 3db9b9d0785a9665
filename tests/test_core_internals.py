"""Golden corpus: tokenizer / tag-info / tag-forest internals
(reference test/Internal/**)."""

from scalpel_ts_spark.core.tag_forest import TagNode, from_tag_info
from scalpel_ts_spark.core.tag_info import TagInfo, annotate_tags
from scalpel_ts_spark.core.tag_spec import SelectContext, tags_to_spec
from scalpel_ts_spark.core.tokenizer import (
    Comment,
    TagClose,
    TagOpen,
    Text,
    canonicalize_tokens,
    parse,
    show_tokens,
)


# --- Tokenizer (test/Internal/Html/Tokenizer.test.ts) ---

def test_canonicalize_tokens_drops_empty_text():
    tokens = [
        TagOpen("a", ()),
        Text("\n"),
        Text(" "),
        Text("foo"),
        Comment("Comment"),
    ]
    assert canonicalize_tokens(tokens) == [
        TagOpen("a", ()),
        Text("foo"),
        Comment("Comment"),
    ]


def test_parse_valid_html():
    assert parse("<body><!-- Comment --><a>foo</a></body>") == [
        TagOpen("body", ()),
        Comment(" Comment "),
        TagOpen("a", ()),
        Text("foo"),
        TagClose("a"),
        TagClose("body"),
    ]


def test_show_token():
    tokens = [
        TagOpen("a", (("key", "value"),)),
        Comment(" Comment "),
        Text("foo"),
        TagClose("a"),
    ]
    assert show_tokens(tokens) == '<a key="value"><!-- Comment -->foo</a>'


# --- TagInfo (test/Internal/Tag/TagInfo.test.ts) ---

def test_annotate_tags():
    annotated = annotate_tags(parse("<body><div>hello</div></body>"))
    assert annotated == [
        TagInfo(TagOpen("body", ()), 4),
        TagInfo(TagOpen("div", ()), 2),
        TagInfo(Text("hello"), None),
        TagInfo(TagClose("div"), None),
        TagInfo(TagClose("body"), None),
    ]


# --- TagForest (test/Internal/Tag/TagForest.test.ts) ---

def test_empty_source_empty_forest():
    assert from_tag_info(annotate_tags(parse(""))) == []


# --- TagSpec (test/Internal/Tag/TagSpec.test.ts) ---

def test_tags_to_spec():
    tokens = parse("<div>hello</div>")
    spec = tags_to_spec(tokens)
    assert spec.context == SelectContext(0, False)
    assert spec.hierarchy == [TagNode(0, 2, [TagNode(1, 1, [])])]
    assert spec.tags == annotate_tags(tokens)


# --- engine-specific tokenizer pins (behaviors the golden corpus
#     relies on implicitly) ---

def test_self_closing_suppresses_close():
    assert parse("<img src='x' />") == [TagOpen("img", (("src", "x"),))]


def test_void_element_no_close():
    assert parse("<img src='x'>") == [TagOpen("img", (("src", "x"),))]


def test_unquoted_attr_value_ends_at_slash():
    assert parse("<a key1=foo/>") == [TagOpen("a", (("key1", "foo"),))]


def test_eof_closes_emitted_lifo():
    assert parse("<a>foo") == [TagOpen("a", ()), Text("foo"), TagClose("a")]


def test_eof_closes_suppressed_when_last_token_is_open():
    assert parse("<b><a>foo</a><b>") == [
        TagOpen("b", ()),
        TagOpen("a", ()),
        Text("foo"),
        TagClose("a"),
        TagOpen("b", ()),
    ]


def test_outer_close_implies_inner_closes():
    assert parse("<b><c><d>2</d></b></c>") == [
        TagOpen("b", ()),
        TagOpen("c", ()),
        TagOpen("d", ()),
        Text("2"),
        TagClose("d"),
        TagClose("c"),
        TagClose("b"),
    ]


def test_attributes_sorted_and_first_dup_wins():
    assert parse('<a z="1" b="2" z="3">') == [
        TagOpen("a", (("b", "2"), ("z", "1"))),
    ]


def test_entities_decoded():
    assert parse("<a>x &amp; y</a>") == [
        TagOpen("a", ()),
        Text("x & y"),
        TagClose("a"),
    ]


def test_doctype_dropped():
    assert parse("<!DOCTYPE html><a>x</a>") == [
        TagOpen("a", ()),
        Text("x"),
        TagClose("a"),
    ]


# --- Entity edge-case corpus (SURVEY §7 risk #1 / VERDICT r2 item 8).
# No htmlparser2 is installable offline, so these pins are derived from
# the WHATWG rules that htmlparser2's default decodeEntities:true
# implements (the reference constructs Parser with no options,
# Tokenizer.ts:192): full named table with longest-prefix legacy
# matching in text, the attribute-mode legacy exception, C1 numeric
# remapping, and out-of-range -> U+FFFD.

def test_entity_text_mode_edge_cases():
    cases = [
        ("&amp; x", "& x"),
        ("&amp x", "& x"),          # legacy (no ';') decodes in TEXT
        ("&ampx", "&x"),            # ...even mid-word
        ("&notit;", "¬it;"),   # longest-prefix: &not + "it;"
        ("&notin;", "∉"),      # full name wins over &not prefix
        ("&#65;&#x41;&#X41;", "AAA"),
        ("&#65 b", "A b"),          # numeric without ';'
        ("&#128;", "€"),       # C1 control remap (windows-1252)
        ("&#x110000;", "�"),   # beyond Unicode -> replacement
        ("&#0;", "�"),
        ("&; &#; &unknownref; &", "&; &#; &unknownref; &"),
        ("&CounterClockwiseContourIntegral;", "∳"),
    ]
    for src, want in cases:
        got = parse(f"<p>{src}</p>")
        assert got == [TagOpen("p", ()), Text(want), TagClose("p")], src


def test_entity_attribute_mode_edge_cases():
    cases = [
        ("x&ampy", "x&ampy"),      # legacy + alnum: NOT decoded
        ("x&amp=1", "x&amp=1"),    # legacy + '=': NOT decoded
        ("x&amp.y", "x&.y"),       # legacy + other char: decoded
        ("x&amp;y", "x&y"),        # terminated: decoded
        ("x&amp", "x&"),           # end of value: decoded
        ("&notit;", "&notit;"),    # legacy prefix + alnum: literal
        ("&notin;", "∉"),     # full named ref: decoded
        ("?a=1&ampb=2", "?a=1&ampb=2"),  # the URL-breaking classic
        ("&#65;&#x2f;", "A/"),     # numeric: same as text mode
    ]
    for src, want in cases:
        got = parse(f'<a href="{src}">x</a>')
        assert got == [
            TagOpen("a", (("href", want),)),
            Text("x"),
            TagClose("a"),
        ], src
    # unquoted values follow the same attribute rule
    assert parse("<a href=x&ampy>")[0] == TagOpen("a", (("href", "x&ampy"),))


def test_raw_text_close_search_survives_multibyte_lowercase():
    """U+0130 'İ' lowers to TWO chars: a close-tag search over a
    .lower() copy desyncs its indices against the original string."""
    toks = parse("<p>İ</p><script>var x=1;</script><b>ok</b>")
    assert Text("var x=1;") in toks
    assert Text("ok") in toks
    assert not any(type(t) is Text and "<" in t.text for t in toks)


def test_raw_text_close_requires_tag_boundary():
    """htmlparser2 leaves script/style special mode only when the
    close-tag name is followed by '>' or whitespace — '</scripted>'
    stays raw text; '</SCRIPT >' (case-insensitive, space) closes."""
    assert parse("<script>x</scripted>y</script>") == [
        TagOpen("script", ()),
        Text("x</scripted>y"),
        TagClose("script"),
    ]
    assert parse("<script>x</SCRIPT >z") == [
        TagOpen("script", ()),
        Text("x"),
        TagClose("script"),
        Text("z"),
    ]


def test_text_trim_matches_js_not_python():
    """JS String.trim() does NOT strip \\x1c-\\x1f or \\x85 (category
    Cc); Python's default strip() does — the reference keeps them."""
    assert parse("<p>\x85abc\x85</p>")[1] == Text("\x85abc\x85")
    # a \x1c-only text node is NOT whitespace-only under JS trim
    assert Text("\x1c") in parse("<p>\x1c</p>")
    # the JS set itself still trims (NBSP, BOM, ideographic space)
    assert parse("<p>\xa0﻿　</p>") == [
        TagOpen("p", ()),
        TagClose("p"),
    ]


def test_fix_tree_linear_in_sibling_count():
    """A document that is one flat run of siblings (large tables/
    lists) must build its forest in linear time — the head/tail
    recursive fold was O(siblings^2): 9.5s at 16k siblings."""
    import time

    from scalpel_ts_spark.core.tag_forest import _fix_tree

    big = [TagNode(i, i, []) for i in range(30_000)]
    t0 = time.perf_counter()
    out = _fix_tree(big)
    assert len(out) == 30_000
    assert time.perf_counter() - t0 < 2.0  # old shape: ~30s+ here


def test_select_linear_in_sibling_count():
    """Selection over a wide document is linear in its siblings, for a
    flat selector and a nested one.  The walk that sliced the sibling
    list at every step, and re-walked every later sibling for each
    outer match, took 5.9 s at 16k flat siblings and 21.5 s at 2,000
    nested items."""
    import time

    import scalpel_ts_spark.core.scraper as S
    import scalpel_ts_spark.core.select as Sel

    flat = "<ul>" + "".join(f"<li>{i}</li>" for i in range(16_000)) + "</ul>"
    t0 = time.perf_counter()
    got = S.scrape_raw(flat, S.texts(Sel.tag("li")))
    assert time.perf_counter() - t0 < 2.0
    assert got == [str(i) for i in range(16_000)]

    items = "".join(f"<li><b>{i}</b></li>" for i in range(2_000))
    t0 = time.perf_counter()
    got = S.scrape_raw(
        "<ul>" + items + "</ul>",
        S.texts(Sel.nested(Sel.tag("li"), Sel.tag("b"))),
    )
    assert time.perf_counter() - t0 < 2.0
    assert got == [str(i) for i in range(2_000)]


def test_select_lifts_siblings_out_of_start_order():
    """Nested selection lifts every sibling span nested in a match,
    even where spans are out of start order, so the sibling walk may
    stop early only where they are in order.  A raw token stream with
    crossing closes hoists (6,6) behind (8,10) in the top-level list;
    it lies inside (2,7).  In the parsed document, the ``a`` spanning
    (4,10) gets its children (6,8) and (9,9) once more as lifted
    siblings, so (9,9) comes before the second (6,8), which the first
    (6,8) must still lift."""
    import scalpel_ts_spark.core.scraper as S
    import scalpel_ts_spark.core.select as Sel

    a, b, c = (TagOpen(n, ()) for n in "abc")
    tokens = [
        b, b, c, Text("x"), a, TagClose("b"), Text("y"), TagClose("c"),
        c, TagClose("a"), TagClose("c"), b,
    ]
    assert [(t.start, t.end) for t in tags_to_spec(tokens).hierarchy] == [
        (0, 0), (1, 5), (2, 7), (4, 9), (8, 10), (6, 6), (8, 10), (11, 11),
    ]
    got = S.scrape(S.texts(Sel.nested(Sel.any_node, Sel.text_node)), tokens)
    assert got == ["x", "x", "y", "y", "y", "y"]

    got = S.scrape_raw(
        "<p><a>x<p><a/><p>y</p></b>z",
        S.texts(Sel.nested(Sel.tag("a"), Sel.nested(Sel.tag("p"), Sel.text_node))),
    )
    assert got == ["y", "y", "y"]


def test_select_at_depth_linearithmic_in_sibling_count():
    """A depth-constrained selector over a wide document takes
    O(n log n): the containment counts are built once per root.
    Walking the whole root tree for every depth check took 4.7 s at
    4,000 flat items."""
    import time

    import scalpel_ts_spark.core.scraper as S
    import scalpel_ts_spark.core.select as Sel

    flat = "<ul>" + "".join(f"<li>{i}</li>" for i in range(8_000)) + "</ul>"
    t0 = time.perf_counter()
    got = S.scrape_raw(flat, S.texts(Sel.at_depth(Sel.tag("li"), 1)))
    assert time.perf_counter() - t0 < 2.0
    assert got == [str(i) for i in range(8_000)]


def _count_containing(root_hierarchy, node) -> int:
    """Reference depth: the number of spans in the root hierarchy
    strictly containing node, by a walk of the whole tree."""
    cs, ce = node.start, node.end
    count = 0
    stack = list(root_hierarchy)
    while stack:
        t = stack.pop()
        if t.start < cs and ce < t.end:
            count += 1
        stack.extend(t.forest)
    return count


class _ReferenceCounts:
    def __init__(self, root_hierarchy):
        self.root = root_hierarchy

    def __getitem__(self, span):
        return _count_containing(self.root, TagNode(*span, []))


def _random_soup(rng):
    """A random token stream: unbalanced and crossing closes included,
    so fixTree hoists spans inside their siblings' spans."""
    names = "abc"
    tokens = []
    for _ in range(rng.randint(0, 16)):
        r = rng.random()
        if r < 0.45:
            tokens.append(TagOpen(rng.choice(names), ()))
        elif r < 0.8:
            tokens.append(TagClose(rng.choice(names)))
        else:
            tokens.append(Text(rng.choice("xyz")))
    return tokens


def _random_selector(rng):
    import scalpel_ts_spark.core.select as Sel

    parts = []
    for _ in range(rng.randint(1, 3)):
        sel = rng.choice(
            [Sel.tag("a"), Sel.tag("b"), Sel.tag("c"), Sel.any_node, Sel.text_node]
        )
        if rng.random() < 0.6:
            sel = Sel.at_depth(sel, rng.randint(0, 3))
        parts.append(sel)
    out = parts[0]
    for sel in parts[1:]:
        out = Sel.nested(out, sel)
    return out


def test_containment_counts_match_reference_walk(monkeypatch):
    """Differential check of the depth counts: on random tag soups, the
    Fenwick sweep gives every node of the tree the reference walk's
    count, and plain, nested and ``any`` selectors at depths 0-3 select
    the same chroots as with the walk at every root."""
    import random

    import scalpel_ts_spark.core.scraper as S
    import scalpel_ts_spark.core.select as Sel

    # each nested match is the root of the depths below it
    got = S.scrape_raw(
        "<x><a><b>1</b><c><b>2</b></c></a></x>",
        S.texts(Sel.nested(Sel.tag("a"), Sel.at_depth(Sel.tag("b"), 2))),
    )
    assert got == ["2"]

    rng = random.Random(12)
    cases = []
    for _ in range(400):
        spec = tags_to_spec(_random_soup(rng))
        counts = Sel._containment_counts(spec.hierarchy)
        stack = list(spec.hierarchy)
        while stack:
            node = stack.pop()
            want = _count_containing(spec.hierarchy, node)
            assert counts[(node.start, node.end)] == want
            stack.extend(node.forest)
        for _ in range(8):
            selector = _random_selector(rng)
            cases.append((selector, spec, Sel.select(selector, spec)))
    monkeypatch.setattr(Sel, "_containment_counts", _ReferenceCounts)
    for selector, spec, got in cases:
        assert got == Sel.select(selector, spec), selector
    assert any(got for _, _, got in cases)


def test_fix_tree_hoists_cascade_through_levels():
    """A grandchild whose span escapes both its parent AND grandparent
    is hoisted to the top level, between the grandparent and its right
    siblings (reference fixTree fold order)."""
    from scalpel_ts_spark.core.tag_forest import _fix_tree

    escape = TagNode(2, 99, [])
    child = TagNode(1, 3, [escape])
    root = TagNode(0, 4, [child])
    sibling = TagNode(5, 6, [])
    got = _fix_tree([root, sibling])
    assert got == [
        TagNode(0, 4, [TagNode(1, 3, [])]),
        TagNode(2, 99, []),
        TagNode(5, 6, []),
    ]


# --- Shipping: Spark sends every scraper to executors with cloudpickle.

# documents of the golden scraper / serial / example corpora
SHIPPING_DOCS = (
    "",
    "<a>1</a><b>2</b><a>3</a>",
    "<parent><a>1</a><b>2</b></parent>",
    "1<a>2</a><b>3</b>",
    "<b foo=bar /><a>1</a><a>2</a><a>3</a>",
    "<a key1=foo /><b key1=bar key2=foo /><a key1=bar key2=baz />",
    "<a><!-- Comment -->foo</a><a key1=foo></a><a key1=bar>bar</a>",
    "<img src='foobar' />",
)


def _shipped_scrapers():
    import scalpel_ts_spark.core.scraper as S
    import scalpel_ts_spark.core.select as Sel
    import scalpel_ts_spark.core.serial as Z
    from scalpel_ts_spark.examples.html_to_markdown import formatted_texts
    from scalpel_ts_spark.operators.extract import SpanExtractor

    a, b = Sel.tag("a"), Sel.tag("b")
    any_text = S.text(Sel.any_node)
    step = Z.step_next(any_text)
    return {
        "chroots": S.chroots(a, S.position),
        "chroot": S.chroot(Sel.tag("parent"), S.texts(Sel.any_node)),
        "matches": S.matches(b),
        "text": S.text(a),
        "texts": S.texts(a),
        "html": S.html(a),
        "htmls": S.htmls(Sel.any_node),
        "inner_html": S.inner_html(Sel.any_node),
        "inner_htmls": S.inner_htmls(a),
        "attr": S.attr("key1", a),
        "attrs": S.attrs("key1", a),
        "position": S.position,
        "of": S.of(7),
        "fail": S.fail(),
        "map": S.texts(a).map(len),
        "chain": S.text(a).chain(lambda t: S.of(t * 2)),
        "alt": S.text(Sel.tag("p")).alt(S.text(b)),
        "filter": S.texts(a).filter(lambda ts: len(ts) > 1),
        "filter_map": S.texts(a).filter_map(
            lambda ts: ts[-1] if ts else S.NOTHING
        ),
        "bind": S.text(a).bind_to("t").bind("h", lambda d: S.html(b)),
        "in_serial repeat step_next": Z.in_serial(Z.repeat(step)),
        "sequence ap_second step_back": Z.in_serial(
            Z.sequence([step, step.ap_second(Z.step_back(any_text))])
        ),
        "repeat1 seek": Z.in_serial(
            Z.repeat1(Z.seek_next(S.text(a))).bind_to("forwards").bind(
                "back", lambda d: Z.seek_back(S.text(a))
            )
        ),
        "until": Z.in_serial(
            Z.until_next(S.matches(b), Z.repeat(step)).bind_to("next").bind(
                "back",
                lambda d: Z.until_back(
                    S.matches(Sel.tag("p")),
                    Z.repeat(Z.step_back(any_text)),
                ),
            )
        ),
        "serial of map chain alt": Z.in_serial(
            Z.of(1)
            .map(lambda n: n + 1)
            .chain(lambda n: step.map(lambda t: (n, t)))
            .alt(Z.of("none"))
        ),
        "spans": SpanExtractor(),
        "formatted_texts": formatted_texts,
    }


def test_scrapers_round_trip_through_cloudpickle():
    """Every public combinator of ``core.scraper`` and ``core.serial``,
    the span extractor and the markdown example's recursive scraper
    ship with Spark's cloudpickle and scrape the same values after.
    The span extractor also ships with plain ``pickle``, and the
    ``NOTHING`` marker comes back as itself under every protocol."""
    import pickle

    from pyspark import cloudpickle

    import scalpel_ts_spark.core.scraper as S
    from scalpel_ts_spark.core.scraper import scrape_either
    from scalpel_ts_spark.examples.comments import (
        EXAMPLE_HTML,
        REPETITION_HTML,
    )
    from scalpel_ts_spark.operators.extract import SpanExtractor
    from tests.test_examples import MD_HTML

    docs = SHIPPING_DOCS + (EXAMPLE_HTML, REPETITION_HTML, MD_HTML)
    for name, scraper in _shipped_scrapers().items():
        shipped = cloudpickle.loads(cloudpickle.dumps(scraper))
        assert shipped is not scraper
        want = [scrape_either(d, scraper) for d in docs]
        assert [scrape_either(d, shipped) for d in docs] == want, name
        if name != "fail":
            assert any(w[0] == "right" for w in want), name
    for proto in range(pickle.HIGHEST_PROTOCOL + 1):
        assert pickle.loads(pickle.dumps(S.NOTHING, proto)) is S.NOTHING
    assert cloudpickle.loads(cloudpickle.dumps(S.NOTHING)) is S.NOTHING
    spans = SpanExtractor()
    plain = pickle.loads(pickle.dumps(spans))
    assert type(plain) is type(spans)
    assert [scrape_either(d, plain) for d in docs] == [
        scrape_either(d, spans) for d in docs
    ]
