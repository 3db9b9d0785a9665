"""Spark extraction parity: the pandas-UDF path must produce exactly
what the pure-Python core produces on the same documents (M1 gate,
SURVEY.md §7), including the docs-example comment scraper
(reference examples/example-from-docs.ts:52-80)."""

import pandas as pd
from pyspark.sql import functions as F

import scalpel_ts_spark.core.scraper as S
import scalpel_ts_spark.core.select as Sel
from scalpel_ts_spark.core.scraper import NOTHING
from scalpel_ts_spark.core.tag_spec import tags_to_spec
from scalpel_ts_spark.core.tokenizer import parse
from scalpel_ts_spark.operators.extract import (
    SpanExtractor,
    crawl_extract_udf,
    extract_spans_udf,
    scrape_udf,
    selector_prefilter,
    with_tag_signature,
)
from scalpel_ts_spark.sources.synthetic import html_for_url, make_url

EXAMPLE_HTML = """
<html>
    <body>
        <div class="comments">
            <div class="comment container">
                <span class="comment author">Sally</span>
                <div class="comment text">Woo hoo!</div>
            </div>
            <div class="comment container">
                <span class="comment author">Bill</span>
                <img class="comment image" src="http://example.com/cat.gif" />
            </div>
            <div class="comment container">
                <span class="comment author">Bertrand</span>
                <div class="comment text">That sure is some cat!</div>
            </div>
            <div class="comment container">
                <span class="comment author">Susan</span>
                <div class="comment text">WTF!?!</div>
            </div>
        </div>
    </body>
</html>
"""


def _author(_):
    return S.text(Sel.with_attributes("span", [Sel.has_class("author")]))


def _text_body(_):
    return S.text(Sel.with_attributes("div", [Sel.has_class("text")]))


def _img_url(_):
    return S.attr("src", Sel.with_attributes("img", [Sel.has_class("image")]))


def comment_scraper():
    text_comment = (
        S.of("TextComment")
        .bind_to("_tag")
        .bind("author", _author)
        .bind("text", _text_body)
    )
    image_comment = (
        S.of("ImageComment")
        .bind_to("_tag")
        .bind("author", _author)
        .bind("url", _img_url)
    )
    return S.chroots(
        Sel.with_attributes("div", [Sel.has_class("container")]),
        text_comment.alt(image_comment),
    )


def test_comment_scraper_core():
    result = S.scrape_raw(EXAMPLE_HTML, comment_scraper())
    assert result == [
        {"_tag": "TextComment", "author": "Sally", "text": "Woo hoo!"},
        {"_tag": "ImageComment", "author": "Bill", "url": "http://example.com/cat.gif"},
        {"_tag": "TextComment", "author": "Bertrand", "text": "That sure is some cat!"},
        {"_tag": "TextComment", "author": "Susan", "text": "WTF!?!"},
    ]


def test_comment_scraper_spark_matches_core(spark):
    from pyspark.sql.types import (
        ArrayType,
        StringType,
        StructField,
        StructType,
    )

    schema = ArrayType(
        StructType(
            [
                StructField("_tag", StringType()),
                StructField("author", StringType()),
                StructField("text", StringType()),
                StructField("url", StringType()),
            ]
        )
    )
    df = spark.createDataFrame(
        [(i, EXAMPLE_HTML) for i in range(8)], ["doc_id", "html"]
    )
    udf = scrape_udf(comment_scraper(), schema)
    rows = (
        df.withColumn("comments", udf(F.col("html")))
        .select("doc_id", "comments")
        .collect()
    )
    expected = S.scrape_raw(EXAMPLE_HTML, comment_scraper())
    for row in rows:
        got = [
            {k: v for k, v in c.asDict().items() if v is not None}
            for c in row.comments
        ]
        assert got == expected


def test_extract_spans_matches_core(spark):
    urls = [make_url(h, p) for h in range(3) for p in range(10)]
    docs = [(u, html_for_url(u)) for u in urls]
    df = spark.createDataFrame(docs, ["url", "html"])
    got = {
        r.url: [s.asDict() for s in r.spans]
        for r in df.withColumn("spans", extract_spans_udf()(F.col("html")))
        .select("url", "spans")
        .collect()
    }
    extractor = SpanExtractor()
    for u, html in docs:
        expected = extractor.run(tags_to_spec(parse(html)))
        assert got[u] == expected, u


def test_crawl_extract_links_and_title(spark):
    u = make_url(1, 2)
    df = spark.createDataFrame([(u, html_for_url(u))], ["url", "html"])
    row = (
        df.withColumn("ex", crawl_extract_udf()(F.col("url"), F.col("html")))
        .select("ex.*")
        .collect()[0]
    )
    assert row.title == "Page 1/2"
    spec = tags_to_spec(parse(html_for_url(u)))
    expected_links = S.attrs("href", Sel.tag("a")).run(spec)
    assert expected_links is not NOTHING
    assert list(row.links) == expected_links  # already absolute
    assert len(row.spans) > 0


def test_tag_signature_prefilter(spark):
    df = spark.createDataFrame(
        [(0, "<div><h2>x</h2></div>"), (1, "<div><p>y</p></div>")],
        ["doc_id", "html"],
    )
    sig = with_tag_signature(df)
    kept = sig.filter(selector_prefilter(Sel.tag("h2"))).collect()
    assert [r.doc_id for r in kept] == [0]


def test_fused_fetch_extract_matches_two_stage(spark):
    """fused fetch+parse UDF == a fetch UDF |> crawl_extract_udf on the
    same URLs (bodies never cross Arrow in the fused path; semantics
    must be bit-identical by construction — both call _extract_batch)."""
    from scalpel_ts_spark.operators.extract import fused_fetch_extract_udf

    urls = [make_url(h, p) for h in range(5) for p in range(8)]
    # include a URL the synthetic web 404s on (parse_url_ids -> None)
    urls.append("http://h0.test/not-a-page")
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    fused = {
        r.url: r.ex.asDict()
        for r in df.withColumn(
            "ex", fused_fetch_extract_udf(html_for_url)(F.col("url"))
        ).collect()
    }
    two_stage = {
        r.url: r.ex.asDict()
        for r in df.withColumn("html", F.udf(html_for_url)("url"))
        .withColumn("ex", crawl_extract_udf()(F.col("url"), F.col("html")))
        .drop("html")
        .collect()
    }
    assert fused == two_stage
    assert len(fused) == len(urls)
