"""Pure-Python single-document extraction core.

Everything in this package is deliberately free of Spark imports: the
same evaluator runs on the driver (tests, the crawl simulator) and
inside Arrow-batched pandas UDFs on executors.  A compiled scraper is
shipped by cloudpickle to executors via task closure / broadcast.
"""

from scalpel_ts_spark.core.tokenizer import (
    Token,
    TagOpen,
    TagClose,
    Text,
    Comment,
    parse,
    show_token,
    show_tokens,
    canonicalize_tokens,
)
from scalpel_ts_spark.core.tag_info import TagInfo, annotate_tags
from scalpel_ts_spark.core.tag_forest import TagNode, from_tag_info
from scalpel_ts_spark.core.tag_spec import TagSpec, tags_to_spec

__all__ = [
    "Token",
    "TagOpen",
    "TagClose",
    "Text",
    "Comment",
    "parse",
    "show_token",
    "show_tokens",
    "canonicalize_tokens",
    "TagInfo",
    "annotate_tags",
    "TagNode",
    "from_tag_info",
    "TagSpec",
    "tags_to_spec",
]
