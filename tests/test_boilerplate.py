"""Boilerplate removal (operators/boilerplate.py): block text-density
main-content extraction — chrome subtrees dropped, link farms
density-dropped, short blocks length-dropped, all map-side."""

from __future__ import annotations

import pytest
import pyspark.sql.functions as F

from dere_spark.operators.boilerplate import extract_main_text, page_main_text

BODY = (
    "The quick brown fox jumps over the lazy dog while the engine "
    "extracts the one block a reader actually came for."
)

PAGE = (
    "<html><head><title>Site Title</title><style>p{color:red}</style></head>"
    "<body>"
    '<nav><a href="/">Home</a> <a href="/about">About us page</a> '
    '<a href="/contact">Contact and support</a></nav>'
    "<!-- ad slot --><article><p>" + BODY + "</p></article>"
    '<div><a href="/p">Products and Services</a> '
    '<a href="/s">Customer Support Portal</a> '
    '<a href="/d">Documentation Archive</a> hub</div>'
    "<footer>(c) 2024 Example Site - all rights reserved</footer>"
    "</body></html>"
)


def _extract(spark, html: str, **kw) -> str:
    df = spark.createDataFrame([(html,)], "html string")
    return df.select(
        F.expr(extract_main_text("html", **kw)).alias("t")
    ).first()["t"]


def test_keeps_body_drops_chrome_and_link_farm(spark):
    # head/title/style/nav/footer are subtree-dropped; the link-farm div
    # is LONG (>= 25 visible chars) but ~95% anchor text -> density-dropped;
    # only the article body survives
    assert _extract(spark, PAGE) == BODY


def test_link_density_is_the_discriminator(spark):
    # same three anchors, but embedded in enough plain text that the
    # block's link density falls under the threshold -> kept
    diluted = (
        '<div><a href="/p">Products and Services</a> surrounded by a long '
        "run of ordinary prose that talks about the products in enough "
        "detail that the block is clearly content and not a menu of "
        "navigation links for the reader to click through</div>"
    )
    out = _extract(spark, diluted)
    assert out.startswith("Products and Services surrounded")
    # and the undiluted farm from PAGE is dropped on its own too
    farm = (
        '<div><a href="/p">Products and Services</a> '
        '<a href="/s">Customer Support Portal</a> '
        '<a href="/d">Documentation Archive</a> hub</div>'
    )
    assert _extract(spark, farm) == ""


def test_short_blocks_dropped_and_threshold_is_a_parameter(spark):
    html = "<p>tiny crumb</p><p>" + BODY + "</p>"
    assert _extract(spark, html) == BODY
    assert _extract(spark, html, min_block_chars=5) == "tiny crumb\n" + BODY


def test_blocks_join_in_document_order(spark):
    first = "First paragraph with comfortably more than the minimum."
    second = "Second paragraph, also long enough to clear the bar."
    out = _extract(spark, f"<p>{first}</p><p>{second}</p>")
    assert out == first + "\n" + second


def test_inline_tags_and_entities_inside_kept_blocks(spark):
    html = (
        "<p>Fish &amp; chips cost &lt;5 euros at the <b>very</b> good\n"
        "   corner shop nearby.</p>"
    )
    assert _extract(spark, html) == (
        "Fish & chips cost <5 euros at the very good corner shop nearby."
    )


def test_binary_html_column_and_text_untouched(spark):
    df = spark.createDataFrame(
        [("u1", PAGE.encode(), "original extracted text")],
        "url string, html binary, text string",
    )
    out = page_main_text(df)
    assert out.columns == ["url", "main_text"]
    assert out.first()["main_text"] == BODY
    # the byte-identical `text` column is not part of the derived view
    assert "text" not in out.columns


def test_map_side_only_no_exchange(spark):
    df = spark.createDataFrame([("u", PAGE)], "url string, html string")
    plan = (
        page_main_text(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan  # extraction is map-side only


def test_embedded_nul_does_not_split_blocks(spark):
    # crawl payloads carry stray NUL bytes; a NUL inside a content block
    # must not collide with the block sentinel and split/length-drop it
    # split point 41 sits inside the word "dog" so the space the NUL
    # becomes is not adjacent to another space (no collapse ambiguity)
    html = "<p>" + BODY[:41] + "\x00" + BODY[41:] + "</p>"
    out = _extract(spark, html)
    assert out == BODY[:41] + " " + BODY[41:]
    # and a NUL-riddled short fragment still behaves (nothing survives)
    assert _extract(spark, "<p>a\x00b</p>") == ""


def test_parameter_validation():
    with pytest.raises(ValueError):
        extract_main_text("'x'", min_block_chars=0)
    with pytest.raises(ValueError):
        extract_main_text("'x'", max_link_density=1.5)
