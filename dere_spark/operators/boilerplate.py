"""Boilerplate removal: html -> main-content text via block text density.

Beyond-reference operator (LLM-data-pipeline family): training-data
curation over a Common-Crawl-style corpus needs more than tag stripping —
navigation bars, headers, footers and link farms dominate raw page text,
and the classic fix (Kohlschuetter et al., "Boilerplate Detection using
Shallow Text Features", WSDM 2010; the same signals CCNet/trafilatura
gate on) is block-level text density: split the page into block-element
segments, keep the ones whose visible text is long and link-poor.

This module re-expresses that heuristic as pure Catalyst expressions —
regexp chains plus higher-order array functions (``transform`` /
``filter`` / ``array_join``), written as SQL text like every operator
(``extract_main_text`` returns the expression's text and shares the
entity decoding of ``sources/warc.html_to_text``). No Python, no UDF,
and NO shuffle: the whole operator is a per-row projection that rides
the ingest scan inside whole-stage codegen, which is the cheapest
possible shape at 100 TB
(``tests/test_boilerplate.py`` pins the no-Exchange plan).

Known limits (documented, deliberate): same-tag NESTED boilerplate
subtrees (``<nav>..<nav>..</nav>..</nav>``) strip only to the first
closing tag — the non-greedy regex cannot count braces, and real chrome
virtually never nests the same landmark element; unclosed landmark
elements fall through to the block scorer, which is exactly the fallback
you want (their link-dense content still gets density-dropped).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from dere_spark.operators import sql_str
from dere_spark.sources.warc import decode_entities

#: subtrees that are chrome by construction — dropped wholesale before
#: block scoring (head/title/script/style never render as content;
#: nav/header/footer/aside/form are the landmark boilerplate elements)
_DROP_TAGS = (
    "script", "style", "noscript", "head", "nav", "header", "footer",
    "aside", "form", "select", "button", "svg",
)
_SUBTREE_RE = r"(?is)<(" + "|".join(_DROP_TAGS) + r")\b[^>]*>.*?</\1\s*>"

#: block-level boundaries: each occurrence cuts the page into a new
#: scoring segment (inline tags — a, b, em, span, ... — stay inside the
#: block so anchor text can be measured against its surrounding text)
_BLOCK_RE = (
    r"(?i)</?(p|div|h[1-6]|li|ul|ol|dl|dt|dd|table|thead|tbody|tr|td|th|"
    r"section|article|main|blockquote|pre|figure|figcaption|br|hr|body|html)"
    r"\b[^>]*>"
)

_ANCHOR_TEXT_RE = r"(?is)<a\b[^>]*>(.*?)</a>"

_WHITESPACE = sql_str(r"\s+")
#: block sentinel; see the NUL note in ``extract_main_text``
_NUL = sql_str("\x00")


def _clean(fragment: str) -> str:
    """Visible text of an html fragment (SQL text): strip remaining
    (inline) tags, decode the common entities, collapse whitespace, trim."""
    text = decode_entities(f"regexp_replace({fragment}, {sql_str(r'(?s)<[^>]*>')}, ' ')")
    return f"trim(regexp_replace({text}, {_WHITESPACE}, ' '))"


def extract_main_text(
    html: str,
    min_block_chars: int = 25,
    max_link_density: float = 0.5,
) -> str:
    """Main-content text of one html page, as SQL text over the expression
    ``html`` (binary or string).

    A block survives when its visible text has at least
    ``min_block_chars`` characters AND its anchor-text share (link
    density — the fraction of visible characters that sit inside
    ``<a>..</a>``) is at most ``max_link_density``. Surviving blocks are
    joined with newlines in document order.

    Thresholds follow the shallow-text-features defaults: short blocks
    are chrome regardless of density (copyright lines, breadcrumbs), and
    long-but-link-dense blocks are link farms / menus. Both are explicit
    parameters because curation pipelines tune them per corpus.
    """
    if min_block_chars < 1:
        raise ValueError(f"min_block_chars must be >= 1, got {min_block_chars}")
    if not 0 <= max_link_density <= 1:
        raise ValueError(
            f"max_link_density must be in [0,1], got {max_link_density}"
        )
    # crawl payloads routinely carry stray NUL bytes; neutralize them
    # FIRST so the block sentinel below is guaranteed absent (an embedded
    # NUL must not split a content block mid-text and length-drop it)
    raw = f"replace(CAST({html} AS STRING), {_NUL}, ' ')"
    raw = f"regexp_replace({raw}, {sql_str(r'(?s)<!--.*?-->')}, ' ')"
    raw = f"regexp_replace({raw}, {sql_str(_SUBTREE_RE)}, ' ')"
    blocks = f"split(regexp_replace({raw}, {sql_str(_BLOCK_RE)}, {_NUL}), {_NUL}, -1)"
    anchors = f"array_join(regexp_extract_all(b, {sql_str(_ANCHOR_TEXT_RE)}, 1), ' ')"
    scored = f"transform({blocks}, b -> struct({_clean('b')} AS text, length({_clean(anchors)}) AS link_n))"
    kept = (
        f"filter({scored}, s -> length(s.text) >= {int(min_block_chars)} AND "
        f"CAST(s.link_n AS DOUBLE) <= {float(max_link_density)!r}D * CAST(length(s.text) AS DOUBLE))"
    )
    return f"array_join(transform({kept}, s -> s.text), '\\n')"


def page_main_text(
    pages: DataFrame,
    min_block_chars: int = 25,
    max_link_density: float = 0.5,
) -> DataFrame:
    """Page table ``(url, html, ...)`` -> ``(url, main_text)``.

    Derived column only — the ``text`` column (byte-identical extracted
    text per url, the hard invariant) is never touched; ``main_text`` is
    the curation view of the same page."""
    main_text = extract_main_text(
        "html", min_block_chars=min_block_chars, max_link_density=max_link_density
    )
    return pages.selectExpr("url", f"{main_text} AS main_text")
