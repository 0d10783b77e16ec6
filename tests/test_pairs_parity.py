"""candidate_pairs against a brute-force enumeration of its definition.

For every document, every (anchor, filler) span pair on different tokens
at most k tokens apart, and every whitelist label of its (anchor_type,
filler_type), the operator must emit exactly one row. The corpus is built
to hit the edges of the ±k neighbourhood window: a token with two span
types, spans on a page's first and last token, gaps of exactly k and k+1,
a page with one span, NULL and empty span text, and a 10^4-token page.
Rows are compared as multisets."""

from __future__ import annotations

import random
from collections import Counter, defaultdict

from dere_spark.operators.pairs import candidate_pairs

K = 3

WHITELIST = [
    ("Op", "Obj", "Operation", "Theme", "Operation.Theme"),
    ("Op", "Qual", "Operation", "Manner", "Operation.Manner"),
    # two labels for one type pair, and a same-type pair
    ("Obj", "Obj", "Part", "Whole", "Part.Whole"),
    ("Obj", "Obj", "Part", "Piece", "Part.Piece"),
]


def _span(doc, idx, span_type, text="w"):
    left = idx * 2 if idx is not None else None
    right = None if left is None or text is None else left + len(text)
    return (doc, idx, span_type, left, right, text, "predicted")


def _hostile_spans():
    spans = [
        # one token with two span types, on the page's first token
        _span("d0", 0, "Op", "join"),
        _span("d0", 0, "Obj", "join"),
        # gap of exactly k, then exactly k+1
        _span("d0", K, "Obj", "table"),
        _span("d0", 2 * K + 1, "Qual", "fast"),
        # NULL and empty text inside the window
        _span("d0", 2 * K + 2, "Op", None),
        _span("d0", 2 * K + 3, "Obj", ""),
        # the page's last token, next to an anchor
        _span("d0", 2 * K + 4, "Qual", "slow"),
        # a page with one span
        _span("d1", 5, "Op", "scan"),
        # filler before the anchor at distance -1 and -k
        _span("d2", 10, "Qual", "small"),
        _span("d2", 10 + K - 1, "Qual", "big"),
        _span("d2", 10 + K, "Op", "sort"),
        # types with no whitelist row
        _span("d3", 0, "Qual", "dup"),
        _span("d3", 1, "Qual", "dup"),
    ]
    # a 10^4-token page with a span on every token, types drawn at random
    # (some tokens carry two types)
    rng = random.Random(7)
    for i in range(10_000):
        spans.append(_span("big", i, rng.choice(["Op", "Obj", "Qual"]), f"t{i}"))
        if rng.random() < 0.05:
            spans.append(_span("big", i, rng.choice(["Op", "Obj", "Qual"]), f"u{i}"))
    return spans


def _brute_force(spans, whitelist, k):
    """Enumerate the definition: for each anchor, every filler on the
    tokens idx-k..idx+k other than its own."""
    by_token = defaultdict(list)
    for s in spans:
        by_token[(s[0], s[1])].append(s)
    labels = defaultdict(list)
    for a_t, f_t, frame, slot, pred in whitelist:
        labels[(a_t, f_t)].append((frame, slot, pred))
    rows = []
    for a in spans:
        doc, ai = a[0], a[1]
        for fi in range(ai - k, ai + k + 1):
            if fi == ai:
                continue
            for f in by_token.get((doc, fi), ()):
                for frame, slot, pred in labels.get((a[2], f[2]), ()):
                    rows.append((
                        doc, ai // k, ai, a[2], a[3], a[4], a[5],
                        fi, f[2], f[3], f[4], f[5],
                        frame, slot, pred, fi - ai,
                    ))
    return Counter(rows)


def test_candidate_pairs_match_brute_force(spark):
    spans = _hostile_spans()
    spans_df = spark.createDataFrame(
        spans,
        "doc_id string, token_idx int, span_type string, left int, right int, "
        "text string, source string",
    ).repartition(4, "doc_id")
    wl = spark.createDataFrame(
        WHITELIST,
        "anchor_type string, filler_type string, frame_type string, "
        "slot_name string, predicate string",
    )
    got = Counter(tuple(r) for r in candidate_pairs(spans_df, wl, K).collect())
    want = _brute_force(spans, WHITELIST, K)
    assert sum(want.values()) > 10_000  # the big page dominates
    missing, extra = want - got, got - want
    assert not missing and not extra, (
        f"missing {sum(missing.values())}: {list(missing)[:5]}; "
        f"extra {sum(extra.values())}: {list(extra)[:5]}"
    )
    # the hostile rows themselves are present, not just the big page
    hostile = {r for r in want if r[0] != "big"}
    assert {r[0] for r in hostile} == {"d0", "d2"}
    assert any(r[6] is None or r[11] is None for r in hostile)
    assert any(r[11] == "" for r in hostile)
    assert {r[15] for r in hostile} >= {K, -K, -1}
