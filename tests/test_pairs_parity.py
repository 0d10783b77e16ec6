"""candidate_pairs and frames_from_spans against brute-force enumerations
of their definitions.

For every document, every (anchor, filler) span pair on different tokens
at most k tokens apart, and every whitelist label of its (anchor_type,
filler_type), candidate_pairs must emit exactly one row. For every anchor
span and every slot, frames_from_spans must emit the slot's best
max_cardinality fillers (direction rule, then nearest first, ties by
filler_idx and span type), and nothing for a frame that misses a
min_cardinality slot. The corpus is built to hit the edges of the ±k
neighbourhood window: a token with two span types, spans on a page's
first and last token, gaps of exactly k and k+1, a page with one span,
NULL and empty span text, and a 10^4-token page. Rows are compared as
multisets."""

from __future__ import annotations

import random
from collections import Counter, defaultdict

import pytest

from dere_spark.operators.frames import frames_from_spans
from dere_spark.operators.pairs import candidate_pairs
from dere_spark.plans.compiler import compile_plan
from dere_spark.taskspec import load_task_spec

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


def _spans_df(spark, spans):
    return spark.createDataFrame(
        spans,
        "doc_id string, token_idx int, span_type string, left int, right int, "
        "text string, source string",
    ).repartition(4, "doc_id")


def test_candidate_pairs_match_brute_force(spark):
    spans = _hostile_spans()
    spans_df = _spans_df(spark, spans)
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


#: the webtext schema over the corpus's type names, and a generic one: a
#: union-typed slot with min = max = 2, a second frame type anchored by a
#: type that is also a filler, and a slot with no direction rule
SPECS = {
    "webtext": """
      <frame name="Operation">
        <slot name="Operation" types="span:Op" cardinality="1"/>
        <slot name="Theme" types="span:Obj" cardinality="1"/>
        <slot name="Manner" types="span:Qual" mincardinality="0" maxcardinality="1"/>
      </frame>""",
    "union": """
      <frame name="Operation">
        <slot name="Operation" types="span:Op" cardinality="1"/>
        <slot name="Theme" types="span:Obj,span:Qual" mincardinality="2" maxcardinality="2"/>
        <slot name="Manner" types="span:Qual" mincardinality="0"/>
      </frame>
      <frame name="Part">
        <slot name="Part" types="span:Obj" cardinality="1"/>
        <slot name="Manner" types="span:Qual,span:Op" cardinality="1"/>
        <slot name="Theme" types="span:Obj,span:Op" mincardinality="0" maxcardinality="3"/>
        <slot name="Whole" types="span:Op" mincardinality="0"/>
      </frame>""",
}

#: the slot semantics, written out independently of the operator
DIRECTION = {"Theme": lambda d: d > 0, "Manner": lambda d: d == -1}


def _plan(tmp_path, name):
    path = tmp_path / f"{name}.xml"
    path.write_text(
        '<deREschema name="t" version="0" author="t"><spans>'
        '<span name="Op" predict="True"/><span name="Obj" predict="True"/>'
        '<span name="Qual" predict="True"/></spans>'
        f"<frames>{SPECS[name]}</frames></deREschema>"
    )
    return compile_plan(load_task_spec(str(path)))


def _frames_brute_force(spans, plan, k):
    """One frame per anchor span and frame type; each slot takes its
    plausible fillers within ±k that pass the direction rule, nearest
    first (ties: filler_idx, then span type), at most max_cardinality; a
    frame with a slot under min_cardinality is dropped."""
    by_token = defaultdict(list)
    for s in spans:
        by_token[(s[0], s[1])].append(s)
    rows = []
    for a in spans:
        doc, ai, a_type = a[0], a[1], a[2]
        frames = defaultdict(list)
        for lab in plan.relation_labels:
            types = {
                f_t for (a_t, f_t), labs in plan.plausible_relations.items()
                if a_t == a_type and lab in labs
            }
            rule = DIRECTION.get(lab.slot_name, lambda d: False)
            fills = sorted(
                (f for fi in range(ai - k, ai + k + 1) if fi != ai
                 for f in by_token.get((doc, fi), ()) if f[2] in types and rule(fi - ai)),
                key=lambda f: (abs(f[1] - ai), f[1], f[2]),
            )[:lab.max_cardinality]
            frames[lab.frame_type].append((lab, fills))
        for frame_type, slots in frames.items():
            if any(len(fills) < (lab.min_cardinality or 0) for lab, fills in slots):
                continue
            for lab, fills in slots:
                for f in fills:
                    d = f[1] - ai
                    rows.append((
                        doc, ai, frame_type, ai, a_type, a[3], a[4], a[5],
                        lab.slot_name, lab.predicate, f[1], f[2], f[3], f[4], f[5],
                        d, 1.0 / (1.0 + abs(d)), "predicted",
                    ))
    return Counter(rows)


@pytest.mark.parametrize("spec", sorted(SPECS))
def test_frames_match_brute_force(spark, tmp_path, spec):
    spans = _hostile_spans()
    plan = _plan(tmp_path, spec)
    got = Counter(
        tuple(r) for r in frames_from_spans(_spans_df(spark, spans), plan, K).collect()
    )
    want = _frames_brute_force(spans, plan, K)
    assert sum(want.values()) > 1_000  # the big page dominates
    missing, extra = want - got, got - want
    assert not missing and not extra, (
        f"missing {sum(missing.values())}: {list(missing)[:5]}; "
        f"extra {sum(extra.values())}: {list(extra)[:5]}"
    )
    # (doc, anchor token, anchor text, frame type, slot): one anchor span
    slots = Counter((r[0], r[1], r[7], r[2], r[8]) for r in want.elements())
    preds = {r[9] for r in want}
    if spec == "webtext":
        assert preds == {"Operation.Theme", "Operation.Manner"}
        assert {r[15] for r in want if r[8] == "Manner"} == {-1}
        assert any(r[0] != "big" for r in want)
    else:
        # min = max = 2: every Operation frame fills Theme exactly twice,
        # with both union types present; a slot with no direction rule
        # ("Whole") takes no filler
        assert {n for (_, _, _, ft, slot), n in slots.items()
                if (ft, slot) == ("Operation", "Theme")} == {2}
        assert {r[11] for r in want if r[9] == "Operation.Theme"} == {"Obj", "Qual"}
        assert preds == {"Operation.Theme", "Operation.Manner", "Part.Theme", "Part.Manner"}
        assert max(n for (_, _, _, ft, _), n in slots.items() if ft == "Part") == 3
