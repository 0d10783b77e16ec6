"""E5/E6 legacy BioNLP scorer: fixture tests with hand-computed expected
counts (event dedup, Equiv canonicalization, recursive event equality,
M-lines, soft spans, per-file duplication adjustment), plus the A4
relational adjustment operator and gold-vs-gold runs on the in-repo corpus
tests/fixtures/bionlp_mini. Each of those runs has a ``*_tutorial`` twin
on the reference's tutorial corpus, which runs wherever that checkout is
present, as does the tutorial self-evaluation table."""

from __future__ import annotations

import pytest

from dere_spark.evaluation import adjusted_match_counts
from dere_spark.evaluation_legacy import (
    BIONLP_TARGET_CLASSES,
    legacy_event_scores,
    load_legacy_pairs,
    score_document,
)
from tests.conftest import MINI_TRAIN, REF_TRAIN, needs_reference

needs_tutorial = needs_reference(REF_TRAIN)

TEXT1 = "ABC phosphorylates DEF and GHI binds JKL."
A1_1 = (
    "T1\tProtein 0 3\tABC\n"
    "T2\tProtein 19 22\tDEF\n"
    "T3\tProtein 27 30\tGHI\n"
    "T4\tProtein 37 40\tJKL\n"
)
GOLD1 = (
    "T5\tPhosphorylation 4 18\tphosphorylates\n"
    "T6\tBinding 31 36\tbinds\n"
    "E1\tPhosphorylation:T5 Theme:T2\n"
    "E2\tBinding:T6 Theme:T3 Theme2:T4\n"
)


def _counts(scored, cl, kind):
    return scored[(cl, kind)]  # [n_gold, matched_gold, n_answer, matched_answer]


def test_perfect_answer_matches_everything():
    scored = score_document(TEXT1, A1_1, GOLD1, GOLD1, BIONLP_TARGET_CLASSES)
    assert _counts(scored, "Phosphorylation", "event") == [1, 1, 1, 1]
    assert _counts(scored, "Binding", "event") == [1, 1, 1, 1]
    assert _counts(scored, "Phosphorylation", "span") == [1, 1, 1, 1]
    assert _counts(scored, "Binding", "span") == [1, 1, 1, 1]


def test_theme2_normalizes_to_theme():
    # answer writes the second Binding arg as plain Theme — still equal,
    # because gold's Theme2 normalizes to Theme at parse
    answer = GOLD1.replace("Theme2:T4", "Theme:T4")
    scored = score_document(TEXT1, A1_1, GOLD1, answer, BIONLP_TARGET_CLASSES)
    assert _counts(scored, "Binding", "event") == [1, 1, 1, 1]


def test_arg_order_matters():
    # ordered-list comparison: swapping Binding's two Theme args breaks it
    answer = GOLD1.replace("Theme:T3 Theme2:T4", "Theme:T4 Theme2:T3")
    scored = score_document(TEXT1, A1_1, GOLD1, answer, BIONLP_TARGET_CLASSES)
    assert _counts(scored, "Binding", "event") == [1, 0, 1, 0]


def test_duplication_adjustment_events():
    # two distinct answer events (different triggers, same offsets) both
    # match the one gold: matched_answer 2 > matched_gold 1 -> the excess
    # is removed from BOTH matched_answer and n_answer
    answer = (
        "T5\tPhosphorylation 4 18\tphosphorylates\n"
        "T9\tPhosphorylation 4 18\tphosphorylates\n"
        "E1\tPhosphorylation:T5 Theme:T2\n"
        "E9\tPhosphorylation:T9 Theme:T2\n"
    )
    scored = score_document(TEXT1, A1_1, GOLD1, answer, BIONLP_TARGET_CLASSES)
    assert _counts(scored, "Phosphorylation", "event") == [1, 1, 1, 1]
    # span section: n_answer stays 2, matched_answer clamped to 1
    assert _counts(scored, "Phosphorylation", "span") == [1, 1, 2, 1]


def test_event_dedup_removes_exact_duplicates():
    # same trigger id AND same args -> the second event is removed before
    # matching (answer-side only), so n_answer is 1, not 2
    answer = (
        "T5\tPhosphorylation 4 18\tphosphorylates\n"
        "E1\tPhosphorylation:T5 Theme:T2\n"
        "E2\tPhosphorylation:T5 Theme:T2\n"
    )
    scored = score_document(TEXT1, A1_1, GOLD1, answer, BIONLP_TARGET_CLASSES)
    assert _counts(scored, "Phosphorylation", "event") == [1, 1, 1, 1]


def test_event_dedup_skip_order_keeps_later_adjacent_duplicate():
    # The reference's worklist pass removes during iteration, so CPython's
    # bare-index iterator SKIPS every other element: with no-E-arg events
    # E1..E5 the visit order is E1,E3,E5,E2,E4 (deRE_evaluation.py:113-138,
    # verified by simulation). Adjacent duplicates E2==E3 therefore keep
    # the LATER id E3 (visited first), and a parent event whose arg was
    # parsed as Theme:E3 (args are never re-canonicalized after dedup)
    # still resolves. File-order processing would keep E2, delete E3, and
    # silently fail the parent match.
    gold = (
        "T5\tPhosphorylation 4 18\tphosphorylates\n"
        "T7\tRegulation 4 18\tphosphorylates\n"
        "E1\tPhosphorylation:T5 Theme:T2\n"
        "E2\tRegulation:T7 Theme:E1\n"
    )
    answer = (
        "T5\tPhosphorylation 4 18\tphosphorylates\n"
        "T6\tBinding 31 36\tbinds\n"
        "T7\tRegulation 4 18\tphosphorylates\n"
        "T8\tGene_expression 4 18\tphosphorylates\n"
        "T9\tLocalization 31 36\tbinds\n"
        "E1\tBinding:T6 Theme:T3 Theme2:T4\n"
        "E2\tPhosphorylation:T5 Theme:T2\n"
        "E3\tPhosphorylation:T5 Theme:T2\n"
        "E4\tGene_expression:T8 Theme:T1\n"
        "E5\tLocalization:T9 Theme:T4\n"
        "E6\tRegulation:T7 Theme:E3\n"
    )
    scored = score_document(TEXT1, A1_1, gold, answer, BIONLP_TARGET_CLASSES)
    # one of the two duplicate Phosphorylation events was removed
    assert _counts(scored, "Phosphorylation", "event") == [1, 1, 1, 1]
    # the parent's Theme:E3 must still resolve — E3 is the surviving twin
    assert _counts(scored, "Regulation", "event") == [1, 1, 1, 1]


TEXT2 = "X controls phosphorylation of Y."
A1_2 = "T1\tProtein 0 1\tX\nT2\tProtein 30 31\tY\n"
GOLD2 = (
    "T3\tRegulation 2 10\tcontrols\n"
    "T4\tPhosphorylation 11 26\tphosphorylation\n"
    "E1\tPhosphorylation:T4 Theme:T2\n"
    "E2\tRegulation:T3 Theme:E1\n"
)


def test_recursive_event_equality():
    # answer renumbers everything; equality must recurse through the
    # frame-valued Theme
    answer = (
        "T8\tRegulation 2 10\tcontrols\n"
        "T9\tPhosphorylation 11 26\tphosphorylation\n"
        "E5\tRegulation:T8 Theme:E6\n"
        "E6\tPhosphorylation:T9 Theme:T2\n"
    )
    scored = score_document(TEXT2, A1_2, GOLD2, answer, BIONLP_TARGET_CLASSES)
    assert _counts(scored, "Regulation", "event") == [1, 1, 1, 1]
    assert _counts(scored, "Phosphorylation", "event") == [1, 1, 1, 1]


def test_recursive_mismatch_in_inner_event():
    # inner event wrong protein -> outer Regulation must fail too
    answer = (
        "T8\tRegulation 2 10\tcontrols\n"
        "T9\tPhosphorylation 11 26\tphosphorylation\n"
        "E5\tRegulation:T8 Theme:E6\n"
        "E6\tPhosphorylation:T9 Theme:T1\n"
    )
    scored = score_document(TEXT2, A1_2, GOLD2, answer, BIONLP_TARGET_CLASSES)
    assert _counts(scored, "Regulation", "event") == [1, 0, 1, 0]
    assert _counts(scored, "Phosphorylation", "event") == [1, 0, 1, 0]


def test_equiv_canonicalization():
    # gold declares T1 == T2; the answer fills Theme with T1 where gold
    # used T2 -> both canonicalize to the representative and match
    gold = (
        "*\tEquiv T2 T1\n"
        "T4\tPhosphorylation 11 26\tphosphorylation\n"
        "E1\tPhosphorylation:T4 Theme:T2\n"
    )
    answer = (
        "T4\tPhosphorylation 11 26\tphosphorylation\n"
        "E1\tPhosphorylation:T4 Theme:T1\n"
    )
    scored = score_document(TEXT2, A1_2, gold, answer, BIONLP_TARGET_CLASSES)
    assert _counts(scored, "Phosphorylation", "event") == [1, 1, 1, 1]


def test_modification_lines():
    gold = GOLD2 + "M1\tNegation E1\n"
    answer = (
        "T3\tRegulation 2 10\tcontrols\n"
        "T4\tPhosphorylation 11 26\tphosphorylation\n"
        "E7\tPhosphorylation:T4 Theme:T2\n"
        "E8\tRegulation:T3 Theme:E7\n"
        "M9\tNegation E7\n"
    )
    scored = score_document(TEXT2, A1_2, gold, answer, BIONLP_TARGET_CLASSES)
    assert _counts(scored, "Negation", "event") == [1, 1, 1, 1]


def test_soft_span_matching():
    text = "the controlling factor"
    a1 = ""
    gold = "T1\tRegulation 4 15\tcontrolling\nE1\tRegulation:T1\n"
    answer = "T2\tRegulation 4 11\tcontrol\nE2\tRegulation:T2\n"
    exact = score_document(text, a1, gold, answer, BIONLP_TARGET_CLASSES)
    assert _counts(exact, "Regulation", "event") == [1, 0, 1, 0]
    soft = score_document(
        text, a1, gold, answer, BIONLP_TARGET_CLASSES, soft_span=True
    )
    assert _counts(soft, "Regulation", "event") == [1, 1, 1, 1]


def test_soft_overlap_matching():
    text = "the controlling factor"
    gold = "T1\tRegulation 4 15\tcontrolling\nE1\tRegulation:T1\n"
    answer = "T2\tRegulation 10 22\tlling factor\nE2\tRegulation:T2\n"
    soft = score_document(
        text, "", gold, answer, BIONLP_TARGET_CLASSES, soft_overlap_span=True
    )
    assert _counts(soft, "Regulation", "event") == [1, 1, 1, 1]


def test_usage_variant_span_class_fallback():
    # E6: args referencing file-local T spans match by (class, offsets);
    # the bionlp variant rejects them (eq_class has no span fallback)
    text = "great product here"
    a1 = ""
    gold = (
        "T3\tEntity 6 13\tproduct\n"
        "T2\tpositive 0 5\tgreat\n"
        "E1\tpositive:T2 target:T3\n"
    )
    answer = (
        "T8\tEntity 6 13\tproduct\n"
        "T9\tpositive 0 5\tgreat\n"
        "E4\tpositive:T9 target:T8\n"
    )
    usage = score_document(
        text, a1, gold, answer, ["positive", "negative", "neutral"],
        theme_slot="target", span_class_fallback=True,
    )
    assert _counts(usage, "positive", "event") == [1, 1, 1, 1]
    bionlp_style = score_document(
        text, a1, gold, answer, ["positive"], theme_slot="target",
        span_class_fallback=False,
    )
    assert _counts(bionlp_style, "positive", "event") == [1, 0, 1, 0]


@needs_tutorial
def test_tutorial_self_evaluation(spark):
    """Gold vs gold over the reference tutorial corpus, full Spark
    surface. NOT all-perfect by design: the standard scorer's eq_class
    rejects args that reference a2-local Entity spans (ToLoc/AtLoc — only
    the usage variant has a span-class fallback), so Localization events
    never match themselves, and regulations/negations that recursively
    reference them fail too. These counts pin that reference behavior."""
    pairs = load_legacy_pairs(spark, REF_TRAIN, REF_TRAIN)
    rows = {
        (r["kind"], r["type_name"]): r
        for r in legacy_event_scores(pairs).collect()
        if r["n_gold"] or r["n_answer"]
    }
    expected_events = {
        "Binding": (1, 1, 1, 1),
        "Gene_expression": (20, 20, 20, 20),
        "Localization": (4, 0, 4, 0),
        "Negation": (5, 4, 5, 4),
        "Negative_regulation": (11, 10, 11, 10),
        "Phosphorylation": (3, 3, 3, 3),
        "Positive_regulation": (23, 19, 23, 19),
        "Protein_catabolism": (3, 3, 3, 3),
        "Regulation": (6, 5, 6, 5),
        "Speculation": (4, 4, 4, 4),
        "Transcription": (4, 4, 4, 4),
    }
    for cl, want in expected_events.items():
        r = rows[("event", cl)]
        assert (
            r["n_gold"], r["matched_gold"], r["n_answer"], r["matched_answer"]
        ) == want, r
    # span section is offsets-only: every gold span matches itself
    for (kind, cl), r in rows.items():
        if kind == "span":
            assert r["precision"] == pytest.approx(100.0), r
            assert r["recall"] == pytest.approx(100.0), r


def test_adjusted_match_counts_operator(spark):
    hypo = spark.createDataFrame(
        [("d1", "A", 0, 3), ("d1", "A", 0, 3), ("d1", "B", 5, 8), ("d1", "A", 9, 12)],
        "doc_id string, span_type string, left int, right int",
    )
    gold = spark.createDataFrame(
        [("d1", "A", 0, 3), ("d1", "B", 5, 8), ("d1", "B", 20, 24)],
        "doc_id string, span_type string, left int, right int",
    )
    rows = {
        r["type_name"]: r
        for r in adjusted_match_counts(
            hypo, gold, ["doc_id", "span_type", "left", "right"]
        ).collect()
    }
    # two duplicate A predictions match one gold A: adjustment clamps
    assert rows["A"]["n_answer"] == 3
    assert rows["A"]["matched_answer"] == 2
    assert rows["A"]["adj_matched_answer"] == 1
    assert rows["A"]["matched_gold"] == 1
    assert rows["B"]["adj_matched_answer"] == 1
    assert rows["B"]["n_gold"] == 2


def test_render_legacy_report_format(
    spark, train_dir=MINI_TRAIN, cells=("12 (12)", "12 (12)", "59 (59)")
):
    """``cells``: the Gene_expression span and event counts and the
    ALL-TOTAL event count, as printed. The fixture has no a2-local Entity
    arguments, so every event matches itself: ALL-TOTAL = SVT(34/34) +
    Binding(8/8) + REG(17/17) events."""
    from dere_spark.evaluation_legacy import render_legacy_report

    ge_span, ge_event, all_total = cells
    pairs = load_legacy_pairs(spark, train_dir, train_dir)
    txt = render_legacy_report(legacy_event_scores(pairs))
    lines = txt.splitlines()
    assert lines[0].startswith("Class")
    assert "-------------- SPAN EVALUATION ------------------" in txt
    assert "-------------- EVENT EVALUATION ------------------" in txt
    for marker in ("=[TOTAL]=", "=[SVT-TOTAL]=", "=[EVT-TOTAL]=",
                   "=[REG-TOTAL]=", "=[ALL-TOTAL]"):
        assert marker in txt, marker
    ge_lines = [l for l in lines if l.startswith("Gene_expression")]
    assert ge_lines[0].split("\t")[1].strip() == ge_span  # span section
    row = ge_lines[1].split("\t")  # event section
    assert row[1].strip() == ge_event
    assert row[3] == "100.0" and row[4] == "100.0" and row[5] == "100.0"
    allt = next(l for l in lines if l.startswith("=[ALL-TOTAL]"))
    assert allt.split("\t")[1].strip() == all_total


@needs_tutorial
def test_render_legacy_report_format_tutorial(spark):
    # ALL-TOTAL = SVT(34/30) + Binding(1/1) + REG(40/34) events: events
    # with a2-local Entity arguments do not match themselves
    test_render_legacy_report_format(
        spark, REF_TRAIN, cells=("19 (19)", "20 (20)", "75 (65)")
    )


def test_usage_report_event_total_label(spark, train_dir=MINI_TRAIN):
    """The usage scorer labels its event total '=[EVENT-TOTAL]=' where
    the bionlp scorer prints '=[ALL-TOTAL]' (deRE_evaluation_usage.py:990
    vs deRE_evaluation.py:1055) — byte compatibility means matching each
    variant's own label."""
    from dere_spark.evaluation_legacy import (
        legacy_event_scores,
        render_legacy_report,
    )

    pairs = load_legacy_pairs(spark, train_dir, train_dir)
    txt = render_legacy_report(
        legacy_event_scores(pairs, variant="usage"), variant="usage"
    )
    assert "=[EVENT-TOTAL]=" in txt
    assert "=[ALL-TOTAL]" not in txt
    assert "=[TOTAL]=" in txt  # the span section's label is shared


@needs_tutorial
def test_usage_report_event_total_label_tutorial(spark):
    test_usage_report_event_total_label(spark, REF_TRAIN)


def test_mixed_extension_hypothesis_dir(spark, tmp_path, src=MINI_TRAIN):
    """The reference CLI globs *.a2 AND *.ann together for hypotheses
    (deRE_evaluation.py:795); an either/or fallback would silently drop
    every .ann document from a mixed directory — and the scorer's inner
    join would then delete those docs' gold events from the totals."""
    import glob
    import os
    import shutil

    hypo = tmp_path / "hypo"
    hypo.mkdir()
    files = sorted(glob.glob(f"{src}/*.a2"))
    assert len(files) >= 2
    for i, f in enumerate(files):
        base = os.path.basename(f)
        dest = base if i % 2 == 0 else base[: -len(".a2")] + ".ann"
        shutil.copy(f, hypo / dest)
    mixed = load_legacy_pairs(spark, src, str(hypo))
    full = load_legacy_pairs(spark, src, src)
    assert mixed.count() == full.count()  # no doc dropped
    assert mixed.select("doc_id").exceptAll(full.select("doc_id")).count() == 0


@needs_tutorial
def test_mixed_extension_hypothesis_dir_tutorial(spark, tmp_path):
    test_mixed_extension_hypothesis_dir(spark, tmp_path, REF_TRAIN)
