"""End-to-end BioNLP extraction through the generic engine: the
reference's own task (schema + BRAT corpus) run with induced gazetteer
triggers and the nearest-Theme scorer, scored by our evaluator.

These floors assert the MACHINERY (schema compilation, trigger detection,
candidate generation, frame assembly, evaluation) — not model quality; a
learned kernel slots into detect/score to raise them. The floors are
tutorial-corpus numbers, so they run only where the reference checkout is
present; the gazetteer check runs on tests/fixtures/bionlp_mini, with a
``*_tutorial`` twin on the tutorial corpus."""

from __future__ import annotations

import glob
import os

import pytest

from dere_spark.bionlp import (
    gazetteer_flat,
    induce_trigger_gazetteer,
    run_bionlp_eval,
)
from dere_spark.sources.brat import load_brat
from dere_spark.taskspec import load_task_spec
from tests.conftest import MINI_SPEC, MINI_TRAIN, REF_SPEC, REF_TRAIN, needs_reference

needs_tutorial = needs_reference(REF_SPEC, REF_TRAIN)


@pytest.fixture(scope="module")
def result(spark):
    return run_bionlp_eval(spark, REF_TRAIN, REF_TRAIN, gazetteer_flat)


@needs_tutorial
def test_trigger_span_recall_floor(result):
    # gazetteer induced from gold must recall most gold triggers
    assert result.recall("span") >= 0.8, "\n" + result.report()


@needs_tutorial
def test_frame_extraction_produces_true_positives(result):
    tp_frames = sum(v[0] for (k, _), v in result.counts.items() if k == "frame")
    assert tp_frames >= 15, "\n" + result.report()
    # every frame type got predictions (answer column nonzero)
    answered = {
        t for (k, t), (tp, fp, fn) in result.counts.items() if k == "frame" and tp + fp > 0
    }
    assert len(answered) >= 8


def _induce_twice(spark, spec_path, train_dir):
    """The gazetteer induced twice from one load: identical both times,
    and only predict=True types are induced (Protein is given)."""
    train = load_brat(spark, train_dir, load_task_spec(spec_path))
    g1 = sorted(map(tuple, induce_trigger_gazetteer(train).collect()))
    g2 = sorted(map(tuple, induce_trigger_gazetteer(train).collect()))
    assert g1 == g2
    assert all(t != "Protein" for _, t in g1)
    return g1


def test_gazetteer_is_deterministic(spark):
    g = _induce_twice(spark, MINI_SPEC, MINI_TRAIN)
    # one row per lowercased gold trigger surface (.a2 T lines; the
    # fixture has no surface under two types, so none is collapsed)
    surfaces = {
        line.split("\t")[2].lower()
        for path in glob.glob(os.path.join(MINI_TRAIN, "*.a2"))
        for line in open(path).read().splitlines()
        if line.startswith("T")
    }
    assert [t for t, _ in g] == sorted(surfaces)


@needs_tutorial
def test_gazetteer_is_deterministic_tutorial(spark):
    assert len(_induce_twice(spark, REF_SPEC, REF_TRAIN)) > 30


@needs_tutorial
def test_nested_extraction_beats_flat(spark, result):
    from dere_spark.bionlp import gazetteer_nested

    nested = run_bionlp_eval(spark, REF_TRAIN, REF_TRAIN, gazetteer_nested)
    # recursive-frame prediction must beat span-Theme-only extraction
    assert nested.fscore("frame") > result.fscore("frame"), (
        f"nested {nested.fscore('frame'):.4f} <= flat {result.fscore('frame'):.4f}"
    )
    # and produce genuinely nested structures: frame-kind Theme fills exist
    # (checked indirectly: nested recall above the span-only limit for
    # regulation types requires frame fillers to have matched)


@pytest.mark.slow  # ~3 min: full two-stage training on the tutorial corpus
@needs_tutorial
def test_learned_nested_hits_quality_gate(spark):
    """r2 quality target (VERDICT r1 next-step #4): the two-stage learned
    nested extractor reaches frame F1 >= 0.40 on tutorial/train — vs the
    0.4444 span-only ceiling and 0.25 for the heuristic nested path."""
    from dere_spark.bionlp import learned_nested

    r = run_bionlp_eval(spark, REF_TRAIN, REF_TRAIN, learned_nested)
    assert r.fscore("frame") >= 0.40, r.fscore("frame")
    assert r.fscore("span") >= 0.78, r.fscore("span")


def test_trigger_detection_trims_punctuation(spark):
    """Detection matches punctuation-trimmed token cores
    (instance_core_tokens): a trigger abutting punctuation
    ('degradation.') still matches its gazetteer term and carries offsets
    that exclude the punctuation."""
    from dere_spark.bionlp import detect_triggers

    train = {
        "spans": spark.createDataFrame(
            [("t1", 0, "T1", "Protein_catabolism", 6, 17, "degradation",
              "degradation", "gold", 1, 1)],
            "doc_id string, instance_idx int, tag string, span_type string, "
            "left int, right int, span_text string, text string, source string, "
            "file_index int, line_no int",
        ),
    }
    corpus = {
        "instances": spark.createDataFrame(
            [("d1", 0, "protein (degradation. occur", 0, 28)],
            "doc_id string, instance_idx int, text string, i_start int, i_end int",
        ),
    }
    hits = detect_triggers(corpus, induce_trigger_gazetteer(train)).collect()
    assert len(hits) == 1
    h = hits[0]
    # offsets cover the trimmed core 'degradation', not '(' or the dot
    assert (h["left"], h["right"], h["text"]) == (9, 20, "degradation")
    assert h["span_type"] == "Protein_catabolism"


def test_trigger_stats_denominator_ab_flag(spark):
    """The trigger_stats denominator A/B (numbers in its docstring) kept
    RAW tokens: 'degradation.' is a different raw token, so a
    punctuation-adjacent occurrence does not dilute trig_prec (trimmed
    cores would count 2 occurrences and give 0.5)."""
    from dere_spark.bionlp import trigger_stats

    train = {
        "instances": spark.createDataFrame(
            [("t1", 0, "rapid degradation of IkB causes degradation.", 0, 45)],
            "doc_id string, instance_idx int, text string, i_start int, i_end int",
        ),
        "spans": spark.createDataFrame(
            [("t1", 0, 6, 17, "Negative_regulation", "degradation", "gold")],
            "doc_id string, instance_idx int, left int, right int, "
            "span_type string, text string, source string",
        ),
    }
    raw = {r["term"]: r["trig_prec"] for r in trigger_stats(train).collect()}
    assert raw["degradation"] == 1.0  # 1 gold / 1 raw occurrence
