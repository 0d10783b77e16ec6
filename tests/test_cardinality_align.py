"""M6 cardinality splitter and the legacy scorer's E5 expand_span —
reference-parity unit tests."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from dere_spark.operators.cardinality import split_overfilled_frames
from dere_spark.plans.compiler import compile_plan
from dere_spark.taskspec import load_task_spec
from dere_spark.webtext import SPEC_PATH
from tests.conftest import MINI_SPEC, REF_SPEC, needs_reference


@pytest.fixture(scope="module")
def plan():
    return compile_plan(load_task_spec(SPEC_PATH))


def _fills(spark, rows):
    return spark.createDataFrame(
        rows,
        "doc_id string, frame_id long, frame_type string, slot_name string, filler_id long",
    )


def test_split_overfilled_theme(spark, plan):
    # Operation.Theme has max_cardinality 1; two Theme fillers -> 2 variants
    rows = [
        ("d", 1, "Operation", "Operation", 100),
        ("d", 1, "Operation", "Theme", 10),
        ("d", 1, "Operation", "Theme", 20),
    ]
    out = split_overfilled_frames(_fills(spark, rows), plan).collect()
    variants = {}
    for r in out:
        variants.setdefault(r["variant"], set()).add((r["slot_name"], r["filler_id"]))
    assert len(variants) == 2
    # each variant keeps the anchor and exactly one Theme (combinations order:
    # fillers sorted -> variant 0 takes 10, variant 1 takes 20)
    assert variants[0] == {("Operation", 100), ("Theme", 10)}
    assert variants[1] == {("Operation", 100), ("Theme", 20)}
    assert all(not r["truncated"] for r in out)


def test_split_respects_min_cardinality(spark, plan):
    # a frame with no Theme fill at all: Theme min_cardinality=1 is only
    # violated when the slot is PRESENT but short — absent slots pass
    # through (the reference iterates slots of the frame object; the
    # edge-list form only sees filled slots). Manner (min 0) optional.
    rows = [
        ("d", 2, "Operation", "Operation", 100),
        ("d", 2, "Operation", "Manner", 30),
    ]
    out = split_overfilled_frames(_fills(spark, rows), plan).collect()
    assert len(out) == 2  # single variant: anchor + manner


def test_split_unbounded_slot_keeps_all(spark, spec_path=MINI_SPEC):
    # Binding.Theme in the mini BioNLP spec has no cardinality attribute,
    # so both bounds are unbounded -> one variant containing every filler
    plan = compile_plan(load_task_spec(spec_path))
    rows = [
        ("d", 3, "Binding", "Binding", 100),
        ("d", 3, "Binding", "Theme", 1),
        ("d", 3, "Binding", "Theme", 2),
        ("d", 3, "Binding", "Theme", 3),
    ]
    out = split_overfilled_frames(_fills(spark, rows), plan).collect()
    assert {r["variant"] for r in out} == {0}
    themes = {r["filler_id"] for r in out if r["slot_name"] == "Theme"}
    assert themes == {1, 2, 3}


@needs_reference(REF_SPEC)
def test_split_unbounded_slot_keeps_all_reference(spark):
    # the reference spec's Binding.Theme: min 0, max unbounded
    test_split_unbounded_slot_keeps_all(spark, REF_SPEC)


def test_expand_span_bounds_reference_semantics():
    from dere_spark.evaluation_legacy import _expand_span

    #       0123456789012345678901
    text = "the overexpression ok"
    # gold span 'express' [8,15) inside 'overexpression' [4,18):
    # left scan from 6 walks to the space at 3 -> 4; right from 17 walks to
    # the space at 18 -> 18
    assert _expand_span(8, 15, text, set()) == (4, 18)
    # span at text start: clamps at 0
    assert _expand_span(1, 3, "abcdef gh", set()) == (0, 6)
    # the reference jumps 2 chars FIRST, skipping past nearer boundaries
    # (beg-2 lands on 'a' at 0, scans left, clamps; end+2 passes the space)
    assert _expand_span(2, 4, "a bc d", set()) == (0, 6)
    # a marked (trigger/given) position stops the scan like a boundary
    assert _expand_span(8, 15, text, {5, 16}) == (6, 16)
