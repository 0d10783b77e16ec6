"""Compile a TaskSpecification into a PlanSpec — the driver-side object the
DataFrame pipeline is parameterized by.

The reference derives three things from the schema at model-build time and
we derive the same three at plan-compile time:

  * the relation label space ``{Nothing} ∪ {(frame_type, slot_type)}`` over
    span-fillable slots (reference: dere/models/_baseline/slot_classifier.py:64-86);
  * the plausible-relations whitelist: the set of
    ``(anchor_span_type, filler_span_type) -> [(frame_type, slot_name)]``
    pairs that can ever hold, used to prune candidate pairs right after
    the per-document neighbourhood expansion (reference:
    slot_classifier.py:170-178, 347-383) — this is the single biggest
    work-saver at scale and we push it into the pair stage;
  * anchor slots: the first slot of each frame type
    (reference: slot_classifier.py:273-275).

Everything here is tiny driver-side metadata; it is compiled into DataFrame
plans as literal columns / broadcast dicts, never shipped as row data.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Dict, FrozenSet, List, Optional, Tuple

from dere_spark.taskspec import FrameType, SlotType, SpanType, TaskSpecification


@dataclass(frozen=True)
class RelationLabel:
    """One predictable relation: anchor of `frame_type` has `slot_name`
    filled by a span. Label string is ``frame_type.slot_name`` — this is the
    predicate of the emitted triple."""

    frame_type: str
    slot_name: str
    min_cardinality: Optional[int]
    max_cardinality: Optional[int]

    @property
    def predicate(self) -> str:
        return f"{self.frame_type}.{self.slot_name}"


@dataclass(frozen=True)
class PlanSpec:
    task_spec: TaskSpecification
    # (anchor_span_type, filler_span_type) -> list of relation labels
    plausible_relations: Dict[Tuple[str, str], Tuple[RelationLabel, ...]]
    # frame_type name -> anchor span type name
    anchor_span_types: Dict[str, str]
    # every relation label (the classifier label space minus 'Nothing')
    relation_labels: Tuple[RelationLabel, ...] = field(default_factory=tuple)

    @property
    def plausible_type_pairs(self) -> FrozenSet[Tuple[str, str]]:
        return frozenset(self.plausible_relations.keys())


def compile_plan(spec: TaskSpecification) -> PlanSpec:
    """Derive the relation label space and the candidate-pair whitelist.

    For each frame type: the anchor is slot #0 (must be span-typed); every
    OTHER slot contributes one RelationLabel per span type in its union
    ``types`` (frame-typed fillers are handled by the recursive flatten at
    triple-emission, not by the pair classifier — mirroring the reference,
    which only predicts span-filled slots, slot_classifier.py:70-82).
    """
    plausible: Dict[Tuple[str, str], List[RelationLabel]] = {}
    anchors: Dict[str, str] = {}
    labels: List[RelationLabel] = []

    for ft in spec.frame_types:
        if not ft.slot_types:
            continue
        anchor = ft.anchor_slot
        anchor_span_types = [t for t in anchor.types if isinstance(t, SpanType)]
        if not anchor_span_types:
            continue  # frame not lexically anchored — nothing to detect
        anchors[ft.name] = anchor_span_types[0].name
        for slot in ft.slot_types[1:]:
            label = RelationLabel(ft.name, slot.name, slot.min_cardinality, slot.max_cardinality)
            labels.append(label)
            for filler_type in slot.types:
                if not isinstance(filler_type, SpanType):
                    continue
                for ast in anchor_span_types:
                    plausible.setdefault((ast.name, filler_type.name), []).append(label)

    return PlanSpec(
        task_spec=spec,
        plausible_relations={k: tuple(v) for k, v in plausible.items()},
        anchor_span_types=anchors,
        relation_labels=tuple(labels),
    )
