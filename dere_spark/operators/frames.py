"""Slot filling + frame assembly inside the ±k neighbourhood.

The reference scores every candidate pair with a linear classifier, keeps
non-"Nothing" predictions, then builds one frame per anchor span and adds
each predicted filler to its slot (dere/models/_baseline/slot_classifier.py:139-196).
Cardinality violations are repaired by splitting over-filled frames
(slot_classifier.py:198-228).

Our deterministic scorer (the "model" of the webtext task — a trained
classifier drops into the pair contract via a batched Arrow UDF over the
pair DataFrame, see operators/kernels.py) ranks fillers per
(anchor, slot) by closeness, under one direction rule per slot name
(``DIRECTION_RULES``):

  * Theme-like slots: nearest filler STRICTLY AFTER the anchor
    (token_distance > 0), ranked by distance;
  * Manner-like slots: filler immediately BEFORE the anchor
    (token_distance == -1).

``frames_from_spans`` builds the frames in the same ±k window pass that
``pairs.candidate_pairs`` uses (``pairs.neighbourhood``): for each anchor
span and each slot it filters the neighbours, sorts them by
(|distance|, filler_idx, filler span_type) — a total order, so the result
does not depend on the order of peers inside the window and is bit-stable
across parallelism levels — keeps the first max_cardinality, drops frames
that miss a min_cardinality slot, and explodes only the survivors. The
whitelist is compiled into the per-slot filter, so the pair rows, the
whitelist join and the ranking windows never exist. This is the scalable
re-expression of the reference's combinations/product splitter (bounds in
shipped specs make the top-k semantics equivalent for max_cardinality=1
slots).

Lost A/B, kept as numbers: the shape this replaced exploded every
whitelisted pair (``candidate_pairs``, 131k rows from 114k spans on
kg_dense), ranked them with a ``row_number`` window per
(doc, anchor, slot) and dropped frames with one window count per
min-cardinality slot; with the gazetteer and entity dictionary as
broadcast joins the triples plan held 4 BroadcastHashJoins, 6 Windows and
3 Sorts (now 0, 4 and 2), and a warm batch ran 6 Spark jobs (now 3).
On 4 vCPU (local[4], 8 shuffle partitions):

  * perfbench kg_dense ``--trace 0``, 10 interleaved pairs on seeds
    421-430: triples/s median 14,805 (q1 13,014, q3 16,308) against
    20,426 (q1 18,660, q3 22,022), won 10 of 10; peak RSS 1,968 ->
    1,338 MB.
  * ``extract_triples`` + ``write_triples`` on kg_dense seed 303, 10
    interleaved pairs: 2.35 s median (q1 2.13, q3 2.70) against 1.60 s
    (q1 1.46, q3 1.75). Frames alone gained less (2.35 -> 2.24 s), the
    inline dictionaries alone 2.35 -> 2.08 s: the gain comes from
    removing every broadcast.

``score_pairs`` + ``best_fillers`` rank the ``pairs`` stage the same way
for the ``regex_class_rewrite`` gate, which reports the filler rank.
"""

from __future__ import annotations

from typing import Dict, List

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from dere_spark.operators import sql_str
from dere_spark.operators.pairs import neighbourhood
from dere_spark.plans.compiler import PlanSpec, RelationLabel

#: Which neighbours a slot accepts, by signed token distance ``{d}``
#: (filler_idx - anchor_idx). A slot name without a rule takes no filler.
DIRECTION_RULES: Dict[str, str] = {"Theme": "{d} > 0", "Manner": "{d} = -1"}


def _direction(slot_name: str, distance: str) -> str:
    rule = DIRECTION_RULES.get(slot_name)
    return rule.format(d=distance) if rule else "false"


def score_pairs(pairs: DataFrame) -> DataFrame:
    """Attach a deterministic plausibility score and keep scorable pairs.

    score = 1 / (1 + |token_distance|); ``DIRECTION_RULES`` encode the
    slot semantics (Theme: forward-looking; Manner: immediately preceding).
    """
    rules = " OR ".join(
        f"(slot_name = {sql_str(slot)} AND {_direction(slot, 'token_distance')})"
        for slot in DIRECTION_RULES
    )
    return pairs.withColumn(
        "score", F.expr("1.0D / (1.0D + abs(token_distance))")
    ).where(rules)


def best_fillers(scored: DataFrame) -> DataFrame:
    """Rank fillers per (doc, anchor, frame_type, slot) as ``filler_rank``.

    Deterministic order: distance ASC, then filler_idx ASC — no
    physical-order dependence, so identical output at local[8] and
    local[32].
    """
    # "bucket" is functionally dependent on anchor_idx (floor(idx/k)), so
    # it changes nothing semantically in the partition key; the doc_id
    # hash partitioning the pairs arrive with satisfies the window's
    # distribution either way, so the window adds no exchange.
    return scored.withColumn(
        "filler_rank",
        F.expr(
            "row_number() OVER (PARTITION BY doc_id, bucket, anchor_idx, frame_type, "
            "slot_name ORDER BY abs(token_distance) ASC, filler_idx ASC)"
        ),
    )


def frames_from_spans(
    spans: DataFrame, plan: PlanSpec, max_token_distance: int = 3
) -> DataFrame:
    """spans -> frames in edge-list form, one ±k window pass.

    Output: (doc_id, frame_id, frame_type, anchor_*, slot_name, predicate,
    filler_*, token_distance, score, source). A frame is one anchor span
    (a span whose type anchors some frame type) and frame_id is its
    doc-local token index, matching the reference's one-frame-per-anchor
    assembly (slot_classifier.py:180-196).

    For each relation label (frame_type, slot) the slot is
    ``slice(sort_array(filter(_near, <plausible filler types> AND
    <direction rule> AND 0 < |d| <= k)), 1, max_cardinality)``; the sort
    key of each neighbour is (|d|, filler_idx, span_type, ...). A frame
    whose slot holds fewer than min_cardinality fillers is dropped; the
    fillers that remain are exploded with score = 1 / (1 + |d|).
    """
    d = int(max_token_distance)
    k = max(1, d)
    distance = "f.token_idx - token_idx"
    # label -> anchor type -> plausible filler types
    fillers: Dict[RelationLabel, Dict[str, List[str]]] = {}
    for (anchor_t, filler_t), labels in sorted(plan.plausible_relations.items()):
        for lab in labels:
            fillers.setdefault(lab, {}).setdefault(anchor_t, []).append(filler_t)
    anchor_types = sorted({a for a, _ in plan.plausible_relations})

    slots, by_frame = [], {}
    for i, lab in enumerate(plan.relation_labels):
        types = " OR ".join(
            f"(span_type = {sql_str(a)} AND f.span_type IN ({', '.join(map(sql_str, ts))}))"
            for a, ts in sorted(fillers.get(lab, {}).items())
        ) or "false"
        near = (
            f"sort_array(transform(filter(_near, f -> ({types}) AND "
            f"{_direction(lab.slot_name, distance)} AND abs({distance}) BETWEEN 1 AND {d}), "
            f"f -> struct(abs({distance}) AS _ad, f)))"
        )
        if lab.max_cardinality is not None:
            near = f"slice({near}, 1, {lab.max_cardinality})"
        slots.append(f"{near} AS _s{i}")
        by_frame.setdefault(lab.frame_type, []).append((i, lab))

    fills = []
    for frame_type, labs in by_frame.items():
        ok = " AND ".join(
            f"size(_s{i}) >= {lab.min_cardinality}"
            for i, lab in labs if (lab.min_cardinality or 0) > 0
        ) or "true"
        filled = ", ".join(
            f"transform(_s{i}, x -> struct(doc_id, token_idx AS frame_id, "
            f"{sql_str(frame_type)} AS frame_type, token_idx AS anchor_idx, "
            "span_type AS anchor_type, `left` AS anchor_left, `right` AS anchor_right, "
            f"text AS anchor_text, {sql_str(lab.slot_name)} AS slot_name, "
            f"{sql_str(lab.predicate)} AS predicate, x.f.token_idx AS filler_idx, "
            "x.f.span_type AS filler_type, x.f.`left` AS filler_left, "
            "x.f.`right` AS filler_right, x.f.text AS filler_text, "
            "x.f.token_idx - token_idx AS token_distance, "
            "1.0D / (1.0D + x._ad) AS score, 'predicted' AS source))"
            for i, lab in labs
        )
        fills.append(f"IF({ok}, concat({filled}), array())")

    return (
        neighbourhood(spans, k)
        .where(f"span_type IN ({', '.join(map(sql_str, anchor_types))})")
        .selectExpr("doc_id", "token_idx", "span_type", "`left`", "`right`", "text", *slots)
        .selectExpr(f"inline(concat({', '.join(fills)}))")
    )
