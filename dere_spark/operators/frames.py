"""Slot scoring + frame assembly.

The reference scores every candidate pair with a linear classifier, keeps
non-"Nothing" predictions, then builds one frame per anchor span and adds
each predicted filler to its slot (dere/models/_baseline/slot_classifier.py:139-196).
Cardinality violations are repaired by splitting over-filled frames
(slot_classifier.py:198-228).

Our deterministic scorer (the "model" of the webtext task — a trained
classifier drops into the same contract via a batched Arrow UDF over the
pair DataFrame, see operators/kernels.py) ranks fillers per
(anchor, slot) by closeness:

  * Theme-like slots: nearest filler STRICTLY AFTER the anchor
    (token_distance > 0), ranked by distance;
  * Manner-like slots: filler immediately BEFORE the anchor
    (token_distance == -1).

Ranking/pruning is a window row_number per (doc, anchor, slot) — fully
deterministic (total ordering incl. tie-breaks) so results are bit-stable
across parallelism levels, as the scaling criterion requires.

``enforce_cardinality`` then applies the compiled slot bounds: frames
missing a min-cardinality slot are dropped, fillers beyond max_cardinality
are pruned best-first — the scalable re-expression of the reference's
combinations/product splitter (bounds in shipped specs make the top-k
semantics equivalent for max_cardinality=1 slots).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from dere_spark.operators import sql_str
from dere_spark.plans.compiler import PlanSpec


def score_pairs(pairs: DataFrame) -> DataFrame:
    """Attach a deterministic plausibility score and keep scorable pairs.

    score = 1 / (1 + |token_distance|); direction rules encode the slot
    semantics (Theme: forward-looking; Manner: immediately preceding).
    """
    return pairs.withColumn(
        "score", F.expr("1.0D / (1.0D + abs(token_distance))")
    ).where(
        "(slot_name = 'Theme' AND token_distance > 0) "
        "OR (slot_name = 'Manner' AND token_distance = -1)"
    )


def best_fillers(scored: DataFrame) -> DataFrame:
    """Rank fillers per (doc, anchor, frame_type, slot) and keep rank-1..k.

    Deterministic total order: distance ASC, then filler_idx ASC — no
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


def assemble_frames(ranked: DataFrame, plan: PlanSpec) -> DataFrame:
    """Apply cardinality bounds and emit the slot-fill edge list.

    Output: frames in edge-list form —
    (doc_id, frame_id, frame_type, anchor_*, slot_name, filler_*, score).
    frame_id is the anchor's identity (doc-local token index), matching the
    reference's one-frame-per-anchor assembly (slot_classifier.py:180-196).

    Cardinality: per-slot max bound prunes by rank; frames lacking a
    min-required slot are dropped by per-frame window counts.
    """
    max_card = ", ".join(
        f"{sql_str(lab.predicate)}, "
        f"{lab.max_cardinality if lab.max_cardinality is not None else 1 << 30}"
        for lab in plan.relation_labels
    )
    fills = ranked.where(f"filler_rank <= map({max_card})[predicate]")

    required = [lab for lab in plan.relation_labels if (lab.min_cardinality or 0) > 0]
    if required:
        # Anchors must satisfy EVERY min-cardinality slot of their frame
        # type. Expressed as per-frame window counts rather than a
        # groupBy + semi-join: the window's ClusteredDistribution over
        # (doc_id, bucket, anchor_idx, frame_type) is already satisfied by
        # the corpus's doc_id hash partitioning, so this adds NO exchange
        # and never recomputes the fills subtree (a semi-join formulation
        # was benchmarked: it doubled the plan and added two shuffles).
        counts, conds = [], []
        for i, lab in enumerate(required):
            frame_type = sql_str(lab.frame_type)
            counts.append(
                f"sum(CASE WHEN slot_name = {sql_str(lab.slot_name)} AND frame_type = "
                f"{frame_type} THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id, bucket, "
                f"anchor_idx, frame_type) AS _req_{i}"
            )
            conds.append(f"(frame_type != {frame_type} OR _req_{i} >= {lab.min_cardinality})")
        # the _req_ columns fall away in the final projection
        fills = fills.selectExpr("*", *counts).where(" AND ".join(conds))

    return fills.selectExpr(
        "doc_id",
        "anchor_idx AS frame_id",
        "frame_type",
        "anchor_idx",
        "anchor_type",
        "anchor_left",
        "anchor_right",
        "anchor_text",
        "slot_name",
        "predicate",
        "filler_idx",
        "filler_type",
        "filler_left",
        "filler_right",
        "filler_text",
        "token_distance",
        "score",
        "'predicted' AS source",
    )
