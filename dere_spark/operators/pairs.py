"""Candidate (anchor, filler) pair generation — the J1 theta-join — and the
±k neighbourhood window it shares with frame assembly.

The reference enumerates ``product(instance.spans, instance.spans)`` and
keeps only pairs whose (anchor_type, filler_type) is plausible under the
schema (dere/models/_baseline/slot_classifier.py:347-383). Done naively at
web scale that is quadratic per page; we instead expand each span's
**token neighbourhood** in a single pass over one spans input:

  * ``neighbourhood``: a window ``PARTITION BY doc_id ORDER BY token_idx
    RANGE BETWEEN k PRECEDING AND k FOLLOWING`` collects, for every span,
    the spans within ±k tokens (k = the distance bound) into one array.
    ``candidate_pairs`` explodes it into (anchor, filler) rows, dropping
    self-pairs (same token); ``frames.frames_from_spans`` selects each
    slot's fillers inside it and never builds the pair rows. A document
    with n spans materializes O(n·k) pairs — the range frame IS the
    distance bound, so a giant page never builds O(n²) pairs.
  * the window's distribution (doc_id) is the one the corpus already has:
    ``load_documents`` hash-partitions on doc_id and the tokenizer windows
    keep it. The spans are read ONCE, with no join between two copies of
    them.
  * the compiled plausible-relations whitelist is a broadcast dimension
    joined right after the expansion, so implausible pairs die before they
    leave the stage (the reference's biggest pruner, kept as pushdown).
  * the anchor's ``bucket`` = floor(anchor_idx / k) stays an output
    column. It is a pure function of ``anchor_idx``; the ranking window of
    ``frames.best_fillers`` carries it in its partition key, which the
    doc_id partitioning still satisfies.

The pair rows serve the gates that read pairs (``kg_pairs``,
``kernel_pair_scores``, ``kg_gold_arc_join``, ``regex_class_rewrite``) and
a model that scores pairs through a Python kernel; the triples plan does
not contain them (operators/frames.py has the A/B).

Lost A/Bs, kept as numbers:

  * the banded self-join this replaced (filler side exploded to buckets
    {b-1, b, b+1}, equi-key (doc_id, bucket)) ran scan -> tokenize -> spans
    once per join side: 2 documents scans, 2 hash exchanges and a
    SortMergeJoin. Flagship noop-sink profile at sf0.1 on 4 cores: spans
    1.08 s -> pairs 1.86 s (+0.78 s, the largest increment besides
    tokenize).
  * a per-document sorted-array variant (``groupBy(doc_id)`` +
    ``array_sort(collect_list(...))``, ``posexplode`` for the anchors, then
    ``filter`` over a ``slice`` of ±k·m positions, m = the most span types
    on one token) measured 1.48 s against this window's 1.08 s (noop sink
    over persisted sf0.1 spans, 298k pairs, 4 cores, median of 6
    interleaved runs). It also needs an extra job to find m, and it holds
    a giant page's whole span array in one row, where the window's working
    set stays bounded by the ±k frame.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from dere_spark.operators import string_table
from dere_spark.plans.compiler import PlanSpec


def whitelist_df(spark: SparkSession, plan: PlanSpec) -> DataFrame:
    """Plausible-relations dimension:
    (anchor_type, filler_type, frame_type, slot_name, predicate)."""
    rows = []
    for (anchor_t, filler_t), labels in sorted(plan.plausible_relations.items()):
        for lab in labels:
            rows.append((anchor_t, filler_t, lab.frame_type, lab.slot_name, lab.predicate))
    return string_table(
        spark, ("anchor_type", "filler_type", "frame_type", "slot_name", "predicate"), rows
    )


def neighbourhood(spans: DataFrame, k: int) -> DataFrame:
    """Each span with ``_near``: every span of its document within ±k
    tokens (its own token included), as structs
    (token_idx, span_type, left, right, text).

    The one definition of the ±k frame: ``candidate_pairs`` explodes it
    and ``frames.frames_from_spans`` selects fillers inside it."""
    return spans.selectExpr(
        "doc_id",
        "token_idx",
        "span_type",
        "`left`",
        "`right`",
        "text",
        "collect_list(struct(token_idx, span_type, `left`, `right`, text)) OVER ("
        f"PARTITION BY doc_id ORDER BY token_idx RANGE BETWEEN {k} PRECEDING "
        f"AND {k} FOLLOWING) AS _near",
    )


def candidate_pairs(
    spans: DataFrame,
    whitelist: DataFrame,
    max_token_distance: int = 3,
) -> DataFrame:
    """Per-document ±k neighbourhood expansion of spans, whitelist-pruned.

    Output: one row per plausible (anchor, filler, relation-label) triple
    within the distance window, with signed token distance
    (filler_idx - anchor_idx, never 0 — a span can't fill its own anchor)
    and the anchor's ``bucket`` (= floor(anchor_idx / k); callers that
    expose pairs externally should drop it).
    """
    d = int(max_token_distance)
    k = max(1, d)
    expanded = neighbourhood(spans, k).selectExpr(
        "*",
        "explode(filter(_near, f -> f.token_idx != token_idx "
        f"AND abs(f.token_idx - token_idx) <= {d})) AS _f",
    )
    return expanded.join(
        F.broadcast(whitelist),
        F.expr("span_type = anchor_type AND _f.span_type = filler_type"),
        "inner",
    ).selectExpr(
        "doc_id",
        f"floor(token_idx / {k}) AS bucket",
        "token_idx AS anchor_idx",
        "span_type AS anchor_type",
        "`left` AS anchor_left",
        "`right` AS anchor_right",
        "text AS anchor_text",
        "_f.token_idx AS filler_idx",
        "_f.span_type AS filler_type",
        "_f.`left` AS filler_left",
        "_f.`right` AS filler_right",
        "_f.text AS filler_text",
        "frame_type",
        "slot_name",
        "predicate",
        "_f.token_idx - token_idx AS token_distance",
    )
