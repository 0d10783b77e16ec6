"""Triple materialization + entity linking.

Flattens assembled frames into (subj, pred, obj) triples — the north-rule
graph payload: a frame with anchor A and slot S filled by F becomes the
triple (entity(A), frame_type.S, entity(F)) with provenance (doc_id,
frame_id) and the scorer's confidence.

Entity linking is a broadcast-dictionary join: the high-frequency head of
the mention distribution resolves through a small broadcast dimension
(surface form -> canonical entity id); unresolved mentions fall back to a
deterministic surface-derived id. This generalizes the reference scorer's
``Equiv`` alias closure (dere/evaluation/deRE_evaluation.py:92-99) — full
MinHash-LSH + connected-components canonicalization for the tail lives in
operators/canonicalize.py.

Skew note: entity keys in web corpora are Zipfian; the link join keeps the
big side shuffle-free (broadcast), and downstream groupBys on entity ids
rely on AQE skew handling plus optional salting (operators/skew.py).
"""

from __future__ import annotations

from typing import Mapping, Optional

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from dere_spark.operators import string_table


def entity_dictionary(
    spark: SparkSession, aliases: Optional[Mapping[str, str]] = None
) -> DataFrame:
    """Tiny dimension (surface -> entity_id); broadcast at the link join."""
    return string_table(
        spark, ("surface", "entity_id"), sorted(kv for kv in (aliases or {}).items() if kv[0])
    )


def frames_to_triples(frames: DataFrame, dictionary: DataFrame) -> DataFrame:
    """frames edge-list -> triples(subj, pred, obj, doc_id, frame_id, confidence).

    Both mentions are linked through the broadcast dictionary (left joins
    on the lowercased surface); an unresolved mention falls back to
    ``ent:<lowercased surface>`` — stable, collision-free within the
    surface vocabulary, and computable without any shuffle.
    """
    subj = dictionary.selectExpr("surface AS _subj_surface", "entity_id AS _subj_id")
    obj = dictionary.selectExpr("surface AS _obj_surface", "entity_id AS _obj_id")
    return (
        frames.join(F.broadcast(subj), F.expr("lower(anchor_text) = _subj_surface"), "left")
        .join(F.broadcast(obj), F.expr("lower(filler_text) = _obj_surface"), "left")
        .selectExpr(
            "coalesce(_subj_id, concat('ent:', lower(anchor_text))) AS subj",
            "predicate AS pred",
            "coalesce(_obj_id, concat('ent:', lower(filler_text))) AS obj",
            "doc_id",
            "frame_id",
            "score AS confidence",
        )
    )


def write_triples(triples: DataFrame, path: str, partitions: int = 0) -> None:
    """Materialize the graph table, partitioned by predicate.

    On a cluster this is an Iceberg ``writeTo(...).partitionedBy("pred",
    bucket(N, "subj"))``; the sandbox writes partitioned parquet with the
    same layout so partition pruning on pred works identically.
    """
    out = triples
    if partitions:
        out = out.repartition(partitions, "pred", "subj")
    out.write.mode("overwrite").partitionBy("pred").parquet(path)
