"""Triple materialization + entity linking.

Flattens assembled frames into (subj, pred, obj) triples — the north-rule
graph payload: a frame with anchor A and slot S filled by F becomes the
triple (entity(A), frame_type.S, entity(F)) with provenance (doc_id,
frame_id) and the scorer's confidence.

Entity linking is an inline dictionary lookup: the high-frequency head of
the mention distribution resolves through a constant
``map(surface -> canonical entity id)`` in the triples projection;
unresolved mentions fall back to a deterministic surface-derived id. This
generalizes the reference scorer's ``Equiv`` alias closure
(dere/evaluation/deRE_evaluation.py:92-99) — full MinHash-LSH +
connected-components canonicalization for the tail lives in
operators/dedup.py. The dictionary used to be a broadcast dimension
joined twice (subject and object); the map needs no join and no
broadcast job (numbers in operators/spans.py).

Skew note: entity keys in web corpora are Zipfian; the lookup keeps the
big side shuffle-free, and downstream groupBys on entity ids rely on AQE
skew handling plus optional salting (operators/skew.py).
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import DataFrame

from dere_spark.operators import sql_str


def frames_to_triples(frames: DataFrame, aliases: Mapping[str, str]) -> DataFrame:
    """frames edge-list -> triples(subj, pred, obj, doc_id, frame_id, confidence).

    Both mentions look up their lowercased surface in ``aliases``
    (surface -> entity id; an empty surface is ignored); an unresolved
    mention falls back to ``ent:<lowercased surface>`` — stable,
    collision-free within the surface vocabulary, and computable without
    any shuffle.
    """
    entries = ", ".join(
        f"{sql_str(surface)}, {sql_str(entity)}"
        for surface, entity in sorted(aliases.items()) if surface
    )
    lookup = f"CAST(map({entries}) AS MAP<STRING, STRING>)"
    return frames.selectExpr(
        f"coalesce(element_at({lookup}, lower(anchor_text)), "
        "concat('ent:', lower(anchor_text))) AS subj",
        "predicate AS pred",
        f"coalesce(element_at({lookup}, lower(filler_text)), "
        "concat('ent:', lower(filler_text))) AS obj",
        "doc_id",
        "frame_id",
        "score AS confidence",
    )


def write_triples(triples: DataFrame, path: str) -> None:
    """Materialize the graph table, partitioned by predicate.

    On a cluster this is an Iceberg ``writeTo(...).partitionedBy("pred",
    bucket(N, "subj"))``; the sandbox writes partitioned parquet with the
    same layout so partition pruning on pred works identically.

    The rows are rebalanced on ``pred`` first, so AQE sizes the files:
    predicates small enough to share a task coalesce to one file each,
    and a predicate bigger than
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` is split over
    several. Without it every task of the extraction's doc_id
    partitioning opens one file per predicate it holds, and on a small
    batch the parquet footers and dictionaries outweigh the rows
    (crawl_refresh: 23.1 B per triple in 16 files; 8.8 B in 2
    rebalanced). The rebalance costs one shuffle-map job.
    """
    triples.hint("rebalance", "pred").write.mode("overwrite").partitionBy("pred").parquet(path)
