"""The near-duplicate stage computes each intermediate once: Jaccard
verification works on per-document shingle sets, and connected components
reads its edge list once and runs one Spark action per round."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from dere_spark.operators.dedup import jaccard_verify
from dere_spark.operators.graph import connected_components

SETS = {
    "a": {"x", "y", "z"},
    "b": {"x", "y", "z"},       # identical to a
    "c": {"p", "q"},
    "d": {"r", "s"},            # disjoint from c
    "e": {"x"},                 # a single shingle
    "g": {"x", "y", "w", "v"},
}
PAIRS = [
    ("a", "b"), ("c", "d"), ("a", "e"), ("a", "g"), ("a", "c"), ("e", "g"),
    ("a", "f"),                 # f has no shingle rows: the pair is dropped
]


def _pairs(spark, pairs):
    return spark.createDataFrame(pairs, "doc_a string, doc_b string")


def test_jaccard_verify_matches_bruteforce_sets(spark):
    rows = spark.createDataFrame(
        [(d, s) for d, ss in SETS.items() for s in ss], "doc_id string, shingle string"
    )
    out = jaccard_verify(_pairs(spark, PAIRS), rows).collect()
    got = {(a, b): j for a, b, j in out}
    assert len(got) == len(out)  # one row per pair
    want = {
        (a, b): len(SETS[a] & SETS[b]) / len(SETS[a] | SETS[b])
        for a, b in PAIRS
        if a in SETS and b in SETS
    }
    assert got == want  # exact: both sides divide the same two integers
    assert got[("a", "b")] == 1.0 and got[("c", "d")] == 0.0


def test_jaccard_verify_counts_repeated_rows_once(spark):
    """The shingle rows are read as one SET per document: a repeated
    (doc_id, shingle) row changes neither |A∩B| nor |A∪B|."""
    rows = spark.createDataFrame(
        [("a", "x"), ("a", "x"), ("a", "y"), ("b", "x"), ("b", "x")],
        "doc_id string, shingle string",
    )
    got = jaccard_verify(_pairs(spark, [("a", "b")]), rows).collect()
    assert [tuple(r) for r in got] == [("a", "b", 0.5)]


def test_connected_components_reads_edges_once(spark):
    """Every edge row is evaluated exactly once over all rounds: the
    symmetric edge list is built in one pass and materialized before the
    first round, so no round re-runs the plan that produced the edges."""
    acc = spark.sparkContext.accumulator(0)

    def tick(v):
        acc.add(1)
        return v

    raw = [(f"n{i}", f"n{i + 1}") for i in range(6)] + [("m0", "m1"), ("m1", "m0")]
    edges = spark.createDataFrame(raw, "src string, dst string").select(
        F.udf(tick, "string")("src").alias("src"), "dst"
    )
    labels = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert acc.value == len(raw)
    assert labels == {**{f"n{i}": "n0" for i in range(7)}, "m0": "m0", "m1": "m0"}


@pytest.mark.parametrize("diameter", [2, 5])
def test_connected_components_one_job_per_round(spark, diameter):
    """On a chain of diameter d the labels change for d rounds and a last
    round observes no change, so the run is d + 2 jobs: one for the edge
    list, one per round (the changed-label count is observed on the
    round's own job). AQE is off here because it submits every shuffle
    stage as a job of its own, which would count stages, not rounds."""
    sc = spark.sparkContext
    chain = spark.createDataFrame(
        [(f"n{i}", f"n{i + 1}") for i in range(diameter)], "src string, dst string"
    )
    group = f"cc_rounds_{diameter}"
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup(group, "connected_components job count")
    try:
        labels = connected_components(chain)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == diameter + 2
    assert {r["component"] for r in labels.collect()} == {"n0"}
