"""Graph operators on plain DataFrames (no GraphFrames dependency).

`connected_components` generalizes the reference scorer's ``Equiv`` alias
closure (/root/reference/dere/evaluation/deRE_evaluation.py:92-99 — a
union-find over `Equiv T3 T4` lines) to web scale: iterative hash-min label
propagation over an edge list. Each round every node adopts the minimum
component id in its neighborhood; rounds needed = graph diameter (alias
groups and near-dup clusters are shallow, so typically 2-4).

Scale notes: the symmetric edge list is materialized once
(`localCheckpoint`), so the plan that produced the edges (for near-dup
clusters: scan, shingles, MinHash, LSH, Jaccard) runs once, not once per
round. Each round is one Spark action — a join of the edges to the
current labels, one shuffle (groupBy node) and a `localCheckpoint` that
truncates lineage; the labels it changed are counted by an `Observation`
on that same action, not by a second join and count. For power-law graphs
use `connected_components_star`; alias/near-dup graphs are tiny-diameter,
where plain hash-min is already optimal.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 20,
) -> DataFrame:
    """edges(src, dst) -> (node, component) with component = min node id
    (string-ordered) in the node's connected component.

    Deterministic: component ids are min() aggregates, independent of
    partitioning or row order.
    """
    # every round reads only the symmetric edge list: each edge row emits
    # both directions (a union would plan `edges` twice) and the list is
    # materialized once, so no round re-runs the plan behind `edges`
    both = F.array(
        F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
        F.struct(F.col(dst).alias("a"), F.col(src).alias("b")),
    )
    sym = (
        edges.select(F.explode(both).alias("_e"))
        .select("_e.a", "_e.b")
        .distinct()
        .localCheckpoint(eager=True)
    )
    # round 1 starts from the identity labelling: no label table to join.
    # `_old` is each node's previous label, carried through the union and
    # groupBy (max skips the neighbours' NULLs) so that the round's one job
    # also counts the labels it changed
    new_labels = (
        sym.groupBy("a")
        .agg(F.least(F.col("a"), F.min("b")).alias("component"))
        .select(F.col("a").alias("node"), "component", F.col("a").alias("_old"))
    )
    for _ in range(max_iterations):
        changed = Observation()
        labels = (
            new_labels.observe(
                changed,
                F.sum((F.col("component") != F.col("_old")).cast("long")).alias("n"),
            )
            .select("node", "component")
            .localCheckpoint(eager=True)
        )
        if not changed.get["n"]:
            return labels
        nbr = sym.join(labels.withColumnRenamed("node", "b"), "b").select(
            F.col("a").alias("node"), "component"
        )
        new_labels = (
            labels.withColumn("_old", F.col("component"))
            .unionByName(nbr, allowMissingColumns=True)
            .groupBy("node")
            .agg(F.min("component").alias("component"), F.max("_old").alias("_old"))
        )
    # exhausting the round budget mid-propagation would return labels
    # that split one true component into several — fail loudly ("no
    # silent caps"): the caller raises max_iterations, never guesses
    raise ValueError(
        f"connected_components did not converge within {max_iterations} "
        f"iterations (graph diameter exceeds the round budget); raise "
        f"max_iterations"
    )


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 30,
) -> DataFrame:
    """Alternating large-star / small-star connected components — the
    power-law-safe variant (published: Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14).

    Why it exists next to ``connected_components``: hash-min label
    propagation needs O(diameter) rounds and keeps every edge live each
    round — fine for shallow alias graphs, painful for long chains or
    power-law giants. Star operations contract the graph toward stars in
    O(log²ⁿ) rounds and shrink the live edge set as they go:

      * large-star: every node points its STRICTLY LARGER neighbors at
        the minimum of its neighborhood (including itself);
      * small-star: every node points its smaller-or-equal neighbors and
        itself at that minimum.

    Both are one groupBy + one join per round over a monotonically
    smaller edge list. Converged when the edge multiset is stable
    (checked with an order-independent xxhash64 checksum — no collect of
    edges). Output matches ``connected_components`` exactly: (node,
    component = min node id of the component) in the ids' NATIVE
    ordering and type — a string cast here would make numeric ids pick
    lexicographic minima ('10' < '2') and change the output type, silently
    diverging from the hash-min variant the docstring promises to match.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _checksum(df: DataFrame) -> int:
        row = df.agg(
            F.coalesce(
                F.sum(
                    F.xxhash64(F.least("u", "v"), F.greatest("u", "v")).cast(
                        "decimal(38,0)"
                    )
                ),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("h"),
            F.count(F.lit(1)).alias("n"),
        ).first()
        return (int(row["h"]), int(row["n"]))

    def large_star(df: DataFrame) -> DataFrame:
        nb = df.unionByName(df.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = nb.groupBy("u").agg(F.min("v").alias("_mn")).select(
            "u", F.least("_mn", F.col("u")).alias("m")
        )
        return (
            nb.join(m, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(df: DataFrame) -> DataFrame:
        # orient every edge large -> small, then point small neighbors
        # (and the center) at the neighborhood minimum
        nb = df.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        m = nb.groupBy("u").agg(F.min("v").alias("m"))
        pointed = nb.join(m, "u").select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
        centers = m.select(F.col("u"), F.col("m").alias("v"))
        return (
            pointed.unionByName(centers)
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    prev = None
    converged = False
    for _ in range(max_iterations):
        e = large_star(e).localCheckpoint(eager=True)
        e = small_star(e).localCheckpoint(eager=True)
        cur = _checksum(e)
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        raise ValueError(
            f"connected_components_star did not converge within "
            f"{max_iterations} rounds; raise max_iterations"
        )

    # converged: every edge is (node -> its component root)
    nodes = edges.select(F.col(src).alias("node")).unionByName(
        edges.select(F.col(dst).alias("node"))
    ).distinct()
    labels = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    return (
        nodes.join(labels, "node", "left")
        .select("node", F.coalesce("component", F.col("node")).alias("component"))
    )
