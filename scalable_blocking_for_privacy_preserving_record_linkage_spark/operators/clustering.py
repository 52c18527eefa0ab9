"""Transitive closure of match pairs into entity clusters.

The reference stops at pairs (Simulator.java:60-72 consumes counts only);
the north star requires entity CLUSTERS via iterative hash-join connected
components. We implement min-label propagation over the bipartite match
graph — each iteration is one shuffled self-join; components of a record
linkage graph are tiny (bounded by duplicate multiplicity), so convergence
is a handful of rounds. ``localCheckpoint`` truncates lineage each round so
the plan does not grow (the standard Spark iterative-algorithm pattern).
A graph that has not converged after ``max_iterations`` rounds raises
instead of returning a split labelling.

Node ids are namespaced ``"A:<id>"`` / ``"B:<id>"`` — the two parties are
distinct id spaces (equal raw ids across parties is ground TRUTH, not
identity, Simulator.java:62).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    matches: DataFrame, max_iterations: int = 20, check_every: int = 2
) -> DataFrame:
    """(record1, record2) -> (node, component) with component = min node id.

    record1 is an Alice id, record2 a Bob id.

    Job economy (at tiny per-iteration data, fixed job overhead dominates
    e2e wall time): every checkpoint is LAZY — materialized by the next
    convergence count — and the convergence check (the only action) runs
    every ``check_every`` rounds, so two propagation rounds ride one job.
    Linkage components are shallow (bounded by duplicate multiplicity), so
    the extra no-op round after convergence is a cheap narrow join.
    """
    edges = matches.select(
        F.concat(F.lit("A:"), F.col("record1")).alias("u"),
        F.concat(F.lit("B:"), F.col("record2")).alias("v"),
    )
    return _min_label_propagation(edges, max_iterations, check_every)


def connected_components_edges(
    pairs: DataFrame,
    id1: str = "id1",
    id2: str = "id2",
    max_iterations: int = 20,
    check_every: int = 2,
) -> DataFrame:
    """Unipartite variant over (id1, id2) edges in ONE id space (near-dup
    graphs: MinHash/SimHash pairs). Node ids keep their input type, so a
    bigint doc_id graph gets NUMERIC min-labels (a string cast would make
    "10" < "2" and silently change the canonical representative)."""
    edges = pairs.select(F.col(id1).alias("u"), F.col(id2).alias("v"))
    return _min_label_propagation(edges, max_iterations, check_every)


def _min_label_propagation(
    edges: DataFrame, max_iterations: int, check_every: int
) -> DataFrame:
    """Shared iterative min-label loop over directed edges (u, v); the
    symmetric closure is built here."""
    adj = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    adj = adj.dropDuplicates(["u", "v"]).localCheckpoint(eager=False)

    labels = (
        adj.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=False)
    )

    prev_checked = labels
    changed = None
    for it in range(1, max_iterations + 1):
        # candidate label for each node: min over (own label, neighbors' labels)
        neighbor_labels = (
            adj.join(labels.withColumnRenamed("node", "v"), "v")
            .select(F.col("u").alias("node"), "component")
        )
        new_labels = (
            labels.unionByName(neighbor_labels)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=False)
        )
        labels = new_labels
        if it % check_every == 0 or it == max_iterations:
            changed = (
                new_labels.alias("n")
                .join(prev_checked.alias("o"), "node")
                .where(F.col("n.component") != F.col("o.component"))
                .count()
            )
            prev_checked = new_labels
            if changed == 0:
                return labels
    # labels travel one hop per round: a component whose diameter exceeds
    # the round budget is still split, and returning it would silently
    # report wrong clusters
    raise RuntimeError(
        f"connected components did not converge in {max_iterations} rounds "
        f"({changed} labels still changing); the match graph has a path "
        "longer than the round budget"
    )


def clusters_table(components: DataFrame) -> DataFrame:
    """(node, component) -> (component, members sorted, size)."""
    return components.groupBy("component").agg(
        F.array_sort(F.collect_list("node")).alias("members"),
        F.count(F.lit(1)).alias("size"),
    )
