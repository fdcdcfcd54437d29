"""Connected components over near-dup pair edges: cluster assignment for
corpus deduplication.

After candidate generation + verification (MinHash-LSH / SimHash /
exact Jaccard) the pair set (id_a, id_b) must become CLUSTERS so one
canonical document survives per group (reference analogue: the merge
dedup keeps one row per key, Step 1:184-190; here the "key" is the
transitive near-dup closure).

The algorithm is hash-min label propagation (the standard MapReduce /
Pregel formulation of connected components): every vertex starts
labeled with its own id; each round every vertex takes the min label
among itself and its neighbors; converged when no label changes.

Scale notes (100 TB corpus):
- Each round is one shuffle of the edge list joined to the current
  labels — O(|E|) per round, no driver-side graph state. Labels and
  edges stay DataFrames throughout.
- Near-dup graphs have tiny diameter (clusters are quasi-cliques), so
  rounds-to-converge is ~1-3, not O(n). ``max_iter`` only backstops
  adversarial chains.
- Labels are SEEDED with min(own id, min neighbor id) during the initial
  vertex pass — the seed join over the edge list costs the same shuffle
  the old identity seeding spent on `distinct()`, but it performs the
  whole first propagation round for free, so quasi-clique graphs often
  converge after a single loop iteration.
- ``localCheckpoint`` truncates lineage each round; without it the plan
  doubles per iteration and the optimizer chokes long before data does.
- Convergence is detected by comparing an exact decimal SUM of the label
  column between rounds: hash-min labels are non-increasing, so the sum
  strictly decreases iff any label changed. That replaces the old
  old-vs-new join (two extra shuffles per round) with a narrow two-stage
  aggregate over the frame the checkpoint just materialized — a scalar
  per round, the one acceptable driver-side action in an iterative job.
  decimal(38,0) keeps the sum exact (no bigint wrap) up to ~10^19 rows.

The certified-program siblings live in ``operators/graphops.py``:
fixed-iteration label traces (DuckDB-replayable as unrolled CTEs),
the incremental label-store contraction merge, and large-star/
small-star two-phase CC — same component-min label semantics, chosen
when the round count must be part of the replayable contract rather
than adaptive. Those all run through ``graphops.iterate``, the graph
family's one fixed-point loop and its single checkpoint barrier. This
operator keeps its own loop because it certifies mid-round: the
convergence test sits between propagation and the pointer jump, so the
final round skips the jump, which ``iterate`` (one certificate per
whole step) cannot express. The certificate itself is shared
(``graphops.label_sum``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakehouse_tacklebox_spark.operators.graphops import label_sum


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    vertices: DataFrame | None = None,
    id_col: str = "id",
    max_iter: int = 25,
) -> DataFrame:
    """Return (id, component) where component = min vertex id reachable.

    ``edges`` is an undirected pair list; ``vertices`` (optional) adds
    isolated vertices, which come back as their own singleton component.
    """
    sym = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).union(
        edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
    )
    # Materialize the edge list FIRST, then derive the vertex set from the
    # checkpointed edges: the upstream pair-generation pipeline (often an
    # expensive similarity join) runs exactly once, not once per consumer.
    sym = sym.localCheckpoint(eager=True)
    # Seed = min over {own id} ∪ {neighbor ids}: one groupBy over the
    # checkpointed edges (same shuffle the identity seeding would spend on
    # `distinct()`), equivalent to running propagation round 1 at init.
    nbr_min = sym.groupBy("u").agg(F.min("v").alias("__mv"))
    if vertices is not None:
        # Full outer: isolated vertices (no edge row) seed as themselves;
        # edge endpoints absent from `vertices` (dirty input) still keep
        # their seed instead of being dropped.
        seeded = vertices.select(F.col(id_col).alias("u")).join(nbr_min, "u", "full_outer")
    else:
        seeded = nbr_min
    labels = seeded.select(
        F.col("u"), F.least(F.col("u"), F.coalesce(F.col("__mv"), F.col("u"))).alias("label")
    ).localCheckpoint(eager=True)

    prev_sum = label_sum(labels)
    for _ in range(max_iter):
        # min over {own label} ∪ {neighbor labels}
        msgs = (
            sym.alias("e")
            .join(labels.alias("l"), F.col("e.v") == F.col("l.u"), "inner")
            .select(F.col("e.u").alias("u"), F.col("l.label").alias("label"))
        )
        propagated = labels.unionByName(msgs).groupBy("u").agg(F.min("label").alias("label"))
        # Convergence test BEFORE the pointer jump: a propagation fixpoint
        # forces label[u] == label[v] across every edge (min with each
        # neighbor moved nothing in both directions), i.e. labels are
        # already constant per component — so the jump cannot change
        # anything either and the final (verification) round costs two
        # shuffles + a scalar agg, no jump join, no checkpoint write.
        # With min-neighbor seeding this IS the only round on quasi-clique
        # near-dup graphs.
        prop_sum = label_sum(propagated)
        if prop_sum == prev_sum:
            break
        # pointer jumping: also adopt the label's own label (path halving)
        # — turns adversarial chain-shaped graphs from O(diameter) rounds
        # into O(log diameter) for one extra self-join per round.
        labels = (
            propagated.alias("x")
            .join(propagated.alias("y"), F.col("x.label") == F.col("y.u"), "left")
            .select(
                F.col("x.u").alias("u"),
                F.least(F.col("x.label"), F.col("y.label")).alias("label"),
            )
        ).localCheckpoint(eager=True)
        prev_sum = label_sum(labels)
    return labels.select(F.col("u").alias(id_col), F.col("label").alias("component"))


def cluster_survivors(
    df: DataFrame, components: DataFrame, id_col: str
) -> DataFrame:
    """Keep one canonical row per component: the min-id member (which is
    exactly the component label), plus every unclustered row."""
    comp = components.withColumnRenamed("id", id_col) if "id" in components.columns else components
    joined = df.join(comp, id_col, "left")
    return joined.filter(
        F.col("component").isNull() | (F.col("component") == F.col(id_col))
    ).drop("component")
