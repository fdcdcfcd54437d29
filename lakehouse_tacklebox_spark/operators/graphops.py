"""Connected components via alternating min-label propagation — the
transitive-closure step a dedup pipeline runs after LSH candidate
generation (near-dup PAIRS become dup CLUSTERS), and the third member
of the fixed-iteration graph family (with PageRank and BFS in
queries/graph.py).

Every loop of the graph family — min-label CC, two-phase CC, k-core
peeling here, PageRank, personalized PageRank and BFS in
queries/graph.py — runs through :func:`iterate`, the one fixed-point
loop. It owns the single lineage barrier (an eager ``localCheckpoint``
after every step, so k steps build k one-step plans), the optional
fixed-point certificate with its exact early exit, and the reuse of
the fixed-point frame for the remaining trace slots. The min-label
loops hoist their loop-invariant edge frame out of the loop: it is
checkpointed once before the first step and freed after the last, so
a step reads the materialized edges, never their source.

Spark-first shape: labels start at the node id; each iteration every
node takes the min of its own label and its neighbors' labels — one
aggregate-messages shuffle (edges ⋈ labels grouped on dst) per
iteration (:func:`min_label_step`). Min-label is CANONICAL (the fixed
point labels every node with its component's smallest node id), which
is what makes the incremental merge below equal a from-scratch
recompute once both converge.

At 100 TB: edges hash-partition on src, labels on node, each iteration
is one shuffle bounded by |E|, min() combines map-side, and there is
no driver-side state but the loop counter. Components with diameter
<= k are exact after k iterations; dup clusters (near-cliques by
construction) converge in 2-3. For power-law web-scale graphs the
large-star/small-star variant (Kiveris et al., "Connected Components
in MapReduce and Beyond") halves label-path lengths per round; plain
min-propagation with a fixed k is the right trade here because the
gate needs a replayable program, and k is certified by a converged
flag rather than assumed.

Relationship to ``operators/cluster.connected_components``: that is
the PRODUCTION variant — run-to-convergence with the same exact
decimal label-sum certificate (:func:`label_sum`) per round (adaptive
round count, one driver action per round). THIS module is the
certified-program family: fixed iteration counts that DuckDB can
replay as unrolled CTEs (cc_label_trace), the incremental label-store
merge (merge_labels_incremental), and the O(log d) two-phase
contraction (cc_two_phase_rounds). Same label semantics — both converge to the
component-min labelling; dedup_cluster_assign uses the production
variant, the graph_cc_* entries use these.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Window, functions as F


def iterate(
    init: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    n: int,
    certify: Callable[[DataFrame], object] | None = None,
) -> tuple[list[DataFrame], bool]:
    """The graph family's one fixed-point loop.

    Returns ``(frames, converged)`` with ``len(frames) == n + 1``:
    ``frames[0]`` is ``init`` (the caller decides whether it is
    materialized) and ``frames[k]`` is ``step(frames[k - 1])`` cut by
    an eager ``localCheckpoint`` — the single lineage barrier, so k
    steps build k one-step plans, never one k-deep plan.

    Blind (``certify=None``): ``step`` runs exactly ``n`` times and
    ``converged`` is False. Certified: ``certify`` maps a frame to a
    scalar that is equal on two consecutive frames only at the fixed
    point (a monotone sum or count, or a row-set signature of a
    deterministic step). ``init`` and every new frame are certified;
    once two certificates in a row agree the fixed point is proven,
    ``converged`` is True, ``step`` is not called again and the
    remaining slots reuse that frame object.
    """
    frames = [init]
    cert = certify(init) if certify is not None else None
    converged = False
    for _ in range(n):
        if converged:
            frames.append(frames[-1])
            continue
        frames.append(step(frames[-1]).localCheckpoint(eager=True))
        if certify is not None:
            prev, cert = cert, certify(frames[-1])
            converged = cert == prev
    return frames, converged


def label_sum(labels: DataFrame):
    """Exact decimal label-sum — the min-label fixed-point certificate.

    Min-label propagation is monotone: a node's label never increases,
    so the label-sum strictly decreases while ANY label changes and an
    unchanged sum PROVES the fixed point (no cancellation is possible).
    decimal(38,0) keeps the sum exact at any node-id magnitude."""
    return labels.agg(
        F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
    ).collect()[0]["s"]


def symmetric_edges(pairs: DataFrame, a_col: str = "id_a", b_col: str = "id_b") -> DataFrame:
    """Undirected pair list -> symmetric (src, dst) edge frame."""
    fwd = pairs.select(
        F.col(a_col).cast("bigint").alias("src"), F.col(b_col).cast("bigint").alias("dst")
    )
    return fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()


def min_label_step(edges: DataFrame, lab: DataFrame) -> DataFrame:
    """One min-label propagation step over a SYMMETRIC (src, dst) edge
    frame: every node takes the min of its own label and its neighbors'.
    The edges⋈labels join carries .hint("merge"): a label table is not
    broadcastable at scale, and under the gate's concurrent drive
    several entries' AQE broadcasts together exhaust the vanilla driver
    heap (the same rationale as the PageRank loop in queries/graph.py)."""
    msgs = edges.join(
        lab.withColumnRenamed("node", "src").hint("merge"), "src"
    ).select(F.col("dst").alias("node"), "label")
    return (
        lab.unionByName(msgs)
        .groupBy("node")
        .agg(F.min("label").cast("bigint").alias("label"))
    )


def _min_label_loop(edges: DataFrame, n: int, certify=None) -> tuple[list[DataFrame], bool]:
    # the edges are loop-invariant: materialize them once so no step
    # re-derives them from their source. Every returned frame is an
    # eager checkpoint, so nothing reads the edges after the loop.
    edges = edges.localCheckpoint(eager=True)
    try:
        nodes = edges.select(F.col("src").alias("node")).distinct()
        init = nodes.withColumn("label", F.col("node").cast("bigint")).localCheckpoint(eager=True)
        return iterate(init, lambda lab: min_label_step(edges, lab), n, certify)
    finally:
        # DataFrame.unpersist would not free them: a local checkpoint's
        # blocks belong to the RDD under its LogicalRDD
        edges._jdf.queryExecution().analyzed().rdd().unpersist(False)


def cc_label_trace(edges: DataFrame, iters: int) -> list[DataFrame]:
    """Min-label propagation over a SYMMETRIC (src, dst) edge frame.

    Returns ``iters + 1`` label frames (node, label): element 0 is the
    identity labelling over the edge frame's node set, element k the
    labels after k blind propagation steps.
    """
    return _min_label_loop(edges, iters)[0]


def cc_min_label_converged(edges: DataFrame, iters: int) -> tuple[DataFrame, bool]:
    """(labels, converged) after AT MOST ``iters`` min-label steps,
    skipping every step past the fixed point.

    Monotonicity makes the skip exact: labels never increase, so once
    the label-sum stops moving no later step can change anything — the
    returned frame is bit-identical to running all ``iters`` steps
    blind (pinned by tests/test_graph_cc.py). The sum is one map-side-
    combining scalar aggregate per step (~a count's cost), and on the
    near-clique dup graphs the battery labels (measured convergence by
    step 3 at every gate SF) it saves half the iteration shuffles.

    ``converged`` is True iff the fixed point was certified within
    ``iters`` steps — exactly the "labels stable between the last two
    iterations" flag the CC entries publish (label-sum equality between
    steps k-1 and k ⟺ zero labels changed at step k).
    """
    frames, converged = _min_label_loop(edges, iters, label_sum)
    return frames[-1], converged


def cc_min_label(edges: DataFrame, iters: int, require_converged: bool = False) -> DataFrame:
    """Final (node, label) after ``iters`` min-label propagation steps
    (steps past the certified fixed point are skipped — identical
    labels, see :func:`cc_min_label_converged`).

    A fixed ``iters`` silently returns NON-converged labels when the
    graph's min-label path lengths exceed it. The battery certifies
    convergence per entry with an explicit flag; for library callers,
    ``require_converged=True`` runs one verification step past
    ``iters`` and raises ``ValueError`` unless the labels after
    ``iters`` steps are already the fixed point.
    """
    if not require_converged:
        return cc_min_label_converged(edges, iters)[0]
    frames, converged = _min_label_loop(edges, iters + 1, label_sum)
    if not converged:
        raise ValueError(
            f"cc_min_label(iters={iters}) has not converged: "
            f"labels still changed on round {iters + 1}; "
            "raise iters or use cc_two_phase_rounds for long paths"
        )
    return frames[iters]


def merge_labels_incremental(
    base_labels: DataFrame, new_pairs: DataFrame, iters: int
) -> DataFrame:
    """Fold a batch of NEW pairs into an existing component labelling
    without re-running CC on the base graph.

    The classic contraction step: relabel each new edge's endpoints
    with their base component label (nodes unknown to the store keep
    their own id), build the LABEL GRAPH from the relabelled edges,
    run min-label CC on THAT — it has one node per touched component,
    not per document, so a batch prices at batch-size — and compose
    the root map back over the store. Because min-label is canonical,
    the merged labelling equals a from-scratch recompute over
    base + batch once both converge (certified by the caller's
    matches_full flag, never assumed).

    ``base_labels``: (node, label) at the base fixed point.
    ``new_pairs``: (id_a, id_b) undirected new edges.
    Returns (node, label) covering base nodes plus new-edge endpoints.
    """
    bl = base_labels.select("node", F.col("label").cast("bigint").alias("label"))
    ends = symmetric_edges(new_pairs)  # both orientations = both endpoints relabelled
    relab = (
        ends.join(bl.withColumnRenamed("node", "src").withColumnRenamed("label", "la"), "src", "left")
        .join(bl.withColumnRenamed("node", "dst").withColumnRenamed("label", "lb"), "dst", "left")
        .select(
            F.coalesce("la", F.col("src").cast("bigint")).alias("src"),
            F.coalesce("lb", F.col("dst").cast("bigint")).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    roots = cc_min_label(relab, iters).withColumnRenamed("node", "old_label").withColumnRenamed(
        "label", "root"
    )
    # New-edge endpoints enter the store with their (possibly fresh)
    # pre-merge label so singleton-until-now nodes get component rows.
    touched = (
        ends.select(F.col("src").alias("node"))
        .distinct()
        .join(bl, "node", "left")
        .select("node", F.coalesce("label", F.col("node").cast("bigint")).alias("label"))
    )
    merged_nodes = bl.unionByName(touched).groupBy("node").agg(F.min("label").alias("label"))
    return (
        merged_nodes.join(roots, merged_nodes["label"] == roots["old_label"], "left")
        .select("node", F.coalesce("root", "label").cast("bigint").alias("label"))
    )


def _star_phase(e: DataFrame, large: bool) -> DataFrame:
    """One large-star (``large``) or small-star phase over a symmetric
    (src, dst) edge frame; returns the re-symmetrized distinct edges."""
    # neighborhood min via a src-partitioned WINDOW instead of
    # groupBy + join-back: the aggregate and the join were keyed
    # the same way, so one exchange serves both (guide §2.4) —
    # each phase shuffles the edge frame ONCE, not twice. m is
    # identical per row (min over Γ(src) ∪ {src}).
    joined = e.withColumn(
        "m",
        F.least(F.min("dst").over(Window.partitionBy("src")), F.col("src")),
    )
    if large:
        pairs = joined.filter(F.col("dst") > F.col("src")).select(
            F.least("dst", "m").alias("a"), F.greatest("dst", "m").alias("b")
        )
    else:
        # the (src, m) self-attachment is emitted per ROW rather
        # than per distinct src — the phase-end distinct dedupes
        # to the identical set, and skipping the per-src dedupe
        # keeps the phase at one pre-distinct exchange
        pairs = (
            joined.filter(F.col("dst") <= F.col("src"))
            .select(
                F.least("dst", "m").alias("a"),
                F.greatest("dst", "m").alias("b"),
            )
            .unionByName(
                joined.select(
                    F.least("src", "m").alias("a"),
                    F.greatest("src", "m").alias("b"),
                )
            )
        )
    # one distinct per phase, not two: the post-symmetrization
    # distinct subsumes the former pre-symmetrization one (the
    # deduped union of both orientations is the same set), so
    # each phase is 3 shuffles (neighborhood-min aggregate,
    # join, dedupe) instead of 4
    und = pairs.filter(F.col("a") != F.col("b"))
    return (
        und.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionByName(und.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .distinct()
    )


def _star_round(e: DataFrame) -> DataFrame:
    # LAZY cut between the phases: lineage stops at the large-star
    # frame without a driver-blocking job of its own; the round's
    # barrier in iterate materializes both phases
    return _star_phase(_star_phase(e, True).localCheckpoint(eager=False), False)


def cc_two_phase_rounds(
    edges: DataFrame, rounds: int, return_converged: bool = False
) -> list[DataFrame] | tuple[list[DataFrame], bool]:
    """Large-star / small-star connected components (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014) — the
    O(log d)-round variant of :func:`cc_min_label` for graphs whose
    min-label path lengths make per-hop propagation too slow at scale.

    One round = large-star (every neighbor larger than u attaches to
    min(Γ(u) ∪ {u})) then small-star (every neighbor ≤ u, and u itself,
    attaches to the min). Each phase is one src-partitioned window
    (the per-node neighborhood min) + a distinct — edge-list-bounded
    shuffles, no driver state. The edge set CONTRACTS monotonically
    toward stars whose centers are the component minima, so labels
    after convergence are identical to min-label's fixed point (both
    canonical); measured on the sparse part–supplier graph: converged
    in 3 rounds at sf0.1 where 5 min-label hops still carried 14 stale
    labels.

    Returns ``rounds`` symmetric (src, dst) edge frames, one per
    completed round (:func:`iterate` minus its input slot). A round is
    a deterministic function of the previous round's edge set, so once
    two consecutive frames are the SAME set every later round repeats
    it: the input and each round's frame are fingerprinted with the
    shared 4-fold row-set signature (operators/signature.py) and on a
    signature match the remaining rounds reuse the fixed-point frame
    instead of recomputing it. With ``return_converged=True`` returns
    ``(frames, converged)`` where ``converged`` is the signature
    verdict on the last two frames (the input counting as the frame
    before round 1) — equal sets always produce equal signatures, and
    unequal signatures PROVE unequal sets, so the flag is exact up to
    the documented ~2^-64 collision floor (exact-equality pin at
    sf0.001: tests/test_graph_cc.py).
    """
    from lakehouse_tacklebox_spark.operators.signature import rowset_signature

    frames, converged = iterate(
        edges.localCheckpoint(eager=True),
        _star_round,
        rounds,
        lambda e: rowset_signature(e, ["src", "dst"]),
    )
    if return_converged:
        return frames[1:], converged
    return frames[1:]


def star_labels(edges: DataFrame) -> DataFrame:
    """(node, label) from a star-converged symmetric edge frame: each
    node's label is min(self, neighbors) — exact once cc_two_phase_rounds
    has converged (every non-root is directly attached to its root)."""
    return edges.groupBy(F.col("src").alias("node")).agg(
        F.least(F.min("dst"), F.first("src")).cast("bigint").alias("label")
    )


def triangle_census(e: DataFrame) -> DataFrame:
    """Exact triangle count over an UNDIRECTED distinct (u, v) edge
    frame (u < v), via the degree-ordered node-iterator (Schank 2007;
    Suri & Vassilvitskii, "Counting Triangles and the Curse of the Last
    Reducer", WWW 2011): orient each edge away from its lower-(degree,
    id) endpoint, enumerate wedges only at the oriented source —
    out-degree is bounded by ~sqrt(2m) after orientation, so hub nodes
    cannot explode the 2-path self-join — and close wedges against the
    edge set. Returns one row: (n_nodes, n_edges, n_wedges,
    n_triangles, global_clustering_ppm), all exact integers
    (clustering = 3·triangles·1e6 DIV wedges)."""
    deg = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
        .localCheckpoint(eager=True)
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    o = (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
        .localCheckpoint(eager=True)
    )
    o1 = o.select(F.col("s"), F.col("t").alias("x"))
    o2 = o.select(F.col("s"), F.col("t").alias("y"))
    wedges = o1.join(o2, "s").filter(F.col("x") < F.col("y")).select("x", "y")
    tri = wedges.join(
        e, (F.col("u") == F.least("x", "y")) & (F.col("v") == F.greatest("x", "y"))
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_tri"))
    return (
        deg.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.sum(F.expr("d * (d - 1) DIV 2")).cast("bigint").alias("n_wedges"),
        )
        .crossJoin(e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges")))
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            F.col("n_tri").alias("n_triangles"),
            F.expr(
                "CASE WHEN n_wedges > 0"
                " THEN (3 * CAST(1000000 AS BIGINT) * n_tri) DIV n_wedges"
                " ELSE CAST(0 AS BIGINT) END"
            )
            .cast("bigint")
            .alias("global_clustering_ppm"),
        )
    )


def repair_labels_decremental(
    store: DataFrame, surviving_pairs: DataFrame, removed_nodes: DataFrame, iters: int
) -> DataFrame:
    """Repair a (node, label) component store after node DELETIONS.

    Deletions can SPLIT components (the case contraction merges cannot
    handle), so the affected components — those containing a removed
    node — are re-solved from scratch on their surviving subgraph while
    every other store row passes through verbatim. A pair's endpoints
    always share a component, so selecting pairs on one endpoint's
    membership selects exactly the affected subgraph. Survivors that
    lost their last pair drop out of the store; a component whose
    min-id node was removed gets a fresh canonical label. Cost ∝
    affected components + removals, never the graph.

    ``store``: (node, label) at the pre-deletion fixed point.
    ``surviving_pairs``: (id_a, id_b) with removed endpoints already
    filtered out. ``removed_nodes``: (node) the forget-list.
    """
    affected_labels = (
        store.join(removed_nodes, "node", "semi").select("label").distinct()
    )
    untouched = store.join(affected_labels, "label", "left_anti").select(
        "node", "label"
    )
    affected_nodes = store.join(affected_labels, "label", "semi").select("node")
    sub_pairs = surviving_pairs.join(
        affected_nodes.withColumnRenamed("node", "id_a"), "id_a", "semi"
    )
    repaired = cc_min_label(symmetric_edges(sub_pairs), iters)
    return untouched.unionByName(repaired)


def kcore_peel_trace(edges: DataFrame, k: int, rounds: int) -> list[DataFrame]:
    """k-core extraction by iterative peeling (Batagelj–Zaveršnik
    semantics, expressed as the synchronous distributed variant): each
    round drops every node whose CURRENT degree is below ``k``, together
    with its edges, until the surviving subgraph — the k-core — is a
    fixed point. The corpus-curation use: a dup-pair graph's 2-core
    separates densely inter-duplicated clusters from incidental
    one-off pair matches before cluster assignment.

    One round = one degree aggregate (groupBy src over the symmetric
    edge frame, map-side combined) + two semi-joins filtering both
    endpoints — all edge-bounded, no driver state. Peeling cascades
    (removing a degree-1 node can expose a new sub-k node), so
    ``rounds`` is a program parameter certified by the caller's trace —
    converged rounds repeat identical stats, the same
    no-convergence-claim contract as the CC family.

    Returns ``rounds + 1`` symmetric (src, dst) edge frames: element 0
    is the input, element r the survivors after r peel rounds. Peeling
    only ever REMOVES edges (each round's set is a subset of the
    previous round's), so an unchanged edge COUNT proves the fixed
    point exactly — no signature needed — and :func:`iterate` reuses
    the fixed-point frame for the tail.
    """

    def peel(e: DataFrame) -> DataFrame:
        keep = (
            e.groupBy("src")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= k)
            .select("src")
        )
        return e.join(keep, "src", "semi").join(keep.withColumnRenamed("src", "dst"), "dst", "semi")

    return iterate(edges.localCheckpoint(eager=True), peel, rounds, lambda e: e.count())[0]
