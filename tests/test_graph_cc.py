"""Connected-components operator pins (operators/graphops.py).

The driver gate replays the same fixed-iteration program on both
engines, so it proves replay fidelity; THESE tests pin the semantics —
fixed-iteration min-label propagation equals the TRUE components on
constructed multi-component graphs (VERDICT r11 item 6), and the
incremental contraction merge equals a from-scratch recompute.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lakehouse_tacklebox_spark.operators import graphops as G
from lakehouse_tacklebox_spark.operators.signature import rowset_signature, rowsets_equal


def _true_components(pairs: list[tuple[int, int]], nodes=None) -> dict[int, int]:
    """Reference union-find: node -> min node id of its component."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for n in nodes or []:
        find(n)
    comp: dict[int, list[int]] = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    return {n: min(members) for root, members in comp.items() for n in members}


# Three components of diameters 4, 1, 0-ish: a path (labels need
# ceil(path position) iterations to travel), a triangle, an isolated
# edge. Min node ids are deliberately NOT the first elements.
_PAIRS = [
    (9, 7), (7, 5), (5, 3), (3, 1),          # path 9-7-5-3-1 -> label 1
    (20, 22), (22, 24), (24, 20),            # triangle -> label 20
    (100, 31),                                # edge -> label 31
]


def _pairs_df(spark, pairs):
    return spark.createDataFrame(pairs, "id_a bigint, id_b bigint")


def test_cc_labels_equal_true_components(spark):
    edges = G.symmetric_edges(_pairs_df(spark, _PAIRS))
    got = {r["node"]: r["label"] for r in G.cc_min_label(edges, 4).collect()}
    assert got == _true_components(_PAIRS)


def test_cc_underiterated_path_not_converged(spark):
    # 4 hops are needed for label 1 to reach node 9; after 2 the path is
    # NOT at the fixed point — the converged flag in the entries is a
    # real claim, not a tautology.
    edges = G.symmetric_edges(_pairs_df(spark, _PAIRS))
    trace = G.cc_label_trace(edges, 4)
    lab2 = {r["node"]: r["label"] for r in trace[2].collect()}
    assert lab2[9] != 1
    lab4 = {r["node"]: r["label"] for r in trace[4].collect()}
    assert lab4[9] == 1
    # ... and the converged flag is a real claim: iterations 3->4 still
    # move (flag false at k=4), one extra iteration is stable (flag true
    # at k=5).
    def n_changed(a, b):
        return (
            a.withColumnRenamed("label", "la")
            .join(b.withColumnRenamed("label", "lb"), "node")
            .filter(F.col("la") != F.col("lb"))
            .count()
        )

    assert n_changed(trace[3], trace[4]) > 0
    trace5 = G.cc_label_trace(edges, 5)
    assert n_changed(trace5[4], trace5[5]) == 0


def test_incremental_merge_equals_full_recompute(spark):
    # Base graph: the path missing its middle edge (two components) and
    # the triangle. Batch: the bridging pair (5,3) that MERGES the two
    # path halves, plus a brand-new component (40,41), plus an edge
    # hanging a new node off the triangle (24,19) that also LOWERS the
    # triangle's canonical label to 19.
    base = [(9, 7), (7, 5), (3, 1), (20, 22), (22, 24), (24, 20)]
    batch = [(5, 3), (40, 41), (24, 19)]
    base_labels = G.cc_min_label(G.symmetric_edges(_pairs_df(spark, base)), 4)
    merged = G.merge_labels_incremental(base_labels, _pairs_df(spark, batch), 4)
    got = {r["node"]: r["label"] for r in merged.collect()}
    assert got == _true_components(base + batch)


def test_incremental_merge_batch_only_touches_label_graph(spark):
    # Merging a batch that touches NOTHING existing adds exactly the
    # batch's own component and leaves every base label unchanged.
    base = [(9, 7), (7, 5)]
    base_labels = G.cc_min_label(G.symmetric_edges(_pairs_df(spark, base)), 3)
    merged = G.merge_labels_incremental(base_labels, _pairs_df(spark, [(50, 60)]), 3)
    got = {r["node"]: r["label"] for r in merged.collect()}
    assert got == {9: 5, 7: 5, 5: 5, 50: 50, 60: 50}


def test_rowset_signature_detects_single_row_drift(spark):
    a = spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "k bigint, v bigint")
    b = spark.createDataFrame([(1, 10), (2, 21), (3, 30)], "k bigint, v bigint")
    assert rowsets_equal(a, a.orderBy(F.desc("k")), ["k", "v"])
    assert not rowsets_equal(a, b, ["k", "v"])
    # duplicated row changes the count fold even though xor cancels
    c = spark.createDataFrame([(1, 10), (2, 20), (3, 30), (3, 30)], "k bigint, v bigint")
    assert not rowsets_equal(a, c, ["k", "v"])
    sig = rowset_signature(a, ["k", "v"])
    assert len(sig) == 4 and sig[0] == 3


def test_two_phase_cc_equals_true_components(spark):
    # Multi-component fixture incl. the diameter-4 path (the case that
    # needs the most contraction), run to the measured fixed point.
    edges = G.symmetric_edges(_pairs_df(spark, _PAIRS))
    rounds = G.cc_two_phase_rounds(edges, 4)
    got = {r["node"]: r["label"] for r in G.star_labels(rounds[-1]).collect()}
    assert got == _true_components(_PAIRS)
    # edge set stable across the last two rounds (the entries' converged
    # flag) — and once stable, every node is directly attached to its
    # component root (star shape)
    last, prev = rounds[-1], rounds[-2]
    assert last.join(prev, ["src", "dst"], "left_anti").count() == 0
    assert prev.join(last, ["src", "dst"], "left_anti").count() == 0
    roots = set(got.values())
    star_ok = (
        last.filter(F.col("src") < F.col("dst"))
        .filter(~F.col("src").isin(list(roots)))
        .count()
    )
    assert star_ok == 0, "non-root node still carries an edge after convergence"


def test_triangle_census_exact(spark):
    # K4 on {1,2,3,4} (4 triangles) + a pendant edge + the 5-path from
    # _PAIRS (0 triangles) + one extra triangle sharing node 20.
    edges = [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),  # K4: 4 triangles
        (4, 50),                                          # pendant
        (20, 22), (22, 24), (24, 20),                     # triangle
    ]
    e = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "u bigint, v bigint"
    ).distinct()
    row = G.triangle_census(e).collect()[0]
    assert row["n_triangles"] == 5
    assert row["n_nodes"] == 8
    assert row["n_edges"] == 10
    # wedges: K4 nodes have deg 3,3,3,4(node 4); pendant 1; triangle 2,2,2
    # sum d(d-1)/2 = 3+3+3+6+0+1+1+1 = 18
    assert row["n_wedges"] == 18
    assert row["global_clustering_ppm"] == 3 * 1000000 * 5 // 18


def test_decremental_repair_splits_and_relabels(spark):
    # Path 1-3-5-7-9 plus triangle {20,22,24} plus edge (31,100).
    # Remove the path's CUT VERTEX 5 (splits its component in two) AND
    # the triangle's min node 20 (forces a fresh canonical label 22).
    pairs = _pairs_df(spark, _PAIRS)
    store = G.cc_min_label(G.symmetric_edges(pairs), 5)
    removed = spark.createDataFrame([(5,), (20,)], "node bigint")
    surviving = pairs.filter(
        (~F.col("id_a").isin(5, 20)) & (~F.col("id_b").isin(5, 20))
    )
    new_store = G.repair_labels_decremental(store, surviving, removed, 5)
    got = {r["node"]: r["label"] for r in new_store.collect()}
    surviving_edges = [
        (a, b) for a, b in _PAIRS if a not in (5, 20) and b not in (5, 20)
    ]
    assert got == _true_components(surviving_edges)
    # the split is real: 9-7 and 3-1 are now separate components...
    assert got[9] == 7 and got[1] == 1
    # ...the triangle relabelled to its new min...
    assert got[22] == 22 and got[24] == 22
    # ...the removed nodes are gone, and the untouched component intact
    assert 5 not in got and 20 not in got
    assert got[100] == 31 and got[31] == 31


def test_require_converged_raises_on_long_path(spark):
    # Path 0-1-2-...-7: min-label needs 7 hops to push 0 to the far end;
    # iters=2 is non-converged and MUST raise (VERDICT r12 item 6) —
    # previously a silent wrong answer for library callers.
    path = [(i, i + 1) for i in range(7)]
    edges = G.symmetric_edges(_pairs_df(spark, path))
    with pytest.raises(ValueError, match="not converged"):
        G.cc_min_label(edges, 2, require_converged=True)
    # At iters=7 the fixed point is reached: the guard passes and the
    # labels equal the true components.
    got = {r["node"]: r["label"] for r in G.cc_min_label(edges, 7, require_converged=True).collect()}
    assert got == _true_components(path)


def test_kcore_peel_cascades_to_true_core(spark):
    # Triangle {1,2,3} (the 2-core), pendant 4-1, and path 10-11-12-13-14.
    # Round 1 removes the pendant and the path's degree-1 endpoints,
    # leaving sub-path 11-12-13; its NEW endpoints only become sub-k
    # after that removal — the cascade rounds must catch them
    # (single-pass degree filters get this wrong). Fixed point = the
    # triangle alone. (Isolated survivors drop with their last edge:
    # the trace is an edge-list subgraph.)
    pairs = _pairs_df(
        spark,
        [(1, 2), (2, 3), (1, 3), (4, 1), (10, 11), (11, 12), (12, 13), (13, 14)],
    )
    trace = G.kcore_peel_trace(G.symmetric_edges(pairs), k=2, rounds=3)

    def nodes(e):
        return {r["src"] for r in e.select("src").distinct().collect()}

    assert nodes(trace[0]) == {1, 2, 3, 4, 10, 11, 12, 13, 14}
    assert nodes(trace[1]) == {1, 2, 3, 11, 12, 13}  # ends peeled
    assert nodes(trace[2]) == {1, 2, 3}  # cascade completes
    assert nodes(trace[3]) == {1, 2, 3}  # fixed point


def test_cc_min_label_converged_equals_blind_trace(spark):
    """Round-13 early fixed-point exit: labels from the sum-certified
    early exit are bit-identical to running every iteration blind, and
    the converged bool equals the former labels(k-1)-vs-labels(k)
    equality-join verdict on both the converging and the non-converging
    side."""
    edges = G.symmetric_edges(_pairs_df(spark, _PAIRS))
    # converges by iter 4; ask for 6 — early exit must return the same
    # labels as the blind 6-step trace and certify convergence
    lab, converged = G.cc_min_label_converged(edges, 6)
    blind = G.cc_label_trace(edges, 6)[-1]
    assert converged is True
    assert rowsets_equal(lab, blind, ["node", "label"])
    assert {r["node"]: r["label"] for r in lab.collect()} == _true_components(_PAIRS)
    # a diameter-7 path at iters=3: NOT converged, labels still equal the
    # blind 3-step frame (early exit never fires before the fixed point)
    path = [(i, i + 1) for i in range(7)]
    pedges = G.symmetric_edges(_pairs_df(spark, path))
    lab3, conv3 = G.cc_min_label_converged(pedges, 3)
    blind3 = G.cc_label_trace(pedges, 3)[-1]
    assert conv3 is False
    assert rowsets_equal(lab3, blind3, ["node", "label"])


def test_twophase_signature_converged_matches_exact_equality(spark):
    """Cert-site discipline (VERDICT r12 item 8): the round-13 signature
    gate on cc_two_phase_rounds' converged flag is pinned against the
    exact anti-join equality it replaced, on both a converged and a
    non-converged run."""
    edges = G.symmetric_edges(_pairs_df(spark, _PAIRS))

    def exact_equal(a, b):
        return (
            a.join(b, ["src", "dst"], "left_anti").count() == 0
            and b.join(a, ["src", "dst"], "left_anti").count() == 0
        )

    rounds, converged = G.cc_two_phase_rounds(edges, 4, return_converged=True)
    assert converged is exact_equal(rounds[-1], rounds[-2])
    assert converged is True  # fixture converges within 4 rounds
    short, conv_short = G.cc_two_phase_rounds(edges, 1, return_converged=True)
    # one round certifies only an input that is already a star set, and
    # this fixture's input is not one
    assert conv_short is False
    # converged-tail rounds reuse the fixed-point frame: the trace stays
    # rounds long and every tail frame equals the fixed point exactly
    rounds6, conv6 = G.cc_two_phase_rounds(edges, 6, return_converged=True)
    assert conv6 is True and len(rounds6) == 6
    assert exact_equal(rounds6[-1], rounds[-1])


def _counted(step):
    calls = []

    def wrapped(df):
        calls.append(df)
        return step(df)

    return wrapped, calls


def _decrement(df):
    # x -> max(x - 1, 0): fixed point 0
    return df.select(F.greatest(F.col("x") - 1, F.lit(0)).cast("bigint").alias("x"))


def _x(df):
    return df.collect()[0]["x"]


def _xs(frames):
    return [_x(f) for f in frames]


def test_iterate_blind_runs_every_step(spark):
    init = spark.createDataFrame([(5,)], "x bigint")
    step, calls = _counted(lambda df: df.select((F.col("x") + 1).alias("x")))
    frames, converged = G.iterate(init, step, 3)
    assert len(calls) == 3 and converged is False
    assert len(frames) == 4 and frames[0] is init
    assert _xs(frames) == [5, 6, 7, 8]


def test_iterate_certified_stops_at_fixed_point(spark):
    # 2 -> 1 -> 0 -> 0: the fixed point is proven by step 3 (two equal
    # certificates in a row); steps 4-6 never run and reuse its frame
    init = spark.createDataFrame([(2,)], "x bigint")
    step, calls = _counted(_decrement)
    frames, converged = G.iterate(init, step, 6, certify=_x)
    assert converged is True
    assert len(calls) == 3 and len(frames) == 7
    assert all(f is frames[3] for f in frames[4:])
    assert _xs(frames) == [2, 1, 0, 0, 0, 0, 0]


def test_iterate_not_converged_while_certificate_moves(spark):
    init = spark.createDataFrame([(2,)], "x bigint")
    # the last step (1 -> 0) still moves the certificate: not proven
    step, calls = _counted(_decrement)
    frames, converged = G.iterate(init, step, 2, certify=_x)
    assert converged is False and len(calls) == 2 and _xs(frames) == [2, 1, 0]
    # an input that is already the fixed point is proven by one step
    zero = spark.createDataFrame([(0,)], "x bigint")
    frames, converged = G.iterate(zero, _decrement, 1, certify=_x)
    assert converged is True and _xs(frames) == [0, 0]
