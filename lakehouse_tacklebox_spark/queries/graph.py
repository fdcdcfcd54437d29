"""Iterative graph analytics over the real part–supplier bipartite
graph (distinct (l_partkey, l_suppkey) pairs of lineitem) — the
fixed-point family the battery lacked. Everything is INTEGER
arithmetic (ppm masses, floor division), so even a 5-iteration power
method is hash-comparable against a DuckDB replay of the identical
unrolled program — the iterative class usually waved through as
rows-only gets a full oracle here.

Spark-first shape: the edge list is built once and cached; each
iteration is one groupBy-on-destination shuffle of contributions (the
Pregel/GraphX aggregate-messages step as plain DataFrame ops). At
100 TB the edges partition on dst across the fleet, contributions
combine map-side, and k iterations cost k edge-shuffles — the textbook
distributed PageRank plan, with no driver-side state but the loop
counter. Every loop here runs through ``graphops.iterate`` (one
checkpoint barrier per step, optional fixed-point certificate), every
entry builds its graph with :func:`_part_supplier_edges`, and the
per-iteration trace entries stack their stat rows with :func:`_trace`.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, functions as F

from lakehouse_tacklebox_spark.operators import graphops as G
from lakehouse_tacklebox_spark.queries import register
from lakehouse_tacklebox_spark.sources import load_tables

_PR_ITERS = 5
_PR_TOPK = 20


def _part_supplier_edges(li: DataFrame) -> DataFrame:
    """Symmetric distinct (src, dst) edges of the part–supplier graph
    over the given lineitem rows: parts are 2·partkey, suppliers
    2·suppkey+1 (the oracles' ``e`` CTE)."""
    pairs = li.select(
        (2 * F.col("l_partkey")).cast("bigint").alias("id_a"),
        (2 * F.col("l_suppkey") + 1).cast("bigint").alias("id_b"),
    ).distinct()
    return G.symmetric_edges(pairs)


def _trace(frames: list[DataFrame], core, key: str, start: int = 0) -> DataFrame:
    """One stat row per loop frame, ordered by ``key`` (the slot number,
    counted from ``start``). ``core(frame)`` is a 1-row aggregate; it is
    computed once per DISTINCT frame object — a certified loop's tail
    slots share the fixed-point frame — and checkpointed only when its
    frame repeats, so the repeated slots read the persisted row."""
    n_slots = Counter(map(id, frames))
    cores: dict[int, DataFrame] = {}
    rows = []
    for i, f in enumerate(frames, start=start):
        c = cores.get(id(f))
        if c is None:
            c = core(f)
            if n_slots[id(f)] > 1:
                c = c.localCheckpoint(eager=False)
            cores[id(f)] = c
        rows.append(c.select(F.lit(i).cast("bigint").alias(key), *c.columns))
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy(key)


def _pagerank_oracle(iters: int = _PR_ITERS, topk: int = _PR_TOPK) -> str:
    """Unrolled ``iters``-stage integer PageRank for DuckDB (the
    _bpe_train_oracle pattern): nodes are 2*partkey / 2*suppkey+1, edges
    go both directions (so every node has out-degree >= 1 — no dangling
    mass), mass starts at 1e6 ppm, and each stage is
    ``150000 + (85 * inflow) // 100`` with ``inflow`` the sum of
    ``mass // outdeg`` over in-edges — the damping-0.85 power step in
    exact floor arithmetic, identical on both engines."""
    parts = [
        """WITH e AS MATERIALIZED (
        SELECT src, dst FROM (
            SELECT DISTINCT 2*l_partkey AS src, 2*l_suppkey + 1 AS dst
            FROM lineitem
            UNION
            SELECT DISTINCT 2*l_suppkey + 1 AS src, 2*l_partkey AS dst
            FROM lineitem
        )
    ), deg AS MATERIALIZED (
        SELECT src AS node, CAST(count(*) AS BIGINT) AS outdeg FROM e GROUP BY 1
    ), m0 AS MATERIALIZED (
        SELECT node, CAST(1000000 AS BIGINT) AS mass FROM deg
    )"""
    ]
    for k in range(1, iters + 1):
        parts.append(
            f""", m{k} AS MATERIALIZED (
        SELECT deg.node,
               CAST(150000 + (85 * coalesce(inn.s, 0)) // 100 AS BIGINT) AS mass
        FROM deg
        LEFT JOIN (
            SELECT e.dst AS node, CAST(sum(m.mass // d.outdeg) AS BIGINT) AS s
            FROM e
            JOIN m{k - 1} m ON m.node = e.src
            JOIN deg d ON d.node = e.src
            GROUP BY 1
        ) inn ON inn.node = deg.node
    )"""
        )
    parts.append(
        f"""
    SELECT node, mass AS mass_ppm,
           CAST(row_number() OVER (ORDER BY mass DESC, node) AS BIGINT) AS rank,
           CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END AS kind
    FROM m{iters}
    QUALIFY rank <= {topk}
    ORDER BY rank
    """
    )
    return "\n".join(parts)


@register(
    "graph_pagerank_bipartite",
    tags=("graph", "iterative", "join"),
    bench=True,
    # Fixed-iteration power method with an EXACT oracle: the usual
    # "iterative algorithms aren't SQL-expressible" exemption doesn't
    # apply when the iteration count is fixed and the arithmetic is
    # integer — DuckDB replays the identical 5-stage unrolled program
    # (floor divisions and all) and hash-compares the full top-20.
    # The graph is real data (distinct part–supplier pairs), made
    # symmetric so no node dangles; suppliers aggregate mass from the
    # many parts they stock, which is what makes the ranking
    # non-trivial (top of the list is suppliers at every gate scale).
    oracle=_pagerank_oracle(),
)
def graph_pagerank_bipartite(spark, sf_dir):
    """Integer PageRank (damping 0.85, 5 iterations) over the
    part–supplier bipartite graph: nodes 2·partkey / 2·suppkey+1,
    symmetric distinct edges from lineitem, mass in exact ppm with
    floor-division updates — top-20 nodes by final mass. Each
    iteration is one aggregate-messages shuffle (contributions
    ``mass DIV outdeg`` grouped on dst) over the cached edge frame;
    iterations checkpoint so the plan stays k-shallow instead of
    k-exponential. The 100 TB shape is the canonical distributed
    PageRank: edges hash-partitioned, map-side combine, k shuffles for
    k iterations, no driver state."""
    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    e = _part_supplier_edges(li).localCheckpoint(eager=True)
    deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("outdeg")
    )
    # outdeg is loop-INVARIANT: fold it onto the edge frame once (the
    # GraphX routing-table trick) so each iteration joins mass against
    # ONE pre-materialized frame instead of re-joining deg every round —
    # one sort-merge join + one aggregate per iteration, nothing else.
    e2 = (
        e.join(deg.withColumnRenamed("node", "src").hint("merge"), "src")
        .select("src", "dst", "outdeg")
        .localCheckpoint(eager=True)
    )

    def power_step(mass):
        # merge-hint the iteration join: a frontier/mass table is not
        # broadcastable at scale, and under the gate's concurrent drive
        # six entries' AQE broadcasts together exhaust driver memory —
        # sort-merge keeps every iteration executor-side. No nodes-frame
        # left join: the graph is SYMMETRIC, so every node appears as
        # dst of some edge and mass covers every node each round —
        # inflow already lands on the full node set (the oracle's LEFT
        # JOIN never fires its NULL arm either).
        return (
            e2.join(mass.withColumnRenamed("node", "src").hint("merge"), "src")
            .select("dst", F.expr("mass DIV outdeg").alias("c"))
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("c").cast("bigint").alias("s"))
            .select(
                "node",
                F.expr("CAST(150000 + (85 * s) DIV 100 AS BIGINT)").alias("mass"),
            )
        )

    mass0 = deg.select("node", F.lit(1000000).cast("bigint").alias("mass"))
    mass = G.iterate(mass0, power_step, _PR_ITERS)[0][-1]

    # top-k as a distributed TakeOrdered (never a global-order window —
    # a single-partition rank over every node is the 100 TB smell the
    # plan audit flags); ranks attach to the 20 collected rows
    top = (
        mass.orderBy(F.col("mass").desc(), "node").limit(_PR_TOPK).collect()
    )
    return spark.createDataFrame(
        [
            (
                r["node"],
                r["mass"],
                i + 1,
                "part" if r["node"] % 2 == 0 else "supplier",
            )
            for i, r in enumerate(top)
        ],
        "node bigint, mass_ppm bigint, rank bigint, kind string",
    ).orderBy("rank")


_BFS_HOPS = 4


def _bfs_oracle(hops: int = _BFS_HOPS) -> str:
    """Unrolled ``hops``-stage BFS min-distance SQL for DuckDB over the
    same symmetric part–supplier edge list as the PageRank entry; seeds
    are the part nodes with l_partkey < 3. Each stage takes the union
    of the previous distance table and its one-hop expansion, keeping
    the min distance per node — exact integer, so the final
    per-distance census (count, min node, max node) hash-compares."""
    parts = [
        """WITH e AS MATERIALIZED (
        SELECT src, dst FROM (
            SELECT DISTINCT 2*l_partkey AS src, 2*l_suppkey + 1 AS dst
            FROM lineitem
            UNION
            SELECT DISTINCT 2*l_suppkey + 1 AS src, 2*l_partkey AS dst
            FROM lineitem
        )
    ), d0 AS MATERIALIZED (
        SELECT DISTINCT 2*l_partkey AS node, CAST(0 AS BIGINT) AS dist
        FROM lineitem WHERE l_partkey < 3
    )"""
    ]
    for k in range(1, hops + 1):
        parts.append(
            f""", d{k} AS MATERIALIZED (
        SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
            SELECT node, dist FROM d{k - 1}
            UNION ALL
            SELECT e.dst AS node, d.dist + 1 AS dist
            FROM e JOIN d{k - 1} d ON e.src = d.node
        ) GROUP BY node
    )"""
        )
    parts.append(
        f"""
    SELECT dist,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(min(node) AS BIGINT) AS min_node,
           CAST(max(node) AS BIGINT) AS max_node
    FROM d{hops}
    GROUP BY dist
    ORDER BY dist
    """
    )
    return "\n".join(parts)


def bfs_hop(e: DataFrame, dist: DataFrame) -> DataFrame:
    """One BFS hop: ``dist`` (node, dist) united with its one-hop
    expansion over the (src, dst) edges, min distance per node. The
    expansion join is merge-hinted: a frontier is not broadcastable at
    scale (same driver-broadcast-pressure rationale as the PageRank
    iteration join)."""
    expanded = e.join(
        dist.withColumnRenamed("node", "src").hint("merge"), "src"
    ).select(F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist"))
    return (
        dist.unionByName(expanded)
        .groupBy("node")
        .agg(F.min("dist").cast("bigint").alias("dist"))
    )


@register(
    "graph_bfs_distance",
    tags=("graph", "iterative", "join"),
    # Second member of the fixed-iteration graph family (with
    # graph_pagerank_bipartite): k-hop BFS min-distance from a seed
    # set, exact integers end to end, oracled by the identical
    # unrolled program. The per-distance census alternates node kinds
    # (even dist = parts, odd = suppliers — the bipartite structure is
    # visible in the answer), and nodes outside the 4-hop ball are
    # absent, not defaulted, so reachability is part of the contract.
    oracle=_bfs_oracle(),
)
def graph_bfs_distance(spark, sf_dir):
    """Fixed-depth BFS (4 hops) from the part nodes with key < 3 over
    the symmetric part–supplier graph: per-distance census (node
    count, min/max node id). Each hop is one edges⋈frontier join + a
    min-distance aggregate over the union — the Pregel frontier step
    as plain DataFrame ops, checkpointed per hop so the plan stays
    k-shallow. At 100 TB: the frontier is hash-partitioned on node,
    the expansion joins partition on src, and k hops cost k shuffles
    bounded by the reached ball, never the whole graph."""
    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    e = _part_supplier_edges(li).localCheckpoint(eager=True)
    dist0 = (
        li.filter(F.col("l_partkey") < 3)
        .select((2 * F.col("l_partkey")).cast("bigint").alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("bigint"))
        .localCheckpoint(eager=True)
    )
    dist = G.iterate(dist0, lambda d: bfs_hop(e, d), _BFS_HOPS)[0][-1]
    return (
        dist.groupBy("dist")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.min("node").cast("bigint").alias("min_node"),
            F.max("node").cast("bigint").alias("max_node"),
        )
        .orderBy("dist")
    )


# ---------------------------------------------------------------------------
# Connected components (min-label propagation) — VERDICT r11 item 6: the
# transitive-closure step completing the dedup story (pairs -> clusters).

_CC_TRACE_ITERS = 5
_CC_ITERS = 6  # dup-cluster graphs converge by ~3 at every gate SF (measured)


def _cc_stage_sql(k: int, m: str = "m") -> str:
    """One unrolled min-label propagation stage for DuckDB (the
    _pagerank_oracle pattern): label_k(node) = min(label_{k-1} over
    {node} ∪ neighbors)."""
    return f""", {m}{k} AS MATERIALIZED (
        SELECT node, CAST(min(label) AS BIGINT) AS label FROM (
            SELECT node, label FROM {m}{k - 1}
            UNION ALL
            SELECT e.dst AS node, m.label FROM e JOIN {m}{k - 1} m ON e.src = m.node
        ) GROUP BY node
    )"""


def _cc_trace_oracle(iters: int = _CC_TRACE_ITERS) -> str:
    parts = [
        """WITH e AS MATERIALIZED (
        SELECT src, dst FROM (
            SELECT DISTINCT 2*l_partkey AS src, 2*l_suppkey + 1 AS dst
            FROM lineitem WHERE l_quantity <= 2
            UNION
            SELECT DISTINCT 2*l_suppkey + 1 AS src, 2*l_partkey AS dst
            FROM lineitem WHERE l_quantity <= 2
        )
    ), m0 AS MATERIALIZED (
        SELECT DISTINCT src AS node, CAST(src AS BIGINT) AS label FROM e
    )"""
    ]
    for k in range(1, iters + 1):
        parts.append(_cc_stage_sql(k))
    stats = "\n        UNION ALL\n        ".join(
        f"""SELECT CAST({k} AS BIGINT) AS iter,
               CAST(count(DISTINCT label) AS BIGINT) AS n_labels,
               CAST(sum(CASE WHEN node = label THEN 1 ELSE 0 END) AS BIGINT) AS n_roots,
               CAST(sum(label) AS BIGINT) AS sum_label
        FROM m{k}"""
        for k in range(iters + 1)
    )
    parts.append(f"\n    SELECT * FROM (\n        {stats}\n    ) ORDER BY iter\n    ")
    return "\n".join(parts)


@register(
    "graph_cc_labels",
    tags=("graph", "iterative", "dedup"),
    bench=True,
    # Third member of the fixed-iteration graph family: min-label
    # propagation over the SPARSE part–supplier subgraph (edges with
    # l_quantity <= 2 — a natural slice that leaves real multi-component
    # structure at every SF). The result is the per-iteration
    # convergence TRACE (distinct labels, self-rooted nodes, label
    # checksum), so the entry certifies the whole labelling at every
    # step without emitting |V| rows, makes no convergence claim, and
    # stays exact-integer — DuckDB replays the identical unrolled
    # program. (Measured: 160→1 labels by iter 4 at sf0.001; 14,999→14
    # at sf0.1 after 5 iters — a real curve, not a fixed point.)
    oracle=_cc_trace_oracle(),
)
def graph_cc_labels(spark, sf_dir):
    """Connected-component min-label propagation (5 iterations) over the
    sparse part–supplier graph (l_quantity <= 2), reported as the
    convergence trace: per iteration, the number of distinct labels,
    the number of self-rooted nodes (node == label), and the label-sum
    checksum. Each iteration is one aggregate-messages shuffle
    (operators/graphops.py cc_label_trace), checkpointed so the plan
    stays k-shallow; the trace rows are six 1-row aggregates. At
    100 TB: k shuffles bounded by |E|, min() combines map-side, no
    driver state."""
    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    trace = G.cc_label_trace(
        _part_supplier_edges(li.filter(F.col("l_quantity") <= 2)), _CC_TRACE_ITERS
    )
    return _trace(
        trace,
        lambda lab: lab.agg(
            F.countDistinct("label").cast("bigint").alias("n_labels"),
            F.sum(
                F.when(F.col("node") == F.col("label"), F.lit(1)).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("n_roots"),
            F.sum("label").cast("bigint").alias("sum_label"),
        ),
        "iter",
    )


# Exact 3-gram Jaccard pair list (same CTE as dedup_ngram_jaccard's
# oracle) — the DuckDB-side input graph for the dup-cluster CC entries.
_PAIR_CTE = """
    WITH toks AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM documents
    ), sh AS (
        SELECT doc_id,
               list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]) AS shingles
        FROM toks WHERE len(t) >= 3
    ), sizes AS (
        SELECT doc_id, len(shingles) AS sz FROM sh
    ), ex AS (
        SELECT doc_id, unnest(shingles) AS s FROM sh
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ), pairs AS MATERIALIZED (
        SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.2
    ), e AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b AS src, id_a AS dst FROM pairs
    ), m0 AS MATERIALIZED (
        SELECT DISTINCT src AS node, CAST(src AS BIGINT) AS label FROM e
    )"""


def _cluster_cc_oracle(iters: int = _CC_ITERS) -> str:
    parts = [_PAIR_CTE]
    for k in range(1, iters + 1):
        parts.append(_cc_stage_sql(k))
    parts.append(
        f"""
    SELECT CAST(label AS BIGINT) AS cluster_label,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(max(node) AS BIGINT) AS max_doc,
           (SELECT CAST(CASE WHEN count(*) = 0 THEN 1 ELSE 0 END AS INT)
            FROM m{iters} a JOIN m{iters - 1} b USING (node)
            WHERE a.label <> b.label) AS converged
    FROM m{iters}
    GROUP BY label
    ORDER BY n_docs DESC, cluster_label
    """
    )
    return "\n".join(parts)


def _dup_pairs(spark, sf_dir):
    """Exact-verified near-dup pairs (3-gram Jaccard >= 0.2) via the
    MinHash-LSH candidate path — identical shape to dedup_minhash_lsh
    (whose recall-1 precondition vs the exact-Jaccard oracle carries
    over unchanged). Served from the process-memoized parquet fixture
    (queries/fixtures.py frozen_dup_pairs): the CC entries price the
    CLUSTERING over an existing pair table, not pair generation — at
    100 TB the pair set is a materialized intermediate shared by every
    post-dedup consumer, and dedup_minhash_lsh already prices building
    it. Returns (id_a, id_b)."""
    from lakehouse_tacklebox_spark.queries import fixtures as FX

    return FX.frozen_dup_pairs(spark, sf_dir)


@register(
    "dedup_cluster_cc",
    tags=("dedup", "graph", "text", "llm"),
    bench=True,
    # The missing half of the dedup story (VERDICT r11 item 6): LSH
    # gives near-dup PAIRS, real pipelines keep one doc per CLUSTER —
    # the transitive closure of the pair relation. Min-label CC over
    # the exact-verified pair graph, 6 fixed iterations (dup clusters
    # are near-cliques; measured convergence by iter 3 at every gate
    # SF), with a converged flag CERTIFIED on both engines (labels
    # stable between iterations 5 and 6), not assumed. The oracle
    # replays the identical unrolled program over the exact-Jaccard
    # pair set.
    oracle=_cluster_cc_oracle(),
)
def dedup_cluster_cc(spark, sf_dir):
    """Dup-cluster assignment: exact-verified near-dup pairs (3-gram
    Jaccard >= 0.2, LSH-generated candidates) -> connected components
    by min-label propagation (6 iterations) -> per-cluster census
    (canonical min-doc label, size, max doc id) plus a converged flag.
    The cluster label is the component's smallest doc_id — the
    canonical keep-representative choice. At 100 TB the pair graph is
    tiny relative to the corpus (near-dup pairs only), each CC
    iteration is one shuffle over it, and the census never touches
    document text."""
    pairs = _dup_pairs(spark, sf_dir)
    # cc_min_label_converged skips iterations past the certified fixed
    # point (label-sum monotonicity — identical labels to running all 6
    # blind) and its converged bool IS "labels stable between the last
    # two iterations": label-sum equality between steps k-1 and k means
    # zero labels changed at step k, replacing the former full-frame
    # equality join + count with one scalar per step.
    final, converged = G.cc_min_label_converged(G.symmetric_edges(pairs), _CC_ITERS)
    return (
        final.groupBy(F.col("label").alias("cluster_label"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.max("node").cast("bigint").alias("max_doc"),
        )
        .withColumn("converged", F.lit(1 if converged else 0).cast("int"))
        .orderBy(F.col("n_docs").desc(), "cluster_label")
    )


def _cc_incremental_oracle(iters: int = _CC_ITERS) -> str:
    parts = [_PAIR_CTE]
    for k in range(1, iters + 1):
        parts.append(_cc_stage_sql(k))
    parts.append(
        f"""
    SELECT CAST(label AS BIGINT) AS cluster_label,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(max(node) AS BIGINT) AS max_doc,
           (SELECT CAST(CASE WHEN count(*) = 0 THEN 1 ELSE 0 END AS INT)
            FROM m{iters} a JOIN m{iters - 1} b USING (node)
            WHERE a.label <> b.label) AS converged,
           CAST(1 AS INT) AS matches_full
    FROM m{iters}
    GROUP BY label
    ORDER BY n_docs DESC, cluster_label
    """
    )
    return "\n".join(parts)


@register(
    "graph_cc_incremental",
    tags=("graph", "dedup", "incremental", "llm"),
    bench=True,
    # Incremental CC maintenance — the label-store posture at 100 TB:
    # the already-labelled corpus (doc_id % 3 != 0) is represented ONLY
    # by its (node, label) store; a new batch's pairs are folded in by
    # CONTRACTION (relabel endpoints with store labels, run CC on the
    # label graph — one node per touched COMPONENT, so the merge prices
    # at batch size, never corpus size) and the root map composes back
    # over the store. Min-label is canonical, so the merged labelling
    # must EQUAL a from-scratch recompute over base+batch —
    # matches_full certifies that equality via a 4-fold row-set
    # signature (count/xor/sum/sum-of-squares) on both censuses, and
    # the oracle pins the recomputed census itself. Pair DISCOVERY for
    # the batch is priced separately (dedup_incremental_lsh); this
    # entry prices label maintenance.
    oracle=_cc_incremental_oracle(),
)
def graph_cc_incremental(spark, sf_dir):
    """Incremental dup-cluster maintenance: base labels (docs with
    doc_id % 3 != 0) merged with the batch's new pairs by label-graph
    contraction (operators/graphops.py merge_labels_incremental), then
    the same census as dedup_cluster_cc. Flags: converged (full
    recompute's labels stable between the last two iterations, computed
    identically on both engines) and matches_full (incremental census
    == full-recompute census as a row set — the canonical-label
    equality the contraction argument promises)."""
    from lakehouse_tacklebox_spark.operators.concurrency import run_concurrent
    from lakehouse_tacklebox_spark.operators.signature import rowsets_equal

    pairs = _dup_pairs(spark, sf_dir).localCheckpoint(eager=True)
    base_pairs = pairs.filter((F.col("id_a") % 3 != 0) & (F.col("id_b") % 3 != 0))
    new_pairs = pairs.filter((F.col("id_a") % 3 == 0) | (F.col("id_b") % 3 == 0))

    census_cols = ["cluster_label", "n_docs", "max_doc"]

    def census(labels):
        return labels.groupBy(F.col("label").alias("cluster_label")).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.max("node").cast("bigint").alias("max_doc"),
        )

    # Two independent job chains (guide §2.6 overlap): the incremental
    # leg (base CC → contraction merge → census) and the certification
    # leg (full recompute over base+batch). Each is a string of small
    # fixed-point iterations that never fills the cluster on its own;
    # running them concurrently back-fills each other's barrier stalls.
    # Iterations past each graph's certified fixed point are skipped
    # (label-sum monotonicity — identical labels), and the full leg's
    # converged bool replaces the former labels(5)-vs-labels(6) equality
    # join + count with one scalar per step.
    def inc_leg():
        base_labels = G.cc_min_label(G.symmetric_edges(base_pairs), _CC_ITERS)
        merged = G.merge_labels_incremental(base_labels, new_pairs, _CC_ITERS)
        return census(merged).localCheckpoint(eager=True)

    def full_leg():
        return G.cc_min_label_converged(G.symmetric_edges(pairs), _CC_ITERS)

    inc_census, (full, converged) = run_concurrent(spark, inc_leg, full_leg)
    ok = rowsets_equal(inc_census, census(full), census_cols)
    return (
        inc_census.withColumn("converged", F.lit(1 if converged else 0).cast("int"))
        .withColumn("matches_full", F.lit(1 if ok else 0).cast("int"))
        .orderBy(F.col("n_docs").desc(), "cluster_label")
    )


_CC2_ROUNDS = 5  # edge-set fixed point measured at round <= 5 at every gate SF


def _cc_twophase_oracle(rounds: int = _CC2_ROUNDS) -> str:
    """Unrolled large-star/small-star program for DuckDB: per phase one
    neighborhood-min CTE, one emission CTE, one re-symmetrized edge
    CTE; per-round stats from the even (post-small-star) edge frames;
    converged = edge-set equality of the last two rounds."""
    parts = [
        """WITH e0 AS MATERIALIZED (
        SELECT src, dst FROM (
            SELECT DISTINCT 2*l_partkey AS src, 2*l_suppkey + 1 AS dst
            FROM lineitem WHERE l_quantity <= 2
            UNION
            SELECT DISTINCT 2*l_suppkey + 1 AS src, 2*l_partkey AS dst
            FROM lineitem WHERE l_quantity <= 2
        )
    )"""
    ]
    for i in range(1, 2 * rounds + 1):
        parts.append(
            f""", nm{i} AS MATERIALIZED (
        SELECT src AS u, least(min(dst), src) AS m FROM e{i - 1} GROUP BY src
    )"""
        )
        if i % 2 == 1:
            parts.append(
                f""", ne{i} AS MATERIALIZED (
        SELECT DISTINCT least(e.dst, nm.m) AS a, greatest(e.dst, nm.m) AS b
        FROM e{i - 1} e JOIN nm{i} nm ON e.src = nm.u
        WHERE e.dst > e.src AND least(e.dst, nm.m) <> greatest(e.dst, nm.m)
    )"""
            )
        else:
            parts.append(
                f""", ne{i} AS MATERIALIZED (
        SELECT DISTINCT a, b FROM (
            SELECT least(e.dst, nm.m) AS a, greatest(e.dst, nm.m) AS b
            FROM e{i - 1} e JOIN nm{i} nm ON e.src = nm.u
            WHERE e.dst <= e.src
            UNION ALL
            SELECT least(u, m), greatest(u, m) FROM nm{i}
        ) WHERE a <> b
    )"""
            )
        parts.append(
            f""", e{i} AS MATERIALIZED (
        SELECT a AS src, b AS dst FROM ne{i} UNION SELECT b AS src, a AS dst FROM ne{i}
    )"""
        )
    stats = "\n        UNION ALL\n        ".join(
        f"""SELECT CAST({r} AS BIGINT) AS round,
               (SELECT CAST(count(*) AS BIGINT) FROM e{2 * r} WHERE src < dst) AS n_edges,
               (SELECT CAST(count(DISTINCT src) AS BIGINT) FROM e{2 * r}) AS n_nodes,
               (SELECT CAST(count(DISTINCT label) AS BIGINT) FROM (
                   SELECT least(src, min(dst)) AS label FROM e{2 * r} GROUP BY src)) AS n_components"""
        for r in range(1, rounds + 1)
    )
    last, prev = 2 * rounds, 2 * rounds - 2
    parts.append(
        f"""
    SELECT s.round, s.n_edges, s.n_nodes, s.n_components,
           (SELECT CAST(CASE WHEN NOT EXISTS (
                    SELECT src, dst FROM e{last} EXCEPT SELECT src, dst FROM e{prev})
                AND NOT EXISTS (
                    SELECT src, dst FROM e{prev} EXCEPT SELECT src, dst FROM e{last})
               THEN 1 ELSE 0 END AS INT)) AS converged
    FROM (
        {stats}
    ) s
    ORDER BY s.round
    """
    )
    return "\n".join(parts)


@register(
    "graph_cc_twophase",
    tags=("graph", "iterative", "dedup"),
    bench=True,
    # The 100 TB-correct CC variant (Kiveris et al., SoCC 2014):
    # graph_cc_labels shows plain min-label propagation still carrying
    # stale labels after 5 hops on this graph (14 labels at sf0.1);
    # large-star/small-star CONTRACTS the edge set toward component
    # stars and reaches the fixed point in <= 5 rounds at every gate SF
    # (measured; the converged flag certifies edge-set equality of the
    # last two rounds on BOTH engines). The per-round trace (edge count,
    # node count, component count) pins the whole contraction, and the
    # oracle replays the identical unrolled program.
    oracle=_cc_twophase_oracle(),
)
def graph_cc_twophase(spark, sf_dir):
    """Large-star/small-star connected components over the same sparse
    part–supplier graph as graph_cc_labels, reported as the per-round
    contraction trace (undirected edge count, node count, component
    count) plus a converged flag (edge set stable across the last two
    rounds). Each phase is edge-bounded shuffles only
    (operators/graphops.py cc_two_phase_rounds), with a lazy cut
    between the phases and the loop's barrier after each round; O(log d) rounds replace min-label's O(d) hops — the variant
    a web-scale dedup graph actually needs."""
    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    # return_converged: the per-round 4-fold signature that already
    # gates the round-skip doubles as the converged flag (equal sets ⟹
    # equal signatures; unequal signatures PROVE unequal sets) —
    # exact-equality pin at sf0.001 in tests/test_graph_cc.py.
    rounds, stable = G.cc_two_phase_rounds(
        _part_supplier_edges(li.filter(F.col("l_quantity") <= 2)),
        _CC2_ROUNDS,
        return_converged=True,
    )

    def core(e):
        return (
            e.filter(F.col("src") < F.col("dst"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
            .crossJoin(e.agg(F.countDistinct("src").cast("bigint").alias("n_nodes")))
            .crossJoin(
                G.star_labels(e).agg(
                    F.countDistinct("label").cast("bigint").alias("n_components")
                )
            )
        )

    return _trace(rounds, core, "round", start=1).withColumn(
        "converged", F.lit(1 if stable else 0).cast("int")
    )


# Natural slice for the co-purchase graph: return-flagged lineitems
# (~25% of rows) keep the triangle structure real while bounding the
# per-order pair fan-out at the bench scales. The SAME predicate is in
# the oracle SQL.
_TRI_PRED = "l_returnflag = 'R'"


def _triangle_oracle() -> str:
    return f"""
    WITH e AS MATERIALIZED (
        SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
                        greatest(a.l_partkey, b.l_partkey) AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        WHERE a.{_TRI_PRED} AND b.{_TRI_PRED}
    ), deg AS MATERIALIZED (
        SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
            SELECT u AS node FROM e UNION ALL SELECT v FROM e
        ) GROUP BY node
    ), o AS MATERIALIZED (
        SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS s,
               CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS t
        FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
    ), wedges AS (
        SELECT o1.t AS x, o2.t AS y
        FROM o o1 JOIN o o2 ON o1.s = o2.s AND o1.t < o2.t
    ), tri AS (
        SELECT CAST(count(*) AS BIGINT) AS n_tri
        FROM wedges w JOIN e ON e.u = least(w.x, w.y) AND e.v = greatest(w.x, w.y)
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
           (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
           (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) FROM deg) AS n_wedges,
           (SELECT n_tri FROM tri) AS n_triangles,
           (SELECT CAST(CASE WHEN (SELECT sum(d * (d - 1) // 2) FROM deg) > 0
                THEN (3 * 1000000 * (SELECT n_tri FROM tri))
                     // (SELECT sum(d * (d - 1) // 2) FROM deg)
                ELSE 0 END AS BIGINT))
               AS global_clustering_ppm
    """


@register(
    "graph_triangle_count",
    tags=("graph", "join"),
    bench=True,
    # Exact triangle census over the part co-purchase graph (parts
    # bought together in one order, return-flagged slice) — the classic
    # degree-ordered node-iterator (Schank; Suri-Vassilvitskii's
    # MapReduce formulation): orient every edge from its lower-(degree,
    # id) endpoint, enumerate wedges only at each edge's SMALLER
    # endpoint (out-degree is bounded by ~sqrt(2m) after orientation,
    # so no heavy hitter explodes the 2-path join), then close wedges
    # against the edge set with one semi-join. Everything is exact
    # integers; the oracle replays the identical program.
    oracle=_triangle_oracle(),
)
def graph_triangle_count(spark, sf_dir):
    """Triangle count + global clustering coefficient (ppm) of the
    part co-purchase graph: n_nodes, n_edges, wedge count, exact
    triangle count via the degree-ordered wedge join. At 100 TB:
    orientation by (degree, id) is one broadcast-or-shuffle join
    against the degree census; wedges shuffle on the wedge endpoints;
    the closure is an edge-set semi-join — no stage is quadratic in a
    hub's degree."""
    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"].filter(
        F.expr(_TRI_PRED)
    ).select("l_orderkey", "l_partkey")
    a = li.alias("a")
    b = li.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").cast("bigint").alias("u"),
            F.col("b.l_partkey").cast("bigint").alias("v"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    return G.triangle_census(e)


_PPR_ITERS = 4
_PPR_TOPK = 20


def _ppr_oracle(iters: int = _PPR_ITERS, topk: int = _PPR_TOPK) -> str:
    """Unrolled seeded (personalized) PageRank for DuckDB: restart mass
    lands ONLY on the seed nodes, so the mass table holds just the
    reached ball — the frontier-sparse property that distinguishes PPR
    from the global power method."""
    parts = [
        """WITH e AS MATERIALIZED (
        SELECT src, dst FROM (
            SELECT DISTINCT 2*l_partkey AS src, 2*l_suppkey + 1 AS dst FROM lineitem
            UNION
            SELECT DISTINCT 2*l_suppkey + 1 AS src, 2*l_partkey AS dst FROM lineitem
        )
    ), deg AS MATERIALIZED (
        SELECT src AS node, CAST(count(*) AS BIGINT) AS outdeg FROM e GROUP BY 1
    ), seeds AS MATERIALIZED (
        SELECT DISTINCT CAST(2*l_partkey AS BIGINT) AS node,
               CAST(150000 AS BIGINT) AS base
        FROM lineitem WHERE l_partkey < 3
    ), m0 AS MATERIALIZED (
        SELECT node, CAST(1000000 AS BIGINT) AS mass FROM seeds
    )"""
    ]
    for k in range(1, iters + 1):
        parts.append(
            f""", m{k} AS MATERIALIZED (
        SELECT node, mass FROM (
            SELECT coalesce(s.node, i.node) AS node,
                   CAST(coalesce(s.base, 0) + (85 * coalesce(i.s, 0)) // 100 AS BIGINT) AS mass
            FROM seeds s FULL OUTER JOIN (
                SELECT e.dst AS node, CAST(sum(m.mass // d.outdeg) AS BIGINT) AS s
                FROM e JOIN m{k - 1} m ON m.node = e.src
                JOIN deg d ON d.node = e.src
                GROUP BY 1
            ) i ON i.node = s.node
        ) WHERE mass > 0
    )"""
        )
    parts.append(
        f"""
    SELECT node, mass AS mass_ppm,
           CAST(row_number() OVER (ORDER BY mass DESC, node) AS BIGINT) AS rank,
           CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END AS kind
    FROM m{iters}
    QUALIFY rank <= {topk}
    ORDER BY rank
    """
    )
    return "\n".join(parts)


@register(
    "graph_ppr_seeded",
    tags=("graph", "iterative", "retrieval"),
    bench=True,
    # Personalized PageRank from a seed set — the graph-RAG retrieval
    # primitive (rank the neighborhood of the query's entities): same
    # integer power step as graph_pagerank_bipartite, but restart mass
    # lands ONLY on the seeds, so the mass table is the REACHED BALL,
    # not the node set — at 100 TB a PPR query over a sparse graph
    # touches frontier-sized state per iteration (13 -> 210 nodes over
    # 4 iterations at sf0.001, measured), never |V|. Exact floor
    # arithmetic, unrolled-CTE oracle, full tie-break.
    oracle=_ppr_oracle(),
)
def graph_ppr_seeded(spark, sf_dir):
    """Seeded (personalized) PageRank, 4 iterations, over the symmetric
    part–supplier graph: restart 150000 ppm on the seed parts (key <
    3), damping 0.85, floor division — top-20 reached nodes by mass.
    Each iteration is one aggregate-messages shuffle bounded by the
    frontier's out-edges plus a full-outer merge with the seed frame;
    absent nodes are absent, not zero-filled, which is what keeps PPR
    query-time-cheap on sparse graphs at scale."""
    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    e = _part_supplier_edges(li).localCheckpoint(eager=True)
    deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("outdeg")
    )
    # outdeg folded onto the edges once (loop-invariant — the same
    # routing-table move as graph_pagerank_bipartite): each iteration
    # is ONE frontier-bounded sort-merge join + one aggregate.
    e2 = (
        e.join(deg.withColumnRenamed("node", "src").hint("merge"), "src")
        .select("src", "dst", "outdeg")
        .localCheckpoint(eager=True)
    )
    seeds = (
        li.filter(F.col("l_partkey") < 3)
        .select((2 * F.col("l_partkey")).cast("bigint").alias("node"))
        .distinct()
        .withColumn("base", F.lit(150000).cast("bigint"))
        .localCheckpoint(eager=True)
    )

    def ppr_step(mass):
        inflow = (
            e2.join(mass.withColumnRenamed("node", "src").hint("merge"), "src")
            .select("dst", F.expr("mass DIV outdeg").alias("c"))
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("c").cast("bigint").alias("s"))
        )
        return (
            seeds.join(inflow, "node", "full_outer")
            .select(
                "node",
                (
                    F.coalesce("base", F.lit(0))
                    + F.expr("(85 * coalesce(s, CAST(0 AS BIGINT))) DIV 100")
                )
                .cast("bigint")
                .alias("mass"),
            )
            .filter(F.col("mass") > 0)
        )

    mass0 = seeds.select("node", F.lit(1000000).cast("bigint").alias("mass"))
    mass = G.iterate(mass0, ppr_step, _PPR_ITERS)[0][-1]
    top = mass.orderBy(F.col("mass").desc(), "node").limit(_PPR_TOPK).collect()
    return spark.createDataFrame(
        [
            (r["node"], r["mass"], i + 1, "part" if r["node"] % 2 == 0 else "supplier")
            for i, r in enumerate(top)
        ],
        "node bigint, mass_ppm bigint, rank bigint, kind string",
    ).orderBy("rank")


def _dup_rate_oracle(iters: int = _CC_ITERS) -> str:
    parts = [_PAIR_CTE]
    for k in range(1, iters + 1):
        parts.append(_cc_stage_sql(k))
    parts.append(
        f"""
    , dups AS MATERIALIZED (
        SELECT node AS doc_id FROM m{iters} WHERE node <> label
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(dups.doc_id) AS BIGINT) AS n_dups,
           CAST(count(dups.doc_id) * 1000000 // count(*) AS BIGINT) AS dup_rate_ppm
    FROM documents d LEFT JOIN dups ON dups.doc_id = d.doc_id
    GROUP BY d.source
    ORDER BY d.source
    """
    )
    return "\n".join(parts)


@register(
    "corpus_dup_rate_by_source",
    tags=("corpus", "dedup", "graph", "llm"),
    bench=True,
    # The reporting step that makes dup-cluster CC actionable: per
    # ingestion source, how much of the corpus would near-dup removal
    # delete (keep the cluster-min representative, drop the rest)?
    # Exactly the dashboard a 100 TB curation run reads to decide which
    # crawls/feeds are rotten. Labels come from the same min-label CC
    # over the exact-verified pair graph as dedup_cluster_cc; the
    # census joins back to documents once and groups on source —
    # integer ppm, full oracle.
    oracle=_dup_rate_oracle(),
)
def corpus_dup_rate_by_source(spark, sf_dir):
    """Near-duplication rate per ingestion source: CC labels over the
    exact near-dup pair graph, non-representative cluster members
    counted as removable duplicates, grouped by documents.source with
    the rate in integer ppm. One dup-id frame joined to one corpus scan
    (left unhinted: dup sets are tiny on clean corpora but can be a
    large corpus fraction on rotten ones — AQE picks broadcast vs
    shuffle from the actual size) — the cost is the CC
    (pair-graph-bounded) plus a single pass over documents."""
    labels = G.cc_min_label(G.symmetric_edges(_dup_pairs(spark, sf_dir)), _CC_ITERS)
    dups = labels.filter(F.col("node") != F.col("label")).select(
        F.col("node").alias("doc_id"), F.lit(1).alias("is_dup")
    )
    d = load_tables(spark, sf_dir, ["documents"])["documents"].select("doc_id", "source")
    return (
        d.join(dups, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.count("is_dup").cast("bigint").alias("n_dups"),
        )
        .withColumn(
            "dup_rate_ppm",
            F.expr("CAST(n_dups * CAST(1000000 AS BIGINT) DIV n_docs AS BIGINT)"),
        )
        .orderBy("source")
    )


# Deletion-side CC maintenance: same exact-Jaccard pair graph, but the
# forget-list (doc_id % 7 == 3) is removed — the GDPR/retraction shape
# the streaming MVs already handle for aggregates, applied to the label
# store. The oracle recomputes from scratch over SURVIVING pairs only.
_CC_DEL_PRED = "% 7 = 3"


def _cc_decremental_oracle(iters: int = _CC_ITERS) -> str:
    # _PAIR_CTE builds pairs/e/m0 over the full corpus; splice a
    # surviving-pair filter into the e and m0 stages.
    cte = _PAIR_CTE.replace(
        """    ), e AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b AS src, id_a AS dst FROM pairs
    )""",
        f"""    ), surv AS MATERIALIZED (
        SELECT id_a, id_b FROM pairs
        WHERE NOT (id_a {_CC_DEL_PRED}) AND NOT (id_b {_CC_DEL_PRED})
    ), e AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst FROM surv
        UNION
        SELECT id_b AS src, id_a AS dst FROM surv
    )""",
    )
    assert "surv AS MATERIALIZED" in cte, "pair CTE splice failed"
    parts = [cte]
    for k in range(1, iters + 1):
        parts.append(_cc_stage_sql(k))
    parts.append(
        f"""
    SELECT CAST(label AS BIGINT) AS cluster_label,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(max(node) AS BIGINT) AS max_doc,
           (SELECT CAST(CASE WHEN count(*) = 0 THEN 1 ELSE 0 END AS INT)
            FROM m{iters} a JOIN m{iters - 1} b USING (node)
            WHERE a.label <> b.label) AS converged,
           CAST(1 AS INT) AS matches_full
    FROM m{iters}
    GROUP BY label
    ORDER BY n_docs DESC, cluster_label
    """
    )
    return "\n".join(parts)


@register(
    "graph_cc_decremental",
    tags=("graph", "dedup", "incremental", "llm"),
    bench=True,
    # The DELETION half of label-store maintenance (graph_cc_incremental
    # and stream_cc_labels_mv cover inserts): removing documents can
    # SPLIT components — the case contraction cannot handle — so the
    # store is repaired by recomputing CC only inside the AFFECTED
    # components (those containing a removed doc; pairs never cross
    # components, so membership of one endpoint suffices to select the
    # affected subgraph). Untouched components keep their rows verbatim;
    # survivors that lost their last pair drop out; a component whose
    # min-id doc was forgotten gets a fresh canonical label. Cost ∝
    # affected components + forget-list, never the corpus. matches_full
    # certifies equality with a from-scratch recompute over surviving
    # pairs (4-fold row-set signature); the oracle replays that full
    # recompute.
    oracle=_cc_decremental_oracle(),
)
def graph_cc_decremental(spark, sf_dir):
    """Label-store repair under deletion: the forget-list (doc_id % 7
    == 3) leaves the corpus; affected components (those containing a
    removed doc) are re-solved on their surviving subgraph, all other
    store rows are untouched. Census (canonical label, size, max doc)
    over the repaired store plus converged and matches_full flags."""
    from lakehouse_tacklebox_spark.operators.concurrency import run_concurrent
    from lakehouse_tacklebox_spark.operators.signature import rowset_signature

    pairs = _dup_pairs(spark, sf_dir).localCheckpoint(eager=True)
    surviving_pairs = pairs.filter(
        ~F.expr(f"id_a {_CC_DEL_PRED}") & ~F.expr(f"id_b {_CC_DEL_PRED}")
    )

    def census(labels):
        return labels.groupBy(F.col("label").alias("cluster_label")).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.max("node").cast("bigint").alias("max_doc"),
        )

    # Two independent job chains (guide §2.6 overlap): the repair leg
    # (pre-deletion store → affected-component re-solve) and the
    # certification leg (full recompute over surviving pairs) share no
    # inputs beyond the checkpointed pair frame, and each is a string of
    # small fixed-point iterations; overlapping them back-fills each
    # other's barrier stalls. Iterations past each graph's certified
    # fixed point are skipped (label-sum monotonicity — identical
    # labels), and the full leg's converged bool replaces the former
    # labels(5)-vs-labels(6) equality join + count.
    def repair_leg():
        store = G.cc_min_label(G.symmetric_edges(pairs), _CC_ITERS).localCheckpoint(
            eager=True
        )
        removed = store.filter(F.expr(f"node {_CC_DEL_PRED}")).select("node")
        new_store = G.repair_labels_decremental(
            store, surviving_pairs, removed, _CC_ITERS
        )
        return census(new_store).localCheckpoint(eager=True)

    def full_leg():
        return G.cc_min_label_converged(G.symmetric_edges(surviving_pairs), _CC_ITERS)

    inc_census, (full, converged) = run_concurrent(spark, repair_leg, full_leg)

    cols = ["cluster_label", "n_docs", "max_doc"]
    ok = rowset_signature(inc_census, cols) == rowset_signature(census(full), cols)
    return (
        inc_census.withColumn("converged", F.lit(1 if converged else 0).cast("int"))
        .withColumn("matches_full", F.lit(1 if ok else 0).cast("int"))
        .orderBy(F.col("n_docs").desc(), "cluster_label")
    )


_KCORE_K = 2
_KCORE_ROUNDS = 4


def _kcore_oracle(k: int = _KCORE_K, rounds: int = _KCORE_ROUNDS) -> str:
    parts = [
        """WITH e0 AS MATERIALIZED (
        SELECT src, dst FROM (
            SELECT DISTINCT 2*l_partkey AS src, 2*l_suppkey + 1 AS dst
            FROM lineitem WHERE l_quantity <= 2
            UNION
            SELECT DISTINCT 2*l_suppkey + 1 AS src, 2*l_partkey AS dst
            FROM lineitem WHERE l_quantity <= 2
        )
    )"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""", k{r - 1} AS MATERIALIZED (
        SELECT src FROM e{r - 1} GROUP BY src HAVING count(*) >= {k}
    ), e{r} AS MATERIALIZED (
        SELECT e.src, e.dst
        FROM e{r - 1} e
        JOIN k{r - 1} a ON e.src = a.src
        JOIN k{r - 1} b ON e.dst = b.src
    )"""
        )
    stats = "\n        UNION ALL\n        ".join(
        f"""SELECT CAST({r} AS BIGINT) AS round,
               CAST(count(DISTINCT src) AS BIGINT) AS n_nodes,
               CAST(count(*) AS BIGINT) AS n_dir_edges,
               CAST(coalesce(sum(DISTINCT src), 0) AS BIGINT) AS node_checksum
        FROM e{r}"""
        for r in range(rounds + 1)
    )
    parts.append(f"\n    SELECT * FROM (\n        {stats}\n    ) ORDER BY round\n    ")
    return "\n".join(parts)


@register(
    "graph_kcore_extract",
    tags=("graph", "iterative", "dedup"),
    bench=True,
    # k-core extraction by synchronous peeling over the same sparse
    # part–supplier graph as the CC family: each round removes every
    # node of current degree < k with its edges (removals cascade, so
    # rounds matter). Reported as the per-round peel TRACE (surviving
    # nodes, directed edge rows, node-id checksum) — certifies every
    # round without emitting |V| rows and makes no convergence claim
    # (the repeated tail rows ARE the fixed-point evidence); DuckDB
    # replays the identical unrolled program. Corpus-curation use: the
    # 2-core of a dup-pair graph separates densely inter-duplicated
    # clusters from incidental one-off matches. (Measured: 160 → 84
    # nodes at sf0.001, 14,999 → 7,741 at sf0.1 — both fixed points
    # after round 1, with rounds 2-4 as the repeated-row evidence; the
    # cascade depth grows with graph diameter, not SF.)
    oracle=_kcore_oracle(),
)
def graph_kcore_extract(spark, sf_dir):
    """k=2 core of the sparse part–supplier graph by iterative peeling
    (operators/graphops.py kcore_peel_trace): per round, one map-side-
    combined degree aggregate + two semi-joins — edge-bounded shuffles,
    checkpointed rounds-shallow, no driver state. The returned rows are
    the peel trace: (round, n_nodes, n_dir_edges, node_checksum)."""
    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    trace = G.kcore_peel_trace(
        _part_supplier_edges(li.filter(F.col("l_quantity") <= 2)), _KCORE_K, _KCORE_ROUNDS
    )
    return _trace(
        trace,
        lambda e: e.agg(
            F.count_distinct("src").cast("bigint").alias("n_nodes"),
            F.count(F.lit(1)).cast("bigint").alias("n_dir_edges"),
            F.coalesce(F.sum_distinct(F.col("src")), F.lit(0))
            .cast("bigint")
            .alias("node_checksum"),
        ),
        "round",
    )
