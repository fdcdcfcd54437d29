"""Physical-plan shape assertions: the scale claims in SCALING.md,
checked against `.explain` output so regressions that silently
de-optimize a plan (lost pushdown, widened scan, broadcast → shuffle,
extra pass over the fact table) fail CI.
"""

from __future__ import annotations

from lakehouse_tacklebox_spark.queries import REGISTRY
from tests.conftest import SF_DIR


def _plan(df, mode="formatted") -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def test_q6_pushdown_and_narrow_scan(spark):
    df = REGISTRY["q6_forecast_revenue"].fn(spark, SF_DIR)
    plan = _plan(df)
    # every predicate reaches the parquet reader
    assert "PushedFilters" in plan
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert any(col in line for line in plan.splitlines() if "PushedFilters" in line), col
    # column pruning: the scan reads only the 4 needed columns
    read_schema = next(line for line in plan.splitlines() if "ReadSchema" in line)
    for col in ("l_shipdate", "l_discount", "l_quantity", "l_extendedprice"):
        assert col in read_schema
    for col in ("l_orderkey", "l_partkey", "l_comment", "l_tax", "l_returnflag"):
        assert col not in read_schema


def test_q7_broadcasts_dims_no_cartesian(spark):
    df = REGISTRY["q7_volume_shipping"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q21_single_lineitem_scan(spark):
    df = REGISTRY["q21_waiting_suppliers"].fn(spark, SF_DIR)
    plan = _plan(df)
    # detail headers like "(1) Scan parquet" appear once per scan node
    # (tree lines would double-count)
    scans = [
        line
        for line in plan.splitlines()
        if line.strip().startswith("(") and "Scan parquet" in line
    ]
    # lineitem, orders, supplier, nation — exactly four scans, no second
    # pass over the fact table and no expand from multi-distinct aggs
    assert len(scans) == 4, scans
    assert "Expand" not in plan


def test_topn_window_group_limit(spark):
    df = REGISTRY["win_topn_per_group"].fn(spark, SF_DIR)
    plan = _plan(df)
    # Spark 4 pushes rank()<=k below the shuffle as WindowGroupLimit
    assert "WindowGroupLimit" in plan


def test_no_bench_query_degrades_to_cartesian(spark):
    # a lost equi-join condition silently becomes a cartesian product —
    # catastrophic at scale. join_cross is the one intentional cross join
    # in the battery and is not in the bench set.
    from lakehouse_tacklebox_spark.queries import bench_queries

    for name, spec in bench_queries().items():
        plan = _plan(spec.fn(spark, SF_DIR), "simple")
        assert "CartesianProduct" not in plan, name


def test_scale_path_dedup_has_no_pair_explosion(spark):
    # SCALING.md: "no O(n²) pair generation anywhere on the scale path".
    # The bucketed/banded variants must candidate-pair via equi-joins on
    # hash buckets; a Cartesian/nested-loop node means the band join
    # degraded and the operator is quadratic again. (knn_bruteforce and
    # emb_neardup_pairs are the documented exact all-pairs baselines and
    # are intentionally excluded.)
    for name in (
        "dedup_exact_stats",
        "dedup_exact_survivors",
        "dedup_ngram_jaccard",
        "dedup_minhash_lsh",
        "dedup_simhash",
        "emb_neardup_lsh",
    ):
        plan = _plan(REGISTRY[name].fn(spark, SF_DIR), "simple")
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
    # knn_ivf's centroid assignment is vector × broadcast(num_centroids
    # centroids) — O(n·k) with k bounded, so a BroadcastNestedLoopJoin is
    # the intended linear pass; only an un-broadcast cartesian (n² over
    # the corpus) would mean the plan degraded
    plan = _plan(REGISTRY["knn_ivf"].fn(spark, SF_DIR), "simple")
    assert "CartesianProduct" not in plan, "knn_ivf"


def test_asof_join_single_shuffle_no_join_node(spark):
    # the union-window as-of form costs ONE hash shuffle of left+right on
    # the key and zero join nodes — a regression to a range join would
    # surface as SortMergeJoin/BroadcastNestedLoopJoin plus extra
    # exchanges and explode quadratically per key at scale
    df = REGISTRY["join_asof"].fn(spark, SF_DIR)
    plan = _plan(df, "simple")
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan
    exchanges = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(exchanges) == 1, exchanges
    assert "Window" in plan


def test_agg_is_partial_and_codegen(spark):
    df = REGISTRY["q1_pricing_summary"].fn(spark, SF_DIR)
    # map-side combine: partial aggregate below the exchange
    assert "partial_sum" in _plan(df, "simple")
    # the whole agg pipeline compiles into whole-stage-codegen subtrees
    assert "WholeStageCodegen" in _plan(df, "codegen")


def test_metrics_top_durations_window_group_limit(spark):
    # the global rank must run behind a WindowGroupLimit (each partition
    # keeps its local top-100 before the single-partition window) and end
    # in TakeOrderedAndProject — never a full global sort of the table
    df = REGISTRY["metrics_top_durations"].fn(spark, SF_DIR)
    plan = _plan(df, "simple")
    assert "WindowGroupLimit" in plan
    assert "TakeOrderedAndProject" in plan


def test_metrics_error_classes_broadcasts_total(spark):
    # the share-of-total join is a 1-row broadcast, not a shuffle
    df = REGISTRY["metrics_error_classes"].fn(spark, SF_DIR)
    plan = _plan(df, "simple")
    assert "CartesianProduct" not in plan


def test_salted_join_stays_equi_join(spark):
    # salting must produce a plain equi-join on (key, salt) — losing the
    # salt from the join condition would silently cartesian the replicas
    df = REGISTRY["join_salted_skew"].fn(spark, SF_DIR)
    plan = _plan(df, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_decontaminate_broadcast_semi_probe(spark):
    """The corpus side of decontamination must be a broadcast semi-join
    probe — never a shuffled join of the training scan."""
    df = REGISTRY["text_decontaminate"].fn(spark, SF_DIR)
    plan = _plan(df, "simple")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    # no SortMergeJoin anywhere: the eval-set probe and the flag join-back
    # both stay hash joins
    assert "SortMergeJoin" not in plan


def test_ds_multi_count_single_scan(spark):
    """q88 shape: eight conditional counts must read events exactly once."""
    df = REGISTRY["ds_multi_count_buckets"].fn(spark, SF_DIR)
    plan = _plan(df)
    scans = [
        line
        for line in plan.splitlines()
        if line.strip().startswith("(") and "Scan parquet" in line
    ]
    assert len(scans) == 1, scans


def test_corpus_pipeline_single_corpus_scan_per_branch(spark):
    """The pipeline composes filter → digest dedup → broadcast probe →
    window pack without ever cross-joining or degenerating to a
    cartesian plan."""
    df = REGISTRY["corpus_pipeline"].fn(spark, SF_DIR)
    plan = _plan(df, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # decontamination stage appears as a broadcast semi join
    assert "LeftSemi" in plan


def test_quantize_stays_in_expressions(spark):
    """Quantization is pure array expressions — no Python evaluation node."""
    df = REGISTRY["emb_quantize_stats"].fn(spark, SF_DIR)
    plan = _plan(df, "simple")
    for bad in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert bad not in plan, bad


def test_ngram_jaccard_stays_pipelined(spark):
    """Pin the r4 jaccard shape: one fully-pipelined DAG, NO persist
    barrier (a cache write between shingling and the postings join
    measured ~2x the pipelined wall-clock — the r3 regression), the
    stop-shingle cap applied to every postings branch as a broadcast
    LEFT ANTI, and hash joins throughout."""
    # another query's lingering persist (minhash shares the shingle
    # subplan) would be CacheManager-substituted into this plan
    spark.catalog.clearCache()
    df = REGISTRY["dedup_ngram_jaccard"].fn(spark, SF_DIR)
    plan = _plan(df, "simple")
    assert "InMemoryRelation" not in plan, "persist barrier reintroduced"
    # four postings consumers (sizes x2, self-join a/b) each anti-joined
    # against the broadcast stop set
    assert plan.count("LeftAnti") == 4, plan.count("LeftAnti")
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_minhash_lsh_reuses_persisted_shingles(spark):
    """Pin the r3 minhash shape: the shingled corpus is persisted ONCE
    and its InMemoryRelation feeds all four consumers (signature build,
    band join probe+build, pair verify) — a refactor that drops the
    persist would re-shingle the corpus four times."""
    spark.catalog.clearCache()
    df = REGISTRY["dedup_minhash_lsh"].fn(spark, SF_DIR)
    plan = _plan(df, "simple")
    assert plan.count("InMemoryTableScan") == 4, plan.count("InMemoryTableScan")
    assert "SortMergeJoin" not in plan


def test_interval_overlap_is_equi_hash_join(spark):
    """Bucket replication must turn the interval overlap into an
    equi-join: no banded nested-loop, no cartesian anywhere."""
    df = REGISTRY["join_interval_overlap"].fn(spark, SF_DIR)
    plan = _plan(df, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_boilerplate_census_shuffles_hash_not_strings(spark):
    """text_boilerplate_blocks must key the census on xxhash64(block) —
    the 16-token block STRING never shuffles — and must NOT join the
    census back to the exploded blocks frame: the cross-doc flag is a
    window over the already-aggregated (bh, source) rows, so the
    exploded frame is shuffled exactly once, map-side combined. The
    join-back shape measured 10.6x at the 10x sf1 gate; this one 2x."""
    df = REGISTRY["text_boilerplate_blocks"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "xxhash64" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # no join node anywhere: census → window → final agg is join-free
    assert "Join" not in plan, "census join-back reappeared"
    # the one wide exchange of the exploded frame is partially aggregated
    assert plan.count("HashAggregate") >= 2


def test_basket_pairs_single_scan_no_join(spark):
    """ds_basket_pairs must generate pairs from ONE lineitem scan via
    collect_set + array combination explode — no self-join (two scans +
    a join that AQE can only broadcast at toy scale), no nested loop;
    the top-50 must collapse to TakeOrderedAndProject."""
    df = REGISTRY["ds_basket_pairs"].fn(spark, SF_DIR)
    plan = _plan(df)
    scans = [
        line
        for line in plan.splitlines()
        if line.strip().startswith("(") and "Scan parquet" in line
    ]
    assert len(scans) == 1, scans
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan


def test_rollup_rank_windows_grouped_rows_only(spark):
    """ds_rollup_level_rank's rank window must sit ABOVE the rollup
    aggregate (Expand) — windowing grouped rows, never fact rows — and
    dims must broadcast."""
    df = REGISTRY["ds_rollup_level_rank"].fn(spark, SF_DIR)
    plan = _plan(df, "simple")
    assert "Expand" in plan  # rollup grouping sets
    assert "BroadcastHashJoin" in plan
    agg_pos = plan.index("Expand")
    win_pos = plan.index("Window")
    # simple-mode plans print top-down: the Window node appears before
    # (above) the Expand/rollup in the tree text
    assert win_pos < agg_pos, "rank window planned below the rollup aggregate"


def test_pareto_brands_broadcasts_part_windows_grouped(spark):
    """ds_pareto_brands: part joins the fact via broadcast, and both the
    cumulative and total windows run ABOVE the brand aggregate — window
    input is |brands| grouped rows, never lineitem rows."""
    df = REGISTRY["ds_pareto_brands"].fn(spark, SF_DIR)
    plan = _plan(df, "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    win_pos = plan.index("Window")
    agg_pos = plan.rindex("HashAggregate")
    assert win_pos < agg_pos, "window planned below the brand aggregate"


def test_cohort_join_reuses_custkey_hash(spark):
    """ds_first_purchase_cohort joins orders back to the per-customer
    cohort frame on the SAME key the cohort agg shuffled on — no
    cartesian, no nested loop, and the plan stays JVM-only."""
    df = REGISTRY["ds_first_purchase_cohort"].fn(spark, SF_DIR)
    plan = _plan(df, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ngram_novelty_has_no_postings_join_back(spark):
    """Pin the r4 novelty shape: n_unique comes from the census alone
    (df=1 rows grouped by their min(doc_id) owner) — the naive plan
    joins the exploded postings back to the census, which measured
    ~3x the wall-clock at sf0.1 and a near-10x sf1 decade ratio. The
    single remaining join is the |docs|-bounded totals ⟕ uniques."""
    df = REGISTRY["text_ngram_novelty"].fn(spark, SF_DIR)
    plan = _plan(df, "simple")
    n_joins = sum(plan.count(j) for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
    assert n_joins == 1, f"expected only the totals-uniques join, got {n_joins}"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_temperature_mix_partial_limits_before_quota(spark):
    """Pin corpus_temperature_mix: the constant rank bound must compile
    to WindowGroupLimit (map-side partial top-k per stratum) so the
    corpus is never fully sorted, and the quota side joins broadcast."""
    df = REGISTRY["corpus_temperature_mix"].fn(spark, SF_DIR)
    plan = _plan(df, "simple")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_rolling_range_window_runs_over_daily_aggregate(spark):
    """ds_rolling_range_window: the RANGE frame must run over the
    (segment, day) daily aggregate, never the raw fact — the plan shows
    the Window ABOVE a HashAggregate pair and a rangeBetween spec; the
    customer dim broadcasts."""
    df = REGISTRY["ds_rolling_range_window"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "specifiedwindowframe(RangeFrame" in plan, "RANGE frame lost"
    assert "BroadcastHashJoin" in plan
    # window input is the aggregated frame: aggregate appears below the window
    w_at = plan.index("Window")
    assert "HashAggregate" in plan[w_at:], "window must sit over the daily agg"


def test_nearest_neighbor_topk_is_window_group_limit(spark):
    """text_nearest_neighbor's top-1 must compile to WindowGroupLimit
    (partial map-side + final), so no doc's full candidate list is ever
    materialized for the rank."""
    df = REGISTRY["text_nearest_neighbor"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("WindowGroupLimit") >= 2  # Partial + Final
    assert "CartesianProduct" not in plan


def test_nested_share_windows_run_over_cell_aggregate(spark):
    """ds_nested_share_of_total: both share windows (segment-partitioned
    and global) run over the (segment, brand) cell aggregate; the one
    SinglePartition exchange is over the dim-bounded cell frame, and the
    fact join stays an equi-join."""
    df = REGISTRY["ds_nested_share_of_total"].fn(spark, SF_DIR)
    plan = _plan(df, "simple")
    assert "Exchange SinglePartition" in plan  # the global share window
    assert "CartesianProduct" not in plan
    w_at = plan.index("Window")
    assert "HashAggregate" in plan[w_at:], "windows must sit over the cell agg"


def test_interval_month_census_explodes_spans_not_fact(spark):
    """ds_interval_month_census: the month explode (Generate) must run
    over the per-order span AGGREGATE, not the raw join — Generate sits
    above a HashAggregate in the plan."""
    df = REGISTRY["ds_interval_month_census"].fn(spark, SF_DIR)
    plan = _plan(df)
    g_at = plan.index("Generate")
    assert "HashAggregate" in plan[g_at:], "explode must follow the span agg"
    assert "CartesianProduct" not in plan


def test_no_forced_broadcast_on_sf_growing_tables():
    """Hint-policy lint (SCALING.md): query code must never hard-hint
    broadcast on a table that grows with the scale factor — at 100 TB a
    forced hint bypasses autoBroadcastJoinThreshold and OOMs the build
    side. Bounded dims route through maybe_broadcast / BROADCAST_DIMS."""
    import glob
    import os
    import re

    qdir = os.path.join(
        os.path.dirname(__file__), "..", "lakehouse_tacklebox_spark", "queries"
    )
    bad = []
    for f in glob.glob(os.path.join(qdir, "*.py")):
        for i, line in enumerate(open(f), 1):
            # catch both the catalog-dict form broadcast(t["customer"])
            # and bare-variable forms broadcast(customer) / broadcast(
            # customers.filter(...)) — \b keeps maybe_broadcast( exempt
            if re.search(
                r'\bbroadcast\(\s*(t\[")?(customer|part|orders|lineitem|events|documents|embeddings)s?\b',
                line,
            ):
                bad.append(f"{os.path.basename(f)}:{i}: {line.strip()}")
    assert not bad, "forced broadcast on SF-growing table:\n" + "\n".join(bad)


def test_maybe_broadcast_policy_plans(spark):
    """maybe_broadcast hints bounded dims (ResolvedHint in the analyzed
    plan) and leaves SF-growing tables un-hinted — which size-based
    planning still broadcasts at test scale, so small-SF plans are
    unchanged while 100 TB plans degrade to shuffle joins safely."""
    from pyspark.sql import functions as F

    from lakehouse_tacklebox_spark.sources import load_tables, maybe_broadcast

    t = load_tables(spark, SF_DIR, ["nation", "customer", "orders"])
    hinted = maybe_broadcast(t["nation"], "nation")
    unhinted = maybe_broadcast(t["customer"], "customer")
    assert "UnresolvedHint" in hinted._jdf.queryExecution().logical().toString()
    assert "Hint" not in unhinted._jdf.queryExecution().logical().toString()
    # the un-hinted customer dim still broadcasts at test SF via
    # autoBroadcastJoinThreshold (file-size statistics, no hint needed)
    joined = t["orders"].join(unhinted, F.col("o_custkey") == F.col("c_custkey"))
    assert "BroadcastHashJoin" in _plan(joined, "simple")


def test_pack_sequences_no_global_single_partition_window(spark):
    """corpus_pack_sequences' prefix sum must stay two-phase: the only
    unpartitioned Window may run over the per-BUCKET totals (n_docs/256
    rows), never over the per-doc frame. An accidental
    Window.orderBy("doc_id") cumsum over documents would serialize the
    whole corpus through one task at 100 TB."""
    df = REGISTRY["corpus_pack_sequences"].fn(spark, SF_DIR)
    plan = _plan(df, "simple")
    win_lines = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert win_lines, "expected window cumsum nodes in the plan"
    # exactly one unpartitioned spec (the bucket-totals cumsum); the
    # per-doc spec must carry the bucket partition key
    unpartitioned = [l for l in win_lines if "windowspecdefinition(bucket" not in l.replace(" ", "")]
    per_bucket = [l for l in win_lines if "windowspecdefinition(bucket" in l.replace(" ", "")]
    assert per_bucket, "per-doc cumsum lost its bucket partitioning:\n" + "\n".join(win_lines)
    assert len(unpartitioned) <= 1, (
        "more than one global window — the doc frame is being sorted through one task:\n"
        + "\n".join(win_lines)
    )
    # the doc explode must not become a cartesian/BNL join
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # bucket offsets compose via broadcast, not a shuffle join
    assert "BroadcastHashJoin" in plan


def test_duplicate_spans_shuffles_hashes_not_text(spark):
    """text_duplicate_spans' census must shuffle 8-byte window hashes —
    the window TEXT may exist only inside the md5 projection, and the
    candidate join-back must stay an equi hash join (no cartesian)."""
    df = REGISTRY["text_duplicate_spans"].fn(spark, SF_DIR)
    plan = _plan(df, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    ex_lines = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert ex_lines, "census needs its hash shuffle"
    # no exchange moves the raw text or the concat_ws window string
    assert not any("concat_ws" in l or "text#" in l for l in ex_lines), ex_lines
    # the whole pipeline stays JVM-side
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_heavy_hitters_sketch_no_shuffle_and_broadcast_recount(spark):
    """heavy_hitters_exact's scale contract (operators/sketch.py): the
    Misra-Gries pass is shuffle-free (per-partition mapInPandas over the
    raw scan), and the exact re-count joins the tiny candidate set by
    BROADCAST — the only shuffle in the whole operator is the
    candidate-bounded count aggregation."""
    from pyspark.sql import functions as F

    from lakehouse_tacklebox_spark.operators.sketch import (
        _mg_partition_summary,
        heavy_hitters_exact,
    )
    from lakehouse_tacklebox_spark.sources import load_tables

    d = load_tables(spark, SF_DIR, ["documents"])["documents"]
    toks = d.select(F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("w"))

    # pass 1 pin: the sketch consumes the scan in place — no Exchange
    # upstream of the Arrow-batched summarizer
    sketch = toks.mapInPandas(
        _mg_partition_summary("w", 30), schema="w string, mg_count long, is_total int"
    )
    p1 = _plan(sketch)
    assert "MapInPandas" in p1
    assert "Exchange" not in p1, p1

    # pass 2 pin: candidates are broadcast back onto the token stream —
    # never a shuffle join keyed on the full token space
    out = heavy_hitters_exact(toks, "w", capacity=30)
    p2 = _plan(out)
    assert "BroadcastHashJoin" in p2
    assert "SortMergeJoin" not in p2 and "ShuffledHashJoin" not in p2
    # map-side combine: partial + final HashAggregate around the one
    # exchange that remains
    assert p2.count("HashAggregate") >= 2


def test_runtime_bloom_filter_prunes_fact_side(spark):
    """Spark's runtime row-filter injection (SPARK-32268) is the engine's
    own scale path for selective dim→fact joins that are too big to
    broadcast: the selective side builds a bloom_filter_agg and the fact
    side probes might_contain BEFORE the shuffle, cutting exchange bytes
    by the dim filter's selectivity. Pin that the injection actually
    fires on our layout (parquet sources, no table stats) under the
    documented confs, and that results are identical with it off —
    SCALING.md's prescription for the 100 TB fact ⋈ filtered-dim case."""
    from pyspark.sql import functions as F

    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet").filter(
        "o_orderpriority = '1-URGENT'"
    )

    def q():
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    try:
        conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # gate-scale scans are far below the 10g default; the 100 TB case
        # crosses it on its own
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        # force the non-broadcast join shape the feature exists for
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = q()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, "runtime filter not injected on creation side"
        assert "might_contain" in plan, "fact side not probing the bloom filter"
        with_bloom = {(r["o_orderpriority"], r["n"]) for r in df.collect()}
        conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
        plain = q()
        assert "might_contain" not in plain._jdf.queryExecution().executedPlan().toString()
        assert with_bloom == {(r["o_orderpriority"], r["n"]) for r in plain.collect()}
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_semantic_dedup_within_cluster_join_not_cartesian(spark):
    """dedup_semantic_clusters' candidate join must be an equi-join on
    centroid_id (hash or sort-merge), never a nested-loop cartesian —
    the cluster bound IS the operator's scale claim."""
    from pyspark.sql import functions as F

    from lakehouse_tacklebox_spark.operators import similarity as S
    from lakehouse_tacklebox_spark.sources import load_tables

    e = load_tables(spark, SF_DIR, ["embeddings"])["embeddings"]
    cents = S.kmeans_centroids(e, k=8, iters=1)
    assign = S.ivf_assign(e, cents, nprobe=1).drop("rank")
    ve = e.join(assign, "vec_id").select("vec_id", "centroid_id", "embedding")
    a, b = ve.alias("a"), ve.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.centroid_id") == F.col("b.centroid_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .withColumn("cosine", S.cosine_col(F.col("a.embedding"), F.col("b.embedding")))
        .filter(F.col("cosine") >= 0.40)
    )
    plan = _plan(pairs, "simple")
    # the centroid-assignment stage is vector × broadcast(k centroids) —
    # a bounded-k BroadcastNestedLoopJoin, the intended linear pass (same
    # exemption as knn_ivf above). The CANDIDATE join itself must be an
    # equi-join keyed on centroid_id and nothing may cartesian.
    assert "CartesianProduct" not in plan, plan
    cand = [l for l in plan.splitlines() if "Join" in l and "centroid_id" in l]
    assert cand and all(
        ("SortMergeJoin" in l) or ("ShuffledHashJoin" in l) or ("BroadcastHashJoin" in l)
        for l in cand
    ), cand


def test_pq_adc_scan_reads_codes_via_broadcast_lut(spark):
    """knn_pq_adc's approximate scan must join the exploded CODES to a
    broadcast lookup table — the corpus's raw vectors must not appear in
    the ADC stage (they enter only in the shortlist re-rank)."""
    from pyspark.sql import functions as F

    from lakehouse_tacklebox_spark.operators import similarity as S
    from lakehouse_tacklebox_spark.sources import load_tables

    e = load_tables(spark, SF_DIR, ["embeddings"])["embeddings"]
    q = e.filter(F.col("vec_id") < 3)
    books = S.pq_codebooks(e, m=4, ksub=16, iters=1)
    codes = S.pq_encode(e, books)
    out = S.knn_pq_adc(codes, q, books, e, k=3, shortlist=20)
    plan = _plan(out, "simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_snippet_voting_joins_shuffle_on_hash(spark):
    """The audio/video snippet voting joins must be hash-keyed equi-joins
    on the landmark/frame hash — never a nested loop over clips."""
    from pyspark.sql import functions as F

    from lakehouse_tacklebox_spark.operators import multimodal as MM
    from lakehouse_tacklebox_spark.sources import load_tables

    d = load_tables(spark, SF_DIR, ["documents"])["documents"]
    clips = MM.as_avi_videos_with_snippets(d)
    hashes = MM.video_frame_phash(clips, keys=["vid_id"])
    tracks = hashes.filter(F.col("vid_id") < 200000).withColumnRenamed("vid_id", "track_id")
    snips = hashes.filter(F.col("vid_id") >= 200000).withColumnRenamed("vid_id", "snippet_id")
    out = MM.frame_sequence_matches(tracks, snips, hash_col="phash", min_votes=6)
    plan = _plan(out, "simple")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_containment_prefix_probe_no_full_postings_join(spark):
    """The prefix-filtered containment plan: candidates come from the
    PREFIX explode joined against full postings (equi hash join on the
    shingle hash, never a cartesian), and the verify stage is a keyed
    join back to the per-doc arrays — there must be no postings
    self-join of two full exploded sides (the round-8 shape whose
    candidate mass grew super-linearly)."""
    from pyspark.sql import functions as F

    from lakehouse_tacklebox_spark.operators.dedup import containment_pairs
    from lakehouse_tacklebox_spark.sources import load_tables

    d = load_tables(spark, SF_DIR, ["documents"])["documents"]
    toks = F.split(F.lower(F.trim("text")), r"\s+")
    grams = F.expr(
        "CASE WHEN size(w) >= 3 THEN transform(sequence(3, size(w)), "
        "i -> concat_ws(' ', w[i-3], w[i-2], w[i-1])) "
        "ELSE CAST(array() AS array<string>) END"
    )
    sh = d.select("doc_id", toks.alias("w")).select("doc_id", grams.alias("grams"))
    plan = _plan(containment_pairs(sh, "doc_id", "grams", 900000))
    assert "CartesianProduct" not in plan
    # the probe side slices the ordered array to the prefix length
    assert "slice(" in plan and "prefix_len" in plan
    # exact verification via array_intersect, not a second postings join
    assert "array_intersect" in plan


def test_knn_sq_scan_is_integer_codes_only(spark):
    """The SQ shortlist stage must scan only the code column (posexplode
    of codes + broadcast of the query codes) with an integer sum — raw
    vectors may enter the plan only via the shortlist re-rank join."""
    from pyspark.sql import functions as F

    from lakehouse_tacklebox_spark.operators import similarity as S
    from lakehouse_tacklebox_spark.sources import load_tables

    e = load_tables(spark, SF_DIR, ["embeddings"])["embeddings"]
    bounds = S.sq_bounds(e)
    codes = S.sq_encode(e, bounds).localCheckpoint(eager=True)
    qcodes = codes.filter("vec_id < 10")
    q = e.filter("vec_id < 10")
    plan = _plan(S.knn_sq(codes, qcodes, e, q, k=5, shortlist=50))
    assert "CartesianProduct" not in plan
    # query codes reach the per-dim join as a broadcast
    assert "BroadcastHashJoin" in plan
    # the shortlist is a rank-1..N window, not a global sort
    assert "WindowGroupLimit" in plan or "RunningWindowFunction" in plan or "Window" in plan


def test_hybrid_retrieval_posting_join_broadcasts_queries(spark):
    """rag_hybrid_retrieval's BM25 leg must stay a posting-list join —
    the 3 queries' term set broadcast onto the (doc, term) tf frame, no
    cartesian anywhere in the fused plan."""
    df = REGISTRY["rag_hybrid_retrieval"].fn(spark, SF_DIR)
    plan = _plan(df, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_mmr_stages_stay_candidate_bounded(spark):
    """knn_mmr_rerank: after the codes-only shortlist scan, every greedy
    stage operates on checkpointed k-bounded frames (20 candidates, 380
    pair dots per query) — the final plan must not re-derive the corpus
    (no parquet scan) and must not go cartesian."""
    df = REGISTRY["knn_mmr_rerank"].fn(spark, SF_DIR)
    plan = _plan(df, "simple")
    assert "CartesianProduct" not in plan
    # stages read localCheckpoint scans, never the embeddings parquet
    assert "parquet" not in plan.lower()


def test_late_interaction_fine_stage_broadcasts_both_small_sides(spark):
    """rag_late_interaction: the MaxSim stage must keep BOTH small
    frames (the 20-doc shortlist and the 3 queries' window vectors) on
    the broadcast side of their joins — the corpus-wide window census
    is never shuffled for the fine stage — and nothing goes cartesian."""
    df = REGISTRY["rag_late_interaction"].fn(spark, SF_DIR)
    plan = _plan(df, "simple")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_wordpiece_walk_never_rereads_the_corpus(spark):
    """text_wordpiece_segment: after the one corpus scan that builds the
    checkpointed distinct-word census, the match/walk/census plan must
    operate on inventory-sized checkpoint scans only (no parquet
    re-read), keep the vocab on the broadcast side, and never go
    cartesian — the substring match is an equi-join, not a theta join."""
    df = REGISTRY["text_wordpiece_segment"].fn(spark, SF_DIR)
    plan = _plan(df, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "parquet" not in plan.lower()


def test_funnel_steps_stay_user_keyed(spark):
    """events_funnel_ordered: every step is a type-filtered scan joined
    on user_id with map-side partial aggregation — no cartesian, no
    per-user row window over the event log (the only Window in the plan
    is the 3-row lag over the step union)."""
    df = REGISTRY["events_funnel_ordered"].fn(spark, SF_DIR)
    plan = _plan(df, "simple")
    assert "CartesianProduct" not in plan
    assert "partial_min" in plan or "partial_count" in plan



def test_rm3_second_pass_topk_is_window_group_limit(spark):
    """Both BM25 passes' top-k must run as WindowGroupLimit (map-side
    partial rank before the shuffle); the second pass must not
    degenerate to a cartesian despite the weighted-term union."""
    df = REGISTRY["rag_rm3_expansion"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_epoch_shuffle_key_is_projection_no_rng_no_window(spark):
    """The epoch-shuffle key must be a map-side projection: no global
    window, no zipWithIndex RDD fallback, no rand() in the plan."""
    from lakehouse_tacklebox_spark.operators.corpus import epoch_shuffle
    from lakehouse_tacklebox_spark.sources import load_tables

    d = load_tables(spark, SF_DIR, ["documents"])["documents"].select("doc_id")
    plan = _plan(epoch_shuffle(d, "doc_id", seed=42))
    assert "Window" not in plan
    assert "rand(" not in plan
    assert "Exchange" not in plan  # keying shuffles nothing


def test_graph_iteration_joins_are_sort_merge(spark):
    """The PageRank/BFS iteration joins carry merge hints: a frontier
    is not broadcastable at scale, and the concurrent gate drive proved
    simultaneous AQE broadcasts exhaust the vanilla driver heap. Verify
    that the hop graph_bfs_distance iterates plans its expansion join
    as SortMergeJoin, not broadcast."""
    from pyspark.sql import functions as F

    from lakehouse_tacklebox_spark.queries.graph import _part_supplier_edges, bfs_hop
    from lakehouse_tacklebox_spark.sources import load_tables

    li = load_tables(spark, SF_DIR, ["lineitem"])["lineitem"]
    e = _part_supplier_edges(li)
    frontier = e.select(F.col("src").alias("node")).distinct().withColumn(
        "dist", F.lit(0).cast("bigint")
    )
    plan = _plan(bfs_hop(e, frontier))
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_bpe_bytes_single_corpus_scan_per_branch(spark):
    """The byte tokenizer is one scan + explode + string expressions:
    no join back to the corpus, no cartesian, and the merge chain stays
    inside whole-stage codegen (no UDF nodes)."""
    df = REGISTRY["text_bpe_bytes"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cc_iteration_join_is_sort_merge(spark):
    """The min-label step every CC loop iterates carries the merge hint
    on its propagation join (same driver-broadcast-pressure rationale as
    the PageRank loop): its edges-to-labels join must plan as
    SortMergeJoin."""
    from pyspark.sql import functions as F

    from lakehouse_tacklebox_spark.operators import graphops as G

    # a range, not a local list: its size estimate is tiny, so without
    # the hint the planner WOULD broadcast (a list-backed RDD has no
    # size estimate and never broadcasts, which would make this vacuous)
    pairs = spark.range(1, 4).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    e = G.symmetric_edges(pairs)
    lab = e.select(F.col("src").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    plan = _plan(G.min_label_step(e, lab))
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_min_label_step_reads_materialized_edges(spark):
    """The min-label loops hoist their loop-invariant edge frame: it is
    checkpointed once before the loop, so the executed plan of a step
    over the part-supplier graph reads the materialized edges and never
    scans the lineitem source they are derived from."""
    import unittest.mock as mock

    from lakehouse_tacklebox_spark.operators import graphops as G
    from lakehouse_tacklebox_spark.queries.graph import _part_supplier_edges
    from lakehouse_tacklebox_spark.sources import load_tables

    li = load_tables(spark, SF_DIR, ["lineitem"])["lineitem"]
    plans = []
    orig = G.iterate

    def planning_iterate(init, step, n, certify=None):
        one = step(init)
        one.collect()
        plans.append(str(one._jdf.queryExecution().executedPlan()))
        return orig(init, step, n, certify)

    with mock.patch.object(G, "iterate", planning_iterate):
        G.cc_label_trace(_part_supplier_edges(li), 1)
    assert len(plans) == 1
    assert "FileScan" not in plans[0], plans[0]


def test_triangle_wedge_join_no_cartesian(spark):
    """graph_triangle_count: no CartesianProduct anywhere (the only
    nested-loop joins are the 1-row stat-frame crossJoins at the very
    top — the repo's standard truth-frame pattern), and the wedge
    enumeration itself plans as an equi-join on the oriented source."""
    df = REGISTRY["graph_triangle_count"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    # the wedge stage in isolation: equi-join, never nested-loop
    from lakehouse_tacklebox_spark.operators import graphops as G

    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (2, 4)], "u bigint, v bigint"
    )
    wedge_plan = _plan(G.triangle_census(e))
    assert "CartesianProduct" not in wedge_plan


def test_cluster_cc_census_no_corpus_scan(spark):
    """dedup_cluster_cc serves its census from the checkpointed label
    frame of the pair graph: the final plan must not re-scan the
    documents corpus (the pair fixture is the only document-derived
    input, and it is parquet-materialized)."""
    df = REGISTRY["dedup_cluster_cc"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "documents.parquet" not in plan


def test_eval_metrics_query_terms_broadcast(spark):
    """rag_eval_metrics' BM25 leg joins the query terms onto the
    (doc, term) census by broadcast — the posting-bounded shape; a
    shuffle here would mean the probe re-keys the whole census. The
    entry checkpoints its top-5/qrels frames (each feeds two
    consumers), so the probe stage is asserted on the pre-checkpoint
    plan, rebuilt exactly as the entry builds it."""
    from pyspark.sql import functions as F

    from lakehouse_tacklebox_spark.sources import load_tables

    d = load_tables(spark, SF_DIR, ["documents"])["documents"]
    tok = d.select(
        "doc_id", F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("w")
    ).filter(F.col("w").rlike("^[a-z]+$") & (F.length("w") >= 2))
    tft = tok.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    qt = (
        tok.filter(F.col("doc_id") < 3)
        .select(F.col("doc_id").alias("query_id"), "w")
        .distinct()
    )
    probe = tft.join(F.broadcast(qt), "w")
    plan = _plan(probe)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # and the entry's full plan is cartesian-free end to end
    full_plan = _plan(REGISTRY["rag_eval_metrics"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in full_plan


def test_salted_agg_first_stage_keys_on_key_and_salt(spark):
    """agg_salted_skew's stage-1 exchange must hash-partition on
    (event_type, __salt) — without the salt in the partitioning, the hot
    keys land on single reducers and the whole operator is a no-op — and
    the final exchange folds back to the bare key."""
    df = REGISTRY["agg_salted_skew"].fn(spark, SF_DIR)
    plan = _plan(df, "simple")
    import re

    exchanges = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert any("event_type" in e and "__salt" in e for e in exchanges), exchanges
    assert any("event_type" in e and "__salt" not in e for e in exchanges), exchanges
