"""Log-stats file skipping: pruning is effective AND never loses rows."""

import pytest
from pyspark.sql import functions as F

from lakehouse_tacklebox_spark.sources import load_tables
from lakehouse_tacklebox_spark.tablestore.table import TackleTable

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def clustered_orders(spark, tmp_path):
    orders = load_tables(spark, SF_DIR, ["orders"])["orders"]
    t = TackleTable.create(spark, str(tmp_path / "ord"), orders.repartition(8))
    t.optimize(target_file_rows=300, zorder_by=["o_custkey"])
    return t, orders


def test_stats_written_at_commit(clustered_orders):
    t, _ = clustered_orders
    stats = t.snapshot().stats
    assert stats and all(s for s in stats.values())
    some = next(iter(stats.values()))
    assert "o_custkey" in some and some["o_custkey"][0] <= some["o_custkey"][1]
    # timestamp stats serialized as ISO strings
    assert isinstance(some["o_orderdate"][0], str)


def test_pruned_scan_is_exact_and_skips_files(clustered_orders):
    t, orders = clustered_orders
    cond = "o_custkey = 42"
    kept, skipped = t.prune_files(cond)
    assert skipped, "clustered table must skip files for a point lookup"
    got = sorted(r.o_orderkey for r in t.scan(cond).collect())
    expect = sorted(r.o_orderkey for r in orders.filter(cond).collect())
    assert got == expect


def test_range_and_timestamp_pruning_correct(clustered_orders):
    t, orders = clustered_orders
    for cond in [
        "o_custkey >= 100 AND o_custkey < 120",
        "o_orderdate < timestamp '1996-01-01'",
        "o_orderdate >= '1999-06-01' AND o_custkey < 50",
        "o_totalprice > 400000.0",
    ]:
        got = t.scan(cond).count()
        expect = orders.filter(cond).count()
        assert got == expect, cond


def test_unparseable_predicates_fall_back_to_full_scan(clustered_orders):
    t, orders = clustered_orders
    cond = "o_custkey % 10 = 3 OR o_orderpriority = 'HIGH'"
    kept, skipped = t.prune_files(cond)
    assert not skipped  # nothing prunable in a disjunction
    assert t.scan(cond).count() == orders.filter(cond).count()


def test_partition_scoped_optimize(spark, clustered_orders):
    """OPTIMIZE ... WHERE rewrites only files whose envelope can match;
    everything else keeps its layout and content is unchanged."""
    t, orders = clustered_orders
    before = set(t._active_files()[0])
    kept, untouched = t.prune_files("o_custkey < 30")
    assert untouched, "test needs a table where the predicate prunes"
    t.optimize(target_file_rows=10_000, where="o_custkey < 30")
    after = set(t._active_files()[0])
    # files outside the predicate survived verbatim
    assert set(untouched) <= after
    # files inside it were rewritten
    assert not (set(kept) & after)
    assert t.read().count() == orders.count()
    hist = t.history()[0]
    assert hist["operation"] == "OPTIMIZE" and hist["operationParameters"]["where"] == "o_custkey < 30"


def test_skipping_survives_dml(spark, clustered_orders):
    t, _ = clustered_orders
    t.delete("o_custkey = 7")
    assert t.scan("o_custkey = 7").count() == 0
    n_before = t.scan("o_custkey = 8").count()
    t.update("o_custkey = 8", {"o_totalprice": "o_totalprice + 1"})
    assert t.scan("o_custkey = 8").count() == n_before
    # rewritten files got fresh stats
    stats = t.snapshot().stats
    assert all("o_custkey" in s for s in stats.values())


def test_or_precedence_never_prunes_wrongly(clustered_orders):
    """`a AND b OR c` parses as `(a AND b) OR c` — neither a nor b is a
    required conjunct, so pruning must not drop files that match only c."""
    t, orders = clustered_orders
    for cond in [
        "o_custkey = 1 AND o_totalprice > 0 OR o_custkey = 999",
        "o_custkey = 1 OR o_custkey = 999",
        "o_custkey < 5 AND o_orderdate < '1993-01-01' OR o_custkey > 1400",
    ]:
        kept, skipped = t.prune_files(cond)
        assert not skipped, cond  # disjunction: no conjunct is required
        assert t.scan(cond).count() == orders.filter(cond).count(), cond


def test_or_inside_parens_still_prunes_outer_conjunct(clustered_orders):
    """`a AND (b OR c)` — a IS required; keep its pruning power. An OR
    inside a string literal must not disable pruning either."""
    t, orders = clustered_orders
    cond = "o_custkey = 42 AND (o_orderpriority = '1-URGENT' OR o_orderpriority = '2-HIGH')"
    kept, skipped = t.prune_files(cond)
    assert skipped, "o_custkey=42 is a required conjunct — must still prune"
    assert t.scan(cond).count() == orders.filter(cond).count()
    # OR inside a quoted literal is not a disjunction
    from lakehouse_tacklebox_spark.tablestore.table import _conjunct_bounds

    assert _conjunct_bounds("o_custkey = 42 AND o_comment = 'x OR y'") == [
        ("o_custkey", "=", 42),
        ("o_comment", "=", "x OR y"),
    ]


def test_tblproperties_accumulate(spark, tmp_path):
    t = TackleTable.create(spark, str(tmp_path / "p"), schema="id bigint")
    t.set_properties({"a": "1", "pointlookup.columns": "id"})
    t.set_properties({"a": "2"})
    assert t.properties() == {"a": "2", "pointlookup.columns": "id"}


def test_point_lookup_sketch_prunes_where_minmax_cannot(spark, tmp_path):
    """Hash-distributed keys give every file a [min,max] envelope spanning
    the whole domain — min/max skips nothing for `id = X`. The per-file
    membership sketch (pointlookup.columns) must skip most files, and a
    zero bit proves absence, so results stay exact."""
    t = TackleTable.create(spark, str(tmp_path / "bl"), schema="id bigint, tag string")
    t.set_properties({"pointlookup.columns": "id,tag"})
    df = spark.range(0, 4000).select(
        F.col("id"), F.concat(F.lit("tag-"), F.col("id")).alias("tag")
    )
    t.append(df.repartition(8, F.col("id")))

    # envelopes really do span the domain (min/max is useless here)
    kept_minmax = [
        f for f, s in t.snapshot().stats.items() if s.get("id") and s["id"][0] <= 1234 <= s["id"][1]
    ]
    assert len(kept_minmax) >= 7

    kept, skipped = t.prune_files("id = 1234")
    assert len(skipped) >= 5, f"sketch should skip most files, skipped {len(skipped)}"
    assert t.scan("id = 1234").count() == 1

    # string column sketch
    kept_t, skipped_t = t.prune_files("tag = 'tag-77'")
    assert len(skipped_t) >= 5
    assert t.scan("tag = 'tag-77'").count() == 1

    # absent key: typically every file is skipped, never a wrong row
    assert t.scan("id = 999999").count() == 0

    # files written BEFORE the property have no sketch and are never skipped
    t2 = TackleTable.create(spark, str(tmp_path / "legacy"), schema="id bigint, tag string")
    t2.append(df.repartition(4, F.col("id")))
    t2.set_properties({"pointlookup.columns": "id"})
    kept2, skipped2 = t2.prune_files("id = 1234")
    assert not skipped2  # no sketches on legacy files -> superset guarantee
    assert t2.scan("id = 1234").count() == 1


def test_sketch_survives_dml_rewrites(spark, tmp_path):
    """Files rewritten by DELETE get fresh sketches (the rewrite goes
    through the same commit path)."""
    t = TackleTable.create(spark, str(tmp_path / "dml"), schema="id bigint, tag string")
    t.set_properties({"pointlookup.columns": "id"})
    df = spark.range(0, 2000).select(
        F.col("id"), F.concat(F.lit("t"), F.col("id")).alias("tag")
    )
    t.append(df.repartition(4, F.col("id")))
    t.delete("id = 500")
    assert t.scan("id = 500").count() == 0
    assert t.scan("id = 501").count() == 1
    _kept, skipped = t.prune_files("id = 501")
    assert skipped  # rewritten files carry sketches too


def test_two_dimension_zorder_prunes_on_both_columns(spark, tmp_path):
    """knn_filtered_ivf's layout claim: a (centroid_id, label) z-ordered
    table must prune on BOTH dimensions — the compound predicate keeps
    strictly fewer files than the leading column alone, and the pruned
    scan is row-exact."""
    df = spark.range(2048).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % 16).cast("int").alias("centroid_id"),
        (F.xxhash64("id") % 10).cast("int").alias("label"),
        (F.col("id") * 7 % 1000).alias("payload"),
    )
    t = TackleTable.create(spark, str(tmp_path / "flt"), df)
    t.optimize(target_file_rows=64, zorder_by=["centroid_id", "label"])
    total = len(t._active_files()[0])
    kept_lead, _ = t.prune_files("centroid_id = 3")
    kept_both, _ = t.prune_files("centroid_id = 3 AND label = 4")
    assert len(kept_lead) < total, "leading column must prune at all"
    assert len(kept_both) < len(kept_lead), (
        "the second z-order dimension must prune beyond the leading one"
    )
    got = sorted(
        r["vec_id"]
        for r in t.scan("centroid_id = 3 AND label = 4").collect()
    )
    exp = sorted(
        r["vec_id"]
        for r in df.filter("centroid_id = 3 AND label = 4").collect()
    )
    assert got == exp and len(got) > 0
