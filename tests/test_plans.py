"""Physical-plan assertions: the scale properties the engine is designed
around must be visible in `.explain` output, not just hoped for —
predicate/projection pushdown to parquet, broadcast joins for dims,
map-side partial aggregation, sort-free top-k."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from videos_to_tfrecords_spark.plans import (  # noqa: F401
    advanced_queries,
    graph_queries,
    mining_queries,
    pipeline_queries,
)
from videos_to_tfrecords_spark.plans.registry import MODULES, QUERIES
from videos_to_tfrecords_spark.sources.tables import load_table

#: every registered query that reaches operators/graph.py or materializes
#: in plans/graph_queries.py
GRAPH_QUERIES = [n for n, mod in MODULES.items() if mod == graph_queries.__name__] + [
    "graph_lpa_communities"
]
#: every query of plans/advanced_queries.py
ADVANCED_QUERIES = [n for n, mod in MODULES.items() if mod == advanced_queries.__name__]
#: every query that runs a Structured Streaming query
STREAM_QUERIES = [n for n in QUERIES if n.startswith("streaming_")] + [
    "python_stream_source_census",
    "statestore_reader_audit",
]


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_and_projection_push_to_parquet(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    q = li.filter(F.col("l_shipdate") <= "1998-09-02").select("l_returnflag", "l_quantity")
    plan = plan_of(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: the scan reads only the 3 needed columns
    assert (
        "ReadSchema: struct<l_quantity:double,l_returnflag:string,l_shipdate:timestamp>"
        in plan
    )
    assert "*(1)" in plan  # whole-stage codegen span covers filter+project


def test_dim_joins_broadcast(spark, sf_dir):
    from videos_to_tfrecords_spark.plans.relational_queries import q_join_broadcast

    plan = plan_of(q_join_broadcast(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_groupby_has_partial_aggregation(spark, sf_dir):
    from videos_to_tfrecords_spark.plans.relational_queries import q_pricing_summary

    plan = plan_of(q_pricing_summary(spark, sf_dir))
    # two HashAggregates (partial + final) around one exchange: map-side combine
    assert plan.count("HashAggregate") >= 2


def test_global_topk_avoids_full_sort(spark, sf_dir):
    from videos_to_tfrecords_spark.plans.relational_queries import q_orderby_limit

    plan = plan_of(q_orderby_limit(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan  # per-partition top-K, no global sort


def test_semi_join_stays_semi(spark, sf_dir):
    from videos_to_tfrecords_spark.plans.relational_queries import q_semi_join

    assert "LeftSemi" in plan_of(q_semi_join(spark, sf_dir))


def test_asof_join_is_single_window_pass(spark, sf_dir):
    from videos_to_tfrecords_spark.plans.advanced_queries import q_asof_join

    plan = plan_of(q_asof_join(spark, sf_dir))
    # union + one window — no join operator at all in the as-of core
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_flagship_uses_broadcast_for_bounds(spark, sf_dir):
    from videos_to_tfrecords_spark.plans.reference_queries import q_crop_video

    plan = plan_of(q_crop_video(spark, sf_dir))
    assert "BroadcastHashJoin" in plan  # per-key bounds join, not a window sort


def test_zipf_skew_salted_agg_and_join_split_hot_key(spark):
    """Zipf-skewed fixture (one key ≈10% of all rows): salted agg/join stay
    result-identical to the plain shapes, AND the split is observable —
    the salted plan exchanges on (key, _salt) before (key), and the hot
    key's partials actually land on multiple salts."""
    from videos_to_tfrecords_spark.operators.relational import (
        salted_join,
        salted_sum,
        salted_sum_partials,
    )

    rows = [("hot", i) for i in range(2000)] + [
        (f"k{i % 1000}", i) for i in range(18000)
    ]
    df = spark.createDataFrame(rows, "k string, v long").repartition(32)

    plain = {r.k: r.s for r in df.groupBy("k").agg(F.sum("v").alias("s")).collect()}
    salted = {r.k: r.s for r in salted_sum(df, ["k"], "v", alias="s", n_salt=8).collect()}
    assert salted == plain

    # the hot key's rows really split across salts (≥2, typically all 8)
    parts = salted_sum_partials(df, ["k"], "v", n_salt=8).filter(F.col("k") == "hot")
    assert parts.count() >= 2

    # plan shape: one exchange partitions on (k, _salt) — the split — and
    # a separate final exchange on plain (k)
    import re

    plan = plan_of(salted_sum(df, ["k"], "v", alias="s", n_salt=8))
    exchanges = re.findall(r"hashpartitioning\([^)]*\)", plan)
    assert any("_salt" in e for e in exchanges)
    assert any("_salt" not in e and "k#" in e for e in exchanges)

    dim = spark.createDataFrame(
        [("hot", "H")] + [(f"k{i}", f"D{i}") for i in range(1000)], "k string, d string"
    )
    plain_j = sorted(
        map(tuple, df.join(dim, "k").select("k", "v", "d").collect())
    )
    salted_j = sorted(
        map(tuple, salted_join(df, dim, ["k"], n_salt=8).select("k", "v", "d").collect())
    )
    assert salted_j == plain_j


def test_zorder_sort_gives_2d_locality(spark):
    """Why z-ordering prunes: consecutive chunks of a z-sorted table span
    small ranges in BOTH dimensions (so parquet row-group min/max stats
    exclude most chunks for a 2-D range predicate), while a 1-D sort
    leaves the other dimension's span at full width."""
    from videos_to_tfrecords_spark.functions.zorder import z_value

    df = spark.createDataFrame(
        [(i, (i * 73) % 256, (i * 151) % 256) for i in range(4096)],
        "id long, x long, y long",
    )
    rows = (
        df.select("x", "y", z_value("x", "y", bits=8).alias("z"))
        .orderBy("z")
        .collect()
    )
    CHUNK = 256

    def avg_span(vals, key):
        spans = []
        for c in range(0, len(vals), CHUNK):
            chunk = vals[c : c + CHUNK]
            spans.append(max(r[key] for r in chunk) - min(r[key] for r in chunk))
        return sum(spans) / len(spans)

    # z-sorted: both dims locally bounded (≈ sqrt(chunk) cells of a 256²
    # grid → span ≪ 256); x-sorted leaves y unbounded
    assert avg_span(rows, "x") < 100 and avg_span(rows, "y") < 100
    xsorted = sorted(rows, key=lambda r: (r["x"], r["y"]))
    assert avg_span(xsorted, "y") > 200


def test_hll_sketch_union_consistency_and_accuracy(spark, sf_dir):
    """HLL sketches must union losslessly: merging per-group sketches
    estimates the SAME value as sketching the whole column directly, and
    both land within 2% of the exact distinct count."""
    li = load_table(spark, sf_dir, "lineitem")
    exact = li.select("l_partkey").distinct().count()
    direct = li.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("l_partkey")).alias("e")
    ).collect()[0].e
    unioned = (
        li.groupBy("l_returnflag")
        .agg(F.hll_sketch_agg("l_partkey").alias("sk"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("e"))
        .collect()[0]
        .e
    )
    assert unioned == direct  # merge is lossless re-aggregation
    assert abs(direct - exact) / exact < 0.02


def test_z_value_is_bijective_on_domain(spark):
    """Morton interleave must be a bijection of the 2·bits-bit domain —
    any collision would merge unrelated rows in a z-sorted layout."""
    from videos_to_tfrecords_spark.functions.zorder import z_value

    df = spark.createDataFrame(
        [(x, y) for x in range(64) for y in range(64)], "x long, y long"
    )
    n = df.select(z_value("x", "y", bits=6).alias("z")).distinct().count()
    assert n == 64 * 64


def test_tpch_q18_semi_join_broadcasts_having_set(spark, sf_dir):
    """Q18's qualifying-order set (HAVING sum > threshold) must reach
    orders as a BROADCAST left-semi join (the filtered agg output is
    tiny), with partial→final aggregation feeding it; the final top-k is
    sort-free."""
    from videos_to_tfrecords_spark.plans.relational_queries import q_tpch_q18

    plan = plan_of(q_tpch_q18(spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert plan.count("HashAggregate") >= 2
    assert "TakeOrderedAndProject" in plan


def test_tpch_q21_exists_shapes_are_equi_joins(spark, sf_dir):
    """Q21's EXISTS / NOT EXISTS must compile to left-semi / left-anti
    joins whose equi-key is the orderkey (suppkey inequality as residual)
    — never a nested-loop / cartesian shape — and the supplier dim must
    broadcast."""
    from videos_to_tfrecords_spark.plans.relational_queries import q_tpch_q21

    plan = plan_of(q_tpch_q21(spark, sf_dir))
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_tpch_q2_min_cost_join_has_no_cartesian(spark, sf_dir):
    """Q2's decorrelated min-subquery must be a pair of equi-joins back
    onto the supply aggregate (partkey + cost equality) — no nested-loop
    shape — with the EU supplier dim and the filtered part dim broadcast,
    and a sort-free top-100."""
    from videos_to_tfrecords_spark.plans.tpch_queries import q_tpch_q2

    plan = plan_of(q_tpch_q2(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "TakeOrderedAndProject" in plan


def test_tpch_q4_exists_is_semi_join_on_orderkey(spark, sf_dir):
    """Q4's EXISTS must stay a single left-semi join keyed on orderkey
    with the shipdate comparison as a residual — orders are never
    fanned out by their lineitems."""
    from videos_to_tfrecords_spark.plans.tpch_queries import q_tpch_q4

    plan = plan_of(q_tpch_q4(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q19_disjunction_keeps_equi_join(spark, sf_dir):
    """Q19's OR-of-conjunctions must not break the partkey equi-join:
    the plan keeps a hash join on p_partkey with the disjunction as a
    residual, never a nested-loop over the cross product."""
    from videos_to_tfrecords_spark.plans.tpch_queries import q_tpch_q19

    plan = plan_of(q_tpch_q19(spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q15_reuses_revenue_view_without_rescan(spark, sf_dir):
    """Q15's max-equality must come from a 1-row broadcast of the revenue
    view's self-aggregate, not a second scan of lineitem: exactly two
    parquet scans total (lineitem for the view, supplier dim)."""
    from videos_to_tfrecords_spark.plans.tpch_queries import q_tpch_q15

    plan = plan_of(q_tpch_q15(spark, sf_dir))
    assert plan.count("Scan parquet") <= 3  # lineitem ×2 shared subtree or reused + supplier
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_event_funnel_is_single_pass(spark, sf_dir):
    """The funnel must be ONE events scan + one user_id shuffle + a global
    agg — the per-stage join formulation (3 scans / 6 shuffles) must not
    silently return (round-3 bench regression class)."""
    from videos_to_tfrecords_spark.plans.advanced_queries import q_event_funnel

    plan = plan_of(q_event_funnel(spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning") <= 1  # user_id only
    assert "Join" not in plan


def test_doc_unigram_entropy_single_scan_no_self_join(spark, sf_dir):
    """Entropy via H = ln n − (1/n)·Σ c·ln c: one documents scan, two
    keyed aggregates, and NO join of the token-count table back onto a
    per-doc total (the c⋈n shape re-ran the explode per branch)."""
    from videos_to_tfrecords_spark.plans.feature_queries import q_entropy

    plan = plan_of(q_entropy(spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2  # (doc,tok) then doc


def test_triangle_count_consumers_hit_cache(spark, sf_dir):
    """Every multi-branch consumer of the triangle intermediates (ea ×2,
    deg ×3, o ×3) must read the persisted cache — if the persists are
    dropped, Spark re-derives the groupBy + pair-explosion + distinct once
    per branch (the round-3 '18 file scans' bench regression). Printed
    scan counts overstate cached plans (the cached subtree is re-printed
    per consumer), so assert the cache READS instead."""
    from pyspark.sql import functions as F

    from videos_to_tfrecords_spark.materialize import inner_plans, plan_text
    from videos_to_tfrecords_spark.operators.graph import triangle_count

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    und = (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
        .select(F.explode(F.expr(
            "flatten(transform(ps, (x, i) -> transform(slice(ps, i + 2,"
            " size(ps)), y -> struct(x AS a, y AS b))))")).alias("p"))
        .select("p.a", "p.b")
        .distinct()
    )
    with inner_plans() as plans:
        triangle_count(und)
    # the plan the 1-row result checkpoint ran
    plan = plan_text(plans[-1])
    assert plan.count("InMemoryTableScan") >= 5
    assert "array_intersect" in plan  # the in-task intersection probe


def _new_persistent_rdds(spark, sf_dir, name) -> int:
    """How many persistent RDDs one build and collect of a query leaves."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    QUERIES[name](spark, sf_dir).collect()
    return len(set(jsc.getPersistentRDDs().keySet().toArray()) - before)


@pytest.mark.parametrize("name", GRAPH_QUERIES)
def test_graph_queries_release_what_they_made(spark, sf_dir, name):
    """A graph query leaves no persisted or checkpointed intermediate
    behind: after build and collect, the only new persistent RDD is the
    returned result checkpoint. The edge/degree/frontier intermediates —
    the ones that scale with data — must all be released."""
    assert _new_persistent_rdds(spark, sf_dir, name) <= 1


@pytest.mark.parametrize("name", ADVANCED_QUERIES)
def test_advanced_queries_release_what_they_made(spark, sf_dir, name):
    """The same for the advanced queries: their census and range-pin
    checkpoints are released, and at most the returned frame's own
    checkpoint is left."""
    assert _new_persistent_rdds(spark, sf_dir, name) <= 1


@pytest.mark.parametrize("name", STREAM_QUERIES)
def test_stream_queries_release_what_they_made(spark, sf_dir, name):
    """A stream query stops its stream and drops its memory sink's temp
    view, whose rows would otherwise stay on the driver for the rest of
    the session; at most the returned frame's own checkpoint is left."""
    def temp_views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    views = temp_views()
    assert _new_persistent_rdds(spark, sf_dir, name) <= 1
    assert temp_views() - views == set()
    assert spark.streams.active == []


def test_packed_spans_prefix_sum_window_is_partitioned(spark, sf_dir):
    """The corpus-sized cumsum window must be keyed on the block id — a
    'No Partition Defined' global window over the documents would be the
    single-task scale-killer the two-level scan exists to avoid. The only
    unpartitioned window is over the metadata-scale per-block sums."""
    import videos_to_tfrecords_spark.plans.text_queries as tq
    from videos_to_tfrecords_spark.plans.registry import QUERIES

    plan = plan_of(QUERIES["packed_concat_spans"](spark, sf_dir))
    assert plan.count("Window") >= 2
    # the per-document window is partitioned by the block id
    assert "_blk" in plan
    windows = [l for l in plan.splitlines() if "Window " in l]
    partitioned = [l for l in windows if "_blk" in l]
    assert len(partitioned) >= 1


def test_table_profile_avoids_expand_blowup(spark, sf_dir):
    """The melt + two-phase-aggregate profiler must not plan the
    multi-COUNT(DISTINCT) Expand (the 20 s shape at sf0.1): no Expand
    node, and both aggregates are partial→final."""
    import videos_to_tfrecords_spark.plans.mining_queries as mq
    from videos_to_tfrecords_spark.plans.registry import QUERIES

    plan = plan_of(QUERIES["table_profile_lineitem"](spark, sf_dir))
    assert "Expand" not in plan
    assert plan.count("partial_") >= 1


def test_grouping_sets_is_one_pass_expand(spark, sf_dir):
    """GROUPING SETS must compute all three granularities in ONE scan +
    one exchange via Expand — not a union of three aggregates."""
    import videos_to_tfrecords_spark.plans.relational_queries as rq
    from videos_to_tfrecords_spark.plans.registry import QUERIES

    plan = plan_of(QUERIES["grouping_sets_revenue"](spark, sf_dir))
    assert "Expand" in plan
    assert plan.count("Scan parquet") == 1
    assert "Union" not in plan


def test_mutual_information_single_fact_scan(spark, sf_dir):
    """Marginals roll up from the contingency cells — the fact table is
    scanned exactly once (cells subtree is cached for its 4 consumers)."""
    from videos_to_tfrecords_spark.materialize import inner_plans, plan_text

    with inner_plans() as plans:
        QUERIES["mutual_information_fields"](spark, sf_dir)
    cells, result = (plan_text(qe) for qe in plans)
    assert cells.count("Scan parquet") == 1
    # the returned frame's plan reads the cells checkpoint, not the fact table
    assert "Scan ExistingRDD" in result
    assert "Scan parquet" not in result


def test_mahalanobis_plan_is_topk_no_global_sort(spark, sf_dir):
    """Top-20 outliers run as TakeOrderedAndProject (no full Sort) and the
    stats side reaches the row via a broadcast, not a shuffle join."""
    import videos_to_tfrecords_spark.plans.learning_queries  # noqa: F401
    from videos_to_tfrecords_spark.plans.registry import QUERIES

    plan = plan_of(QUERIES["mahalanobis_event_outliers"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_curation_e2e_no_cartesian_and_bounded_scans(spark, sf_dir):
    """The 6-stage curation pipeline stays equi-join shaped end to end."""
    import videos_to_tfrecords_spark.plans.learning_queries  # noqa: F401
    from videos_to_tfrecords_spark.plans.registry import QUERIES

    plan = plan_of(QUERIES["corpus_curation_e2e"](spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_linreg_single_aggregate_pass(spark, sf_dir):
    """OLS sufficient statistics: exactly one scan of lineitem feeds one
    partial→final aggregate; the returned frame is a local 1-row relation."""
    import videos_to_tfrecords_spark.plans.learning_queries  # noqa: F401
    from videos_to_tfrecords_spark.plans.registry import QUERIES

    df = QUERIES["linreg_extprice_normal_eq"](spark, sf_dir)
    plan = plan_of(df)
    # the result itself is driver-materialized (metadata-sized)
    assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan


def test_asof_nearest_edge_semantics(spark):
    """Hand-built fixture pinning the nearest-join contract: exact tie →
    the BACKWARD (past) match wins; only-forward within tolerance →
    forward match with positive gap; nothing within tolerance → null
    match and null gap; equal timestamps count as backward (gap 0)."""
    from videos_to_tfrecords_spark.operators.relational import asof_nearest_join

    left = spark.createDataFrame(
        [(1, 100), (1, 205), (1, 300), (2, 50)],
        "k long, lts long",
    )
    right = spark.createDataFrame(
        [(1, 90, 901), (1, 110, 902), (1, 210, 903), (2, 500, 904)],
        "k long, rts long, rid long",
    )
    out = {
        (r["k"], r["lts"]): (r["nearest_rid"], r["gap_us"])
        for r in asof_nearest_join(
            left, right, ["k"], "lts", "rts", ["rid"], tolerance=20
        ).collect()
    }
    # lts=100: back 90 (gap 10) vs fwd 110 (gap 10) — tie → backward
    assert out[(1, 100)] == (901, -10)
    # lts=205: back 210? no — 210 is forward (gap 5); back is 110 (gap 95 > tol)
    assert out[(1, 205)] == (903, 5)
    # lts=300: back 210 gap 90 > tol, no forward → null
    assert out[(1, 300)] == (None, None)
    # k=2, lts=50: only a forward at 500, outside tolerance → null
    assert out[(2, 50)] == (None, None)


def test_cogroup_asof_enrich_ties_and_empty_sides(spark):
    """Pins the cogrouped-map as-of merge: backward match, at-or-before
    inclusivity, equal-us tie -> max tie id, facts-without-history ->
    default, and one-sided keys on BOTH sides (cogroup delivers an empty
    pandas frame for the missing side)."""
    from videos_to_tfrecords_spark.operators.cogroup import (
        cogroup_asof_enrich,
    )

    facts = spark.createDataFrame(
        [
            (1, 100, 11),  # matches tie-broken winner at us=100
            (1, 50, 12),   # before all hist -> default
            (2, 700, 21),  # key with no hist rows at all -> default
            (1, 250, 13),  # strictly after hist at 200 -> 'c'
        ],
        "k long, us long, fid long",
    )
    hist = spark.createDataFrame(
        [
            (1, 100, 2, "b"),   # same us, higher tie -> wins
            (1, 100, 1, "a"),
            (1, 200, 3, "c"),
            (3, 10, 4, "zz"),   # hist-only key: merge must emit nothing
        ],
        "k long, us long, tie long, val string",
    )
    out = {
        r["fid"]: r["val"]
        for r in cogroup_asof_enrich(facts, hist).collect()
    }
    assert out == {11: "b", 12: "__none__", 21: "__none__", 13: "c"}


def test_nested_schema_pruning_reads_one_subfield(spark, tmp_path):
    """Nested-struct column pruning (spark.sql.optimizer.nestedSchemaPruning,
    on by default): selecting one subfield of a struct column must push a
    pruned ReadSchema to the parquet scan — at 100 TB a nested event
    payload reads one leaf, not the whole struct."""
    path = str(tmp_path / "nested")
    spark.range(1000).selectExpr(
        "id",
        "named_struct('a', id * 2, 'b', CAST(id AS STRING), "
        "'deep', named_struct('x', id % 7, 'y', id % 11)) AS payload",
    ).write.parquet(path)
    df = spark.read.parquet(path).select(
        F.col("payload.deep.x").alias("x")
    )
    assert df.groupBy("x").count().count() == 7
    plan = plan_of(df)
    m = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert m, plan[:1500]
    # only the selected leaf survives in the scan schema
    assert "deep:struct<x:bigint>" in m[0].replace(" ", ""), m[0]
    assert "b:string" not in m[0]


def test_distribute_and_sort_by_sql_clauses(spark, sf_dir):
    """DISTRIBUTE BY / SORT BY — the ETL-dialect repartition surface:
    DISTRIBUTE BY hash-partitions on the key (Exchange hashpartitioning),
    SORT BY sorts within partitions only (Sort global=false) — the
    write-preparation shape (per-partition clustering without a global
    sort barrier)."""
    from videos_to_tfrecords_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    df = spark.sql(
        "SELECT o_custkey, o_totalprice FROM orders "
        "DISTRIBUTE BY o_custkey SORT BY o_totalprice"
    )
    plan = plan_of(df)
    assert "Exchange hashpartitioning(o_custkey" in plan, plan[:1200]
    sort_lines = [l for l in plan.splitlines() if "Sort [" in l]
    assert sort_lines and all("false, 0" in l for l in sort_lines), sort_lines
    assert df.count() == spark.table("orders").count()


def test_variant_roundtrip_and_typed_extraction(spark):
    # VARIANT round-trip on edge values: unicode, negatives, nested null,
    # deep array — parse_json -> typed variant_get must reproduce the
    # source values exactly, and a second parse of to_json(variant) must
    # shred identically (encode/decode is lossless for JSON-expressible
    # values)
    rows = [
        ('{"s": "héllo → wörld", "i": -9223372036854775808, "a": [1, 2, 3], "o": {"x": null}}',),
        ('{"s": "", "i": 0, "a": [], "o": {}}',),
    ]
    df = spark.createDataFrame(rows, "j string")
    v = df.select(F.parse_json("j").alias("v"))
    got = v.select(
        F.expr("variant_get(v, '$.s', 'string')").alias("s"),
        F.expr("variant_get(v, '$.i', 'long')").alias("i"),
        F.expr("variant_get(v, '$.a[2]', 'long')").alias("a2"),
        F.expr("try_variant_get(v, '$.o.x', 'string')").alias("ox"),
    ).collect()
    assert got[0].s == "héllo → wörld"
    assert got[0].i == -(2**63)
    assert got[0].a2 == 3
    assert got[0].ox is None
    # re-parse of the serialized variant shreds to the same values
    twice = v.select(F.parse_json(F.to_json("v")).alias("v2")).select(
        F.expr("variant_get(v2, '$.i', 'long')").alias("i")
    ).collect()
    assert [r.i for r in twice] == [r.i for r in v.select(
        F.expr("variant_get(v, '$.i', 'long')").alias("i")).collect()]


def test_variant_census_single_exchange(spark, sf_dir):
    # variant parse + path extraction are row-local expressions: the whole
    # query must plan as scan -> project -> partial agg -> ONE exchange ->
    # final agg (no extra shuffle, no UDF/python eval)
    from videos_to_tfrecords_spark.plans.advanced_queries import (
        q_variant_shred_census,
    )

    df = q_variant_shred_census(spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("Exchange") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_collation_equality_and_join_semantics(spark):
    # UTF8_LCASE: equality and joins are case-insensitive; UTF8_BINARY
    # stays case-sensitive in the same query
    left = spark.createDataFrame([("Alpha",), ("BETA",)], "k string")
    right = spark.createDataFrame([("alpha",), ("beta",), ("gamma",)], "k string")
    j = left.select(F.collate("k", "UTF8_LCASE").alias("k")).join(
        right.select(F.collate("k", "UTF8_LCASE").alias("k")), "k"
    )
    assert j.count() == 2
    jbin = left.join(right, "k")
    assert jbin.count() == 0
    eq = spark.sql(
        "SELECT 'StRaße' COLLATE UTF8_LCASE = 'straße' AS a,"
        "       'x' COLLATE UTF8_BINARY = 'X' AS b"
    ).collect()[0]
    assert eq.a is True and eq.b is False


def test_warm_rerun_compiles_no_code(spark, sf_dir):
    """A warm re-run of a multi-query mix reuses every generated class.
    These seven queries compile about 117 classes at sf0.001, more than
    Spark's default code cache (100 entries) holds, so without
    session.CODEGEN_CACHE_ENTRIES each pass evicts the classes the next one
    needs and recompiles them. (Queries whose adaptive plans vary
    from run to run, such as order_status_set_ops, are left out: a new plan
    variant is new code.)"""
    import __spark_entry__  # noqa: F401 - importing registers every query module
    from videos_to_tfrecords_spark.plans.registry import QUERIES

    names = (
        "pricing_summary",
        "tpch_q3_shipping_priority",
        "tpch_q9_product_profit",
        "tpch_q18_large_volume",
        "top_orders_per_customer",
        "tpch_q7_volume_shipping",
        "tpch_q8_market_share",
    )
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def one_pass() -> None:
        for name in names:
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    one_pass()
    before = compiled.getCount()
    one_pass()
    assert compiled.getCount() - before == 0


def test_driver_contract_returns_registry_order():
    """queries() and oracle_sql() hand a driver the registry in
    registration order; no reordering layer sits between them."""
    import __spark_entry__ as entrymod
    from videos_to_tfrecords_spark.plans.registry import ORACLES, QUERIES

    assert list(entrymod.queries()) == list(QUERIES)
    assert list(entrymod.oracle_sql()) == list(ORACLES)
