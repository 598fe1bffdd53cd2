"""Round-4 mining/history operators: market-basket rules, Markov
transitions, SCD2 intervals, PMI pairs, hard-negative mining — invariant
tests beyond the oracle hash gate (which checks values; these check the
semantic contracts hand-constructed inputs make visible)."""

from __future__ import annotations

from pyspark.sql import functions as F

from videos_to_tfrecords_spark.operators.similarity import hard_negatives
from videos_to_tfrecords_spark.plans.mining_queries import (
    q_hard_negatives,
    q_market_basket,
    q_markov_transitions,
    q_scd2_history,
)
from videos_to_tfrecords_spark.session import session_conf


def test_hard_negatives_labels_always_differ(spark):
    """Every mined negative must carry a label different from its query's,
    and the top-1 must be the true max-dot other-label vector."""
    rows = [
        (0, [1.0, 0.0], 0),
        (10, [0.9, 0.1], 0),   # same label as 0 — never a negative for it
        (1, [0.8, 0.2], 1),    # closest other-label to 0
        (2, [0.0, 1.0], 1),
        (3, [-1.0, 0.0], 2),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    got = hard_negatives(df, query_mod=10, k=2).collect()
    assert all(r.query_label != r.neg_label for r in got)
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r)
    # query 0 (label 0): nearest other-label is vec 1 ([0.8, 0.2])
    top = min(by_q[0], key=lambda r: r.rnk)
    assert top.cand_id == 1
    # query 10 (label 0) exists because 10 % 10 == 0; query 1 etc. excluded
    assert set(by_q) == {0, 10}
    assert all(len(v) == 2 for v in by_q.values())


def test_scd2_intervals_tile_and_alternate(spark, sf_dir):
    """Per customer: segments ordered by seg_id must tile time (each
    segment's valid_to equals the next's valid_from), never be empty, and
    consecutive segments must change priority (runs are maximal)."""
    out = q_scd2_history(spark, sf_dir).collect()
    by_cust = {}
    for r in out:
        by_cust.setdefault(r.custkey, []).append(r)
    for segs in by_cust.values():
        segs.sort(key=lambda r: r.seg_id)
        # date-granularity feed: two same-day orders with different
        # priorities collapse to a zero-length segment — allowed (<=)
        for i, s in enumerate(segs):
            assert s.valid_from_ms <= s.valid_to_ms
            assert s.n_orders >= 1
            if i + 1 < len(segs):
                assert s.valid_to_ms == segs[i + 1].valid_from_ms
                assert s.priority != segs[i + 1].priority


def test_market_basket_rules_support_consistency(spark, sf_dir):
    """pair_support can never exceed either item support; confidence and
    lift floors must match their integer definitions."""
    rows = q_market_basket(spark, sf_dir).collect()
    assert 0 < len(rows) <= 25
    for r in rows:
        assert r.item_a < r.item_b
        assert r.pair_support <= min(r.support_a, r.support_b)
        assert r.conf_ab_x1e6 == r.pair_support * 1_000_000 // r.support_a


def test_markov_transition_rows_sum_to_totals(spark, sf_dir):
    """Per from_type, transition counts must sum to n_from (the row of a
    stochastic matrix), and each user contributes exactly n_events - 1
    transitions corpus-wide."""
    t = q_markov_transitions(spark, sf_dir)
    agg = (
        t.groupBy("from_type", "n_from")
        .agg(F.sum("n").alias("s"))
        .collect()
    )
    assert agg and all(r.s == r.n_from for r in agg)
    from videos_to_tfrecords_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    total_transitions = t.agg(F.sum("n")).collect()[0][0]
    assert total_transitions == n_events - n_users


def test_bloom_filter_runtime_join_pruning(spark, sf_dir):
    """Spark's runtime Bloom-filter join pruning (the row-level analog of
    partition pruning): with the optimizer thresholds lowered, a selective
    dimension filter must inject a bloom_filter_agg on the build side and
    a BloomFilterMightContain probe into the fact scan — at 100 TB this is
    the difference between shuffling the whole fact table and shuffling
    only rows that can possibly join."""
    from videos_to_tfrecords_spark.sources.tables import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "1GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # broadcast joins skip bloom
    }
    with session_conf(spark, confs):
        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        joined = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
            "o_orderpriority"
        ).agg(F.count("*").alias("n"))
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan or "BloomFilter" in plan


def test_hard_negatives_query_matches_operator(spark, sf_dir):
    """The registered query is exactly the operator at (auto mod, k=3) —
    the corpus-derived probe-set bound (round-5 quadratic fix)."""
    a = sorted(
        tuple(r) for r in q_hard_negatives(spark, sf_dir).collect()
    )
    from videos_to_tfrecords_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    b = sorted(
        tuple(r) for r in hard_negatives(emb, query_mod="auto", k=3).collect()
    )
    assert a == b


def test_basket_and_pmi_topk_is_take_ordered(spark, sf_dir):
    """The top-k extraction must be a distributed TakeOrderedAndProject,
    never a single-partition global-sort window over the full pair
    table."""
    from videos_to_tfrecords_spark.plans.mining_queries import (
        q_market_basket,
        q_token_pmi,
    )

    for qfn in (q_market_basket, q_token_pmi):
        plan = qfn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan


def test_label_propagation_two_cliques(spark):
    """Two disjoint triangles must converge to two communities, each
    labeled by its minimum node id (min tie-break)."""
    from videos_to_tfrecords_spark.operators.graph import label_propagation

    tri1 = [(1, 2), (2, 3), (1, 3)]
    tri2 = [(10, 11), (11, 12), (10, 12)]
    und = tri1 + tri2
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    labels = {r.node: r.lab for r in label_propagation(edges, n_iter=3).collect()}
    assert {labels[n] for n in (1, 2, 3)} == {1}
    assert {labels[n] for n in (10, 11, 12)} == {10}


def test_fastss_deletion_blocking_full_recall(spark, tmp_path):
    """Every edit-distance-1 pair type (substitute / insert / delete) is
    caught by the deletion-signature join; distance-2 names are not."""
    import shutil, glob

    names = [
        "alpha-001", "alpha-002",   # substitution
        "alpha-01", "alpha-001x",   # deletion vs alpha-001 is distance 1... see asserts
        "beta-900", "gamma-55",
    ]
    df = spark.createDataFrame(
        [(i, n, 0, 0.0, "A") for i, n in enumerate(names)],
        "c_custkey long, c_name string, c_nationkey long, c_acctbal double, c_mktsegment string",
    )
    p = str(tmp_path / "c")
    df.coalesce(1).write.parquet(p, mode="overwrite")
    d = tmp_path / "sf"; d.mkdir()
    shutil.copy(glob.glob(p + "/part-*.parquet")[0], d / "customer.parquet")
    import videos_to_tfrecords_spark.plans.mining_queries  # noqa: F401
    from videos_to_tfrecords_spark.plans.registry import QUERIES

    got = {(r.tok_a, r.tok_b): r.dist
           for r in QUERIES["fuzzy_name_pairs"](spark, str(d)).collect()}
    assert got[("alpha-001", "alpha-002")] == 1     # substitution
    assert got[("alpha-001", "alpha-01")] == 1      # deletion
    assert got[("alpha-001", "alpha-001x")] == 1    # insertion
    assert ("beta-900", "gamma-55") not in got
    assert ("alpha-002", "alpha-01") not in got     # distance 2


def test_nested_subsets_are_nested(spark):
    """The 1% hash tier is a strict subset of the 5% tier, etc. — counts
    are monotone per lang and the 10000-bp tier equals the full count."""
    import videos_to_tfrecords_spark.plans.mining_queries  # noqa: F401
    from videos_to_tfrecords_spark.plans.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["nested_subset_curve"](spark, sf).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, {})[r.tier_bp] = r.n_docs
    from videos_to_tfrecords_spark.sources.tables import load_table
    totals = {
        r.lang: r.n for r in
        load_table(spark, sf, "documents").groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    for lang, tiers in by_lang.items():
        assert tiers[100] <= tiers[500] <= tiers[2500] <= tiers[10000]
        assert tiers[10000] == totals[lang]


def test_snapshot_diff_classifies_all_four_states(spark):
    """Hand-built snapshots: one insert, one delete, one update, one
    unchanged — and null-valued compare columns diff null-safely."""
    from videos_to_tfrecords_spark.operators.relational import snapshot_diff

    a = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, "d")], "k long, v string"
    )
    b = spark.createDataFrame(
        [(1, "a"), (3, None), (4, "DD"), (5, "e")], "k long, v string"
    )
    got = {
        r.k: r.change_type
        for r in snapshot_diff(a, b, keys=["k"], compare_cols=["v"]).collect()
    }
    assert got == {
        1: "unchanged",
        2: "delete",
        3: "unchanged",  # null == null under null-safe compare
        4: "update",
        5: "insert",
    }


def test_record_linkage_weights_order_pairs_sensibly(spark, sf_dir):
    """More agreeing fields ⇒ higher score: the decision census is
    internally consistent (match pairs exist only if some pair agrees on
    enough fields; every score_sum is finite)."""
    from videos_to_tfrecords_spark.plans.registry import QUERIES

    rows = {r.decision: r for r in QUERIES["record_linkage_scores"](spark, sf_dir).collect()}
    assert rows  # at least one decision class
    assert set(rows) <= {"match", "possible", "non-match"}
    for r in rows.values():
        assert r.n_pairs > 0 and r.score_sum is not None
    if "match" in rows and "non-match" in rows:
        # average match score strictly above average non-match score
        am = rows["match"].score_sum / rows["match"].n_pairs
        an = rows["non-match"].score_sum / rows["non-match"].n_pairs
        assert am > an


def test_audio_energy_windows_hand_computed(spark):
    """Single-token doc: every sample equals its md5-lead−128, so every
    window energy is 16·v² and window count is (ns−16)//8+1."""
    import hashlib

    from videos_to_tfrecords_spark.operators.multimodal import (
        audio_energy_windows,
    )

    df = spark.createDataFrame([(10, "hello")], "doc_id long, text string")
    rows = audio_energy_windows(df).collect()
    ns = 64 + 10 % 64  # 74 samples
    assert len(rows) == (ns - 16) // 8 + 1
    v = hashlib.md5(b"hello").digest()[0] - 128
    for r in rows:
        assert r.energy == 16 * v * v
        assert r.is_silence == (r.energy < 36_864)


def test_misra_gries_candidates_cover_exact_heavy_hitters(spark):
    # Zipf-ish skew over a domain (~1000 keys) far wider than the counter
    # budget, spread over several partitions so the merge decrement and the
    # per-partition union both get exercised.
    from videos_to_tfrecords_spark.operators.sketches import (
        heavy_hitters_exact,
        misra_gries_candidates,
    )

    rows = [(i * i % 997,) for i in range(20_000)]
    items = spark.createDataFrame(rows, "k long").repartition(8)
    cand = {r[0] for r in misra_gries_candidates(items, "k", 64).collect()}
    exact = (
        items.groupBy("k").count().crossJoin(items.groupBy().count().withColumnRenamed("count", "n"))
    )
    hh_true = {
        r["k"]
        for r in exact.filter(F.col("count") * 50 > F.col("n")).collect()
    }
    assert hh_true <= cand  # MG soundness: no heavy hitter escapes
    got = {
        (r["k"], r["freq"])
        for r in heavy_hitters_exact(items, "k", t_ratio=50, n_counters=64)
        .select("k", "freq")
        .collect()
    }
    want = {
        (r["k"], r["count"])
        for r in exact.filter(F.col("count") * 50 > F.col("n")).collect()
    }
    assert got == want  # two-pass result bit-equal to the naive groupBy
