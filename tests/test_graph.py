"""Graph operator properties beyond the oracle gate."""

from __future__ import annotations

from pyspark.sql import functions as F

from videos_to_tfrecords_spark.operators.graph import (
    pagerank_integer,
    personalized_pagerank_integer,
    triangle_count,
)


def _pagerank_python(edges, n_iter=5, total=10**12):
    """Independent pure-Python reference of the integer update rule."""
    out = {}
    for s, d in edges:
        out.setdefault(s, []).append(d)
    n = len(out)
    base = total // n
    teleport = (15 * base) // 100
    ranks = {v: base for v in out}
    for _ in range(n_iter):
        nxt = {}
        for u, dsts in out.items():
            c = ranks[u] // len(dsts)
            for v in dsts:
                nxt[v] = nxt.get(v, 0) + c
        ranks = {v: teleport + (85 * s) // 100 for v, s in nxt.items()}
    return ranks


def test_pagerank_matches_python_reference(spark):
    """Engine == reference on a small asymmetric graph, and rank mass
    concentrates on the high-in-degree node."""
    edges = [(1, 2), (2, 1), (3, 1), (1, 3), (3, 2), (2, 3), (4, 1), (1, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.rank for r in pagerank_integer(df, n_iter=5).collect()}
    want = _pagerank_python(edges, n_iter=5)
    assert got == want
    assert got[1] == max(got.values())  # node 1 has in-degree 3


def test_pagerank_uniform_on_symmetric_cycle(spark):
    """On a regular graph every node ends with the same rank."""
    cyc = [(i, (i + 1) % 4) for i in range(4)] + [((i + 1) % 4, i) for i in range(4)]
    df = spark.createDataFrame(cyc, "src long, dst long")
    ranks = {r.rank for r in pagerank_integer(df, n_iter=3).collect()}
    assert len(ranks) == 1


def _ppr_python(edges, seed_nodes, n_iter=5, total=10**12):
    out = {}
    for s, d in edges:
        out.setdefault(s, []).append(d)
    base = total // len(seed_nodes)
    teleport = (15 * base) // 100
    ranks = {v: base for v in seed_nodes}
    for _ in range(n_iter):
        nxt = {}
        for u, r in ranks.items():
            c = r // len(out[u])
            for v in out[u]:
                nxt[v] = nxt.get(v, 0) + c
        ranks = {v: (85 * s) // 100 for v, s in nxt.items()}
        for v in seed_nodes:
            ranks[v] = ranks.get(v, 0) + teleport
    return {v: r for v, r in ranks.items()}


def test_personalized_pagerank_matches_python_and_localizes(spark):
    """Engine == reference on a path graph; rank decays with distance
    from the seed (the locality property global PageRank lacks)."""
    path = [(i, i + 1) for i in range(5)] + [(i + 1, i) for i in range(5)]
    df = spark.createDataFrame(path, "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {
        r.node: r.rank
        for r in personalized_pagerank_integer(df, seeds, n_iter=4).collect()
    }
    want = _ppr_python(path, [0], n_iter=4)
    assert got == want
    reached = sorted(k for k in got if got[k] > 0)
    assert got[0] > got[2] > got[4] > 0  # monotone decay along the path
    assert 5 not in reached or got[4] > got[5]


def test_triangle_count_known_graphs(spark):
    """K4 has 4 triangles; adding a pendant vertex adds none; a square
    (4-cycle) has none."""
    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    df = spark.createDataFrame(k4 + [(4, 5)], "a long, b long")
    row = triangle_count(df).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (5, 7, 4)

    square = [(1, 2), (2, 3), (3, 4), (1, 4)]
    row = triangle_count(spark.createDataFrame(square, "a long, b long")).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (4, 4, 0)


def test_triangle_closure_is_equi_join(spark):
    """The adjacency-intersection probe must stay hash/merge EQUI-joins
    (edge ⋈ adj on u, then on v) — a predicate-shaped formulation would
    silently degenerate to a nested-loop join over edges × adjacency."""
    from videos_to_tfrecords_spark.materialize import inner_plans, plan_text

    df = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "a long, b long")
    # audit the plan the result checkpoint ran (the returned frame is the
    # 1-row checkpoint, which audits as a plain RDD scan)
    with inner_plans() as plans:
        triangle_count(df)
    plan = plan_text(plans[-1])
    # the neighbor-array intersection runs inside codegen, never a join
    assert "array_intersect" in plan
    assert "CartesianProduct" not in plan
    # the only nested-loop joins allowed are the two 1-row × 1-row scalar
    # crossJoins that assemble (n_nodes, n_edges, n_triangles)
    assert plan.count("BroadcastNestedLoopJoin") <= 2


def test_triangle_star_hub_wedges_bounded(spark):
    """A star (one hub, 40 leaves) has 0 triangles; with degree
    orientation every leaf→hub edge is oriented leaf-first, so no wedge
    is ever centered at the hub (the O(deg²) blowup the orientation
    exists to prevent)."""
    star = [(0, i) for i in range(1, 41)]
    row = triangle_count(spark.createDataFrame(star, "a long, b long")).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (41, 40, 0)


def test_kcore_peels_tail_keeps_clique(spark):
    """A 4-clique (every degree 3) survives 3-core peeling; pendant nodes
    hanging off it peel in round 1, which drops clique degrees seen by
    LATER rounds only via removed neighbors — the clique stays intact."""
    from videos_to_tfrecords_spark.operators.graph import kcore_rounds

    clique = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    pendants = [(1, 10), (2, 11), (3, 12)]
    df = spark.createDataFrame(clique + pendants, "a long, b long")
    rows = {r.round: (r.nodes_left, r.edges_left)
            for r in kcore_rounds(df, k=3, rounds=3).collect()}
    assert rows[1] == (4, 6)  # pendants (deg 1) peel; clique intact
    assert rows[2] == (4, 6)
    assert rows[3] == (4, 6)


def test_kcore_cascading_peel(spark):
    """A path a-b-c-d under k=2: endpoints peel round 1, then the middle
    edge's endpoints drop below 2 and everything unravels round 2 —
    the census must show the cascade, not a one-shot filter."""
    from videos_to_tfrecords_spark.operators.graph import kcore_rounds

    df = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "a long, b long")
    rows = {r.round: (r.nodes_left, r.edges_left)
            for r in kcore_rounds(df, k=2, rounds=2).collect()}
    assert rows[1] == (2, 1)  # endpoints gone, middle edge 2-3 left
    assert rows[2] == (0, 0)  # cascade: 2 and 3 now degree-1


def test_local_clustering_known_coefficients(spark):
    """Triangle with a pendant: the two pure-triangle nodes have coef 1
    (1_000_000 ppm); the node also touching the pendant has deg 3, one
    triangle => 2*1/(3*2) = 333333 ppm."""
    from videos_to_tfrecords_spark.operators.graph import local_clustering_topk

    df = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4)], "a long, b long"
    )
    got = {r.node: (r.degree, r.n_triangles, r.clustering_ppm)
           for r in local_clustering_topk(df, topk=10).collect()}
    assert got[1] == (2, 1, 1_000_000)
    assert got[2] == (2, 1, 1_000_000)
    assert got[3] == (3, 1, 333_333)
    assert 4 not in got  # degree 1: coefficient undefined, excluded


def test_common_neighbors_excludes_existing_edges(spark):
    """Square 1-2-3-4: diagonals (1,3) and (2,4) each share two
    neighbors; existing edges never appear as predictions."""
    from videos_to_tfrecords_spark.operators.graph import common_neighbor_pairs

    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4)], "a long, b long"
    )
    rows = [(r.pa, r.pb, r.n_common)
            for r in common_neighbor_pairs(df, cap=64, topk=10).collect()]
    assert rows == [(1, 3, 2), (2, 4, 2)]


def test_common_neighbors_cap_binds_deterministically(spark):
    """Star center with 5 leaves, cap=3: only the 3 smallest leaf ids
    enter pair expansion — C(3,2)=3 predicted pairs, all among leaves
    {2,3,4}, each with exactly one common neighbor (the hub)."""
    from videos_to_tfrecords_spark.operators.graph import common_neighbor_pairs

    df = spark.createDataFrame([(1, k) for k in (2, 3, 4, 5, 6)], "a long, b long")
    rows = [(r.pa, r.pb, r.n_common)
            for r in common_neighbor_pairs(df, cap=3, topk=10).collect()]
    assert rows == [(2, 3, 1), (2, 4, 1), (3, 4, 1)]


def test_feature_propagation_hand_computed_path(spark):
    """Path graph 1–2–3 (undirected), scalar feature = node id, 1 round:
    f'(1)=1+2, f'(2)=2+1+3, f'(3)=3+2."""
    from pyspark.sql import functions as F

    from videos_to_tfrecords_spark.operators.graph import feature_propagation

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], "src long, dst long"
    )
    feats = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], "node long, f long")
    got = {
        r.node: r.f
        for r in feature_propagation(edges, feats, n_rounds=1).collect()
    }
    assert got == {1: 3, 2: 6, 3: 5}


def test_weighted_pagerank_follows_weight_mass(spark):
    """Star with one heavy edge: the heavy neighbor outranks the light one
    (uniform PageRank would tie them)."""
    from videos_to_tfrecords_spark.operators.graph import (
        pagerank_integer,
        weighted_pagerank_integer,
    )

    # hub 0 — heavy edge to 1 (w=9), light to 2 (w=1); symmetric back-edges
    edges = spark.createDataFrame(
        [(0, 1, 9), (1, 0, 9), (0, 2, 1), (2, 0, 1)],
        "src long, dst long, w long",
    )
    wr = {r.node: r.rank for r in weighted_pagerank_integer(edges, n_iter=3).collect()}
    assert wr[1] > wr[2]
    ur = {
        r.node: r.rank
        for r in pagerank_integer(edges.select("src", "dst"), n_iter=3).collect()
    }
    assert ur[1] == ur[2]  # uniform variant ties them


def test_common_neighbor_pairs_guards_ids_beyond_32_bits(spark):
    """The packed wedge key is a bijection only for ids < 2^32; a graph
    violating that must RAISE (never silently corrupt counts)."""
    import pytest
    from videos_to_tfrecords_spark.operators.graph import common_neighbor_pairs

    und = spark.createDataFrame(
        [(1, 2), (1, 2**32 + 5), (2, 2**32 + 5)], "a long, b long"
    )
    with pytest.raises(Exception, match="2\\^32"):
        common_neighbor_pairs(und, cap=8, topk=10).collect()


def test_common_neighbor_pairs_ids_between_2_31_and_2_32(spark):
    """r6 ADVICE fix: ids in [2^31, 2^32) are inside the guard's claimed
    domain, but the old arithmetic pack (y * 2^32) wrapped negative and the
    signed div/% decode corrupted pa/pb. The shift/mask pack-decode must
    return the correct pairs for the full guarded domain."""
    from videos_to_tfrecords_spark.operators.graph import common_neighbor_pairs

    hi = 2**31 + 7  # in [2^31, 2^32)
    lo = 2**31 + 3
    # hub 1 connects {lo, hi}; hub 2 connects {lo, hi}: pair (lo, hi) has
    # n_common = 2 and is not itself an edge
    und = spark.createDataFrame(
        [(1, lo), (1, hi), (2, lo), (2, hi)], "a long, b long"
    )
    rows = [tuple(r) for r in common_neighbor_pairs(und, cap=8, topk=10).collect()]
    assert (lo, hi, 2) in rows
    assert all(pa >= 0 and pb >= 0 for pa, pb, _ in rows)


def test_adamic_adar_tolerates_degree_one_hubs(spark):
    """r7 ADVICE fix: a degree-1 hub's weight divisor is
    floor(1e6·ln(1)) = 0, and the weight used to be computed for EVERY hub
    before the wedge join could filter it — DIVIDE_BY_ZERO under Spark 4's
    default ANSI mode. Degree-1 hubs can never produce a wedge, so the
    query must succeed and score only the genuine wedge."""
    from videos_to_tfrecords_spark.operators.graph import adamic_adar_pairs

    # hub 4 connects {1, 2} (a real wedge); edges (3, 5) gives BOTH 3 and
    # 5 capped degree 1 — the reproduction in the advice report
    und = spark.createDataFrame(
        [(4, 1), (4, 2), (3, 5)], "a long, b long"
    )
    rows = [tuple(r) for r in adamic_adar_pairs(und, cap=8, topk=10).collect()]
    # exact integer weight of a degree-2 hub: 1e12 div floor(1e6·ln 2)
    import math

    w2 = 10**12 // math.floor(10**6 * math.log(2))
    assert rows == [(1, 2, w2, 1)]
