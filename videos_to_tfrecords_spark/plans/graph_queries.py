"""Graph-analytics queries over relational edge derivations.

Two graphs, both derived from the TPC-H-ish tables:
- the bipartite customer↔supplier trade graph (an order by customer c
  containing a lineitem from supplier s ⇒ edge), symmetrized for PageRank;
  node ids are namespaced 2·custkey / 2·suppkey+1 so the two key spaces
  can't collide;
- the part co-purchase graph (two parts sharing an order ⇒ undirected
  edge), for triangle counting.

Oracle strategy: PageRank runs in exact BIGINT floor arithmetic (see
operators/graph.pagerank_integer), so the DuckDB twin is the update rule
unrolled into one CTE per iteration — the same technique as the IVF
kmeans oracle (similarity_queries.py). Integer sums are order-independent,
so the hash compare is exact. The triangle oracle is the textbook
canonical triple join (e1=(x<y), e2=(x<z,y<z), e3=(y,z)); the engine's
degree-ordered plan must reproduce its count exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from videos_to_tfrecords_spark.materialize import materialized
from videos_to_tfrecords_spark.plans.registry import query
from videos_to_tfrecords_spark.sources.tables import load_table

_PR_ITERS = 5
_PR_TOTAL = 10**12


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    fwd = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    # symmetrize by exploding both directions per row instead of
    # fwd.unionAll(fwd.reversed): a union references the distinct subtree
    # twice and Catalyst executes it twice per job — explode doubles the
    # rows in ONE pass of the (expensive) join+distinct subtree
    return fwd.select(
        F.explode(
            F.array(
                F.struct(F.col("src"), F.col("dst")),
                F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")


def _pagerank_oracle_sql() -> str:
    head = f"""
WITH e0 AS MATERIALIZED (
  SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
edges AS MATERIALIZED (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
deg AS MATERIALIZED (SELECT src AS node, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY src),
c AS MATERIALIZED (SELECT CAST({_PR_TOTAL} // count(*) AS BIGINT) AS r0,
             CAST((15 * ({_PR_TOTAL} // count(*))) // 100 AS BIGINT) AS tel
      FROM deg),
r0 AS MATERIALIZED (SELECT node, (SELECT r0 FROM c) AS rank FROM deg)"""
    iters = []
    for i in range(1, _PR_ITERS + 1):
        prev = f"r{i-1}"
        iters.append(
            f""",
r{i} AS MATERIALIZED (
  SELECT e.dst AS node,
         (SELECT tel FROM c) + (85 * sum(r.rank // dg.d)) // 100 AS rank
  FROM edges e
  JOIN {prev} r ON e.src = r.node
  JOIN deg dg ON e.src = dg.node
  GROUP BY e.dst)"""
        )
    tail = f"""
SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
       CAST(node // 2 AS BIGINT) AS key,
       CAST(rank AS BIGINT) AS rank
FROM r{_PR_ITERS}"""
    return head + "".join(iters) + tail


@query("graph_pagerank_trade", _pagerank_oracle_sql())
def q_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-iteration integer PageRank over the symmetrized customer↔supplier
    trade graph (operators/graph.pagerank_integer); the oracle unrolls the
    identical BIGINT floor-arithmetic update rule into 5 CTEs."""
    from videos_to_tfrecords_spark.operators.graph import pagerank_integer

    ranks = pagerank_integer(
        _trade_edges(spark, sf_dir), n_iter=_PR_ITERS, total=_PR_TOTAL
    )
    return ranks.select(
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("node_type"),
        F.expr("node div 2").cast("long").alias("key"),
        F.col("rank").cast("long").alias("rank"),
    )


def _ppr_oracle_sql() -> str:
    head = f"""
WITH e0 AS MATERIALIZED (
  SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
edges AS MATERIALIZED (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
deg AS MATERIALIZED (SELECT src AS node, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY src),
seeds AS MATERIALIZED (
  SELECT c_custkey*2 AS node FROM customer
  JOIN nation ON n_nationkey = c_nationkey
  JOIN region ON r_regionkey = n_regionkey
  WHERE r_name = 'ASIA'),
c AS MATERIALIZED (SELECT CAST({_PR_TOTAL} // count(*) AS BIGINT) AS r0,
             CAST((15 * ({_PR_TOTAL} // count(*))) // 100 AS BIGINT) AS tel
      FROM seeds),
r0 AS MATERIALIZED (SELECT node, (SELECT r0 FROM c) AS rank FROM seeds)"""
    iters = []
    for i in range(1, _PR_ITERS + 1):
        prev = f"r{i-1}"
        iters.append(
            f""",
r{i} AS MATERIALIZED (
  SELECT node, CAST(sum(part) AS BIGINT) AS rank FROM (
    SELECT e.dst AS node, (85 * sum(r.rank // dg.d)) // 100 AS part
    FROM edges e
    JOIN {prev} r ON e.src = r.node
    JOIN deg dg ON e.src = dg.node
    GROUP BY e.dst
    UNION ALL
    SELECT node, (SELECT tel FROM c) AS part FROM seeds)
  GROUP BY node)"""
        )
    tail = f"""
SELECT CAST(node // 2 AS BIGINT) AS suppkey, CAST(rank AS BIGINT) AS affinity
FROM r{_PR_ITERS} WHERE node % 2 = 1"""
    return head + "".join(iters) + tail


@query("graph_ppr_region_affinity", _ppr_oracle_sql())
def q_ppr_region_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank seeded at ASIA-region customers over the
    trade graph (operators/graph.personalized_pagerank_integer): supplier
    ranks measure affinity to that customer cohort — the TrustRank-style
    whitelist-propagation shape. Oracle unrolls the identical
    union-then-aggregate integer update rule."""
    from videos_to_tfrecords_spark.operators.graph import (
        personalized_pagerank_integer,
    )

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    reg = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    seeds = (
        cust.join(nat, cust.c_nationkey == nat.n_nationkey)
        .join(reg, nat.n_regionkey == reg.r_regionkey)
        .select((F.col("c_custkey") * 2).alias("node"))
    )
    ranks = personalized_pagerank_integer(
        _trade_edges(spark, sf_dir), seeds, n_iter=_PR_ITERS, total=_PR_TOTAL
    )
    return ranks.filter(F.col("node") % 2 == 1).select(
        F.expr("node div 2").cast("long").alias("suppkey"),
        F.col("rank").cast("long").alias("affinity"),
    )


@query(
    "graph_triangles_copurchase",
    """
WITH und AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM lineitem a
  JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
nodes AS MATERIALIZED (
  SELECT CAST(count(DISTINCT n) AS BIGINT) AS n_nodes
  FROM (SELECT pa AS n FROM und UNION ALL SELECT pb AS n FROM und)),
edges AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM und),
tri AS MATERIALIZED (
  SELECT CAST(count(*) AS BIGINT) AS n_triangles
  FROM und e1
  JOIN und e2 ON e2.pa = e1.pa AND e2.pb > e1.pb
  JOIN und e3 ON e3.pa = e1.pb AND e3.pb = e2.pb)
SELECT n_nodes, n_edges, n_triangles FROM nodes, edges, tri
""",
)
def q_triangles_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the part co-purchase graph via the degree-ordered
    wedge join (operators/graph.triangle_count) — must equal the canonical
    triple-join count exactly."""
    from videos_to_tfrecords_spark.operators.graph import triangle_count

    return triangle_count(_copurchase_und(spark, sf_dir))


def _copurchase_und(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (a < b, distinct) part co-purchase edges. Pairs are
    generated IN-TASK from each order's part set (one groupBy shuffle +
    codegen pair expansion) instead of a lineitem self-join — same result,
    no SMJ exchange, and safe because lines per order are bounded (TPC-H
    ≤ 7; C(n,2) stays tiny per group)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) ->"
                    " transform(slice(ps, i + 2, size(ps)),"
                    " y -> struct(x AS a, y AS b))))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
        .distinct()
    )


_UND_SQL = """
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM lineitem a
  JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey"""

_KCORE_K = 3
_KCORE_ROUNDS = 4


def _kcore_oracle_sql() -> str:
    parts = [
        """
WITH e0 AS MATERIALIZED (
  SELECT DISTINCT least(o_custkey*2, l_suppkey*2+1) AS x,
                  greatest(o_custkey*2, l_suppkey*2+1) AS y
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey)"""
    ]
    for r in range(1, _KCORE_ROUNDS + 1):
        p = r - 1
        parts.append(
            f""",
d{r} AS MATERIALIZED (SELECT n, count(*) AS d
        FROM (SELECT x AS n FROM e{p} UNION ALL SELECT y FROM e{p}) GROUP BY n),
k{r} AS MATERIALIZED (SELECT n FROM d{r} WHERE d >= {_KCORE_K}),
e{r} AS MATERIALIZED (SELECT x, y FROM e{p}
        WHERE x IN (SELECT n FROM k{r}) AND y IN (SELECT n FROM k{r})),
c{r} AS MATERIALIZED (SELECT CAST({r} AS BIGINT) AS round,
                CAST(count(DISTINCT n) AS BIGINT) AS nodes_left,
                CAST(count(n) // 2 AS BIGINT) AS edges_left
         FROM (SELECT x AS n FROM e{r} UNION ALL SELECT y FROM e{r}))"""
        )
    union = "\nUNION ALL ".join(
        f"SELECT * FROM c{r}" for r in range(1, _KCORE_ROUNDS + 1)
    )
    return "".join(parts) + "\n" + union


@query("graph_kcore_trade", _kcore_oracle_sql())
def q_kcore_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous 3-core peeling census of the undirected customer↔supplier
    trade graph, 4 fixed rounds (operators/graph.kcore_rounds); the oracle
    unrolls the identical peel per round."""
    from videos_to_tfrecords_spark.operators.graph import kcore_rounds

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    und = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.least(F.col("o_custkey") * 2, F.col("l_suppkey") * 2 + 1).alias("a"),
            F.greatest(F.col("o_custkey") * 2, F.col("l_suppkey") * 2 + 1).alias("b"),
        )
        .distinct()
    )
    return kcore_rounds(und, k=_KCORE_K, rounds=_KCORE_ROUNDS)


@query(
    "graph_local_clustering",
    f"""
WITH und AS MATERIALIZED ({_UND_SQL}),
deg AS MATERIALIZED (SELECT n, count(*) AS d
        FROM (SELECT pa AS n FROM und UNION ALL SELECT pb FROM und) GROUP BY n),
tris AS MATERIALIZED (
  SELECT e1.pa AS x, e1.pb AS y, e2.pb AS z
  FROM und e1
  JOIN und e2 ON e2.pa = e1.pa AND e2.pb > e1.pb
  JOIN und e3 ON e3.pa = e1.pb AND e3.pb = e2.pb),
cnt AS MATERIALIZED (SELECT n, count(*) AS tri
        FROM (SELECT x AS n FROM tris UNION ALL SELECT y FROM tris
              UNION ALL SELECT z FROM tris) GROUP BY n)
SELECT deg.n AS node,
       CAST(deg.d AS BIGINT) AS degree,
       CAST(coalesce(cnt.tri, 0) AS BIGINT) AS n_triangles,
       CAST((2 * coalesce(cnt.tri, 0) * 1000000) // (deg.d * (deg.d - 1)) AS BIGINT)
         AS clustering_ppm
FROM deg LEFT JOIN cnt ON cnt.n = deg.n
WHERE deg.d >= 2
ORDER BY clustering_ppm DESC, degree DESC, node ASC
LIMIT 100
""",
)
def q_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 part co-purchase nodes by local clustering coefficient
    (operators/graph.local_clustering_topk): degree-ordered adjacency
    intersection credits all three triangle corners; exact integer ppm
    ratio reproduces the canonical triple-join oracle bit-for-bit."""
    from videos_to_tfrecords_spark.operators.graph import local_clustering_topk

    return local_clustering_topk(_copurchase_und(spark, sf_dir), topk=100)


_CN_CAP = 64


@query(
    "graph_link_prediction",
    f"""
WITH und AS MATERIALIZED ({_UND_SQL}),
bidir AS MATERIALIZED (SELECT pa AS x, pb AS y FROM und UNION ALL SELECT pb, pa FROM und),
ranked AS MATERIALIZED (SELECT x, y, row_number() OVER (PARTITION BY x ORDER BY y) AS rn
           FROM bidir),
capped AS MATERIALIZED (SELECT x, y FROM ranked WHERE rn <= {_CN_CAP}),
wedges AS MATERIALIZED (SELECT l.y AS pa, r.y AS pb
           FROM capped l JOIN capped r ON l.x = r.x AND l.y < r.y),
scored AS MATERIALIZED (SELECT pa, pb, count(*) AS n_common FROM wedges GROUP BY pa, pb),
cand AS MATERIALIZED (SELECT s.pa, s.pb, s.n_common FROM scored s
         LEFT JOIN und u ON u.pa = s.pa AND u.pb = s.pb
         WHERE u.pa IS NULL)
SELECT pa, pb, CAST(n_common AS BIGINT) AS n_common
FROM cand ORDER BY n_common DESC, pa ASC, pb ASC LIMIT 100
""",
)
def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 predicted co-purchase links by common-neighbor count over
    capped sorted adjacency (operators/graph.common_neighbor_pairs);
    the oracle reproduces the deterministic cap with a rank filter."""
    from videos_to_tfrecords_spark.operators.graph import common_neighbor_pairs

    return common_neighbor_pairs(_copurchase_und(spark, sf_dir), cap=_CN_CAP, topk=100)


def _feature_prop_oracle(n_rounds: int = 2) -> str:
    from videos_to_tfrecords_spark.functions.hashing import h15_sql

    h = h15_sql("CAST(node AS VARCHAR)", salt="gf")
    parts = [
        """WITH e0 AS (
  SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
edges AS MATERIALIZED (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges)""",
        f"""f0 AS (SELECT node, CAST({h} % 1000 AS BIGINT) AS fa,
               CAST(node % 97 AS BIGINT) AS fb FROM nodes)""",
    ]
    for i in range(1, n_rounds + 1):
        prev = f"f{i - 1}"
        parts.append(
            f"""m{i} AS (SELECT e.dst AS node, CAST(sum(p.fa) AS BIGINT) AS fa,
               CAST(sum(p.fb) AS BIGINT) AS fb
  FROM edges e JOIN {prev} p ON e.src = p.node GROUP BY e.dst),
f{i} AS MATERIALIZED (SELECT c.node, c.fa + coalesce(m.fa, 0) AS fa,
                c.fb + coalesce(m.fb, 0) AS fb
  FROM {prev} c LEFT JOIN m{i} m ON m.node = c.node)"""
        )
    return (
        ",\n".join(parts)
        + f"""
SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
       CAST(node // 2 AS BIGINT) AS key,
       CAST(fa AS BIGINT) AS fa, CAST(fb AS BIGINT) AS fb
FROM f{n_rounds}"""
    )


@query("graph_feature_propagation", _feature_prop_oracle())
def q_graph_feature_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GNN-style 2-round feature propagation over the customer–supplier
    trade graph (sum aggregator + self loop, exact int64 features from the
    portable hash): the precompute a graph-ML pipeline runs to give every
    node a neighborhood-aggregated embedding. One shuffle per round; the
    unrolled-CTE oracle hash-checks BOTH rounds of message passing."""
    from videos_to_tfrecords_spark.functions.hashing import h15
    from videos_to_tfrecords_spark.operators.graph import feature_propagation

    edges = _trade_edges(spark, sf_dir)
    nodes = edges.select(F.col("src").alias("node")).distinct()
    feats = nodes.select(
        "node",
        (h15(F.col("node").cast("string"), salt="gf") % 1000).alias("fa"),
        (F.col("node") % 97).cast("long").alias("fb"),
    )
    out = feature_propagation(edges, feats, n_rounds=2)
    return out.select(
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("node_type"),
        F.expr("node div 2").cast("long").alias("key"),
        F.col("fa").cast("long").alias("fa"),
        F.col("fb").cast("long").alias("fb"),
    )


_NEG_TRIALS, _NEG_K = 8, 3


def _neg_edge_oracle() -> str:
    from videos_to_tfrecords_spark.functions.hashing import h15_sql

    h = h15_sql("CAST(src AS VARCHAR) || ':' || CAST(t AS VARCHAR)", salt="neg")
    return f"""
WITH e0 AS MATERIALIZED (
  SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
edges AS MATERIALIZED (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
rk AS MATERIALIZED (SELECT node, row_number() OVER (ORDER BY node) - 1 AS rn FROM nodes),
cand AS MATERIALIZED (
  SELECT s.node AS src, t,
         CAST({h} % (SELECT n FROM nn) AS BIGINT) AS pick_rn
  FROM (SELECT node FROM nodes) s(node),
       (SELECT unnest(range(0, {_NEG_TRIALS})) AS t)
),
withdst AS MATERIALIZED (SELECT c.src, c.t, r.node AS dst
            FROM cand c JOIN rk r ON r.rn = c.pick_rn
            WHERE r.node != c.src),
nonedge AS MATERIALIZED (SELECT w.src, w.t, w.dst FROM withdst w
            LEFT JOIN edges e ON e.src = w.src AND e.dst = w.dst
            WHERE e.src IS NULL),
ranked AS MATERIALIZED (SELECT src, dst, t,
                  row_number() OVER (PARTITION BY src ORDER BY t, dst) AS k
           FROM nonedge)
SELECT src, dst, CAST(k AS BIGINT) AS k FROM ranked WHERE k <= {_NEG_K}
"""


@query("graph_negative_edge_samples", _neg_edge_oracle())
def q_graph_negative_edge_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative-edge sampling for link-prediction / GNN
    training: each node draws {_NEG_TRIALS} hash-indexed candidate
    partners (h15(src:trial) mod |V| against a dense rank of the node
    set), self/existing edges are rejected (anti-join), first {_NEG_K}
    survivors kept by trial order. Every draw is the portable hash, so the
    sampled negative SET hash-matches the SQL twin. Shapes: one |V|-sized
    rank table join (broadcastable), candidate volume |V|·trials, one
    anti-join on the edge table."""
    from videos_to_tfrecords_spark.functions.hashing import h15
    from videos_to_tfrecords_spark.operators.ordered import global_row_number
    from pyspark.sql import Window

    with materialized() as m:
        edges = m.cut(_trade_edges(spark, sf_dir))
        nodes = edges.select(F.col("src").alias("node")).distinct()
        n = nodes.count()
        # dense 0-based node rank via the distributed global row number — |V|
        # grows with the corpus, so no single-partition window over the node
        # set (operators/ordered.py)
        rk = global_row_number(nodes, [F.col("node")], "_rn1", scope=m).select(
            "node", (F.col("_rn1") - 1).alias("rn")
        )
        trials = spark.range(_NEG_TRIALS).select(F.col("id").alias("t"))
        cand = (
            nodes.crossJoin(F.broadcast(trials))
            .select(
                F.col("node").alias("src"),
                "t",
                (
                    h15(
                        F.concat_ws(
                            ":", F.col("node").cast("string"), F.col("t").cast("string")
                        ),
                        salt="neg",
                    )
                    % n
                ).alias("pick_rn"),
            )
        )
        withdst = (
            cand.join(rk, cand.pick_rn == rk.rn)
            .filter(F.col("node") != F.col("src"))
            .select("src", "t", F.col("node").alias("dst"))
        )
        nonedge = withdst.join(edges, ["src", "dst"], "left_anti")
        w = Window.partitionBy("src").orderBy("t", "dst")
        return m.result(
            nonedge.withColumn("k", F.row_number().over(w).cast("long"))
            .filter(F.col("k") <= _NEG_K)
            .select("src", "dst", "k")
        )


def _weighted_pr_oracle() -> str:
    head = f"""
WITH e0 AS MATERIALIZED (
  SELECT o_custkey*2 AS src, l_suppkey*2+1 AS dst,
         CAST(count(DISTINCT o_orderkey) AS BIGINT) AS w
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey GROUP BY 1, 2),
edges AS MATERIALIZED (SELECT src, dst, w FROM e0
          UNION ALL SELECT dst AS src, src AS dst, w FROM e0),
wdeg AS MATERIALIZED (SELECT src AS node, CAST(sum(w) AS BIGINT) AS wd FROM edges GROUP BY src),
c AS MATERIALIZED (SELECT CAST({_PR_TOTAL} // count(*) AS BIGINT) AS r0,
             CAST((15 * ({_PR_TOTAL} // count(*))) // 100 AS BIGINT) AS tel
      FROM wdeg),
r0 AS MATERIALIZED (SELECT node, (SELECT r0 FROM c) AS rank FROM wdeg)"""
    iters = []
    for i in range(1, _PR_ITERS + 1):
        prev = f"r{i-1}"
        iters.append(
            f""",
r{i} AS MATERIALIZED (
  SELECT e.dst AS node,
         (SELECT tel FROM c) + (85 * sum((r.rank * e.w) // dg.wd)) // 100 AS rank
  FROM edges e
  JOIN {prev} r ON e.src = r.node
  JOIN wdeg dg ON e.src = dg.node
  GROUP BY e.dst)"""
        )
    tail = f"""
SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
       CAST(node // 2 AS BIGINT) AS key,
       CAST(rank AS BIGINT) AS rank
FROM r{_PR_ITERS}"""
    return head + "".join(iters) + tail


@query("graph_weighted_pagerank", _weighted_pr_oracle())
def q_graph_weighted_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED integer PageRank over the trade graph — edge weight =
    distinct orders between the customer/supplier pair, so centrality
    follows trade VOLUME, not mere adjacency. Same one-shuffle-per-
    iteration shape and exact floor arithmetic as the uniform variant;
    the unrolled-CTE oracle reproduces all 5 weighted iterations."""
    from videos_to_tfrecords_spark.operators.graph import (
        weighted_pagerank_integer,
    )

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    fwd = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .agg(F.countDistinct("o_orderkey").cast("long").alias("w"))
    )
    # explode-both-directions symmetrize (see _trade_edges): one pass of the
    # join+agg subtree instead of union's two
    edges = fwd.select(
        F.explode(
            F.array(
                F.struct(F.col("src"), F.col("dst"), F.col("w")),
                F.struct(
                    F.col("dst").alias("src"), F.col("src").alias("dst"), F.col("w")
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst", "e.w")
    ranks = weighted_pagerank_integer(edges, n_iter=_PR_ITERS, total=_PR_TOTAL)
    return ranks.select(
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("node_type"),
        F.expr("node div 2").cast("long").alias("key"),
        F.col("rank").cast("long").alias("rank"),
    )


def _hits_oracle_sql() -> str:
    return """
WITH e AS MATERIALIZED (SELECT DISTINCT o_custkey AS c, l_suppkey AS s
           FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
a1 AS MATERIALIZED (SELECT s, CAST(count(*) AS BIGINT) * 1000000 AS v FROM e GROUP BY s),
da1 AS MATERIALIZED (SELECT (max(v) // 1000000) + 1 AS d FROM a1),
a1n AS MATERIALIZED (SELECT s, v // (SELECT d FROM da1) AS v FROM a1),
h1 AS MATERIALIZED (SELECT e.c, CAST(sum(a.v) AS BIGINT) AS v
       FROM e JOIN a1n a USING (s) GROUP BY e.c),
dh1 AS MATERIALIZED (SELECT (max(v) // 1000000) + 1 AS d FROM h1),
h1n AS MATERIALIZED (SELECT c, v // (SELECT d FROM dh1) AS v FROM h1),
a2 AS MATERIALIZED (SELECT e.s, CAST(sum(h.v) AS BIGINT) AS v
       FROM e JOIN h1n h USING (c) GROUP BY e.s),
da2 AS MATERIALIZED (SELECT (max(v) // 1000000) + 1 AS d FROM a2),
a2n AS MATERIALIZED (SELECT s, v // (SELECT d FROM da2) AS v FROM a2)
SELECT 'hub' AS node_type, CAST(c AS BIGINT) AS key, CAST(v AS BIGINT) AS score
FROM h1n
UNION ALL
SELECT 'authority', CAST(s AS BIGINT), CAST(v AS BIGINT) FROM a2n
"""


@query("graph_hits_trade", _hits_oracle_sql())
def q_graph_hits_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities on the DIRECTED customer→supplier trade
    graph (PageRank's bipartite sibling: hub customers buy from the
    well-sourced suppliers, authority suppliers are bought by the
    well-connected customers — the mutually-recursive influence pair).
    Two exact integer rounds with data-derived truncating renormalization
    (operators/graph.hits_integer); the oracle is the update rule
    unrolled CTE-per-half-step, the PageRank oracle technique.

    Scale shape: one shuffle per half-step on the node key; rank tables
    are node-sized; the edge list persists across rounds (one derivation
    for four consumers)."""
    from videos_to_tfrecords_spark.operators.graph import hits_integer

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("src"), F.col("l_suppkey").alias("dst"))
        .distinct()
    )
    return hits_integer(edges)


@query(
    "graph_degree_assortativity",
    """
WITH e0 AS MATERIALIZED (SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst
            FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
edges AS MATERIALIZED (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
deg AS MATERIALIZED (SELECT src AS node, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY 1),
p AS MATERIALIZED (SELECT a.d AS x, b.d AS y
      FROM edges e JOIN deg a ON a.node = e.src JOIN deg b ON b.node = e.dst),
s AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             sum(CAST(x AS HUGEINT) * y) AS sxy,
             sum(CAST(x AS HUGEINT) * x) AS sxx,
             sum(CAST(y AS HUGEINT) * y) AS syy
      FROM p),
w AS MATERIALIZED (SELECT n,
             CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
             CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS dx,
             CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS dy
      FROM s)
SELECT CAST(n // 2 AS BIGINT) AS n_edges,
       CAST(floor(1000000.0 * CAST(num AS DOUBLE)
            / sqrt(CAST(dx AS DOUBLE) * CAST(dy AS DOUBLE))) AS BIGINT)
         AS assortativity_x1e6
FROM w WHERE dx > 0 AND dy > 0
""",
)
def q_graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the symmetrized trade graph — Newman's
    degree-degree Pearson over directed edge endpoints (negative =
    hub-to-leaf disassortative, the usual shape of bipartite commerce).
    Exact integer sufficient statistics over the edge list with the acf
    HUGEINT/DECIMAL(38) closing-product discipline; the single float op
    is the final Pearson ratio on an identical expression tree.

    Scale shape: the edge list joins the node-keyed degree table twice
    (each join shuffles on a node key, the PageRank profile) and
    collapses to 6 wide integers — no corpus-sized state."""
    with materialized() as m:
        edges = m.keep(_trade_edges(spark, sf_dir))
        deg = edges.groupBy("src").agg(F.count("*").cast("long").alias("d"))
        p = (
            edges.join(deg.withColumnRenamed("src", "node"), F.col("src") == F.col("node"))
            .select(F.col("dst"), F.col("d").alias("x"))
            .join(
                deg.select(F.col("src").alias("node2"), F.col("d").alias("y")),
                F.col("dst") == F.col("node2"),
            )
            .select("x", "y")
        )
        d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
        s = p.agg(
            F.count("*").cast("long").alias("n"),
            F.sum("x").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(d38(F.col("x")) * d38(F.col("y"))).alias("sxy"),
            F.sum(d38(F.col("x")) * d38(F.col("x"))).alias("sxx"),
            F.sum(d38(F.col("y")) * d38(F.col("y"))).alias("syy"),
        )
        nD = d38(F.col("n"))
        num = nD * F.col("sxy") - d38(F.col("sx")) * d38(F.col("sy"))
        dx = nD * F.col("sxx") - d38(F.col("sx")) * d38(F.col("sx"))
        dy = nD * F.col("syy") - d38(F.col("sy")) * d38(F.col("sy"))
        return m.result(
            s.filter((dx > 0) & (dy > 0)).select(
                F.expr("CAST(n div 2 AS BIGINT)").alias("n_edges"),
                F.floor(
                    F.lit(1000000.0)
                    * num.cast("double")
                    / F.sqrt(dx.cast("double") * dy.cast("double"))
                )
                .cast("long")
                .alias("assortativity_x1e6"),
            )
        )


_BFS_ITERS = 4


def _bfs_oracle_sql() -> str:
    head = """
WITH e0 AS MATERIALIZED (
  SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
edges AS MATERIALIZED (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
seeds AS MATERIALIZED (SELECT DISTINCT s_suppkey*2+1 AS node FROM supplier
          JOIN nation ON n_nationkey = s_nationkey
          JOIN region ON r_regionkey = n_regionkey WHERE r_name = 'EUROPE'),
d0 AS MATERIALIZED (SELECT node, CAST(0 AS BIGINT) AS dist FROM seeds)"""
    iters = []
    for i in range(1, _BFS_ITERS + 1):
        iters.append(
            f""",
d{i} AS MATERIALIZED (SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
  SELECT node, dist FROM d{i-1}
  UNION ALL
  SELECT e.dst AS node, d.dist + 1 AS dist
  FROM edges e JOIN d{i-1} d ON e.src = d.node)
  GROUP BY node)"""
        )
    tail = f""",
r AS MATERIALIZED (SELECT n.node, coalesce(d.dist, -1) AS dist
      FROM nodes n LEFT JOIN d{_BFS_ITERS} d ON d.node = n.node)
SELECT CAST(dist AS BIGINT) AS dist,
       CAST(count(*) FILTER (WHERE node % 2 = 0) AS BIGINT) AS n_customers,
       CAST(count(*) FILTER (WHERE node % 2 = 1) AS BIGINT) AS n_suppliers
FROM r GROUP BY dist"""
    return head + "".join(iters) + tail


@query("graph_bfs_distances", _bfs_oracle_sql())
def q_graph_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop-level census over the symmetrized trade graph:
    exact min-hop distance from the European supplier seed set (4
    level-synchronous rounds, operators/graph.bfs_levels), then nodes per
    hop level split customer/supplier, with dist = -1 for graph nodes the
    frontier never reached. The reachability/blast-radius primitive next
    to PageRank (influence) and k-core (cohesion); the oracle unrolls the
    identical min-fold frontier expansion into one CTE per hop.

    Scale shape: each round is one edge-keyed shuffle join + a min
    aggregate (Pregel's level-synchronous step); the final census is a
    6-row aggregate. No per-node state beyond (node, dist)."""
    from videos_to_tfrecords_spark.operators.graph import bfs_levels

    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    region = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    eu_nations = nation.join(
        F.broadcast(region.filter(F.col("r_name") == "EUROPE")),
        nation.n_regionkey == F.col("r_regionkey"),
    ).select("n_nationkey")
    seeds = (
        supplier.join(
            F.broadcast(eu_nations),
            supplier.s_nationkey == F.col("n_nationkey"),
        )
        .select((F.col("s_suppkey") * 2 + 1).alias("node"))
        .distinct()
    )
    edges = _trade_edges(spark, sf_dir)
    dist = bfs_levels(edges, seeds, n_iter=_BFS_ITERS)
    nodes = edges.select(F.col("src").alias("node")).distinct()
    r = nodes.join(dist, "node", "left").select(
        "node", F.coalesce("dist", F.lit(-1)).cast("long").alias("dist")
    )
    return r.groupBy("dist").agg(
        F.count(F.when(F.col("node") % 2 == 0, 1)).cast("long").alias("n_customers"),
        F.count(F.when(F.col("node") % 2 == 1, 1)).cast("long").alias("n_suppliers"),
    )


@query(
    "graph_rich_club",
    """
WITH e0 AS MATERIALIZED (
  SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
edges AS MATERIALIZED (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
deg AS MATERIALIZED (SELECT src AS node, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY src),
club AS MATERIALIZED (SELECT node FROM deg ORDER BY d DESC, node LIMIT 64),
inner_e AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS m2
            FROM edges e
            JOIN club a ON a.node = e.src
            JOIN club b ON b.node = e.dst),
n AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS k FROM club)
SELECT n.k AS club_size,
       CAST(inner_e.m2 // 2 AS BIGINT) AS club_edges,
       CAST((1000000 * (inner_e.m2 // 2)) // (n.k * (n.k - 1) // 2)
         AS BIGINT) AS rich_club_ppm
FROM inner_e, n
""",
)
def q_graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient of the trade graph (Zhou & Mondragón 2004 —
    public): density of edges AMONG the 64 highest-degree nodes,
    φ = E_club / C(k,2) — do the hubs trade with each other (φ→1, a
    tightly-coupled core that is a systemic-risk/bottleneck signal) or
    only with the periphery? Completes the macro-structure panel next to
    assortativity (correlation view) and k-core (cohesion view).

    The club is a TakeOrdered(64) over the degree table (ties to the
    lower node id); membership joins are broadcast semi-joins against
    the 64-row club, so the census costs one pass over the edge list —
    never a pair join. Symmetrized edges count each inner edge twice;
    halve exactly."""
    spark_edges = _trade_edges(spark, sf_dir)
    deg = spark_edges.groupBy("src").agg(F.count("*").cast("long").alias("d"))
    # the 64-row club outlives the scope: the returned frame reads it
    with materialized() as m:
        club = m.result(
            deg.orderBy(F.desc("d"), F.asc("src")).limit(64).select(F.col("src").alias("node"))
        )
    inner = (
        spark_edges.join(
            F.broadcast(club.withColumnRenamed("node", "src")), "src"
        )
        .join(F.broadcast(club.withColumnRenamed("node", "dst")), "dst")
        .agg(F.count("*").cast("long").alias("m2"))
    )
    k = club.agg(F.count("*").cast("long").alias("k"))
    return (
        F.broadcast(k)
        .crossJoin(inner)
        .select(
            F.col("k").alias("club_size"),
            F.expr("CAST(m2 div 2 AS BIGINT)").alias("club_edges"),
            F.expr(
                "CAST((1000000 * (m2 div 2)) div (k * (k - 1) div 2) AS BIGINT)"
            ).alias("rich_club_ppm"),
        )
    )


@query(
    "graph_adamic_adar_topk",
    f"""
WITH und AS MATERIALIZED ({_UND_SQL}),
bidir AS MATERIALIZED (SELECT pa AS x, pb AS y FROM und UNION ALL SELECT pb, pa FROM und),
ranked AS MATERIALIZED (SELECT x, y, row_number() OVER (PARTITION BY x ORDER BY y) AS rn
           FROM bidir),
capped AS MATERIALIZED (SELECT x, y FROM ranked WHERE rn <= {_CN_CAP}),
deg AS MATERIALIZED (SELECT x, count(*) AS dcap FROM capped GROUP BY x),
wdeg AS MATERIALIZED (SELECT x,
                CAST(1000000000000
                     // CAST(floor(1000000 * ln(dcap)) AS BIGINT) AS BIGINT)
                  AS w
         FROM deg),
wedges AS MATERIALIZED (SELECT l.y AS pa, r.y AS pb, w.w
           FROM capped l JOIN capped r ON l.x = r.x AND l.y < r.y
           JOIN wdeg w ON w.x = l.x),
scored AS MATERIALIZED (SELECT pa, pb, CAST(sum(w) AS BIGINT) AS aa_score,
                  CAST(count(*) AS BIGINT) AS n_common
           FROM wedges GROUP BY pa, pb),
cand AS MATERIALIZED (SELECT s.* FROM scored s
         LEFT JOIN und u ON u.pa = s.pa AND u.pb = s.pb
         WHERE u.pa IS NULL)
SELECT pa, pb, aa_score, n_common
FROM cand ORDER BY aa_score DESC, pa ASC, pb ASC LIMIT 100
""",
)
def q_graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar top-100 predicted links over capped co-purchase
    adjacency (operators/graph.adamic_adar_pairs): shared neighbors are
    discounted by 1/ln(capped degree) in exact quantized integers, so
    hub-mediated coincidences rank below selective affinities — the
    degree-aware upgrade of graph_link_prediction, same wedge volume and
    the same repartitioned single-pass count."""
    from videos_to_tfrecords_spark.operators.graph import adamic_adar_pairs

    return adamic_adar_pairs(_copurchase_und(spark, sf_dir), cap=_CN_CAP, topk=100)
