"""Graph operators: integer PageRank and degree-ordered triangle counting
(SURVEY §7.1 — iterative + combinatorial graph analytics over relational
edge tables, the shape of link-graph quality signals in web-corpus
pipelines: PageRank-style centrality feeds page-quality priors, triangle
density feeds spam/community detection).

Scale design (100 TB of edges):
- PageRank: each iteration is ONE shuffle — contributions aggregate on the
  destination key with map-side partial sums; the rank table joins edges on
  the node key, so consecutive iterations reuse the same hash partitioning.
  The driver touches a single scalar (the node count). Ranks are exact
  integers (total mass ``total`` split by floor division), so sums are
  order-independent and the fixed-point is bit-reproducible cross-engine —
  the same trick as kmeans_lite (similarity.py) and the money columns.
- Triangles: edges are oriented low-(degree, id) → high-(degree, id); every
  wedge join then fans out from the LOW-degree endpoint, bounding the join
  output by Σ min-deg² instead of Σ deg² — the classic skew-killer for
  power-law graphs (a hub of degree 10⁶ would otherwise emit 10¹² wedges).
  Each triangle is counted exactly once (its lowest-ordered vertex is the
  unique wedge center whose two oriented edges both exist).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from videos_to_tfrecords_spark.materialize import materialized

PAGERANK_TOTAL = 10**12  # total rank mass (integer "1.0")


def pagerank_integer(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 5,
    total: int = PAGERANK_TOTAL,
) -> DataFrame:
    """Fixed-iteration integer PageRank (damping 0.85 as the exact rational
    85/100) over a directed edge list in which EVERY node appears as a
    source (symmetrize first if needed — no dangling-mass handling).

    Update rule, all in BIGINT floor arithmetic:
        r0(v)   = total div N
        r_{i+1}(v) = (15·(total div N)) div 100
                     + (85·Σ_{(u,v)∈E} (r_i(u) div outdeg(u))) div 100

    Returns (node, rank) after ``n_iter`` iterations. The driver reads one
    scalar (N); everything else stays distributed. Lineage grows one
    join+agg layer per iteration — fine for the typical 5-20; checkpoint
    every ~10 iterations if you run more.
    """
    with materialized() as m:
        e = m.cut(edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")))
        deg = m.keep(e.groupBy("src").agg(F.count("*").alias("d")))
        return _rank_iterations(m, e, deg, "rank div d", n_iter, total)


def _rank_iterations(m, e: DataFrame, deg: DataFrame, contrib: str, n_iter: int, total: int):
    """Integer PageRank over the scope ``m``'s eager cut ``e`` and kept
    per-source table ``deg``: each edge passes on ``contrib`` (an expression
    over rank and the edge/degree columns); returns the scope's result.

    Why the cut (r11): the lazy persist let concurrent AQE stage jobs race
    the cache population — the sf1 stage profile showed the (join +
    distinct) edge derivation re-running from parquet up to 4× before any
    block landed. deg is kept: it feeds the e_deg join, n_nodes AND the
    rank init."""
    e_deg = m.keep(e.join(deg, "src"))
    n_nodes = deg.count()  # 1 driver scalar (metadata-scale, like AQE stats)
    base = total // n_nodes
    teleport = (15 * base) // 100

    ranks = deg.select(F.col("src").alias("node"), F.lit(base).alias("rank"))
    for _ in range(n_iter):
        # SHUFFLE_HASH hint on the node-sized rank table (guide §3.1, r11):
        # the planner's sort-merge join re-sorted the cached edge table
        # EVERY iteration; hashing the small rank side skips both sorts.
        # Per-partition build state is |nodes|/partitions rows — scales.
        # sf1 A/B (in-session, alternating): 12.50 → 8.34 s with this + the
        # eager cut; results bit-identical (exceptAll 0 / 0).
        sums = (
            e_deg.join(ranks.hint("shuffle_hash"), e_deg.src == ranks.node)
            .select(F.col("dst"), F.expr(contrib).alias("contrib"))
            .groupBy("dst")
            .agg(F.sum("contrib").alias("insum"))
        )
        ranks = sums.select(
            F.col("dst").alias("node"),
            (F.lit(teleport) + F.expr("(85 * insum) div 100")).alias("rank"),
        )
    return m.result(ranks)


def personalized_pagerank_integer(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 5,
    total: int = PAGERANK_TOTAL,
) -> DataFrame:
    """Personalized PageRank: teleport mass returns ONLY to the ``seeds``
    node set (one column ``node``), so ranks measure proximity/affinity to
    the seeds rather than global centrality — the standard trust/affinity
    propagation shape (TrustRank-style corpus quality priors seeded from a
    vetted whitelist).

    Same exact-integer arithmetic as :func:`pagerank_integer`:
        r0(v)      = total div |S|            for v ∈ S, else absent (0)
        r_{i+1}(v) = [v ∈ S]·(15·(total div |S|)) div 100
                     + (85·Σ_{(u,v)∈E} (r_i(u) div outdeg(u))) div 100

    Each iteration is ONE keyed aggregation (r11 — was two): the raw
    flow contributions union the tagged teleport rows BEFORE the
    aggregate, and one grouped expression applies the floor arithmetic
    per part — exactly
        rank(v) = coalesce((85·Σ_flow c) div 100, 0) + coalesce(Σ_tel c, 0)
    which equals the old two-shuffle form term for term ([v∈S]·tel is a
    single row, so its sum is itself; the flow floor is applied after the
    full flow sum, as before). NO full-outer join (Spark can't
    hash-broadcast those), and nodes that never receive mass never
    materialize a row.
    """
    with materialized() as m:
        # eager edge cut + kept degree: the r11 fixes of _rank_iterations
        e = m.cut(edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")))
        deg = m.keep(e.groupBy("src").agg(F.count("*").alias("d")))
        e_deg = m.keep(e.join(deg, "src"))
        n_seeds = seeds.count()  # driver scalar, like n_nodes in pagerank
        base = total // n_seeds
        teleport = (15 * base) // 100
        seed_tel = m.keep(
            seeds.select(F.col("node"), F.lit(teleport).alias("c"), F.lit(False).alias("fl"))
        )

        ranks = seeds.select(F.col("node"), F.lit(base).alias("rank"))
        for _ in range(n_iter):
            # no shuffle_hash hint here (unlike pagerank_integer): the sf1
            # A/B read 10.35 s without vs 10.63 s with — the fused
            # union+agg below already reshapes the exchange, and the hint
            # lost all three reps
            flow = e_deg.join(ranks, e_deg.src == ranks.node).select(
                F.col("dst").alias("node"),
                F.expr("rank div d").alias("c"),
                F.lit(True).alias("fl"),
            )
            ranks = flow.unionAll(seed_tel).groupBy("node").agg(
                F.expr(
                    "coalesce((85 * sum(CASE WHEN fl THEN c END)) div 100, 0)"
                    " + coalesce(sum(CASE WHEN NOT fl THEN c END), 0)"
                ).alias("rank")
            )
        return m.result(ranks)


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 3,
) -> DataFrame:
    """Synchronous label-propagation community detection (LPA): every node
    starts labeled with its own id; each round it adopts the most frequent
    label among its neighbors **and itself** (the self-loop damps the
    2-coloring oscillation LPA exhibits on bipartite graphs), ties broken
    by the SMALLEST label — fully deterministic, so an unrolled-CTE oracle
    reproduces it bit-for-bit (the pagerank_integer technique).

    Scale shape (per iteration): one node-keyed equi-join (edge src →
    current label), one (node, label) partial→final count, then a
    per-node ``max_by`` argmax AGGREGATION over the unique ordering key
    (c, −lab) — both aggregates partial-combine map-side and neither
    sorts, where the equivalent row_number window would exchange AND
    sort the vote table every round. Each round's labels are a lazy cut,
    so the logical plan stays one-iteration deep — analysis/optimization
    time stays constant per round instead of growing with the full
    unrolled lineage; the last round's labels are the eager result.

    Returns (node, lab) after ``n_iter`` rounds; callers aggregate to
    community histograms (the result a corpus-clustering pass feeds to
    mixture balancing).
    """
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    nodes = (
        e.select(F.col("s").alias("node"))
        .unionAll(e.select(F.col("d").alias("node")))
        .distinct()
    )
    # self-loop: a node's own label always votes once. Kept LAZY and
    # un-hinted (r11): the eager-checkpoint + shuffle_hash combo that pays
    # in the pagerank family was A/B'd here 4-ways in one session —
    # old 3.23 s vs eager+hint 3.45 / lazy+hint 3.41 / eager 3.66 — the
    # original shape wins (LPA's vote join output is (node, lab)-keyed,
    # so the hint reshapes a join whose sort the next groupBy reuses).
    with materialized() as m:
        e_self = m.cut(
            e.unionAll(nodes.select(F.col("node").alias("s"), F.col("node").alias("d"))),
            eager=False,
        )
        labels = nodes.select("node", F.col("node").alias("lab"))
        for i in range(n_iter):
            votes = (
                e_self.join(labels.withColumnRenamed("node", "s"), "s")
                .groupBy(F.col("d").alias("node"), "lab")
                .agg(F.count("*").alias("c"))
            )
            # argmax by (count desc, label asc): the ordering key (c, -lab)
            # is unique within a node group, so max_by is deterministic
            labels = votes.groupBy("node").agg(
                F.expr("max_by(lab, struct(c, -lab))").alias("lab")
            )
            labels = m.result(labels) if i == n_iter - 1 else m.cut(labels, eager=False)
        return labels


def _oriented_adjacency(m, und: DataFrame, a: str, b: str):
    """The degree-ordered orientation both triangle kernels probe, as kept
    frames of the scope ``m``: edges ``ea`` (x, y), degrees ``deg`` (n, d),
    oriented edges ``o`` (u, v) and the sorted out-adjacency ``adj``
    (u, nbrs).

    Each is consumed by SEVERAL plan branches (deg: orientation join ×2 +
    n_nodes; o: adjacency build + per-edge probe ×2; ea: keyed + n_edges;
    adj: both probe sides) — without a cache marker Spark re-executes the
    whole upstream derivation (often a groupBy + pair explosion +
    distinct) once per branch. LAZY keep, not an eager cut: that forces
    one serial materialization job per layer and measured slower."""
    ea = m.keep(und.select(F.col(a).alias("x"), F.col(b).alias("y")))
    deg = m.keep(
        ea.select(F.col("x").alias("n"))
        .unionAll(ea.select(F.col("y").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    keyed = (
        ea.join(deg.select(F.col("n").alias("x"), F.col("d").alias("dx")), "x")
        .join(deg.select(F.col("n").alias("y"), F.col("d").alias("dy")), "y")
    )
    lower = (F.col("dx") < F.col("dy")) | (
        (F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y"))
    )
    o = m.keep(
        keyed.select(
            F.when(lower, F.col("x")).otherwise(F.col("y")).alias("u"),
            F.when(lower, F.col("y")).otherwise(F.col("x")).alias("v"),
        )
    )
    # sorted out-adjacency per node (max size ≤ O(√m) by orientation, so no
    # array blows up a task even on power-law graphs)
    adj = m.keep(o.groupBy("u").agg(F.sort_array(F.collect_list("v")).alias("nbrs")))
    return ea, deg, o, adj


def triangle_count(und: DataFrame, a: str = "a", b: str = "b") -> DataFrame:
    """Global triangle count of an undirected simple graph given as
    canonical (a < b) distinct edge pairs. Returns one row:
    (n_nodes, n_edges, n_triangles).

    Degree-ordered orientation (see module docstring) keeps per-node
    out-degree ≤ O(√m); the count itself is the "forward" adjacency-
    intersection algorithm: a triangle's three vertices have a strict
    (degree, id) order u < v < w, so it is found exactly once — at its
    oriented edge (u, v), as w ∈ N⁺(u) ∩ N⁺(v). Compared to the wedge
    self-join + closure-probe formulation this never materializes the
    Σ C(d⁺,2) wedge rows into a shuffle (≈17M rows at sf0.1): the
    intersection of two SORTED neighbor arrays runs in-task inside
    codegen, and the per-edge counts partial-aggregate map-side to a
    single scalar. Shuffled volume is Σ d⁺(n)·|N⁺(n)| array ints across
    the two adjacency joins — the same asymptotics as the wedge join's
    INPUT, with its output never leaving the task. The count runs at
    construction; ``materialize.inner_plans`` reads the plan it ran.
    """
    with materialized() as m:
        ea, deg, o, adj = _oriented_adjacency(m, und, a, b)
        tri_per_edge = (
            o.join(adj, "u")
            .join(
                adj.select(F.col("u").alias("v"), F.col("nbrs").alias("vnbrs")),
                "v",
            )
            .select(
                F.array_size(F.array_intersect("nbrs", "vnbrs")).alias("n_common")
            )
        )
        n_tri = tri_per_edge.groupBy().agg(
            F.coalesce(F.sum("n_common"), F.lit(0)).cast("long").alias("n_triangles")
        )
        n_edges = ea.groupBy().agg(F.count("*").alias("n_edges"))
        n_nodes = deg.groupBy().agg(F.count("*").alias("n_nodes"))
        return m.result(n_nodes.crossJoin(n_edges).crossJoin(n_tri))


def kcore_rounds(
    und: DataFrame, k: int = 2, rounds: int = 4, a: str = "a", b: str = "b"
) -> DataFrame:
    """Iterative k-core peeling census: repeatedly delete nodes of degree
    < k (and their edges) for a FIXED number of synchronous rounds, and
    report (round, nodes_left, edges_left) per round — the standard
    "dense-core extraction" signal (spam link farms and boilerplate
    template clusters live in high cores; long-tail content peels early).

    A fixed round count (rather than running to convergence) keeps the
    computation deterministic and unrolled-CTE-oracle-checkable, the
    pagerank_integer technique. Scale shape per round: one degree
    aggregation + two semi-joins, all hash-partitioned on the node key;
    the surviving edge set is a lazy cut per round so lineage stays one
    round deep.

    ``und`` is a canonical undirected edge list (a < b, distinct).
    """
    with materialized() as m:
        # round 1 consumes the raw edge derivation from multiple branches
        # (degree agg + two semi-joins); later rounds read the previous
        # round's cut. EAGER (r11): the lazy form let round 1's concurrent
        # AQE jobs race the materialization and re-run the join/distinct
        # derivation per branch (the pagerank_integer fix).
        e = m.cut(und.select(F.col(a).alias("x"), F.col(b).alias("y")))
        censuses = []
        for r in range(1, rounds + 1):
            deg = (
                e.select(F.col("x").alias("n"))
                .unionAll(e.select(F.col("y").alias("n")))
                .groupBy("n")
                .agg(F.count("*").alias("d"))
            )
            keep = deg.filter(F.col("d") >= k).select("n")
            e = m.cut(
                e.join(keep.withColumnRenamed("n", "x"), "x", "semi")
                .join(keep.withColumnRenamed("n", "y"), "y", "semi")
                .select("x", "y"),
                eager=False,
            )
            # census AFTER this round's peel: nodes are survivors with ≥1
            # remaining edge plus isolated survivors dropped next round —
            # count nodes still present in the surviving edge set
            censuses.append(
                e.select(F.col("x").alias("n"))
                .unionAll(e.select(F.col("y").alias("n")))
                .groupBy()
                .agg(
                    F.count_distinct("n").alias("nodes_left"),
                    F.expr("count(n) div 2").alias("edges_left"),
                )
                .select(
                    F.lit(r).cast("long").alias("round"),
                    F.col("nodes_left").cast("long").alias("nodes_left"),
                    F.col("edges_left").cast("long").alias("edges_left"),
                )
            )
        return m.result(reduce(lambda x, y: x.unionAll(y), censuses))


def local_clustering_topk(
    und: DataFrame, topk: int = 100, a: str = "a", b: str = "b"
) -> DataFrame:
    """Per-node local clustering coefficient (triangles incident to the
    node / C(deg, 2)) for the top-``topk`` nodes — the per-node companion
    of :func:`triangle_count` (community-density quality signal).

    Triangle discovery is the same degree-ordered adjacency-intersection
    forward algorithm, but each triangle (u, v, w) found at oriented edge
    (u, v) credits ALL THREE corners: u and v each get |N⁺(u) ∩ N⁺(v)|
    map-side (no explosion), and each w in the intersection gets one
    exploded row — the explode is bounded by the triangle count itself,
    not by degree². The coefficient is the exact integer ppm ratio
    (2·tri·10⁶) div (d·(d−1)), so the oracle's canonical triple join
    reproduces it bit-for-bit.
    """
    with materialized() as m:
        _, deg, o, adj = _oriented_adjacency(m, und, a, b)
        common = (
            o.join(adj, "u")
            .join(adj.select(F.col("u").alias("v"), F.col("nbrs").alias("vnbrs")), "v")
            .select("u", "v", F.array_intersect("nbrs", "vnbrs").alias("ws"))
            .filter(F.array_size("ws") > 0)
        )
        # one-pass corner credits: per probed edge, u and v each earn |ws|
        # and every w ∈ ws earns 1 — emitted as a single in-task struct
        # array and exploded, instead of a 3-branch union that scans
        # `common` three times
        credits = (
            common.select(
                F.explode(
                    F.concat(
                        F.array(
                            F.struct(
                                F.col("u").alias("n"),
                                F.array_size("ws").cast("long").alias("c"),
                            ),
                            F.struct(
                                F.col("v").alias("n"),
                                F.array_size("ws").cast("long").alias("c"),
                            ),
                        ),
                        F.transform(
                            "ws",
                            lambda w: F.struct(
                                w.alias("n"), F.lit(1).cast("long").alias("c")
                            ),
                        ),
                    )
                ).alias("e")
            )
            .groupBy(F.col("e.n").alias("n"))
            .agg(F.sum("e.c").alias("tri"))
        )
        return m.result(
            deg.filter(F.col("d") >= 2)
            .join(credits, "n", "left")
            .select(
                F.col("n").alias("node"),
                F.col("d").cast("long").alias("degree"),
                F.coalesce(F.col("tri"), F.lit(0)).cast("long").alias("n_triangles"),
                F.expr(
                    "(2 * coalesce(tri, 0) * 1000000) div (d * (d - 1))"
                ).cast("long").alias("clustering_ppm"),
            )
            .orderBy(F.desc("clustering_ppm"), F.desc("degree"), F.asc("node"))
            .limit(topk)
        )


def _capped_adjacency(m, und: DataFrame, cap: int, a: str, b: str, who: str):
    """The link-prediction wedge inputs, as kept frames of the scope ``m``:
    the edge table ``e`` (x, y), its row count, and the capped FLAT
    adjacency ``flat`` (x, y) — each hub's ``cap`` smallest neighbor ids.

    ``e`` feeds THREE plan branches (both wedge sides via the capped
    adjacency, and the anti-join that removes existing edges) — keep it or
    Spark re-executes the upstream derivation (usually a groupBy + pair
    explosion + distinct) once per branch.

    The cap is a rank filter (the oracle's own shape): one shuffle on the
    hub key. Kept flat — wedge expansion is a self-equi-join on the hub,
    which whole-stage-codegens; the previous form built sorted arrays and
    expanded them with nested Catalyst lambdas, which are INTERPRETED per
    element and copy a slice per pair — measured 2× slower (72 s vs 35 s
    for the expand+count stage at sf1's 403M wedges) for the identical
    result. Kept: it feeds both wedge sides, and an explicit cache beats
    relying on ReusedExchange.

    The (pa, pb) wedge key packs into ONE int64 (pa·2³² | pb): the count
    shuffle is the query's dominant exchange (nodes·C(cap,2) rows), and one
    long key halves its width and hashes/compares once instead of twice.
    Pack with shiftleft|OR and decode with shiftrightunsigned/& (r6 ADVICE
    fix): for ids in [2³¹, 2³²) the old `y * 2³²` arithmetic either raises
    under ANSI or wraps negative, and the signed div/% decode then returned
    corrupted pairs — bit ops are overflow-free and the pack stays a
    bijection on the full guarded [0, 2³²) domain. The per-row guard (its
    message names ``who``) raises, not corrupts, beyond it — evaluated on
    the capped adjacency, BEFORE the quadratic expansion."""
    e = m.keep(und.select(F.col(a).alias("x"), F.col(b).alias("y")))
    n_edges = e.count()
    both = e.unionAll(e.select(F.col("y").alias("x"), F.col("x").alias("y")))
    worder = Window.partitionBy("x").orderBy("y")
    flat = (
        both.withColumn("rn", F.row_number().over(worder))
        .filter(F.col("rn") <= cap)
        .select("x", "y")
    )
    flat = m.keep(
        flat.filter(
            F.assert_true(
                F.expr("x >= 0 AND x < 4294967296L AND y >= 0 AND y < 4294967296L"),
                F.lit(f"{who}: packed wedge key requires node ids < 2^32"),
            ).isNull()
        )
    )
    return e, n_edges, flat


def _wedge_parts(und: DataFrame, n_edges: int) -> int:
    """Partitions of the wedge-count exchange. Counts go through
    repartition-then-complete-aggregate, NOT a plain groupBy: wedge counts
    are nearly flat (the sf1 co-purchase graph has 403M wedges over 302M
    distinct pairs), so the partial aggregate compresses only 1.33× while
    paying a full hash pass over every wedge and shipping a wider
    (key, count) row. Shuffling the RAW 8-byte keys and aggregating once on
    the reduce side — with enough partitions that each task's hash map
    stays cache-resident (~600k keys/task) — is 1.8× faster measured at
    sf1 (57.5 s → 30.4 s for count+topk). The count scales with the edge
    count (wedges ∝ capped adjacency ∝ edges), floored at the session
    default and capped so the task count stays sane on a 1000-executor
    cluster."""
    default_parts = int(und.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    return int(min(4096, max(default_parts, n_edges // 25_000)))


def _drop_existing(scored: DataFrame, e: DataFrame, n_edges: int) -> DataFrame:
    """Anti-join the existing edges out of ``scored`` on the SAME packed
    key, broadcast when the edge set is bounded (≤32M longs ≈ 256 MB): the
    scored table is the big side (up to nodes·C(cap,2) distinct pairs — it
    dwarfs the edge list), so a shuffle anti-join would re-exchange it end
    to end. The broadcast makes edge removal map-side; the count shuffle
    stays the query's only large exchange. Bigger edge sets fall through to
    the shuffle anti-join (same result, AQE-planned)."""
    packed_e = e.select(F.expr("shiftleft(cast(x AS bigint), 32) | cast(y AS bigint)").alias("pk"))
    anti_side = F.broadcast(packed_e) if n_edges <= 32_000_000 else packed_e
    return scored.join(anti_side, "pk", "anti")


def common_neighbor_pairs(
    und: DataFrame,
    cap: int = 64,
    topk: int = 100,
    a: str = "a",
    b: str = "b",
) -> DataFrame:
    """Link prediction by common-neighbor count: for node pairs NOT already
    adjacent, count shared neighbors and return the top-``topk`` candidate
    links — the classic "you may also like" / related-document signal.

    Scale guard: wedge generation from a hub of degree d emits C(d, 2)
    pairs, so each node's adjacency is CAPPED at its ``cap`` smallest
    neighbor ids before pair expansion (the standard truncated-adjacency
    practice in production link prediction — hubs contribute their
    strongest/stable neighborhood subset instead of a quadratic blowup).
    The cap is deterministic (sorted prefix), so the oracle reproduces it
    with a rank filter; tests pin a graph where the cap does not bind,
    proving exactness below the cap.
    """
    with materialized() as m:
        e, n_edges, flat = _capped_adjacency(m, und, cap, a, b, "common_neighbor_pairs")
        fl, fr = flat.alias("fl"), flat.alias("fr")
        wedges = fl.join(
            fr, (F.col("fl.x") == F.col("fr.x")) & (F.col("fl.y") < F.col("fr.y"))
        ).select(F.expr("shiftleft(cast(fl.y AS bigint), 32) | cast(fr.y AS bigint)").alias("pk"))
        scored = (
            wedges.repartition(_wedge_parts(und, n_edges), "pk")
            .groupBy("pk")
            .agg(F.count("*").alias("n_common"))
        )
        res = _drop_existing(scored, e, n_edges).select(
            F.expr("shiftrightunsigned(pk, 32)").alias("pa"),
            F.expr("pk & 4294967295L").alias("pb"),
            F.col("n_common").cast("long").alias("n_common"),
        ).orderBy(F.desc("n_common"), F.asc("pa"), F.asc("pb")).limit(topk)
        return m.result(res)


def adamic_adar_pairs(
    und: DataFrame,
    cap: int = 64,
    topk: int = 100,
    a: str = "a",
    b: str = "b",
) -> DataFrame:
    """Adamic–Adar link prediction — the degree-discounted refinement of
    :func:`common_neighbor_pairs`: each shared neighbor z contributes
    1/ln(deg(z)) instead of 1, so hub-mediated coincidences score below
    selective shared neighbors. Same capped-adjacency wedge machinery and
    the same repartition-then-complete-aggregate count strategy; the
    per-hub weight is the exact integer 10¹² div ⌊10⁶·ln(capped_deg)⌋
    (quantized-ln-of-integers — IEEE-exact cross-engine; capped_deg ≥ 2
    for any wedge hub, so the log is positive). Ranking ties break on
    (pa, pb)."""
    with materialized() as m:
        e, n_edges, flat = _capped_adjacency(m, und, cap, a, b, "adamic_adar_pairs")
        # r7 ADVICE fix: a degree-1 hub makes the divisor floor(1e6·ln(1)) = 0
        # and crashes the whole query under Spark 4's default ANSI mode — and
        # the weight is evaluated on EVERY hub, before the wedge join filters
        # anything. Degree-1 hubs can never produce a wedge (a wedge needs two
        # distinct neighbors of the hub), so dropping them here changes no
        # output row; it also shrinks the weighted adjacency the quadratic
        # expansion reads.
        deg = flat.groupBy("x").agg(F.count("*").alias("dcap"))
        wdeg = deg.filter(F.col("dcap") >= 2).select(
            F.col("x").alias("hub"),
            F.expr("1000000000000L div floor(1000000 * ln(dcap))")
            .cast("long")
            .alias("w"),
        )
        # attach the hub weight to the 12.8M-row capped adjacency ONCE (one
        # broadcast probe per adjacency row), so the quadratic wedge expansion
        # reads it as a plain column instead of probing the broadcast per
        # wedge — the left (hub) side carries it
        flw = m.keep(flat.join(F.broadcast(wdeg), flat["x"] == F.col("hub")).select("x", "y", "w"))
        fl, fr = flw.alias("fl"), flat.alias("fr")
        wedges = fl.join(
            fr, (F.col("fl.x") == F.col("fr.x")) & (F.col("fl.y") < F.col("fr.y"))
        ).select(F.expr("shiftleft(cast(fl.y AS bigint), 32) | cast(fr.y AS bigint)").alias("pk"), F.col("fl.w").alias("w"))
        scored = (
            wedges.repartition(_wedge_parts(und, n_edges), "pk")
            .groupBy("pk")
            .agg(F.sum("w").cast("long").alias("aa_score"), F.count("*").alias("n_common"))
        )
        res = (
            _drop_existing(scored, e, n_edges)
            .select(
                F.expr("shiftrightunsigned(pk, 32)").alias("pa"),
                F.expr("pk & 4294967295L").alias("pb"),
                "aa_score",
                F.col("n_common").cast("long").alias("n_common"),
            )
            .orderBy(F.desc("aa_score"), F.asc("pa"), F.asc("pb"))
            .limit(topk)
        )
        return m.result(res)


def feature_propagation(
    edges: DataFrame, feats: DataFrame, n_rounds: int = 2
) -> DataFrame:
    """GNN-style synchronous message passing (sum aggregator + self loop):
    per round, f'(v) = f(v) + Σ_{(u,v)∈E} f(u) for every integer feature
    column — the 1-layer GraphSAGE/GCN aggregation a feature-engineering
    pass precomputes for node embeddings. ``feats`` is (node, f...) with
    int64 features; exact integer arithmetic so the propagated features
    hash-check. One equi-join shuffle per round (the PageRank shape), each
    round's frame an eager cut so round k+1 never re-derives round k."""
    fcols = [c for c in feats.columns if c != "node"]
    with materialized() as m:
        # the edge list is read by every round: keep it, or each round
        # re-runs its upstream derivation. A lazy keep, not an eager cut:
        # at sf0.1 the keep won 6 of 6 alternating bench pairs (median
        # 3.34 → 2.68 s)
        e = m.keep(edges)
        cur = m.cut(feats) if n_rounds else m.result(feats)
        for i in range(n_rounds):
            msgs = (
                e.join(cur.hint("shuffle_hash"), e.src == cur.node)
                .groupBy(F.col("dst").alias("node"))
                .agg(*[F.sum(c).alias(c) for c in fcols])
            )
            nxt = (
                cur.alias("c")
                .join(msgs.alias("m"), "node", "left")
                .select(
                    "node",
                    *[
                        (F.col(f"c.{c}") + F.coalesce(F.col(f"m.{c}"), F.lit(0)))
                        .cast("long")
                        .alias(c)
                        for c in fcols
                    ],
                )
            )
            cur = m.result(nxt) if i == n_rounds - 1 else m.cut(nxt)
        return cur


def weighted_pagerank_integer(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    n_iter: int = 5,
    total: int = PAGERANK_TOTAL,
) -> DataFrame:
    """Weighted integer PageRank: rank mass flows along each edge in
    proportion to its integer weight — contribution per edge is
    (rank·w) div W_u with W_u the source's total outgoing weight (exact
    BIGINT floor arithmetic; same teleport/damping discipline as
    :func:`pagerank_integer`). The volume-aware centrality a trade or
    citation graph actually wants. Magnitude guard: rank ≤ total = 1e12
    and per-edge rank·w must stay < 2^63 — keep weights ≤ ~1e6 (here:
    order counts)."""
    with materialized() as m:
        e = m.cut(
            edges.select(
                F.col(src).alias("src"), F.col(dst).alias("dst"), F.col(weight).alias("w")
            )
        )
        wdeg = m.keep(e.groupBy("src").agg(F.sum("w").alias("wd")))
        return _rank_iterations(m, e, wdeg, "(rank * w) div wd", n_iter, total)


def hits_integer(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    scale: int = 1_000_000,
) -> DataFrame:
    """Two-round integer HITS over a directed (hub → authority) edge list:
    authority = Σ hub over in-edges, hub = Σ authority over out-edges,
    renormalized after every sum by the data-derived truncating divisor
    d = max div scale + 1 (the power_iteration_int technique — keeps every
    value ≤ scale, so sums stay ≤ deg·scale ≪ 2⁶³ and the whole
    trajectory is bit-reproducible in any 64-bit engine).

    Returns ('hub', key, score) per source node after round 1 and
    ('authority', key, score) per destination node after round 2. One
    shuffle per half-step (the PageRank profile); the three max() reads
    are 1-scalar driver actions, the same metadata stance as PageRank's
    node count."""
    with materialized() as m:
        # eager cut (r11): the lazy persist let concurrent AQE stage jobs
        # re-run the edge derivation from parquet before the cache
        # populated (the pagerank_integer fix); e feeds four consumers
        e = m.cut(edges.select(F.col(src).alias("c"), F.col(dst).alias("s")))

        def norm(df: DataFrame, key: str) -> DataFrame:
            # each half-step feeds BOTH its max() read and the next round's
            # join — keep it for the two reads, cut the node-sized result
            # so later rounds don't re-execute the whole chain
            t = m.keep(df)
            mx = t.agg(F.max("v")).collect()[0][0]
            d = mx // scale + 1
            return m.cut(t.select(key, F.expr(f"v div {d}").alias("v")))

        # shuffle-hash hint on the node-sized score tables (guide §3.1):
        # SMJ would re-sort the edge table per half-step for no benefit
        a1 = norm(
            e.groupBy("s").agg((F.count("*") * scale).alias("v")), "s"
        )  # h0 = scale for every hub
        h1 = norm(
            e.join(a1.hint("shuffle_hash"), "s").groupBy("c").agg(F.sum("v").alias("v")),
            "c",
        )
        a2 = norm(
            e.join(h1.hint("shuffle_hash"), "c").groupBy("s").agg(F.sum("v").alias("v")),
            "s",
        )
        return m.result(
            h1.select(
                F.lit("hub").alias("node_type"),
                F.col("c").cast("long").alias("key"),
                F.col("v").cast("long").alias("score"),
            ).unionByName(
                a2.select(
                    F.lit("authority").alias("node_type"),
                    F.col("s").cast("long").alias("key"),
                    F.col("v").cast("long").alias("score"),
                )
            )
        )


def bfs_levels(
    edges: DataFrame,
    seeds: DataFrame,
    n_iter: int = 4,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
) -> DataFrame:
    """Multi-source BFS: exact min-hop distance from the seed set within
    ``n_iter`` hops. Returns ``(node, dist)`` for every node reachable in
    ≤ n_iter hops (seeds at dist 0); callers left-join against the full
    node set to census the unreached remainder.

    Level-synchronous frontier expansion, the standard distributed-BFS
    shape (Pregel/GraphX): each round shuffles (frontier ⋈ edges) on the
    edge key and folds with min(dist) — per-round cost is O(edges touched),
    state is one (node, dist) row per reached node, and min() makes the
    fold order-independent, so the result is exact integers on any
    cluster. The edge list is materialized once (eager cut, r11 — the lazy
    persist let the first round's concurrent AQE jobs re-derive it from
    parquet; the pagerank_integer fix) and reused every round; the
    per-round frontier table is metadata beside it."""
    with materialized() as m:
        # an eager cut and a lazy keep of the edge list tied at sf0.1 (6
        # alternating bench pairs, medians 4.40 vs 4.53 s): the cut stays
        e = m.cut(edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")))
        # Frontier-only expansion with per-round cuts: each round joins
        # ONLY the nodes first reached last round (frontiers are disjoint
        # by construction, so the final union needs no min-fold), and each
        # frontier materializes eagerly — the lazy-accumulator draft
        # re-joined ALL reached nodes every round AND referenced `cur`
        # twice per level, doubling the logical plan per iteration (2^n
        # subtree copies).
        seeds0 = m.cut(
            seeds.select(F.col(node).alias("node"), F.lit(0).cast("long").alias("dist"))
        )
        levels = [seeds0]
        seen = seeds0.select("node")
        frontier = seeds0
        for i in range(1, n_iter + 1):
            # shuffle-hash hint on the (small, shrinking) frontier: SMJ
            # would re-sort the edge table every round (guide §3.1, r11)
            grown = m.cut(
                e.join(frontier.hint("shuffle_hash"), e.src == frontier.node)
                .select(F.col("dst").alias("node"))
                .distinct()
                .join(seen, "node", "left_anti")
                .select("node", F.lit(i).cast("long").alias("dist"))
            )
            levels.append(grown)
            # seen is a union of already-cut frontiers — no
            # re-materialization needed for the next round's anti-join
            seen = seen.unionByName(grown.select("node"))
            frontier = grown
        return m.result(reduce(lambda x, y: x.unionByName(y), levels))
