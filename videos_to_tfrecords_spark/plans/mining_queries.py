"""Round-4 mining / history queries: market-basket association rules,
Markov transition matrices, SCD2 validity-interval history, PMI token
co-occurrence, hard-negative mining, tokenizer fertility, ORC round-trip.

Cross-engine determinism (registry.py rules): every ratio is an exact
integer floor-division or a single final double division with an identical
expression tree; every ln is taken of an INTEGER and floor-quantized to
int64 BEFORE any sum/difference (the doc_unigram_entropy pattern, green
across three rounds); every top-k is fully tie-broken.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from videos_to_tfrecords_spark.plans.registry import query
from videos_to_tfrecords_spark.session import scratch_dir
from videos_to_tfrecords_spark.sources.tables import load_table

# pair-explosion of a sorted in-task array: C(n,2) structs (a < b by
# construction) — the same codegen trick as the co-purchase edge table
_PAIRS = (
    "flatten(transform({arr}, (x, i) ->"
    " transform(slice({arr}, i + 2, size({arr})), y -> struct(x AS a, y AS b))))"
)

_MIN_SUP = 5  # absolute basket support for a frequent item (a-priori prune)
_TOP_RULES = 25


@query(
    "market_basket_rules",
    f"""
WITH basket AS (SELECT DISTINCT l_orderkey AS ord, l_partkey AS item FROM lineitem),
n AS (SELECT CAST(count(DISTINCT ord) AS BIGINT) AS n_orders FROM basket),
sup AS (SELECT item, CAST(count(*) AS BIGINT) AS s FROM basket GROUP BY 1),
freq AS (SELECT item, s FROM sup WHERE s >= {_MIN_SUP}),
pair AS (
  SELECT a.item AS ia, b.item AS ib, CAST(count(*) AS BIGINT) AS s_ab
  FROM basket a
  JOIN basket b ON a.ord = b.ord AND a.item < b.item
  WHERE a.item IN (SELECT item FROM freq) AND b.item IN (SELECT item FROM freq)
  GROUP BY 1, 2),
ranked AS (
  SELECT ia, ib, s_ab,
         row_number() OVER (ORDER BY s_ab DESC, ia, ib) AS rk
  FROM pair)
SELECT r.ia AS item_a, r.ib AS item_b, r.s_ab AS pair_support,
       fa.s AS support_a, fb.s AS support_b,
       CAST(r.s_ab * 1000000 // fa.s AS BIGINT) AS conf_ab_x1e6,
       CAST((r.s_ab * 1000000 * (SELECT n_orders FROM n)) // (fa.s * fb.s)
            AS BIGINT) AS lift_x1e6,
       CAST(r.rk AS BIGINT) AS rk
FROM ranked r JOIN freq fa ON r.ia = fa.item JOIN freq fb ON r.ib = fb.item
WHERE r.rk <= {_TOP_RULES}
""",
)
def q_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-priori-pruned association rules over order baskets: top-25 item
    pairs by co-occurrence, with confidence and lift as exact integer
    floor ratios.

    Scale shape: item supports are one groupBy over distinct (order, item);
    the FREQUENT-ITEM PRUNE happens BEFORE any pair is generated (the
    a-priori downward-closure argument — an infrequent item cannot appear
    in a frequent pair), so the pair space is bounded by frequent items
    only; pairs are then exploded IN-TASK from each basket's sorted
    frequent-item array (baskets are bounded — TPC-H ≤ 7 lines — so C(n,2)
    stays tiny per group, no basket⋈basket shuffle join); the support
    joins at the end are frequent-item-sized (broadcast). The only
    data-sized shuffles are the basket groupBy and the pair count."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ord"), F.col("l_partkey").alias("item")
    )
    basket = li.distinct()
    sup = basket.groupBy("item").agg(F.count("*").alias("s"))
    freq = sup.filter(F.col("s") >= _MIN_SUP)
    n_orders = basket.agg(
        F.countDistinct("ord").cast("long").alias("n_orders")
    )
    pairs = (
        basket.join(F.broadcast(freq.select("item")), "item")
        .groupBy("ord")
        .agg(F.sort_array(F.collect_set("item")).alias("items"))
        .select(F.explode(F.expr(_PAIRS.format(arr="items"))).alias("p"))
        .groupBy(F.col("p.a").alias("ia"), F.col("p.b").alias("ib"))
        .agg(F.count("*").cast("long").alias("s_ab"))
    )
    # top-k FIRST via orderBy+limit (distributed TakeOrderedAndProject —
    # every partition contributes its local top-25), THEN rank the 25
    # survivors; a bare global row_number window would single-partition
    # sort the whole pair table
    ranked = (
        pairs.orderBy(F.desc("s_ab"), F.asc("ia"), F.asc("ib"))
        .limit(_TOP_RULES)
        .withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.desc("s_ab"), F.asc("ia"), F.asc("ib"))
            ),
        )
    )
    fa = freq.select(F.col("item").alias("ia"), F.col("s").alias("support_a"))
    fb = freq.select(F.col("item").alias("ib"), F.col("s").alias("support_b"))
    return (
        ranked.join(F.broadcast(fa), "ia")
        .join(F.broadcast(fb), "ib")
        .crossJoin(F.broadcast(n_orders))
        .select(
            F.col("ia").alias("item_a"),
            F.col("ib").alias("item_b"),
            F.col("s_ab").alias("pair_support"),
            "support_a",
            "support_b",
            F.expr("s_ab * 1000000 div support_a").cast("long").alias("conf_ab_x1e6"),
            F.expr("(s_ab * 1000000 * n_orders) div (support_a * support_b)")
            .cast("long")
            .alias("lift_x1e6"),
            F.col("rk").cast("long").alias("rk"),
        )
    )


@query(
    "event_markov_transitions",
    """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY epoch_us(ts), event_id) AS prev_type
  FROM events),
t AS (SELECT prev_type AS from_type, event_type AS to_type,
             CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2),
tot AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from FROM t GROUP BY 1)
SELECT t.from_type, t.to_type, t.n, tot.n_from,
       CAST(t.n * 1000000 // tot.n_from AS BIGINT) AS p_x1e6
FROM t JOIN tot ON t.from_type = tot.from_type
""",
)
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user event sequences —
    the behavioral-model sufficient statistic (and the generator of
    synthetic clickstreams). One user_id shuffle feeds the lag window,
    transitions aggregate partial→final on (from, to), and the row
    normalization joins a type×type-sized total table (broadcast).
    Probabilities are exact integer floor(1e6·n/n_from)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.unix_micros("ts"), F.col("event_id"))
    t = (
        ev.select(
            "user_id",
            "event_type",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("from_type"), F.col("event_type").alias("to_type")
        )
        .agg(F.count("*").cast("long").alias("n"))
    )
    tot = t.groupBy("from_type").agg(F.sum("n").cast("long").alias("n_from"))
    return t.join(F.broadcast(tot), "from_type").select(
        "from_type",
        "to_type",
        "n",
        "n_from",
        F.expr("n * 1000000 div n_from").cast("long").alias("p_x1e6"),
    )


# validity sentinel for the open SCD2 segment: 3000-01-01 in epoch ms —
# a concrete integer both engines agree on (NULL would also hash, but a
# closed interval keeps downstream BETWEEN predicates sargable)
_SCD2_OPEN_MS = 32503680000000


@query(
    "scd2_priority_history",
    f"""
WITH o AS (
  SELECT o_custkey AS custkey, o_orderpriority AS priority,
         epoch_us(o_orderdate) // 1000 AS ts_ms, o_orderkey
  FROM orders),
flagged AS (
  SELECT *, CASE WHEN lag(priority) OVER w IS DISTINCT FROM priority
                 THEN 1 ELSE 0 END AS chg
  FROM o WINDOW w AS (PARTITION BY custkey ORDER BY ts_ms, o_orderkey)),
seg AS (
  SELECT *, sum(chg) OVER (PARTITION BY custkey ORDER BY ts_ms, o_orderkey
                           ROWS UNBOUNDED PRECEDING) AS seg_id
  FROM flagged),
hist AS (
  SELECT custkey, CAST(seg_id AS BIGINT) AS seg_id, priority,
         CAST(min(ts_ms) AS BIGINT) AS valid_from_ms,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM seg GROUP BY 1, 2, 3)
SELECT custkey, seg_id, priority, valid_from_ms,
       CAST(coalesce(lead(valid_from_ms) OVER (PARTITION BY custkey
                                               ORDER BY seg_id),
                     {_SCD2_OPEN_MS}) AS BIGINT) AS valid_to_ms,
       n_orders
FROM hist
""",
)
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 (slowly-changing-dimension type-2) history build from an
    ordered change feed: each customer's order-priority runs collapse to
    validity intervals [valid_from, valid_to) — the CDC-to-warehouse
    pattern (gaps-and-islands). All three windows and the final groupBy
    hash-partition on custkey, so the whole query is ONE exchange that
    AQE reuses across stages; interval bounds are exact epoch ms and the
    open segment closes with a concrete year-3000 sentinel."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("custkey").orderBy("ts_ms", "o_orderkey")
    o = orders.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("priority"),
        F.expr("unix_micros(o_orderdate) div 1000").cast("long").alias("ts_ms"),
        "o_orderkey",
    )
    seg = o.withColumn(
        "chg",
        F.when(
            ~F.lag("priority").over(w).eqNullSafe(F.col("priority")), 1
        ).otherwise(0),
    ).withColumn("seg_id", F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    hist = seg.groupBy(
        "custkey", F.col("seg_id").cast("long").alias("seg_id"), "priority"
    ).agg(
        F.min("ts_ms").cast("long").alias("valid_from_ms"),
        F.count("*").cast("long").alias("n_orders"),
    )
    w2 = Window.partitionBy("custkey").orderBy("seg_id")
    return hist.select(
        "custkey",
        "seg_id",
        "priority",
        "valid_from_ms",
        F.coalesce(F.lead("valid_from_ms").over(w2), F.lit(_SCD2_OPEN_MS))
        .cast("long")
        .alias("valid_to_ms"),
        "n_orders",
    )


_PMI_TOP_TOKENS = 50
_PMI_TOP_PAIRS = 50
_QLN = "CAST(floor(1000000000 * ln(CAST({x} AS DOUBLE))) AS BIGINT)"


@query(
    "token_pmi_pairs",
    f"""
WITH dt AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents),
n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM documents),
df AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM dt GROUP BY 1),
top AS (SELECT tok, c FROM df ORDER BY c DESC, tok LIMIT {_PMI_TOP_TOKENS}),
pair AS (
  SELECT a.tok AS ta, b.tok AS tb, CAST(count(*) AS BIGINT) AS c_ab
  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.tok < b.tok
  WHERE a.tok IN (SELECT tok FROM top) AND b.tok IN (SELECT tok FROM top)
  GROUP BY 1, 2),
ranked AS (SELECT ta, tb, c_ab,
                  row_number() OVER (ORDER BY c_ab DESC, ta, tb) AS rk
           FROM pair)
SELECT r.ta AS tok_a, r.tb AS tok_b, r.c_ab AS n_co,
       fa.c AS df_a, fb.c AS df_b,
       CAST((SELECT {_QLN.format(x='n_docs')} FROM n)
            + {_QLN.format(x='r.c_ab')}
            - {_QLN.format(x='fa.c')}
            - {_QLN.format(x='fb.c')} AS BIGINT) AS pmi_x1e9,
       CAST((r.c_ab * 1000000 * (SELECT n_docs FROM n)) // (fa.c * fb.c)
            AS BIGINT) AS lift_x1e6,
       CAST(r.rk AS BIGINT) AS rk
FROM ranked r JOIN top fa ON r.ta = fa.tok JOIN top fb ON r.tb = fb.tok
WHERE r.rk <= {_PMI_TOP_PAIRS}
""",
)
def q_token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level PMI of the top-50 corpus tokens: which frequent
    tokens co-occur more than independence predicts — the collocation /
    topic-coherence statistic. The pair space is capped BEFORE explosion
    (only top-df tokens pair, ≤ C(50,2) per doc), doc-level pair counts
    come from one in-task array explosion + one aggregate, and PMI is the
    entropy-pattern sum of four floor-quantized ln-of-integer terms
    (exact under any aggregation order); lift is a pure integer ratio."""
    docs = load_table(spark, sf_dir, "documents")
    dt = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).distinct()
    n_docs = docs.agg(F.countDistinct("doc_id").cast("long").alias("n_docs"))
    df_tok = dt.groupBy("tok").agg(F.count("*").cast("long").alias("c"))
    top = df_tok.orderBy(F.desc("c"), F.asc("tok")).limit(_PMI_TOP_TOKENS)
    pairs = (
        dt.join(F.broadcast(top.select("tok")), "tok")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("tok")).alias("toks"))
        .select(F.explode(F.expr(_PAIRS.format(arr="toks"))).alias("p"))
        .groupBy(F.col("p.a").alias("ta"), F.col("p.b").alias("tb"))
        .agg(F.count("*").cast("long").alias("c_ab"))
    )
    # top-k via orderBy+limit (TakeOrderedAndProject), then rank the
    # bounded survivors — see market_basket_rules
    ranked = (
        pairs.orderBy(F.desc("c_ab"), F.asc("ta"), F.asc("tb"))
        .limit(_PMI_TOP_PAIRS)
        .withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.desc("c_ab"), F.asc("ta"), F.asc("tb"))
            ),
        )
    )
    qln = lambda c: F.floor(  # noqa: E731
        F.lit(1_000_000_000) * F.log(F.col(c).cast("double"))
    ).cast("long")
    fa = top.select(F.col("tok").alias("ta"), F.col("c").alias("df_a"))
    fb = top.select(F.col("tok").alias("tb"), F.col("c").alias("df_b"))
    return (
        ranked.join(F.broadcast(fa), "ta")
        .join(F.broadcast(fb), "tb")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col("ta").alias("tok_a"),
            F.col("tb").alias("tok_b"),
            F.col("c_ab").alias("n_co"),
            "df_a",
            "df_b",
            (
                qln("n_docs") + qln("c_ab") - qln("df_a") - qln("df_b")
            ).alias("pmi_x1e9"),
            F.expr("(c_ab * 1000000 * n_docs) div (df_a * df_b)")
            .cast("long")
            .alias("lift_x1e6"),
            F.col("rk").cast("long").alias("rk"),
        )
    )


_IV = "list_transform(embedding::DOUBLE[], x -> CAST(round(x * 1000000) AS BIGINT))"
_DOT = (
    "CAST(list_sum(list_transform(list_zip(a.v, b.v), "
    "p -> p[1] * p[2])) AS BIGINT)"
)


@query(
    "hard_negative_mining",
    f"""
WITH kq AS (SELECT GREATEST(1, count(*) // 400) AS m FROM embeddings),
e AS (SELECT vec_id, CAST(label AS BIGINT) AS label, {_IV} AS v
           FROM embeddings),
s AS (SELECT a.vec_id AS query_id, a.label AS query_label,
             b.vec_id AS cand_id, b.label AS neg_label, {_DOT} AS dot_scaled
      FROM e a, e b
      WHERE a.vec_id % (SELECT m FROM kq) = 0 AND a.label != b.label),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY dot_scaled DESC, cand_id) AS rnk
      FROM s)
SELECT query_id, query_label, cand_id, neg_label, dot_scaled,
       CAST(rnk AS BIGINT) AS rnk
FROM r WHERE rnk <= 3
""",
)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (operators/similarity.hard_negatives): top-3
    nearest OTHER-label vectors per sampled query — the contrastive-
    training pair miner. Exact broadcast kernel, label filter before the
    rank; the mined-query set is bounded at ~400 via a corpus-derived
    modulus (fixed 1-in-10 measured 60× at 10× rows in the sf1 suite —
    the probe-set lesson)."""
    from videos_to_tfrecords_spark.operators.similarity import hard_negatives

    emb = load_table(spark, sf_dir, "embeddings")
    return hard_negatives(emb, query_mod="auto", k=3)


@query(
    "doc_token_fertility",
    """
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(text)) AS BIGINT) AS n_chars,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_ws_tokens,
       CAST(sum(len(text)) * 1000 // sum(len(string_split(text, ' ')))
            AS BIGINT) AS chars_per_token_x1000
FROM documents GROUP BY lang
""",
)
def q_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language: characters per whitespace token —
    the compression-rate statistic that decides per-language sampling
    budgets (a high-fertility language consumes more context per word).
    Map-side partial sums only; one tiny lang-keyed exchange."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("n_chars"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("n_ws_tokens"),
        F.expr(
            "sum(length(text)) * 1000 div sum(size(split(text, ' ')))"
        )
        .cast("long")
        .alias("chars_per_token_x1000"),
    )


@query(
    "mixture_alpha_weights",
    """
WITH n AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
           FROM documents GROUP BY 1),
w AS (SELECT lang, n_docs,
             CAST(floor(1000000 * sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT) AS w
      FROM n),
t AS (SELECT CAST(sum(w) AS BIGINT) AS tot FROM w)
SELECT lang, n_docs, w,
       CAST(w * 1000000 // (SELECT tot FROM t) AS BIGINT) AS p_x1e6,
       CAST(w * 10000 // (SELECT tot FROM t) AS BIGINT) AS expected_docs
FROM w
""",
)
def q_mixture_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language sampling weights (the multilingual-LM
    mixture rule p_l ∝ n_l^α, α=0.5): upweights low-resource languages
    relative to proportional sampling. α=0.5 makes the power a SQRT —
    IEEE-754 requires sqrt to be correctly rounded, so floor(1e6·√n) is
    bit-identical across engines with no quantized-ln machinery. One tiny
    lang-keyed aggregate + a broadcast 1-row total; expected_docs is the
    per-language draw for a 10k-doc budget."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.groupBy("lang").agg(F.count("*").cast("long").alias("n_docs")).select(
        "lang",
        "n_docs",
        F.floor(F.lit(1_000_000) * F.sqrt(F.col("n_docs").cast("double")))
        .cast("long")
        .alias("w"),
    )
    tot = w.agg(F.sum("w").cast("long").alias("tot"))
    return w.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "w",
        F.expr("w * 1000000 div tot").cast("long").alias("p_x1e6"),
        F.expr("w * 10000 div tot").cast("long").alias("expected_docs"),
    )


_VOCAB_KS = (10, 100, 1000, 10000)


@query(
    "vocab_coverage_curve",
    f"""
WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
c AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS total,
               CAST(count(*) AS BIGINT) AS n_distinct FROM c),
r AS (SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS rk FROM c
      ORDER BY c DESC, tok LIMIT {max(_VOCAB_KS)})
SELECT (SELECT total FROM tot) AS total_tokens,
       (SELECT n_distinct FROM tot) AS n_distinct,
       {", ".join(
           f'''CAST(sum(CASE WHEN rk <= {k} THEN c ELSE 0 END) * 1000000
            // (SELECT total FROM tot) AS BIGINT) AS cov{k}_x1e6'''
           for k in _VOCAB_KS)}
FROM r
""",
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: fraction of corpus token OCCURRENCES
    covered by the top-{{10,100,1k,10k}} most frequent types — the
    statistic that sizes a tokenizer vocabulary (the knee of this curve is
    where added vocab stops paying). Scale shape: token counts are one
    partial→final aggregate; the top-10k extraction is a distributed
    TakeOrderedAndProject (every partition contributes its local top-k,
    only 10k rows ever sit in one place — never a global sort/cumsum
    window over the full vocabulary); the four coverage sums are
    conditional aggregates over those bounded 10k rows."""
    docs = load_table(spark, sf_dir, "documents")
    c = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("c"))
    )
    tot = c.agg(
        F.sum("c").cast("long").alias("total_tokens"),
        F.count("*").cast("long").alias("n_distinct"),
    )
    top = c.orderBy(F.desc("c"), F.asc("tok")).limit(max(_VOCAB_KS))
    ranked = top.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("c"), F.asc("tok")))
    )
    sums = ranked.agg(
        *[
            F.sum(F.when(F.col("rk") <= k, F.col("c")).otherwise(0)).alias(f"s{k}")
            for k in _VOCAB_KS
        ]
    )
    return sums.crossJoin(F.broadcast(tot)).select(
        "total_tokens",
        "n_distinct",
        *[
            F.expr(f"s{k} * 1000000 div total_tokens")
            .cast("long")
            .alias(f"cov{k}_x1e6")
            for k in _VOCAB_KS
        ],
    )


_LPA_ITERS = 3


def _lpa_oracle_sql() -> str:
    head = """
WITH e0 AS (
  SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
nodes AS (SELECT DISTINCT src AS node FROM e0
          UNION SELECT DISTINCT dst AS node FROM e0),
edges AS (SELECT src AS s, dst AS d FROM e0
          UNION ALL SELECT dst AS s, src AS d FROM e0
          UNION ALL SELECT node AS s, node AS d FROM nodes),
l0 AS (SELECT node, node AS lab FROM nodes)"""
    iters = []
    for i in range(1, _LPA_ITERS + 1):
        prev = f"l{i-1}"
        iters.append(
            f""",
l{i} AS (
  SELECT node, lab FROM (
    SELECT v.node, v.lab,
           row_number() OVER (PARTITION BY v.node
                              ORDER BY v.c DESC, v.lab) AS rn
    FROM (SELECT e.d AS node, p.lab, count(*) AS c
          FROM edges e JOIN {prev} p ON e.s = p.node
          GROUP BY 1, 2) v)
  WHERE rn = 1)"""
        )
    tail = f"""
SELECT CAST(lab AS BIGINT) AS community,
       CAST(count(*) AS BIGINT) AS n_nodes
FROM l{_LPA_ITERS} GROUP BY 1
"""
    return head + "".join(iters) + tail


@query("graph_lpa_communities", _lpa_oracle_sql())
def q_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities of the customer↔supplier trade graph
    (operators/graph.label_propagation, 3 synchronous rounds, min-label
    tie-break, self-loops) aggregated to community sizes. The oracle
    unrolls the identical deterministic update rule into one CTE per
    round — the pagerank_integer verification technique."""
    from videos_to_tfrecords_spark.operators.graph import label_propagation

    labels = label_propagation(
        _trade_edges_mining(spark, sf_dir), n_iter=_LPA_ITERS
    )
    return labels.groupBy(F.col("lab").cast("long").alias("community")).agg(
        F.count("*").cast("long").alias("n_nodes")
    )


def _trade_edges_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetrized customer↔supplier trade edges, namespaced 2k / 2k+1 —
    the same derivation as graph_queries._trade_edges (re-declared here to
    keep the module import graph acyclic)."""
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
    return fwd.unionAll(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


_PROFILE_COLS = (
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_returnflag",
    "l_linestatus",
)


@query(
    "table_profile_lineitem",
    f"""
SELECT * FROM (
{" UNION ALL ".join(
    f'''SELECT '{c}' AS col,
        CAST(count(*) - count({c}) AS BIGINT) AS n_null,
        CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
        CAST(min(CAST({c} AS VARCHAR)) AS VARCHAR) AS min_str,
        CAST(max(CAST({c} AS VARCHAR)) AS VARCHAR) AS max_str
    FROM lineitem'''
    for c in _PROFILE_COLS)})
""",
)
def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profile of the fact table (null count, exact
    distinct count, lexicographic min/max as strings) — the data-quality
    census a pipeline runs before trusting a new snapshot. All eight
    columns profile in a SINGLE aggregate pass: Spark plans multiple
    COUNT(DISTINCT) via Expand (one scan, rows × #distinct-aggs
    intermediate, partial-aggregated map-side before the one exchange) —
    versus eight scans for the naive per-column loop. Min/max compare as
    strings so one schema covers every column type; the output is
    8 rows, metadata-sized."""
    li = load_table(spark, sf_dir, "lineitem")
    # melt → (col, val) narrow rows, then TWO partial→final aggregates:
    # (col, val) counts dedup map-side, the per-col rollup is 8 groups.
    # The single-agg multi-COUNT(DISTINCT) formulation plans an Expand ×9
    # into ONE global group — measured 20 s at sf0.1 vs ~1 s for this
    # shape, and the Expand volume only grows with column count.
    stack = ", ".join(
        f"'{c}', CAST({c} AS STRING)" for c in _PROFILE_COLS
    )
    melted = li.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack}) AS (col, val)"
    )
    per_val = melted.groupBy("col", "val").agg(F.count("*").alias("cnt"))
    return per_val.groupBy("col").agg(
        F.coalesce(
            F.sum(F.when(F.col("val").isNull(), F.col("cnt"))), F.lit(0)
        ).cast("long").alias("n_null"),
        F.count("val").cast("long").alias("n_distinct"),
        F.min("val").alias("min_str"),
        F.max("val").alias("max_str"),
    )


@query(
    "data_quality_checks",
    """
SELECT 'orders_nonneg_price' AS rule,
       CAST(count(*) AS BIGINT) AS n_checked,
       CAST(sum(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violations
FROM orders
UNION ALL
SELECT 'orders_valid_status',
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END)
            AS BIGINT)
FROM orders
UNION ALL
SELECT 'lineitem_discount_range',
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END)
            AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'lineitem_positive_qty',
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'events_value_not_null',
       CAST(count(*) AS BIGINT),
       CAST(count(*) - count(value) AS BIGINT)
FROM events
UNION ALL
SELECT 'documents_nonempty_text',
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN len(text) = 0 THEN 1 ELSE 0 END) AS BIGINT)
FROM documents
""",
)
def q_data_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality rule suite (the expectations-runner shape):
    each rule is a conditional aggregate over its table — violations
    count, never row explosion; per-table rules fuse into that table's
    single scan (map-side partial sums, one tiny final exchange). New
    rules are one SELECT each on both engine and oracle sides."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")
    docs = load_table(spark, sf_dir, "documents")

    def rule(df: DataFrame, name: str, violated) -> DataFrame:
        return df.agg(
            F.count("*").cast("long").alias("n_checked"),
            F.sum(F.when(violated, 1).otherwise(0)).cast("long").alias("n_violations"),
        ).select(F.lit(name).alias("rule"), "n_checked", "n_violations")

    parts = [
        rule(orders, "orders_nonneg_price", F.col("o_totalprice") < 0),
        rule(
            orders,
            "orders_valid_status",
            ~F.col("o_orderstatus").isin("O", "F", "P"),
        ),
        rule(
            li,
            "lineitem_discount_range",
            (F.col("l_discount") < 0) | (F.col("l_discount") > 1),
        ),
        rule(li, "lineitem_positive_qty", F.col("l_quantity") <= 0),
        rule(ev, "events_value_not_null", F.col("value").isNull()),
        rule(docs, "documents_nonempty_text", F.length("text") == 0),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


@query(
    "nested_subset_curve",
    f"""
WITH h AS (
  SELECT lang, {{h}} % 10000 AS b
  FROM documents
), tiers AS (SELECT unnest([100, 500, 2500, 10000]) AS permille)
SELECT t.permille AS tier_bp, lang,
       CAST(count(*) FILTER (WHERE h.b < t.permille) AS BIGINT) AS n_docs
FROM h CROSS JOIN tiers t
GROUP BY t.permille, lang
""".replace("{h}", "CAST(concat('0x', substr(md5(concat('curve:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)"),
)
def q_nested_subset_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learning-curve nested sampling: hash-threshold tiers (1%, 5%, 25%,
    100% in basis points of 10000) are NESTED by construction — the 1%
    subset is contained in the 5% subset, which scaling-law studies
    require (each point trains on a superset of the previous). One scan,
    one agg; the tier expansion is an in-task Expand. Per (tier, lang)
    doc counts let the curve be stratified by language. Nestedness is
    pytest-asserted; membership is the portable h15 hash so the oracle
    reproduces the exact subsets."""
    from videos_to_tfrecords_spark.functions.hashing import h15

    docs = load_table(spark, sf_dir, "documents").select(
        "lang", (h15(F.col("doc_id").cast("string"), "curve") % 10000).alias("b")
    )
    tiers = F.array(*[F.lit(x) for x in (100, 500, 2500, 10000)])
    return (
        docs.select("lang", "b", F.explode(tiers).alias("tier_bp"))
        .groupBy("tier_bp", "lang")
        .agg(F.count(F.when(F.col("b") < F.col("tier_bp"), 1)).alias("n_docs"))
        .select(
            F.col("tier_bp").cast("long").alias("tier_bp"),
            "lang",
            F.col("n_docs").cast("long").alias("n_docs"),
        )
    )


@query(
    "fuzzy_name_pairs",
    """
WITH toks AS (SELECT DISTINCT c_name AS tok FROM customer),
sigs AS (
  SELECT tok, substr(tok, 1, i - 1) || substr(tok, i + 1) AS sig
  FROM toks, (SELECT unnest(range(1, 41)) AS i) pos
  WHERE i <= len(tok)
  UNION ALL
  SELECT tok, tok AS sig FROM toks),
cand AS (
  SELECT DISTINCT a.tok AS tok_a, b.tok AS tok_b
  FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.tok < b.tok)
SELECT tok_a, tok_b, CAST(levenshtein(tok_a, tok_b) AS BIGINT) AS dist
FROM cand WHERE levenshtein(tok_a, tok_b) <= 1
""",
)
def q_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy matching via FastSS deletion-neighborhood
    blocking: every name emits its |t|+1 delete-one signatures (plus
    itself); any two strings within edit distance 1 MUST share a
    signature, so the equi-join on signature finds ALL candidates with
    zero recall loss and no quadratic cross-join — then Levenshtein
    verifies candidates only. The engine adds the POSITION refinement:
    a substitution pair (equal length, differ at exactly one position j)
    must share the deletion signature AT THE SAME j, so the self-join
    keys on (sig, i) — buckets shrink from "every string one edit away
    in any alignment" to "strings equal outside position i" (≤ alphabet
    size), each pair surfaces on exactly one key (no dedup pass), and
    candidates are dist≤1 BY CONSTRUCTION. Indel pairs (length ± 1) come
    from the full-string-equals-deletion join. Same exact output, ~2× —
    the 100 TB-safe shape for dedup of near-identical IDs/URLs/titles.
    The oracle keeps the textbook position-free formulation (different
    candidate set, same verified output). Both engines share identical
    Levenshtein and substring semantics."""
    cust = load_table(spark, sf_dir, "customer")
    toks = cust.select(F.col("c_name").alias("tok")).distinct()
    # three branches read dels — lazy checkpoint (kcore_rounds pattern)
    # stops the explode from re-executing per branch
    dels = (
        toks.select(
            "tok",
            F.explode(F.sequence(F.lit(1), F.length("tok"))).alias("i"),
        )
        .select(
            "tok",
            "i",
            F.concat(
                F.expr("substring(tok, 1, i - 1)"),
                F.expr("substring(tok, i + 1, length(tok))"),
            ).alias("sig"),
        )
        .localCheckpoint(eager=False)
    )
    a = dels.select(F.col("tok").alias("tok_a"), "i", "sig")
    b = dels.select(F.col("tok").alias("tok_b"), "i", "sig")
    cand_sub = (
        a.join(b, ["sig", "i"])
        .filter(F.col("tok_a") < F.col("tok_b"))
        .select("tok_a", "tok_b")
    )
    short = toks.select(F.col("tok").alias("s"))
    cand_ind = (
        short.join(dels.select(F.col("tok").alias("l"), "sig"), short.s == F.col("sig"))
        .select(F.least("s", "l").alias("tok_a"), F.greatest("s", "l").alias("tok_b"))
        .distinct()
    )
    return (
        cand_sub.unionAll(cand_ind)
        .withColumn("dist", F.levenshtein("tok_a", "tok_b"))
        .filter(F.col("dist") <= 1)
        .select("tok_a", "tok_b", F.col("dist").cast("long").alias("dist"))
    )


@query(
    "snapshot_diff_orders",
    """
WITH b AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
              ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 13 != 0
  UNION ALL
  SELECT o_orderkey + 100000000, 'N', o_totalprice
  FROM orders WHERE o_orderkey % 11 = 0
),
d AS (
  SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
         CASE WHEN a.o_orderkey IS NULL THEN 'insert'
              WHEN b.o_orderkey IS NULL THEN 'delete'
              WHEN a.o_orderstatus IS DISTINCT FROM b.o_orderstatus
                   OR a.o_totalprice IS DISTINCT FROM b.o_totalprice THEN 'update'
              ELSE 'unchanged' END AS change_type
  FROM orders a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
)
SELECT change_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
FROM d GROUP BY change_type
""",
)
def q_snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot CDC diff (time-travel DIFF over plain tables): version B is
    synthesized from orders — every 13th key deleted, every 7th surviving
    key updated (status 'X', +1.00), every 11th key re-inserted under a
    shifted key — then one null-safe full-outer join classifies every key.
    key_sum strengthens the hash check (the exact key SET per class, not
    just counts)."""
    from videos_to_tfrecords_spark.operators.relational import snapshot_diff

    a = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    survivors = a.filter(k % 13 != 0)
    b = survivors.select(
        "o_orderkey",
        F.when(k % 7 == 0, F.lit("X")).otherwise(F.col("o_orderstatus")).alias(
            "o_orderstatus"
        ),
        F.when(k % 7 == 0, F.col("o_totalprice") + 1.0)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    ).unionByName(
        a.filter(k % 11 == 0).select(
            (k + 100_000_000).alias("o_orderkey"),
            F.lit("N").alias("o_orderstatus"),
            F.col("o_totalprice"),
        )
    )
    d = snapshot_diff(
        a, b, keys=["o_orderkey"], compare_cols=["o_orderstatus", "o_totalprice"]
    )
    return d.groupBy("change_type").agg(
        F.count("*").alias("n"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
    )


_FS_LNQ = "CAST(floor(1000000000 * ln(CAST({x} AS DOUBLE))) AS BIGINT)"
_FS_FIELDS = ("ty", "pb", "tok0")
_FS_HI, _FS_LO = 0, -3_000_000_000  # ln-scale 1e9: match ≥ 0, possible ≥ −3


def _fs_oracle() -> str:
    lnq = _FS_LNQ.format
    ufs = ",\n".join(
        f"""uf_{f} AS (SELECT CAST(sum(c * (c - 1)) AS BIGINT) AS u_num
  FROM (SELECT count(*) AS c FROM p GROUP BY {f}))"""
        for f in _FS_FIELDS
    )
    ws = ",\n   ".join(
        f"""{lnq(x="9 * (u_den + 1)")} - {lnq(x=f"10 * (uf_{f}.u_num + 1)")} AS wa_{f},
   {lnq(x="u_den + 1")} - {lnq(x=f"10 * (u_den - uf_{f}.u_num + 1)")} AS wd_{f}"""
        for f in _FS_FIELDS
    )
    score = " + ".join(
        f"CASE WHEN a.{f} = b.{f} THEN w.wa_{f} ELSE w.wd_{f} END"
        for f in _FS_FIELDS
    )
    return f"""
WITH p AS (SELECT p_partkey AS pk, p_brand AS brand, p_size AS sz, p_type AS ty,
                  CAST(round(p_retailprice * 100) AS BIGINT) // 10000 AS pb,
                  CAST(round(p_retailprice * 10) AS BIGINT) AS pd,
                  string_split(p_name, ' ')[1] AS tok0
           FROM part),
ud AS (SELECT CAST(count(*) AS BIGINT) * (CAST(count(*) AS BIGINT) - 1) AS u_den
       FROM p),
ww AS (SELECT GREATEST(1, (count(*) + 19999) // 20000) AS w FROM p),
{ufs},
w AS (SELECT
   {ws}
 FROM ud, {", ".join(f"uf_{f}" for f in _FS_FIELDS)}),
scored AS (
  SELECT ({score}) AS s
  FROM p a JOIN p b ON a.brand = b.brand AND a.sz = b.sz
    AND a.pd % (SELECT w FROM ww) = b.pd % (SELECT w FROM ww)
    AND a.pk < b.pk, w)
SELECT CASE WHEN s >= {_FS_HI} THEN 'match'
            WHEN s >= {_FS_LO} THEN 'possible'
            ELSE 'non-match' END AS decision,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(s) AS BIGINT) AS score_sum
FROM scored GROUP BY 1
"""


@query("record_linkage_scores", _fs_oracle())
def q_record_linkage_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter probabilistic record linkage (1969, public): block
    part pairs on (brand, size), compare type / price-band / first name
    token; per-field agreement weights ln(m/u) with m = 9/10 fixed and u
    estimated EXACTLY from the data as ordered-pair agreement probability
    Σc(c−1)/n(n−1) (+1 smoothed) — all integer arguments, so the quantized
    log weights and every pair score hash-match the SQL twin. Decisions by
    the classic two-threshold rule.

    Scale: u-stats are field-domain aggregates (broadcast 1-row); the pair
    generation is an equi-join on the block key. Block-key cardinality
    must SCALE with the corpus (the semantic_dedup auto-k lesson) — here
    brand×size ≈ 1250 blocks fits the test SFs; at 100 TB block on a
    higher-cardinality composite (brand × size × price-band)."""
    p = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("pk"),
        F.col("p_brand").alias("brand"),
        F.col("p_size").alias("sz"),
        F.col("p_type").alias("ty"),
        F.expr("CAST(round(p_retailprice * 100) AS BIGINT) div 10000").alias("pb"),
        F.expr("CAST(round(p_retailprice * 10) AS BIGINT)").alias("pd"),
        F.element_at(F.split("p_name", " "), 1).alias("tok0"),
    )

    def lnq(c):
        return F.floor(F.lit(1_000_000_000) * F.log(c.cast("double"))).cast("long")

    ud = p.agg(
        (F.count("*").cast("long") * (F.count("*").cast("long") - 1)).alias("u_den")
    )
    w = ud
    for f in _FS_FIELDS:
        uf = (
            p.groupBy(f)
            .agg(F.count("*").alias("c"))
            .agg(F.sum(F.col("c") * (F.col("c") - 1)).cast("long").alias("u_num"))
        )
        w = w.crossJoin(F.broadcast(uf.withColumnRenamed("u_num", f"un_{f}")))
    for f in _FS_FIELDS:
        w = w.withColumn(
            f"wa_{f}",
            lnq(9 * (F.col("u_den") + 1)) - lnq(10 * (F.col(f"un_{f}") + 1)),
        ).withColumn(
            f"wd_{f}",
            lnq(F.col("u_den") + 1)
            - lnq(10 * (F.col("u_den") - F.col(f"un_{f}") + 1)),
        )
    # corpus-derived block widening (the semantic_dedup auto-k lesson,
    # measured here too: fixed 1250 blocks went exponent 1.17 at sf1):
    # W = max(1, ceil(n/20000)) extra price blocking keeps expected block
    # population flat as the corpus grows. The widening unit is price
    # DIMES (round(price*10)) — the generator's prices span [900, 999.9]
    # in 0.1 steps, so the earlier price-band (div 100) unit was the
    # single value 9 and pb % W never split anything (re-measured
    # exponent 1.16); dimes give 1000 consecutive values, uniform under
    # % W for W ≤ ~100. W=1 at the test SFs.
    n_rows = p.count()
    wmod = max(1, (int(n_rows) + 19_999) // 20_000)
    pw = p.withColumn("pbw", F.col("pd") % wmod)
    a, b = pw.alias("a"), pw.alias("b")
    pairs = a.join(
        b,
        (F.col("a.brand") == F.col("b.brand"))
        & (F.col("a.sz") == F.col("b.sz"))
        & (F.col("a.pbw") == F.col("b.pbw"))
        & (F.col("a.pk") < F.col("b.pk")),
    ).crossJoin(F.broadcast(w))
    score = None
    for f in _FS_FIELDS:
        t = F.when(F.col(f"a.{f}") == F.col(f"b.{f}"), F.col(f"wa_{f}")).otherwise(
            F.col(f"wd_{f}")
        )
        score = t if score is None else score + t
    decision = (
        F.when(score >= _FS_HI, F.lit("match"))
        .when(score >= _FS_LO, F.lit("possible"))
        .otherwise(F.lit("non-match"))
    )
    return (
        pairs.select(decision.alias("decision"), score.alias("s"))
        .groupBy("decision")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum("s").cast("long").alias("score_sum"),
        )
    )


@query(
    "tfrecord_source_roundtrip",
    """
SELECT lang,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(doc_id) AS BIGINT) AS id_sum,
       CAST(sum(n_chars) AS BIGINT) AS chars_sum
FROM documents GROUP BY lang
""",
)
def q_tfrecord_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE flagship sink/source round-trip as a registered oracle query:
    documents → SequenceExample wire bytes (columnar proto encoder) →
    sharded .tfrecord files (masked-CRC32C framing) → distributed
    binaryFile read → proto DECODE → per-lang aggregate. The oracle
    aggregates the parquet directly, so a hash match proves every byte of
    the encode/frame/write/read/parse chain preserved the data — the
    S4/§2.1 path the reference exists for, now under the driver's gate."""
    from videos_to_tfrecords_spark.sources.tfrecord import (
        decode_sequence_example,
        read_tfrecords_df,
        with_sequence_example,
        write_tfrecords,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars", "lang")
    protos = with_sequence_example(
        docs, context_cols=["doc_id", "n_chars", "lang"], list_cols=[]
    )
    path = scratch_dir("tfrec", sf_dir)
    # clean first: a stale run with a different shard count would leave
    # extra .tfrecord files in the glob and double-count on read-back
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    write_tfrecords(protos, "proto", path, "docs")
    back = read_tfrecords_df(spark, os.path.join(path, "data", "docs"))

    def parse(batches):
        import pandas as pd

        for pdf in batches:
            out = {"doc_id": [], "n_chars": [], "lang": []}
            for rec in pdf["record"]:
                ctx, _ = decode_sequence_example(bytes(rec))
                out["doc_id"].append(int(ctx["doc_id"][0]))
                out["n_chars"].append(int(ctx["n_chars"][0]))
                out["lang"].append(
                    ctx["lang"][0].decode()
                    if isinstance(ctx["lang"][0], bytes)
                    else str(ctx["lang"][0])
                )
            yield pd.DataFrame(out)

    parsed = back.mapInPandas(parse, "doc_id long, n_chars long, lang string")
    return parsed.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.sum("doc_id").alias("id_sum"),
        F.sum("n_chars").alias("chars_sum"),
    )


@query(
    "k_anonymity_audit",
    """
WITH qi AS (
  SELECT c_nationkey, c_mktsegment,
         (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 100000 AS bal_band,
         CAST(count(*) AS BIGINT) AS k
  FROM customer GROUP BY 1, 2, 3)
SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
       CAST(sum(k) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(min(k) AS BIGINT) AS min_k,
       CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT) AS rows_at_risk
FROM qi GROUP BY c_nationkey
""",
)
def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifiers (the privacy gate a corpus
    release runs after PII scrubbing): group customers by the QI class
    (nation, market segment, $1000 account-balance band), then census
    per-nation equivalence-class sizes — rows in classes with k < 5 are
    re-identifiable and counted as at-risk. Balance bands use exact integer
    cents shifted positive so both engines' truncating division agrees.

    Scale shape: two partial→final hash aggregates (QI class, then nation)
    — the QI rollup is the only corpus-sized shuffle, and its key
    cardinality is the QI domain, not the row count."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey", "c_mktsegment", "c_acctbal"
    )
    band = F.expr(
        "(CAST(round(c_acctbal * 100) AS BIGINT) + 100000) div 100000"
    ).alias("bal_band")
    k = cust.groupBy("c_nationkey", "c_mktsegment", band).agg(
        F.count("*").alias("k")
    )
    return k.groupBy("c_nationkey").agg(
        F.sum("k").cast("long").alias("n_rows"),
        F.count("*").cast("long").alias("n_classes"),
        F.min("k").cast("long").alias("min_k"),
        F.sum(F.when(F.col("k") < 5, F.col("k")).otherwise(F.lit(0)))
        .cast("long")
        .alias("rows_at_risk"),
    ).withColumnRenamed("c_nationkey", "nationkey").withColumn(
        "nationkey", F.col("nationkey").cast("long")
    )


@query(
    "deletion_cascade_audit",
    """
WITH cohort AS (SELECT c_custkey, c_nationkey FROM customer WHERE c_custkey % 97 = 0),
o AS (SELECT o_orderkey, c_nationkey FROM orders JOIN cohort ON o_custkey = c_custkey),
l AS (SELECT o.c_nationkey,
             count(*) AS n_lineitems,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cents
      FROM lineitem JOIN o ON l_orderkey = o_orderkey
      GROUP BY o.c_nationkey)
SELECT CAST(c.c_nationkey AS BIGINT) AS nationkey,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(coalesce(max(oc.n_orders), 0) AS BIGINT) AS n_orders,
       CAST(coalesce(max(l.n_lineitems), 0) AS BIGINT) AS n_lineitems,
       CAST(coalesce(max(l.cents), 0) AS BIGINT) AS revenue_cents
FROM cohort c
LEFT JOIN (SELECT c_nationkey, count(*) AS n_orders FROM o GROUP BY 1) oc
       ON oc.c_nationkey = c.c_nationkey
LEFT JOIN l ON l.c_nationkey = c.c_nationkey
GROUP BY c.c_nationkey
""",
)
def q_deletion_cascade_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten impact audit: given a deletion cohort (every
    97th customer), census the cascade BEFORE executing it — per nation,
    how many orders, lineitems, and how much revenue history would be
    erased. The pre-flight every GDPR deletion pipeline runs; pairs with
    k_anonymity_audit as the privacy-release gate family.

    Scale shape: cohort is a pushed-down scan filter (no customer
    materialization), orders/lineitem attach via keyed equi-joins that
    AQE can skew-handle, and all three counts aggregate partial→final on
    the small nation key."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    cohort = cust.filter(F.col("c_custkey") % 97 == 0)
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = orders.join(cohort, orders.o_custkey == cohort.c_custkey).select(
        "o_orderkey", "c_nationkey"
    )
    l_agg = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_lineitems"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("cents"),
        )
    )
    o_agg = o.groupBy("c_nationkey").agg(F.count("*").alias("n_orders"))
    c_agg = cohort.groupBy("c_nationkey").agg(F.count("*").alias("n_customers"))
    return (
        c_agg.join(o_agg, "c_nationkey", "left")
        .join(l_agg, "c_nationkey", "left")
        .select(
            F.col("c_nationkey").cast("long").alias("nationkey"),
            F.col("n_customers").cast("long").alias("n_customers"),
            F.coalesce("n_orders", F.lit(0)).cast("long").alias("n_orders"),
            F.coalesce("n_lineitems", F.lit(0)).cast("long").alias("n_lineitems"),
            F.coalesce("cents", F.lit(0)).cast("long").alias("revenue_cents"),
        )
    )


@query(
    "heavy_hitters_mg",
    """
WITH b AS (SELECT CAST(floor(value) AS BIGINT) AS bucket FROM events),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM b),
c AS (SELECT bucket, CAST(count(*) AS BIGINT) AS freq FROM b GROUP BY 1)
SELECT bucket, freq,
       CAST((1000000 * freq) // (SELECT n FROM tot) AS BIGINT) AS share_ppm
FROM c, tot WHERE freq * 100 > n
""",
)
def q_heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters (>1% share) over the skewed event-value bucket
    domain via the two-pass Misra–Gries pipeline — the hot-key detector
    that feeds salting/broadcast decisions (join_key_skew_report's exact
    census, re-done with bounded memory). The naive plan shuffles the full
    item domain; this one shuffles ≤257 keys: per-partition ≤256-counter
    MG summaries (operators/sketches.misra_gries_candidates, vectorized
    batch folds with the PODS'12 merge decrement), then ONE verification
    aggregate where non-candidates collapse into an overflow bucket that
    still contributes to the exact total. Output is bit-equal to the
    naive groupBy the oracle runs — MG affects cost, never the answer."""
    from videos_to_tfrecords_spark.operators.sketches import heavy_hitters_exact

    ev = load_table(spark, sf_dir, "events")
    items = ev.select(F.floor("value").cast("long").alias("bucket"))
    hh = heavy_hitters_exact(items, "bucket", t_ratio=100, n_counters=256)
    return hh.select(
        "bucket",
        "freq",
        F.expr("(1000000 * freq) div n_total").cast("long").alias("share_ppm"),
    )


@query(
    "l_diversity_audit",
    """
WITH qi AS (
  SELECT lang, n_chars // 500 AS len_band,
         CAST(count(*) AS BIGINT) AS k,
         CAST(count(DISTINCT source) AS BIGINT) AS l
  FROM documents GROUP BY 1, 2)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(sum(k) AS BIGINT) AS n_rows,
       CAST(min(l) AS BIGINT) AS min_l,
       CAST(sum(CASE WHEN l < 3 THEN k ELSE 0 END) AS BIGINT) AS rows_at_risk
FROM qi GROUP BY lang
""",
)
def q_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — k_anonymity_audit's sharper sibling: within each
    quasi-identifier class (lang × 500-char length band) count DISTINCT
    values of the sensitive attribute (source); a class where every row
    shares one source leaks membership even at high k. Per lang: class
    count, min l, and rows in classes with l < 3.

    Scale shape: two-level hash aggregate; the exact distinct runs as
    (lang, band, source) partial census first, so nothing wider than the
    QI key ever shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    qi = docs.groupBy(
        "lang", (F.col("n_chars") / F.lit(500)).cast("long").alias("len_band")
    ).agg(
        F.count("*").cast("long").alias("k"),
        F.count_distinct("source").cast("long").alias("l"),
    )
    return qi.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_classes"),
        F.sum("k").cast("long").alias("n_rows"),
        F.min("l").cast("long").alias("min_l"),
        F.sum(F.when(F.col("l") < 3, F.col("k")).otherwise(0))
        .cast("long")
        .alias("rows_at_risk"),
    )


_BF_M = 1 << 17  # bloom bits
_BF_K = 3  # hash functions
_BF_PROBE_OFFSET = 1_000_000_000  # probe keys disjoint from build keys


def _bloom_oracle() -> str:
    from videos_to_tfrecords_spark.functions.hashing import h15_sql

    build = " UNION ALL ".join(
        f"SELECT {h15_sql('CAST(p_partkey AS VARCHAR)', salt=f'bf{j}')} % {_BF_M}"
        f" AS b FROM part"
        for j in range(_BF_K)
    )
    probe = " UNION ALL ".join(
        f"SELECT p_partkey + {_BF_PROBE_OFFSET} AS pk, {j} AS j, "
        f"{h15_sql(f'CAST(p_partkey + {_BF_PROBE_OFFSET} AS VARCHAR)', salt=f'bf{j}')}"
        f" % {_BF_M} AS b FROM part"
        for j in range(_BF_K)
    )
    return f"""
WITH bset AS (SELECT DISTINCT b FROM ({build})),
pr AS ({probe}),
hit AS (SELECT pk, count(*) AS nj FROM pr JOIN bset USING (b) GROUP BY pk),
fp AS (SELECT CAST(count(*) AS BIGINT) AS n_fp FROM hit WHERE nj = {_BF_K}),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_keys FROM part),
s AS (SELECT CAST(count(*) AS BIGINT) AS n_set FROM bset)
SELECT n_keys, CAST({_BF_M} AS BIGINT) AS m_bits, CAST({_BF_K} AS BIGINT) AS k_hashes,
       n_set AS n_bits_set, n_fp,
       CAST((1000000 * n_fp) // n_keys AS BIGINT) AS fpr_ppm
FROM n, s, fp
"""


@query("bloom_filter_fpr", _bloom_oracle())
def q_bloom_filter_fpr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable Bloom filter built and MEASURED as data: insert every part
    key (k=3 salted h15 hashes into m=2^17 bits), then probe a
    provably-disjoint key set and count keys whose every hash lands in the
    set — the empirical false-positive rate an engineer checks against
    (1-e^(-kn/m))^k before shipping a Bloom-pruned join. The whole
    construction is the portable-hash family, so even the FPR is
    hash-checked cross-engine (the CMS/HLL discipline applied to the third
    classic sketch; Spark's own runtime Bloom join is separately
    plan-asserted in test_mining).

    Scale shape: the filter materializes as ≤m distinct bucket rows (the
    sketch, not the corpus), the probe joins on bucket with map-side
    distinct; nothing corpus-sized shuffles except the two narrow hash
    projections."""
    part = load_table(spark, sf_dir, "part")
    from videos_to_tfrecords_spark.functions.hashing import h15

    bset = (
        part.select(
            F.explode(
                F.array(
                    *[
                        h15(F.col("p_partkey").cast("string"), salt=f"bf{j}")
                        % _BF_M
                        for j in range(_BF_K)
                    ]
                )
            ).alias("b")
        )
        .distinct()
    )
    pr = part.select(
        (F.col("p_partkey") + _BF_PROBE_OFFSET).alias("pk"),
        F.posexplode(
            F.array(
                *[
                    h15(
                        (F.col("p_partkey") + _BF_PROBE_OFFSET).cast("string"),
                        salt=f"bf{j}",
                    )
                    % _BF_M
                    for j in range(_BF_K)
                ]
            )
        ).alias("j", "b"),
    )
    hit = pr.join(bset, "b").groupBy("pk").agg(F.count("*").alias("nj"))
    n_fp = hit.filter(F.col("nj") == _BF_K).count()
    n_keys = part.count()
    n_set = bset.count()
    return spark.createDataFrame(
        [
            (
                n_keys,
                _BF_M,
                _BF_K,
                n_set,
                n_fp,
                (1_000_000 * n_fp) // n_keys,
            )
        ],
        "n_keys long, m_bits long, k_hashes long, n_bits_set long, n_fp long,"
        " fpr_ppm long",
    )


@query(
    "t_closeness_audit",
    """
WITH e AS (SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
                  c_mktsegment AS mktsegment,
                  (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 100000 AS b
           FROM customer),
cb AS (SELECT nationkey, mktsegment, b, CAST(count(*) AS BIGINT) AS cnt
       FROM e GROUP BY 1, 2, 3),
cls AS (SELECT nationkey, mktsegment, CAST(sum(cnt) AS BIGINT) AS nc
        FROM cb GROUP BY 1, 2),
bands AS (SELECT unnest(range(0, 11)) AS b),
gb AS (SELECT bands.b, CAST(coalesce(g.gcnt, 0) AS BIGINT) AS gcnt
       FROM bands LEFT JOIN (SELECT b, count(*) AS gcnt FROM e GROUP BY 1) g
         ON g.b = bands.b),
gcum AS (SELECT b, CAST(sum(gcnt) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING)
                        AS BIGINT) AS cg FROM gb),
ngt AS (SELECT CAST(sum(gcnt) AS BIGINT) AS ng FROM gb),
spine AS (SELECT nationkey, mktsegment, nc, b FROM cls CROSS JOIN bands),
f AS (SELECT s.nationkey, s.mktsegment, s.nc, s.b, coalesce(cb.cnt, 0) AS cnt
      FROM spine s LEFT JOIN cb ON cb.nationkey = s.nationkey
        AND cb.mktsegment = s.mktsegment AND cb.b = s.b),
cum AS (SELECT nationkey, mktsegment, nc, b,
               CAST(sum(cnt) OVER (PARTITION BY nationkey, mktsegment
                    ORDER BY b ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cc
        FROM f),
emd AS (SELECT c.nationkey, c.mktsegment, c.nc,
               sum(abs(CAST(c.cc AS HUGEINT) * ngt.ng
                       - CAST(g.cg AS HUGEINT) * c.nc)) AS emd_raw
        FROM cum c JOIN gcum g ON g.b = c.b CROSS JOIN ngt
        GROUP BY 1, 2, 3)
SELECT x.nationkey, x.mktsegment, x.nc AS n_rows,
       CAST(x.emd_raw AS BIGINT) AS emd_num,
       CAST((1000000 * x.emd_raw)
            // (CAST(x.nc AS HUGEINT) * ngt.ng * 10) AS BIGINT) AS t_ppm
FROM emd x CROSS JOIN ngt
""",
)
def q_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit — the ordered-attribute completion of the privacy
    trio (k_anonymity_audit counts class sizes, l_diversity_audit counts
    distinct sensitive values, t-closeness measures how far each class's
    SENSITIVE-VALUE DISTRIBUTION sits from the global one). Classes are
    (nation, market segment); the sensitive ordered attribute is the $1000
    account-balance band (0..10, domain bounded by the TPC-H spec, not the
    corpus). Distance is the exact 1-D earth-mover used by value_drift_emd:
    per class, Σ_b |cum_class·n_global − cum_global·n_class| over the
    11-band spine, cross-multiplied so no normalization float appears, then
    one DECIMAL(38)/HUGEINT floor-division to t_ppm (t·1e6, denominator
    nc·ng·(B−1)). A class with t_ppm ≫ 0 leaks the sensitive attribute by
    membership alone even when k and l look safe.

    Scale shape: the only corpus-sized stage is the (class, band) count;
    the spine is |classes|×11, the global band table is 11 rows broadcast,
    and every per-class window runs over 11 spine rows. At 100 TB the class
    census shuffles |QI-domain| keys, not row count."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey", "c_mktsegment", "c_acctbal"
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    e = cust.select(
        F.col("c_nationkey").cast("long").alias("nationkey"),
        F.col("c_mktsegment").alias("mktsegment"),
        F.expr(
            "(CAST(round(c_acctbal * 100) AS BIGINT) + 100000) div 100000"
        ).alias("b"),
    )
    cb = e.groupBy("nationkey", "mktsegment", "b").agg(
        F.count("*").cast("long").alias("cnt")
    )
    cls = cb.groupBy("nationkey", "mktsegment").agg(
        F.sum("cnt").cast("long").alias("nc")
    )
    bands = spark.range(11).select(F.col("id").cast("long").alias("b"))
    gb = (
        bands.join(e.groupBy("b").agg(F.count("*").alias("gcnt")), "b", "left")
        .select("b", F.coalesce("gcnt", F.lit(0)).cast("long").alias("gcnt"))
    )
    wg = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    gcum = gb.select("b", F.sum("gcnt").over(wg).cast("long").alias("cg"))
    ngt = gb.agg(F.sum("gcnt").cast("long").alias("ng"))
    spine = cls.crossJoin(F.broadcast(bands))
    f = spine.join(cb, ["nationkey", "mktsegment", "b"], "left").select(
        "nationkey",
        "mktsegment",
        "nc",
        "b",
        F.coalesce("cnt", F.lit(0)).cast("long").alias("cnt"),
    )
    wc = (
        Window.partitionBy("nationkey", "mktsegment")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = f.select(
        "nationkey", "mktsegment", "nc", "b",
        F.sum("cnt").over(wc).cast("long").alias("cc"),
    )
    emd = (
        cum.join(F.broadcast(gcum), "b")
        .crossJoin(F.broadcast(ngt))
        .groupBy("nationkey", "mktsegment", "nc")
        .agg(
            F.sum(
                F.abs(d38(F.col("cc")) * d38(F.col("ng")) - d38(F.col("cg")) * d38(F.col("nc")))
            ).alias("emd_raw")
        )
    )
    return emd.crossJoin(F.broadcast(ngt)).select(
        "nationkey",
        "mktsegment",
        F.col("nc").alias("n_rows"),
        F.col("emd_raw").cast("long").alias("emd_num"),
        F.expr(
            "CAST((1000000 * emd_raw) div (CAST(nc AS DECIMAL(38,0)) * ng * 10)"
            " AS BIGINT)"
        ).alias("t_ppm"),
    )


@query(
    "golden_record_survivorship",
    """
WITH recs AS (
  SELECT c_custkey AS k, 'legacy' AS src, 3 AS prio, 100 AS ts,
         c_name AS name, c_mktsegment AS segment,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal,
         concat(c_name, ' ', c_mktsegment) AS note
  FROM customer
  UNION ALL
  SELECT c_custkey, 'crm', 1, 200, upper(c_name), NULL,
         CAST(round(c_acctbal * 100) AS BIGINT) + 1000, c_name
  FROM customer WHERE c_custkey % 2 = 0
  UNION ALL
  SELECT c_custkey, 'web', 2, 300, c_name, c_mktsegment, NULL, NULL
  FROM customer WHERE c_custkey % 3 = 0),
g AS (
  SELECT k,
         min_by(name, prio) FILTER (WHERE name IS NOT NULL) AS name,
         max_by(segment, ts) FILTER (WHERE segment IS NOT NULL) AS segment,
         max_by(bal, ts) FILTER (WHERE bal IS NOT NULL) AS bal_cents,
         max_by(note, length(note) * 10 + prio)
           FILTER (WHERE note IS NOT NULL) AS note,
         CAST(count(*) AS BIGINT) AS n_records,
         string_agg(src, ',' ORDER BY prio) AS sources
  FROM recs GROUP BY k)
SELECT CAST(k AS BIGINT) AS custkey, name, segment, bal_cents, note,
       n_records, sources
FROM g
""",
)
def q_golden_record_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship — the consolidation step AFTER entity
    resolution (record_linkage_scores finds the duplicate clusters; this
    merges each cluster into one master record). Three system feeds are
    synthesized from customer (legacy: full record; crm: trusted name,
    missing segment, fresher balance; web: freshest timestamp, sparse
    fields), then per-field survivorship rules pick winners: name from the
    highest-PRIORITY source, segment/balance from the most RECENT non-null
    feed, free-text note by longest-value-wins — each rule one
    min_by/max_by aggregate with a FILTER clause, with integer composite
    order keys so ties are impossible and both engines pick identical
    winners. The source lineage string records the merge provenance.

    Scale shape: one union of projected scans, one partial→final aggregate
    on the entity key. max_by/min_by fold map-side, so no per-entity list
    ever materializes — at 100 TB this is a single shuffle of one row per
    (entity, field-winner) partial."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    k = F.col("c_custkey")
    a = cust.select(
        k.alias("k"), F.lit("legacy").alias("src"), F.lit(3).alias("prio"),
        F.lit(100).alias("ts"), F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"), cents.alias("bal"),
        F.concat(F.col("c_name"), F.lit(" "), F.col("c_mktsegment")).alias("note"),
    )
    b = cust.filter(k % 2 == 0).select(
        k.alias("k"), F.lit("crm").alias("src"), F.lit(1).alias("prio"),
        F.lit(200).alias("ts"), F.upper("c_name").alias("name"),
        F.lit(None).cast("string").alias("segment"), (cents + 1000).alias("bal"),
        F.col("c_name").alias("note"),
    )
    c = cust.filter(k % 3 == 0).select(
        k.alias("k"), F.lit("web").alias("src"), F.lit(2).alias("prio"),
        F.lit(300).alias("ts"), F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"), F.lit(None).cast("long").alias("bal"),
        F.lit(None).cast("string").alias("note"),
    )
    recs = a.unionByName(b).unionByName(c)
    return recs.groupBy(F.col("k").cast("long").alias("custkey")).agg(
        F.expr("min_by(name, prio) FILTER (WHERE name IS NOT NULL)").alias("name"),
        F.expr("max_by(segment, ts) FILTER (WHERE segment IS NOT NULL)").alias(
            "segment"
        ),
        F.expr("max_by(bal, ts) FILTER (WHERE bal IS NOT NULL)").alias("bal_cents"),
        F.expr(
            "max_by(note, length(note) * 10 + prio)"
            " FILTER (WHERE note IS NOT NULL)"
        ).alias("note"),
        F.count("*").cast("long").alias("n_records"),
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(prio, src))),"
            " x -> x.src), ',')"
        ).alias("sources"),
    )


_EM_M0 = 900_000  # initial m (per-field agreement prob among matches), ppm
_EM_L0 = 10_000   # initial λ (match prevalence among blocked pairs), ppm


def _em_linkage_oracle() -> str:
    ufs = ",\n".join(
        f"""euf_{f} AS (SELECT CAST(sum(c * (c - 1)) AS BIGINT) AS u_num
  FROM (SELECT count(*) AS c FROM p GROUP BY {f}))"""
        for f in _FS_FIELDS
    )
    uppm = ",\n       ".join(
        f"CAST((1000000 * (euf_{f}.u_num + 1)) // (ud.u_den + 1) AS BIGINT)"
        f" AS u_{f}"
        for f in _FS_FIELDS
    )
    gam = ", ".join(
        f"CASE WHEN a.{f} = b.{f} THEN 1 ELSE 0 END AS g_{f}"
        for f in _FS_FIELDS
    )
    mprod = " * ".join(
        f"CAST(CASE WHEN g_{f} = 1 THEN {_EM_M0} ELSE {1_000_000 - _EM_M0} END"
        " AS HUGEINT)"
        for f in _FS_FIELDS
    )
    uprod = " * ".join(
        f"CAST(CASE WHEN g_{f} = 1 THEN u.u_{f} ELSE 1000000 - u.u_{f} END"
        " AS HUGEINT)"
        for f in _FS_FIELDS
    )
    msel = ",\n".join(
        f"""(SELECT CAST((1000000 * sum(w_ppm * n * g_{f}))
            // sum(w_ppm * n) AS BIGINT) FROM e) AS m1_{f}"""
        for f in _FS_FIELDS
    )
    rows = " UNION ALL ".join(
        f"SELECT '{f}' AS field" for f in _FS_FIELDS
    )
    m1_case = " ".join(
        f"WHEN '{f}' THEN m.m1_{f}" for f in _FS_FIELDS
    )
    u_case = " ".join(f"WHEN '{f}' THEN u.u_{f}" for f in _FS_FIELDS)
    return f"""
WITH p AS (SELECT p_partkey AS pk, p_brand AS brand, p_size AS sz, p_type AS ty,
                  CAST(round(p_retailprice * 100) AS BIGINT) // 10000 AS pb,
                  CAST(round(p_retailprice * 10) AS BIGINT) AS pd,
                  string_split(p_name, ' ')[1] AS tok0
           FROM part),
ud AS (SELECT CAST(count(*) AS BIGINT) * (CAST(count(*) AS BIGINT) - 1) AS u_den
       FROM p),
eww AS (SELECT GREATEST(1, (count(*) + 19999) // 20000) AS w FROM p),
{ufs},
u AS (SELECT {uppm} FROM ud, {", ".join(f"euf_{f}" for f in _FS_FIELDS)}),
pat AS (SELECT {gam}, CAST(count(*) AS BIGINT) AS n
        FROM p a JOIN p b ON a.brand = b.brand AND a.sz = b.sz
          AND a.pd % (SELECT w FROM eww) = b.pd % (SELECT w FROM eww)
          AND a.pk < b.pk
        GROUP BY 1, 2, 3),
e AS (SELECT pat.*,
             CAST((1000000 * CAST({_EM_L0} AS HUGEINT) * ({mprod}))
                  // (CAST({_EM_L0} AS HUGEINT) * ({mprod})
                      + CAST({1_000_000 - _EM_L0} AS HUGEINT) * ({uprod}))
                  AS BIGINT) AS w_ppm
      FROM pat, u),
m AS (SELECT {msel}),
l AS (SELECT CAST(sum(w_ppm * n) // sum(n) AS BIGINT) AS l1 FROM e)
SELECT field,
       CAST({_EM_M0} AS BIGINT) AS m0_ppm,
       CAST(CASE field {m1_case} END AS BIGINT) AS m1_ppm,
       CAST(CASE field {u_case} END AS BIGINT) AS u_ppm,
       l.l1 AS lambda1_ppm
FROM ({rows}) f, m, u, l
"""


@query("em_linkage_weights", _em_linkage_oracle())
def q_em_linkage_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Splink-style EM parameter estimation for probabilistic record
    linkage — the UNSUPERVISED upgrade of record_linkage_scores' fixed
    m = 0.9: over the same blocked pair space, one exact E-step scores
    each of the 2³ comparison patterns with the posterior match
    probability (integer ppm, HUGEINT products of per-field m/u terms)
    and one M-step re-estimates every field's m and the match prevalence
    λ from the pattern-weighted counts. The DISTRIBUTED work is the
    blocked pair join + 8-row pattern census; EM runs exactly on that
    bounded table. Output: per field (m0, m1, u, λ₁) in ppm."""
    p = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("pk"),
        F.col("p_brand").alias("brand"),
        F.col("p_size").alias("sz"),
        F.col("p_type").alias("ty"),
        F.expr("CAST(round(p_retailprice * 100) AS BIGINT) div 10000").alias("pb"),
        F.expr("CAST(round(p_retailprice * 10) AS BIGINT)").alias("pd"),
        F.element_at(F.split("p_name", " "), 1).alias("tok0"),
    ).localCheckpoint(eager=True)
    n_rows = int(p.count())
    u_den = n_rows * (n_rows - 1)
    u_ppm: dict[str, int] = {}
    for f in _FS_FIELDS:
        u_num = (
            p.groupBy(f)
            .agg(F.count("*").alias("c"))
            .agg(F.sum(F.col("c") * (F.col("c") - 1)).cast("long").alias("u"))
            .first()["u"]
        )
        u_ppm[f] = (1_000_000 * (int(u_num) + 1)) // (u_den + 1)
    wmod = max(1, (n_rows + 19_999) // 20_000)
    pw = p.withColumn("pbw", F.col("pd") % wmod)
    a, b = pw.alias("a"), pw.alias("b")
    pat = (
        a.join(
            b,
            (F.col("a.brand") == F.col("b.brand"))
            & (F.col("a.sz") == F.col("b.sz"))
            & (F.col("a.pbw") == F.col("b.pbw"))
            & (F.col("a.pk") < F.col("b.pk")),
        )
        .select(
            *[
                F.when(F.col(f"a.{f}") == F.col(f"b.{f}"), 1)
                .otherwise(0)
                .alias(f"g_{f}")
                for f in _FS_FIELDS
            ]
        )
        .groupBy(*[f"g_{f}" for f in _FS_FIELDS])
        .agg(F.count("*").cast("long").alias("n"))
        .collect()  # ≤ 2^3 rows — bounded pattern census
    )
    lam = _EM_L0
    num_w = den_w = 0
    m_num = {f: 0 for f in _FS_FIELDS}
    for r in pat:
        mp = up = 1
        for f in _FS_FIELDS:
            g = r[f"g_{f}"]
            mp *= _EM_M0 if g == 1 else 1_000_000 - _EM_M0
            up *= u_ppm[f] if g == 1 else 1_000_000 - u_ppm[f]
        w = (1_000_000 * lam * mp) // (lam * mp + (1_000_000 - lam) * up)
        num_w += w * r["n"]
        den_w += r["n"]
        for f in _FS_FIELDS:
            if r[f"g_{f}"] == 1:
                m_num[f] += w * r["n"]
    lam1 = num_w // den_w if den_w else 0
    rows = [
        (
            f,
            _EM_M0,
            (1_000_000 * m_num[f]) // num_w if num_w else 0,
            u_ppm[f],
            lam1,
        )
        for f in _FS_FIELDS
    ]
    return spark.createDataFrame(
        rows, "field string, m0_ppm long, m1_ppm long, u_ppm long, lambda1_ppm long"
    )


_BJ_M = 1 << 20  # bloom bits (1 Mbit = 128 KiB bitmap broadcast)
_BJ_K = 3  # hash functions = three disjoint 20-bit slices of ONE h15
_BJ_T = 480000  # build-side price threshold (~4% of orders)


def _bj_slices_sql(key_expr: str) -> list:
    from videos_to_tfrecords_spark.functions.hashing import h15_sql

    h = h15_sql(f"CAST({key_expr} AS VARCHAR)", salt="bj")
    return [f"(({h} >> {20 * j}) & {_BJ_M - 1})" for j in range(_BJ_K)]


def _bloom_join_oracle() -> str:
    build = " UNION ALL ".join(
        f"SELECT {sl} AS b FROM sel" for sl in _bj_slices_sql("o_orderkey")
    )
    hcols = ", ".join(
        f"{sl} AS b{j}" for j, sl in enumerate(_bj_slices_sql("l_orderkey"))
    )
    passcond = " AND ".join(f"s{j}.b IS NOT NULL" for j in range(_BJ_K))
    joins = " ".join(
        f"LEFT JOIN bset s{j} ON s{j}.b = h.b{j}" for j in range(_BJ_K)
    )
    return f"""
WITH sel AS (SELECT o_orderkey FROM orders WHERE o_totalprice > {_BJ_T}),
bset AS (SELECT DISTINCT b FROM ({build})),
h AS (SELECT l_orderkey, {hcols} FROM lineitem),
p AS (SELECT h.l_orderkey, ({passcond}) AS pass FROM h {joins}),
agg AS (SELECT CAST(count(*) AS BIGINT) AS n_fact,
               CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
        FROM p),
m AS (SELECT CAST(count(*) AS BIGINT) AS n_match FROM lineitem l
      WHERE EXISTS (SELECT 1 FROM sel s WHERE s.o_orderkey = l.l_orderkey))
SELECT n_fact, n_pass, n_match,
       CAST(n_pass - n_match AS BIGINT) AS n_false_pass,
       CAST((1000000 * (n_fact - n_pass)) // n_fact AS BIGINT)
         AS prefilter_reduction_ppm,
       CAST((1000000 * (n_pass - n_match)) // (n_fact - n_match) AS BIGINT)
         AS fp_rate_ppm
FROM agg, m
"""


@query("bloom_prefilter_join_census", _bloom_join_oracle())
def q_bloom_prefilter_join_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bloom-prefiltered semi-join — THE classic 100 TB shuffle-reduction
    pattern, end-to-end and measured: build a portable Bloom filter over
    the selective build side (orders above a price threshold, ~4%), with
    k={_BJ_K} probe positions taken as three DISJOINT 20-bit slices of
    ONE h15 hash (one md5 per row instead of three — the standard
    composed-hash construction), collect it as a 128 KiB BITMAP LITERAL
    (bounded metadata — the same class as the audited ≤k-centroid
    collects), prefilter the fact table with a pure-JVM bitmap probe
    (element_at + shiftleft — codegen, NO shuffle and NO Python on the
    fact side), and exact-verify survivors against the real key set in
    the SAME single pass (the build side is dim-sized, so the verify
    join broadcasts). The census binds the whole contract: the oracle
    computes n_match DIRECTLY on the unfiltered fact table, so one bloom
    false-negative = a red row; n_false_pass / fp_rate_ppm measure the
    filter's actual selectivity loss the way an engineer sizes m before
    shipping (next to bloom_filter_fpr's pure FPR probe; Spark's own
    runtime bloom join is plan-asserted in test_mining)."""
    from videos_to_tfrecords_spark.functions.hashing import h15

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    sel = orders.filter(F.col("o_totalprice") > _BJ_T).select("o_orderkey")

    def slices(col):
        h = h15(F.col(col).cast("string"), salt="bj")
        return [
            F.shiftrightunsigned(h, 20 * j)
            .bitwiseAND(_BJ_M - 1)
            .alias(f"h{j}")
            for j in range(_BJ_K)
        ]

    buckets = [
        r["b"]
        for r in sel.select(
            F.explode(F.array(*slices("o_orderkey"))).alias("b")
        )
        .distinct()
        .collect()  # bounded: <= m distinct bucket ids (metadata-scale)
    ]
    words = [0] * (_BJ_M // 64)
    for b in buckets:
        words[b >> 6] |= 1 << (b & 63)
    # signed 64-bit so the array literal fits LongType; shipped as ONE SQL
    # array-literal string (a 16384-element F.lit(list) crosses Py4J one
    # element at a time — measured 7 s of pure driver overhead; the parsed
    # SQL text is a single transfer and builds the same Literal)
    words = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
    bm = F.expr("array(" + ",".join(f"{w}L" for w in words) + ")")
    probe = li.select("l_orderkey", *slices("l_orderkey")).withColumn(
        "_bm", bm
    )
    member = " AND ".join(
        f"(element_at(_bm, CAST(shiftright(h{j}, 6) + 1 AS INT))"
        f" & shiftleft(CAST(1 AS BIGINT), CAST(h{j} & 63 AS INT))) != 0"
        for j in range(_BJ_K)
    )
    # ONE pass over the fact table: bloom verdict as a column, true
    # membership from a broadcast left join against the dim-sized key set
    flagged = (
        probe.withColumn("_pass", F.expr(member))
        .join(
            F.broadcast(sel.withColumn("_hit", F.lit(1))),
            probe.l_orderkey == sel.o_orderkey,
            "left",
        )
        .agg(
            F.count("*").cast("long").alias("n_fact"),
            F.sum(F.when(F.col("_pass"), 1).otherwise(0))
            .cast("long")
            .alias("n_pass"),
            F.sum(F.when(F.col("_hit").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_match"),
        )
    )
    return flagged.select(
        "n_fact",
        "n_pass",
        "n_match",
        (F.col("n_pass") - F.col("n_match")).cast("long").alias("n_false_pass"),
        F.expr(
            "CAST((1000000 * (n_fact - n_pass)) div n_fact AS BIGINT)"
        ).alias("prefilter_reduction_ppm"),
        F.expr(
            "CAST((1000000 * (n_pass - n_match)) div (n_fact - n_match)"
            " AS BIGINT)"
        ).alias("fp_rate_ppm"),
    )
