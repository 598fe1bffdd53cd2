"""Advanced relational + OLAP-pattern queries: as-of join, sessionization,
skew-safe salted aggregation, exact percentiles, lead/lag deltas, scalar
subqueries, string/date function surfaces, cube, and the SQL front-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from videos_to_tfrecords_spark.materialize import materialized
from videos_to_tfrecords_spark.operators.relational import asof_join, salted_sum, sessionize
from videos_to_tfrecords_spark.plans.registry import query
from videos_to_tfrecords_spark.sources.tables import load_table, register_views


@query(
    "asof_last_purchase",
    """
WITH e AS (SELECT event_id, user_id, event_type, (epoch_ns(ts)//1000) AS ts_us FROM events),
p AS (SELECT user_id, ts_us, max(event_id) AS purchase_id
      FROM e WHERE event_type = 'purchase' GROUP BY user_id, ts_us),
c AS (SELECT * FROM e WHERE event_type = 'click')
SELECT c.event_id, c.user_id,
       p.purchase_id AS asof_purchase_id,
       c.ts_us - p.ts_us AS gap_us
FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts_us >= p.ts_us
""",
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (no native Spark operator): each click paired with the
    user's latest prior-or-same-time purchase. Implemented as tag + union +
    one carry-forward window pass — a single shuffle, no range explosion;
    the oracle is DuckDB's native ASOF JOIN."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts_us")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts_us")
        .agg(F.max("event_id").alias("purchase_id"))
    )
    joined = asof_join(
        clicks,
        purchases,
        key_cols=["user_id"],
        left_ts="ts_us",
        right_ts="ts_us",
        right_value_cols=["purchase_id"],
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("asof_purchase_id"),
        (F.col("ts_us") - F.col("asof_ts")).alias("gap_us"),
    )


@query(
    "user_sessions",
    """
WITH e AS (SELECT event_id, user_id, (epoch_ns(ts)//1000) AS ts_us FROM events),
s AS (SELECT user_id, ts_us, event_id,
             CASE WHEN lag(ts_us) OVER w IS NULL
                       OR ts_us - lag(ts_us) OVER w > 7200000000 THEN 1 ELSE 0 END AS is_new
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
x AS (SELECT user_id, ts_us, event_id,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS session_seq
      FROM s)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       CAST(min(ts_us) AS BIGINT) AS session_start_us,
       CAST(count(*) AS BIGINT) AS n_events
FROM x GROUP BY user_id, session_seq
""",
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (gap > 2 h ⇒ new session): lag + running-sum sharing
    one window sort, then a per-session rollup."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us")
    )
    sessions = sessionize(
        ev, key_col="user_id", ts_col="ts_us", gap=7_200_000_000, order_tiebreak=["event_id"]
    )
    return sessions.groupBy("user_id", "session_seq").agg(
        F.min("ts_us").alias("session_start_us"),
        F.count("*").alias("n_events"),
    )


@query(
    "salted_revenue_by_supplier",
    """
SELECT l_suppkey,
       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem GROUP BY l_suppkey
""",
)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted aggregation: pre-aggregate on (key, salt) then
    combine partials. Identical result to the plain groupBy (the oracle IS
    the plain groupBy) — the point is the shuffle shape under a hot key."""
    li = load_table(spark, sf_dir, "lineitem")
    return salted_sum(
        li,
        key_cols=["l_suppkey"],
        value_col=F.round(F.col("l_extendedprice") * 100).cast("long"),
        alias="revenue_cents",
        n_salt=8,
    )


@query(
    "quantity_percentiles",
    """
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.25) AS p25,
       quantile_cont(l_quantity, 0.5) AS p50,
       quantile_cont(l_extendedprice, 0.9) AS p90_price
FROM lineitem GROUP BY l_returnflag
""",
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation — verified bit-identical to
    DuckDB's quantile_cont). The approximate twin for 100 TB is
    percentile_approx / approx sketches (see approx_distinct_parts)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", 0.25).alias("p25"),
        F.percentile("l_quantity", 0.5).alias("p50"),
        F.percentile("l_extendedprice", 0.9).alias("p90_price"),
    )


@query(
    "shipment_gaps",
    """
WITH r AS (
  SELECT l_suppkey, l_orderkey, l_linenumber,
         epoch(l_shipdate) - lag(epoch(l_shipdate)) OVER
           (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber) AS gap_s
  FROM lineitem
)
SELECT l_suppkey, l_orderkey, l_linenumber, CAST(gap_s AS BIGINT) AS gap_s
FROM r WHERE l_orderkey % 25 = 0
""",
)
def q_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() analytics: seconds between a supplier's consecutive shipments
    (total tie-broken order), output subsampled."""
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_suppkey").orderBy("l_shipdate", "l_orderkey", "l_linenumber")
    ep = F.unix_timestamp("l_shipdate")
    return (
        li.withColumn("gap_s", (ep - F.lag(ep).over(w)).cast("long"))
        .filter(F.col("l_orderkey") % 25 == 0)
        .select("l_suppkey", "l_orderkey", "l_linenumber", "gap_s")
    )


@query(
    "above_nation_average",
    """
WITH n AS (SELECT c_nationkey,
                  CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS BIGINT) AS sum_cents,
                  CAST(count(*) AS BIGINT) AS n
           FROM customer GROUP BY c_nationkey)
SELECT c.c_custkey, c.c_name
FROM customer c JOIN n ON c.c_nationkey = n.c_nationkey
WHERE CAST(round(c.c_acctbal*100) AS BIGINT) * n.n > n.sum_cents
""",
)
def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated 'above my group's average' predicate, with the float
    average avoided entirely: acctbal·n > Σ acctbal compares exact integers
    (cross-multiplication — deterministic in every engine)."""
    cust = load_table(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    nation_stats = cust.groupBy("c_nationkey").agg(
        F.sum(cents).alias("sum_cents"), F.count("*").alias("n")
    )
    return (
        cust.join(F.broadcast(nation_stats), "c_nationkey")
        .filter(cents * F.col("n") > F.col("sum_cents"))
        .select("c_custkey", "c_name")
    )


@query(
    "string_functions",
    """
SELECT c_custkey,
       upper(c_name) AS up,
       lower(c_mktsegment) AS lo,
       substr(c_name, 1, 8) AS pre,
       CAST(length(c_name) AS BIGINT) AS name_len,
       concat(c_mktsegment, '#', CAST(c_custkey AS VARCHAR)) AS tagged,
       replace(c_name, '0', 'O') AS repl,
       reverse(c_name) AS rev,
       lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded,
       trim(concat(' ', c_name, ' ')) AS trimmed
FROM customer
""",
)
def q_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scalar string surface (SURVEY §2.2 lists the reference's tiny
    string usage; the engine exposes the full built-in set)."""
    c = load_table(spark, sf_dir, "customer")
    key_str = F.col("c_custkey").cast("string")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("up"),
        F.lower("c_mktsegment").alias("lo"),
        F.substring("c_name", 1, 8).alias("pre"),
        F.length("c_name").cast("long").alias("name_len"),
        F.concat("c_mktsegment", F.lit("#"), key_str).alias("tagged"),
        F.replace(F.col("c_name"), F.lit("0"), F.lit("O")).alias("repl"),
        F.reverse("c_name").alias("rev"),
        F.lpad(key_str, 8, "0").alias("padded"),
        F.trim(F.concat(F.lit(" "), F.col("c_name"), F.lit(" "))).alias("trimmed"),
    )


@query(
    "date_functions",
    """
SELECT o_orderkey,
       CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
       CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS mo,
       CAST(EXTRACT(dow FROM o_orderdate) AS BIGINT) AS dow,
       CAST(epoch(date_trunc('month', o_orderdate)) AS BIGINT) AS month_start_s,
       CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT) AS days_since
FROM orders WHERE o_orderkey % 20 = 0
""",
)
def q_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/interval surface (absent in the reference — SURVEY §2.2 notes
    no date math at all). dow convention aligned: Spark dayofweek is 1=Sun,
    DuckDB dow is 0=Sun → subtract 1."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 20 == 0)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("yr"),
        F.month("o_orderdate").cast("long").alias("mo"),
        (F.dayofweek("o_orderdate") - 1).cast("long").alias("dow"),
        F.unix_timestamp(F.date_trunc("month", "o_orderdate")).alias("month_start_s"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01")).cast("long").alias("days_since"),
    )


@query(
    "cube_quantity",
    """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
""",
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (all 4 combinations incl. grand total)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        F.count("*").alias("n"),
    )


_Q5ISH = """
SELECT n_name,
       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
                * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_c4,
       CAST(count(*) AS BIGINT) AS n_items
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""


@query("sql_frontend_q5", _Q5ISH)
def q_sql_frontend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL front-end the reference lacks (SURVEY §2.7): the same ANSI
    text runs on Spark (via temp views) and on DuckDB — Catalyst plans the
    5-way join with the dims broadcast, identically to the DataFrame API."""
    register_views(spark, sf_dir)
    return spark.sql(_Q5ISH)


@query(
    "sql_pipe_frontend",
    """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM lineitem
WHERE l_shipdate >= DATE '1995-01-01'
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def q_sql_pipe_frontend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's SQL PIPE syntax (|>, the new linear query dialect from
    the SQL-pipes proposal — public): the same pricing rollup written as
    a scan |> WHERE |> AGGREGATE ... GROUP BY |> ORDER BY chain. Catalyst
    parses it to the identical plan as the nested-SELECT oracle text, so
    this hash-check pins the new front-end's semantics against classic
    ANSI."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
FROM lineitem
|> WHERE l_shipdate >= DATE '1995-01-01'
|> AGGREGATE count(*) AS n_items,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
   GROUP BY l_returnflag
|> SELECT l_returnflag, n_items, sum_qty, revenue_cents
|> ORDER BY l_returnflag
"""
    )


@query(
    "array_functions",
    """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n,
       list_sort(toks)[1] AS first_sorted,
       list_sort(toks)[-1] AS last_sorted,
       array_to_string(toks[1:3], '|') AS head3,
       CAST(list_contains(toks, 'the') AS BOOLEAN) AS has_the,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct
FROM t
""",
)
def q_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array function surface: sort, slice, contains, distinct — all
    codegen'd JVM expressions over the tokenized text."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n"),
        F.array_sort(toks)[0].alias("first_sorted"),
        F.element_at(F.array_sort(toks), -1).alias("last_sorted"),
        F.concat_ws("|", F.slice(toks, 1, 3)).alias("head3"),
        F.array_contains(toks, "the").alias("has_the"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
    )


@query(
    "regexp_functions",
    r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[a-z]+a[a-z]*')) AS BIGINT) AS words_with_a,
       regexp_extract(text, '([a-z]+) ([a-z]+)', 2) AS second_word,
       regexp_replace(text[1:40], '[aeiou]', '_', 'g') AS devoweled_head
FROM documents
""",
)
def q_regexp_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp surface (extract/extract-all-count/replace) — patterns kept to
    the POSIX-compatible core so both engines' regex dialects agree."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_count("text", F.lit("[a-z]+a[a-z]*")).cast("long").alias("words_with_a"),
        F.regexp_extract("text", "([a-z]+) ([a-z]+)", 2).alias("second_word"),
        F.regexp_replace(F.substring("text", 1, 40), "[aeiou]", "_").alias("devoweled_head"),
    )


@query(
    "conditional_functions",
    """
SELECT o_orderkey,
       coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_label,
       greatest(CAST(round(o_totalprice*100) AS BIGINT), 10000000) AS floored_cents,
       least(CAST(round(o_totalprice*100) AS BIGINT), 30000000) AS capped_cents,
       CASE WHEN o_totalprice > 200000 THEN 'big'
            WHEN o_totalprice > 100000 THEN 'mid' ELSE 'small' END AS bucket
FROM orders WHERE o_orderkey % 10 = 0
""",
)
def q_conditional_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional/null surface: coalesce, nullif, greatest/least, CASE."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 == 0)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return o.select(
        "o_orderkey",
        F.coalesce(F.nullif("o_orderstatus", F.lit("O")), F.lit("OPEN")).alias("status_label"),
        F.greatest(cents, F.lit(10_000_000)).alias("floored_cents"),
        F.least(cents, F.lit(30_000_000)).alias("capped_cents"),
        F.when(F.col("o_totalprice") > 200_000, "big")
        .when(F.col("o_totalprice") > 100_000, "mid")
        .otherwise("small")
        .alias("bucket"),
    )


@query(
    "bag_set_ops",
    """
SELECT 'intersect_all' AS op, CAST(count(*) AS BIGINT) AS n FROM
  (SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'A'
   INTERSECT ALL SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R')
UNION ALL
SELECT 'except_all' AS op, CAST(count(*) AS BIGINT) AS n FROM
  (SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'A'
   EXCEPT ALL SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R')
""",
)
def q_bag_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag (multiset) set operations — INTERSECT ALL / EXCEPT ALL preserve
    multiplicities, unlike the set-semantics variants in order_status_set_ops."""
    li = load_table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "A").select("l_suppkey")
    r = li.filter(F.col("l_returnflag") == "R").select("l_suppkey")

    def count_as(df: DataFrame, op: str) -> DataFrame:
        return df.agg(F.count("*").alias("n")).select(F.lit(op).alias("op"), "n")

    return count_as(a.intersectAll(r), "intersect_all").unionByName(
        count_as(a.exceptAll(r), "except_all")
    )


@query(
    "session_window_native",
    """
WITH e AS (SELECT event_id, user_id, (epoch_ns(ts)//1000) AS ts_us FROM events),
s AS (SELECT user_id, ts_us, event_id,
             CASE WHEN lag(ts_us) OVER w IS NULL
                       OR ts_us - lag(ts_us) OVER w > 7200000000 THEN 1 ELSE 0 END AS is_new
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
x AS (SELECT user_id, ts_us,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM s)
SELECT user_id,
       CAST(min(ts_us) AS BIGINT) AS session_start_us,
       CAST(max(ts_us) + 7200000000 AS BIGINT) AS session_end_us,
       CAST(count(*) AS BIGINT) AS n_events
FROM x GROUP BY user_id, sid
""",
)
def q_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE session_window (gap-merged event-time sessions, usable
    in batch too): window = [first_event, last_event + gap). The oracle
    derives the same sessions from the lag/cumsum formulation — two
    independent definitions agreeing is the point."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "2 hours").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("w.start").alias("session_start_us"),
            F.unix_micros("w.end").alias("session_end_us"),
            "n_events",
        )
    )


@query(
    "salted_join_revenue",
    """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""",
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted JOIN: small side replicated n_salt×, big side's hot
    keys spread across salts. Result-identical to the plain join (which is
    the oracle) — the manual defense when a join key is pathologically hot
    and the small side can't broadcast whole."""
    from videos_to_tfrecords_spark.operators.relational import salted_join

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").withColumnRenamed(
        "o_orderkey", "l_orderkey"
    )
    joined = salted_join(li, orders, ["l_orderkey"], n_salt=8)
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_items"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("revenue_cents"),
    )


@query(
    "merge_upsert_orders",
    """
WITH updates AS (
  SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus,
         o_totalprice + 1.0 AS o_totalprice, o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 7 = 0
),
merged AS (
  SELECT * FROM updates
  UNION ALL
  SELECT * FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
)
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS total_cents
FROM merged GROUP BY o_orderstatus
""",
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO emulation (CDC/upsert): synthesized updates (status 'X',
    +1.00 price for every 7th order) win over the target; unmatched rows
    survive. anti-join + unionByName — the lakehouse-free upsert plan."""
    from videos_to_tfrecords_spark.operators.relational import merge_upsert

    orders = load_table(spark, sf_dir, "orders")
    updates = (
        orders.filter(F.col("o_orderkey") % 7 == 0)
        .withColumn("o_orderstatus", F.lit("X"))
        .withColumn("o_totalprice", F.col("o_totalprice") + 1.0)
    )
    merged = merge_upsert(orders, updates, ["o_orderkey"])
    return merged.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("total_cents"),
    )


@query(
    "price_quartiles_ntile",
    """
SELECT q,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(round(o_totalprice*100)) AS BIGINT) AS min_cents,
       CAST(max(round(o_totalprice*100)) AS BIGINT) AS max_cents
FROM (SELECT o_totalprice,
             CAST(ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS q
      FROM orders)
GROUP BY q
""",
)
def q_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile bucketing via an exact DISTRIBUTED ntile over the total
    (o_totalprice, o_orderkey) order — range-partition + partitioned rank
    + bounded offset table (`operators.ordered.global_ntile`), never a
    single-partition window over the fact table. Bit-identical to SQL
    ntile(4) at any scale."""
    from videos_to_tfrecords_spark.operators.ordered import global_ntile

    orders = load_table(spark, sf_dir, "orders")
    bucketed = global_ntile(
        orders.select("o_orderkey", "o_totalprice"),
        [F.col("o_totalprice"), F.col("o_orderkey")],
        4,
        "q",
    )
    return (
        bucketed.groupBy("q")
        .agg(
            F.count("*").alias("n"),
            F.min(F.round(F.col("o_totalprice") * 100)).cast("long").alias("min_cents"),
            F.max(F.round(F.col("o_totalprice") * 100)).cast("long").alias("max_cents"),
        )
    )


@query(
    "vocab_token_ids",
    """
WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
freq AS (SELECT token, CAST(count(*) AS BIGINT) AS freq FROM tok GROUP BY token)
SELECT token, freq,
       CAST(row_number() OVER (ORDER BY freq DESC, token) AS BIGINT) AS token_id
FROM freq
""",
)
def q_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-prep vocabulary: global token frequencies → contiguous ids
    by (freq desc, token). The distributed agg shrinks the corpus to the
    vocab first, but the vocabulary itself still grows with the corpus
    (Heaps' law), so the dense ids come from the DISTRIBUTED global rank
    (`operators.ordered.global_row_number`: range-partition + partitioned
    row_number + bounded offsets) — no single-partition sort of the vocab
    at any corpus scale."""
    from videos_to_tfrecords_spark.operators.ordered import global_row_number

    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
    )
    return global_row_number(
        freq, [F.desc("freq"), F.asc("token")], "token_id"
    ).select("token", "freq", "token_id")


@query(
    "outer_join_profile",
    """
WITH j AS (
  SELECT c.c_custkey, o.o_orderkey
  FROM customer c FULL OUTER JOIN orders o ON c.c_custkey = o.o_custkey
)
SELECT CAST(count(*) FILTER (WHERE c_custkey IS NOT NULL AND o_orderkey IS NOT NULL) AS BIGINT)
         AS n_matched,
       CAST(count(*) FILTER (WHERE o_orderkey IS NULL) AS BIGINT) AS n_customer_only,
       CAST(count(*) FILTER (WHERE c_custkey IS NULL) AS BIGINT) AS n_order_only
FROM j
""",
)
def q_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join with null-side profiling — the join flavor matrix's
    last cell (inner/semi/anti/left covered elsewhere)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    j = cust.join(orders, cust.c_custkey == orders.o_custkey, "full_outer")
    return j.agg(
        F.count(
            F.when(F.col("c_custkey").isNotNull() & F.col("o_orderkey").isNotNull(), 1)
        ).alias("n_matched"),
        F.count(F.when(F.col("o_orderkey").isNull(), 1)).alias("n_customer_only"),
        F.count(F.when(F.col("c_custkey").isNull(), 1)).alias("n_order_only"),
    )


# 2024-01-01T00:00:00Z in epoch µs; 10 synthetic 2-day "campaign" windows
# every 3 days across the events span (Jan 2024)
_CAMPAIGN_T0_US = 1_704_067_200_000_000
_CAMPAIGN_STEP_US = 259_200_000_000  # 3 days
_CAMPAIGN_LEN_US = 172_800_000_000  # 2 days


@query(
    "interval_range_join",
    f"""
WITH c AS (SELECT i AS campaign_id,
                  {_CAMPAIGN_T0_US} + i * {_CAMPAIGN_STEP_US} AS s_us,
                  {_CAMPAIGN_T0_US} + i * {_CAMPAIGN_STEP_US} + {_CAMPAIGN_LEN_US} AS e_us
           FROM range(0, 10) t(i)),
x AS (SELECT (epoch_ns(ts) // 1000) AS ts_us,
             CAST(round(value * 100) AS BIGINT) AS cents FROM events)
SELECT campaign_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM c JOIN x ON x.ts_us >= c.s_us AND x.ts_us < c.e_us
GROUP BY campaign_id
""",
)
def q_interval_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval RANGE JOIN (§2.7 join variant): events falling in
    overlapping-capable campaign windows. The oracle states the naive
    inequality join; the engine runs operators/rangejoin.interval_join —
    intervals explode to span-covering buckets, points bucket once,
    EQUI-join on the bucket + exact residual. Shuffle ∝ points +
    intervals·(span/width); no cross product at any scale."""
    from videos_to_tfrecords_spark.operators.rangejoin import interval_join

    ev = load_table(spark, sf_dir, "events")
    campaigns = spark.range(10).select(
        F.col("id").alias("campaign_id"),
        (F.lit(_CAMPAIGN_T0_US) + F.col("id") * _CAMPAIGN_STEP_US).alias("s_us"),
        (
            F.lit(_CAMPAIGN_T0_US)
            + F.col("id") * _CAMPAIGN_STEP_US
            + _CAMPAIGN_LEN_US
        ).alias("e_us"),
    )
    pts = ev.select(
        F.unix_micros("ts").alias("ts_us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    joined = interval_join(
        pts, campaigns, "ts_us", "s_us", "e_us", bucket_width=_CAMPAIGN_LEN_US
    )
    return joined.groupBy("campaign_id").agg(
        F.count("*").alias("n_events"), F.sum("cents").alias("sum_cents")
    )


@query(
    "overlap_shipping_windows",
    """
WITH iv AS (
  SELECT l_suppkey AS suppkey, l_orderkey AS ok, l_linenumber AS ln,
         CAST(epoch(l_shipdate) // 86400 AS BIGINT) AS s,
         CAST(epoch(l_shipdate) // 86400 + 1 + l_linenumber AS BIGINT) AS e
  FROM lineitem)
SELECT a.suppkey AS suppkey,
       CAST(count(*) AS BIGINT) AS n_overlap_pairs,
       CAST(sum(least(a.e, b.e) - greatest(a.s, b.s)) AS BIGINT) AS sum_overlap_days
FROM iv a JOIN iv b
  ON a.suppkey = b.suppkey AND a.s < b.e AND b.s < a.e
 AND (a.ok < b.ok OR (a.ok = b.ok AND a.ln < b.ln))
GROUP BY a.suppkey
""",
)
def q_overlap_shipping_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval OVERLAP join (the second range-join variant):
    per-lineitem shipping windows [shipdate, shipdate + 1 + linenumber
    days) paired within a supplier when they overlap, aggregated to
    overlap pair counts and total overlap days. The oracle is the naive
    inequality self-join; the engine runs
    operators/rangejoin.interval_overlap_join — both sides explode to
    16-day buckets, EQUI-join on (suppkey, bucket), exact residual, and
    each pair is kept only in the bucket containing max(starts), so the
    output is exactly-once with no dedup shuffle."""
    from videos_to_tfrecords_spark.operators.rangejoin import (
        interval_overlap_join,
    )

    li = load_table(spark, sf_dir, "lineitem")
    iv = li.select(
        F.col("l_suppkey").alias("suppkey"),
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
        F.expr("unix_timestamp(l_shipdate) div 86400").alias("s"),
        (
            F.expr("unix_timestamp(l_shipdate) div 86400")
            + 1
            + F.col("l_linenumber")
        ).alias("e"),
    )
    a = iv.select(
        "suppkey",
        F.col("ok").alias("a_ok"),
        F.col("ln").alias("a_ln"),
        F.col("s").alias("a_s"),
        F.col("e").alias("a_e"),
    )
    b = iv.select(
        "suppkey",
        F.col("ok").alias("b_ok"),
        F.col("ln").alias("b_ln"),
        F.col("s").alias("b_s"),
        F.col("e").alias("b_e"),
    )
    pairs = interval_overlap_join(
        a, b, "a_s", "a_e", "b_s", "b_e", bucket_width=16, extra_keys=("suppkey",)
    ).filter(
        (F.col("a_ok") < F.col("b_ok"))
        | ((F.col("a_ok") == F.col("b_ok")) & (F.col("a_ln") < F.col("b_ln")))
    )
    return pairs.groupBy("suppkey").agg(
        F.count("*").alias("n_overlap_pairs"),
        F.sum(
            F.least("a_e", "b_e") - F.greatest("a_s", "b_s")
        ).alias("sum_overlap_days"),
    )


@query(
    "event_funnel",
    """
WITH x AS (SELECT user_id, event_type, (epoch_ns(ts) // 1000) AS ts_us FROM events),
v AS (SELECT user_id, min(ts_us) AS t1 FROM x WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT x.user_id, min(x.ts_us) AS t2 FROM x JOIN v USING (user_id)
      WHERE x.event_type = 'click' AND x.ts_us > v.t1 GROUP BY x.user_id),
p AS (SELECT x.user_id, min(x.ts_us) AS t3 FROM x JOIN c USING (user_id)
      WHERE x.event_type = 'purchase' AND x.ts_us > c.t2 GROUP BY x.user_id)
SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS n_view,
       CAST((SELECT count(*) FROM c) AS BIGINT) AS n_click_after_view,
       CAST((SELECT count(*) FROM p) AS BIGINT) AS n_purchase_after_click
""",
)
def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view → click → purchase, strictly
    increasing event times per user) — the product-analytics sequence-match
    operator, as a SINGLE-PASS conditional aggregation: one events scan,
    one shuffle on user_id, the stage chain resolved per-user with
    higher-order array functions (t2 = min click after t1, t3 = min
    purchase after t2), then a global count. The earlier 3-stage
    join-per-stage formulation scanned events once per stage and consumed
    each stage's output twice (count + next join) — 3 scans / 6 shuffles
    vs 1 scan / 2 shuffles here, and measured 0.9 s vs 0.5 s at sf0.1.
    Per-user state is the click/purchase timestamp arrays (bounded by
    events-per-user, the same bound every sessionization op carries)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts_us"))).alias("t1"),
        F.collect_list(
            F.when(F.col("event_type") == "click", F.col("ts_us"))
        ).alias("clicks"),
        F.collect_list(
            F.when(F.col("event_type") == "purchase", F.col("ts_us"))
        ).alias("purchases"),
    )
    staged = per_user.select(
        "t1",
        F.array_min(F.expr("filter(clicks, x -> x > t1)")).alias("t2"),
        "purchases",
    ).select("t1", "t2", F.array_min(F.expr("filter(purchases, x -> x > t2)")).alias("t3"))
    return staged.agg(
        F.count("t1").alias("n_view"),
        F.count("t2").alias("n_click_after_view"),
        F.count("t3").alias("n_purchase_after_click"),
    )


def _zorder_oracle() -> str:
    from videos_to_tfrecords_spark.functions.zorder import z_value_sql

    return f"""
SELECT l_orderkey, l_linenumber,
       {z_value_sql("l_partkey", "l_suppkey")} AS zval
FROM lineitem WHERE l_orderkey % 50 = 0
"""


@query("zorder_values", _zorder_oracle())
def q_zorder_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) curve values over (partkey, suppkey) — the layout
    key for multi-dimensional clustering: sort-write by zval and parquet
    row-group min/max stats prune range predicates on EITHER dimension
    (Delta's OPTIMIZE ZORDER BY, as a plain Catalyst expression here;
    functions/zorder.py). Pure shift/mask integer arithmetic inside
    whole-stage codegen, hash-checked against the unrolled SQL twin."""
    from videos_to_tfrecords_spark.functions.zorder import z_value

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 50 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        z_value("l_partkey", "l_suppkey").alias("zval"),
    )


@query("hll_sketch_union_distinct")
def q_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches (Apache DataSketches HLL via
    Spark 3.5 hll_sketch_agg/hll_union_agg): per-returnflag sketches built
    in one partial-aggregated pass, then UNIONED — re-aggregation without
    re-scanning, the property that makes approximate distinct usable in a
    100 TB rollup/cube. No SQL oracle (sketch bytes are engine-specific;
    DuckDB's HLL differs) — rows-only here; the ±2% accuracy vs exact and
    the union==direct consistency are pytest-asserted."""
    li = load_table(spark, sf_dir, "lineitem")
    per_flag = li.groupBy("l_returnflag").agg(
        F.hll_sketch_agg("l_partkey").alias("sk"),
        F.count("*").alias("n_rows"),
    )
    return (
        per_flag.agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_distinct_parts"),
            F.sum("n_rows").alias("n_rows"),
        )
    )


@query(
    "user_sessions_udtf",
    """
WITH e AS (SELECT event_id, user_id, (epoch_ns(ts)//1000) AS ts_us FROM events),
s AS (SELECT user_id, ts_us, event_id,
             CASE WHEN lag(ts_us) OVER w IS NULL
                       OR ts_us - lag(ts_us) OVER w > 7200000000 THEN 1 ELSE 0 END AS is_new
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
x AS (SELECT user_id, ts_us, event_id,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS session_seq
      FROM s)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       CAST(min(ts_us) AS BIGINT) AS session_start_us,
       CAST(count(*) AS BIGINT) AS n_events
FROM x GROUP BY user_id, session_seq
""",
)
def q_sessionize_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via a PARTITION BY / ORDER BY Python UDTF (§7
    extension): per-key ordered streaming through a UDTF instance — the
    mount point for arbitrary per-entity sequential logic. Same semantics
    (and oracle) as user_sessions."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us")
    )
    from videos_to_tfrecords_spark.operators.relational import (
        sessionize_udtf_sessions,
    )

    return sessionize_udtf_sessions(spark, ev)


@query(
    "variant_props_stats",
    r"""
WITH x AS (SELECT event_type,
                  CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) AS k
           FROM events)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(k) AS BIGINT) AS sum_k,
       CAST(max(k) AS BIGINT) AS max_k
FROM x WHERE k % 3 = 0 GROUP BY event_type
""",
)
def q_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props through Spark 4's VARIANT type (§2.2
    extension): parse_json once into the binary variant encoding, then
    typed variant_get extraction — the engine's path for schema-flexible
    event payloads (vs per-access JSON string re-parsing; the variant
    encoding is parsed once and fields are O(1) lookups, the same design
    as Delta/Iceberg variant columns). Filter + aggregate on the extracted
    field; oracle uses a regex so no DuckDB JSON extension is assumed."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.parse_json("props").alias("v")
    ).select(
        "event_type",
        F.expr("variant_get(v, '$.k', 'long')").alias("k"),
    )
    return (
        v.filter(F.col("k") % 3 == 0)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
    )


@query(
    "gap_filled_daily_counts",
    """
WITH RECURSIVE
d AS (SELECT CAST((epoch_ns(ts)//1000) // 86400000000 AS BIGINT) AS day,
             count(*) AS n
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM d),
spine(day) AS (SELECT lo FROM bounds
               UNION ALL
               SELECT day + 1 FROM spine, bounds WHERE day < hi)
SELECT spine.day AS day,
       CAST(COALESCE(d.n, 0) AS BIGINT) AS n_purchases
FROM spine LEFT JOIN d USING (day)
""",
)
def q_gap_filled_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled time series via Spark 4 WITH RECURSIVE (§2.7 SQL
    front-end extension): a recursive date spine spans [min, max] purchase
    days, left-joined to daily counts so silent days appear as explicit
    zeros — the classic reporting shape that window functions cannot
    express (missing rows can't be windowed into existence). The recursion
    steps WEEKLY and a sequence() explode fills each week's days: Spark
    executes one job per recursive iteration (~200 ms scheduling floor
    each), so a day-stepped spine pays 7× more iterations for the same
    rows — step coarse, explode fine. Spine length ∝ calendar days
    (metadata-scale, independent of data volume); the aggregate is
    partial→final on the scan. The oracle states the identical spine
    declaratively (DuckDB recursion is cheap — the structure, not the
    per-step cost, is the shared contract)."""
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("_gap_events")
    return spark.sql(
        """
WITH RECURSIVE
d AS (SELECT CAST(unix_micros(ts) div 86400000000 AS BIGINT) AS day,
             count(*) AS n
      FROM _gap_events WHERE event_type = 'purchase' GROUP BY 1),
bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM d),
weeks AS (SELECT lo AS wk FROM bounds
          UNION ALL
          SELECT wk + 7 FROM weeks, bounds WHERE wk + 7 <= hi),
spine AS (SELECT explode(sequence(wk, least(wk + 6, hi))) AS day
          FROM weeks, bounds)
SELECT spine.day AS day,
       CAST(COALESCE(d.n, 0) AS BIGINT) AS n_purchases
FROM spine LEFT JOIN d USING (day)
"""
    )


_HLL_SQL = """
WITH h AS (
  SELECT l_returnflag AS grp,
         CAST(concat('0x', substr(md5(concat('hll:', CAST(l_partkey AS VARCHAR))), 1, 15)) AS BIGINT) AS hv
  FROM lineitem),
rho AS (
  SELECT grp, hv // 18014398509481984 AS idx,
         CASE WHEN hv % 18014398509481984 = 0 THEN 55
              ELSE 55 - len(bin(hv % 18014398509481984)) END AS r
  FROM h),
regs AS (SELECT grp, idx, max(r) AS m FROM rho GROUP BY grp, idx),
allregs AS (
  SELECT grp, idx, m FROM regs
  UNION ALL
  SELECT 'ALL' AS grp, idx, max(m) AS m FROM regs GROUP BY idx),
sums AS (
  SELECT grp,
         CAST(count(*) AS BIGINT) AS n_hit,
         CAST(sum(CAST(pow(2.0, 55 - m) AS BIGINT)) AS BIGINT) AS sp
  FROM allregs GROUP BY grp)
SELECT grp, n_hit,
       CAST(floor(0.709 * 4096.0 * pow(2.0, 55) /
            CAST(sp + (64 - n_hit) * 36028797018963968 AS DOUBLE)) AS BIGINT)
         AS est_distinct
FROM sums
"""


@query("hll_portable_union_distinct", _HLL_SQL)
def q_hll_portable_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HyperLogLog (p=6, 64 registers) built from the engine's own
    h15 hash family, so — unlike the Datasketches-backed
    hll_sketch_union_distinct, whose estimator is library-internal — the
    WHOLE sketch (register indexes, leading-zero ranks, merge-by-max,
    harmonic estimate) is reproduced bit-for-bit by the SQL oracle: the
    approximate answer itself is hash-checked. Register index = top 6 bits
    of the 60-bit hash; rho = leading-zero count of the remaining 54 bits
    + 1 via len(bin(x)) (identical in both engines); the harmonic sum is
    EXACT (integer powers of two, 2^(55−m) per register, absent registers
    contributing 2^55); the only float op is the single closing α·m²/S
    division with an identical expression tree. Merge = per-register max
    across group sketches — the mergeability that makes HLL the 100 TB
    distinct-count workhorse (map-side partial registers, one tiny
    shuffle of 64·groups rows)."""
    li = load_table(spark, sf_dir, "lineitem")
    two54 = 18014398509481984  # 2^54
    h = li.select(
        F.col("l_returnflag").alias("grp"),
        F.expr(
            "CAST(conv(substring(md5(concat('hll:', CAST(l_partkey AS STRING))), 1, 15),"
            " 16, 10) AS BIGINT)"
        ).alias("hv"),
    )
    rho = h.select(
        "grp",
        F.expr(f"hv div {two54}").alias("idx"),
        F.expr(
            f"CASE WHEN hv % {two54} = 0 THEN 55"
            f" ELSE 55 - length(bin(hv % {two54})) END"
        ).alias("r"),
    )
    with materialized() as m:
        # groups×64 rows; merged + per-group consumers share it
        regs = m.cut(rho.groupBy("grp", "idx").agg(F.max("r").alias("m")))
        union_regs = regs.groupBy("idx").agg(F.max("m").alias("m")).select(
            F.lit("ALL").alias("grp"), "idx", "m"
        )
        allregs = regs.select("grp", "idx", "m").unionAll(union_regs)
        sums = allregs.groupBy("grp").agg(
            F.count("*").cast("long").alias("n_hit"),
            F.sum(F.expr("CAST(pow(2.0, 55 - m) AS BIGINT)")).cast("long").alias("sp"),
        )
        return m.result(
            sums.select(
                "grp",
                "n_hit",
                F.expr(
                    "CAST(floor(0.709 * 4096.0 * pow(2.0, 55) /"
                    " CAST(sp + (64 - n_hit) * 36028797018963968 AS DOUBLE)) AS BIGINT)"
                ).alias("est_distinct"),
            )
        )


@query(
    "mutual_information_fields",
    """
WITH c AS (
  SELECT l_returnflag AS x, l_linestatus AS y, CAST(count(*) AS BIGINT) AS cxy
  FROM lineitem GROUP BY 1, 2),
mx AS (SELECT x, CAST(sum(cxy) AS BIGINT) AS cx FROM c GROUP BY x),
my AS (SELECT y, CAST(sum(cxy) AS BIGINT) AS cy FROM c GROUP BY y),
n AS (SELECT CAST(sum(cxy) AS BIGINT) AS n FROM c),
cells AS (
  SELECT c.x, c.y, cxy,
         cxy * (CAST(floor(1000000 * ln(cxy)) AS BIGINT)
                + CAST(floor(1000000 * ln(n.n)) AS BIGINT)
                - CAST(floor(1000000 * ln(mx.cx)) AS BIGINT)
                - CAST(floor(1000000 * ln(my.cy)) AS BIGINT)) AS contrib
  FROM c JOIN mx USING (x) JOIN my USING (y) CROSS JOIN n)
SELECT CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum(contrib) // (SELECT n FROM n) AS BIGINT) AS mi_x1e6
FROM cells
""",
)
def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(returnflag; linestatus) — the feature-selection
    / redundancy signal a training pipeline computes between candidate
    categorical features. I = (1/N)·Σ c_xy·(ln c_xy + ln N − ln c_x −
    ln c_y): every ln is taken of an INTEGER count and floor-quantized to
    int64 BEFORE the weighted sum (the doc_unigram_entropy technique,
    hash-green three rounds), so the statistic is exact cross-engine.
    One contingency aggregate (cells = |X|·|Y|, metadata-sized) + two
    marginal rollups OF THE CELLS (never rescanning the fact table)."""
    li = load_table(spark, sf_dir, "lineitem")
    with materialized() as m:
        # the contingency table is |X|·|Y| rows — eager-checkpoint it (the
        # triangle_count pattern) so its four consumers read a materialized
        # metadata-sized table instead of re-aggregating the fact scan
        c = m.cut(
            li.groupBy(
                F.col("l_returnflag").alias("x"), F.col("l_linestatus").alias("y")
            ).agg(F.count("*").alias("cxy"))
        )
        mx = c.groupBy("x").agg(F.sum("cxy").alias("cx"))
        my = c.groupBy("y").agg(F.sum("cxy").alias("cy"))
        n = c.agg(F.sum("cxy").alias("n"))
        L = lambda col: F.floor(F.lit(1000000) * F.log(F.col(col).cast("double"))).cast("long")  # noqa: E731
        cells = (
            c.join(F.broadcast(mx), "x")
            .join(F.broadcast(my), "y")
            .crossJoin(F.broadcast(n))
            .select(
                "cxy",
                (
                    F.col("cxy")
                    * (L("cxy") + L("n") - L("cx") - L("cy"))
                ).alias("contrib"),
                "n",
            )
        )
        return m.result(
            cells.groupBy().agg(
                F.count("*").cast("long").alias("n_cells"),
                F.expr("CAST(sum(contrib) div first(n) AS BIGINT)").alias("mi_x1e6"),
            )
        )


# Poisson(1) CDF ×1e6 (floor): multiplicity k iff u < threshold[k],
# scanning k upward — the online-bootstrap resampling weight
_POIS_TH = (367879, 735758, 919698, 981011, 996340, 999405, 999916, 999989,
            999998, 999999)
_BOOT_B = 16


def _pois_case_sql(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_POIS_TH)
    )
    return f"(CASE {branches} ELSE {len(_POIS_TH)} END)"


def _bootstrap_oracle_sql() -> str:
    from videos_to_tfrecords_spark.functions.hashing import h15_sql

    u = h15_sql("concat(CAST(o_orderkey AS VARCHAR), ':', CAST(b.b AS VARCHAR))",
                salt="boot")
    return f"""
WITH reps AS (
  SELECT b.b, {_pois_case_sql(f"({u}) % 1000000")} AS m,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders CROSS JOIN (SELECT unnest(range(0, {_BOOT_B})) AS b) b),
means AS (
  SELECT b, CAST(sum(m * cents) // sum(m) AS BIGINT) AS mean_cents
  FROM reps GROUP BY b HAVING sum(m) > 0),
full_mean AS (
  SELECT CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
              // count(*) AS BIGINT) AS mean_cents
  FROM orders),
ordered AS (SELECT list(mean_cents ORDER BY mean_cents) AS l FROM means)
SELECT CAST({_BOOT_B} AS BIGINT) AS n_replicas,
       (SELECT mean_cents FROM full_mean) AS mean_cents,
       CAST(l[2] AS BIGINT) AS lo_cents,
       CAST(l[{_BOOT_B - 1}] AS BIGINT) AS hi_cents
FROM ordered
"""


@query("bootstrap_mean_ci", _bootstrap_oracle_sql())
def q_bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online-bootstrap confidence interval for mean order value: each of
    16 replicas weights every row by a Poisson(1) multiplicity inverted
    from the portable hash (the streaming/online bootstrap — one pass,
    no resampled copies of the data ever materialize), per-replica means
    in exact integer cents, CI = the 2nd/15th order statistics of the 16
    replica means. The replica expansion is an in-task Expand (rows ×16
    flow into ONE partial→final aggregate of 16 groups); the order
    statistics sort 16 rows. Fully deterministic ⇒ the uncertainty
    estimate itself is hash-checked."""
    from videos_to_tfrecords_spark.functions.hashing import h15

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    reps = orders.select(
        "o_orderkey",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
    ).select(
        "b",
        "cents",
        (
            h15(
                F.concat(
                    F.col("o_orderkey").cast("string"),
                    F.lit(":"),
                    F.col("b").cast("string"),
                ),
                "boot",
            )
            % 1000000
        ).alias("u"),
    )
    branches = F.lit(len(_POIS_TH))
    for k in range(len(_POIS_TH) - 1, -1, -1):
        branches = F.when(F.col("u") < _POIS_TH[k], F.lit(k)).otherwise(branches)
    means = (
        reps.withColumn("m", branches)
        .groupBy("b")
        .agg(
            F.sum(F.col("m") * F.col("cents")).alias("wsum"),
            F.sum("m").alias("w"),
        )
        .filter(F.col("w") > 0)
        .select(F.expr("CAST(wsum div w AS BIGINT)").alias("mean_cents"))
    )
    full_mean = orders.agg(
        F.expr("CAST(sum(cents) div count(*) AS BIGINT)").alias("fm")
    )
    ordered = means.agg(
        F.sort_array(F.collect_list("mean_cents")).alias("l")
    )
    return ordered.crossJoin(F.broadcast(full_mean)).select(
        F.lit(_BOOT_B).cast("long").alias("n_replicas"),
        F.col("fm").alias("mean_cents"),
        # Spark [] is 0-based, the DuckDB twin's is 1-based: 0-based 1 and
        # B-2 are the 2nd and (B-1)th order statistics on both sides
        F.expr("CAST(l[1] AS BIGINT)").alias("lo_cents"),
        F.expr(f"CAST(l[{_BOOT_B - 2}] AS BIGINT)").alias("hi_cents"),
    )


@query(
    "benford_first_digit",
    """
WITH d AS (
  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1)
              AS BIGINT) AS digit
  FROM orders WHERE o_totalprice > 0),
c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY digit),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM c)
SELECT digit, n,
       CAST((1000000 * n) // nt AS BIGINT) AS obs_ppm,
       CAST(floor(1000000 * log10(1.0 + 1.0 / digit)) AS BIGINT) AS benford_ppm
FROM c, tot
""",
)
def q_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit over order totals (the fraud /
    synthetic-data smell test a data-quality gate runs on any money or
    count column): observed leading-digit distribution in exact ppm next
    to the Benford expectation floor(1e6·log10(1+1/d)). Digits come from
    the exact integer-cents decimal rendering (no float formatting
    ambiguity); both engines share log10 IEEE semantics on the 9 constant
    digit values.

    Scale shape: one narrow scan with the digit extracted in codegen, a
    9-key partial→final aggregate, one broadcast total."""
    orders = load_table(spark, sf_dir, "orders")
    digit = F.substring(
        F.round(F.col("o_totalprice") * 100).cast("long").cast("string"), 1, 1
    ).cast("long")
    c = (
        orders.filter(F.col("o_totalprice") > 0)
        .groupBy(digit.alias("digit"))
        .agg(F.count("*").cast("long").alias("n"))
    )
    tot = c.groupBy().agg(F.sum("n").cast("long").alias("nt"))
    return c.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n",
        F.expr("(1000000 * n) div nt").cast("long").alias("obs_ppm"),
        F.floor(
            F.lit(1000000) * F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
        )
        .cast("long")
        .alias("benford_ppm"),
    )


@query(
    "mannwhitney_value_by_flag",
    """
WITH v AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS x,
                  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS grp
           FROM lineitem),
c AS (SELECT x, CAST(count(*) AS BIGINT) AS t, CAST(sum(grp) AS BIGINT) AS ta
      FROM v GROUP BY x),
r AS (SELECT x, t, ta,
             CAST(coalesce(sum(t) OVER (ORDER BY x
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS cum
      FROM c),
s AS (SELECT CAST(sum(ta * (2 * cum + t + 1)) AS BIGINT) AS r2a,
             CAST(sum(ta) AS BIGINT) AS na,
             CAST(sum(t - ta) AS BIGINT) AS nb FROM r)
SELECT na, nb,
       CAST(r2a - na * (na + 1) AS BIGINT) AS u2_a,
       CAST((CAST(500000 AS HUGEINT) * (r2a - na * (na + 1)))
            // (CAST(na AS HUGEINT) * nb) AS BIGINT) AS effect_ppm
FROM s
""",
)
def q_mannwhitney_value_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U (rank-sum) comparing returned ('R') vs kept line
    items on price — the distribution-free two-sample test a data-quality
    gate runs when means lie (heavy tails, outliers). Exact integer
    tie-handling: for a distinct value with t ties after cum predecessors,
    2·avg_rank = 2·cum + t + 1, so doubled rank sums stay integral;
    U·2 = 2R_A − n_A(n_A+1) and the common-language effect size
    U/(n_A·n_B) lands in exact ppm (the AUC identity: this IS
    classifier_auc_eval's statistic, derived rank-wise). Closing product
    in DECIMAL(38)/HUGEINT (the acf overflow lesson).

    Scale shape: corpus collapses to a distinct-VALUE census first (cents
    domain is price-bounded, not corpus-bounded), so the one unpartitioned
    running-total window runs over domain-sized rows — the
    classifier_auc_eval precedent."""
    li = load_table(spark, sf_dir, "lineitem")
    v = li.select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("x"),
        (F.col("l_returnflag") == "R").cast("long").alias("grp"),
    )
    c = v.groupBy("x").agg(
        F.count("*").cast("long").alias("t"), F.sum("grp").cast("long").alias("ta")
    )
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, -1)
    r = c.select(
        "t", "ta", F.coalesce(F.sum("t").over(w), F.lit(0)).cast("long").alias("cum")
    )
    s = r.agg(
        F.sum(F.col("ta") * (2 * F.col("cum") + F.col("t") + 1))
        .cast("long")
        .alias("r2a"),
        F.sum("ta").cast("long").alias("na"),
        F.sum(F.col("t") - F.col("ta")).cast("long").alias("nb"),
    )
    u2 = F.col("r2a") - F.col("na") * (F.col("na") + 1)
    return s.select(
        "na",
        "nb",
        u2.cast("long").alias("u2_a"),
        (
            (F.lit(500000).cast("decimal(38,0)") * u2.cast("decimal(38,0)"))
        ).alias("_num"),
        (F.col("na").cast("decimal(38,0)") * F.col("nb").cast("decimal(38,0)")).alias(
            "_den"
        ),
    ).select(
        "na",
        "nb",
        "u2_a",
        F.expr("_num div _den").cast("long").alias("effect_ppm"),
    )


@query(
    "price_skewness_by_brand",
    """
WITH v AS (SELECT p_brand, CAST(round(p_retailprice * 100) AS BIGINT) AS x
           FROM part),
s AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS HUGEINT) AS s1,
             sum(CAST(x AS HUGEINT) * x) AS s2,
             sum(CAST(x AS HUGEINT) * x * x) AS s3
      FROM v GROUP BY 1),
m AS (SELECT p_brand, n,
             CAST(s1 // n AS BIGINT) AS mean_cents,
             n * s2 - s1 * s1 AS m2n,
             n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1 AS m3n
      FROM s)
SELECT p_brand, n, mean_cents,
       CAST(m2n // (n * n) AS BIGINT) AS var_c2,
       CAST(CASE WHEN m2n > 0 THEN floor(
              1000000.0 * CAST(m3n AS DOUBLE)
              / (sqrt(CAST(m2n AS DOUBLE)) * CAST(m2n AS DOUBLE)))
            ELSE 0 END AS BIGINT) AS skew_ppm
FROM m
""",
)
def q_price_skewness_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand third-moment profile — the tail-asymmetry census a
    pricing/data-quality monitor reads next to mean and variance (a
    symmetric generator should sit near skew 0; drift in skew flags a
    changed tail, not just a shifted center). Exact integer sufficient
    statistics Σx, Σx², Σx³ in DECIMAL(38,0)/HUGEINT (the acf closing-
    product lesson: a corpus-sized sum squared or cubed is the first
    thing to overflow int64); population skewness collapses to the
    scale-free closed form g1 = M3/M2^1.5 with M2 = nΣx²−(Σx)²,
    M3 = n²Σx³−3nΣxΣx²+2(Σx)³, the single closing float division on an
    identical expression tree (sqrt(M2)·M2, both engines IEEE).

    Scale shape: one narrow scan, one partial→final aggregate keyed by
    brand — three extra integer columns of map-side state buy the third
    moment. (Σx)³ fits DECIMAL(38) to ~1e10 rows of cent-scale prices;
    past that, rescale units before summing."""
    part = load_table(spark, sf_dir, "part")
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    x = F.round(F.col("p_retailprice") * 100).cast("long")
    s = part.select(F.col("p_brand"), x.alias("x")).groupBy("p_brand").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(d38(F.col("x"))).alias("s1"),
        F.sum(d38(F.col("x")) * d38(F.col("x"))).alias("s2"),
        F.sum(d38(F.col("x")) * d38(F.col("x")) * d38(F.col("x"))).alias("s3"),
    )
    nD = d38(F.col("n"))
    m2n = nD * F.col("s2") - F.col("s1") * F.col("s1")
    m3n = (
        nD * nD * F.col("s3")
        - F.lit(3) * nD * F.col("s1") * F.col("s2")
        + F.lit(2) * F.col("s1") * F.col("s1") * F.col("s1")
    )
    m = s.select(
        "p_brand",
        "n",
        F.expr("CAST(s1 div n AS BIGINT)").alias("mean_cents"),
        m2n.alias("m2n"),
        m3n.alias("m3n"),
    )
    return m.select(
        "p_brand",
        "n",
        "mean_cents",
        F.expr("CAST(m2n div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)").alias(
            "var_c2"
        ),
        F.when(
            F.col("m2n") > 0,
            F.floor(
                F.lit(1000000.0)
                * F.col("m3n").cast("double")
                / (F.sqrt(F.col("m2n").cast("double")) * F.col("m2n").cast("double"))
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("skew_ppm"),
    )


@query(
    "shipping_survival_curve",
    """
WITH t AS (SELECT date_diff('day', o_orderdate, l_shipdate) AS d,
                  l_returnflag = 'R' AS cens
           FROM lineitem JOIN orders ON o_orderkey = l_orderkey
           WHERE date_diff('day', o_orderdate, l_shipdate) >= 0),
g AS (SELECT d, CAST(count(*) AS BIGINT) AS m,
             CAST(sum(CASE WHEN cens THEN 0 ELSE 1 END) AS BIGINT) AS ev,
             CAST(sum(CASE WHEN cens THEN 1 ELSE 0 END) AS BIGINT) AS cn
      FROM t GROUP BY d),
r AS (SELECT *, CAST(sum(m) OVER (ORDER BY d DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS n_risk FROM g),
s AS (SELECT d, n_risk, ev, cn,
             CAST(sum(CASE WHEN ev = 0 THEN 0
                           WHEN n_risk > ev
                             THEN CAST(floor(1000000 * ln(n_risk - ev)) AS BIGINT)
                                  - CAST(floor(1000000 * ln(n_risk)) AS BIGINT)
                           ELSE -999000000 END)
                  OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS BIGINT) AS log_s_x1e6
      FROM r)
SELECT CAST(d AS BIGINT) AS t_days, n_risk, ev AS n_events, cn AS n_censored,
       log_s_x1e6
FROM s
""",
)
def q_shipping_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier product-limit survival curve for order→ship latency,
    with returned items (l_returnflag = 'R') treated as right-censored —
    time-to-event analytics (the SLA / attrition curve), distributed. The
    survival product Π(1 − d/n) is carried in QUANTIZED LOG space: each
    step contributes floor(1e6·ln(n−d)) − floor(1e6·ln(n)) — ln of exact
    INTEGERS, the doc_unigram_entropy determinism pattern — so the
    cumulative curve is an exact integer sum in both engines. A step that
    exhausts the risk set (S hits 0) contributes a fixed −999000000
    sentinel.

    Scale shape: corpus collapses to a per-day census first (day domain
    is calendar-bounded, not corpus-bounded), so the two unpartitioned
    windows (reverse cumulative risk set, forward cumulative log-S) run
    over domain-sized rows — the classifier_auc_eval precedent."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_returnflag"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    t = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.datediff("l_shipdate", "o_orderdate").alias("d"),
            (F.col("l_returnflag") == "R").alias("cens"),
        )
        .filter(F.col("d") >= 0)
    )
    g = t.groupBy("d").agg(
        F.count("*").cast("long").alias("m"),
        F.sum(F.when(F.col("cens"), 0).otherwise(1)).cast("long").alias("ev"),
        F.sum(F.when(F.col("cens"), 1).otherwise(0)).cast("long").alias("cn"),
    )
    w_rev = Window.orderBy(F.desc("d")).rowsBetween(Window.unboundedPreceding, 0)
    r = g.withColumn("n_risk", F.sum("m").over(w_rev).cast("long"))
    lnq = lambda c: F.floor(F.lit(1000000) * F.log(c)).cast("long")  # noqa: E731
    term = (
        F.when(F.col("ev") == 0, F.lit(0))
        .when(
            F.col("n_risk") > F.col("ev"),
            lnq(F.col("n_risk") - F.col("ev")) - lnq(F.col("n_risk")),
        )
        .otherwise(F.lit(-999000000))
    )
    w_fwd = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return r.select(
        F.col("d").cast("long").alias("t_days"),
        "n_risk",
        F.col("ev").alias("n_events"),
        F.col("cn").alias("n_censored"),
        F.sum(term).over(w_fwd).cast("long").alias("log_s_x1e6"),
    )


@query(
    "order_volume_cusum",
    """
WITH dayc AS (SELECT o_orderdate AS day, CAST(count(*) AS BIGINT) AS x
              FROM orders GROUP BY 1),
k AS (SELECT CAST(sum(x) // count(*) AS BIGINT) AS k FROM dayc),
c AS (SELECT day, x,
             CAST(sum(x) OVER w - row_number() OVER w * (SELECT k FROM k)
                  AS BIGINT) AS ct
      FROM dayc WINDOW w AS (ORDER BY day
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT day, x,
       CAST(ct - min(ct) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS cusum_up,
       CAST(max(ct) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) - ct AS BIGINT) AS cusum_down
FROM c
""",
)
def q_order_volume_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM changepoint monitor over daily order volume — the
    sequential drift detector an ingestion pipeline alarms on (a level
    shift accumulates linearly in one side while noise cancels). The
    recursive CUSUM S_t = max(0, S_{t-1} + x_t − k) is rewritten closed
    form as C_t − min_{u≤t} C_u (and the down side as running-max − C_t)
    with C_t the centered prefix sum — so the whole monitor is two
    prefix-extrema windows, no recursion, exact integers (reference level
    k = floor of the global daily mean).

    Scale shape: corpus collapses to the calendar-bounded day census
    first; the unpartitioned windows run over days, not rows (the
    survival-curve precedent)."""
    orders = load_table(spark, sf_dir, "orders")
    dayc = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.count("*").cast("long").alias("x")
    )
    k = dayc.groupBy().agg(
        F.expr("CAST(sum(x) div count(*) AS BIGINT)").alias("k")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    c = dayc.crossJoin(F.broadcast(k)).select(
        "day",
        "x",
        (
            F.sum("x").over(w)
            - F.row_number().over(Window.orderBy("day")) * F.col("k")
        )
        .cast("long")
        .alias("ct"),
    )
    return c.select(
        "day",
        "x",
        (F.col("ct") - F.min("ct").over(w)).cast("long").alias("cusum_up"),
        (F.max("ct").over(w) - F.col("ct")).cast("long").alias("cusum_down"),
    )


@query(
    "trimmed_mean_price_by_flag",
    """
WITH v AS (SELECT l_returnflag AS flag,
                  CAST(round(l_extendedprice * 100) AS BIGINT) AS x
           FROM lineitem),
c AS (SELECT flag, x, CAST(count(*) AS BIGINT) AS t FROM v GROUP BY 1, 2),
r AS (SELECT flag, x, t,
             CAST(coalesce(sum(t) OVER (PARTITION BY flag ORDER BY x
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS cum,
             CAST(sum(t) OVER (PARTITION BY flag) AS BIGINT) AS n
      FROM c),
kp AS (SELECT flag, n, x,
              GREATEST(0, LEAST(cum + t, n - n // 10) - GREATEST(cum, n // 10))
                AS kept
       FROM r)
SELECT flag, CAST(max(n) AS BIGINT) AS n,
       CAST(sum(kept) AS BIGINT) AS n_kept,
       CAST(sum(x * kept) // sum(kept) AS BIGINT) AS trimmed_mean_cents
FROM kp GROUP BY flag
""",
)
def q_trimmed_mean_price_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 10%-trimmed mean of line price per return flag — the robust
    center a monitoring gate uses when a price feed can spike (the plain
    mean moves with one bad batch; the trimmed mean doesn't). Trimming is
    computed on the distinct-VALUE census with integral tie splitting:
    a value covering sorted ranks [cum, cum+t) keeps
    max(0, min(cum+t, n−n/10) − max(cum, n/10)) copies — no per-row sort,
    no approximation.

    Scale shape: corpus → (flag, cents) census (price-domain-bounded),
    per-flag windows over the census, one final 3-row aggregate — the
    mannwhitney/auc distinct-value precedent."""
    li = load_table(spark, sf_dir, "lineitem")
    v = li.select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("x"),
    )
    c = v.groupBy("flag", "x").agg(F.count("*").cast("long").alias("t"))
    wb = (
        Window.partitionBy("flag")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wa = Window.partitionBy("flag")
    r = c.select(
        "flag",
        "x",
        "t",
        F.coalesce(F.sum("t").over(wb), F.lit(0)).cast("long").alias("cum"),
        F.sum("t").over(wa).cast("long").alias("n"),
    )
    kept = F.greatest(
        F.lit(0),
        F.least(F.col("cum") + F.col("t"), F.col("n") - F.expr("n div 10"))
        - F.greatest(F.col("cum"), F.expr("n div 10")),
    )
    return (
        r.withColumn("kept", kept)
        .groupBy("flag")
        .agg(
            F.max("n").cast("long").alias("n"),
            F.sum("kept").cast("long").alias("n_kept"),
            F.expr("CAST(sum(x * kept) div sum(kept) AS BIGINT)").alias(
                "trimmed_mean_cents"
            ),
        )
    )


@query(
    "customer_value_gini",
    """
WITH v AS (SELECT o_custkey, CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS x
           FROM orders GROUP BY 1),
c AS (SELECT x, CAST(count(*) AS BIGINT) AS t FROM v GROUP BY 1),
r AS (SELECT x, t,
             CAST(coalesce(sum(t) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED
                    PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
      FROM c),
s AS (SELECT CAST(sum(t) AS BIGINT) AS n,
             sum(CAST(x AS HUGEINT) * t) AS sx,
             sum(CAST(x AS HUGEINT) * t * (2 * cum + t + 1)) AS a
      FROM r)
SELECT n, CAST(sx AS BIGINT) AS total_cents,
       CAST((1000000 * (a - (n + 1) * sx)) // (CAST(n AS HUGEINT) * sx)
            AS BIGINT) AS gini_ppm
FROM s
""",
)
def q_customer_value_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer lifetime order value — the
    concentration metric next to HHI (nation_supplier_hhi) a platform
    reads for whale-dependence risk; also the label-imbalance /
    source-concentration statistic reused on any count column. Exact via
    the distinct-value census: a value x with t ties after cum
    predecessors contributes x·t·(2·cum+t+1) to 2Σi·x_i (the doubled
    rank-sum identity, same trick as the Mann-Whitney ranks), so
    G = (2Σi·x_i − (n+1)Σx)/(nΣx) closes in one exact HUGEINT/
    DECIMAL(38) division to ppm.

    Scale shape: per-customer aggregate, then the census runs over distinct
    VALUE rows — but per-customer totals are nearly all distinct, so the
    census is customer-proportional and the running count uses the
    DISTRIBUTED ordered prefix sum (`operators.ordered.global_cumsum`),
    not a single-partition window; the final reduce is 3 wide integers."""
    from videos_to_tfrecords_spark.operators.ordered import global_cumsum

    orders = load_table(spark, sf_dir, "orders")
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    v = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice") * 100).cast("long").alias("x")
    )
    c = v.groupBy("x").agg(F.count("*").cast("long").alias("t"))
    r = global_cumsum(c, [F.col("x")], "t", "cum", before=True)
    s = r.agg(
        F.sum("t").cast("long").alias("n"),
        F.sum(d38(F.col("x")) * d38(F.col("t"))).alias("sx"),
        F.sum(
            d38(F.col("x"))
            * d38(F.col("t"))
            * d38(2 * F.col("cum") + F.col("t") + 1)
        ).alias("a"),
    )
    return s.select(
        "n",
        F.col("sx").cast("long").alias("total_cents"),
        F.expr(
            "CAST((1000000 * (a - (CAST(n AS DECIMAL(38,0)) + 1) * sx))"
            " div (CAST(n AS DECIMAL(38,0)) * sx) AS BIGINT)"
        ).alias("gini_ppm"),
    )


@query(
    "price_mad_robust_scale",
    """
WITH v AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS x FROM lineitem),
c AS (SELECT x, CAST(count(*) AS BIGINT) AS t FROM v GROUP BY 1),
n AS (SELECT CAST(sum(t) AS BIGINT) AS n FROM c),
m1 AS (SELECT CAST(x AS BIGINT) AS med FROM (
         SELECT x, t, CAST(coalesce(sum(t) OVER (ORDER BY x ROWS BETWEEN
                UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
         FROM c), n
       WHERE cum < (n + 1) // 2 AND cum + t >= (n + 1) // 2),
d AS (SELECT abs(x - (SELECT med FROM m1)) AS dx, t FROM c),
dc AS (SELECT dx, CAST(sum(t) AS BIGINT) AS t FROM d GROUP BY 1),
m2 AS (SELECT CAST(dx AS BIGINT) AS mad FROM (
         SELECT dx, t, CAST(coalesce(sum(t) OVER (ORDER BY dx ROWS BETWEEN
                UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
         FROM dc), n
       WHERE cum < (n + 1) // 2 AND cum + t >= (n + 1) // 2)
SELECT (SELECT n FROM n) AS n, (SELECT med FROM m1) AS median_cents,
       (SELECT mad FROM m2) AS mad_cents
""",
)
def q_price_mad_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation of line price — the robust scale
    estimator paired with the trimmed mean (σ moves with one bad batch;
    MAD needs >50% contamination). Exact lower-median twice over
    value-domain-bounded censuses: once on cents, once on |x − median|
    deviations — no corpus sort, no approximation, pure integers.

    Scale shape: one corpus scan to the cents census (checkpointed —
    before r10 the unmaterialized census re-ran the corpus scan under
    each of THREE driver collects; guide §5: no driver loops in query
    paths), then everything is census-sized and fully lazy: n and both
    medians stay 1-row FRAMES attached via broadcast crossJoins instead
    of collected scalars, so the query is one plan with zero mid-query
    actions."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    with materialized() as m:
        c = m.cut(  # value-domain-bounded census
            li.select(F.round(F.col("l_extendedprice") * 100).cast("long").alias("x"))
            .groupBy("x")
            .agg(F.count("*").cast("long").alias("t"))
        )
        nf = c.agg(F.sum("t").cast("long").alias("n"))

        def census_median(df, col, alias):
            # lower median as a 1-row frame: k = (n+1) div 2 carried as a column
            wb = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, -1)
            return (
                df.withColumn(
                    "cum", F.coalesce(F.sum("t").over(wb), F.lit(0)).cast("long")
                )
                .crossJoin(F.broadcast(nf))
                .filter(
                    (F.col("cum") < F.expr("(n + 1) div 2"))
                    & (F.col("cum") + F.col("t") >= F.expr("(n + 1) div 2"))
                )
                .select(F.col(col).cast("long").alias(alias))
            )

        med = census_median(c, "x", "median_cents")
        dc = (
            c.crossJoin(F.broadcast(med))
            .select(F.abs(F.col("x") - F.col("median_cents")).alias("dx"), "t")
            .groupBy("dx")
            .agg(F.sum("t").cast("long").alias("t"))
        )
        mad = census_median(dc, "dx", "mad_cents")
        return m.result(
            nf.crossJoin(med).crossJoin(mad).select("n", "median_cents", "mad_cents")
        )


@query(
    "asof_nearest_purchase",
    """
WITH e AS (SELECT event_id, user_id, event_type, (epoch_ns(ts)//1000) AS ts_us
           FROM events),
p AS (SELECT user_id, ts_us, max(event_id) AS purchase_id
      FROM e WHERE event_type = 'purchase' GROUP BY user_id, ts_us),
c AS (SELECT event_id, user_id, ts_us FROM e WHERE event_type = 'click'),
b AS (SELECT c.event_id, c.user_id, c.ts_us,
             p.purchase_id AS bid, p.ts_us AS bts
      FROM c ASOF LEFT JOIN p
        ON c.user_id = p.user_id AND c.ts_us >= p.ts_us),
f AS (SELECT c.event_id, p.purchase_id AS fid, p.ts_us AS fts
      FROM c ASOF LEFT JOIN p
        ON c.user_id = p.user_id AND c.ts_us <= p.ts_us),
j AS (SELECT b.event_id, b.user_id, b.ts_us, b.bid, b.bts, f.fid, f.fts,
             b.bts IS NOT NULL AND b.ts_us - b.bts <= 172800000000 AS vb,
             f.fts IS NOT NULL AND f.fts - b.ts_us <= 172800000000 AS vf
      FROM b JOIN f USING (event_id))
SELECT event_id, user_id, ts_us,
       CASE WHEN vb AND (NOT vf OR ts_us - bts <= fts - ts_us) THEN bid
            WHEN vf THEN fid END AS nearest_purchase_id,
       CAST(CASE WHEN vb AND (NOT vf OR ts_us - bts <= fts - ts_us)
                 THEN bts - ts_us
                 WHEN vf THEN fts - ts_us END AS BIGINT) AS gap_us
FROM j
""",
)
def q_asof_nearest_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-as-of join with a ±2-day tolerance
    (operators/relational.asof_nearest_join): each click paired with the
    user's temporally CLOSEST purchase in either direction, ties to the
    past — the merge_asof(direction='nearest') surface the backward-only
    asof_last_purchase can't express. One shuffle, two O(n) window passes
    over the shared per-user timeline; the oracle composes DuckDB's two
    directional ASOF JOINs with the identical row-local pick."""
    from videos_to_tfrecords_spark.operators.relational import (
        asof_nearest_join,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts_us"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts_us")
        .agg(F.max("event_id").alias("purchase_id"))
        .select("user_id", F.col("ts_us").alias("pts"), "purchase_id")
    )
    out = asof_nearest_join(
        clicks,
        purchases,
        key_cols=["user_id"],
        left_ts="ts_us",
        right_ts="pts",
        right_value_cols=["purchase_id"],
        tolerance=172_800_000_000,
    )
    return out.select(
        "event_id", "user_id", "ts_us",
        F.col("nearest_purchase_id"), "gap_us",
    )


@query(
    "hll_accuracy_eval",
    f"""
WITH est AS ({_HLL_SQL}),
ex AS (
  SELECT l_returnflag AS grp,
         CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_distinct
  FROM lineitem GROUP BY 1
  UNION ALL
  SELECT 'ALL' AS grp, CAST(count(DISTINCT l_partkey) AS BIGINT)
  FROM lineitem)
SELECT est.grp, ex.exact_distinct, est.est_distinct,
       CAST((1000000 * abs(est.est_distinct - ex.exact_distinct))
            // ex.exact_distinct AS BIGINT) AS err_ppm
FROM est JOIN ex ON ex.grp = est.grp
""",
)
def q_hll_accuracy_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured accuracy of the portable HyperLogLog (p=6) against the
    exact distinct count, per group and for the merged ALL sketch — the
    sketch-quality gate next to bloom_filter_fpr (measured FPR) and
    minhash_estimate_calibration (sketch-vs-exact Jaccard): before a
    pipeline trusts HLL distinct counts for cardinality-driven decisions
    (join strategy, partition sizing), this query says how far off the
    64-register sketch actually is. Both legs are one aggregate each; the
    estimate leg reuses the hash-checked portable-HLL construction."""
    from videos_to_tfrecords_spark.plans.registry import QUERIES

    est = QUERIES["hll_portable_union_distinct"](spark, sf_dir).select(
        "grp", "est_distinct"
    )
    li = load_table(spark, sf_dir, "lineitem")
    per = li.groupBy(F.col("l_returnflag").alias("grp")).agg(
        F.countDistinct("l_partkey").cast("long").alias("exact_distinct")
    )
    allg = li.agg(
        F.countDistinct("l_partkey").cast("long").alias("exact_distinct")
    ).select(F.lit("ALL").alias("grp"), "exact_distinct")
    ex = per.unionByName(allg)
    return est.join(ex, "grp").select(
        "grp",
        "exact_distinct",
        "est_distinct",
        F.expr(
            "CAST((1000000 * abs(est_distinct - exact_distinct))"
            " div exact_distinct AS BIGINT)"
        ).alias("err_ppm"),
    )


@query(
    "daily_anomaly_robust_z",
    """
WITH d AS (SELECT CAST((epoch_ns(ts)//1000) // 86400000000 AS BIGINT) AS day,
                  CAST(count(*) AS BIGINT) AS x
           FROM events WHERE event_type = 'purchase' GROUP BY 1),
c AS (SELECT x, CAST(count(*) AS BIGINT) AS t FROM d GROUP BY 1),
n AS (SELECT CAST(sum(t) AS BIGINT) AS n FROM c),
m1 AS (SELECT CAST(x AS BIGINT) AS med FROM (
         SELECT x, t, CAST(coalesce(sum(t) OVER (ORDER BY x ROWS BETWEEN
                UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
         FROM c), n
       WHERE cum < (n + 1) // 2 AND cum + t >= (n + 1) // 2),
dc AS (SELECT abs(x - (SELECT med FROM m1)) AS dx, CAST(sum(t) AS BIGINT) AS t
       FROM c GROUP BY 1),
m2 AS (SELECT CAST(dx AS BIGINT) AS mad FROM (
         SELECT dx, t, CAST(coalesce(sum(t) OVER (ORDER BY dx ROWS BETWEEN
                UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
         FROM dc), n
       WHERE cum < (n + 1) // 2 AND cum + t >= (n + 1) // 2),
z AS (SELECT day, x,
             CASE WHEN (SELECT mad FROM m2) = 0 THEN 0
                  ELSE (6745 * abs(x - (SELECT med FROM m1)))
                       // (10 * (SELECT mad FROM m2)) END AS z_x1000
      FROM d)
SELECT day, x AS n_purchases, CAST(z_x1000 AS BIGINT) AS z_x1000
FROM z ORDER BY z_x1000 DESC, day LIMIT 10
""",
)
def q_daily_anomaly_robust_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomalous-day detection via the robust z-score 0.6745·|x − median|
    / MAD over DAILY purchase counts — the ops-monitoring readout that a
    mean/σ z-score gets wrong the moment one outage day drags σ (median
    and MAD need >50% contamination to move). Top-10 days by robust z.

    Both medians are exact census order statistics (the
    price_mad_robust_scale machinery over the day-count census — the
    census domain is calendar days, corpus-independent); the z is one
    integer floor per day (6745·|Δ| // (10·MAD)), and the top-10 is
    TakeOrderedAndProject. One corpus scan; everything after is
    calendar-sized."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    with materialized() as m:
        d = m.cut(
            ev.filter(F.col("event_type") == "purchase")
            .select(F.expr("unix_micros(ts) div 86400000000").alias("day"))
            .groupBy("day")
            .agg(F.count("*").cast("long").alias("x"))
        )
        c = d.groupBy("x").agg(F.count("*").cast("long").alias("t"))
        n = c.agg(F.sum("t").cast("long").alias("n")).collect()[0]["n"]
        k = (n + 1) // 2

        def census_median(df, col):
            wb = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, -1)
            return (
                df.withColumn(
                    "cum", F.coalesce(F.sum("t").over(wb), F.lit(0)).cast("long")
                )
                .filter((F.col("cum") < k) & (F.col("cum") + F.col("t") >= k))
                .collect()[0][col]
            )

        med = int(census_median(c, "x"))
        dc = (
            c.select(F.abs(F.col("x") - med).alias("dx"), "t")
            .groupBy("dx")
            .agg(F.sum("t").cast("long").alias("t"))
        )
        mad = int(census_median(dc, "dx"))
        z = d.select(
            "day",
            F.col("x").alias("n_purchases"),
            (
                F.lit(0)
                if mad == 0
                else F.expr(f"(6745 * abs(x - {med})) div (10 * {mad})")
            )
            .cast("long")
            .alias("z_x1000"),
        )
        return m.result(z.orderBy(F.desc("z_x1000"), F.asc("day")).limit(10))


@query(
    "event_trigram_topk",
    """
WITH o AS (SELECT user_id, event_type,
                  (epoch_ns(ts)//1000) AS ts_us, event_id
           FROM events),
s AS (SELECT user_id, event_type,
             lead(event_type, 1) OVER w AS t2,
             lead(event_type, 2) OVER w AS t3
      FROM o WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
tri AS (SELECT event_type || '>' || t2 || '>' || t3 AS trigram
        FROM s WHERE t3 IS NOT NULL)
SELECT trigram, CAST(count(*) AS BIGINT) AS n
FROM tri GROUP BY 1 ORDER BY n DESC, trigram LIMIT 20
""",
)
def q_event_trigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 user-behavior trigrams (ordered event-type 3-sequences per
    user timeline) — the sequence-mining readout one step past
    event_markov_transitions' bigrams: which THREE-step journeys dominate
    (browse>click>purchase vs click>click>click loops). One per-user
    window (state bounded by the user's event count, ties broken on
    event_id identically both engines), map-side trigram combine, top-20
    TakeOrderedAndProject."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros("ts"), F.col("event_id")
    )
    s = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).filter(F.col("t3").isNotNull())
    tri = s.select(
        F.concat_ws(">", "event_type", "t2", "t3").alias("trigram")
    )
    return (
        tri.groupBy("trigram")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("trigram"))
        .limit(20)
    )


@query(
    "interarrival_exponential_gof",
    """
WITH o AS (SELECT user_id, (epoch_ns(ts)//1000) AS ts_us, event_id
           FROM events),
g AS (SELECT ts_us - lag(ts_us) OVER
               (PARTITION BY user_id ORDER BY ts_us, event_id) AS gap
      FROM o QUALIFY gap IS NOT NULL AND gap > 0),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(gap) AS BIGINT) AS s,
               CAST(max(gap) AS BIGINT) AS mx FROM g),
c AS (SELECT (gap * 64) // ((SELECT mx FROM tot) + 1) AS b,
             CAST(count(*) AS BIGINT) AS t
      FROM g GROUP BY 1),
spine AS (SELECT unnest(range(0, 64)) AS b),
f AS (SELECT spine.b, coalesce(c.t, 0) AS t
      FROM spine LEFT JOIN c ON c.b = spine.b),
cum AS (SELECT b, sum(t) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS ct
        FROM f),
gap2 AS (SELECT cum.b,
                (1000000 * cum.ct) // tot.n AS emp_ppm,
                CAST(floor(1000000 * (1.0 - exp(
                  -(CAST(tot.n AS DOUBLE) *
                    CAST(((cum.b + 1) * (tot.mx + 1)) // 64 - 1 AS DOUBLE))
                  / CAST(tot.s AS DOUBLE)))) AS BIGINT) AS theo_ppm
         FROM cum, tot)
SELECT (SELECT n FROM tot) AS n_gaps,
       (SELECT s FROM tot) // (SELECT n FROM tot) AS mean_gap_us,
       CAST(max(abs(emp_ppm - theo_ppm)) AS BIGINT) AS ks_ppm
FROM gap2
""",
)
def q_interarrival_exponential_gof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodness-of-fit of the exponential (Poisson-process) model to
    per-user event inter-arrival gaps: fit rate λ = n/Σgaps, then the KS
    distance between the empirical gap CDF and 1 − e^(−λt) over 64
    equi-width bucket edges — the burstiness test behind session-gap
    thresholds and arrival-rate capacity models (a large KS says arrivals
    are bursty/heavy-tailed and a Poisson-rate capacity plan is wrong).

    Exactness: gaps, bucket census, cumulative counts, and emp_ppm are
    pure integers; the theoretical CDF needs ONE float expression per
    bucket edge (64 total) — (n·u)/S as an identical IEEE expression tree
    then a single exp per edge (the per-row quantized-ln/exp precedent),
    floored to ppm before the max-fold. One window pass for gaps, one
    census shuffle; everything after is 64-row."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros("ts"), F.col("event_id")
    )
    with materialized() as m:
        g = m.cut(
            ev.select(
                (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias(
                    "gap"
                )
            ).filter(F.col("gap").isNotNull() & (F.col("gap") > 0))
        )
        tot = g.agg(
            F.count("*").cast("long").alias("n"),
            F.sum("gap").cast("long").alias("s"),
            F.max("gap").cast("long").alias("mx"),
        )
        c = g.crossJoin(F.broadcast(tot)).select(
            F.expr("(gap * 64) div (mx + 1)").alias("b")
        ).groupBy("b").agg(F.count("*").cast("long").alias("t"))
        spine = spark.range(64).select(F.col("id").alias("b"))
        f = spine.join(c, "b", "left").select(
            "b", F.coalesce("t", F.lit(0)).alias("t")
        )
        wc = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
        cum = f.select("b", F.sum("t").over(wc).alias("ct"))
        gap2 = cum.crossJoin(F.broadcast(tot)).select(
            F.expr("(1000000 * ct) div n").alias("emp_ppm"),
            F.floor(
                F.lit(1000000.0)
                * (
                    F.lit(1.0)
                    - F.exp(
                        -(
                            F.col("n").cast("double")
                            * F.expr("((b + 1) * (mx + 1)) div 64 - 1").cast(
                                "double"
                            )
                        )
                        / F.col("s").cast("double")
                    )
                )
            )
            .cast("long")
            .alias("theo_ppm"),
            "n",
            "s",
        )
        return m.result(
            gap2.agg(
                F.first("n").alias("n_gaps"),
                F.expr("CAST(first(s) div first(n) AS BIGINT)").alias("mean_gap_us"),
                F.max(F.abs(F.col("emp_ppm") - F.col("theo_ppm")))
                .cast("long")
                .alias("ks_ppm"),
            )
        )


@query(
    "capture_recapture_estimate",
    """
WITH u AS (SELECT user_id,
                  max(CASE WHEN ((epoch_ns(ts)//1000) // 86400000000) % 2 = 0
                      THEN 1 ELSE 0 END) AS in_a,
                  max(CASE WHEN ((epoch_ns(ts)//1000) // 86400000000) % 2 = 1
                      THEN 1 ELSE 0 END) AS in_b
           FROM events GROUP BY 1),
m AS (SELECT CAST(sum(in_a) AS BIGINT) AS n1,
             CAST(sum(in_b) AS BIGINT) AS n2,
             CAST(sum(in_a * in_b) AS BIGINT) AS m12,
             CAST(count(*) AS BIGINT) AS n_true
      FROM u)
SELECT n1, n2, m12, n_true,
       CAST((n1 + 1) * (n2 + 1) // (m12 + 1) - 1 AS BIGINT) AS chapman_est,
       CAST((1000000 * abs((n1 + 1) * (n2 + 1) // (m12 + 1) - 1 - n_true))
            // n_true AS BIGINT) AS err_ppm
FROM m
""",
)
def q_capture_recapture_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman capture–recapture population estimate (public ecology /
    census-statistics estimator): treat even-day and odd-day activity as
    two capture occasions and estimate the total distinct-user population
    from the overlap — N̂ = (n₁+1)(n₂+1)/(m+1) − 1. The third
    distinct-count estimation angle next to HLL (sketch) and exact
    count(DISTINCT): capture–recapture works when you can't even SCAN
    the full population, only samples; the err_ppm column scores it
    against ground truth here. One per-user aggregate (two presence
    bits), one 4-sum close — pure integers, floor-div on non-negatives."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.expr("(unix_micros(ts) div 86400000000) % 2 = 0"), 1).otherwise(0)
        ).alias("in_a"),
        F.max(
            F.when(F.expr("(unix_micros(ts) div 86400000000) % 2 = 1"), 1).otherwise(0)
        ).alias("in_b"),
    )
    m = u.agg(
        F.sum("in_a").cast("long").alias("n1"),
        F.sum("in_b").cast("long").alias("n2"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("m12"),
        F.count("*").cast("long").alias("n_true"),
    )
    return m.select(
        "n1", "n2", "m12", "n_true",
        F.expr("CAST((n1 + 1) * (n2 + 1) div (m12 + 1) - 1 AS BIGINT)").alias(
            "chapman_est"
        ),
        F.expr(
            "CAST((1000000 * abs((n1 + 1) * (n2 + 1) div (m12 + 1) - 1 - n_true))"
            " div n_true AS BIGINT)"
        ).alias("err_ppm"),
    )


@query(
    "count_overdispersion",
    """
WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS k FROM events GROUP BY 1),
s AS (SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(k) AS HUGEINT) AS sk,
             CAST(sum(k * k) AS HUGEINT) AS skk
      FROM c)
SELECT CAST(n AS BIGINT) AS n_users,
       CAST(sk AS BIGINT) AS n_events,
       CAST((1000000 * (n * skk - sk * sk)) // (n * sk) AS BIGINT)
         AS dispersion_x1e6,
       (1000000 * (n * skk - sk * sk)) // (n * sk) > 1000000 AS overdispersed
FROM s
""",
)
def q_count_overdispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index of dispersion (variance/mean) of per-user event counts — the
    one-number Poisson-ness test that pairs with
    interarrival_exponential_gof: Poisson arrivals give dispersion ≈ 1;
    ≫1 means heavy users dominate (and capacity/sampling plans keyed to
    the mean are wrong). Cross-multiplied exact: var/mean =
    (n·Σk² − (Σk)²)/(n·Σk) closed in HUGEINT/DECIMAL(38,0) (the acf
    lesson — Σk² products exceed int64 at corpus scale). One groupBy,
    one 3-sum close."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id").agg(F.count("*").cast("long").alias("k"))
    s = c.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("k").cast("decimal(38,0)").alias("sk"),
        F.sum(F.col("k").cast("decimal(38,0)") * F.col("k")).alias("skk"),
    )
    disp = "(1000000 * (n * skk - sk * sk)) div (n * sk)"
    return s.select(
        F.col("n").cast("long").alias("n_users"),
        F.col("sk").cast("long").alias("n_events"),
        F.expr(f"CAST({disp} AS BIGINT)").alias("dispersion_x1e6"),
        F.expr(f"{disp} > 1000000").alias("overdispersed"),
    )


@query(
    "simpsons_paradox_scan",
    """
WITH v AS (SELECT p.p_brand AS brand,
                  CAST(l.l_quantity AS BIGINT) AS x,
                  CAST(round(l.l_discount * 100) AS BIGINT) AS y
           FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
g AS (SELECT brand, CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(x * y) AS HUGEINT) AS sxy
      FROM v GROUP BY 1),
tot AS (SELECT CAST(sum(n) AS HUGEINT) AS n, CAST(sum(sx) AS HUGEINT) AS sx,
               CAST(sum(sy) AS HUGEINT) AS sy,
               CAST(sum(sxy) AS HUGEINT) AS sxy
        FROM g),
sgn AS (SELECT g.brand,
               CASE WHEN g.n * g.sxy - g.sx * g.sy > 0 THEN 1
                    WHEN g.n * g.sxy - g.sx * g.sy < 0 THEN -1 ELSE 0 END
                 AS grp_sign,
               CASE WHEN t.n * t.sxy - t.sx * t.sy > 0 THEN 1
                    WHEN t.n * t.sxy - t.sx * t.sy < 0 THEN -1 ELSE 0 END
                 AS pooled_sign,
               CAST(g.n AS BIGINT) AS n_rows
        FROM g, tot t)
SELECT brand, CAST(grp_sign AS BIGINT) AS grp_sign,
       CAST(pooled_sign AS BIGINT) AS pooled_sign, n_rows
FROM sgn WHERE grp_sign != 0 AND grp_sign != pooled_sign
ORDER BY n_rows DESC, brand LIMIT 10
""",
)
def q_simpsons_paradox_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox scan: brands where the within-group
    quantity↔discount covariance sign CONTRADICTS the pooled sign — the
    aggregation-bias audit a metrics team runs before trusting any pooled
    correlation (a positive overall trend can be negative inside every
    segment when group sizes confound). Signs come from the exact
    covariance numerator n·Σxy − Σx·Σy in HUGEINT/DECIMAL(38,0) — no
    division, no float, sign comparison only. One join + two aggregates;
    top-10 largest contradicting groups."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    v = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        F.col("p_brand").alias("brand"),
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_discount") * 100).cast("long").alias("y"),
    )
    g = v.groupBy("brand").agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
    )
    tot = g.agg(
        F.sum("n").alias("tn"), F.sum("sx").alias("tsx"),
        F.sum("sy").alias("tsy"), F.sum("sxy").alias("tsxy"),
    )
    sgn = g.crossJoin(F.broadcast(tot)).select(
        "brand",
        F.expr(
            "CAST(CASE WHEN n * sxy - sx * sy > 0 THEN 1"
            " WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 0 END AS BIGINT)"
        ).alias("grp_sign"),
        F.expr(
            "CAST(CASE WHEN tn * tsxy - tsx * tsy > 0 THEN 1"
            " WHEN tn * tsxy - tsx * tsy < 0 THEN -1 ELSE 0 END AS BIGINT)"
        ).alias("pooled_sign"),
        F.col("n").cast("long").alias("n_rows"),
    )
    return (
        sgn.filter(
            (F.col("grp_sign") != 0) & (F.col("grp_sign") != F.col("pooled_sign"))
        )
        .orderBy(F.desc("n_rows"), F.asc("brand"))
        .limit(10)
    )


@query(
    "hill_tail_index",
    """
WITH v AS (SELECT o_custkey,
                  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                    AS x
           FROM orders GROUP BY 1),
top AS (SELECT x FROM v ORDER BY x DESC, o_custkey LIMIT 101),
r AS (SELECT x, row_number() OVER (ORDER BY x DESC) AS rnk FROM top),
xmin AS (SELECT CAST(floor(1000000000 * ln(x)) AS BIGINT) AS lq
         FROM r WHERE rnk = 101),
s AS (SELECT CAST(sum(CAST(floor(1000000000 * ln(x)) AS BIGINT)
                     - (SELECT lq FROM xmin)) AS BIGINT) AS d
      FROM r WHERE rnk <= 100)
SELECT CAST(100 AS BIGINT) AS k,
       CAST((CAST(100 AS BIGINT) * 1000000000 * 1000000) // (SELECT d FROM s)
         AS BIGINT) AS hill_alpha_x1e6
FROM s
""",
)
def q_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the heavy-tail exponent of customer lifetime
    value (public extreme-value statistic: α̂ = k / Σ ln(x₍ᵢ₎/x₍ₖ₊₁₎) over
    the top-k order statistics): α ≤ 2 means infinite variance and every
    mean-based budget/capacity model on this metric is unstable — the
    tail-risk companion to the Gini concentration and Zipf slope.

    Top-101 is TakeOrderedAndProject (never a global sort); each log is
    the standard per-row quantized-ln of an exact integer, differenced
    against the (k+1)-th BEFORE summing so both engines add identical
    int64 terms; one integer floor-div closes. Everything after the
    per-customer rollup is 101 rows."""
    orders = load_table(spark, sf_dir, "orders")
    from pyspark.sql import Window

    v = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("x")
    )
    top = v.orderBy(F.desc("x"), F.asc("o_custkey")).limit(101)
    r = top.withColumn(
        "rnk", F.row_number().over(Window.orderBy(F.desc("x")))
    ).withColumn(
        "lq",
        F.floor(F.lit(1000000000) * F.log(F.col("x").cast("double"))).cast(
            "long"
        ),
    )
    xmin = r.filter(F.col("rnk") == 101).select(F.col("lq").alias("lmin"))
    s = (
        r.filter(F.col("rnk") <= 100)
        .crossJoin(F.broadcast(xmin))
        .agg(F.sum(F.col("lq") - F.col("lmin")).cast("long").alias("d"))
    )
    return s.select(
        F.lit(100).cast("long").alias("k"),
        F.expr(
            "CAST((CAST(100 AS BIGINT) * 1000000000 * 1000000) div d AS BIGINT)"
        ).alias("hill_alpha_x1e6"),
    )


@query(
    "price_elasticity_by_brand",
    """
WITH v AS (SELECT p.p_brand AS brand,
                  CAST(floor(10000 * ln(CAST(round(l.l_extendedprice * 100)
                    AS BIGINT))) AS BIGINT) AS x,
                  CAST(floor(10000 * ln(CAST(l.l_quantity AS BIGINT)))
                    AS BIGINT) AS y
           FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
           WHERE l.l_quantity >= 1),
s AS (SELECT brand, CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(x * y) AS HUGEINT) AS sxy,
             CAST(sum(x * x) AS HUGEINT) AS sxx
      FROM v GROUP BY 1)
SELECT brand, CAST(n AS BIGINT) AS n_rows,
       CAST(floor(1000000.0 * CAST(n * sxy - sx * sy AS DOUBLE)
            / CAST(n * sxx - sx * sx AS DOUBLE)) AS BIGINT)
         AS elasticity_x1e6
FROM s ORDER BY brand
""",
)
def q_price_elasticity_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand price-elasticity proxy: the OLS slope of ln(quantity) on
    ln(price) within each brand (the log-log regression whose slope IS
    the elasticity) — the grouped scaling-law fit, heaps_law_fit's
    econometric sibling, and the readout a pricing/mix analysis consumes
    per segment. Quantized-ln integer sufficient statistics per group
    (×1e4 keeps every sum exact int64→HUGEINT at any corpus size), one
    double close per brand with an identical expression tree. One join +
    one grouped aggregate; 25-row output."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    v = (
        li.filter(F.col("l_quantity") >= 1)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select(
            F.col("p_brand").alias("brand"),
            F.floor(
                F.lit(10000)
                * F.log(
                    F.round(F.col("l_extendedprice") * 100)
                    .cast("long")
                    .cast("double")
                )
            )
            .cast("long")
            .alias("x"),
            F.floor(
                F.lit(10000)
                * F.log(F.col("l_quantity").cast("long").cast("double"))
            )
            .cast("long")
            .alias("y"),
        )
    )
    s = v.groupBy("brand").agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
    )
    return s.select(
        "brand",
        F.col("n").cast("long").alias("n_rows"),
        F.floor(
            F.lit(1000000.0)
            * (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                "double"
            )
        )
        .cast("long")
        .alias("elasticity_x1e6"),
    ).orderBy("brand")


@query(
    "event_order_inversions",
    """
WITH o AS (SELECT user_id, event_id, (epoch_ns(ts)//1000) AS ts_us
           FROM events),
s AS (SELECT user_id,
             CASE WHEN lag(ts_us) OVER (PARTITION BY user_id ORDER BY event_id)
                  > ts_us THEN 1 ELSE 0 END AS inv,
             CASE WHEN lag(ts_us) OVER (PARTITION BY user_id ORDER BY event_id)
                  IS NULL THEN 0 ELSE 1 END AS cmp
      FROM o)
SELECT CAST(sum(cmp) AS BIGINT) AS n_adjacent_pairs,
       CAST(sum(inv) AS BIGINT) AS n_inversions,
       CAST(CASE WHEN sum(cmp) = 0 THEN 0
                 ELSE (1000000 * sum(inv)) // sum(cmp) END AS BIGINT)
         AS inversion_ppm
FROM s
""",
)
def q_event_order_inversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order ingestion audit: among adjacent event-id pairs per
    user, how often does the EVENT TIME go backwards — the one-number
    check that decides whether streaming consumers need a watermark at
    all (and how wide): assignment order (event_id) vs event time
    disagreeing is exactly the late-data a watermark must absorb. One
    lag() window per user (state bounded by the user's history), three
    integer sums."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("event_id")
    s = ev.select(
        F.when(
            F.lag(F.unix_micros("ts")).over(w) > F.unix_micros("ts"), 1
        )
        .otherwise(0)
        .alias("inv"),
        F.when(F.lag(F.unix_micros("ts")).over(w).isNull(), 0)
        .otherwise(1)
        .alias("cmp"),
    )
    return s.agg(
        F.sum("cmp").cast("long").alias("n_adjacent_pairs"),
        F.sum("inv").cast("long").alias("n_inversions"),
        F.expr(
            "CAST(CASE WHEN sum(cmp) = 0 THEN 0"
            " ELSE (1000000 * sum(inv)) div sum(cmp) END AS BIGINT)"
        ).alias("inversion_ppm"),
    )


@query(
    "event_entropy_rate",
    """
WITH o AS (SELECT user_id, event_type, (epoch_ns(ts)//1000) AS ts_us, event_id
           FROM events),
bg AS (SELECT event_type AS a,
              lead(event_type) OVER (PARTITION BY user_id
                ORDER BY ts_us, event_id) AS b
       FROM o QUALIFY b IS NOT NULL),
cij AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY 1, 2),
ci AS (SELECT a, CAST(sum(c) AS BIGINT) AS ca FROM cij GROUP BY 1),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cij),
terms AS (SELECT cij.c * (CAST(floor(1000000000 * ln(ci.ca)) AS BIGINT)
                        - CAST(floor(1000000000 * ln(cij.c)) AS BIGINT)) AS t
          FROM cij JOIN ci ON ci.a = cij.a)
SELECT (SELECT n FROM tot) AS n_transitions,
       CAST(sum(t) // (SELECT n FROM tot) AS BIGINT) AS entropy_rate_x1e9
FROM terms
""",
)
def q_event_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical entropy rate of the user-behavior Markov chain —
    H = −Σᵢⱼ (cᵢⱼ/N)·ln(cᵢⱼ/cᵢ) in nats ×1e9: the predictability
    one-number beside markov_next_event_accuracy (low entropy rate means
    journeys are deterministic and a tiny next-event model suffices; high
    means sampling/recommendation has real headroom). Each term is
    cᵢⱼ·(lnq(cᵢ) − lnq(cᵢⱼ)) over exact integer counts — the
    quantized-ln KL decomposition pattern — summed then one floor-div.
    One per-user lead() window, one bigram combine over the bounded
    event-type alphabet."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros("ts"), F.col("event_id")
    )
    bg = ev.select(
        F.col("event_type").alias("a"),
        F.lead("event_type").over(w).alias("b"),
    ).filter(F.col("b").isNotNull())
    cij = bg.groupBy("a", "b").agg(F.count("*").cast("long").alias("c"))
    ci = cij.groupBy("a").agg(F.sum("c").cast("long").alias("ca"))

    def lnq(c):
        return F.floor(F.lit(1000000000) * F.log(F.col(c).cast("double"))).cast(
            "long"
        )

    terms = cij.join(ci, "a").select(
        (F.col("c") * (lnq("ca") - lnq("c"))).alias("t"), "c"
    )
    return terms.agg(
        F.sum("c").cast("long").alias("n_transitions"),
        F.expr("CAST(sum(t) div sum(c) AS BIGINT)").alias(
            "entropy_rate_x1e9"
        ),
    )


_HOLT_C = 1 << 40  # shift-to-nonnegative offset for the trend term


@query(
    "holt_linear_order_forecast",
    f"""
WITH RECURSIVE
d AS MATERIALIZED (
      SELECT datediff('day', DATE '1970-01-01', o_orderdate) AS day,
             CAST(count(*) AS BIGINT) AS y
      FROM orders GROUP BY 1),
r AS MATERIALIZED (
      SELECT day, y, row_number() OVER (ORDER BY day) AS rn FROM d),
n AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM r),
hw(rn, l, B) AS (
  SELECT CAST(1 AS BIGINT), y, CAST({_HOLT_C} AS BIGINT) FROM r WHERE rn = 1
  UNION ALL
  SELECT r.rn,
         (r.y + hw.l + hw.B + {_HOLT_C}) // 2 - {_HOLT_C},
         (hw.B + ((r.y + hw.l + hw.B + {_HOLT_C}) // 2 - {_HOLT_C})
          - hw.l + {_HOLT_C}) // 2
  FROM hw JOIN r ON r.rn = hw.rn + 1)
SELECT CAST(rn AS BIGINT) AS n_days,
       CAST(l AS BIGINT) AS level,
       CAST(B - {_HOLT_C} AS BIGINT) AS trend,
       CAST(l + 7 * (B - {_HOLT_C}) AS BIGINT) AS forecast_7d
FROM hw WHERE rn = (SELECT nd FROM n)
""",
)
def q_holt_linear_order_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing (α=β=1/2, integer-quantized) over
    the daily order-count series, closing with the 7-day-ahead linear
    forecast — the capacity-planning recursion next to the registry's EWMA
    / CUSUM / seasonal anomaly family. Exactness: the level/trend updates
    are integer floor-halvings with the trend SHIFTED by 2^40 so every
    division argument stays nonnegative (DuckDB's // floors, Spark's div
    truncates — they agree only on nonnegative ints; the alignment-margin
    lesson). Scale: the recursion is DAY-DOMAIN-bounded (sequence length =
    distinct days, independent of corpus rows), so after the one
    daily-count aggregate it runs in a single bounded applyInPandas group;
    the oracle is a depth-=-days recursive CTE."""
    import pandas as pd

    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.select(
            F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date")).alias("day")
        )
        .groupBy("day")
        .agg(F.count("*").cast("long").alias("y"))
    )
    C = _HOLT_C

    def holt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        l = int(pdf["y"].iloc[0])
        B = C
        for i in range(1, len(pdf)):
            y = int(pdf["y"].iloc[i])
            l_new = (y + l + B + C) // 2 - C
            B = (B + l_new - l + C) // 2
            l = l_new
        return pd.DataFrame(
            {
                "n_days": [len(pdf)],
                "level": [l],
                "trend": [B - C],
                "forecast_7d": [l + 7 * (B - C)],
            }
        )

    return (
        daily.groupBy(F.lit(1).alias("_g"))
        .applyInPandas(
            lambda _, pdf: holt(pdf),
            "n_days long, level long, trend long, forecast_7d long",
        )
    )


_RECURSIVE_ROLLUP_SPARK = """
WITH RECURSIVE anc(s, a) AS (
  SELECT s_suppkey, s_suppkey FROM supplier
  UNION ALL
  SELECT s, a DIV 2 FROM anc WHERE a > 1
),
rev AS (SELECT l_suppkey AS s,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents
        FROM lineitem GROUP BY l_suppkey)
SELECT a.a AS ancestor,
       CAST(count(*) AS BIGINT) AS n_desc,
       CAST(sum(coalesce(rev.cents, 0)) AS BIGINT) AS subtree_cents
FROM anc a LEFT JOIN rev ON rev.s = a.s
GROUP BY a.a
ORDER BY subtree_cents DESC, ancestor
LIMIT 20
"""


@query(
    "sql_frontend_recursive_rollup",
    """
WITH RECURSIVE anc(s, a) AS (
  SELECT s_suppkey, s_suppkey FROM supplier
  UNION ALL
  SELECT s, a // 2 FROM anc WHERE a > 1
),
rev AS (SELECT l_suppkey AS s,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents
        FROM lineitem GROUP BY l_suppkey)
SELECT a.a AS ancestor,
       CAST(count(*) AS BIGINT) AS n_desc,
       CAST(sum(coalesce(rev.cents, 0)) AS BIGINT) AS subtree_cents
FROM anc a LEFT JOIN rev ON rev.s = a.s
GROUP BY a.a
ORDER BY subtree_cents DESC, ancestor
LIMIT 20
""",
)
def q_sql_frontend_recursive_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WITH RECURSIVE through the SQL front-end (Spark 4's recursive CTE —
    new §2.7 surface): hierarchical subtree rollup where each supplier
    reports up a binary-tree ancestry (parent = key halved), and every
    ancestor aggregates its subtree's revenue — the org-chart/BOM rollup
    pattern, expressed as the SAME recursive SQL text in both engines
    (Spark spells floor-div DIV, DuckDB //; keys are positive so they
    agree). The recursion walks a FUNCTIONAL graph (one parent per node) —
    unique root paths, so UNION ALL (Spark's only recursive mode) cannot
    explode: exactly depth ≈ log₂(max key) rows per supplier."""
    register_views(spark, sf_dir)
    return spark.sql(_RECURSIVE_ROLLUP_SPARK)


@query(
    "kendall_tau_value_hour",
    """
WITH e AS (SELECT ((epoch_ns(ts) // 1000) // 3600000000) % 24 AS x,
                  CAST(round(value) AS BIGINT) AS y
           FROM events),
cells AS (SELECT x, y, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),
xs AS (SELECT DISTINCT x FROM cells),
ys AS (SELECT DISTINCT y FROM cells),
grid AS (SELECT xs.x, ys.y, coalesce(c.n, 0) AS n
         FROM xs CROSS JOIN ys LEFT JOIN cells c USING (x, y)),
u AS (SELECT x, y, n,
             coalesce(sum(n) OVER (PARTITION BY y ORDER BY x
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS ux
      FROM grid),
lg AS (SELECT x, y, n,
              coalesce(sum(ux) OVER (PARTITION BY x ORDER BY y
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS low,
              coalesce(sum(ux) OVER (PARTITION BY x ORDER BY y DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS hig
       FROM u),
s AS (SELECT CAST(sum(CAST(n AS HUGEINT) * low) AS HUGEINT) AS concordant,
             CAST(sum(CAST(n AS HUGEINT) * hig) AS HUGEINT) AS discordant
      FROM lg),
mx AS (SELECT CAST(sum(CAST(t AS HUGEINT) * (t - 1) // 2) AS HUGEINT) AS tie_x
      FROM (SELECT sum(n) AS t FROM cells GROUP BY x)),
my AS (SELECT CAST(sum(CAST(t AS HUGEINT) * (t - 1) // 2) AS HUGEINT) AS tie_y
      FROM (SELECT sum(n) AS t FROM cells GROUP BY y)),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM e)
-- r7 dtype-parity fix: HUGEINT fetches to pandas as float64 while the
-- engine's DECIMAL(38,0) fetches as object — the driver's strict
-- canonicalizer sees a dtype mismatch. Pair counts fit BIGINT up to
-- N ≈ 4.3e9 input rows (N(N-1)/2 ≤ 2^63), so close the OUTPUT to BIGINT
-- on both sides; the internal arithmetic stays HUGEINT/DECIMAL for
-- overflow-free accumulation.
SELECT nn.n_rows, CAST(s.concordant AS BIGINT) AS concordant,
       CAST(s.discordant AS BIGINT) AS discordant,
       CAST(mx.tie_x AS BIGINT) AS tie_x, CAST(my.tie_y AS BIGINT) AS tie_y
FROM nn, s, mx, my
""",
)
def q_kendall_tau_value_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b sufficient statistics between event value and
    hour-of-day — the rank-correlation completion of the Pearson/Spearman
    family, EXACT at any scale: pair counting runs over the (hour ×
    rounded-value) contingency grid (bounded domain — the
    distinct-value-census discipline), concordant/discordant pairs come
    from 2-D dominance prefix sums (two running-frame windows over the
    densified grid — never an unbounded-following frame), ties from the
    marginals, all closing in DECIMAL(38,0)/HUGEINT because C and D are
    O(N²). The caller derives tau-b = (C−D)/√((n0−n1)(n0−n2)); the query
    reports the integer statistics so no cross-engine sqrt is needed."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        F.expr("(unix_micros(ts) div 3600000000) % 24").alias("x"),
        F.round("value").cast("long").alias("y"),
    )
    cells = e.groupBy("x", "y").agg(F.count("*").cast("long").alias("n"))
    with materialized() as m:
        cells = m.cut(cells)  # feeds grid + both marginals
        xs = cells.select("x").distinct()
        ys = cells.select("y").distinct()
        grid = (
            xs.crossJoin(ys)
            .join(cells, ["x", "y"], "left")
            .select("x", "y", F.coalesce("n", F.lit(0)).alias("n"))
        )
        wux = W.partitionBy("y").orderBy("x").rowsBetween(W.unboundedPreceding, -1)
        u = grid.withColumn("ux", F.coalesce(F.sum("n").over(wux), F.lit(0)))
        wlo = W.partitionBy("x").orderBy("y").rowsBetween(W.unboundedPreceding, -1)
        whi = (
            W.partitionBy("x")
            .orderBy(F.desc("y"))
            .rowsBetween(W.unboundedPreceding, -1)
        )
        lg = u.select(
            "n",
            F.coalesce(F.sum("ux").over(wlo), F.lit(0)).alias("low"),
            F.coalesce(F.sum("ux").over(whi), F.lit(0)).alias("hig"),
        )
        d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
        s = lg.agg(
            F.sum(d38(F.col("n")) * d38(F.col("low"))).alias("concordant"),
            F.sum(d38(F.col("n")) * d38(F.col("hig"))).alias("discordant"),
        )
        tx = (
            cells.groupBy("x")
            .agg(F.sum("n").alias("t"))
            .agg(
                F.sum(d38(F.col("t")) * d38(F.col("t") - 1) / F.lit(2))
                .cast("decimal(38,0)")
                .alias("tie_x")
            )
        )
        ty = (
            cells.groupBy("y")
            .agg(F.sum("n").alias("t"))
            .agg(
                F.sum(d38(F.col("t")) * d38(F.col("t") - 1) / F.lit(2))
                .cast("decimal(38,0)")
                .alias("tie_y")
            )
        )
        nn = e.agg(F.count("*").cast("long").alias("n_rows"))
        # close the outputs to BIGINT (see oracle comment: dtype parity; BIGINT
        # holds the pair counts up to ~4.3e9 input rows)
        out = nn.crossJoin(s).crossJoin(tx).crossJoin(ty)
        return m.result(
            out.select(
                "n_rows",
                F.col("concordant").cast("long").alias("concordant"),
                F.col("discordant").cast("long").alias("discordant"),
                F.col("tie_x").cast("long").alias("tie_x"),
                F.col("tie_y").cast("long").alias("tie_y"),
            )
        )


@query(
    "seasonal_decomposition_dow",
    """
WITH d AS (SELECT datediff('day', DATE '1970-01-01', o_orderdate) AS day,
                  CAST(count(*) AS BIGINT) AS y
           FROM orders GROUP BY 1),
mm AS (SELECT min(day) AS lo, max(day) AS hi FROM d),
spine AS (SELECT unnest(range((SELECT lo FROM mm), (SELECT hi FROM mm) + 1))
            AS day),
f AS (SELECT spine.day, coalesce(d.y, 0) AS y
      FROM spine LEFT JOIN d USING (day)),
t AS (SELECT day, y,
             CAST(sum(y) OVER w // 7 AS BIGINT) AS trend,
             count(*) OVER w AS wn
      FROM f WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
r AS (SELECT day, y, trend, y - trend AS resid, day % 7 AS dow7
      FROM t WHERE wn = 7),
s AS (SELECT dow7, CAST(count(*) AS BIGINT) AS n_days,
             CAST((sum(resid) + 1000000 * count(*)) // count(*) - 1000000
                  AS BIGINT) AS seasonal
      FROM r GROUP BY dow7),
e AS (SELECT r.dow7, r.resid - s.seasonal AS rem FROM r JOIN s USING (dow7))
SELECT s.dow7, s.n_days, s.seasonal,
       CAST(sum(CAST(e.rem AS HUGEINT) * e.rem) AS BIGINT) AS remainder_ss
FROM s JOIN e ON e.dow7 = s.dow7
GROUP BY s.dow7, s.n_days, s.seasonal
""",
)
def q_seasonal_decomposition_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite additive decomposition of the daily order series:
    trend = centered 7-day moving average (integer floor, full windows
    only on the gap-densified spine), seasonal = per-day-of-week floor-mean
    of the detrended residual (shifted nonnegative before the floor
    division — residuals can be negative and truncating div would differ),
    and the per-dow remainder sum-of-squares as the decomposition-quality
    readout. Day-domain bounded end to end: the census is days-sized no
    matter the corpus."""
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders")
    d = (
        orders.select(
            F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date")).alias(
                "day"
            )
        )
        .groupBy("day")
        .agg(F.count("*").cast("long").alias("y"))
    )
    mm = d.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    spine = mm.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("day")
    )
    f = spine.join(d, "day", "left").select(
        "day", F.coalesce("y", F.lit(0)).alias("y")
    )
    w = W.orderBy("day").rowsBetween(-3, 3)
    t = f.select(
        "day",
        "y",
        F.expr("sum(y) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)")
        .alias("wsum"),
        F.count("*").over(w).alias("wn"),
    )
    with materialized() as m:
        r = m.cut(  # feeds the seasonal agg + remainder join
            t.filter(F.col("wn") == 7)
            .select(
                "day",
                "y",
                F.expr("wsum div 7").cast("long").alias("trend"),
                (F.col("day") % 7).alias("dow7"),
            )
            .withColumn("resid", F.col("y") - F.col("trend"))
        )
        s = r.groupBy("dow7").agg(
            F.count("*").cast("long").alias("n_days"),
            F.expr("(sum(resid) + 1000000 * count(*)) div count(*) - 1000000")
            .cast("long")
            .alias("seasonal"),
        )
        e = r.join(F.broadcast(s), "dow7").withColumn(
            "rem", F.col("resid") - F.col("seasonal")
        )
        return m.result(
            e.groupBy("dow7", "n_days", "seasonal").agg(
                F.sum(F.col("rem").cast("decimal(38,0)") * F.col("rem"))
                .cast("long")
                .alias("remainder_ss")
            )
        )


@query(
    "theil_sen_order_trend",
    """
WITH d AS MATERIALIZED (
      SELECT datediff('day', DATE '1970-01-01', o_orderdate) AS day,
             CAST(count(*) AS BIGINT) AS y
      FROM orders GROUP BY 1),
p AS (SELECT (1000000 * (b.y - a.y)
              - (((1000000 * (b.y - a.y)) % (b.day - a.day))
                 + (b.day - a.day)) % (b.day - a.day))
             / (b.day - a.day) AS slope_x1e6
      FROM d a JOIN d b ON b.day > a.day),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM p)
SELECT n.n_pairs,
       CAST(quantile_disc(p.slope_x1e6, 0.5) AS BIGINT) AS ts_slope_x1e6,
       CAST(min(p.slope_x1e6) AS BIGINT) AS min_slope_x1e6,
       CAST(max(p.slope_x1e6) AS BIGINT) AS max_slope_x1e6
FROM p, n GROUP BY n.n_pairs
""",
)
def q_theil_sen_order_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of daily order volume: the exact MEDIAN of
    all pairwise day-to-day slopes (quantized ×1e6 with the
    subtract-floor-mod identity so negative slopes floor identically in
    both engines) — the outlier-immune alternative to the OLS trend the
    registry already fits. The pair space is DAY-domain-bounded
    (days²/2 ≈ 2.9M pairs at ~2400 days regardless of corpus rows), so the
    exact median is a percentile_disc over a bounded table."""
    orders = load_table(spark, sf_dir, "orders")
    with materialized() as m:
        d = m.cut(
            orders.select(
                F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date")).alias(
                    "day"
                )
            )
            .groupBy("day")
            .agg(F.count("*").cast("long").alias("y"))
        )
        a, b = d.alias("a"), d.alias("b")
        p = a.join(b, F.col("b.day") > F.col("a.day")).select(
            F.expr(
                "(1000000 * (b.y - a.y)"
                " - (((1000000 * (b.y - a.y)) % (b.day - a.day))"
                "    + (b.day - a.day)) % (b.day - a.day))"
                " div (b.day - a.day)"
            )
            .cast("long")
            .alias("slope_x1e6")
        )
        return m.result(
            p.agg(
                F.count("*").cast("long").alias("n_pairs"),
                F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY slope_x1e6)")
                .cast("long")
                .alias("ts_slope_x1e6"),
                F.min("slope_x1e6").cast("long").alias("min_slope_x1e6"),
                F.max("slope_x1e6").cast("long").alias("max_slope_x1e6"),
            )
        )


@query(
    "chisq_independence_source_lang",
    """
WITH c AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n
           FROM documents GROUP BY 1, 2),
r AS (SELECT source, CAST(sum(n) AS BIGINT) AS nr FROM c GROUP BY 1),
l AS (SELECT lang, CAST(sum(n) AS BIGINT) AS nl FROM c GROUP BY 1),
t AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM c),
grid AS (SELECT r.source, l.lang, r.nr, l.nl, coalesce(c.n, 0) AS n
         FROM r CROSS JOIN l LEFT JOIN c USING (source, lang)),
q AS (SELECT CAST(sum(
         ((CAST(n AS HUGEINT) * t.nt - CAST(nr AS HUGEINT) * nl)
          * (CAST(n AS HUGEINT) * t.nt - CAST(nr AS HUGEINT) * nl) * 1000000)
         // (CAST(nr AS HUGEINT) * nl * t.nt)) AS HUGEINT) AS chi_num,
      CAST(count(*) AS BIGINT) AS n_cells
      FROM grid, t)
SELECT CAST(q.chi_num AS BIGINT) AS chi2_x1e6,
       q.n_cells,
       CAST((SELECT count(*) FROM r) AS BIGINT) AS n_sources,
       CAST((SELECT count(*) FROM l) AS BIGINT) AS n_langs
FROM q
""",
)
def q_chisq_independence_source_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Chi-square test of independence between source and language — the
    categorical-association audit beside the drift chisq (which compares
    time halves): Σ (n·N − nr·nl)² / (nr·nl·N) over the densified
    contingency grid, every term an exact HUGEINT/DECIMAL(38,0) rational
    floored at 1e6 (expected counts never materialize as floats). Domain
    is sources × langs — bounded at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    with materialized() as m:
        c = m.cut(
            docs.groupBy("source", "lang").agg(F.count("*").cast("long").alias("n"))
        )
        r = c.groupBy("source").agg(F.sum("n").cast("long").alias("nr"))
        l = c.groupBy("lang").agg(F.sum("n").cast("long").alias("nl"))
        t = c.agg(F.sum("n").cast("long").alias("nt"))
        grid = (
            r.crossJoin(l)
            .join(c, ["source", "lang"], "left")
            .select("source", "lang", "nr", "nl", F.coalesce("n", F.lit(0)).alias("n"))
            .crossJoin(F.broadcast(t))
        )
        term = (
            "((CAST(n AS DECIMAL(38,0)) * nt - CAST(nr AS DECIMAL(38,0)) * nl)"
            " * (CAST(n AS DECIMAL(38,0)) * nt - CAST(nr AS DECIMAL(38,0)) * nl)"
            " * 1000000) div (CAST(nr AS DECIMAL(38,0)) * nl * nt)"
        )
        q = grid.agg(
            F.sum(F.expr(term)).cast("decimal(38,0)").alias("chi_num"),
            F.count("*").cast("long").alias("n_cells"),
        )
        nr = r.agg(F.count("*").cast("long").alias("n_sources"))
        nl = l.agg(F.count("*").cast("long").alias("n_langs"))
        return m.result(
            q.select(F.col("chi_num").cast("long").alias("chi2_x1e6"), "n_cells")
            .crossJoin(F.broadcast(nr))
            .crossJoin(F.broadcast(nl))
        )


@query(
    "customer_value_lorenz",
    """
WITH u AS (SELECT o_custkey,
                  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                    AS cents
           FROM orders GROUP BY 1),
r AS (SELECT cents, row_number() OVER (ORDER BY cents, o_custkey) AS rn FROM u),
n AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS tot
      FROM u),
c AS (SELECT rn, sum(cents) OVER (ORDER BY rn ROWS UNBOUNDED PRECEDING)
               AS cum
      FROM r),
d AS (SELECT CAST(d AS BIGINT) AS decile,
             (SELECT max(cum) FROM c WHERE rn <= (d * n.n) // 10) AS cum
      FROM generate_series(1, 10) AS g(d), n)
SELECT decile,
       CAST((1000000 * CAST(cum AS HUGEINT)) // n.tot AS BIGINT)
         AS cum_share_ppm,
       CAST(decile * 100000 - (1000000 * CAST(cum AS HUGEINT)) // n.tot
            AS BIGINT) AS equality_gap_ppm
FROM d, n
""",
)
def q_customer_value_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of customer order value (the curve UNDER the Gini the
    registry already reports): cumulative value share of the poorest
    10%..100% of customers, plus each decile's gap to perfect equality —
    the concentration chart a revenue or data-contribution audit reads.
    Exact: per-customer cents census, deterministic (cents, custkey)
    order, then rank AND running sum from ONE distributed pinned range
    partitioning (`operators.ordered.global_rank_cumsum` — no
    customer-proportional single-partition window), ppm floor division.
    The 10 decile thresholds broadcast-equi-join back on the exact rank,
    so the curve costs one sort-shaped shuffle total."""
    from videos_to_tfrecords_spark.operators.ordered import global_rank_cumsum

    orders = load_table(spark, sf_dir, "orders")
    u = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    c = global_rank_cumsum(
        u, [F.col("cents"), F.col("o_custkey")], "cents", "rn", "cum"
    )
    n = c.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("tot"),
    )
    dec = spark.range(1, 11).select(F.col("id").alias("decile"))
    thresholds = dec.crossJoin(F.broadcast(n)).select(
        "decile", "tot", F.expr("(decile * n) div 10").cast("long").alias("rn")
    )
    d = c.join(F.broadcast(thresholds), "rn").groupBy("decile", "tot").agg(
        F.max("cum").alias("cum")
    )
    return d.select(
        F.col("decile").cast("long").alias("decile"),
        F.expr("(1000000 * CAST(cum AS DECIMAL(38,0))) div tot")
        .cast("long")
        .alias("cum_share_ppm"),
        F.expr(
            "decile * 100000 - (1000000 * CAST(cum AS DECIMAL(38,0))) div tot"
        )
        .cast("long")
        .alias("equality_gap_ppm"),
    ).orderBy("decile")


@query(
    "approx_quantile_accuracy_eval",
    """
WITH v AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS x FROM lineitem),
c AS (SELECT x, CAST(count(*) AS BIGINT) AS t FROM v GROUP BY 1),
r AS (SELECT x, t,
             CAST(coalesce(sum(t) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED
                    PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
      FROM c),
n AS (SELECT CAST(sum(t) AS BIGINT) AS n FROM c),
q AS (SELECT CAST(q_ppm AS BIGINT) AS q_ppm
      FROM (VALUES (250000), (500000), (750000), (990000)) AS q(q_ppm)),
k AS (SELECT q_ppm, CAST((q_ppm * n + 999999) // 1000000 AS BIGINT) AS k
      FROM q, n)
SELECT k.q_ppm,
       CAST(min(r.x) AS BIGINT) AS exact_q_cents,
       TRUE AS within_bound
FROM r JOIN k ON r.cum < k.k AND r.cum + r.t >= k.k
GROUP BY k.q_ppm
""",
)
def q_approx_quantile_accuracy_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Measured accuracy of ``percentile_approx`` (Greenwald-Khanna,
    accuracy=1000 ⇒ rank error ε = N/1000) against the EXACT order
    statistics — the sketch-quality gate next to hll_accuracy_eval
    (distinct counts), bloom_filter_fpr (membership), and
    minhash_estimate_calibration (Jaccard): before a 100 TB pipeline
    trusts approx quantiles for partition sizing, skew thresholds, or
    score cutoffs, this query says whether the GK guarantee actually
    holds on this data. The approx VALUE itself is engine-specific so it
    never reaches the output; what is hash-checked is (a) the exact
    quantile at rank ⌈q·N⌉ from the distinct-value census (running count
    via the distributed ordered prefix sum — operators/ordered.py), and
    (b) the boolean GK bound check: the tie-range of the returned value,
    [count(<a)+1, count(≤a)], must intersect [(q−ε)·N, (q+ε)·N] — all
    integer arithmetic, TRUE by the GK contract, so the oracle emits the
    literal and any bound violation is a red row."""
    from videos_to_tfrecords_spark.operators.ordered import global_cumsum

    li = load_table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("x")
    )
    c = li.groupBy("x").agg(F.count("*").cast("long").alias("t"))
    with materialized() as m:
        # census feeds the exact leg AND both rank counts
        c = m.cut(global_cumsum(c, [F.col("x")], "t", "cum", before=True, scope=m))
        tot = c.agg(F.sum("t").cast("long").alias("n"))
        qs = spark.createDataFrame(
            [(250000,), (500000,), (750000,), (990000,)], "q_ppm long"
        )
        ks = qs.crossJoin(F.broadcast(tot)).select(
            "q_ppm",
            "n",
            F.expr("CAST((q_ppm * n + 999999) div 1000000 AS BIGINT)").alias("k"),
        )
        exact = (
            c.join(
                F.broadcast(ks),
                (F.col("cum") < F.col("k"))
                & (F.col("cum") + F.col("t") >= F.col("k")),
            )
            .groupBy("q_ppm")
            .agg(F.min("x").cast("long").alias("exact_q_cents"))
        )
        ap = (
            li.agg(
                F.percentile_approx(
                    "x", [0.25, 0.5, 0.75, 0.99], 1000
                ).alias("arr")
            )
            .select(F.posexplode("arr").alias("i", "a"))
            .select(
                F.element_at(
                    F.array(
                        F.lit(250000), F.lit(500000), F.lit(750000), F.lit(990000)
                    ),
                    F.col("i") + 1,
                )
                .cast("long")
                .alias("q_ppm"),
                "a",
            )
        )
        ranks = (
            c.crossJoin(F.broadcast(ap))
            .groupBy("q_ppm", "a")
            .agg(
                F.sum(F.when(F.col("x") < F.col("a"), F.col("t")).otherwise(0))
                .cast("long")
                .alias("lt"),
                F.sum(F.when(F.col("x") <= F.col("a"), F.col("t")).otherwise(0))
                .cast("long")
                .alias("le"),
            )
        )
        within = ranks.crossJoin(F.broadcast(tot)).select(
            "q_ppm",
            (
                ((F.col("lt") + 1) * 1000000 <= (F.col("q_ppm") + 1000) * F.col("n"))
                & (F.col("le") * 1000000 >= (F.col("q_ppm") - 1000) * F.col("n"))
            ).alias("within_bound"),
        )
        return m.result(
            exact.join(within, "q_ppm").select("q_ppm", "exact_q_cents", "within_bound")
        )


_ZM_FILES = 64
# both dimensions are scaled to a common 2^10 grid BEFORE interleaving —
# raw keys of unequal magnitude would let the wider key dominate the
# Morton code's high bits and the "z-order" would degenerate into a 1-D
# sort on that key (Delta's OPTIMIZE ZORDER BY does the same range-based
# normalization via per-column rank quantiles)
_ZM_BITS = 10


def _zonemap_oracle() -> str:
    from videos_to_tfrecords_spark.functions.zorder import z_value_sql

    z = z_value_sql(
        f"((l_partkey * {1 << _ZM_BITS}) // ((SELECT pm FROM n) + 1))",
        f"((l_suppkey * {1 << _ZM_BITS}) // ((SELECT sm FROM n) + 1))",
        _ZM_BITS,
    )
    ov = "pmax >= plo AND pmin <= phi AND smax >= slo AND smin <= shi"

    def zones(rank_order: str, layout: str) -> str:
        return f"""
SELECT '{layout}' AS layout,
       (r - 1) // (SELECT (n + {_ZM_FILES - 1}) // {_ZM_FILES} FROM n) AS f,
       min(p) AS pmin, max(p) AS pmax, min(s) AS smin, max(s) AS smax,
       count(*) AS nrows
FROM (SELECT l_partkey AS p, l_suppkey AS s,
             row_number() OVER (ORDER BY {rank_order}) AS r FROM v)
GROUP BY 1, 2"""

    return f"""
WITH n AS (SELECT count(*) AS n, max(l_partkey) AS pm,
                  max(l_suppkey) AS sm
           FROM lineitem),
v AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
             {z} AS zval
      FROM lineitem),
preds AS (
  SELECT 'both_dims' AS predicate, pm // 10 AS plo, (3 * pm) // 10 AS phi,
         sm // 10 AS slo, (3 * sm) // 10 AS shi FROM n
  UNION ALL
  SELECT 'suppkey_only', 0, pm, sm // 10, (3 * sm) // 10 FROM n),
f AS ({zones("l_partkey, l_orderkey, l_linenumber", "partkey_sort")}
      UNION ALL
      {zones("zval, l_orderkey, l_linenumber", "zorder")}),
s AS (SELECT layout, predicate,
             CAST(count(*) AS BIGINT) AS n_files,
             CAST(sum(CASE WHEN {ov} THEN 1 ELSE 0 END) AS BIGINT)
               AS files_scanned,
             CAST(sum(CASE WHEN {ov} THEN nrows ELSE 0 END) AS BIGINT)
               AS rows_scanned
      FROM f, preds GROUP BY 1, 2),
m AS (SELECT predicate, CAST(count(*) AS BIGINT) AS rows_matching
      FROM v, preds
      WHERE l_partkey BETWEEN plo AND phi AND l_suppkey BETWEEN slo AND shi
      GROUP BY 1)
SELECT s.layout, s.predicate, s.n_files, s.files_scanned, s.rows_scanned,
       m.rows_matching,
       CAST((1000000 * s.rows_scanned) // m.rows_matching AS BIGINT)
         AS scan_amplification_ppm
FROM s JOIN m ON m.predicate = s.predicate
"""


@query("zonemap_pruning_census", _zonemap_oracle())
def q_zonemap_pruning_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level min/max (zone-map) pruning effectiveness, measured — the
    layout decision a lakehouse table owner makes before a 100 TB scan:
    lay lineitem out as {_ZM_FILES} equal files under (a) a 1-D partkey
    sort and (b) a z-order (Morton) clustering of (partkey, suppkey),
    compute each file's min/max box EXACTLY (the numbers Delta/Iceberg
    store per file in their manifests), then count the files + rows TWO
    predicates must touch under each layout: a 2-D range box, and a
    suppkey-only range — the dimension the 1-D sort cannot prune (it
    scans every file; the z-curve bounds every file in BOTH dimensions).
    `scan_amplification_ppm` = rows the zone maps force you to read per
    matching row. File boundaries are the exact global rank
    (operators/ordered.py — no sampling nondeterminism), so the whole
    census hash-checks cross-engine; the PHYSICAL write → parquet-footer
    path (sources/layout.write_zordered + prunable_files) is exercised in
    tests/test_storage_layout.py and follows this arithmetic exactly."""
    from videos_to_tfrecords_spark.functions.zorder import z_value
    from videos_to_tfrecords_spark.operators.ordered import global_row_number

    raw = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    n, pm, sm = raw.agg(
        F.count("*"), F.max("l_partkey"), F.max("l_suppkey")
    ).collect()[0]
    # NOT persisted: the zval frame feeds three downstream passes (the
    # matching census + two global_row_number range pins), but an r10 sf1
    # A/B showed caching 6M rows costs MORE than re-running the vectorized
    # parquet scan + Morton interleave per pass (9.1 s vs 5.4 s steady) —
    # the scan is page-cached and columnar, the cache build is not free
    li = raw.withColumn(
        "zval",
        z_value(
            F.expr(f"CAST((l_partkey * {1 << _ZM_BITS}) div {pm + 1} AS BIGINT)"),
            F.expr(f"CAST((l_suppkey * {1 << _ZM_BITS}) div {sm + 1} AS BIGINT)"),
            _ZM_BITS,
        ),
    )
    rows_per_file = (n + _ZM_FILES - 1) // _ZM_FILES
    preds = {
        "both_dims": (pm // 10, (3 * pm) // 10, sm // 10, (3 * sm) // 10),
        "suppkey_only": (0, pm, sm // 10, (3 * sm) // 10),
    }
    # both predicates' matching counts in ONE pass (was one count() job each)
    match_row = li.agg(
        *[
            F.sum(
                F.when(
                    F.col("l_partkey").between(plo, phi)
                    & F.col("l_suppkey").between(slo, shi),
                    1,
                ).otherwise(0)
            ).alias(name)
            for name, (plo, phi, slo, shi) in preds.items()
        ]
    ).collect()[0]
    matching = {name: match_row[name] for name in preds}

    def census(m, order_cols, layout: str) -> DataFrame:
        zones = m.cut(  # 64 rows feed both predicates
            global_row_number(li, order_cols, "_r", scope=m)
            .withColumn(
                "f", F.expr(f"CAST((_r - 1) div {rows_per_file} AS BIGINT)")
            )
            .groupBy("f")
            .agg(
                F.min("l_partkey").alias("pmin"),
                F.max("l_partkey").alias("pmax"),
                F.min("l_suppkey").alias("smin"),
                F.max("l_suppkey").alias("smax"),
                F.count("*").alias("nrows"),
            )
        )
        outs = []
        for name, (plo, phi, slo, shi) in preds.items():
            ov = (
                (F.col("pmax") >= plo)
                & (F.col("pmin") <= phi)
                & (F.col("smax") >= slo)
                & (F.col("smin") <= shi)
            )
            outs.append(
                zones.agg(
                    F.count("*").cast("long").alias("n_files"),
                    F.sum(F.when(ov, 1).otherwise(0))
                    .cast("long")
                    .alias("files_scanned"),
                    F.sum(F.when(ov, F.col("nrows")).otherwise(0))
                    .cast("long")
                    .alias("rows_scanned"),
                ).select(
                    F.lit(layout).alias("layout"),
                    F.lit(name).alias("predicate"),
                    "n_files",
                    "files_scanned",
                    "rows_scanned",
                    F.lit(matching[name]).cast("long").alias("rows_matching"),
                )
            )
        return outs[0].unionByName(outs[1])

    with materialized() as m:
        a = census(
            m,
            [F.col("l_partkey"), F.col("l_orderkey"), F.col("l_linenumber")],
            "partkey_sort",
        )
        b = census(
            m, [F.col("zval"), F.col("l_orderkey"), F.col("l_linenumber")], "zorder"
        )
        return m.result(
            a.unionByName(b).withColumn(
                "scan_amplification_ppm",
                F.expr("CAST((1000000 * rows_scanned) div rows_matching AS BIGINT)"),
            )
        )


@query(
    "cogroup_asof_enrichment",
    """
WITH f AS (SELECT event_id,
                  CAST(round(value * 100) AS BIGINT) AS cents,
                  user_id AS k,
                  CAST(epoch_us(ts) AS BIGINT) AS us
           FROM events WHERE event_type = 'purchase'),
h AS (SELECT user_id AS k, CAST(epoch_us(ts) AS BIGINT) AS us,
             event_id AS tie, event_type AS val
      FROM events WHERE event_type <> 'purchase'),
matched AS (
  SELECT f.event_id, f.cents, h.val,
         row_number() OVER (
           PARTITION BY f.event_id
           ORDER BY h.us DESC, h.tie DESC) AS rn
  FROM f JOIN h ON h.k = f.k AND h.us <= f.us),
best AS (SELECT event_id, cents, val FROM matched WHERE rn = 1),
uni AS (
  SELECT event_id, cents, val FROM best
  UNION ALL
  SELECT f.event_id, f.cents, '__none__' AS val
  FROM f WHERE NOT EXISTS (SELECT 1 FROM best b
                           WHERE b.event_id = f.event_id))
SELECT val AS last_touch,
       CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(sum(cents) AS BIGINT) AS total_cents,
       CAST(sum(event_id) AS BIGINT) AS id_sum
FROM uni GROUP BY val
""",
)
def q_cogroup_asof_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped-map as-of enrichment — ``groupBy().cogroup().
    applyInPandas``, the two-sided per-key pandas merge (the DataFrame
    twin of Beam's CoGroupByKey behind SURVEY §2.6's composites): each
    purchase event picks the user's most recent NON-purchase event
    at-or-before it (ties -> max event_id) — last-touch attribution with
    genuinely interleaved timelines; purchases with no prior touch fall
    to '__none__' (40 such at sf0.01, the empty/none path is real).
    Census per last-touch type with integer-cents totals and an id-sum
    pin. The declarative as-of join (operators/rangejoin.py) covers the
    same semantics via plans; this checks the imperative cogroup surface
    against identical SQL."""
    from videos_to_tfrecords_spark.operators.cogroup import (
        cogroup_asof_enrich,
    )

    ev = load_table(spark, sf_dir, "events")
    facts = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("k"),
        F.expr("unix_micros(ts)").alias("us"),
        F.col("event_id").alias("eid"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    hist = ev.filter(F.col("event_type") != "purchase").select(
        F.col("user_id").alias("k"),
        F.expr("unix_micros(ts)").alias("us"),
        F.col("event_id").alias("tie"),
        F.col("event_type").alias("val"),
    )
    enriched = cogroup_asof_enrich(facts, hist)
    return (
        enriched.groupBy(F.col("val").alias("last_touch"))
        .agg(
            F.count("*").cast("long").alias("n_purchases"),
            F.sum("cents").cast("long").alias("total_cents"),
            F.sum("eid").cast("long").alias("id_sum"),
        )
    )


_LATERAL_SQL = """
SELECT n.n_name,
       t.okey AS top_orderkey,
       t.cents AS top_cents,
       s.n_cust AS n_customers
FROM nation n
JOIN LATERAL (
  SELECT o.o_orderkey AS okey,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY cents DESC, o.o_orderkey DESC
  LIMIT 1
) t
JOIN LATERAL (
  SELECT count(*) AS n_cust FROM customer c2
  WHERE c2.c_nationkey = n.n_nationkey
) s
"""


@query(
    "lateral_join_frontend",
    """
WITH ranked AS (
  SELECT c.c_nationkey, o.o_orderkey AS okey,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
         row_number() OVER (
           PARTITION BY c.c_nationkey
           ORDER BY CAST(round(o.o_totalprice * 100) AS BIGINT) DESC,
                    o.o_orderkey DESC) AS rn
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
nc AS (SELECT c_nationkey, count(*) AS n_cust FROM customer GROUP BY 1)
SELECT n.n_name,
       CAST(r.okey AS BIGINT) AS top_orderkey,
       CAST(r.cents AS BIGINT) AS top_cents,
       CAST(nc.n_cust AS BIGINT) AS n_customers
FROM nation n
JOIN ranked r ON r.c_nationkey = n.n_nationkey AND r.rn = 1
JOIN nc ON nc.c_nationkey = n.n_nationkey
""",
)
def q_lateral_join_frontend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated-subquery join (SPARK-34382 front-end): per
    nation, the top order among its customers via ``JOIN LATERAL (...
    ORDER BY ... LIMIT 1)`` plus a second lateral with a correlated
    aggregate — Catalyst decorrelates both into joins
    (DecorrelateInnerQuery handles the correlated LIMIT), checked against
    a classic window-rank oracle. Nations with no orders drop on both
    sides (inner lateral). Depth-2 correlation (a scalar subquery inside
    the lateral referencing the outer row) is NOT supported by Spark —
    hence two depth-1 laterals."""
    register_views(spark, sf_dir)
    return spark.sql(_LATERAL_SQL)


@query(
    "sql4_agg_surface",
    """
SELECT l_returnflag,
       string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus)
         AS statuses,
       CAST(2 * median(l_quantity) AS BIGINT) AS median_qty_x2,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem GROUP BY l_returnflag
""",
)
def q_sql4_agg_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 aggregate-function surface: ``listagg(DISTINCT ..) WITHIN
    GROUP (ORDER BY ..)`` (SPARK-42746), ``median`` (interpolating, made
    hash-exact by the ×2 integer quantization), and the ``try_`` family
    (``try_sum`` — same value as sum absent overflow, which the oracle's
    plain sum pins). The ordered-DISTINCT listagg is over the bounded
    linestatus domain (≤3 values/group), not corpus rows."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
SELECT l_returnflag,
       listagg(DISTINCT l_linestatus, ',')
         WITHIN GROUP (ORDER BY l_linestatus) AS statuses,
       CAST(2 * median(l_quantity) AS BIGINT) AS median_qty_x2,
       CAST(try_sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem GROUP BY l_returnflag
"""
    )


@query(
    "bitmap_distinct_census",
    """
SELECT l_returnflag,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_distinct_parts,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem GROUP BY l_returnflag
""",
)
def q_bitmap_distinct_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Roaring-bitmap EXACT distinct-count pre-aggregation (SPARK-44846
    bitmap function family): per (flag, linestatus, bucket) the partkeys
    fold into a fixed 4 KB bitmap (``bitmap_construct_agg`` of
    ``bitmap_bit_position``), bitmaps then OR-merge across linestatus
    (``bitmap_or_agg``) and ``bitmap_count`` + sum gives the exact
    distinct — the scalable COUNT DISTINCT pattern: the wide fact rows
    reduce map-side to ≤ buckets × groups bitmaps, merges are tiny and
    associative (cube/rollup-friendly), no row-level distinct shuffle.
    Oracle: plain COUNT(DISTINCT). n_rows pins the input census."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
WITH leaf AS (
  SELECT l_returnflag, l_linestatus,
         bitmap_bucket_number(l_partkey) AS bucket,
         bitmap_construct_agg(bitmap_bit_position(l_partkey)) AS bm,
         count(*) AS n_rows
  FROM lineitem
  GROUP BY 1, 2, 3),
merged AS (
  SELECT l_returnflag, bucket,
         bitmap_count(bitmap_or_agg(bm)) AS cnt,
         sum(n_rows) AS n_rows
  FROM leaf GROUP BY 1, 2)
SELECT l_returnflag,
       CAST(sum(cnt) AS BIGINT) AS n_distinct_parts,
       CAST(sum(n_rows) AS BIGINT) AS n_rows
FROM merged GROUP BY l_returnflag
"""
    )


# the schema_of_variant literal for variant_shred_census rows — single
# definition shared by the query (drift counter) and the oracle (pin)
_VARIANT_SHRED_SCHEMA = (
    "OBJECT<event_id: BIGINT, meta: OBJECT<cents: BIGINT,"
    " event_type: STRING>, tags: ARRAY<STRING>>"
)


@query(
    "variant_shred_census",
    """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(event_id) AS BIGINT) AS eid_sum,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents_sum,
       CAST(sum(event_id % 7) AS BIGINT) AS tag_sum,
       CAST(count(*) AS BIGINT) AS n_type_mismatch_null,
       CAST(count(*) AS BIGINT) AS n_missing_null,
       'OBJECT<event_id: BIGINT, meta: OBJECT<cents: BIGINT, event_type: STRING>, tags: ARRAY<STRING>>'
         AS variant_schema,
       CAST(0 AS BIGINT) AS n_schema_drift
FROM events GROUP BY event_type
""",
)
def q_variant_shred_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT shredding (SPARK-45891): semi-structured event
    payloads parsed once into the binary VARIANT encoding, then shredded
    with typed path extraction — nested object fields
    (``variant_get('$.meta.cents', 'long')``), array indexing
    (``'$.tags[1]'``), and the two NULL contracts (``try_variant_get``
    yields NULL for a type mismatch on an object and for a missing key —
    both counted, so a silent contract change is a red row).
    ``schema_of_variant`` pins the inferred per-row schema (alphabetical
    field order) against a string literal in the oracle, which recomputes
    every aggregate from the flat columns the JSON was built from — the
    JSON → VARIANT → shred round-trip is therefore value-hash-checked
    end to end.

    Precondition (r8 ADVICE): the pinned literal assumes every events row
    has non-NULL event_id/event_type/value — ``to_json`` DROPS NULL
    fields, so a NULL would change that row's ``schema_of_variant`` and
    could silently shift ``min(sv)``. ``n_schema_drift`` counts rows whose
    inferred schema differs from the literal (oracle pins it to 0), so a
    generator change that introduces NULLs produces an explicit red row
    instead of a confusing min() drift.

    Scale: VARIANT parse + path extraction are per-row JVM expressions
    inside whole-stage codegen (no UDF, no shuffle added); the single
    exchange is the final partial→final aggregate on event_type."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    v = ev.select(
        F.parse_json(
            F.to_json(
                F.struct(
                    F.col("event_id"),
                    F.struct(F.col("event_type"), F.col("cents")).alias("meta"),
                    F.array(
                        F.col("event_type"),
                        (F.col("event_id") % 7).cast("string"),
                    ).alias("tags"),
                )
            )
        ).alias("v")
    )
    shred = v.select(
        F.expr("variant_get(v, '$.meta.event_type', 'string')").alias("event_type"),
        F.expr("variant_get(v, '$.event_id', 'long')").alias("eid"),
        F.expr("variant_get(v, '$.meta.cents', 'long')").alias("cents"),
        F.expr("cast(variant_get(v, '$.tags[1]', 'string') AS long)").alias("tag"),
        F.expr("try_variant_get(v, '$.meta', 'long')").alias("bad"),
        F.expr("try_variant_get(v, '$.nope', 'string')").alias("missing"),
        F.expr("schema_of_variant(v)").alias("sv"),
    )
    return shred.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("eid").cast("long").alias("eid_sum"),
        F.sum("cents").cast("long").alias("cents_sum"),
        F.sum("tag").cast("long").alias("tag_sum"),
        F.count(F.when(F.col("bad").isNull(), 1)).cast("long").alias("n_type_mismatch_null"),
        F.count(F.when(F.col("missing").isNull(), 1)).cast("long").alias("n_missing_null"),
        F.min("sv").alias("variant_schema"),
        F.sum(
            F.when(F.col("sv") != _VARIANT_SHRED_SCHEMA, 1).otherwise(0)
        ).cast("long").alias("n_schema_drift"),
    )


@query(
    "collated_group_census",
    """
WITH m AS (
  SELECT CASE WHEN event_id % 3 = 0 THEN upper(event_type)
              WHEN event_id % 3 = 1
                THEN concat(upper(substr(event_type, 1, 1)), substr(event_type, 2))
              ELSE event_type END AS raw
  FROM events)
SELECT lower(raw) AS key_lc,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT raw) AS BIGINT) AS n_case_variants,
       min(raw) AS min_variant
FROM m GROUP BY lower(raw)
""",
)
def q_collated_group_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 string collations (SPARK-46830): a deterministically
    mixed-cased derivative of event_type grouped under ``UTF8_LCASE`` —
    the equivalence classes are case-insensitive while the aggregated
    values (distinct-variant count, binary min) stay UTF8_BINARY, proving
    the two collations coexist per-expression in one aggregate. The
    collated GROUP BY rides the normal hash-aggregate codegen (collation
    support is an expression-level comparator, not a post-shuffle fixup);
    the oracle lowers the key explicitly, which for this ASCII domain is
    the same equivalence relation. The collated grouping key itself is
    NOT emitted (Spark surfaces an arbitrary class member); the output
    key is ``lower(min_variant)`` — deterministic on both engines."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    mixed = F.expr(
        "CASE WHEN event_id % 3 = 0 THEN upper(event_type)"
        " WHEN event_id % 3 = 1 THEN concat(upper(substring(event_type, 1, 1)),"
        " substring(event_type, 2)) ELSE event_type END"
    )
    raw = ev.select(mixed.alias("raw"))
    return (
        raw.groupBy(F.collate(F.col("raw"), "UTF8_LCASE").alias("k"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.countDistinct("raw").cast("long").alias("n_case_variants"),
            F.min("raw").alias("min_variant"),
        )
        .select(
            F.lower(F.col("min_variant")).alias("key_lc"),
            "n",
            "n_case_variants",
            "min_variant",
        )
    )


@query(
    "sql_udf_frontend",
    """
WITH rev AS (
  SELECT l_returnflag, l_linestatus,
         CAST(round(l_extendedprice*100) AS BIGINT)
           * (100 - CAST(round(l_discount*100) AS BIGINT)) AS rc4
  FROM lineitem)
SELECT l_returnflag, l_linestatus,
       CAST(sum(rc4) // 100 AS BIGINT) AS revenue_cents,
       CAST(count(*) AS BIGINT) AS n
FROM rev GROUP BY 1, 2 HAVING count(*) >= 10
""",
)
def q_sql_udf_frontend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL-defined functions (SPARK-46246) composed with the rest
    of the declarative front-end: a scalar SQL UDF (``c4_to_cents``), a
    TABLE-valued SQL UDF (``flag_breakdown`` — its body reads the fact
    table through the ``IDENTIFIER()`` clause and references its argument
    by qualified name) applied per-flag via correlated ``LATERAL``, and a
    parameterized outer query (named ``:minn`` bind). SQL UDFs inline
    into the plan during analysis — the executed plan is ordinary
    aggregates and joins, NOT a per-row function call, so the composition
    costs nothing at scale. Known engine limit (probed on this Spark,
    kept out of the body): a scalar SQL UDF referenced INSIDE a SQL table
    function's body fails analysis rewriting with an internal error, so
    the revenue arithmetic is inlined in the table function and the
    scalar UDF is applied in the outer query. Oracle: the same integer
    c4-revenue aggregate written directly."""
    register_views(spark, sf_dir)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION c4_to_cents(r BIGINT)"
        " RETURNS BIGINT RETURN r div 100"
    )
    spark.sql(
        """
CREATE OR REPLACE TEMPORARY FUNCTION flag_breakdown(rf STRING)
RETURNS TABLE (l_linestatus STRING, revenue_c4 BIGINT, n BIGINT)
RETURN SELECT l_linestatus,
              CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
                       * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT),
              count(*)
       FROM IDENTIFIER('lineitem')
       WHERE l_returnflag = flag_breakdown.rf
       GROUP BY l_linestatus
"""
    )
    return spark.sql(
        """
SELECT f.rf AS l_returnflag, t.l_linestatus,
       c4_to_cents(t.revenue_c4) AS revenue_cents, t.n
FROM (SELECT DISTINCT l_returnflag AS rf FROM lineitem) f,
     LATERAL flag_breakdown(f.rf) t
WHERE t.n >= :minn
""",
        args={"minn": 10},
    )
