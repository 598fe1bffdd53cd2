"""Text-analysis + dedup queries over `documents` (SURVEY §7.1 M5).

Oracle notes: every hash is the portable md5-prefix so DuckDB reproduces it
bit-for-bit; ratios are integer-scaled + floored (IEEE division of exact
integers floors identically in both engines).

MinHash-LSH oracle posture (revised r9): through r8 the LSH query's oracle
was the exact all-pairs ground truth under a geometry argument ("8×2 bands
at threshold 0.5 make a recall miss vanishingly unlikely"). The r9 sf1
value-hash gate refuted it — 14 true pairs at J 0.80-0.91 were missed
(P(miss) = (1-J²)^8 ≈ 1e-4 there, and the synthetic corpus has that J band
in volume). LSH recall is probabilistic, so the contract is now: the
hash-checked doc_minhash_lsh_pairs replays the full LSH pipeline in the
oracle (portable signatures — equality is structural at any SF);
minhash_lsh_recall_eval MEASURES recall per J band against the lossless
ground truth; doc_ngram_jaccard_pairs remains the exact baseline; the
scan-side fast-hash variant is rows-only (doc_minhash_lsh_pairs_mapside).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from videos_to_tfrecords_spark.functions.hashing import h15_sql
from videos_to_tfrecords_spark.functions.textfn import shingles_sql
from videos_to_tfrecords_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_dedup_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from videos_to_tfrecords_spark.operators.text import (
    LANG_MARKERS,
    STOPWORDS,
    with_fingerprint,
    with_lang_id,
    with_quality_score,
    with_token_stats,
)
from videos_to_tfrecords_spark.plans.registry import query
from videos_to_tfrecords_spark.sources.tables import load_table


@query(
    "doc_token_stats",
    """
WITH t AS (SELECT doc_id, text, n_chars, string_split(text, ' ') AS toks FROM documents)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars_calc,
       CAST(floor(100.0 * (length(text) - (len(toks) - 1)) / len(toks)) AS BIGINT)
         AS avg_token_len_x100,
       length(text) = n_chars AS matches_meta
FROM t
""",
)
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + char stats (M5 text analysis), cross-checked against
    the table's precomputed n_chars."""
    docs = load_table(spark, sf_dir, "documents")
    out = with_token_stats(docs)
    return out.select(
        "doc_id",
        "n_tokens",
        "n_chars_calc",
        "avg_token_len_x100",
        (F.col("n_chars_calc") == F.col("n_chars")).alias("matches_meta"),
    )


_STOP_IN = ", ".join(f"'{s}'" for s in STOPWORDS)


@query(
    "doc_quality_score",
    f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
SELECT doc_id,
       CAST(len(list_filter(toks, x -> x IN ({_STOP_IN}))) AS BIGINT) AS stop_hits,
       CAST(floor(1000.0 * len(list_filter(toks, x -> x IN ({_STOP_IN}))) / len(toks)) AS BIGINT)
         AS stop_ratio_x1000
FROM t
""",
)
def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio quality scoring (M5): the shape of every cheap
    quality filter a 100 TB text pipeline runs at the scan."""
    docs = load_table(spark, sf_dir, "documents")
    return with_quality_score(docs).select("doc_id", "stop_hits", "stop_ratio_x1000")


def _lang_oracle() -> str:
    def occ(m: str) -> str:
        return f"(length(p) - length(replace(p, '{m}', ''))) // {len(m)}"

    score_exprs = {
        lang: " + ".join(occ(m) for m in markers) for lang, markers in LANG_MARKERS.items()
    }
    langs = list(LANG_MARKERS)
    whens = []
    for i, lang in enumerate(langs):
        conds = [f"s_{lang} > 0"] + [f"s_{lang} >= s_{later}" for later in langs[i + 1 :]]
        whens.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    case = "CASE " + " ".join(whens) + " ELSE 'und' END"
    scores_sel = ", ".join(f"CAST({e} AS BIGINT) AS s_{lang}" for lang, e in score_exprs.items())
    out_cols = ", ".join(f"s_{lang} AS score_{lang}" for lang in langs)
    return f"""
WITH p AS (SELECT doc_id, ' ' || text || ' ' AS p FROM documents),
s AS (SELECT doc_id, {scores_sel} FROM p)
SELECT doc_id, {out_cols}, {case} AS lang_pred FROM s
"""


@query("doc_lang_id", _lang_oracle())
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic marker-n-gram language ID (M5): occurrence scores per
    language, cascading argmax with declaration-order tie-break."""
    docs = load_table(spark, sf_dir, "documents")
    out = with_lang_id(docs)
    cols = ["doc_id"] + [F.col(f"score_{g}").alias(f"score_{g}") for g in LANG_MARKERS]
    return out.select(*cols, "lang_pred")


@query(
    "doc_fingerprint",
    f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
h AS (SELECT doc_id,
             unnest(list_transform(toks,
                    (x, i) -> {h15_sql("concat(CAST(i AS VARCHAR), ':', x)")})) AS hv
      FROM t)
SELECT doc_id, CAST(bit_xor(hv) AS BIGINT) AS fingerprint FROM h GROUP BY doc_id
""",
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional XOR fingerprint (M5 'rolling hash' analog): equal docs ⇒
    equal prints; order-sensitive via position salting."""
    docs = load_table(spark, sf_dir, "documents")
    return with_fingerprint(docs).select("doc_id", "fingerprint")


@query(
    "doc_exact_dedup",
    """
SELECT doc_id,
       md5(text) AS content_md5,
       min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
       doc_id != min(doc_id) OVER (PARTITION BY md5(text)) AS is_duplicate
FROM documents
""",
)
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content-hash groupBy (M5): canonical = min id per
    md5 group. Only (hash, id) ever shuffles — never the text."""
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs)


_JACCARD_ORACLE = f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (SELECT DISTINCT doc_id, unnest({shingles_sql("t")}) AS s FROM tok),
pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
j AS (SELECT id_a, id_b,
             CAST(floor(1000.0 * common / (sa.n + sb.n - common)) AS BIGINT) AS j_x1000
      FROM pairs JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b)
SELECT * FROM j WHERE j_x1000 >= 500
"""


def _portable_lsh_cte() -> str:
    """Shared WITH-fragment replaying the portable-signature LSH pipeline
    (operators/dedup.minhash_signatures_portable + lsh_candidate_pairs)
    in DuckDB: shingles → h15 30-bit halves → 16 affine-perm minima → 8×2
    band keys → distinct banding candidates. Used by the
    doc_minhash_lsh_pairs oracle, minhash_estimate_calibration, and
    minhash_lsh_recall_eval so the replay has exactly one definition."""
    p = 1_000_000_007
    sig_cols = ",\n       ".join(
        f"min((x1 * {2 * i + 1} + x2 * {4 * i + 3} + {i}) % {p}) AS sig{i}"
        for i in range(16)
    )
    band_selects = "\nUNION ALL ".join(
        f"SELECT doc_id, {b} AS band, concat(CAST(sig{2 * b} AS VARCHAR), ',',"
        f" CAST(sig{2 * b + 1} AS VARCHAR)) AS key FROM sig"
        for b in range(8)
    )
    return f"""tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (SELECT DISTINCT doc_id, unnest({shingles_sql("t")}) AS s FROM tok),
hh AS (SELECT doc_id, {h15_sql("s")} % 1073741824 AS x1,
              {h15_sql("s")} // 1073741824 AS x2
       FROM sh),
sig AS (SELECT doc_id,
       {sig_cols}
        FROM hh GROUP BY doc_id),
bands AS ({band_selects}),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)"""


_LSH_REPLAY_ORACLE = f"""
WITH {_portable_lsh_cte()},
common AS (SELECT c.id_a, c.id_b, count(*) AS cm
           FROM cand c JOIN sh a ON a.doc_id = c.id_a
           JOIN sh b ON b.doc_id = c.id_b AND b.s = a.s
           GROUP BY 1, 2),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
j AS (SELECT common.id_a, common.id_b,
             CAST(floor(1000.0 * cm / (sa.n + sb.n - cm)) AS BIGINT) AS j_x1000
      FROM common JOIN sizes sa ON sa.doc_id = common.id_a
                  JOIN sizes sb ON sb.doc_id = common.id_b)
SELECT id_a, id_b, j_x1000 FROM j WHERE j_x1000 >= 500
"""


@query("doc_minhash_lsh_pairs", _LSH_REPLAY_ORACLE)
def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs (M5): shingle → 16-perm PORTABLE minhash
    → 8×2 banding → bucket join → exact-Jaccard verify ≥ 0.5. The oracle
    replays the LSH pipeline itself (same h15 hash family, same bands),
    so equality is structural at every SF — including whatever true pairs
    the banding misses. Until r9 the oracle was the exact ground truth
    under a "misses ~impossible" geometry argument; the r9 sf1 value-hash
    gate REFUTED that with 14 missed pairs at J 0.80-0.91 (one doc missed
    its whole replica family) — LSH recall is probabilistic and is now
    MEASURED (minhash_lsh_recall_eval) instead of assumed. Exact ground
    truth stays independently hash-checked by doc_ngram_jaccard_pairs;
    the scan-side fast-hash variant is doc_minhash_lsh_pairs_mapside."""
    from videos_to_tfrecords_spark.operators.dedup import (
        minhash_lsh_dedup_pairs_portable,
    )

    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_dedup_pairs_portable(docs, threshold_x1000=500)


@query("doc_minhash_lsh_pairs_mapside")
def q_minhash_lsh_mapside(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB production variant of doc_minhash_lsh_pairs: signatures
    computed entirely MAP-SIDE (operators/dedup.minhash_signatures_mapside
    — vectorized token/rolling-shingle hashing inside one Arrow batch, no
    shingle-table shuffle; only n_perm longs/doc leave the scan stage).
    Rows-only by design: the fast hash family is deterministic per corpus
    but not SQL-expressible, so its banding candidate set (and therefore
    its near-threshold miss set) cannot be replayed by a DuckDB oracle —
    the portable twin doc_minhash_lsh_pairs carries the value-hash check
    of LSH semantics, and tests/test_text_similarity.py pins this
    variant's precision (every emitted pair is exact-verified ≥ the
    threshold) and its agreement with the exact pair set on the test
    corpus."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_dedup_pairs(docs, threshold_x1000=500)


_RECALL_BANDS_SQL = "CASE WHEN j_x1000 >= 900 THEN 900 ELSE (j_x1000 // 100) * 100 END"


@query(
    "minhash_lsh_recall_eval",
    f"""
WITH {_portable_lsh_cte()},
pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
truth AS (SELECT id_a, id_b,
                 CAST(floor(1000.0 * common / (sa.n + sb.n - common)) AS BIGINT)
                   AS j_x1000
          FROM pairs JOIN sizes sa ON sa.doc_id = id_a
                     JOIN sizes sb ON sb.doc_id = id_b
          WHERE floor(1000.0 * common / (sa.n + sb.n - common)) >= 500),
f AS (SELECT t.j_x1000,
             CASE WHEN c.id_a IS NULL THEN 0 ELSE 1 END AS found
      FROM truth t LEFT JOIN cand c
        ON c.id_a = t.id_a AND c.id_b = t.id_b)
SELECT CAST({_RECALL_BANDS_SQL} AS BIGINT) AS j_band,
       CAST(count(*) AS BIGINT) AS n_true_pairs,
       CAST(sum(found) AS BIGINT) AS n_lsh_found,
       CAST((1000 * sum(found)) // count(*) AS BIGINT) AS recall_x1000
FROM f GROUP BY 1
""",
)
def q_minhash_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH RECALL, measured not assumed (the r9 lesson): for every TRUE
    near-dup pair (lossless ngram_jaccard_pairs ground truth, J ≥ 0.5),
    was it generated as an 8×2 banding candidate by the portable-signature
    LSH? Reported per Jaccard band (500-599, …, 900+) — the census a
    curation owner reads before trusting banded dedup at 100 TB, where
    p≈1e-4 misses at J≈0.8 become real pairs (14 of them at the synthetic
    sf1). Both sides are deterministic: the oracle replays signatures,
    banding, and ground truth bit-for-bit, so the recall numbers
    themselves are value-hash-checked."""
    from videos_to_tfrecords_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures_portable,
        ngram_jaccard_pairs,
        shingle_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    # ONE shingle pass feeds ground truth (prefix index + verify) AND the
    # minhash signatures: persist, materialize the small candidate set
    # eagerly, release the cache before returning (eager_release pattern).
    sh = shingle_table(docs).persist()
    truth = ngram_jaccard_pairs(docs, threshold_x1000=500, shingles=sh)
    cand = lsh_candidate_pairs(
        minhash_signatures_portable(sh)
    ).localCheckpoint(eager=True)
    sh.unpersist(blocking=False)
    return _recall_frame(truth, cand)


def _recall_frame(truth: DataFrame, cand: DataFrame) -> DataFrame:
    """Shared recall-census frame: left-join TRUE pairs against a banding
    candidate set, report per-Jaccard-band (500-599, …, 900+) true-pair
    counts, found counts, and integer recall. Used by both signature
    families so the portable and map-side recall rows are comparable
    column-for-column."""
    f = truth.join(
        cand.withColumn("found", F.lit(1)), ["id_a", "id_b"], "left"
    ).select("j_x1000", F.coalesce("found", F.lit(0)).alias("found"))
    band = F.when(F.col("j_x1000") >= 900, F.lit(900)).otherwise(
        (F.col("j_x1000") - F.col("j_x1000") % 100)
    )
    return f.groupBy(band.cast("long").alias("j_band")).agg(
        F.count("*").cast("long").alias("n_true_pairs"),
        F.sum("found").cast("long").alias("n_lsh_found"),
        F.expr("CAST((1000 * sum(found)) div count(*) AS BIGINT)").alias(
            "recall_x1000"
        ),
    )


@query("minhash_lsh_recall_eval_mapside")
def q_minhash_lsh_recall_eval_mapside(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Measured recall of the PRODUCTION fast-hash LSH family (VERDICT r09
    #7): the same per-J-band census as minhash_lsh_recall_eval, but the
    candidate set comes from minhash_signatures_mapside — the zero-shuffle
    FNV-family signatures the 100 TB path actually runs — so the number a
    curation owner deploys on is measured for the family they deploy, not
    inferred from the portable audit twin. Ground truth is the same
    lossless ngram_jaccard_pairs set (J ≥ 0.5).

    Rows-only by design (SURVEY §5): the FNV token/rolling-shingle hash is
    deterministic per corpus but not SQL-expressible, so n_lsh_found /
    recall_x1000 cannot be replayed by a DuckDB oracle. The frame itself
    is the oracle-checked one (minhash_lsh_recall_eval shares
    _recall_frame and is value-hash green), the ground-truth side is
    independently hash-checked via doc_ngram_jaccard_pairs, and
    tests/test_text_similarity.py pins the invariants: per-band
    n_true_pairs identical across both families' rows, exact-duplicate
    (J=1000) recall = 1000, and 0 ≤ n_lsh_found ≤ n_true_pairs.

    Scale shape: candidates are map-side signatures (n_perm longs/doc leave
    the scan) + the docs-proportional band join; ground truth is the
    prefix-filtered SSJoin — the audit costs one lossless pairs pass,
    which dedup_threshold_sweep already shows is checkpoint-shareable."""
    from videos_to_tfrecords_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures_mapside,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    truth = ngram_jaccard_pairs(docs, threshold_x1000=500)
    cand = lsh_candidate_pairs(minhash_signatures_mapside(docs))
    return _recall_frame(truth, cand)


_SWEEP_THRESHOLDS = (500, 600, 700, 800, 900)

_SWEEP_ORACLE = f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (SELECT DISTINCT doc_id, unnest({shingles_sql("t")}) AS s FROM tok),
pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
j AS (SELECT id_a, id_b,
             CAST(floor(1000.0 * common / (sa.n + sb.n - common)) AS BIGINT)
               AS j_x1000
      FROM pairs JOIN sizes sa ON sa.doc_id = id_a
                 JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(floor(1000.0 * common / (sa.n + sb.n - common)) AS BIGINT)
            >= {min(_SWEEP_THRESHOLDS)}),
th AS (SELECT CAST(t AS BIGINT) AS threshold_x1000
       FROM (VALUES {", ".join(f"({t})" for t in _SWEEP_THRESHOLDS)}) v(t)),
f AS (SELECT th.threshold_x1000, id_a, id_b
      FROM j JOIN th ON j.j_x1000 >= th.threshold_x1000),
p1 AS (SELECT threshold_x1000, CAST(count(*) AS BIGINT) AS n_pairs
       FROM f GROUP BY 1),
p2 AS (SELECT threshold_x1000, CAST(count(DISTINCT d) AS BIGINT) AS n_docs
       FROM (SELECT threshold_x1000, unnest([id_a, id_b]) AS d FROM f)
       GROUP BY 1)
SELECT th.threshold_x1000,
       CAST(coalesce(p1.n_pairs, 0) AS BIGINT) AS n_pairs,
       CAST(coalesce(p2.n_docs, 0) AS BIGINT) AS n_docs_with_dup
FROM th LEFT JOIN p1 ON p1.threshold_x1000 = th.threshold_x1000
        LEFT JOIN p2 ON p2.threshold_x1000 = th.threshold_x1000
"""


@query("dedup_threshold_sweep", _SWEEP_ORACLE)
def q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dedup THRESHOLD TUNING curve — the census a data-curation
    owner reads before fixing the Jaccard cutoff: how many duplicate
    pairs and how many affected documents exist at each candidate
    threshold. ONE lossless pairs pass at the lowest threshold
    (`ngram_jaccard_pairs`, SSJoin+PPJoin prefix filtering — the
    documented exact-pair contract) feeds every higher cutoff as a cheap
    re-filter of the verified pair list, so sweeping five thresholds
    costs one similarity join, not five."""
    from videos_to_tfrecords_spark.operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, threshold_x1000=min(_SWEEP_THRESHOLDS)
    ).localCheckpoint(eager=True)  # one pairs pass feeds all five cutoffs
    th = spark.createDataFrame(
        [(t,) for t in _SWEEP_THRESHOLDS], "threshold_x1000 long"
    )
    f = pairs.join(
        F.broadcast(th), pairs.j_x1000 >= th.threshold_x1000
    ).select("threshold_x1000", "id_a", "id_b")
    p1 = f.groupBy("threshold_x1000").agg(
        F.count("*").cast("long").alias("n_pairs")
    )
    p2 = (
        f.select(
            "threshold_x1000",
            F.explode(F.array("id_a", "id_b")).alias("d"),
        )
        .groupBy("threshold_x1000")
        .agg(F.count_distinct("d").cast("long").alias("n_docs_with_dup"))
    )
    return (
        th.join(p1, "threshold_x1000", "left")
        .join(p2, "threshold_x1000", "left")
        .select(
            "threshold_x1000",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_docs_with_dup", F.lit(0))
            .cast("long")
            .alias("n_docs_with_dup"),
        )
    )


@query("doc_ngram_jaccard_pairs", _JACCARD_ORACLE)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard pairs via the inverted shingle index (M5) — the
    exact baseline of the LSH path, same output contract."""
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, threshold_x1000=500)


def _simhash_oracle(bits: int = 16) -> str:
    votes = ", ".join(
        f"sum(CASE WHEN (th >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}" for b in range(bits)
    )
    assemble = " + ".join(f"CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(bits))
    return f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
h AS (SELECT doc_id, {h15_sql("concat('tok:', tok)")} AS th FROM tok),
v AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id)
SELECT doc_id, CAST({assemble} AS BIGINT) AS simhash FROM v
"""


@query("doc_simhash", _simhash_oracle())
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints (M5): 16-bit majority-vote of token-hash bits,
    one explode + one aggregation."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash(docs)


@query(
    "doc_dup_clusters",
    f"""
WITH RECURSIVE
tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (SELECT DISTINCT doc_id, unnest({shingles_sql("t")}) AS s FROM tok),
p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
dup AS MATERIALIZED (SELECT id_a, id_b FROM p JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE floor(1000.0 * common / (sa.n + sb.n - common)) >= 500),
edges AS (SELECT id_a AS src, id_b AS dst FROM dup
          UNION SELECT id_b, id_a FROM dup),
reach(node, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.node
)
SELECT node, CAST(min(r) AS BIGINT) AS component FROM reach GROUP BY node
""",
)
def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS (M5): exact-Jaccard dup pairs → connected
    components by iterative min-label propagation (a driver-looped joins
    algorithm — the 'iterative algorithms' category). Oracle: DuckDB
    recursive CTE computing min reachable id — exact graph closure.

    Edges come from the LOSSLESS prefix-filtered pair join
    (ngram_jaccard_pairs), matching the oracle's exact closure at every
    SF. Until r9 this used LSH pairs as a cheaper same-set shortcut; the
    r9 sf1 gate showed LSH recall < 1 there (a missed pair relabeled a
    whole cluster), so the exact path is the only edge source whose
    closure the oracle can pin."""
    from videos_to_tfrecords_spark.operators.dedup import (
        connected_components,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold_x1000=500).select("id_a", "id_b")
    return connected_components(pairs)


@query(
    "corpus_bigram_topk",
    """
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
bg AS (SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                     i -> t[i] || ' ' || t[i+1])) AS bigram
       FROM tok),
c AS (SELECT bigram, CAST(count(*) AS BIGINT) AS n FROM bg GROUP BY bigram)
SELECT bigram, n FROM c ORDER BY n DESC, bigram LIMIT 20
""",
)
def q_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus n-gram statistics (M5 text analysis: the vocab/merge-count
    shape of BPE-style tokenizer training): global bigram top-k with
    deterministic tie-break. Partial aggregation is map-side — the
    vectorized ``ngram_partial_counts`` Arrow kernel (r11: the shingle
    offset-arithmetic trick applied to counting — bigrams are contiguous
    byte slices, so no per-row Python loop and no pandas in the worker)
    replaces the old row-loop Counter; the top-k is
    TakeOrderedAndProject."""
    from videos_to_tfrecords_spark.operators.text import ngram_partial_counts

    docs = load_table(spark, sf_dir, "documents")
    partial = ngram_partial_counts(docs, "text", n=2).select(
        F.col("ngram").alias("bigram"), F.col("cnt").alias("n")
    )
    return (
        partial.groupBy("bigram")
        .agg(F.sum("n").alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(20)
    )


@query(
    "dedup_corpus_summary",
    f"""
WITH RECURSIVE
tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (SELECT DISTINCT doc_id, unnest({shingles_sql("t")}) AS s FROM tok),
p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
dup AS MATERIALIZED (SELECT id_a, id_b FROM p JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE floor(1000.0 * common / (sa.n + sb.n - common)) >= 500),
edges AS (SELECT id_a AS src, id_b AS dst FROM dup
          UNION SELECT id_b, id_a FROM dup),
reach(node, r) AS (
  SELECT src, src FROM edges
  UNION SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.node
),
drop_set AS (SELECT node FROM reach GROUP BY node HAVING node != min(r))
SELECT CAST(count(*) AS BIGINT) AS n_docs_kept,
       CAST(sum(n_chars) AS BIGINT) AS total_chars_kept
FROM documents WHERE doc_id NOT IN (SELECT node FROM drop_set)
""",
)
def q_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The user-facing dedup RESULT (M5): keep one canonical doc per
    near-dup cluster (the minimum id), drop the rest — composed as cluster
    labels → anti-join against the corpus → summary aggregate. Edges are
    the LOSSLESS exact pairs (ngram_jaccard_pairs): the r9 sf1 gate showed
    LSH pairs miss at J≈0.8 (p≈1e-4), which silently changes who gets
    dropped — the exact path is the only edge source whose kept-set the
    exact-closure oracle can pin."""
    from videos_to_tfrecords_spark.operators.dedup import (
        connected_components,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold_x1000=500).select("id_a", "id_b")
    clusters = connected_components(pairs)
    drop_set = clusters.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    kept = docs.join(drop_set, "doc_id", "left_anti")
    return kept.agg(
        F.count("*").alias("n_docs_kept"),
        F.sum("n_chars").alias("total_chars_kept"),
    )


@query(
    "lateral_token_positions",
    """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE doc_id < 20)
SELECT doc_id,
       CAST(u.pos AS BIGINT) AS pos,
       toks[u.pos + 1] AS token
FROM t, LATERAL (SELECT unnest(generate_series(0, len(toks) - 1)) AS pos) u
""",
)
def q_lateral_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral flatten with position (posexplode — the UDTF-shaped
    relational primitive under the reference's 1-row→N-rows operators)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    return docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token")
    ).select("doc_id", F.col("pos").cast("long").alias("pos"), "token")


@query(
    "doc_normalized_text",
    r"""
SELECT doc_id,
       trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                           ' +', ' ', 'g')) AS text_norm,
       CAST(length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                       ' +', ' ', 'g'))) AS BIGINT) AS n_chars_norm
FROM documents WHERE doc_id < 100
""",
)
def q_normalized_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-tokenization text normalization (M5): lowercase, strip
    punctuation, collapse whitespace — pure codegen regexp on the scan."""
    from videos_to_tfrecords_spark.operators.text import with_normalized_text

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    out = with_normalized_text(docs)
    return out.select(
        "doc_id", "text_norm", F.length("text_norm").cast("long").alias("n_chars_norm")
    )


@query("sequence_packing_summary")  # rows-only: greedy scan has no SQL analog
def q_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (M5: tokenized corpus → fixed-capacity training
    bins): greedy first-fit per partition, zero shuffle. Deterministic via
    repartitionByRange; bin invariants (capacity, prefix offsets, fill
    rate) are pytest-asserted."""
    from videos_to_tfrecords_spark.operators.packing import pack_sequences
    from videos_to_tfrecords_spark.operators.text import with_token_stats

    docs = with_token_stats(load_table(spark, sf_dir, "documents"))
    sized = docs.select("doc_id", "n_tokens").repartitionByRange(4, "doc_id")
    packed = pack_sequences(sized, capacity=256)
    return packed.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("bin_id").alias("n_bins"),
        F.sum("n_tokens").alias("total_tokens"),
    )


@query(
    "stratified_sample",
    f"""
SELECT doc_id, lang FROM documents
WHERE ({h15_sql("concat('strat:', CAST(doc_id AS VARCHAR))")} % 100)
      < CASE lang WHEN 'en' THEN 40 WHEN 'zh' THEN 100 ELSE 60 END
""",
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (training-data diet): downsample
    the dominant language (en→40%), keep the rarest whole (zh→100%), 60%
    default — keep iff h15(doc_id) % 100 < rate. The sampled SET itself is
    oracle-checked, not just its size (a seeded sampleBy could never be)."""
    from videos_to_tfrecords_spark.operators.sampling import stratified_sample_hash

    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample_hash(
        docs, "lang", "doc_id", {"en": 40, "zh": 100}, default_pct=60
    ).select("doc_id", "lang")


@query(
    "doc_characteristic_terms",
    """
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY doc_id, term),
dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df_t FROM tf GROUP BY term),
r AS (SELECT doc_id, term, tf, df_t,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tf DESC, df_t, term) AS rnk
      FROM tf JOIN dfq USING (term))
SELECT doc_id, term, tf, df_t, CAST(rnk AS BIGINT) AS rnk FROM r WHERE rnk <= 3
""",
)
def q_characteristic_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc characteristic terms — the exact-arithmetic TF-IDF shape:
    rank terms by (tf DESC, document-frequency ASC, term) and keep 3 per
    doc. Integer ranking (no float idf logs) keeps it engine-exact; the
    plan is two partial-aggregated groupBys + a shuffle join on term +
    one per-doc window — every stage ∝ tokens, 100 TB-clean."""
    from pyspark.sql import Window

    from videos_to_tfrecords_spark.functions.textfn import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfq = tf.groupBy("term").agg(F.count("*").alias("df_t"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df_t"), F.asc("term")
    )
    return (
        tf.join(dfq, "term")
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", "df_t", "rnk")
    )


@query(
    "quality_filter_by_lang",
    f"""
WITH s AS (SELECT doc_id, lang,
                  CAST(floor(1000.0 * len(list_filter(string_split(text, ' '),
                       t -> t IN ({_STOP_IN})))
                       / len(string_split(text, ' '))) AS BIGINT) AS stop_ratio_x1000
           FROM documents),
r AS (SELECT doc_id, lang, stop_ratio_x1000,
             row_number() OVER (PARTITION BY lang
                                ORDER BY stop_ratio_x1000 DESC, doc_id) AS rn,
             count(*) OVER (PARTITION BY lang) AS n
      FROM s)
SELECT doc_id, lang, stop_ratio_x1000 FROM r WHERE rn * 2 <= n
""",
)
def q_quality_filter_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum quality filtering: keep each language's top half by
    stopword-ratio score (exact integer ranking, doc_id tie-break — no
    float percentile drift). The 100 TB quality-gate shape: score on the
    scan, one window per stratum, predicate on the rank."""
    from pyspark.sql import Window

    from videos_to_tfrecords_spark.operators.text import with_quality_score

    docs = load_table(spark, sf_dir, "documents")
    scored = with_quality_score(docs).select(
        "doc_id", "lang", "stop_ratio_x1000"
    )
    w = Window.partitionBy("lang").orderBy(
        F.desc("stop_ratio_x1000"), F.asc("doc_id")
    )
    cnt = Window.partitionBy("lang")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count("*").over(cnt))
        .filter(F.col("rn") * 2 <= F.col("n"))
        .select("doc_id", "lang", "stop_ratio_x1000")
    )


_BPE_PAT = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


@query(
    "doc_bpe_token_estimate",
    f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_BPE_PAT}')) AS BIGINT) AS n_pieces,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens
FROM documents
""",
)
def q_bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting (the training-cost estimator): pieces from a
    GPT-2-style pre-tokenizer regex (letter runs | digit runs | single
    punctuation) next to whitespace tokens. The alternatives are DISJOINT
    character classes, so Java regex (Spark) and RE2 (DuckDB) produce
    identical piece counts — regex parity by construction."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_count("text", F.lit(_BPE_PAT)).cast("long").alias("n_pieces"),
        F.size(F.split("text", " ", -1)).cast("long").alias("n_ws_tokens"),
    )


@query(
    "doc_oov_rate",
    """
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
vocab AS (SELECT term FROM
          (SELECT term, row_number() OVER (ORDER BY count(*) DESC, term) AS rnk
           FROM tok GROUP BY term) WHERE rnk <= 1000),
j AS (SELECT t.doc_id, CASE WHEN v.term IS NULL THEN 1 ELSE 0 END AS oov
      FROM tok t LEFT JOIN vocab v ON t.term = v.term)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(oov) AS BIGINT) AS n_oov,
       CAST(floor(1000.0 * sum(oov) / count(*)) AS BIGINT) AS oov_x1000
FROM j GROUP BY doc_id
""",
)
def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate vs the corpus top-1000 vocabulary — the
    vocab-coverage signal a tokenizer-training pipeline computes. Vocab =
    global top-k terms (count DESC, term tie-break — exact); per-doc OOV
    fraction via a left join that broadcasts the (constant-size) vocab."""
    from videos_to_tfrecords_spark.functions.textfn import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    # top-1000 via orderBy+limit (distributed TakeOrderedAndProject —
    # every partition contributes its local top-1000), never a global
    # row_number window over the corpus-growing vocabulary
    vocab = (
        tok.groupBy("term")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("term"))
        .limit(1000)
        .select("term")
    )
    j = tok.join(F.broadcast(vocab.withColumn("_in", F.lit(1))), "term", "left")
    return j.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.when(F.col("_in").isNull(), 1).otherwise(0)).alias("n_oov"),
        F.floor(
            1000 * F.sum(F.when(F.col("_in").isNull(), 1).otherwise(0)) / F.count("*")
        ).cast("long").alias("oov_x1000"),
    )


@query(
    "uniform_sample_exact_k",
    f"""
SELECT doc_id, lang FROM
(SELECT doc_id, lang,
        row_number() OVER (ORDER BY {h15_sql("concat('usamp:', CAST(doc_id AS VARCHAR))")}, doc_id) AS rn
 FROM documents) WHERE rn <= 100
""",
)
def q_uniform_sample_exact_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-k uniform sample, deterministic: the k smallest portable-hash
    values — a reproducible reservoir-sample replacement. Physically a
    TakeOrderedAndProject (per-partition top-k, no global sort), so it
    scales to any corpus; the sampled set itself is oracle-checked."""
    from videos_to_tfrecords_spark.functions.hashing import h15

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id", "lang", h15(F.col("doc_id").cast("string"), salt="usamp").alias("_hk")
        )
        .orderBy("_hk", "doc_id")
        .limit(100)
        .select("doc_id", "lang")
    )


@query(
    "dedup_keep_best",
    f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (SELECT DISTINCT doc_id, unnest({shingles_sql("t")}) AS s FROM tok),
pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
dup AS MATERIALIZED (SELECT id_a, id_b FROM pairs JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE 1000.0 * common / (sa.n + sb.n - common) >= 500),
edges AS (SELECT id_a AS src, id_b AS dst FROM dup
          UNION SELECT id_b, id_a FROM dup),
comp AS (
  WITH RECURSIVE cc(node, comp) AS (
    SELECT DISTINCT src, src FROM edges
    UNION
    SELECT e.src, LEAST(cc.comp, e.src) FROM edges e JOIN cc ON e.dst = cc.node
  )
  SELECT node, min(comp) AS component FROM cc GROUP BY node),
q AS (SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component,
             CAST(floor(1000.0 * len(list_filter(string_split(d.text, ' '),
                  x -> x IN ({_STOP_IN}))) / len(string_split(d.text, ' '))) AS BIGINT)
               AS score
      FROM documents d LEFT JOIN comp c ON c.node = d.doc_id),
r AS (SELECT doc_id, component, score,
             row_number() OVER (PARTITION BY component
                                ORDER BY score DESC, doc_id) AS rn FROM q)
SELECT doc_id, component, score FROM r WHERE rn = 1
""",
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full corpus-curation composition: near-dup clusters (exact
    pairs → connected components) where the KEPT representative is the
    highest-quality member (stopword-ratio score, doc_id tie-break) —
    'dedup, keep best' rather than 'keep first'. Singletons keep
    themselves. One row per surviving document. Edges are the lossless
    exact pairs (r9: a missed LSH pair at sf1 flipped one cluster's
    representative — see the module docstring's LSH posture)."""
    from pyspark.sql import Window

    from videos_to_tfrecords_spark.operators.dedup import (
        connected_components,
        ngram_jaccard_pairs,
    )
    from videos_to_tfrecords_spark.operators.text import with_quality_score

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold_x1000=500).select("id_a", "id_b")
    comp = connected_components(pairs)
    scored = with_quality_score(docs).select("doc_id", "stop_ratio_x1000")
    q = (
        scored.join(comp, scored.doc_id == comp.node, "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("component"),
            F.col("stop_ratio_x1000").alias("score"),
        )
    )
    w = Window.partitionBy("component").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        q.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "component", "score")
    )


@query(
    "doc_repetition_signals",
    f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
sizes AS (SELECT doc_id, len(toks) AS n_tokens,
                 len(list_distinct(toks)) AS n_distinct FROM t),
bg AS (SELECT doc_id, unnest({shingles_sql("toks", 2)}) AS g FROM t),
cnt AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
per_doc AS (SELECT doc_id, max(c) AS top_cnt, sum(c) AS n_bigrams,
                   sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_cnt
            FROM cnt GROUP BY 1)
SELECT s.doc_id,
       CAST(s.n_tokens AS BIGINT) AS n_tokens,
       CAST((1000 * (s.n_tokens - s.n_distinct)) // s.n_tokens AS BIGINT)
         AS dup_token_ratio_x1000,
       CAST(COALESCE((1000 * p.top_cnt) // p.n_bigrams, 0) AS BIGINT)
         AS top_bigram_frac_x1000,
       CAST(COALESCE((1000 * p.dup_cnt) // p.n_bigrams, 0) AS BIGINT)
         AS dup_bigram_frac_x1000
FROM sizes s LEFT JOIN per_doc p USING (doc_id)
""",
)
def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (M5 extension): duplicate
    token ratio + top/duplicate bigram fractions per document — the
    within-document repetition filters corpus pipelines run after
    cross-document dedup. Pure Catalyst sizes + one (doc, bigram)
    partial→final aggregation; exact ×1000 integer ratios hash-checked."""
    from videos_to_tfrecords_spark.operators.text import repetition_signals

    docs = load_table(spark, sf_dir, "documents")
    return repetition_signals(docs)


_MIX_WEIGHTS = {"src0": 50, "src1": 30, "src2": 20}


def _mixture_oracle() -> str:
    values = ", ".join(f"('{s}', {w})" for s, w in sorted(_MIX_WEIGHTS.items()))
    hk = h15_sql("CAST(doc_id AS VARCHAR)", salt="mix")
    return f"""
WITH w(source, wt) AS (VALUES {values}),
cnt AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
j AS (SELECT c.source, c.n, w.wt FROM cnt c JOIN w USING (source) WHERE c.n > 0),
t AS (SELECT min((n * 100) // wt) AS tmax FROM j),
kp AS (SELECT source, n, (t.tmax * wt) // 100 AS target FROM j, t)
SELECT d.doc_id, d.source
FROM documents d JOIN kp ON d.source = kp.source
WHERE {hk} % kp.n < kp.target
"""


@query("mixture_resample", _mixture_oracle())
def q_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Target-mixture corpus resampling (M5 extension): integer recipe
    weights → largest supportable total → per-source hash keep-sets. The
    kept SET hash-matches the SQL twin (portable h15 predicate), not just
    the proportions."""
    from videos_to_tfrecords_spark.operators.sampling import mixture_resample

    docs = load_table(spark, sf_dir, "documents")
    return mixture_resample(docs, "source", "doc_id", _MIX_WEIGHTS).select(
        "doc_id", "source"
    )


@query(
    "doc_decontamination",
    f"""
WITH tr AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
            WHERE doc_id % 97 != 0),
ev AS (SELECT DISTINCT unnest({shingles_sql("toks", 3)}) AS s
       FROM (SELECT string_split(text, ' ') AS toks FROM documents
             WHERE doc_id % 97 = 0)),
trs AS (SELECT DISTINCT doc_id, unnest({shingles_sql("toks", 3)}) AS s FROM tr)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared_shingles
FROM trs JOIN ev USING (s) GROUP BY doc_id
""",
)
def q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (M5 extension): per-training-doc count of
    distinct 3-shingles shared with a held-out eval slice (doc_id % 97 ==
    0) — the pre-training overlap audit. Broadcast eval shingles ⇒ one
    map-side pass over the corpus."""
    from videos_to_tfrecords_spark.operators.dedup import decontaminate_overlap

    docs = load_table(spark, sf_dir, "documents")
    return decontaminate_overlap(
        docs.filter(F.col("doc_id") % 97 != 0),
        docs.filter(F.col("doc_id") % 97 == 0),
    )


@query(
    "doc_pii_scrub",
    r"""
WITH seeded AS (
  SELECT doc_id,
         concat(substr(text, 1, 40), ' contact user', CAST(doc_id AS VARCHAR),
                '@example.com or +1 (555) 010-',
                lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
                ' from 10.0.', CAST(doc_id % 256 AS VARCHAR), '.7') AS text
  FROM documents),
s1 AS (SELECT doc_id,
              CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS c1,
              regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t
       FROM seeded),
s2 AS (SELECT doc_id, c1,
              CAST(len(regexp_extract_all(t, '\+?[0-9][0-9()\- ]{7,}[0-9]')) AS BIGINT) AS c2,
              regexp_replace(t, '\+?[0-9][0-9()\- ]{7,}[0-9]', '<PHONE>', 'g') AS t
       FROM s1),
s3 AS (SELECT doc_id, c1, c2,
              CAST(len(regexp_extract_all(t, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS BIGINT) AS c3,
              regexp_replace(t, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g') AS t
       FROM s2)
SELECT doc_id, t AS text_scrubbed, c1 + c2 + c3 AS n_pii_hits FROM s3
""",
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (M5 extension): the synthetic corpus carries no PII, so
    the query first INJECTS deterministic email/phone/IP strings derived
    from doc_id (identically in the oracle), then runs the fixed
    three-pattern scrub — redacted text AND per-doc hit counts are
    hash-checked. Sequential regexp_replace in one projection: whole
    per-document work stays in the scan stage."""
    from videos_to_tfrecords_spark.operators.text import with_pii_scrubbed

    docs = load_table(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 40),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1 (555) 010-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7"),
        ).alias("text"),
    )
    return with_pii_scrubbed(seeded).select("doc_id", "text_scrubbed", "n_pii_hits")


@query(
    "doc_bigram_lm_nll",
    """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
bg AS (SELECT doc_id,
              unnest(list_transform(generate_series(1, len(toks)-1), i -> toks[i])) AS w1,
              unnest(list_transform(generate_series(1, len(toks)-1), i -> toks[i+1])) AS w2
       FROM t WHERE len(toks) >= 2),
bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb FROM bg GROUP BY w1, w2),
lc AS (SELECT w1 AS lw1, CAST(count(*) AS BIGINT) AS cu FROM bg GROUP BY w1),
v AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vsz
      FROM (SELECT unnest(toks) AS tok FROM t)),
lp AS (SELECT w1, w2, -ln((cb + 1.0) / (cu + vsz)) AS logp
       FROM bc JOIN lc ON w1 = lw1, v),
di AS (SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS m
       FROM bg GROUP BY doc_id, w1, w2)
SELECT doc_id,
       CAST(sum(m) AS BIGINT) AS n_bigrams,
       round(sum(m * logp) / sum(m), 6) AS avg_nll
FROM di JOIN lp USING (w1, w2)
GROUP BY doc_id
""",
)
def q_bigram_lm_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram-LM perplexity per document (see
    operators/text.bigram_lm_scores for the scale + exactness design)."""
    from videos_to_tfrecords_spark.operators.text import bigram_lm_scores

    return bigram_lm_scores(load_table(spark, sf_dir, "documents"))


@query(
    "doc_line_dedup",
    f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
lined AS (
  SELECT doc_id,
         list_transform(generate_series(0, (len(toks)-1)//8),
                        i -> array_to_string(toks[i*8+1 : i*8+8], ' ')) AS lines
  FROM t),
lx AS (
  SELECT doc_id,
         unnest(lines) AS line,
         unnest(generate_series(0, len(lines)-1)) AS pos
  FROM lined),
keyed AS (
  SELECT doc_id, pos, line,
         count(*) OVER (PARTITION BY {h15_sql('line', salt='ld')}) AS cnt,
         row_number() OVER (PARTITION BY {h15_sql('line', salt='ld')}
                            ORDER BY doc_id, pos) AS rn
  FROM lx),
kept AS (SELECT doc_id, pos, line FROM keyed WHERE cnt < 2 OR rn = 1),
rebuilt AS (
  SELECT doc_id,
         string_agg(line, chr(10) ORDER BY pos) AS text_dedup,
         CAST(count(*) AS BIGINT) AS n_lines_kept
  FROM kept GROUP BY doc_id)
SELECT l.doc_id,
       coalesce(r.text_dedup, '') AS text_dedup,
       coalesce(r.n_lines_kept, 0) AS n_lines_kept,
       CAST(len(l.lines) - coalesce(r.n_lines_kept, 0) AS BIGINT)
         AS n_lines_dropped
FROM lined l LEFT JOIN rebuilt r ON l.doc_id = r.doc_id
""",
)
def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-wide line dedup (operators/dedup.dedup_lines_global).
    The space-separated corpus has no newlines, so lines are derived
    deterministically first: every 8 consecutive tokens = one line (the
    near-dup documents in the corpus then share most of their lines, which
    is exactly the boilerplate this filter strips)."""
    from videos_to_tfrecords_spark.operators.dedup import dedup_lines_global

    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
    toks = F.col("toks")
    lines = F.transform(
        F.sequence(F.lit(0), F.expr("(size(toks) - 1) div 8").cast("int")),
        lambda i: F.array_join(F.slice(toks, i * 8 + 1, 8), " "),
    )
    lined = staged.select(
        "doc_id", F.array_join(lines, "\n").alias("text")
    )
    return dedup_lines_global(lined, min_dup=2)


@query(
    "doc_quality_classifier",
    f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
f AS (SELECT doc_id, list_concat(toks, {shingles_sql('toks', 2)}) AS feats FROM t),
s AS (SELECT doc_id,
             CAST(len(feats) AS BIGINT) AS n_features,
             CAST(coalesce(list_sum(list_transform(feats,
               ft -> (({h15_sql('ft', salt='ftq')} % 4096) * 2654435761) % 2001 - 1000
             )), 0) AS BIGINT) AS score_sum
      FROM f)
SELECT doc_id, n_features, score_sum,
       CAST(coalesce((1000 * score_sum) // nullif(n_features, 0), 0) AS BIGINT)
         AS score_x1000,
       score_sum > 0 AS quality_label
FROM s
""",
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed linear quality-classifier inference
    (operators/text.hashed_linear_quality): map-only fastText-shaped
    scoring, integer-exact cross-engine."""
    from videos_to_tfrecords_spark.operators.text import hashed_linear_quality

    return hashed_linear_quality(load_table(spark, sf_dir, "documents"))


@query(
    "packed_concat_spans",
    """
WITH d AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n
  FROM documents),
c AS (
  SELECT doc_id, n,
         CAST(coalesce(sum(n) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
  FROM d),
spans AS (
  SELECT doc_id, n, s,
         unnest(range(s // 128, (s + n - 1) // 128 + 1)) AS bin_id
  FROM c WHERE n > 0)
SELECT doc_id,
       CAST(bin_id AS BIGINT) AS bin_id,
       CAST(greatest(bin_id * 128 - s, 0) AS BIGINT) AS off_in_doc,
       CAST(greatest(s - bin_id * 128, 0) AS BIGINT) AS off_in_bin,
       CAST(least((bin_id + 1) * 128, s + n) - greatest(bin_id * 128, s) AS BIGINT)
         AS len_in_bin
FROM spans
""",
)
def q_packed_concat_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenate-and-chunk packing layout (capacity 128) over the
    documents corpus via the two-level distributed prefix sum
    (operators/packing.pack_concat_spans) — the oracle's single global
    window reproduces the same offsets, proving the distributed scan
    computes the sequential layout exactly."""
    from videos_to_tfrecords_spark.functions.textfn import tokens
    from videos_to_tfrecords_spark.operators.packing import pack_concat_spans

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens("text")).cast("long").alias("n_tokens")
    )
    return pack_concat_spans(docs, capacity=128)


@query(
    "source_quota_sample",
    """
WITH r AS (
  SELECT source, doc_id,
         row_number() OVER (
           PARTITION BY source
           ORDER BY CAST(concat('0x', substr(md5(concat('quota:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT),
                    doc_id) AS rn
  FROM documents)
SELECT source, doc_id FROM r WHERE rn <= 15
""",
)
def q_source_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota cap (exact 15 docs per source, hash-ranked) —
    operators/sampling.group_quota_sample; the oracle reproduces the
    exact kept set via the same portable hash rank."""
    from videos_to_tfrecords_spark.operators.sampling import group_quota_sample

    docs = load_table(spark, sf_dir, "documents").select("source", "doc_id")
    return group_quota_sample(docs, "source", "doc_id", quota=15)


@query(
    "vocab_zipf_slope",
    """
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS t FROM documents),
freq AS (
  SELECT t, CAST(count(*) AS BIGINT) AS f FROM tok WHERE t <> '' GROUP BY t),
ranked AS (
  SELECT f, row_number() OVER (ORDER BY f DESC, t) AS r FROM freq),
pts AS (
  SELECT CAST(floor(1000000 * ln(r)) AS BIGINT) AS x,
         CAST(floor(1000000 * ln(f)) AS BIGINT) AS y
  FROM ranked WHERE r <= 50),
s AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
      FROM pts)
SELECT n,
       CAST(floor(1000000.0 * (n * sxy - sx * sy) / (n * sxx - sx * sx)) AS BIGINT)
         AS zipf_slope_x1e6
FROM s
""",
)
def q_vocab_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit of the corpus vocabulary: OLS slope of ln(freq) vs
    ln(rank) over the top-50 tokens — the one-number sanity check that a
    synthetic/filtered corpus still has natural-language frequency decay
    (slope ≈ −1 for natural text). Log points are floor-quantized to
    int64 BEFORE the sums (the doc_unigram_entropy technique), so the
    regression's sufficient statistics are exact integers; the closing
    division is one double op with identical expression order. Top-50 is
    a TakeOrderedAndProject, never a global sort."""
    from videos_to_tfrecords_spark.functions.textfn import tokens

    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(tokens("text")).alias("t"))
        .filter(F.col("t") != "")
        .groupBy("t")
        .agg(F.count("*").alias("f"))
    )
    top = freq.orderBy(F.desc("f"), F.asc("t")).limit(50)
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("f"), F.asc("t"))
    pts = top.withColumn("r", F.row_number().over(w)).select(
        F.floor(F.lit(1000000) * F.log(F.col("r").cast("double"))).cast("long").alias("x"),
        F.floor(F.lit(1000000) * F.log(F.col("f").cast("double"))).cast("long").alias("y"),
    )
    s = pts.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return s.select(
        F.col("n").cast("long").alias("n"),
        F.floor(F.lit(1000000.0) * num / den).cast("long").alias("zipf_slope_x1e6"),
    )


@query(
    "classifier_auc_eval",
    f"""
WITH t AS (SELECT doc_id, n_chars, string_split(text, ' ') AS toks FROM documents),
f AS (SELECT doc_id, n_chars,
             list_concat(toks, {shingles_sql('toks', 2)}) AS feats FROM t),
s AS (SELECT doc_id, CAST(n_chars >= 200 AS INTEGER) AS y,
             CAST(coalesce((1000 * coalesce(list_sum(list_transform(feats,
               ft -> (({h15_sql('ft', salt='ftq')} % 4096) * 2654435761) % 2001 - 1000
             )), 0)) // nullif(len(feats), 0), 0) AS BIGINT) AS score
      FROM f),
g AS (SELECT score, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(y) AS BIGINT) AS pos FROM s GROUP BY score),
r AS (SELECT score, cnt, pos,
             CAST(coalesce(sum(cnt) OVER (ORDER BY score
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS cum_before
      FROM g),
agg AS (SELECT CAST(sum(pos * (2 * cum_before + cnt + 1)) AS BIGINT) AS n2,
               CAST(sum(pos) AS BIGINT) AS p,
               CAST(sum(cnt - pos) AS BIGINT) AS n
        FROM r)
SELECT p AS n_pos, n AS n_neg,
       CAST((1000000 * (n2 - p * (p + 1))) // (2 * p * n) AS BIGINT) AS auc_x1e6
FROM agg
""",
)
def q_classifier_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed exact ROC-AUC of the hashed quality classifier scored
    against an independent length-based label — the eval-harness metric a
    filter-training loop tracks. AUC via the rank-sum identity with exact
    tie handling: group rows by DISTINCT score (the tie groups), exclusive
    cumulative counts give each group's doubled average rank 2·cum+cnt+1,
    and AUC = (2Σ_pos rank − P(P+1)) / (2PN) evaluates in pure integer
    arithmetic — floats never appear, so the metric hash-matches. The only
    unpartitioned window runs over the DISTINCT-score table
    (metadata-sized, the two-level-scan argument of pack_concat_spans)."""
    from videos_to_tfrecords_spark.operators.text import hashed_linear_quality

    docs = load_table(spark, sf_dir, "documents")
    # n_chars rides THROUGH the map-only scorer (keep_cols) — no
    # corpus-sized self-join to re-attach it (sf1 probe: the join form
    # was the suite's one superlinear plan)
    scored = hashed_linear_quality(docs, keep_cols=("n_chars",)).select(
        F.col("score_x1000").alias("score"),
        F.when(F.col("n_chars") >= 200, F.lit(1)).otherwise(F.lit(0)).alias("y"),
    )
    g = scored.groupBy("score").agg(
        F.count("*").alias("cnt"), F.sum("y").alias("pos")
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    r = g.select(
        "cnt", "pos", F.coalesce(F.sum("cnt").over(w), F.lit(0)).alias("cum_before")
    )
    agg = r.agg(
        F.sum(
            F.col("pos") * (2 * F.col("cum_before") + F.col("cnt") + 1)
        ).alias("n2"),
        F.sum("pos").alias("p"),
        F.sum(F.col("cnt") - F.col("pos")).alias("n"),
    )
    return agg.select(
        F.col("p").cast("long").alias("n_pos"),
        F.col("n").cast("long").alias("n_neg"),
        F.expr(
            "CAST((1000000 * (n2 - p * (p + 1))) div (2 * p * n) AS BIGINT)"
        ).alias("auc_x1e6"),
    )


@query(
    "classifier_calibration_bins",
    f"""
WITH t AS (SELECT doc_id, n_chars, string_split(text, ' ') AS toks FROM documents),
f AS (SELECT doc_id, n_chars,
             list_concat(toks, {shingles_sql('toks', 2)}) AS feats FROM t),
s AS (SELECT doc_id, CAST(n_chars >= 200 AS INTEGER) AS y,
             CAST(coalesce((1000 * coalesce(list_sum(list_transform(feats,
               ft -> (({h15_sql('ft', salt='ftq')} % 4096) * 2654435761) % 2001 - 1000
             )), 0)) // nullif(len(feats), 0), 0) AS BIGINT) AS score
      FROM f),
mm AS (SELECT CAST(min(score) AS BIGINT) AS mn, CAST(max(score) AS BIGINT) AS mx
       FROM s)
SELECT CAST(((s.score - mm.mn) * 10) // (mm.mx - mm.mn + 1) AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(s.y) AS BIGINT) AS n_pos,
       CAST(sum(s.score) AS BIGINT) AS score_sum
FROM s, mm GROUP BY 1
""",
)
def q_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram (calibration bins) for the hashed quality
    classifier vs the independent length label — the eval a filter team
    reads next to AUC: 10 equi-width score bins, per-bin count, positive
    count, and exact score mass. Bin edges derive from the global
    min/max (1-row broadcast), so binning is a narrow map — no global sort
    at any corpus size."""
    from videos_to_tfrecords_spark.operators.text import hashed_linear_quality

    docs = load_table(spark, sf_dir, "documents")
    # keep_cols instead of a self-join (see classifier_auc_eval), and
    # checkpoint the 2-int-per-doc scored table: it feeds BOTH the min/max
    # aggregate and the binning pass — without it the feature-hash map
    # executes twice
    scored = (
        hashed_linear_quality(docs, keep_cols=("n_chars",))
        .select(
            F.col("score_x1000").alias("score"),
            F.when(F.col("n_chars") >= 200, F.lit(1)).otherwise(F.lit(0)).alias("y"),
        )
        .localCheckpoint(eager=True)
    )
    mm = scored.agg(
        F.min("score").cast("long").alias("mn"),
        F.max("score").cast("long").alias("mx"),
    )
    binned = scored.crossJoin(F.broadcast(mm)).select(
        F.expr("((score - mn) * 10) div (mx - mn + 1)").cast("long").alias("bin"),
        "y",
        "score",
    )
    return binned.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
        F.sum("score").cast("long").alias("score_sum"),
    )


@query(
    "classifier_auc_by_group",
    f"""
WITH t AS (SELECT doc_id, lang, n_chars, string_split(text, ' ') AS toks
           FROM documents),
f AS (SELECT doc_id, lang, n_chars,
             list_concat(toks, {shingles_sql('toks', 2)}) AS feats FROM t),
s AS (SELECT doc_id, lang, CAST(n_chars >= 200 AS INTEGER) AS y,
             CAST(coalesce((1000 * coalesce(list_sum(list_transform(feats,
               ft -> (({h15_sql('ft', salt='ftq')} % 4096) * 2654435761) % 2001 - 1000
             )), 0)) // nullif(len(feats), 0), 0) AS BIGINT) AS score
      FROM f),
g AS (SELECT lang, score, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(y) AS BIGINT) AS pos FROM s GROUP BY lang, score),
r AS (SELECT lang, score, cnt, pos,
             CAST(coalesce(sum(cnt) OVER (PARTITION BY lang ORDER BY score
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS cum_before
      FROM g),
agg AS (SELECT lang,
               CAST(sum(pos * (2 * cum_before + cnt + 1)) AS BIGINT) AS n2,
               CAST(sum(pos) AS BIGINT) AS p,
               CAST(sum(cnt - pos) AS BIGINT) AS n
        FROM r GROUP BY lang)
SELECT lang, p AS n_pos, n AS n_neg,
       CASE WHEN p = 0 OR n = 0 THEN NULL
            ELSE CAST((1000000 * (n2 - p * (p + 1))) // (2 * p * n) AS BIGINT)
       END AS auc_x1e6
FROM agg
""",
)
def q_classifier_auc_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-subgroup ROC-AUC (the fairness/slice eval a filter team runs
    before deploying a corpus classifier): the exact rank-sum AUC of
    classifier_auc_eval, partitioned by language — one extra key in every
    aggregate and window, so the whole eval still runs in integer
    arithmetic with the distinct-score window partitioned per group (no
    global sort grows with the corpus). Degenerate slices (no positives or
    no negatives) yield NULL rather than a fabricated number."""
    from videos_to_tfrecords_spark.operators.text import hashed_linear_quality
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    scored = hashed_linear_quality(docs, keep_cols=("lang", "n_chars")).select(
        "lang",
        F.col("score_x1000").alias("score"),
        F.when(F.col("n_chars") >= 200, F.lit(1)).otherwise(F.lit(0)).alias("y"),
    )
    g = scored.groupBy("lang", "score").agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum("y").cast("long").alias("pos"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r = g.withColumn(
        "cum_before", F.coalesce(F.sum("cnt").over(w), F.lit(0)).cast("long")
    )
    agg = r.groupBy("lang").agg(
        F.sum(F.col("pos") * (2 * F.col("cum_before") + F.col("cnt") + 1))
        .cast("long")
        .alias("n2"),
        F.sum("pos").cast("long").alias("p"),
        F.sum(F.col("cnt") - F.col("pos")).cast("long").alias("n"),
    )
    auc = F.when(
        (F.col("p") == 0) | (F.col("n") == 0), F.lit(None).cast("long")
    ).otherwise(
        F.expr("(1000000 * (n2 - p * (p + 1))) div (2 * p * n)").cast("long")
    )
    return agg.select(
        "lang",
        F.col("p").alias("n_pos"),
        F.col("n").alias("n_neg"),
        auc.alias("auc_x1e6"),
    )


# GPT-2-style pre-tokenizer (lookahead-free so RE2 and Java regex agree;
# alternation is leftmost-first in both engines — verified empirically)
_PRETOK = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+| +"


@query(
    "doc_pretokenize_census",
    f"""
WITH p AS (SELECT doc_id,
                  regexp_extract_all(text,
                    '{_PRETOK.replace("'", "''")}') AS toks
           FROM documents)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_pretokens,
       CAST(list_sum(list_transform(toks,
            x -> {h15_sql("x", salt="ptk")} % 1000000000)) AS BIGINT) AS hsum
FROM p
""",
)
def q_doc_pretokenize_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-2-style regex pre-tokenization (contractions, letter runs, digit
    runs, punctuation runs, space handling — the lookahead-free subset
    both regex engines implement identically): per-doc pre-token count
    plus an order-insensitive multiset hash of the tokens themselves, so
    the SPLITS are verified, not just the counts. Narrow map — regexp and
    hash both stay JVM-side; no shuffle before the final projection."""
    from videos_to_tfrecords_spark.functions.hashing import h15

    docs = load_table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.col("text"), F.lit(_PRETOK), F.lit(0))
    hsum = F.aggregate(
        F.transform(toks, lambda x: h15(x, salt="ptk") % 1_000_000_000),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_pretokens"),
        hsum.alias("hsum"),
    )


@query(
    "doc_trigram_interp_nll",
    """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
tri AS (SELECT doc_id,
               unnest(list_transform(range(1, len(toks) - 1),
                      i -> {'w1': toks[i], 'w2': toks[i+1], 'w3': toks[i+2]})) AS g
        FROM t WHERE len(toks) >= 3),
inst AS (SELECT doc_id, g.w1 AS w1, g.w2 AS w2, g.w3 AS w3,
                CAST(count(*) AS BIGINT) AS m
         FROM tri GROUP BY 1, 2, 3, 4),
c3 AS (SELECT w1, w2, w3, CAST(sum(m) AS BIGINT) AS c3 FROM inst GROUP BY 1, 2, 3),
cc2 AS (SELECT w1, w2, CAST(sum(m) AS BIGINT) AS cc2 FROM inst GROUP BY 1, 2),
p23 AS (SELECT w2, w3, CAST(sum(m) AS BIGINT) AS c23 FROM inst GROUP BY 1, 2),
u2 AS (SELECT w2, CAST(sum(m) AS BIGINT) AS cu2 FROM inst GROUP BY 1),
u3 AS (SELECT w3, CAST(sum(m) AS BIGINT) AS cu3 FROM inst GROUP BY 1),
vocab AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v,
                 CAST(count(*) AS BIGINT) AS n
          FROM (SELECT unnest(toks) AS tok FROM t)),
lp AS (SELECT c3.w1, c3.w2, c3.w3,
              -ln((7.0 * (c3.c3 + 1) / (cc2.cc2 + vocab.v)
                   + 2.0 * (p23.c23 + 1) / (u2.cu2 + vocab.v)
                   + 1.0 * (u3.cu3 + 1) / (vocab.n + vocab.v)) / 10.0) AS nll
       FROM c3
       JOIN cc2 ON cc2.w1 = c3.w1 AND cc2.w2 = c3.w2
       JOIN p23 ON p23.w2 = c3.w2 AND p23.w3 = c3.w3
       JOIN u2 ON u2.w2 = c3.w2
       JOIN u3 ON u3.w3 = c3.w3, vocab)
SELECT inst.doc_id,
       CAST(sum(inst.m) AS BIGINT) AS n_trigrams,
       round(sum(inst.m * lp.nll) / sum(inst.m), 6) AS avg_nll
FROM inst JOIN lp ON lp.w1 = inst.w1 AND lp.w2 = inst.w2 AND lp.w3 = inst.w3
GROUP BY inst.doc_id
""",
)
def q_doc_trigram_interp_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated TRIGRAM language-model perplexity (KenLM-style quality
    signal, one order above doc_bigram_lm_nll): p = (7·p₃ + 2·p₂ + p₁)/10
    with add-one smoothing at each order, trained on the corpus itself.
    Same determinism contract as the bigram query: exact integer counts,
    one libm ln per DISTINCT trigram on identical integer inputs, per-doc
    sum-order drift absorbed by the 6-decimal rounding. Every join is an
    equi-join on n-gram keys (counts-table sized, not corpus-sized); the
    instance⋈logp join carries one double per distinct (doc, trigram)."""
    toks = F.split(F.col("text"), " ")
    docs = load_table(spark, sf_dir, "documents")
    # positions-first explode + element_at projections (exploded_shingles
    # shape, codegen) — the transform-HOF form re-split the text per
    # element interpreted, O(tokens²) per doc
    inst = (
        docs.filter(F.size(toks) >= 3)
        .select("doc_id", toks.alias("_toks"))
        .select(
            "doc_id",
            "_toks",
            F.explode(F.sequence(F.lit(1), F.size("_toks") - 2)).alias("_i"),
        )
        .select(
            "doc_id",
            F.element_at("_toks", F.col("_i")).alias("w1"),
            F.element_at("_toks", F.col("_i") + 1).alias("w2"),
            F.element_at("_toks", F.col("_i") + 2).alias("w3"),
        )
        .groupBy("doc_id", "w1", "w2", "w3")
        .agg(F.count("*").cast("long").alias("m"))
        .localCheckpoint(eager=True)  # feeds c3 + final join
    )
    # roll lower orders up from the DISTINCT-trigram table, not from the
    # (doc, trigram) instance table: c3 is the smallest superset with the
    # same marginal sums, so each cascade step re-aggregates a strictly
    # smaller input (inst ≥ c3 ≥ cc2 ≥ u2); identical totals by
    # associativity of sum
    c3 = (
        inst.groupBy("w1", "w2", "w3")
        .agg(F.sum("m").alias("c3"))
        .localCheckpoint(eager=True)  # feeds cc2/p23 + the lp join
    )
    cc2 = c3.groupBy("w1", "w2").agg(F.sum("c3").alias("cc2"))
    p23 = c3.groupBy("w2", "w3").agg(F.sum("c3").alias("c23"))
    u2 = cc2.groupBy("w2").agg(F.sum("cc2").alias("cu2"))
    u3 = p23.groupBy("w3").agg(F.sum("c23").alias("cu3"))
    vocab = docs.select(F.explode(toks).alias("tok")).agg(
        F.countDistinct("tok").alias("v"), F.count("*").alias("n")
    )
    lp = (
        c3.join(cc2, ["w1", "w2"])
        .join(p23, ["w2", "w3"])
        .join(u2, "w2")
        .join(u3, "w3")
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            "w3",
            (
                -F.log(
                    (
                        F.lit(7.0) * (F.col("c3") + 1) / (F.col("cc2") + F.col("v"))
                        + F.lit(2.0) * (F.col("c23") + 1) / (F.col("cu2") + F.col("v"))
                        + F.lit(1.0) * (F.col("cu3") + 1) / (F.col("n") + F.col("v"))
                    )
                    / F.lit(10.0)
                )
            ).alias("nll"),
        )
    )
    return (
        inst.join(lp, ["w1", "w2", "w3"])
        .groupBy("doc_id")
        .agg(
            F.sum("m").cast("long").alias("n_trigrams"),
            F.round(F.sum(F.col("m") * F.col("nll")) / F.sum("m"), 6).alias(
                "avg_nll"
            ),
        )
    )


@query(
    "canary_contamination_scan",
    """
WITH can AS (
  SELECT DISTINCT list_extract(string_split(text, ' '), 1) || ' ' ||
                  list_extract(string_split(text, ' '), 2) AS canary
  FROM documents WHERE doc_id % 211 = 0 AND len(string_split(text, ' ')) >= 2)
SELECT canary,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM documents d JOIN can ON contains(d.text, can.canary)
GROUP BY canary
""",
)
def q_canary_contamination_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canary-string contamination scan (the membership-inference audit a
    training set runs before release: did injected canaries leak into
    other documents?): the canary set is corpus-derived (2-token prefixes
    of every 211th doc — small by construction), broadcast against a
    single map-side substring scan of the corpus; per canary, the count
    and exact id-set checksum of containing documents.

    Scale shape: one broadcast of a bounded canary table, one narrow
    corpus scan with the contains() predicate evaluated in codegen, one
    partial→final aggregate keyed by canary — no corpus-sized shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    can = (
        docs.filter((F.col("doc_id") % 211 == 0) & (F.size(toks) >= 2))
        .select(
            F.concat_ws(" ", toks[0], toks[1]).alias("canary")
        )
        .distinct()
    )
    return (
        docs.join(F.broadcast(can), F.expr("contains(text, canary)"))
        .groupBy("canary")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("id_sum"),
        )
    )


@query(
    "fim_transform_census",
    """
WITH d AS (
  SELECT doc_id, lang, string_split(text, ' ') AS toks,
         CAST(concat('0x', substr(md5(concat('fim:', doc_id)), 1, 15)) AS BIGINT)
           AS h
  FROM documents),
t AS (
  SELECT doc_id, lang, len(toks) AS n_tok,
         CASE WHEN h % 2 = 0 AND len(toks) >= 3 THEN 1 ELSE 0 END AS is_fim,
         (h % 2 = 0 AND len(toks) >= 3) AS f,
         1 + (h // 2) % greatest(len(toks) - 1, 1) AS cut1
  FROM d),
s AS (
  SELECT doc_id, lang, n_tok, is_fim,
         CASE WHEN is_fim = 1 THEN cut1 + (doc_id % (n_tok - cut1)) ELSE 0 END AS cut2,
         cut1
  FROM t)
SELECT lang,
       CAST(sum(is_fim) AS BIGINT) AS n_fim,
       CAST(sum(1 - is_fim) AS BIGINT) AS n_plain,
       CAST(sum(CASE WHEN is_fim = 1 THEN cut1 ELSE 0 END) AS BIGINT) AS prefix_toks,
       CAST(sum(CASE WHEN is_fim = 1 THEN cut2 - cut1 ELSE 0 END) AS BIGINT) AS middle_toks,
       CAST(sum(CASE WHEN is_fim = 1 THEN n_tok - cut2 ELSE 0 END) AS BIGINT) AS suffix_toks
FROM s GROUP BY lang
""",
)
def q_fim_transform_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle (FIM) transformation census: half the corpus
    (portable-hash coin, docs with ≥3 tokens) is split
    prefix/middle/suffix at two deterministic cut points — the
    span-corruption preprocessing an infilling-capable model trains on —
    and the census reports per-language FIM rate and the exact token mass
    landing in each part (what the PSM/SPM reassembly budget needs).
    Cut points are hash/id-derived so both engines reproduce the exact
    same splits; everything is map-side expressions into one aggregate."""
    from videos_to_tfrecords_spark.functions.hashing import h15

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    h = h15(F.col("doc_id").cast("string"), "fim")
    n_tok = F.size(toks).cast("long")
    is_fim = ((h % 2 == 0) & (n_tok >= 3)).cast("long")
    # h div 2 as an exact non-negative shift (float division would lose
    # precision on 60-bit hashes and diverge from the oracle's `//`)
    d = docs.select(
        "lang",
        "doc_id",
        n_tok.alias("n_tok"),
        is_fim.alias("is_fim"),
        # greatest(·, 1): a 1-token doc would otherwise divide by zero,
        # which ANSI mode turns into a query-killing exception (cut1 is
        # discarded for non-FIM docs, so the clamp never changes output)
        (F.lit(1) + F.shiftright(h, 1) % F.greatest(n_tok - 1, F.lit(1))).alias(
            "cut1"
        ),
    ).withColumn(
        "cut2",
        F.when(
            F.col("is_fim") == 1,
            F.col("cut1") + F.col("doc_id") % (F.col("n_tok") - F.col("cut1")),
        ).otherwise(F.lit(0)),
    )
    z = F.lit(0)
    fim = F.col("is_fim") == 1
    return d.groupBy("lang").agg(
        F.sum("is_fim").cast("long").alias("n_fim"),
        F.sum(1 - F.col("is_fim")).cast("long").alias("n_plain"),
        F.sum(F.when(fim, F.col("cut1")).otherwise(z)).cast("long").alias("prefix_toks"),
        F.sum(F.when(fim, F.col("cut2") - F.col("cut1")).otherwise(z))
        .cast("long")
        .alias("middle_toks"),
        F.sum(F.when(fim, F.col("n_tok") - F.col("cut2")).otherwise(z))
        .cast("long")
        .alias("suffix_toks"),
    )


@query(
    "incremental_dedup_delta",
    """
WITH d AS (SELECT doc_id, source,
                  md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS k
           FROM documents),
prev AS (SELECT DISTINCT k FROM d WHERE doc_id % 2 = 0),
newb AS (SELECT * FROM d WHERE doc_id % 2 = 1),
flag AS (SELECT n.source,
                n.k IN (SELECT k FROM prev) AS dup_prev,
                n.doc_id != min(n.doc_id) OVER (PARTITION BY n.k) AS dup_batch
         FROM newb n)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_incoming,
       CAST(sum(CASE WHEN dup_prev THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_vs_snapshot,
       CAST(sum(CASE WHEN NOT dup_prev AND dup_batch THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_in_batch,
       CAST(sum(CASE WHEN NOT dup_prev AND NOT dup_batch THEN 1 ELSE 0 END)
            AS BIGINT) AS n_accepted
FROM flag GROUP BY source
""",
)
def q_incremental_dedup_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup census: an incoming batch (odd doc_ids)
    against an already-accepted snapshot (even doc_ids), on a leading-span
    content key (md5 of the first 8 tokens — the cheap first-pass key a
    C4-style pipeline dedupes on before any shingling). Per source:
    incoming, rejected-vs-snapshot, rejected-within-batch (keep-first),
    accepted — the numbers an ingestion ledger records per increment.

    Scale shape: only (key, id) ever shuffles; the snapshot side reduces
    to DISTINCT keys before the join (at 100 TB that side is the stored
    content-hash index, not a re-scan) and the within-batch keep-first
    window partitions by key. Text never moves."""
    docs = load_table(spark, sf_dir, "documents")
    k = F.md5(F.array_join(F.slice(F.split("text", " "), 1, 8), " "))
    d = docs.select("doc_id", "source", k.alias("k"))
    prev = d.filter(F.col("doc_id") % 2 == 0).select("k").distinct()
    newb = d.filter(F.col("doc_id") % 2 == 1)
    from pyspark.sql import Window

    w = Window.partitionBy("k")
    flag = newb.join(
        prev.withColumn("in_prev", F.lit(True)), "k", "left"
    ).select(
        "source",
        F.coalesce("in_prev", F.lit(False)).alias("dup_prev"),
        (F.col("doc_id") != F.min("doc_id").over(w)).alias("dup_batch"),
    )
    return flag.groupBy("source").agg(
        F.count("*").cast("long").alias("n_incoming"),
        F.sum(F.col("dup_prev").cast("long")).cast("long").alias("n_dup_vs_snapshot"),
        F.sum((~F.col("dup_prev") & F.col("dup_batch")).cast("long"))
        .cast("long")
        .alias("n_dup_in_batch"),
        F.sum((~F.col("dup_prev") & ~F.col("dup_batch")).cast("long"))
        .cast("long")
        .alias("n_accepted"),
    )


@query(
    "source_unigram_kl",
    """
WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS t FROM documents),
cs AS (SELECT source, t, CAST(count(*) AS BIGINT) AS cs FROM tok GROUP BY 1, 2),
ct AS (SELECT t, CAST(sum(cs) AS BIGINT) AS c FROM cs GROUP BY 1),
ns AS (SELECT source, CAST(sum(cs) AS BIGINT) AS nsrc FROM cs GROUP BY 1),
n AS (SELECT CAST(sum(cs) AS BIGINT) AS ntot FROM cs),
q AS (SELECT cs.source, cs.cs,
             CAST(floor(1000000 * ln(cs.cs)) AS BIGINT)
             + CAST(floor(1000000 * ln((SELECT ntot FROM n))) AS BIGINT)
             - CAST(floor(1000000 * ln(ct.c)) AS BIGINT)
             - CAST(floor(1000000 * ln(ns.nsrc)) AS BIGINT) AS lq
      FROM cs JOIN ct USING (t) JOIN ns USING (source))
SELECT source,
       CAST((SELECT ntot FROM n) AS BIGINT) AS n_corpus_tokens,
       CAST(max(ns.nsrc) AS BIGINT) AS n_source_tokens,
       CAST(sum(q.cs * q.lq) // max(ns.nsrc) AS BIGINT) AS kl_x1e6
FROM q JOIN ns USING (source) GROUP BY source
""",
)
def q_source_unigram_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram KL divergence from the corpus mixture — the
    domain-shift diagnostic a data-mixing team reads next to the LOO
    valuation (how far each source's token distribution sits from what
    the model will actually see). KL = Σ p·ln(p/q) decomposes into lns of
    INTEGERS (ln cs + ln N − ln c − ln Ns), each floor-quantized to 1e-6
    before the exact integer weighting (the doc_unigram_entropy
    determinism pattern), so both engines sum identical int64 terms; one
    final floor division per source.

    Scale shape: token census (vocab×source keyed, partial→final), two
    broadcast-sized side tables (vocab counts, source totals), no
    corpus-sized shuffle after the census."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(F.split("text", " ")).alias("t"))
    cs = tok.groupBy("source", "t").agg(F.count("*").cast("long").alias("cs"))
    ct = cs.groupBy("t").agg(F.sum("cs").cast("long").alias("c"))
    ns = cs.groupBy("source").agg(F.sum("cs").cast("long").alias("nsrc"))
    ntot = cs.groupBy().agg(F.sum("cs").cast("long").alias("ntot"))
    lnq = lambda c: F.floor(F.lit(1000000) * F.log(c)).cast("long")  # noqa: E731
    q = (
        cs.join(F.broadcast(ct), "t")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(ntot))
        .select(
            "source",
            "cs",
            "nsrc",
            "ntot",
            (
                lnq(F.col("cs"))
                + lnq(F.col("ntot"))
                - lnq(F.col("c"))
                - lnq(F.col("nsrc"))
            ).alias("lq"),
        )
    )
    return q.groupBy("source").agg(
        F.max("ntot").cast("long").alias("n_corpus_tokens"),
        F.max("nsrc").cast("long").alias("n_source_tokens"),
        F.expr("CAST(sum(cs * lq) div max(nsrc) AS BIGINT)").alias("kl_x1e6"),
    )


@query(
    "classifier_ece_summary",
    f"""
WITH t AS (SELECT doc_id, n_chars, string_split(text, ' ') AS toks FROM documents),
f AS (SELECT doc_id, n_chars,
             list_concat(toks, {shingles_sql('toks', 2)}) AS feats FROM t),
s AS (SELECT doc_id, CAST(n_chars >= 200 AS INTEGER) AS y,
             CAST(coalesce((1000 * coalesce(list_sum(list_transform(feats,
               ft -> (({h15_sql('ft', salt='ftq')} % 4096) * 2654435761) % 2001 - 1000
             )), 0)) // nullif(len(feats), 0), 0) AS BIGINT) AS score
      FROM f),
mm AS (SELECT CAST(min(score) AS BIGINT) AS mn, CAST(max(score) AS BIGINT) AS mx
       FROM s),
b AS (SELECT ((s.score - mm.mn) * 10) // (mm.mx - mm.mn + 1) AS bin,
             s.y, (1000000 * (s.score - mm.mn)) // (mm.mx - mm.mn + 1) AS conf
      FROM s, mm),
g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS np,
             CAST(sum(conf) AS BIGINT) AS cs FROM b GROUP BY 1),
d AS (SELECT bin, n,
             abs((1000000 * np) // n - cs // n) AS gap FROM g),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM g)
SELECT (SELECT nt FROM tot) AS n,
       CAST(count(*) AS BIGINT) AS n_bins,
       CAST(sum(n * gap) // (SELECT nt FROM tot) AS BIGINT) AS ece_ppm,
       CAST(max(gap) AS BIGINT) AS worst_gap_ppm
FROM d
""",
)
def q_classifier_ece_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected Calibration Error scalar over the same 10 equi-width bins
    as classifier_calibration_bins — the one-number summary a model gate
    thresholds (weighted mean |accuracy − confidence| per bin, ppm), with
    confidence the min-max-normalized score (this classifier emits scores,
    not probabilities; the normalization is the identical exact integer
    map in both engines). Also reports the worst single-bin gap — ECE can
    average away a badly mis-calibrated bin.

    Scale shape: one scored scan (Arrow-batched hashed classifier), 1-row
    min/max broadcast, a 10-cell aggregate, a 1-row reduce."""
    from videos_to_tfrecords_spark.operators.text import hashed_linear_quality

    docs = load_table(spark, sf_dir, "documents")
    scored = (
        hashed_linear_quality(docs, keep_cols=("n_chars",))
        .select(
            F.col("score_x1000").alias("score"),
            F.when(F.col("n_chars") >= 200, F.lit(1)).otherwise(F.lit(0)).alias("y"),
        )
        .localCheckpoint(eager=True)
    )
    mm = scored.agg(
        F.min("score").cast("long").alias("mn"),
        F.max("score").cast("long").alias("mx"),
    )
    b = scored.crossJoin(F.broadcast(mm)).select(
        F.expr("((score - mn) * 10) div (mx - mn + 1)").alias("bin"),
        "y",
        F.expr("(1000000 * (score - mn)) div (mx - mn + 1)").alias("conf"),
    )
    g = b.groupBy("bin").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("np"),
        F.sum("conf").cast("long").alias("cs"),
    )
    d = g.select(
        "bin",
        "n",
        F.abs(F.expr("(1000000 * np) div n - cs div n")).alias("gap"),
    )
    tot = g.agg(F.sum("n").cast("long").alias("nt"))
    return d.crossJoin(F.broadcast(tot)).agg(
        F.max("nt").cast("long").alias("n"),
        F.count("*").cast("long").alias("n_bins"),
        F.expr("CAST(sum(n * gap) div max(nt) AS BIGINT)").alias("ece_ppm"),
        F.max("gap").cast("long").alias("worst_gap_ppm"),
    )


def _rouge_oracle() -> str:
    return """
WITH tok AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
lens AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS len1,
                CAST(GREATEST(1, len(t) - 1) AS BIGINT) AS len2 FROM tok),
uc AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c FROM
         (SELECT doc_id, unnest(t) AS g FROM tok) GROUP BY 1, 2),
bc AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c FROM
         (SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
                  i -> t[i] || ' ' || t[i+1])) AS g FROM tok) GROUP BY 1, 2),
pairs AS (SELECT source, doc_id AS ref_id,
                 lead(doc_id) OVER (PARTITION BY source ORDER BY doc_id)
                   AS cand_id
          FROM tok QUALIFY cand_id IS NOT NULL),
ov1 AS (SELECT p.ref_id, p.cand_id, sum(LEAST(a.c, b.c)) AS ov
        FROM pairs p JOIN uc a ON a.doc_id = p.ref_id
        JOIN uc b ON b.doc_id = p.cand_id AND b.g = a.g GROUP BY 1, 2),
ov2 AS (SELECT p.ref_id, p.cand_id, sum(LEAST(a.c, b.c)) AS ov
        FROM pairs p JOIN bc a ON a.doc_id = p.ref_id
        JOIN bc b ON b.doc_id = p.cand_id AND b.g = a.g GROUP BY 1, 2),
per AS (SELECT p.source, COALESCE(o1.ov, 0) AS o1, COALESCE(o2.ov, 0) AS o2,
               ra.len1 AS rl1, ra.len2 AS rl2, ca.len1 AS cl1, ca.len2 AS cl2
        FROM pairs p
        LEFT JOIN ov1 o1 ON o1.ref_id = p.ref_id AND o1.cand_id = p.cand_id
        LEFT JOIN ov2 o2 ON o2.ref_id = p.ref_id AND o2.cand_id = p.cand_id
        JOIN lens ra ON ra.doc_id = p.ref_id
        JOIN lens ca ON ca.doc_id = p.cand_id)
SELECT source, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(1000000 * o1 // rl1) // count(*) AS BIGINT) AS r1_recall_x1e6,
       CAST(sum(1000000 * o1 // cl1) // count(*) AS BIGINT) AS r1_prec_x1e6,
       CAST(sum(1000000 * o2 // rl2) // count(*) AS BIGINT) AS r2_recall_x1e6,
       CAST(sum(1000000 * o2 // cl2) // count(*) AS BIGINT) AS r2_prec_x1e6
FROM per GROUP BY 1
"""


@query("rouge_adjacent_overlap", _rouge_oracle())
def q_rouge_adjacent_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-1/ROUGE-2 (clipped n-gram overlap — Lin 2004, public) between
    each document and the NEXT doc id in its source: the reference-based
    overlap metric family (ROUGE/BLEU modified n-gram precision), applied
    as a template/boilerplate audit — a source whose adjacent documents
    share high clipped-bigram overlap is template-generated and a
    candidate for aggressive dedup before training.

    Overlap is Σ_g min(count_ref(g), count_cand(g)) — the BLEU clipping
    rule — over whitespace tokens (corpus convention). Per-pair metrics
    floor to ×1e6 integers BEFORE the per-source mean (sum // count), so
    both engines sum identical terms. Plan: two gram-count aggregates
    (map-side partial), one lead() window per source, and two
    (pair × gram)-key joins — all linear in corpus tokens; per-pair state
    is bounded by document length, never corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", "source", F.split("text", " ").alias("t"))
    lens = tok.select(
        "doc_id",
        F.size("t").cast("long").alias("len1"),
        F.greatest(F.lit(1), F.size("t") - 1).cast("long").alias("len2"),
    )
    uni = (
        tok.select("doc_id", F.explode("t").alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").cast("long").alias("c"))
    )
    bi_expr = (
        "CASE WHEN size(t) >= 2 THEN transform(sequence(0, size(t) - 2), "
        "i -> concat(element_at(t, i + 1), ' ', element_at(t, i + 2))) "
        "ELSE array() END"
    )
    bi = (
        tok.select("doc_id", F.explode(F.expr(bi_expr)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").cast("long").alias("c"))
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    pairs = (
        tok.select(
            "source",
            F.col("doc_id").alias("ref_id"),
            F.lead("doc_id").over(w).alias("cand_id"),
        )
        .filter(F.col("cand_id").isNotNull())
    )

    def overlap(gc: DataFrame, name: str) -> DataFrame:
        a = gc.select(
            F.col("doc_id").alias("ref_id"), "g", F.col("c").alias("ca")
        )
        b = gc.select(
            F.col("doc_id").alias("cand_id"), "g", F.col("c").alias("cb")
        )
        return (
            pairs.join(a, "ref_id")
            .join(b, ["cand_id", "g"])
            .groupBy("ref_id", "cand_id")
            .agg(F.sum(F.least("ca", "cb")).cast("long").alias(name))
        )

    per = (
        pairs.join(overlap(uni, "o1"), ["ref_id", "cand_id"], "left")
        .join(overlap(bi, "o2"), ["ref_id", "cand_id"], "left")
        .join(
            lens.select(
                F.col("doc_id").alias("ref_id"),
                F.col("len1").alias("rl1"),
                F.col("len2").alias("rl2"),
            ),
            "ref_id",
        )
        .join(
            lens.select(
                F.col("doc_id").alias("cand_id"),
                F.col("len1").alias("cl1"),
                F.col("len2").alias("cl2"),
            ),
            "cand_id",
        )
        .select(
            "source",
            F.coalesce(F.col("o1"), F.lit(0)).alias("o1"),
            F.coalesce(F.col("o2"), F.lit(0)).alias("o2"),
            "rl1", "rl2", "cl1", "cl2",
        )
    )
    return per.groupBy("source").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.expr("CAST(sum(1000000 * o1 div rl1) div count(*) AS BIGINT)").alias(
            "r1_recall_x1e6"
        ),
        F.expr("CAST(sum(1000000 * o1 div cl1) div count(*) AS BIGINT)").alias(
            "r1_prec_x1e6"
        ),
        F.expr("CAST(sum(1000000 * o2 div rl2) div count(*) AS BIGINT)").alias(
            "r2_recall_x1e6"
        ),
        F.expr("CAST(sum(1000000 * o2 div cl2) div count(*) AS BIGINT)").alias(
            "r2_prec_x1e6"
        ),
    )


@query(
    "heaps_law_fit",
    """
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS t FROM documents),
per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_tok,
         CAST(count(DISTINCT t) AS BIGINT) AS n_vocab
  FROM tok WHERE t <> '' GROUP BY 1),
pts AS (
  SELECT CAST(floor(10000 * ln(n_tok)) AS BIGINT) AS x,
         CAST(floor(10000 * ln(n_vocab)) AS BIGINT) AS y
  FROM per),
s AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
      FROM pts)
SELECT n AS n_sources,
       CAST(floor(1000000.0 * (n * sxy - sx * sy) / (n * sxx - sx * sx))
         AS BIGINT) AS heaps_beta_x1e6,
       CAST(floor(100.0 * (sy * 1.0 * sxx - sx * 1.0 * sxy) / (n * sxx - sx * sx))
         AS BIGINT) AS heaps_lnk_x1e6
FROM s
""",
)
def q_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit of vocabulary growth (V = K·nᵝ — public corpus
    statistic): OLS of ln(distinct tokens) on ln(total tokens) across the
    per-source points — the scaling-law readout a tokenizer/data team uses
    to predict vocabulary (and hence merge-table) growth at 100× corpus
    size. β≈0.5 for natural text; β→1 flags an id-like token stream.

    Same exactness recipe as vocab_zipf_slope: log points floor-quantized
    to int64 BEFORE the sums (×1e4 here so every OLS sufficient statistic
    — including the intercept's sy·sxx cross terms in DOUBLE — stays
    within exact range for a bounded source count), one double close per
    coefficient with identical expression order. Per-source token/vocab
    counts are one partial-agg shuffle; the fit runs over ~|sources|
    rows."""
    docs = load_table(spark, sf_dir, "documents")
    from videos_to_tfrecords_spark.functions.textfn import tokens

    per = (
        docs.select("source", F.explode(tokens("text")).alias("t"))
        .filter(F.col("t") != "")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_tok"),
            F.countDistinct("t").cast("long").alias("n_vocab"),
        )
    )
    pts = per.select(
        F.floor(F.lit(10000) * F.log(F.col("n_tok").cast("double")))
        .cast("long")
        .alias("x"),
        F.floor(F.lit(10000) * F.log(F.col("n_vocab").cast("double")))
        .cast("long")
        .alias("y"),
    )
    s = pts.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num_b = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    num_a = (
        F.col("sy").cast("double") * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sxy").cast("double")
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return s.select(
        F.col("n").alias("n_sources"),
        F.floor(F.lit(1000000.0) * num_b / den).cast("long").alias(
            "heaps_beta_x1e6"
        ),
        F.floor(F.lit(100.0) * num_a / den).cast("long").alias(
            "heaps_lnk_x1e6"
        ),
    )


@query(
    "brier_decomposition",
    f"""
WITH t AS (SELECT doc_id, n_chars, string_split(text, ' ') AS toks FROM documents),
f AS (SELECT doc_id, n_chars,
             list_concat(toks, {shingles_sql('toks', 2)}) AS feats FROM t),
s AS (SELECT doc_id, CAST(n_chars >= 200 AS INTEGER) AS y,
             CAST(coalesce((1000 * coalesce(list_sum(list_transform(feats,
               ft -> (({h15_sql('ft', salt='ftq')} % 4096) * 2654435761) % 2001 - 1000
             )), 0)) // nullif(len(feats), 0), 0) AS BIGINT) AS score
      FROM f),
g AS (SELECT (score + 1000000) // 2 AS p, CAST(count(*) AS HUGEINT) AS nk,
             CAST(sum(y) AS HUGEINT) AS pk
      FROM s GROUP BY 1),
tot AS (SELECT CAST(sum(nk) AS HUGEINT) AS n, CAST(sum(pk) AS HUGEINT) AS pos
        FROM g),
c AS (SELECT
        CAST(sum(nk * p * p - 2000000 * p * pk + 1000000000000 * pk)
          AS HUGEINT) AS brier_num,
        CAST(sum((p * nk - 1000000 * pk) * (p * nk - 1000000 * pk) // nk)
          AS HUGEINT) AS rel_num,
        CAST(sum((1000000000000 * (pk * (SELECT n FROM tot)
                  - (SELECT pos FROM tot) * nk)
                 * (pk * (SELECT n FROM tot) - (SELECT pos FROM tot) * nk))
             // (nk * (SELECT n FROM tot) * (SELECT n FROM tot)))
          AS HUGEINT) AS res_num
      FROM g)
SELECT CAST(n AS BIGINT) AS n_docs,
       CAST(brier_num // n AS BIGINT) AS brier_x1e12,
       CAST(rel_num // n AS BIGINT) AS reliability_x1e12,
       CAST(res_num // n AS BIGINT) AS resolution_x1e12,
       CAST((1000000000000 * pos * (n - pos)) // (n * n) AS BIGINT)
         AS uncertainty_x1e12
FROM c, tot
""",
)
def q_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score (Brier = reliability −
    resolution + uncertainty — public forecasting-verification identity)
    for the hashed quality classifier vs the independent length label:
    the eval that separates "the classifier's probabilities are
    miscalibrated" (reliability) from "the classifier can't discriminate"
    (resolution) — the next diagnostic after AUC/ECE when a filter
    threshold misbehaves.

    Forecast probabilities are the affine integer map
    p = (score+1e6) div 2 ∈ [0, 1e6] (the hashed score is a ×1000 MEAN of
    per-feature values in [−1000, 1000], so its domain is [−1e6, 1e6]);
    bins are the EXACT distinct-score census (the bounded score DOMAIN
    makes per-bin conditioning exact, not an approximation),
    so every component is a per-bin integer expression floored BEFORE the
    sum and closed in HUGEINT/DECIMAL(38,0). One census shuffle over a
    ≤2001-value domain; totals are a broadcast row."""
    from videos_to_tfrecords_spark.operators.text import hashed_linear_quality

    docs = load_table(spark, sf_dir, "documents")
    scored = (
        hashed_linear_quality(docs, keep_cols=("n_chars",))
        .select(
            F.col("score_x1000").alias("score"),
            F.when(F.col("n_chars") >= 200, F.lit(1)).otherwise(F.lit(0)).alias("y"),
        )
        .localCheckpoint(eager=True)
    )
    g = scored.groupBy(
        F.expr("(score + 1000000) div 2").alias("p")
    ).agg(
        F.count("*").cast("decimal(38,0)").alias("nk"),
        F.sum("y").cast("decimal(38,0)").alias("pk"),
    )
    tot = g.agg(
        F.sum("nk").cast("decimal(38,0)").alias("n"),
        F.sum("pk").cast("decimal(38,0)").alias("pos"),
    )
    c = g.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.expr("nk * p * p - 2000000 * p * pk + 1000000000000 * pk")
        ).alias("brier_num"),
        F.sum(
            F.expr(
                "(p * nk - 1000000 * pk) * (p * nk - 1000000 * pk) div nk"
            )
        ).alias("rel_num"),
        F.sum(
            F.expr(
                "(1000000000000 * (pk * n - pos * nk) * (pk * n - pos * nk))"
                " div (nk * n * n)"
            )
        ).alias("res_num"),
        F.first(F.col("n")).alias("n"),
        F.first(F.col("pos")).alias("pos"),
    )
    return c.select(
        F.col("n").cast("long").alias("n_docs"),
        F.expr("CAST(brier_num div n AS BIGINT)").alias("brier_x1e12"),
        F.expr("CAST(rel_num div n AS BIGINT)").alias("reliability_x1e12"),
        F.expr("CAST(res_num div n AS BIGINT)").alias("resolution_x1e12"),
        F.expr(
            "CAST((1000000000000 * pos * (n - pos)) div (n * n) AS BIGINT)"
        ).alias("uncertainty_x1e12"),
    )


def _isotonic_oracle() -> str:
    return f"""
WITH t AS (SELECT doc_id, n_chars, string_split(text, ' ') AS toks FROM documents),
f AS (SELECT doc_id, n_chars,
             list_concat(toks, {shingles_sql('toks', 2)}) AS feats FROM t),
s AS (SELECT doc_id, CAST(n_chars >= 200 AS INTEGER) AS y,
             CAST(coalesce((1000 * coalesce(list_sum(list_transform(feats,
               ft -> (({h15_sql('ft', salt='ftq')} % 4096) * 2654435761) % 2001 - 1000
             )), 0)) // nullif(len(feats), 0), 0) AS BIGINT) AS score
      FROM f),
mm AS (SELECT CAST(min(score) AS BIGINT) AS mn, CAST(max(score) AS BIGINT) AS mx
       FROM s),
census AS (SELECT ((s.score - mm.mn) * 64) // (mm.mx - mm.mn + 1) AS bin,
                  CAST(count(*) AS BIGINT) AS cnt,
                  CAST(sum(s.y) AS BIGINT) AS pos
           FROM s, mm GROUP BY 1),
idx AS (SELECT bin, cnt, pos, row_number() OVER (ORDER BY bin) AS i FROM census),
pre AS (SELECT i, bin, cnt, pos,
               CAST(sum(cnt) OVER (ORDER BY i) AS BIGINT) AS cc,
               CAST(sum(pos) OVER (ORDER BY i) AS BIGINT) AS cs
        FROM idx),
pairs AS (SELECT j.i AS j, k.i AS k,
                 (1000000 * (k.cs - COALESCE(j0.cs, 0)))
                   // (k.cc - COALESCE(j0.cc, 0)) AS a
          FROM pre j JOIN pre k ON k.i >= j.i
          LEFT JOIN pre j0 ON j0.i = j.i - 1),
tri AS (SELECT p.j, p.a, q.i FROM pairs p
        JOIN pre q ON q.i BETWEEN p.j AND p.k),
mj AS (SELECT j, i, min(a) AS m FROM tri GROUP BY 1, 2),
g AS (SELECT i, CAST(max(m) AS BIGINT) AS iso FROM mj GROUP BY 1)
SELECT pre.bin, pre.cnt AS n, pre.pos AS n_pos, g.iso AS iso_rate_x1e6
FROM pre JOIN g USING (i)
"""


@query("isotonic_calibration_fit", _isotonic_oracle())
def q_isotonic_calibration_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic-regression calibration of the hashed quality classifier
    (PAV solution via the exact minimax identity ĝ(i) = max_{{j≤i}}
    min_{{k≥i}} avg(y over bins j..k) — public result; e.g. Robertson et
    al.'s order-restricted inference): the monotone probability map a
    team fits when Platt scaling's sigmoid is too rigid. Produces the
    per-bin isotonic rate next to the raw rate — the downstream
    calibrated score is a lookup into this table.

    Scale shape: the corpus pass is ONE census over 64 equi-width score
    bins (edges from a broadcast min/max row); the minimax runs over
    bin-index triples (≤64³/6 rows) — CORPUS-INDEPENDENT, so the fit
    costs the same at 100 TB as at 100 MB. Per-(j,k) averages floor to
    ×1e6 integers before the min/max folds, so both engines take minimax
    of identical int64 values. Mean monotonicity is pytest-asserted."""
    from videos_to_tfrecords_spark.operators.text import hashed_linear_quality

    docs = load_table(spark, sf_dir, "documents")
    scored = (
        hashed_linear_quality(docs, keep_cols=("n_chars",))
        .select(
            F.col("score_x1000").alias("score"),
            F.when(F.col("n_chars") >= 200, F.lit(1)).otherwise(F.lit(0)).alias("y"),
        )
        .localCheckpoint(eager=True)
    )
    mm = scored.agg(
        F.min("score").cast("long").alias("mn"),
        F.max("score").cast("long").alias("mx"),
    )
    census = (
        scored.crossJoin(F.broadcast(mm))
        .select(
            F.expr("((score - mn) * 64) div (mx - mn + 1)").alias("bin"), "y"
        )
        .groupBy("bin")
        .agg(F.count("*").cast("long").alias("cnt"), F.sum("y").cast("long").alias("pos"))
    )
    w = Window.orderBy("bin")
    pre = census.select(
        "bin",
        "cnt",
        "pos",
        F.row_number().over(w).cast("long").alias("i"),
        F.sum("cnt").over(w).cast("long").alias("cc"),
        F.sum("pos").over(w).cast("long").alias("cs"),
    ).localCheckpoint(eager=True)
    j = pre.select(
        F.col("i").alias("j"),
        (F.col("cc") - F.col("cnt")).alias("c0"),
        (F.col("cs") - F.col("pos")).alias("s0"),
    )
    k = pre.select(
        F.col("i").alias("k"), F.col("cc").alias("ck"), F.col("cs").alias("sk")
    )
    pairs = j.join(k, F.col("k") >= F.col("j")).select(
        "j",
        "k",
        F.expr("(1000000 * (sk - s0)) div (ck - c0)").alias("a"),
    )
    tri = pairs.join(
        pre.select(F.col("i")),
        (F.col("i") >= F.col("j")) & (F.col("i") <= F.col("k")),
    )
    mj = tri.groupBy("j", "i").agg(F.min("a").alias("m"))
    g = mj.groupBy("i").agg(F.max("m").cast("long").alias("iso"))
    return pre.join(g, "i").select(
        "bin",
        F.col("cnt").alias("n"),
        F.col("pos").alias("n_pos"),
        F.col("iso").alias("iso_rate_x1e6"),
    )


@query(
    "threshold_tuning_max_f1",
    f"""
WITH t AS (SELECT doc_id, n_chars, string_split(text, ' ') AS toks FROM documents),
f AS (SELECT doc_id, n_chars,
             list_concat(toks, {shingles_sql('toks', 2)}) AS feats FROM t),
s AS (SELECT doc_id, CAST(n_chars >= 200 AS INTEGER) AS y,
             CAST(coalesce((1000 * coalesce(list_sum(list_transform(feats,
               ft -> (({h15_sql('ft', salt='ftq')} % 4096) * 2654435761) % 2001 - 1000
             )), 0)) // nullif(len(feats), 0), 0) AS BIGINT) AS score
      FROM f),
g AS (SELECT score, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(y) AS BIGINT) AS pos FROM s GROUP BY 1),
tot AS (SELECT CAST(sum(pos) AS BIGINT) AS p FROM g),
suf AS (SELECT score,
               sum(pos) OVER (ORDER BY score DESC ROWS UNBOUNDED PRECEDING)
                 AS tp,
               sum(cnt - pos) OVER (ORDER BY score DESC ROWS UNBOUNDED
                 PRECEDING) AS fp
        FROM g),
f1 AS (SELECT score AS threshold, CAST(tp AS BIGINT) AS tp,
              CAST(fp AS BIGINT) AS fp,
              CAST((SELECT p FROM tot) - tp AS BIGINT) AS fn,
              (2000000 * tp) // (tp + fp + (SELECT p FROM tot)) AS f1_x1e6
       FROM suf)
SELECT threshold, tp, fp, fn,
       CAST((1000000 * tp) // (tp + fp) AS BIGINT) AS precision_x1e6,
       CAST((1000000 * tp) // (tp + fn) AS BIGINT) AS recall_x1e6,
       CAST(f1_x1e6 AS BIGINT) AS f1_x1e6
FROM f1 ORDER BY f1_x1e6 DESC, threshold LIMIT 1
""",
)
def q_threshold_tuning_max_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-threshold tuning for the hashed quality classifier: sweep
    EVERY distinct score as the "keep if score ≥ t" cutoff and report the
    max-F1 operating point with its precision/recall — the knob-setting
    step between training a filter and running it over the corpus.

    TP/FP at every threshold come from ONE descending running sum over
    the distinct-score census (the O(n) unbounded-PRECEDING frame — never
    the O(n²) following frame), so the whole sweep costs one census
    shuffle plus a window over the bounded score DOMAIN (≤2e6 values at
    any corpus size). F1 is floor-quantized to 1e-6 before the argmax;
    ties break to the lowest threshold — deterministic both engines."""
    from videos_to_tfrecords_spark.operators.text import hashed_linear_quality

    docs = load_table(spark, sf_dir, "documents")
    scored = hashed_linear_quality(docs, keep_cols=("n_chars",)).select(
        F.col("score_x1000").alias("score"),
        F.when(F.col("n_chars") >= 200, F.lit(1)).otherwise(F.lit(0)).alias("y"),
    )
    g = scored.groupBy("score").agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum("y").cast("long").alias("pos"),
    )
    tot = g.agg(F.sum("pos").cast("long").alias("p"))
    w = Window.orderBy(F.desc("score")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    suf = g.select(
        "score",
        F.sum("pos").over(w).cast("long").alias("tp"),
        F.sum(F.col("cnt") - F.col("pos")).over(w).cast("long").alias("fp"),
    )
    f1 = suf.crossJoin(F.broadcast(tot)).select(
        F.col("score").alias("threshold"),
        "tp",
        "fp",
        (F.col("p") - F.col("tp")).cast("long").alias("fn"),
        F.expr("(2000000 * tp) div (tp + fp + p)").alias("f1_x1e6"),
    )
    return (
        f1.orderBy(F.desc("f1_x1e6"), F.asc("threshold"))
        .limit(1)
        .select(
            "threshold",
            "tp",
            "fp",
            "fn",
            F.expr("CAST((1000000 * tp) div (tp + fp) AS BIGINT)").alias(
                "precision_x1e6"
            ),
            F.expr("CAST((1000000 * tp) div (tp + fn) AS BIGINT)").alias(
                "recall_x1e6"
            ),
            F.col("f1_x1e6").cast("long").alias("f1_x1e6"),
        )
    )


def _coverage_selection_oracle(k: int = 5) -> str:
    parts = [
        """WITH st AS (
  SELECT DISTINCT source, unnest(string_split(text, ' ')) AS tok
  FROM documents),
srcs AS (SELECT DISTINCT source FROM st)""",
        """g1 AS (SELECT source, CAST(count(*) AS BIGINT) AS g FROM st GROUP BY 1),
c1 AS (SELECT s.source, COALESCE(g1.g, 0) AS g FROM srcs s
       LEFT JOIN g1 ON g1.source = s.source
       ORDER BY g DESC, s.source LIMIT 1),
cov1 AS (SELECT DISTINCT tok FROM st
         WHERE source = (SELECT source FROM c1))""",
    ]
    for i in range(2, k + 1):
        p = i - 1
        parts.append(f"""g{i} AS (SELECT st.source, CAST(count(*) AS BIGINT) AS g
       FROM st LEFT JOIN cov{p} ON st.tok = cov{p}.tok
       WHERE cov{p}.tok IS NULL
       GROUP BY 1),
c{i} AS (SELECT s.source, COALESCE(g{i}.g, 0) AS g FROM srcs s
       LEFT JOIN g{i} ON g{i}.source = s.source
       LEFT JOIN sel{p} ON sel{p}.source = s.source
       WHERE sel{p}.source IS NULL
       ORDER BY g DESC, s.source LIMIT 1),
cov{i} AS (SELECT tok FROM cov{p} UNION
           SELECT DISTINCT st.tok FROM st
           WHERE st.source = (SELECT source FROM c{i}))""")
    sels = ["sel1 AS (SELECT source FROM c1)"]
    for i in range(2, k + 1):
        sels.append(
            f"sel{i} AS (SELECT source FROM sel{i-1} "
            f"UNION ALL SELECT source FROM c{i})"
        )
    finals = []
    for i in range(1, k + 1):
        finals.append(
            f"SELECT CAST({i} AS BIGINT) AS step,"
            f" (SELECT source FROM c{i}) AS source,"
            f" (SELECT g FROM c{i}) AS gain,"
            f" (SELECT CAST(count(*) AS BIGINT) FROM cov{i}) AS covered"
        )
    ordered = [parts[0], parts[1], sels[0]]
    for i in range(2, k + 1):
        ordered.append(parts[i])
        ordered.append(sels[i - 1])
    return ",\n".join(ordered) + "\n" + "\nUNION ALL ".join(finals)


@query("coverage_source_selection", _coverage_selection_oracle())
def q_coverage_source_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy maximum-coverage source selection (the submodular
    data-selection classic — 1−1/e guarantee, Nemhauser et al. 1978,
    public): pick 5 sources one at a time, each maximizing the count of
    vocabulary tokens NOT yet covered by the already-selected sources —
    the "which domains buy the most new vocabulary" question behind
    corpus mixing and acquisition decisions. Emits per-step source,
    marginal gain, and cumulative coverage.

    The distinct (source, token) table builds once (one shuffle,
    checkpointed — it feeds every round); each of the 5 rounds is one
    anti-join + per-source count + TakeOrdered(1), linear in the table
    with the covered side growing but bounded by the vocabulary. Ties
    break to the lexicographically first source — deterministic."""
    docs = load_table(spark, sf_dir, "documents")
    st = (
        docs.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    srcs = st.select("source").distinct().localCheckpoint(eager=True)
    selected: list[str] = []
    out = []
    covered = None
    for step in range(1, 6):
        cand = st
        if covered is not None:
            cand = cand.join(covered, "tok", "left_anti")
        gains = cand.groupBy("source").agg(
            F.count("*").cast("long").alias("g")
        )
        base = srcs
        if selected:
            base = base.filter(~F.col("source").isin(selected))
        pick = (
            base.join(gains, "source", "left")
            .select("source", F.coalesce("g", F.lit(0)).alias("g"))
            .orderBy(F.desc("g"), F.asc("source"))
            .limit(1)
            .collect()[0]
        )
        selected.append(pick["source"])
        new_cov = st.filter(F.col("source") == pick["source"]).select("tok")
        covered = (
            new_cov
            if covered is None
            else covered.unionByName(new_cov).distinct()
        ).localCheckpoint(eager=True)
        n_cov = covered.count()
        out.append((step, pick["source"], int(pick["g"]), int(n_cov)))
    return spark.createDataFrame(
        out, "step long, source string, gain long, covered long"
    )



def _minhash_calibration_oracle() -> str:
    est = " + ".join(
        f"CASE WHEN sa.sig{i} = sb.sig{i} THEN 1 ELSE 0 END" for i in range(16)
    )
    return f"""
WITH {_portable_lsh_cte()},
m AS (SELECT c.id_a, c.id_b, CAST({est} AS BIGINT) AS sig_matches
      FROM cand c JOIN sig sa ON sa.doc_id = c.id_a
      JOIN sig sb ON sb.doc_id = c.id_b),
common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS cm
           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
per AS (SELECT m.sig_matches,
               CASE WHEN common.cm IS NULL THEN 0
                    ELSE CAST(floor(1000.0 * common.cm /
                         (sa.n + sb.n - common.cm)) AS BIGINT) END AS j
        FROM m LEFT JOIN common ON common.id_a = m.id_a AND common.id_b = m.id_b
        JOIN sizes sa ON sa.doc_id = m.id_a
        JOIN sizes sb ON sb.doc_id = m.id_b)
SELECT sig_matches, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(j) // count(*) AS BIGINT) AS mean_j_x1000,
       CAST(min(j) AS BIGINT) AS min_j_x1000,
       CAST(max(j) AS BIGINT) AS max_j_x1000
FROM per GROUP BY 1
"""


@query("minhash_estimate_calibration", _minhash_calibration_oracle())
def q_minhash_estimate_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration curve of the 16-permutation MinHash sketch: for every
    LSH banding candidate pair, the signature agreement count (0..16)
    against the EXACT Jaccard of the pair — the diagnostic that tells a
    dedup pipeline how much its sketch over/under-estimates before anyone
    trusts unverified sketch distances (each match is a Bernoulli(J)
    trial, so mean J per agreement bucket should track matches/16).

    Signatures here use the PORTABLE h15 hash split into 30-bit halves
    (operators/dedup.minhash_signatures_portable) so the oracle reproduces them
    bit-for-bit; candidates come from the same 8x2 banding; exact J comes
    from the array-intersect verifier restricted to candidates (pairs
    sharing no shingle count as J=0). One shingle shuffle + one banding
    join + a candidate-sized verify."""
    from videos_to_tfrecords_spark.operators.dedup import (
        jaccard_verify_from_texts,
        lsh_candidate_pairs,
        minhash_signatures_portable,
        shingle_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    # NOT shared with the verify (r11 A/B, VERDICT r10 #4 tried and
    # REVERTED): persisting this table to thread it into the verify via
    # ``shingles=`` measured 3.53 -> 4.37 s solo at sf0.1 — the cache
    # materialization costs more than the verify's candidate-only
    # re-shingle saves, because LSH candidates are a small subset of the
    # corpus here (unlike the recall evals, where the table is persisted
    # anyway and candidates ~ corpus).
    sh = shingle_table(docs).distinct()
    sig = minhash_signatures_portable(sh).localCheckpoint(eager=True)
    cand = lsh_candidate_pairs(sig).localCheckpoint(eager=True)
    sa = sig.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"sig{i}").alias(f"a{i}") for i in range(16)],
    )
    sb = sig.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"sig{i}").alias(f"b{i}") for i in range(16)],
    )
    est_expr = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(16)
    )
    m = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", est_expr.cast("long").alias("sig_matches"))
    )
    j = jaccard_verify_from_texts(cand, docs, threshold_x1000=0).select(
        "id_a", "id_b", "j_x1000"
    )
    per = m.join(j, ["id_a", "id_b"], "left").select(
        "sig_matches",
        F.coalesce(F.col("j_x1000"), F.lit(0)).cast("long").alias("j"),
    )
    return per.groupBy("sig_matches").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.expr("CAST(sum(j) div count(*) AS BIGINT)").alias("mean_j_x1000"),
        F.min("j").alias("min_j_x1000"),
        F.max("j").alias("max_j_x1000"),
    )


@query(
    "doc_containment_pairs",
    f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (SELECT DISTINCT doc_id, unnest({shingles_sql('t')}) AS s FROM tok),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1),
small AS (SELECT doc_id, n FROM sizes WHERE n <= 32),
common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                  CAST(count(*) AS BIGINT) AS cm
           FROM sh a JOIN small sm ON sm.doc_id = a.doc_id
           JOIN sh b ON b.s = a.s AND b.doc_id != a.doc_id
           GROUP BY 1, 2)
SELECT c.id_a, c.id_b,
       CAST((1000 * c.cm) // sm.n AS BIGINT) AS containment_x1000
FROM common c JOIN small sm ON sm.doc_id = c.id_a
WHERE (1000 * c.cm) // sm.n >= 600
""",
)
def q_doc_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup pairs (quote/inclusion detection):
    containment(A→B) = |shingles(A) ∩ shingles(B)| / |shingles(A)| ≥ 0.6
    for SMALL left docs (≤32 shingles) — the dedup case symmetric Jaccard
    structurally misses: a short document quoted inside a long one has
    tiny Jaccard but containment ≈ 1. Small-side bounding is the scale
    contract: the inverted-index join fans out only from small docs'
    shingles (≤32 per doc), so candidate volume is |small docs|·32·df,
    never corpus². Exact integers; the 0.6 cutoff floors before the
    filter identically on both engines."""
    from videos_to_tfrecords_spark.operators.dedup import shingle_table

    docs = load_table(spark, sf_dir, "documents")
    sh = shingle_table(docs).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count("*").cast("long").alias("n"))
    small = sizes.filter(F.col("n") <= 32)
    sh_small = sh.join(
        small.select("doc_id"), "doc_id"
    ).select(F.col("doc_id").alias("id_a"), "s")
    sh_all = sh.select(F.col("doc_id").alias("id_b"), "s")
    common = (
        sh_small.join(sh_all, "s")
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("cm"))
    )
    return (
        common.join(
            small.select(F.col("doc_id").alias("id_a"), "n"), "id_a"
        )
        .select(
            "id_a",
            "id_b",
            F.expr("(1000 * cm) div n").cast("long").alias("containment_x1000"),
        )
        .filter(F.col("containment_x1000") >= 600)
    )


@query(
    "classifier_eval_card",
    f"""
WITH t AS (SELECT doc_id, n_chars, string_split(text, ' ') AS toks FROM documents),
f AS (SELECT doc_id, n_chars,
             list_concat(toks, {shingles_sql('toks', 2)}) AS feats FROM t),
s AS (SELECT doc_id, CAST(n_chars >= 200 AS INTEGER) AS y,
             CAST(coalesce((1000 * coalesce(list_sum(list_transform(feats,
               ft -> (({h15_sql('ft', salt='ftq')} % 4096) * 2654435761) % 2001 - 1000
             )), 0)) // nullif(len(feats), 0), 0) AS BIGINT) AS score
      FROM f),
g AS (SELECT score, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(y) AS BIGINT) AS pos FROM s GROUP BY 1),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS p
        FROM g),
r AS (SELECT cnt, pos,
             CAST(coalesce(sum(cnt) OVER (ORDER BY score
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_before
      FROM g),
auc AS (SELECT CAST(sum(pos * (2 * cum_before + cnt + 1)) AS BIGINT) AS n2
        FROM r),
br AS (SELECT CAST(sum(CAST(nk AS HUGEINT) * pq * pq
                       - 2000000 * pq * CAST(pk AS HUGEINT)
                       + 1000000000000 * CAST(pk AS HUGEINT)) AS HUGEINT)
                 AS brier_num
       FROM (SELECT (score + 1000000) // 2 AS pq, cnt AS nk, pos AS pk
             FROM g)),
suf AS (SELECT sum(pos) OVER (ORDER BY score DESC ROWS UNBOUNDED PRECEDING)
               AS tp,
               sum(cnt - pos) OVER (ORDER BY score DESC ROWS UNBOUNDED
                 PRECEDING) AS fp
        FROM g),
bestf1 AS (SELECT max((2000000 * tp) // (tp + fp + (SELECT p FROM tot)))
             AS f1 FROM suf)
SELECT tot.n AS n_docs, tot.p AS n_pos,
       CAST((1000000 * ((SELECT n2 FROM auc) - tot.p * (tot.p + 1)))
            // (2 * tot.p * (tot.n - tot.p)) AS BIGINT) AS auc_x1e6,
       CAST((SELECT brier_num FROM br) // tot.n AS BIGINT) AS brier_x1e12,
       CAST((SELECT f1 FROM bestf1) AS BIGINT) AS best_f1_x1e6
FROM tot
""",
)
def q_classifier_eval_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row model eval card for the hashed quality classifier — AUC,
    Brier score, and best achievable F1 from ONE shared distinct-score
    census (the separate classifier_auc_eval / brier_decomposition /
    threshold_tuning_max_f1 queries each rebuild that census; a real eval
    harness reports them together off one pass). Every metric follows
    the already-verified integer construction: rank-sum AUC, HUGEINT
    Brier numerator over the affine probability map, and the descending
    running-sum F1 sweep's max. One corpus scan + one census shuffle +
    bounded-domain windows."""
    from videos_to_tfrecords_spark.operators.text import hashed_linear_quality

    docs = load_table(spark, sf_dir, "documents")
    scored = hashed_linear_quality(docs, keep_cols=("n_chars",)).select(
        F.col("score_x1000").alias("score"),
        F.when(F.col("n_chars") >= 200, F.lit(1)).otherwise(F.lit(0)).alias("y"),
    )
    g = scored.groupBy("score").agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum("y").cast("long").alias("pos"),
    ).localCheckpoint(eager=True)
    tot = g.agg(
        F.sum("cnt").cast("long").alias("n"), F.sum("pos").cast("long").alias("p")
    )
    wa = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    auc_n2 = g.select(
        "cnt",
        "pos",
        F.coalesce(F.sum("cnt").over(wa), F.lit(0)).alias("cum_before"),
    ).agg(
        F.sum(F.col("pos") * (2 * F.col("cum_before") + F.col("cnt") + 1))
        .cast("long")
        .alias("n2")
    )
    br = g.select(
        F.expr("(score + 1000000) div 2").cast("decimal(38,0)").alias("pq"),
        F.col("cnt").cast("decimal(38,0)").alias("nk"),
        F.col("pos").cast("decimal(38,0)").alias("pk"),
    ).agg(
        F.sum(
            F.expr("nk * pq * pq - 2000000 * pq * pk + 1000000000000 * pk")
        ).alias("brier_num")
    )
    wd = Window.orderBy(F.desc("score")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    suf = g.select(
        F.sum("pos").over(wd).cast("long").alias("tp"),
        F.sum(F.col("cnt") - F.col("pos")).over(wd).cast("long").alias("fp"),
    )
    bestf1 = suf.crossJoin(F.broadcast(tot)).agg(
        F.max(F.expr("(2000000 * tp) div (tp + fp + p)")).alias("f1")
    )
    return (
        F.broadcast(tot)
        .crossJoin(F.broadcast(auc_n2))
        .crossJoin(F.broadcast(br))
        .crossJoin(F.broadcast(bestf1))
        .select(
            F.col("n").alias("n_docs"),
            F.col("p").alias("n_pos"),
            F.expr(
                "CAST((1000000 * (n2 - p * (p + 1))) div (2 * p * (n - p))"
                " AS BIGINT)"
            ).alias("auc_x1e6"),
            F.expr("CAST(brier_num div n AS BIGINT)").alias("brier_x1e12"),
            F.col("f1").cast("long").alias("best_f1_x1e6"),
        )
    )


@query(
    "edit_distance_adjacent",
    """
WITH p AS (SELECT source, doc_id AS ref_id, text AS ref_text,
                  lead(doc_id) OVER w AS cand_id,
                  lead(text) OVER w AS cand_text
           FROM documents
           WINDOW w AS (PARTITION BY source ORDER BY doc_id)
           QUALIFY cand_id IS NOT NULL),
d AS (SELECT source,
             CAST(levenshtein(ref_text, cand_text) AS BIGINT) AS ed,
             CAST(GREATEST(len(ref_text), len(cand_text), 1) AS BIGINT) AS mx
      FROM p)
SELECT source, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(1000000 * ed // mx) // count(*) AS BIGINT)
         AS mean_norm_ed_ppm,
       CAST(min(1000000 * ed // mx) AS BIGINT) AS min_norm_ed_ppm
FROM d GROUP BY 1
""",
)
def q_edit_distance_adjacent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level edit distance between adjacent documents per source
    (normalized by the longer length): the character-granular sibling of
    rouge_adjacent_overlap's token view — low normalized edit distance
    between neighbors flags templated/near-copied runs that survive token
    shuffling. Uses both engines' BUILT-IN levenshtein (identical DP
    definition); per-pair normalization floors to ppm before the
    per-source mean. One lead() window per source; per-pair cost is
    bounded by document length², never corpus-sized.

    The window clusters ALL pairs into ≤ n_sources tasks — sources are
    low-cardinality at every scale, so the O(len²) levenshtein stage ran
    ~n_sources-wide no matter how many cores exist (guide §2.5 skew).
    Rebalance the assembled pairs on the unique cand_id (deterministic
    high-cardinality key, §2.5) before the DP so the quadratic work
    spreads over the full cluster; the per-source census after it is a
    tiny aggregate shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    p = docs.select(
        "source",
        F.col("text").alias("ref_text"),
        F.lead("doc_id").over(w).alias("cand_id"),
        F.lead("text").over(w).alias("cand_text"),
    ).filter(F.col("cand_id").isNotNull())
    p = p.repartition("cand_id")
    d = p.select(
        "source",
        F.levenshtein("ref_text", "cand_text").cast("long").alias("ed"),
        F.greatest(
            F.length("ref_text"), F.length("cand_text"), F.lit(1)
        )
        .cast("long")
        .alias("mx"),
    )
    return d.groupBy("source").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.expr(
            "CAST(sum(1000000 * ed div mx) div count(*) AS BIGINT)"
        ).alias("mean_norm_ed_ppm"),
        F.expr("CAST(min(1000000 * ed div mx) AS BIGINT)").alias(
            "min_norm_ed_ppm"
        ),
    )


@query(
    "hapax_rate_by_source",
    """
WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS t
             FROM documents),
tf AS (SELECT source, t, CAST(count(*) AS BIGINT) AS f
       FROM tok WHERE t <> '' GROUP BY 1, 2)
SELECT source,
       CAST(count(*) AS BIGINT) AS vocab,
       CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
       CAST((1000000 * sum(CASE WHEN f = 1 THEN 1 ELSE 0 END)) // count(*)
         AS BIGINT) AS hapax_ppm
FROM tf GROUP BY 1
""",
)
def q_hapax_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax legomena rate per source (share of the source's vocabulary
    that occurs exactly once): the lexical-richness companion to
    heaps_law_fit — a near-zero hapax rate flags templated/synthetic
    text (vocabulary saturates), an inflated one flags OCR noise or
    tokenizer breakage (junk one-off 'words'). One (source, token)
    combine with map-side partials, then a per-source rollup; all
    integers."""
    docs = load_table(spark, sf_dir, "documents")
    from videos_to_tfrecords_spark.functions.textfn import tokens

    tf = (
        docs.select("source", F.explode(tokens("text")).alias("t"))
        .filter(F.col("t") != "")
        .groupBy("source", "t")
        .agg(F.count("*").cast("long").alias("f"))
    )
    return tf.groupBy("source").agg(
        F.count("*").cast("long").alias("vocab"),
        F.sum(F.when(F.col("f") == 1, 1).otherwise(0))
        .cast("long")
        .alias("hapax"),
        F.expr(
            "CAST((1000000 * sum(CASE WHEN f = 1 THEN 1 ELSE 0 END))"
            " div count(*) AS BIGINT)"
        ).alias("hapax_ppm"),
    )


@query(
    "bigram_lm_next_token_accuracy",
    """
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
bg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
              i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS p
       FROM tok),
flat AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM bg),
fit AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n
        FROM flat WHERE doc_id % 97 != 0 GROUP BY 1, 2),
pred AS (SELECT w1, w2 AS w2_hat FROM (
           SELECT w1, w2, row_number() OVER (PARTITION BY w1
                    ORDER BY n DESC, w2) AS rnk FROM fit)
         WHERE rnk = 1),
ev AS (SELECT f.w1, f.w2, p.w2_hat
       FROM flat f LEFT JOIN pred p ON p.w1 = f.w1
       WHERE f.doc_id % 97 = 0)
SELECT CAST(count(*) AS BIGINT) AS n_eval_bigrams,
       CAST(sum(CASE WHEN w2_hat IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unseen_context,
       CAST(sum(CASE WHEN w2_hat = w2 THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       CAST((1000000 * sum(CASE WHEN w2_hat = w2 THEN 1 ELSE 0 END))
            // count(*) AS BIGINT) AS acc_ppm
FROM ev
""",
)
def q_bigram_lm_next_token_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out next-TOKEN top-1 accuracy of the corpus bigram LM — the
    token-granularity sibling of markov_next_event_accuracy and the eval
    side of doc_bigram_lm_nll: fit argmax(P(w₂|w₁)) on the 96/97 hash
    split, score exact-match next-token prediction on the held-out docs
    (unseen contexts counted separately — the LM-coverage readout). Ties
    in the argmax break lexicographically, identical both engines.

    Scale shape: the fit is one (w₁,w₂) combine (map-side partial,
    Zipf-concentrated); the per-context argmax is a window over the
    bounded vocabulary domain; the eval is one broadcast-shaped join of
    held-out bigrams against the prediction table."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.split("text", " ").alias("t"))
    flat = (
        tok.select(
            "doc_id",
            "t",
            F.explode(F.sequence(F.lit(1), F.size("t") - 1)).alias("i"),
        )
        .select(
            "doc_id",
            F.element_at("t", F.col("i")).alias("w1"),
            F.element_at("t", F.col("i") + 1).alias("w2"),
        )
    )
    fit = (
        flat.filter(F.col("doc_id") % 97 != 0)
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("n"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("w1").orderBy(F.desc("n"), F.asc("w2"))
    pred = (
        fit.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select("w1", F.col("w2").alias("w2_hat"))
    )
    ev = flat.filter(F.col("doc_id") % 97 == 0).join(pred, "w1", "left")
    return ev.agg(
        F.count("*").cast("long").alias("n_eval_bigrams"),
        F.sum(F.when(F.col("w2_hat").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_unseen_context"),
        F.sum(F.when(F.col("w2_hat") == F.col("w2"), 1).otherwise(0))
        .cast("long")
        .alias("n_hits"),
        F.expr(
            "CAST((1000000 * sum(CASE WHEN w2_hat = w2 THEN 1 ELSE 0 END))"
            " div count(*) AS BIGINT)"
        ).alias("acc_ppm"),
    )


@query(
    "cross_source_duplication",
    """
WITH h AS (SELECT md5(text) AS ch, source FROM documents),
hs AS (SELECT DISTINCT ch, source FROM h),
p AS (SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT)
        AS n_shared
      FROM hs a JOIN hs b ON a.ch = b.ch AND a.source < b.source
      GROUP BY 1, 2)
SELECT src_a, src_b, n_shared FROM p
ORDER BY n_shared DESC, src_a, src_b LIMIT 20
""",
)
def q_cross_source_duplication(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source exact-duplication matrix: source pairs ranked by the
    number of content hashes they SHARE — the syndication/mirror census a
    crawl-dedup pipeline reads to decide which domains to collapse before
    near-dup passes (exact cross-site copies are the cheapest dedup win
    and also the worst train/test leakage vector when sources are split
    naively). Only (hash, source) rows shuffle — never text; the pair
    join fans out per content hash by its distinct-source count (bounded
    by the source roster, not the corpus); top-20 is
    TakeOrderedAndProject."""
    docs = load_table(spark, sf_dir, "documents")
    hs = docs.select(
        F.md5("text").alias("ch"), "source"
    ).distinct()
    a = hs.select("ch", F.col("source").alias("src_a"))
    b = hs.select("ch", F.col("source").alias("src_b"))
    p = (
        a.join(b, "ch")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
    )
    return p.orderBy(F.desc("n_shared"), F.asc("src_a"), F.asc("src_b")).limit(20)


@query(
    "cross_doc_span_removal",
    f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
pos AS (SELECT doc_id, len(t) AS n_tokens, t,
               unnest(CASE WHEN len(t) >= 8
                      THEN range(1, len(t) - 6) ELSE [] END) AS p
        FROM tok),
sh AS (SELECT doc_id, n_tokens, p,
              {h15_sql("array_to_string(list_slice(t, p, p + 7), ' ')")} AS h
       FROM pos),
multi AS (SELECT h FROM sh GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
fl AS (SELECT doc_id, n_tokens, p FROM sh JOIN multi USING (h)),
g AS (SELECT doc_id, n_tokens, p,
             CASE WHEN lag(p) OVER w IS NULL OR p - lag(p) OVER w > 8
                  THEN 1 ELSE 0 END AS ns
      FROM fl WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
s AS (SELECT doc_id, n_tokens, p,
             sum(ns) OVER (PARTITION BY doc_id ORDER BY p
                           ROWS UNBOUNDED PRECEDING) AS sid
      FROM g),
spans AS (SELECT doc_id, n_tokens, sid,
                 max(p) - min(p) + 8 AS span_tokens
          FROM s GROUP BY 1, 2, 3)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_dup_spans,
       CAST(sum(span_tokens) AS BIGINT) AS dup_tokens,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_tokens - sum(span_tokens) AS BIGINT) AS kept_tokens
FROM spans GROUP BY doc_id, n_tokens
""",
)
def q_cross_doc_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level cross-corpus span removal (VERDICT r5 #7 — the
    ExactSubstr dedup mode): per affected document, the maximal duplicated
    regions an 8-token-granularity span-removal pass would cut — merged
    span count, removed-token total, and surviving token count. Complements
    doc_duplicate_spans (which counts flagged WINDOWS) with the actual
    interval-union REMOVAL semantics. Inverted-index + per-doc running
    window; see operators/dedup.duplicate_span_stats for the scale story."""
    from videos_to_tfrecords_spark.operators.dedup import duplicate_span_stats

    docs = load_table(spark, sf_dir, "documents")
    return duplicate_span_stats(docs, n=8, min_docs=2)


@query(
    "span_dedup_keep_first",
    f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
pos AS (SELECT doc_id, len(t) AS n_tokens, t,
               unnest(CASE WHEN len(t) >= 8
                      THEN range(1, len(t) - 6) ELSE [] END) AS p
        FROM tok),
sh AS (SELECT doc_id, n_tokens, p,
              {h15_sql("array_to_string(list_slice(t, p, p + 7), ' ')")} AS h
       FROM pos),
own AS (SELECT h, min(doc_id) AS o FROM sh GROUP BY h),
fl AS (SELECT doc_id, n_tokens, p FROM sh JOIN own USING (h)
       WHERE doc_id > o),
g AS (SELECT doc_id, n_tokens, p,
             CASE WHEN lag(p) OVER w IS NULL OR p - lag(p) OVER w > 8
                  THEN 1 ELSE 0 END AS ns
      FROM fl WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
s AS (SELECT doc_id, n_tokens, p,
             sum(ns) OVER (PARTITION BY doc_id ORDER BY p
                           ROWS UNBOUNDED PRECEDING) AS sid
      FROM g),
spans AS (SELECT doc_id, sid, max(p) - min(p) + 8 AS span_tokens
          FROM s GROUP BY 1, 2),
per AS (SELECT doc_id, sum(span_tokens) AS removed FROM spans GROUP BY 1)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs_affected,
       CAST(sum(per.removed) AS BIGINT) AS removed_tokens
FROM per JOIN documents d USING (doc_id)
GROUP BY d.source
""",
)
def q_span_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-one-copy span dedup savings by source: under the keep-first
    policy (the earliest document owns each duplicated 8-token window; all
    later occurrences are removed), how many tokens each SOURCE loses and
    how many of its docs are touched — the per-feed savings report a
    crawl-curation team reads to find which sources are mostly syndicated
    copy. Same inverted-index + interval-merge machinery as
    cross_doc_span_removal; the only change is the flag predicate
    (doc_id > per-window min owner instead of distinct-doc count ≥ 2)."""
    from videos_to_tfrecords_spark.operators.dedup import (
        merge_flagged_spans,
        window_hash_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    sh = window_hash_table(docs, n=8)
    own = sh.groupBy("h").agg(F.min("doc_id").alias("o"))
    flagged = (
        sh.join(own, "h")
        .filter(F.col("doc_id") > F.col("o"))
        .select("doc_id", "n_tokens", "p")
    )
    per = merge_flagged_spans(flagged, n=8).select("doc_id", "dup_tokens")
    return (
        per.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs_affected"),
            F.sum("dup_tokens").cast("long").alias("removed_tokens"),
        )
    )


@query(
    "eval_span_contamination",
    f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
pos AS (SELECT doc_id, len(t) AS n_tokens, t,
               unnest(CASE WHEN len(t) >= 6
                      THEN range(1, len(t) - 4) ELSE [] END) AS p
        FROM tok),
sh AS (SELECT doc_id, n_tokens, p,
              {h15_sql("array_to_string(list_slice(t, p, p + 5), ' ')")} AS h
       FROM pos),
train AS (SELECT DISTINCT h FROM sh WHERE doc_id % 13 != 0),
fl AS (SELECT doc_id, n_tokens, p FROM sh
       WHERE doc_id % 13 = 0 AND h IN (SELECT h FROM train)),
g AS (SELECT doc_id, n_tokens, p,
             CASE WHEN lag(p) OVER w IS NULL OR p - lag(p) OVER w > 6
                  THEN 1 ELSE 0 END AS ns
      FROM fl WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
s AS (SELECT doc_id, n_tokens, p,
             sum(ns) OVER (PARTITION BY doc_id ORDER BY p
                           ROWS UNBOUNDED PRECEDING) AS sid
      FROM g),
spans AS (SELECT doc_id, n_tokens, sid, max(p) - min(p) + 6 AS span_tokens
          FROM s GROUP BY 1, 2, 3)
SELECT doc_id,
       CAST(sum(span_tokens) AS BIGINT) AS contaminated_tokens,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(floor(1000.0 * sum(span_tokens) / n_tokens) AS BIGINT)
         AS contaminated_frac_x1000
FROM spans GROUP BY doc_id, n_tokens
""",
)
def q_eval_span_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level eval-contamination report: for each held-out eval doc
    (doc_id % 13 = 0 — a wider audit slice than the %97 training holdout,
    sized so the report stays non-degenerate at small SFs), the exact token
    mass covered by 6-token windows that also occur ANYWHERE in the train
    slice — the per-example report a benchmark audit publishes, one level
    finer than the boolean decontamination drop list. Train-side windows
    reduce to a DISTINCT hash set (corpus-windows-sized, equi-join on the
    hash); eval-side flagged windows interval-merge per doc."""
    from videos_to_tfrecords_spark.operators.dedup import (
        merge_flagged_spans,
        window_hash_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    sh = window_hash_table(docs, n=6)
    train_h = (
        sh.filter(F.col("doc_id") % 13 != 0).select("h").distinct()
    )
    flagged = (
        sh.filter(F.col("doc_id") % 13 == 0)
        .join(train_h, "h")
        .select("doc_id", "n_tokens", "p")
    )
    merged = merge_flagged_spans(flagged, n=6)
    return merged.select(
        "doc_id",
        F.col("dup_tokens").alias("contaminated_tokens"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.floor(1000.0 * F.col("dup_tokens") / F.col("n_tokens"))
        .cast("long")
        .alias("contaminated_frac_x1000"),
    )


@query(
    "boilerplate_prefix_census",
    f"""
WITH tok AS (SELECT doc_id, source, string_split(text, ' ') AS t
             FROM documents),
pre AS (SELECT doc_id, source,
               array_to_string(list_slice(t, 1, 6), ' ') AS prefix
        FROM tok WHERE len(t) >= 6),
g AS (SELECT prefix,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
             CAST(min(doc_id) AS BIGINT) AS first_doc
      FROM pre GROUP BY prefix HAVING count(*) >= 2)
SELECT {h15_sql("prefix")} AS prefix_h, n_docs, n_sources, first_doc
FROM g ORDER BY n_docs DESC, prefix_h LIMIT 20
""",
)
def q_boilerplate_prefix_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate header detection: the top-20 shared 6-token document
    PREFIXES (by doc count, with source spread and earliest doc) — the
    signal a crawl-cleaning pass uses to strip templated headers/footers
    before dedup (shared prefixes inflate near-dup candidates and skew
    n-gram stats). One slice+hash per doc, one aggregate; prefix reported
    as its portable hash so no text column crosses the compare boundary."""
    from videos_to_tfrecords_spark.functions.hashing import h15

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    pre = docs.select(
        "doc_id",
        "source",
        F.when(F.size(toks) >= 6, F.array_join(F.slice(toks, 1, 6), " ")).alias(
            "prefix"
        ),
    ).filter(F.col("prefix").isNotNull())
    g = (
        pre.groupBy("prefix")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("source").cast("long").alias("n_sources"),
            F.min("doc_id").cast("long").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )
    return (
        g.select(
            h15(F.col("prefix")).alias("prefix_h"),
            "n_docs",
            "n_sources",
            "first_doc",
        )
        .orderBy(F.desc("n_docs"), F.asc("prefix_h"))
        .limit(20)
    )


@query(
    "dup_cluster_size_histogram",
    f"""
WITH RECURSIVE
tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (SELECT DISTINCT doc_id, unnest({shingles_sql("t")}) AS s FROM tok),
p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
dup AS MATERIALIZED (SELECT id_a, id_b FROM p JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE floor(1000.0 * common / (sa.n + sb.n - common)) >= 500),
edges AS (SELECT id_a AS src, id_b AS dst FROM dup
          UNION SELECT id_b, id_a FROM dup),
reach(node, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.node),
comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
cs AS (SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
       FROM comp GROUP BY component)
SELECT cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(cluster_size - 1) AS BIGINT) AS removable_docs
FROM cs GROUP BY cluster_size
""",
)
def q_dup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster SIZE distribution — the shape report a dedup run
    publishes (how much duplication is pairwise vs deep template families,
    and the total doc count a keep-one policy removes per size class).
    Exact-Jaccard pairs → connected components → size histogram; the
    histogram is component-count-sized."""
    from videos_to_tfrecords_spark.operators.dedup import (
        connected_components,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold_x1000=500).select("id_a", "id_b")
    comp = connected_components(pairs)
    cs = comp.groupBy("component").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    return cs.groupBy("cluster_size").agg(
        F.count("*").cast("long").alias("n_clusters"),
        F.sum(F.col("cluster_size") - 1).cast("long").alias("removable_docs"),
    )


@query(
    "truncation_loss_census",
    """
WITH t AS (SELECT source, len(string_split(text, ' ')) AS n_tok
           FROM documents)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       CAST(sum(CASE WHEN n_tok > 256 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_truncated,
       CAST(sum(greatest(n_tok - 256, 0)) AS BIGINT) AS tokens_lost,
       CAST(floor(1000.0 * sum(greatest(n_tok - 256, 0)) / sum(n_tok))
            AS BIGINT) AS loss_frac_x1000
FROM t GROUP BY source
""",
)
def q_truncation_loss_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window truncation loss by source: at a 256-token window, how
    many docs get cut and what token mass is lost — the report that decides
    between truncation, chunking, and packing for each feed before
    tokenizer-budget planning. One narrow scan + one aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.col("text"), " "))
    t = docs.select("source", n_tok.alias("n_tok"))
    return t.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
        F.sum(F.when(F.col("n_tok") > 256, 1).otherwise(0))
        .cast("long")
        .alias("n_truncated"),
        F.sum(F.greatest(F.col("n_tok") - 256, F.lit(0)))
        .cast("long")
        .alias("tokens_lost"),
        F.floor(
            1000.0
            * F.sum(F.greatest(F.col("n_tok") - 256, F.lit(0)))
            / F.sum("n_tok")
        )
        .cast("long")
        .alias("loss_frac_x1000"),
    )


@query(
    "token_burstiness_topk",
    """
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
             FROM documents),
stats AS (SELECT w,
                 CAST(count(*) AS BIGINT) AS cf,
                 CAST(count(DISTINCT doc_id) AS BIGINT) AS df
          FROM tok GROUP BY w),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
SELECT w AS token, cf, df,
       CAST((cf * 1000) // df AS BIGINT) AS burstiness_x1000
FROM stats, n
WHERE df >= 10
ORDER BY burstiness_x1000 DESC, cf DESC, token
LIMIT 20
""",
)
def q_token_burstiness_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Church–Gale token burstiness: collection frequency over document
    frequency for tokens seen in ≥10 docs — bursty tokens (high cf/df)
    concentrate in few docs (names, boilerplate markers) while function
    words spread evenly; the lexical-stats signal behind stopword lists
    and tf-idf damping choices. One token explode + one aggregate +
    TakeOrdered."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    stats = tok.groupBy("w").agg(
        F.count("*").cast("long").alias("cf"),
        F.countDistinct("doc_id").cast("long").alias("df"),
    )
    return (
        stats.filter(F.col("df") >= 10)
        .select(
            F.col("w").alias("token"),
            "cf",
            "df",
            F.expr("(cf * 1000) div df").cast("long").alias("burstiness_x1000"),
        )
        .orderBy(F.desc("burstiness_x1000"), F.desc("cf"), F.asc("token"))
        .limit(20)
    )


@query(
    "dup_span_length_histogram",
    f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
pos AS (SELECT doc_id, t,
               unnest(CASE WHEN len(t) >= 8
                      THEN range(1, len(t) - 6) ELSE [] END) AS p
        FROM tok),
sh AS (SELECT doc_id, p,
              {h15_sql("array_to_string(list_slice(t, p, p + 7), ' ')")} AS h
       FROM pos),
multi AS (SELECT h FROM sh GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
fl AS (SELECT doc_id, p FROM sh JOIN multi USING (h)),
g AS (SELECT doc_id, p,
             CASE WHEN lag(p) OVER w IS NULL OR p - lag(p) OVER w > 8
                  THEN 1 ELSE 0 END AS ns
      FROM fl WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
s AS (SELECT doc_id, p,
             sum(ns) OVER (PARTITION BY doc_id ORDER BY p
                           ROWS UNBOUNDED PRECEDING) AS sid
      FROM g),
spans AS (SELECT doc_id, sid, max(p) - min(p) + 8 AS span_len
          FROM s GROUP BY 1, 2)
SELECT CAST(span_len AS BIGINT) AS span_len,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM spans GROUP BY span_len
""",
)
def q_dup_span_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length distribution of maximal cross-doc duplicated regions — tells
    a dedup policy whether duplication is short quoted phrases (spans near
    the 8-token floor) or wholesale copied passages (long spans), which
    decides span-removal vs doc-level dedup. Same flag+merge machinery;
    the histogram is span-count-sized."""
    from videos_to_tfrecords_spark.operators.dedup import (
        merge_flagged_spans,
        window_hash_table,
    )
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    sh = window_hash_table(docs, n=8)
    multi = (
        sh.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    flagged = sh.join(multi, "h").select("doc_id", "n_tokens", "p")
    w = W.partitionBy("doc_id").orderBy("p")
    run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    lagp = F.lag("p").over(w)
    spans = (
        flagged.withColumn(
            "ns", F.when(lagp.isNull() | (F.col("p") - lagp > 8), 1).otherwise(0)
        )
        .withColumn("sid", F.sum("ns").over(run))
        .groupBy("doc_id", "sid")
        .agg((F.max("p") - F.min("p") + 8).alias("span_len"))
    )
    return spans.groupBy("span_len").agg(
        F.count("*").cast("long").alias("n_spans"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
    ).select(F.col("span_len").cast("long").alias("span_len"), "n_spans", "n_docs")


@query(
    "temperature_mixture_weights",
    """
WITH s AS (SELECT source,
                  CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
           FROM documents GROUP BY source),
w AS (SELECT *, CAST(floor(sqrt(n_tokens)) AS BIGINT) AS w FROM s),
t AS (SELECT CAST(sum(w) AS BIGINT) AS wt, CAST(sum(n_tokens) AS BIGINT) AS nt
      FROM w)
SELECT source, n_docs, n_tokens,
       CAST((1000000 * n_tokens) // t.nt AS BIGINT) AS raw_share_ppm,
       CAST((1000000 * w) // t.wt AS BIGINT) AS temp_share_ppm,
       CAST((1000000 * w) // t.wt - (1000000 * n_tokens) // t.nt AS BIGINT)
         AS upweight_ppm
FROM w, t
""",
)
def q_temperature_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source sampling weights (T = 2, the mT5/XLM-R
    multilingual recipe): share ∝ n_tokens^(1/T) = ⌊√n_tokens⌋ — exact
    because sqrt of an int64 < 2⁵³ is IEEE-exact in both engines (the
    mixture-weights precedent). Reports each source's raw vs
    temperature-flattened share and the up/down-weighting the flattening
    applies — the knob that keeps low-resource sources from vanishing.
    One scan + source-domain aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("n_tokens"),
    )
    w = s.withColumn(
        "w", F.floor(F.sqrt(F.col("n_tokens").cast("double"))).cast("long")
    )
    t = w.agg(
        F.sum("w").cast("long").alias("wt"),
        F.sum("n_tokens").cast("long").alias("nt"),
    )
    return w.crossJoin(F.broadcast(t)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.expr("(1000000 * n_tokens) div nt").cast("long").alias("raw_share_ppm"),
        F.expr("(1000000 * w) div wt").cast("long").alias("temp_share_ppm"),
        F.expr("(1000000 * w) div wt - (1000000 * n_tokens) div nt")
        .cast("long")
        .alias("upweight_ppm"),
    )


_BLOCKTERMS = ("casino", "viagra", "xxx", "lottery", "winner", "prize",
               "click", "free", "offer", "deal")


@query(
    "blocklist_filter_census",
    f"""
WITH tok AS (SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok,
                    list_filter(string_split(lower(text), ' '),
                                x -> x IN ({", ".join(f"'{t}'" for t in _BLOCKTERMS)}))
                      AS hits
             FROM documents),
per AS (SELECT doc_id, source, n_tok, len(hits) AS n_hits,
               CAST(floor(10000.0 * len(hits) / n_tok) AS BIGINT) AS rate_x1e4
        FROM tok WHERE n_tok > 0)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_hits) AS BIGINT) AS total_hits,
       CAST(sum(CASE WHEN rate_x1e4 >= 100 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_flagged,
       CAST(sum(CASE WHEN rate_x1e4 >= 100 THEN doc_id ELSE 0 END) AS BIGINT)
         AS flagged_id_sum
FROM per GROUP BY source
""",
)
def q_blocklist_filter_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-blocklist filter census (the Dolma/C4 'bad words' stage): per
    source, total blocklisted-token hits and the documents whose hit RATE
    crosses 1% (the drop rule), with the exact flagged-id sum pinning the
    drop set. The term list is an inlined constant (the stopword-list
    pattern); one scan + source-domain aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    terms = F.array(*[F.lit(t) for t in _BLOCKTERMS])
    toks = F.split(F.lower(F.col("text")), " ")
    per = docs.select(
        "doc_id",
        "source",
        F.size(toks).alias("n_tok"),
        F.size(F.filter(toks, lambda x: F.array_contains(terms, x))).alias(
            "n_hits"
        ),
    ).filter(F.col("n_tok") > 0)
    per = per.withColumn(
        "rate_x1e4",
        F.floor(10000.0 * F.col("n_hits") / F.col("n_tok")).cast("long"),
    )
    return per.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_hits").cast("long").alias("total_hits"),
        F.sum(F.when(F.col("rate_x1e4") >= 100, 1).otherwise(0))
        .cast("long")
        .alias("n_docs_flagged"),
        F.sum(F.when(F.col("rate_x1e4") >= 100, F.col("doc_id")).otherwise(0))
        .cast("long")
        .alias("flagged_id_sum"),
    )


@query(
    "leakage_free_split_audit",
    f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS MATERIALIZED (SELECT DISTINCT doc_id, unnest({shingles_sql("t")}) AS s FROM tok),
p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
-- MATERIALIZED (r9): dup is referenced four times (edges, naive, grouped,
-- the count) — inlined, DuckDB re-evaluates the all-pairs shingle join per
-- reference and the concurrent spills exceeded disk at sf1 (ENOSPC);
-- materializing bounds it to one evaluation
dup AS MATERIALIZED (SELECT id_a, id_b FROM p JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE floor(1000.0 * common / (sa.n + sb.n - common)) >= 500),
edges AS (SELECT id_a AS src, id_b AS dst FROM dup
          UNION SELECT id_b, id_a FROM dup),
comp0 AS (
  WITH RECURSIVE cc(node, r) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.src, cc.r FROM edges e JOIN cc ON e.dst = cc.node)
  SELECT node, min(r) AS component FROM cc GROUP BY node),
lbl AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS grp
        FROM documents d LEFT JOIN comp0 c ON c.node = d.doc_id),
naive AS (SELECT id_a, id_b FROM dup
          WHERE ({h15_sql("CAST(id_a AS VARCHAR)", salt="spl")} % 5 = 0)
             != ({h15_sql("CAST(id_b AS VARCHAR)", salt="spl")} % 5 = 0)),
grouped AS (
  SELECT d.id_a, d.id_b FROM dup d
  JOIN lbl la ON la.doc_id = d.id_a JOIN lbl lb ON lb.doc_id = d.id_b
  WHERE ({h15_sql("CAST(la.grp AS VARCHAR)", salt="spl")} % 5 = 0)
     != ({h15_sql("CAST(lb.grp AS VARCHAR)", salt="spl")} % 5 = 0))
SELECT CAST((SELECT count(*) FROM dup) AS BIGINT) AS n_dup_pairs,
       CAST((SELECT count(*) FROM naive) AS BIGINT) AS naive_cross_pairs,
       CAST((SELECT count(*) FROM grouped) AS BIGINT) AS grouped_cross_pairs,
       CAST((SELECT count(*) FROM lbl
             WHERE {h15_sql("CAST(grp AS VARCHAR)", salt="spl")} % 5 = 0)
            AS BIGINT) AS n_test_docs
""",
)
def q_leakage_free_split_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware train/test split audit — the leakage gate an eval
    team runs before trusting held-out numbers: under a NAIVE per-doc hash
    split, how many near-dup pairs straddle the boundary (train/test
    leakage), versus the GROUP-AWARE split that hashes the near-dup
    COMPONENT id instead (provably zero crossing pairs — both members
    share the group key). Reports both counts, the dup-pair total, and
    the group-split test-set size. Composition: lossless pair generation →
    connected components → two hash-split censuses."""
    from videos_to_tfrecords_spark.functions.hashing import h15
    from videos_to_tfrecords_spark.operators.dedup import (
        connected_components,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    dup = ngram_jaccard_pairs(docs, threshold_x1000=500).select("id_a", "id_b")
    dup = dup.localCheckpoint(eager=True)  # feeds CC + both censuses
    comp = connected_components(dup)
    lbl = (
        docs.select("doc_id")
        .join(comp, docs["doc_id"] == comp["node"], "left")
        .select(
            "doc_id", F.coalesce("component", "doc_id").alias("grp")
        )
    ).localCheckpoint(eager=True)
    tst = lambda c: h15(c.cast("string"), salt="spl") % 5 == 0  # noqa: E731
    naive = dup.filter(
        tst(F.col("id_a")) != tst(F.col("id_b"))
    ).agg(F.count("*").cast("long").alias("naive_cross_pairs"))
    la = lbl.select(F.col("doc_id").alias("id_a"), F.col("grp").alias("ga"))
    lb = lbl.select(F.col("doc_id").alias("id_b"), F.col("grp").alias("gb"))
    grouped = (
        dup.join(la, "id_a")
        .join(lb, "id_b")
        .filter(tst(F.col("ga")) != tst(F.col("gb")))
        .agg(F.count("*").cast("long").alias("grouped_cross_pairs"))
    )
    nd = dup.agg(F.count("*").cast("long").alias("n_dup_pairs"))
    nt = lbl.filter(tst(F.col("grp"))).agg(
        F.count("*").cast("long").alias("n_test_docs")
    )
    return nd.crossJoin(naive).crossJoin(grouped).crossJoin(nt)


@query(
    "codepoint_census_arrow",
    """
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(coalesce(list_sum([unicode(c) FOR c IN split(text, '')]), 0))
            AS BIGINT) AS cp_sum,
       CAST(sum(coalesce(length(text), 0)) AS BIGINT) AS chars_sum,
       CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM documents GROUP BY source
""",
)
def q_codepoint_census_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` zero-copy text census — the Arrow-native map surface
    next to the suite's pandas UDFs: per-doc Unicode codepoint sum +
    char count computed from the Arrow string buffers directly (one numpy
    cumsum per batch on the ASCII fast path, exact UTF-32 fallback
    otherwise), then a per-source rollup with an id-sum pin. Narrow map —
    no shuffle until the final census; the oracle recomputes the
    codepoint sums character-by-character in DuckDB."""
    from videos_to_tfrecords_spark.operators.text import (
        codepoint_census_arrow,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    per_doc = codepoint_census_arrow(docs, "text")
    return per_doc.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("cp_sum").cast("long").alias("cp_sum"),
        F.sum("n_chars").cast("long").alias("chars_sum"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )
