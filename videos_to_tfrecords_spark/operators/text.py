"""Text-analysis operators for LLM-data pipelines (SURVEY §7.1 M5).

All pure Catalyst expressions — at 100 TB these run inside whole-stage
codegen on the scan, with the text column read once and no Python boundary.

Operators: token/char stats, quality scoring (length/punct/stopword ratios),
n-gram language-ID heuristic, positional document fingerprint (the
distributed analog of a rolling hash: position-salted token hashes folded
with an order-sensitive XOR — associative, so it map-side combines).
"""

from __future__ import annotations

import hashlib
from collections.abc import Mapping, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from videos_to_tfrecords_spark.functions.hashing import h15
from videos_to_tfrecords_spark.functions.textfn import tokens

#: stopword list for quality scoring (kept tiny + fixed: it is part of the
#: operator's contract, mirrored verbatim in oracles)
STOPWORDS = ("the", "a", "of", "and", "to", "in")

#: marker n-grams per language for the heuristic language ID; counts of
#: space-padded occurrences, argmax with fixed tie-break order.
LANG_MARKERS: Mapping[str, Sequence[str]] = {
    "en": (" the ", " and ", " of "),
    "de": (" der ", " und ", " die "),
    "es": (" el ", " la ", " los "),
    "fr": (" le ", " les ", " des "),
}


def _occurrences(padded: Column, marker: str) -> Column:
    """Exact substring occurrence count via length arithmetic (integer-exact
    in every engine, unlike regex counting)."""
    return (
        (F.length(padded) - F.length(F.replace(padded, F.lit(marker), F.lit(""))))
        / F.lit(len(marker))
    ).cast("long")


def ngram_partial_counts(
    df: DataFrame, text_col: str = "text", n: int = 2, _chunk_bytes: int = 2**31
) -> DataFrame:
    """Map-side partially-combined n-gram MULTISET counts: (ngram, cnt)
    per Arrow batch, to be summed by a downstream groupBy — the combiner
    shape of BPE-style vocabulary counting.

    Same n-gram slice kernel as ``operators.dedup.shingle_table``
    (``videos_to_tfrecords_spark._ngram``), but COUNTING via Arrow's C++
    group-by instead of within-doc distinct — no doc ids, no per-row Python
    objects. Null text counts as an empty document (zero n-grams). Output
    is emitted in sub-batches under the 2 GiB ``string`` value-buffer cap;
    counts may split across sub-batches (the downstream sum merges them), so
    splits need no doc alignment."""

    def gen(batches):
        import numpy as np
        import pyarrow as pa

        from videos_to_tfrecords_spark._ngram import NgramSlices

        out_schema = pa.schema(
            [pa.field("ngram", pa.string()), pa.field("cnt", pa.int64())]
        )
        empty = pa.RecordBatch.from_arrays(
            [pa.array([], pa.string()), pa.array([], pa.int64())],
            schema=out_schema,
        )
        for rb in batches:
            sl = NgramSlices(rb.column(0), n)
            if sl.total == 0:
                yield empty
                continue
            lo = 0
            while lo < sl.total:
                # the chunk's bytes must stay < _chunk_bytes: equality with
                # the cap raises, because int32 offsets top out at 2³¹ − 1
                hi = (
                    int(
                        np.searchsorted(
                            sl.out_off, sl.out_off[lo] + _chunk_bytes, side="left"
                        )
                    )
                    - 1
                )
                if hi <= lo:
                    raise ValueError(
                        "ngram_partial_counts: a single n-gram exceeds the "
                        "output chunk cap"
                    )
                counted = (
                    pa.table({"ngram": sl.strings(lo, hi)})
                    .group_by(["ngram"], use_threads=False)
                    .aggregate([("ngram", "count")])
                )
                yield pa.RecordBatch.from_arrays(
                    [
                        counted.column("ngram").combine_chunks(),
                        counted.column("ngram_count")
                        .cast(pa.int64())
                        .combine_chunks(),
                    ],
                    schema=out_schema,
                )
                lo = hi

    return df.select(text_col).mapInArrow(gen, "ngram string, cnt long")


def with_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """n_tokens / n_chars_calc / avg token length (×100, floored)."""
    toks = tokens(text_col)
    n_tok = F.size(toks).cast("long")
    n_chars = F.length(text_col).cast("long")
    # tokens are space-separated: total token chars = chars - (n_tok - 1)
    avg_len_x100 = F.floor(F.lit(100) * (n_chars - (n_tok - 1)) / n_tok).cast("long")
    return (
        df.withColumn("n_tokens", n_tok)
        .withColumn("n_chars_calc", n_chars)
        .withColumn("avg_token_len_x100", avg_len_x100)
    )


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-ratio quality signal (×1000, floored) + raw hit count.

    A 100 TB-scale quality filter is exactly this shape: cheap per-row
    arithmetic on the scan, then a pushed-down predicate on the score."""
    toks = tokens(text_col)
    stop_hits = F.size(
        F.filter(toks, lambda t: t.isin(*STOPWORDS))
    ).cast("long")
    n_tok = F.size(toks).cast("long")
    ratio_x1000 = F.floor(F.lit(1000) * stop_hits / n_tok).cast("long")
    return df.withColumn("stop_hits", stop_hits).withColumn(
        "stop_ratio_x1000", ratio_x1000
    )


def with_lang_id(df: DataFrame, text_col: str = "text", out: str = "lang_pred") -> DataFrame:
    """Heuristic language ID: marker-n-gram occurrence scores per language,
    argmax with deterministic tie-break (declaration order), 'und' when all
    scores are zero. Adds ``score_<lang>`` columns + the prediction."""
    padded = F.concat(F.lit(" "), F.col(text_col), F.lit(" "))
    scores = {
        lang: sum(
            (_occurrences(padded, m) for m in markers), F.lit(0).cast("long")
        )
        for lang, markers in LANG_MARKERS.items()
    }
    langs = list(LANG_MARKERS)
    # cascading CASE = argmax with first-declared tie-break: lang L wins iff
    # score_L > 0 and score_L >= every LATER score (an earlier lang that
    # could beat L already won its own WHEN).
    pred = F.lit("und")
    chain = None
    for idx, lang in enumerate(langs):
        cond = scores[lang] > 0
        for later in langs[idx + 1 :]:
            cond = cond & (scores[lang] >= scores[later])
        chain = F.when(cond, F.lit(lang)) if chain is None else chain.when(cond, F.lit(lang))
    pred = chain.otherwise(pred)
    out_df = df
    for lang in langs:
        out_df = out_df.withColumn(f"score_{lang}", scores[lang])
    return out_df.withColumn(out, pred)


def with_fingerprint(df: DataFrame, text_col: str = "text", out: str = "fingerprint") -> DataFrame:
    """Order-sensitive document fingerprint: XOR-fold of position-salted
    token hashes. Equal texts ⇒ equal fingerprints; any token move/change
    flips it. Pure array expressions — no explode, no shuffle."""
    toks = tokens(text_col)
    hashed = F.transform(
        toks,
        lambda t, i: h15(F.concat((i + 1).cast("string"), F.lit(":"), t)),
    )
    fp = F.aggregate(
        hashed, F.lit(0).cast("long"), lambda acc, x: acc.bitwiseXOR(x)
    )
    return df.withColumn(out, fp)


def with_normalized_text(df: DataFrame, text_col: str = "text", out: str = "text_norm") -> DataFrame:
    """Training-corpus text normalization: lowercase, strip non-alnum (to
    space), collapse whitespace runs, trim — the canonical pre-tokenization
    cleanup, as pure codegen'd regexp expressions."""
    c = F.lower(F.col(text_col))
    c = F.regexp_replace(c, "[^a-z0-9 ]", " ")
    c = F.regexp_replace(c, " +", " ")
    return df.withColumn(out, F.trim(c))


def repetition_signals(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document repetition quality signals — the Gopher-paper family of
    filters (duplicate-token and duplicate/top-n-gram fractions) that LLM
    corpus pipelines apply after dedup: templated or looping text shows a
    high fraction of its tokens inside repeated n-grams even when no two
    DOCUMENTS are near-dups.

    Signals (integer ×1000 floor ratios — exact cross-engine, no float
    hashing):
    - ``dup_token_ratio_x1000``  = 1000·(n_tokens − n_distinct)/n_tokens
    - ``top_bigram_frac_x1000``  = 1000·max_bigram_count/n_bigrams
    - ``dup_bigram_frac_x1000``  = 1000·Σ{count>1 bigram tokens}/n_bigrams

    Scale shape: ZERO exchanges. Bigram frequencies are a per-DOCUMENT
    statistic, so instead of explode → groupBy(doc, bigram) — a shuffle
    carrying one row per corpus n-gram — each document's sorted bigram
    array is run-length folded in place: one ``aggregate`` pass with a
    (prev, run, top, dup) struct accumulator. Every signal is a per-row
    expression on the scan; at 100 TB this is a map-only pass whose cost
    is bounded by the per-row token count, not the corpus (measured 1.4×
    faster than the shuffle formulation even single-node). The sorted
    array is materialized in its own projection first: an inlined subtree
    would be re-evaluated per lambda ELEMENT (no CSE inside HOF bodies).
    Docs with <2 tokens get 0 for the bigram ratios (NULL-free so
    downstream filters stay simple)."""
    from videos_to_tfrecords_spark.functions.textfn import shingles, tokens

    toks = tokens(text_col)
    staged = df.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        F.sort_array(shingles(F.col(text_col), 2)).alias("sbg"),
    )
    zero = F.lit(0).cast("long")
    init = F.struct(
        F.lit("").alias("prev"),  # bigrams are never "" (two tokens + space)
        zero.alias("run"),
        zero.alias("top"),
        zero.alias("dup"),
    )

    def _merge(acc: Column, x: Column) -> Column:
        same = acc.prev == x
        closed_dup = acc.dup + F.when(acc.run > 1, acc.run).otherwise(zero)
        return F.struct(
            x.alias("prev"),
            F.when(same, acc.run + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.when(same, acc.top).otherwise(F.greatest(acc.top, acc.run)).alias("top"),
            F.when(same, acc.dup).otherwise(closed_dup).alias("dup"),
        )

    def _finish(acc: Column) -> Column:
        return F.struct(
            F.greatest(acc.top, acc.run).alias("top"),
            (acc.dup + F.when(acc.run > 1, acc.run).otherwise(zero)).alias("dup"),
        )

    return staged.select(
        id_col,
        "n_tokens",
        "n_distinct",
        F.size("sbg").cast("long").alias("n_bigrams"),
        F.aggregate("sbg", init, _merge, _finish).alias("rl"),
    ).select(
        id_col,
        "n_tokens",
        F.expr("(1000 * (n_tokens - n_distinct)) div n_tokens").alias(
            "dup_token_ratio_x1000"
        ),
        F.coalesce(
            F.expr("(1000 * rl.top) div nullif(n_bigrams, 0)"), F.lit(0)
        ).alias("top_bigram_frac_x1000"),
        F.coalesce(
            F.expr("(1000 * rl.dup) div nullif(n_bigrams, 0)"), F.lit(0)
        ).alias("dup_bigram_frac_x1000"),
    )


#: redaction patterns: each (name, regex, replacement token). Kept small
#: and FIXED — the pattern set is part of the operator's contract and is
#: mirrored verbatim in oracles (both engines use RE2-compatible syntax).
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\+?[0-9][0-9()\- ]{7,}[0-9]", "<PHONE>"),
    ("ipv4", r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
)


def with_pii_scrubbed(
    df: DataFrame, text_col: str = "text", out: str = "text_scrubbed"
) -> DataFrame:
    """PII redaction — the scrub pass LLM corpora run before training:
    emails, phone-shaped number runs, and IPv4 literals replaced by typed
    placeholder tokens, plus per-row match counts so the pipeline can
    quarantine high-PII documents instead of silently keeping scrubbed
    husks. Pure Catalyst regexp_replace/regexp_count — stays in the scan
    stage at 100 TB, no Python. Patterns are deliberately conservative
    (precision over recall) and FIXED: they are the cross-engine
    contract; production swaps in its legal team's list."""
    scrubbed = F.col(text_col)
    n_hits = F.lit(0).cast("long")
    for _, pat, token in PII_PATTERNS:
        n_hits = n_hits + F.regexp_count(scrubbed, F.lit(pat))
        scrubbed = F.regexp_replace(scrubbed, pat, token)
    return df.withColumn(out, scrubbed).withColumn("n_pii_hits", n_hits)


def bigram_lm_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Bigram language-model perplexity scoring — the KenLM-style quality
    signal LLM corpora compute before training: train add-one-smoothed
    bigram counts ON the corpus itself, then score every document by its
    average negative log-likelihood (low = fluent/common phrasing, high =
    gibberish or boilerplate outliers).

    Returns (id_col, n_bigrams, avg_nll) with avg_nll rounded to 6
    decimals; documents with fewer than 2 tokens are dropped (no bigrams).

    Scale design (100 TB): everything is equi-join-shaped —
    per-(doc,bigram) multiplicities aggregate map-side before any join;
    bigram/left-context count tables shuffle on their own keys (∝ distinct
    bigrams, not corpus rows); the per-pair log-probability is computed
    ONCE per distinct bigram on the counts table (bigram⋈left is
    counts-sized), so the big instance⋈logp join carries one double per
    distinct (doc,bigram). The vocab size is a 1-row broadcast. No Python
    anywhere — ln stays in codegen.

    Cross-engine exactness: counts are exact BIGINTs, each -ln((cb+1)/
    (cu+V)) is computed by libm on identical integer inputs (bit-identical
    across engines on one host); only the per-doc SUM order differs, whose
    error is ~1e-13 at 1e3 terms — the 6-decimal rounding absorbs it.
    add-one smoothing keeps P<1 so every term is positive and round()
    half-up == DuckDB half-away-from-zero.
    """
    toks = F.split(F.col(text_col), " ")
    # positions-first explode + element_at projections (the
    # exploded_shingles shape): a `transform` HOF lambda re-evaluates
    # split() per element INTERPRETED — O(tokens²) string work per doc
    bg = (
        df.filter(F.size(toks) >= 2)
        .select(F.col(id_col), toks.alias("_toks"))
        .select(
            id_col,
            "_toks",
            F.explode(F.sequence(F.lit(1), F.size("_toks") - 1)).alias("_i"),
        )
        .select(
            id_col,
            F.element_at("_toks", F.col("_i")).alias("w1"),
            F.element_at("_toks", F.col("_i") + 1).alias("w2"),
        )
    )
    # ONE explode pass: the (doc, bigram) combine is checkpointed and the
    # count cascade rolls up from it (di ≥ bc ≥ lc, identical totals by
    # associativity) — previously bc/lc/di each re-ran the explode subtree
    di = bg.groupBy(id_col, "w1", "w2").agg(F.count("*").alias("m")).localCheckpoint(
        eager=True
    )
    bc = di.groupBy("w1", "w2").agg(F.sum("m").alias("cb"))
    lc = bc.groupBy(F.col("w1").alias("lw1")).agg(F.sum("cb").alias("cu"))
    vocab = (
        df.select(F.explode(toks).alias("tok"))
        .agg(F.countDistinct("tok").alias("vsz"))
    )
    logp = (
        bc.join(lc, bc.w1 == lc.lw1)
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            (-F.log((F.col("cb") + F.lit(1.0)) / (F.col("cu") + F.col("vsz")))).alias(
                "logp"
            ),
        )
    )
    return (
        di.join(logp, ["w1", "w2"])
        .groupBy(id_col)
        .agg(
            F.sum("m").alias("n_bigrams"),
            F.round(F.sum(F.col("m") * F.col("logp")) / F.sum("m"), 6).alias(
                "avg_nll"
            ),
        )
    )


def hashed_linear_quality(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """fastText-style hashed linear classifier INFERENCE — the shape of
    every learned quality/toxicity filter an LLM corpus pipeline runs at
    ingest: features are token unigrams + bigrams hashed into
    ``n_buckets`` weight slots, the score is the mean slot weight over the
    document's features, the label thresholds the score at 0.

    The weight table is a deterministic pseudo-model (slot ``b`` has
    integer weight ``(b·2654435761) mod 2001 − 1000`` ∈ [−1000, 1000],
    Knuth multiplicative mixing) — swapping in trained weights changes one
    line, not the plan shape.

    Returns (id_col, n_features, score_sum, score_x1000, quality_label):
    ``score_x1000`` = floor(1000·score_sum/n_features) exact integer.

    Scale shape (100 TB): ZERO exchanges — the feature array (unigrams ++
    bigrams) is materialized per row, hashed/weighted with one transform,
    and summed with one fold; classifier inference is a map-only pass on
    the scan, which is why corpus filtering runs at ingest bandwidth. The
    feature array lives in its own projection (no CSE inside HOF bodies).
    Weights stay integer so the sum is order-independent and exact in any
    engine; the 60-bit portable hash (functions/hashing.h15) makes the
    bucket assignment oracle-checkable cross-engine.

    ``keep_cols`` carries label/slice columns (n_chars, lang, ...) through
    the map — eval queries that need them alongside the score must NOT
    join back to the source table (a corpus-sized self-join just to
    re-attach a scanned column; the sf1 probe measured exponent 1.22 on
    the calibration query built that way).

    Implementation note: scoring runs as ONE Arrow-batched pandas UDF with
    a per-batch weight memo keyed on the feature string. The previous
    Catalyst-HOF form paid one md5 per feature INSTANCE (5.4M at sf1 ≈
    30 s); natural-language token frequency is Zipfian, so distinct
    features per batch are orders of magnitude fewer than instances
    (1 250 vs 5.4M on the probe corpus) and the memo collapses the hash
    cost to the distinct count. Worst case (all-unique features) it
    degrades to exactly the old cost. Values are bit-identical: Python
    ints are exact, and the md5-derived h15 weight matches the SQL twin.
    """

    @F.pandas_udf("struct<n_features: long, score_sum: long>")
    def score_batch(texts: pd.Series) -> pd.DataFrame:
        memo: dict[str, int] = {}

        def weight(ft: str) -> int:
            w = memo.get(ft)
            if w is None:
                h = int(hashlib.md5(("ftq:" + ft).encode()).hexdigest()[:15], 16)
                w = ((h % n_buckets) * 2654435761) % 2001 - 1000
                memo[ft] = w
            return w

        n_out, s_out = [], []
        for text in texts:
            if text is None:
                n_out.append(0)
                s_out.append(0)
                continue
            toks = text.split(" ")
            feats = toks + [
                toks[i] + " " + toks[i + 1] for i in range(len(toks) - 1)
            ]
            n_out.append(len(feats))
            s_out.append(sum(weight(ft) for ft in feats))
        return pd.DataFrame({"n_features": n_out, "score_sum": s_out})

    staged2 = df.select(
        F.col(id_col), *keep_cols, score_batch(F.col(text_col)).alias("sc")
    ).select(
        id_col,
        *keep_cols,
        F.col("sc.n_features").alias("n_features"),
        F.col("sc.score_sum").alias("score_sum"),
    )
    return staged2.select(
        id_col,
        *keep_cols,
        "n_features",
        "score_sum",
        F.coalesce(
            F.expr("(1000 * score_sum) div nullif(n_features, 0)"), F.lit(0)
        ).alias("score_x1000"),
        (F.col("score_sum") > 0).alias("quality_label"),
    )


def chunk_documents(
    df,
    chunk_len: int = 32,
    stride: int = 24,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Split each document into overlapping fixed-token chunks — the
    context-window preparation step of an LLM training pipeline (stride <
    chunk_len gives the standard overlap so no span is lost at a boundary).

    Pure Catalyst: tokens → an explicit start sequence (step = stride) →
    explode → slice. One narrow pass, no shuffle, no Python; chunk count
    per doc is ⌈max(n−overlap,1)/stride⌉ so output rows ∝ corpus tokens /
    stride. Emits (doc_id, chunk_idx, n_tokens, chunk_text).
    """
    from pyspark.sql import functions as F

    from videos_to_tfrecords_spark.functions.textfn import tokens

    t = df.select(F.col(id_col), tokens(text_col).alias("t")).withColumn(
        "n", F.size("t")
    )
    # start offsets 0, stride, 2·stride … < n (empty docs produce no chunk)
    starts = F.when(
        F.col("n") > 0, F.sequence(F.lit(0), F.col("n") - 1, F.lit(stride))
    ).otherwise(F.array().cast("array<int>"))
    chunks = t.select(
        id_col,
        "n",
        "t",
        F.posexplode(starts).alias("chunk_idx", "start"),
    )
    return chunks.select(
        F.col(id_col),
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.least(F.lit(chunk_len), F.col("n") - F.col("start"))
        .cast("long")
        .alias("n_tokens"),
        F.concat_ws(
            " ",
            F.expr(f"slice(t, start + 1, {chunk_len})"),
        ).alias("chunk_text"),
    )


def bpe_train_merges(
    df,
    n_merges: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """BPE tokenizer MERGE TRAINING over the corpus — the iterative
    vocabulary-induction algorithm (Sennrich et al. 2016) every modern LLM
    tokenizer starts from, expressed Spark-first:

    - ONE corpus pass builds the (word, freq) vocabulary — after that,
      every iteration runs over the vocabulary only (distributed, but
      vocab-sized: the corpus is never re-read), exactly how production
      BPE trainers scale.
    - each iteration: adjacent symbol pairs weighted by word frequency
      (codegen explode — no higher-order lambdas), a deterministic argmax
      (count DESC, pair ASC) collected as one driver scalar (the
      kmeans/pagerank pattern), and the merge applied to every vocabulary
      sequence.
    - merge application rule: THREE passes of single-scan left-to-right
      literal replace on the space-delimited symbol string. A single
      replace pass misses immediately-adjacent occurrences (the shared
      separator space is consumed); three passes close runs up to the
      word lengths that occur in practice, and — critically — Spark SQL,
      DuckDB, and Python `str.replace` all implement the identical
      single-scan semantics, so the whole training trajectory is
      hash-checkable against a SQL oracle. (Canonical BPE merges all
      non-overlapping occurrences per step; for natural-language word
      lengths the 3-pass rule coincides with it.)

    Returns (rank, pair, merged, cnt) — the learned merge table.
    """
    merges, _ = _bpe_loop(df, n_merges, text_col)
    return df.sparkSession.createDataFrame(
        merges, "rank long, pair string, merged string, cnt long"
    )


def _bpe_loop(df, n_merges: int, text_col: str):
    """Shared BPE training loop: returns (merge list, final vocabulary
    DataFrame (w, freq, seq)) — the segmented vocab keyed by the original
    word so encoders can join against it."""
    from pyspark.sql import functions as F

    vocab = (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
        .select(
            "w",
            "freq",
            F.concat(
                F.lit(" "), F.array_join(F.split("w", ""), " "), F.lit(" ")
            ).alias("seq"),
        )
        .localCheckpoint(eager=True)
    )
    merges = []
    for rank in range(1, n_merges + 1):
        toks = F.split(F.trim("seq"), " ")
        pos = vocab.select(
            "freq",
            toks.alias("t"),
        ).select(
            "freq",
            "t",
            F.explode(
                F.when(
                    F.size("t") >= 2, F.sequence(F.lit(1), F.size("t") - 1)
                ).otherwise(F.array().cast("array<int>"))
            ).alias("i"),
        )
        pairs = pos.select(
            "freq",
            F.concat_ws(
                " ", F.element_at("t", F.col("i")), F.element_at("t", F.col("i") + 1)
            ).alias("pair"),
        ).groupBy("pair").agg(F.sum("freq").alias("cnt"))
        best = pairs.orderBy(F.desc("cnt"), F.asc("pair")).limit(1).collect()
        if not best:
            break
        pair, cnt = best[0].pair, best[0].cnt
        merged = pair.replace(" ", "")
        merges.append((rank, pair, merged, cnt))
        expr = F.col("seq")
        for _ in range(3):
            expr = F.replace(expr, F.lit(f" {pair} "), F.lit(f" {merged} "))
        vocab = vocab.select("w", "freq", expr.alias("seq"))
        # lineage between checkpoints is a few chained replace projections
        # over the (checkpointed) vocab — cheap to recompute; an EAGER
        # checkpoint per merge costs a full job each and dominated the
        # wall-clock. Cut lineage every 4 merges instead.
        if rank % 4 == 0:
            vocab = vocab.localCheckpoint(eager=True)
    return merges, vocab


def bpe_token_counts(
    df,
    n_merges: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """BPE ENCODING via the vocabulary join — apply the learned merges to
    every document and count its subword tokens. The segmentation is
    computed once per DISTINCT word (the vocab table from the training
    loop) and joined back to the corpus token stream — the standard trick
    that makes tokenizer application a dictionary join instead of per-token
    string work: at 100 TB the corpus side is one explode + one broadcast
    or shuffle join on the word key, and only the vocab (≪ corpus) ever
    touches the merge machinery.

    Output: (doc_id, n_words, n_bpe_tokens, compression_x1000) where
    compression = 1000·n_bpe_tokens / total chars of the doc's words.
    """
    from pyspark.sql import functions as F

    _, vocab = _bpe_loop(df, n_merges, text_col)
    seg = vocab.select(
        "w",
        F.size(F.split(F.trim("seq"), " ")).cast("long").alias("n_sub"),
        F.length("w").cast("long").alias("n_chars_w"),
    )
    words = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("w")
    ).filter(F.col("w") != "")
    joined = words.join(seg, "w")
    return (
        joined.groupBy(id_col)
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_sub").alias("n_bpe_tokens"),
            F.sum("n_chars_w").alias("n_word_chars"),
        )
        .select(
            id_col,
            "n_words",
            "n_bpe_tokens",
            F.expr("(1000 * n_bpe_tokens) div nullif(n_word_chars, 0)").alias(
                "compression_x1000"
            ),
        )
    )


def dsir_log_weights(
    df: DataFrame,
    target: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
) -> DataFrame:
    """DSIR-style importance weights (Data Selection via Importance
    Resampling, Xie et al. 2023, public): score every document by how much
    more likely its hashed-bigram profile is under the TARGET slice's
    feature distribution than under the whole corpus's. Docs that "read
    like" the target get high weights; a downstream weighted sample
    (sampling.weighted_sample_exact_k) then tilts the corpus toward the
    target domain — the standard pretraining-data curation recipe.

    log w(doc) = Σ_b c_b·[ln p̂_t(b) − ln p̂_r(b)] over add-one-smoothed
    hashed-bigram buckets, emitted as the int64 quantization
    Σ c_b·(lnq(ct_b+1) − lnq(cr_b+1)) + n·(lnq(N_r+B) − lnq(N_t+B)) with
    lnq(x) = floor(1e9·ln x) of INTEGER x — the doc_unigram_entropy
    pattern, bit-reproducible cross-engine.

    Scale: the bucket table is ≤ n_buckets rows (BROADCAST join — never a
    shuffle on the corpus side); per-(doc,bucket) multiplicities aggregate
    map-side; totals are a 1-row broadcast. The only corpus-proportional
    shuffle is the (doc,bucket) combine. Docs with <2 tokens have no
    features and are dropped (same rule as bigram_lm_scores)."""
    toks = F.split(F.col(text_col), " ")
    # memoized bucket hash (the hashed_linear_quality lesson): one md5 per
    # DISTINCT bigram per Arrow batch instead of per instance — Zipfian
    # token frequency makes that orders of magnitude fewer
    @F.pandas_udf("long")
    def bkt_of(bgrs: pd.Series) -> pd.Series:
        memo: dict[str, int] = {}

        def bucket(s: str) -> int:
            b = memo.get(s)
            if b is None:
                b = (
                    int(hashlib.md5(("dsir:" + s).encode()).hexdigest()[:15], 16)
                    % n_buckets
                )
                memo[s] = b
            return b

        return bgrs.map(bucket)

    # positions-first explode (the exploded_shingles/bigram_lm shape):
    # codegen projections instead of an interpreted transform-HOF that
    # re-split the text per element
    ex = (
        df.filter(F.size(toks) >= 2)
        .select(
            F.col(id_col),
            target.cast("boolean").alias("is_t"),
            toks.alias("_toks"),
        )
        .select(
            id_col,
            "is_t",
            "_toks",
            F.explode(F.sequence(F.lit(1), F.size("_toks") - 1)).alias("_i"),
        )
        .select(
            id_col,
            "is_t",
            F.concat_ws(
                " ",
                F.element_at("_toks", F.col("_i")),
                F.element_at("_toks", F.col("_i") + 1),
            ).alias("bgr"),
        )
        .withColumn("bkt", bkt_of(F.col("bgr")))
    )

    def lnq(c: Column) -> Column:
        return F.floor(F.lit(1_000_000_000) * F.log(c.cast("double"))).cast("long")

    # ONE explode pass: the (doc,bucket) combine carries is_t, so the
    # global bucket table rolls up from it instead of re-exploding the
    # corpus (measured 2 scans -> 1). The combine is checkpointed — it
    # feeds both the bucket rollup and the per-doc score join.
    db = (
        ex.groupBy(id_col, "is_t", "bkt")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)
    )
    g = db.groupBy("bkt").agg(
        F.sum("c").cast("long").alias("cr"),
        F.sum(F.when(F.col("is_t"), F.col("c")).otherwise(0))
        .cast("long")
        .alias("ct"),
    )
    tot = g.agg(
        (lnq(F.sum("cr") + n_buckets) - lnq(F.sum("ct") + n_buckets)).alias("norm_q")
    )
    contrib = F.col("c") * (lnq(F.col("ct") + 1) - lnq(F.col("cr") + 1))
    return (
        db.join(F.broadcast(g), "bkt")
        .crossJoin(F.broadcast(tot))
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("n_feats"),
            (F.sum(contrib) + F.sum("c") * F.first("norm_q"))
            .cast("long")
            .alias("logw_q"),
        )
    )


def codepoint_census_arrow(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-row codepoint-sum + char-count via ``mapInArrow`` — the
    Arrow-native map surface (SPARK-37227): the worker hands each Arrow
    RecordBatch to Python WITHOUT a pandas conversion, and the kernel
    reads the string column's raw buffers zero-copy.

    Fast path (pure-ASCII batch, the corpus norm): the UTF-8 data buffer
    is viewed as one numpy uint8 array; per-row sums come from a single
    cumsum indexed at the Arrow offsets (exact for empty rows, unlike
    ``np.add.reduceat``), so the whole batch is three vector ops with no
    per-row Python. Mixed batches fall back to per-row UTF-32 views —
    same exact semantics (sum of Unicode codepoints), any input.

    Scale: narrow map, no shuffle — partition-local, pipelined with the
    scan; downstream censuses aggregate the two longs, never the text.
    """
    import pyarrow as pa

    out_fields = [f for f in df.schema.fields if f.name != text_col]
    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in out_fields]
        + ["cp_sum long", "n_chars long"]
    )
    keep = [f.name for f in out_fields]

    def kernel(batches):
        import numpy as np

        for batch in batches:
            arr = batch.column(text_col)
            b = arr.cast(pa.large_binary())
            bufs = b.buffers()
            off = np.frombuffer(bufs[1], np.int64)[
                b.offset : b.offset + len(b) + 1
            ]
            data = (
                np.frombuffer(bufs[2], np.uint8)
                if bufs[2] is not None
                else np.zeros(0, np.uint8)
            )
            seg = data[off[0] : off[-1]]
            if seg.size == 0 or seg.max() < 128:
                csum = np.zeros(seg.size + 1, np.int64)
                np.cumsum(seg, dtype=np.int64, out=csum[1:])
                cp = csum[off - off[0]]
                cp_sum = cp[1:] - cp[:-1]
                n_chars = off[1:] - off[:-1]
            else:  # exact non-ASCII fallback: per-row UTF-32 view
                texts = arr.to_pylist()
                cp_sum = np.array(
                    [
                        int(
                            np.frombuffer(
                                t.encode("utf-32-le"), np.uint32
                            ).sum()
                        )
                        if t
                        else 0
                        for t in texts
                    ],
                    np.int64,
                )
                n_chars = np.array(
                    [len(t) if t else 0 for t in texts], np.int64
                )
            cols = [batch.column(k) for k in keep]
            yield pa.RecordBatch.from_arrays(
                cols + [pa.array(cp_sum), pa.array(n_chars)],
                keep + ["cp_sum", "n_chars"],
            )

    return df.mapInArrow(kernel, out_schema)
