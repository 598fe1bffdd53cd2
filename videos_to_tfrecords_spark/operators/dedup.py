"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard
(SURVEY §7.1 M5 — first-class engine components for LLM-data pipelines).

Scale design notes (the 100 TB posture):
- exact dedup: hash-groupBy on a 128-bit content hash — one shuffle of
  (hash, id), never of the text itself.
- MinHash+LSH: signatures are computed in ONE pass over exploded shingles
  (16 mins as columnar aggregates — no per-permutation jobs); banding
  explodes 8 small rows per doc; the band-bucket self-join only materializes
  same-bucket pairs, and exact-Jaccard verification touches only candidate
  docs. This is the classic shingle→minhash→band→bucket-join pipeline and
  every step is a built-in DataFrame op.
- SimHash: 16 conditional sums per doc in a single aggregation — near-dups
  land on equal/near fingerprints; grouping by fingerprint is exact-dedup
  machinery reused.
- all hashes are the portable md5-prefix (functions/hashing.py) so results
  are oracle-checkable cross-engine.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from videos_to_tfrecords_spark.functions.hashing import h15
from videos_to_tfrecords_spark.functions.textfn import tokens

N_PERM = 16
BAND_ROWS = 2  # 8 bands × 2 rows: P(miss) at J=0.9 ≈ (1-0.81)^8 ≈ 1.7e-6
N_BANDS = N_PERM // BAND_ROWS


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup on content hash: every row keeps its canonical (minimum)
    id within its md5 group. Only (md5, id) shuffles."""
    keyed = df.select(id_col, F.md5(F.col(text_col)).alias("content_md5"))
    w = Window.partitionBy("content_md5")
    return keyed.select(
        id_col,
        "content_md5",
        F.min(id_col).over(w).alias("canonical_id"),
        (F.col(id_col) != F.min(id_col).over(w)).alias("is_duplicate"),
    )


def shingle_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    _chunk_bytes: int = 2**31,
) -> DataFrame:
    """(id, shingle) distinct pairs — the unit of Jaccard similarity.

    Vectorized ``mapInArrow`` (guide §4.2) over the shared n-gram slice
    kernel (``videos_to_tfrecords_spark._ngram``): every shingle is a
    contiguous byte slice of its text, cut out by whole-batch NumPy offset
    arithmetic; within-doc distinct is Arrow's C++ hash group-by. For
    non-null inputs the output equals the declarative
    functions.textfn.shingles() (empty/short docs, consecutive, leading and
    trailing spaces, multi-byte UTF-8). No per-row Python objects cross the
    boundary, and throughput scales with bytes, not rows.

    Null semantics (r11 ADVICE): a NULL text is treated as an empty
    document — zero shingles, no output row (the old row loop raised on
    null text; no production table carries null text, but the kernel must
    not corrupt if one appears). A NULL id raises — int64-with-nulls
    silently round-trips through float64/NaN in numpy and would emit
    garbage ids. Both are pinned by tests/test_text_similarity.py.

    Large batches (r11 ADVICE): n-gram output is ~n× the input bytes, so a
    batch can exceed Arrow's 2 GiB ``string`` value-buffer cap even when
    the input (int32-offset) cannot. Output is emitted in sub-batches
    split on DOC boundaries so each stays under 2³¹ bytes (mapInArrow
    generators may yield several batches per input; within-doc distinct is
    per-doc, so doc-aligned splits preserve it). A single document whose
    own shingle bytes exceed 2³¹ cannot be represented in one ``string``
    cell-set and raises with a clear message instead of overflowing."""

    def gen(batches):
        import numpy as np
        import pyarrow as pa

        from videos_to_tfrecords_spark._ngram import NgramSlices

        out_schema = pa.schema(
            [pa.field(id_col, pa.int64()), pa.field("s", pa.string())]
        )
        empty = pa.RecordBatch.from_arrays(
            [pa.array([], pa.int64()), pa.array([], pa.string())],
            schema=out_schema,
        )
        for rb in batches:
            ids_arr = rb.column(0)
            if ids_arr.null_count:
                # int64-with-nulls comes back from to_numpy as float64 with
                # NaN; astype(int64) would turn NaN into an arbitrary id.
                raise ValueError("shingle_table: null doc ids are not supported")
            sl = NgramSlices(rb.column(1), n)
            if sl.total == 0:
                yield empty
                continue
            id_np = np.asarray(ids_arr.to_numpy(zero_copy_only=False), dtype=np.int64)
            # Emit doc-aligned sub-batches each < 2³¹ output bytes
            # (doc-aligned keeps the within-doc distinct below exact).
            # doc_out_end[d] = cumulative output bytes through doc d.
            doc_out_end = sl.out_off[sl.doc_off[1:]]
            d_lo, n_docs = 0, len(ids_arr)
            while d_lo < n_docs:
                base = int(sl.out_off[sl.doc_off[d_lo]])
                d_hi = int(
                    np.searchsorted(doc_out_end, base + _chunk_bytes, side="left")
                )
                if d_hi <= d_lo:
                    # one document alone carries ≥ the chunk cap of shingle
                    # bytes — unrepresentable as one string cell-set chunk
                    raise ValueError(
                        "shingle_table: a single document produces >= 2 GiB "
                        "of shingle bytes; split the document upstream"
                    )
                lo, hi = int(sl.doc_off[d_lo]), int(sl.doc_off[d_hi])
                if hi == lo:
                    d_lo = d_hi
                    continue
                out_ids = pa.array(
                    np.repeat(id_np[d_lo:d_hi], sl.per_doc[d_lo:d_hi]),
                    type=pa.int64(),
                )
                dedup = (
                    pa.table({id_col: out_ids, "s": sl.strings(lo, hi)})
                    .group_by([id_col, "s"], use_threads=False)
                    .aggregate([])
                )
                yield pa.RecordBatch.from_arrays(
                    [
                        dedup.column(id_col).combine_chunks(),
                        dedup.column("s").combine_chunks(),
                    ],
                    schema=out_schema,
                )
                d_lo = d_hi

    return df.select(id_col, text_col).mapInArrow(gen, f"{id_col} long, s string")


#: universal-hash-family constants for minhash permutations over a base
#: 64-bit hash split into 30-bit halves (products stay < 2^36 — no overflow
#: in engines that error on int64 wrap)
_PERM_P = 1_000_000_007


def minhash_signatures_portable(
    sh: DataFrame, id_col: str = "doc_id", n_perm: int = N_PERM
) -> DataFrame:
    """MinHash signatures in one columnar aggregation over a portable hash.

    Permutation i is ((2i+1)·x1 + (4i+3)·x2 + i) mod p, with x1/x2 the
    30-bit halves of the shingle's 60-bit md5 prefix (functions/hashing.h15),
    so every signature, band key, and therefore every banding CANDIDATE is
    reproducible bit-for-bit by a SQL oracle. The r9 sf1 value-hash gate
    showed why that matters: 8×2 banding misses real pairs at J≈0.8 with
    p≈1e-4, so an "LSH output == exact ground truth" oracle is a
    probabilistic claim that breaks at scale; with this hash family the
    oracle replays the LSH algorithm itself and equality is structural, at
    any SF."""
    from videos_to_tfrecords_spark.functions.hashing import h15

    # Hoist the md5-based hash into a projection (the simhash fix, r7):
    # aggregate expressions are not common-subexpression-eliminated across
    # aggregate functions, so inlining h here re-evaluated the md5 in all
    # 2·n_perm references — 32 md5 calls per shingle row instead of 1. The
    # x1/x2 expressions are unchanged off the projected column, so every
    # signature bit is identical (oracle replays the same arithmetic).
    hs = sh.select(F.col(id_col), h15(F.col("s")).alias("_h15"))
    h = F.col("_h15")
    x1 = h % F.lit(1 << 30)
    x2 = (h / F.lit(1 << 30)).cast("long")
    mins = [
        F.min((x1 * (2 * i + 1) + x2 * (4 * i + 3) + i) % _PERM_P).alias(f"sig{i}")
        for i in range(n_perm)
    ]
    return hs.groupBy(id_col).agg(*mins)


def lsh_candidate_pairs(
    sig: DataFrame, id_col: str = "doc_id", n_perm: int = N_PERM, band_rows: int = BAND_ROWS
) -> DataFrame:
    """Band the signature, bucket-join within bands → distinct (a, b) pairs.

    The exploded band table is tiny (n_bands rows/doc of (band, key, id));
    the self-join is an equi-join on (band, key) that only same-bucket rows
    survive — the shuffle is proportional to docs, not pairs."""
    n_bands = n_perm // band_rows
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    ",", *[F.col(f"sig{b * band_rows + r}").cast("string") for r in range(band_rows)]
                ).alias("key"),
            )
            for b in range(n_bands)
        ]
    )
    banded = sig.select(F.col(id_col), F.explode(bands).alias("bk")).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def jaccard_verify_from_texts(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold_x1000: int = 500,
    broadcast_doc_limit: int = 200_000,
    broadcast_byte_limit: int = 256 << 20,
    eager_release: bool = True,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard for candidate pairs. j_x1000 = floor(1000·|∩|/|∪|),
    engine-exact. Pairs sharing NO shingle never surface on either path —
    with any positive ``threshold_x1000`` (the default) the two paths are
    row-identical, pinned by pytest.

    ``shingles``: an optional precomputed ``shingle_table(docs)`` frame
    (same id_col/text_col/n) covering at least every candidate doc. When
    the caller already materialized one — ngram_jaccard_pairs builds it
    for its prefix index — the verify side filters it with a semi-join on
    the candidate ids instead of re-running the Python shingler over the
    candidate texts (identical rows by construction; the shingle set of a
    doc does not depend on which table it is read from). One Python pass
    per query instead of two (guide §4 — the boundary crossing, not the
    shingling itself, is the cost).

    ONE plan shape: each candidate doc's distinct shingles become a SORTED
    ARRAY of portable 60-bit hashes (h15); the pair list joins that array
    table on id_a and on id_b, and |∩| is a map-side ``array_intersect`` —
    no per-shingle explosion, no groupBy over pairs, no Python anywhere.
    A cheap (count, Σ length) probe over the candidate docs decides ONE
    physical knob: whether the array table gets a ``broadcast()`` hint.
    - Small candidate sets (the common case — candidate docs ≪ corpus, or
      the whole corpus while it is dim-table-sized): the hint makes both
      joins broadcast-hash, so the pair list — which can dwarf the doc
      count; the SSJoin emits 30.9M candidate pairs over 50k docs at sf1 —
      never shuffles at all.
    - Bigger: no hint; AQE picks shuffle joins keyed on doc id. Shuffle ∝
      pairs × (2 arrays of ~|d| int64s) — compare the per-shingle explode
      join this replaced, whose pairs ⋈ (id, shingle) rows blew up to
      Σ_pairs |A| ≈ 1.6e9 rows at sf1 (325 s vs ~30 s for this query set).
    Hash note: intersect/union sizes are computed over 60-bit shingle
    hashes — identical to the string-set sizes unless md5-prefix collides
    inside one candidate set (P ≈ n²/2⁶¹ ≈ 3e-6 at sf1's 2.6M distinct
    shingles); the same h15 already underpins every other oracle-mirrored
    signature in this module.
    With ``eager_release`` (default) the verified output — already the
    small filtered pair set — is materialized eagerly via
    ``localCheckpoint`` and the caches drop before returning, so repeated
    invocations in one session don't accumulate executor memory."""
    # persist the PAIR LIST itself (small relative to its lineage — LSH
    # banding or the prefix-filtered join IS the expensive part) so the
    # cand_ids distinct and the verify joins compute it once. With
    # eager_release the cache is dropped before returning; without it the
    # caller owns the (lazy) lifetime and we skip caching.
    pairs_c = pairs.persist() if eager_release else pairs
    cand_ids = (
        pairs_c.select(F.col("id_a").alias(id_col))
        .unionByName(pairs_c.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # the array table feeds the size probe + both join sides; persist so
    # the shingling runs once. Only under eager_release, which
    # owns the unpersist — a lazy caller would inherit an unreleasable
    # cache otherwise.
    if shingles is not None:
        sh = shingles.join(cand_ids, id_col, "semi")
    else:
        cand_texts = docs.join(cand_ids, id_col).select(id_col, text_col)
        sh = shingle_table(cand_texts, id_col=id_col, text_col=text_col, n=n)
    arr = sh.groupBy(id_col).agg(
        F.array_sort(F.collect_set(h15(F.col("s")))).alias("hs")
    )
    if eager_release:
        arr = arr.persist()
    stats = arr.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size("hs") * 8).alias("n_bytes"),
    ).first()
    take_broadcast = (
        stats["n_docs"] <= broadcast_doc_limit
        and (stats["n_bytes"] or 0) <= broadcast_byte_limit
    )
    aa = arr.select(F.col(id_col).alias("id_a"), F.col("hs").alias("ha"))
    ab = arr.select(F.col(id_col).alias("id_b"), F.col("hs").alias("hb"))
    if take_broadcast:
        aa, ab = F.broadcast(aa), F.broadcast(ab)
    out = (
        pairs_c.join(aa, "id_a")
        .join(ab, "id_b")
        .withColumn("ni", F.size(F.array_intersect("ha", "hb")))
        .withColumn(
            "j_x1000", F.expr("(1000 * ni) div (size(ha) + size(hb) - ni)")
        )
        .filter(F.col("j_x1000") >= threshold_x1000)
        .select("id_a", "id_b", "j_x1000")
    )
    if eager_release:
        out = out.localCheckpoint(eager=True)
        arr.unpersist(blocking=False)
        pairs_c.unpersist(blocking=False)
    return out


_HASH_P = 1099511628211  # FNV prime — the polynomial base
_MIX1 = 0xFF51AFD7ED558CCD  # murmur3 fmix64 constants
_MIX2 = 0xC4CEB9FE1A85EC53


def token_hash_u64(flat: list) -> "object":
    """Portable vectorized token hash, fully specified by THIS function:

        h₀ = Σ_{i < min(len,32)} byte_i · P^i   (mod 2⁶⁴, P = 1099511628211)
        h₁ = (h₀ xor len) · P                   (len = full UTF-8 byte length)
        h  = fmix64(h₁)                         (murmur3 finalizer)

    No dependence on pandas/numpy hashing internals, so the value of every
    token hash (and therefore the LSH candidate set downstream) is
    identical in every environment. The r5 ``curation_funnel_census`` red
    row was a banded-LSH miss-set that differed between the driver box and
    local — possible only because the old ``pd.util.hash_array`` is a
    host-library implementation detail.

    Mechanics (hot path, ~6 vectorized passes over the byte stream):
    tokens are joined with a single space (tokens come from split(" "), so
    no token contains 0x20 — asserted) and encoded ONCE; separator
    positions give token boundaries; kept bytes scatter into an
    (n_tokens × ≤32) uint8 matrix by flat-buffer indexing; the anchored
    polynomial makes pad bytes contribute exactly 0, so the result is a
    pure function of each token's own bytes. The length fold distinguishes
    long tokens sharing a 32-byte prefix; fmix64 restores avalanche that a
    plain polynomial lacks in its low bits (P^i is always odd). Replaces a
    masked per-column FNV-1a chain that cost 15× more (0.35 s vs 0.02 s
    per 270k tokens — the whole doc_minhash_lsh_pairs regression)."""
    import numpy as np

    if not flat:
        return np.empty(0, dtype=np.uint64)
    P = np.uint64(_HASH_P)
    n = len(flat)
    a = np.frombuffer(" ".join(flat).encode("utf-8"), dtype=np.uint8)
    is_sep = a == 32
    sep = np.flatnonzero(is_sep)
    if len(sep) != n - 1:
        raise ValueError("token_hash_u64: tokens must not contain spaces")
    starts = np.empty(n, dtype=np.int64)
    starts[0] = 0
    starts[1:] = sep + 1
    ends = np.empty(n, dtype=np.int64)
    ends[:-1] = sep
    ends[-1] = len(a)
    lens = ends - starts
    cap = int(min(lens.max(), 32)) if n else 0
    h = np.zeros(n, dtype=np.uint64)
    if cap > 0:
        keep_idx = np.flatnonzero(~is_sep)
        tid = np.cumsum(is_sep)[keep_idx]
        col = keep_idx - starts[tid]
        m = col < cap
        mat = np.zeros((n, cap), dtype=np.uint8)
        mat[tid[m], col[m]] = a[keep_idx[m]]
        # power table in Python ints (numpy warns on scalar uint64 wrap)
        pows = np.array(
            [pow(_HASH_P, j, 1 << 64) for j in range(cap)], dtype=np.uint64
        )
        for j in range(cap):
            h += mat[:, j] * pows[j]
    h = (h ^ lens.astype(np.uint64)) * P
    # murmur3 fmix64
    h ^= h >> np.uint64(33)
    h *= np.uint64(_MIX1)
    h ^= h >> np.uint64(33)
    h *= np.uint64(_MIX2)
    h ^= h >> np.uint64(33)
    return h


def minhash_signatures_mapside(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3, n_perm: int = N_PERM
) -> DataFrame:
    """Signatures computed entirely map-side: shingling AND the 16 perm
    minima happen per document inside one Arrow batch — NO shuffle at all
    (vs shingle-explode + groupBy's exchange of the whole shingle table).
    At 100 TB the signature table (n_perm longs/doc) is the only thing that
    ever leaves the scan stage.

    Hash family (round-2 fix — the md5-per-shingle Python inner loop was
    the slowest query's hot path): every TOKEN is hashed exactly once per
    batch with a SELF-SPECIFIED vectorized FNV-1a over its UTF-8 bytes
    (round-6 fix: the previous ``pd.util.hash_array`` is an implementation
    detail of the host's pandas build — a different build on the driver box
    changes the LSH miss set, which is exactly the shape of the r5
    ``curation_funnel_census`` red row; a hash defined by THIS module is
    bit-identical in every environment). Shingle hashes are a vectorized
    rolling FNV-style polynomial over n consecutive token hashes
    (order-sensitive, uint64 wraparound), and per-document permutation
    minima come from ``np.minimum.reduceat`` over the batch-flat shingle
    array. Zero per-shingle Python. Signatures are internal — correctness
    is judged on exact-Jaccard-verified pairs — so no ORACLE-portable hash
    is required (unlike minhash_signatures_portable), but cross-ENVIRONMENT
    determinism is: the banded candidate set (and therefore any
    near-threshold miss) must be a pure function of the corpus, never of
    the pandas version."""
    import numpy as np

    cols = ", ".join(f"sig{i} long" for i in range(n_perm))
    # perm i: (a_i·x1 + b_i·x2 + i) mod p with x1/x2 30-bit halves of the
    # base hash — products stay < 2^36, no int64 overflow
    a = np.arange(n_perm, dtype=np.int64) * 2 + 1
    b = np.arange(n_perm, dtype=np.int64) * 4 + 3
    c = np.arange(n_perm, dtype=np.int64)
    fnv = np.uint64(1099511628211)
    mask30 = np.int64((1 << 30) - 1)

    def gen(batches):
        for pdf in batches:
            tok_lists = [t.split(" ") for t in pdf[text_col]]
            flat = [tok for tl in tok_lists for tok in tl]
            th = token_hash_u64(flat)  # portable — see its docstring
            # rolling combine: shingle j of a doc = Σ-poly of token hashes
            # j..j+n-1; duplicates within a doc are harmless (min-invariant)
            sh_chunks, starts, off, pos = [], [], 0, 0
            n_docs = len(tok_lists)
            has_sh = np.zeros(n_docs, dtype=bool)
            for d, tl in enumerate(tok_lists):
                m = len(tl)
                cnt = m - n + 1
                if cnt > 0:
                    seg = th[off : off + m]
                    comb = np.zeros(cnt, dtype=np.uint64)
                    for j in range(n):
                        comb = comb * fnv + seg[j : j + cnt]
                    sh_chunks.append(comb)
                    starts.append(pos)
                    pos += cnt
                    has_sh[d] = True
                off += m
            out = {id_col: pdf[id_col].to_numpy()}
            sig_mat = np.full((n_docs, n_perm), -1, dtype=np.int64)
            if sh_chunks:
                hs = np.concatenate(sh_chunks).view(np.int64)
                x1 = hs & mask30
                x2 = (hs >> np.int64(30)) & mask30
                st = np.asarray(starts, dtype=np.int64)
                for i in range(n_perm):
                    vals = (x1 * a[i] + x2 * b[i] + c[i]) % _PERM_P
                    sig_mat[has_sh, i] = np.minimum.reduceat(vals, st)
            for i in range(n_perm):
                out[f"sig{i}"] = sig_mat[:, i]
            yield pd.DataFrame(out)

    return df.select(id_col, text_col).mapInPandas(gen, f"{id_col} long, {cols}")


def minhash_lsh_dedup_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", threshold_x1000: int = 500
) -> DataFrame:
    """Full near-dup pipeline: map-side minhash signatures → LSH bands →
    candidate pairs → exact-Jaccard verification from the candidate texts.
    False positives are removed by the verify step; the band geometry makes
    misses negligible above the threshold (see module docstring)."""
    sig = minhash_signatures_mapside(df, id_col, text_col)
    cand = lsh_candidate_pairs(sig, id_col)
    return jaccard_verify_from_texts(cand, df, id_col, text_col, threshold_x1000=threshold_x1000)


def minhash_lsh_dedup_pairs_portable(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold_x1000: int = 500,
) -> DataFrame:
    """``minhash_lsh_dedup_pairs`` with the portable signature family
    (``minhash_signatures_portable``): shingle table → h15-based 16-perm
    signatures → 8×2 bands → candidate pairs → exact-Jaccard verify. The
    whole pipeline — including which true pairs the banding MISSES — is
    replayed bit-for-bit by a SQL oracle, so this variant carries the
    value-hash check of LSH semantics. Costs one shingle-table shuffle
    (the groupBy that the map-side variant avoids); at 100 TB run the
    map-side variant for production and this one to audit it."""
    # one shingle pass feeds the signatures AND the verify (shingles=):
    # persist here, release after the verify's eager materialization
    sh = shingle_table(df, id_col, text_col).persist()
    sig = minhash_signatures_portable(sh, id_col)
    cand = lsh_candidate_pairs(sig, id_col)
    out = jaccard_verify_from_texts(
        cand, df, id_col, text_col, threshold_x1000=threshold_x1000, shingles=sh
    )
    sh.unpersist(blocking=False)
    return out


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold_x1000: int = 500,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard with PREFIX FILTERING (SSJoin /
    PPJoin): under a global shingle order (rarest first), a pair with
    J ≥ t shares ≥ ⌈t·|d|⌉ shingles, so each doc's candidate-generating
    index only needs its first |d| − ⌈t·|d|⌉ + 1 shingles — pairs that share
    only frequent shingles never materialize. Lossless (the prefix-filter
    theorem), and the oracle gate cross-checks it against the unfiltered
    ground truth. Candidates are then verified exactly from their texts.

    This is the scale story for exact similarity join: the inverted-index
    fan-out is quadratic in shingle document-frequency, and rare-first
    prefixes cut exactly the high-frequency postings that explode at 100 TB."""
    t = threshold_x1000 / 1000.0
    # the shingle index feeds 4 DAG branches (freq, prefix, both join
    # sides); persist it so the shingler runs once. At 100 TB this is a
    # materialized intermediate table (write-to-parquet), same shape.
    # The verify step materializes eagerly (its default eager_release), so
    # unpersisting right after it returns is safe — the cache is dropped
    # once the output exists instead of accumulating across invocations.
    # ``shingles``: callers that already hold a materialized shingle table
    # for this df (the recall evals run one for the minhash side) pass it
    # in; then they own its lifetime and this function runs ZERO Python
    # passes of its own — the verify step reuses it too.
    own_sh = shingles is None
    sh = shingle_table(df, id_col, text_col).persist() if own_sh else shingles
    freq = sh.groupBy("s").agg(F.count("*").alias("df_s"))
    # doc sizes via partial→final aggregate + join, NOT a count() window:
    # the window form sorts the full (shingle ⋈ freq) table a second time
    # per doc partition — measured 2.7× slower at sf0.1 for an identical
    # result. The rarest-first rank's sort is inherent (it IS the prefix
    # order); everything else stays agg-shaped.
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("d_len"))
    worder = Window.partitionBy(id_col).orderBy("df_s", "s")
    # ALL three candidate filters below use EXACT INTEGER arithmetic on
    # tx = threshold_x1000 (r7 ADVICE fix): the float forms ceil(t·d) /
    # ceil(t/(1+t)·(la+lb)) / lb·t ≤ la are one-ulp hazards — e.g.
    # t = 0.1 is the double 0.1000000000000000055…, so ceil(0.1·10) = 2,
    # shortening the prefix by one token and silently breaking the
    # losslessness theorem for thresholds whose exact bound is integral
    # (t = 0.5 happened to be safe; 0.1/0.7/0.9 are not). Integer ceil of
    # a/b for positive ints is (a + b − 1) div b — no rounding, any tx.
    tx = int(threshold_x1000)
    prefix_keep = F.expr(f"d_len - ((d_len * {tx} + 999) div 1000) + 1")
    prefix = (
        sh.join(freq, "s")
        .join(sizes, id_col)
        .withColumn("rn", F.row_number().over(worder))
        .filter(F.col("rn") <= prefix_keep)
        .select(id_col, "s", "d_len", "rn")
    )
    sa, sb = prefix.alias("sa"), prefix.alias("sb")
    # length filter (also lossless): J ≥ t forces t·|a| ≤ |b| ≤ |a|/t —
    # as integers, tx·|b| ≤ 1000·|a| and tx·|a| ≤ 1000·|b|.
    # POSITION filter (PPJoin, also lossless, r6): a shared prefix token at
    # rarest-first ranks (ra, rb) bounds the achievable overlap by
    # 1 + min(la−ra, lb−rb); J ≥ t needs overlap ≥ ⌈t/(1+t)·(la+lb)⌉ =
    # ⌈tx·(la+lb) / (1000+tx)⌉, so occurrence-pairs below that bound can't
    # certify the pair — keeping a pair if ANY occurrence passes is a
    # superset of PPJoin's candidate set (hence still lossless) and cut
    # sf1 candidates 30.9M → 12.1M before the distinct+verify (the
    # query's dominant cost).
    pos_ok = F.lit(1) + F.least(
        F.col("sa.d_len") - F.col("sa.rn"), F.col("sb.d_len") - F.col("sb.rn")
    ) >= F.expr(
        f"((sa.d_len + sb.d_len) * {tx} + {1000 + tx - 1}) div {1000 + tx}"
    )
    pairs = (
        sa.join(
            sb,
            (F.col("sa.s") == F.col("sb.s"))
            & (F.col(f"sa.{id_col}") < F.col(f"sb.{id_col}"))
            & (F.col("sb.d_len") * tx <= F.col("sa.d_len") * 1000)
            & (F.col("sa.d_len") * tx <= F.col("sb.d_len") * 1000)
            & pos_ok,
        )
        .select(F.col(f"sa.{id_col}").alias("id_a"), F.col(f"sb.{id_col}").alias("id_b"))
        .distinct()
    )
    out = jaccard_verify_from_texts(
        pairs, df, id_col, text_col, threshold_x1000=threshold_x1000, shingles=sh
    )
    if own_sh:
        sh.unpersist(blocking=False)
    return out


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 20,
    small_graph_threshold: int = 1_000_000,
) -> DataFrame:
    """Duplicate-cluster assembly: connected components over the dup-pair
    graph (component id = min node id in the component).

    Hybrid strategy: the dup-pair graph is the FILTERED output of near-dup
    detection — tiny relative to the corpus even at 100 TB — so below
    ``small_graph_threshold`` edges a driver-side union-find finishes in
    milliseconds (the edge list is already a collected-size artifact).
    Above it, iterative min-label propagation: each node adopts the minimum
    component among itself and its neighbors until fixpoint — O(diameter)
    rounds of join+aggregate, lineage truncated per round."""
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
    )
    # limit-probe: one job decides the path AND fetches the small graph —
    # if the probe returns ≤ threshold rows, that IS the complete edge set
    probe = edges.limit(small_graph_threshold + 1).collect()
    if len(probe) <= small_graph_threshold:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for row in probe:
            a, b = row.src, row.dst
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by min id so the root IS the component id
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        rows = [(node, find(node)) for node in parent]
        return pairs.sparkSession.createDataFrame(rows, "node long, component long")

    # distributed path: materialize edges once — every iteration re-reads
    # them, and without this the upstream pair-generation pipeline would
    # re-run per round through the lineage
    edges = edges.localCheckpoint()
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        updated = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("nbr_component", F.col("component"))
                ).alias("component"),
                (F.col("nbr_component") < F.col("component")).alias("_changed"),
            )
        ).localCheckpoint()
        changed = updated.filter(F.col("_changed")).count()
        labels = updated.drop("_changed")
        if changed == 0:
            break
    return labels


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 16) -> DataFrame:
    """SimHash fingerprint: per-bit ±1 votes of (multiset) token hashes,
    assembled into a ``bits``-wide integer. Single explode + one aggregation."""
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    # Hoist the md5-based hash into a projection: aggregate expressions are
    # not common-subexpression-eliminated across aggregate functions, so
    # inlining `th` would recompute md5 `bits` times per token. Projected
    # once, the per-bit aggregates are single shift+AND ops on a long
    # (sf0.1: 1.05 s -> 0.73 s steady-state, 2.9 s -> 1.0 s first run).
    tok = tok.select(id_col, h15("tok", salt="tok").alias("th"))
    th = F.col("th")
    # votes_b > 0  <=>  2 * count(bit b set) > n_tokens; summing the raw bit
    # avoids the ±1 CASE expression in the hot aggregate loop.
    counts = [
        F.sum(F.shiftright(th, b).bitwiseAND(F.lit(1))).alias(f"c{b}")
        for b in range(bits)
    ]
    agg = tok.groupBy(id_col).agg(F.count("*").alias("n"), *counts)
    sh = F.lit(0).cast("long")
    for b in range(bits):
        sh = sh + F.when(F.col(f"c{b}") * 2 > F.col("n"), F.lit(1 << b)).otherwise(0)
    return agg.select(F.col(id_col), sh.cast("long").alias("simhash"))


def window_hash_table(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 8
) -> DataFrame:
    """(id, n_tokens, p, h) — every n-token window with its 1-based start
    position and portable h15 hash. The shared scan shape of the
    substring-dedup family: positions explode via codegen sequence/slice
    (the exploded_shingles lesson — no interpreted higher-order lambdas),
    and the hash is oracle-mirrorable bit-for-bit."""
    toks = F.split(F.col(text_col), " ")
    base = df.select(F.col(id_col), toks.alias("_toks"))
    pos = base.select(
        id_col,
        "_toks",
        F.size("_toks").alias("n_tokens"),
        F.explode(
            F.when(
                F.size("_toks") >= n,
                F.sequence(F.lit(1), F.size("_toks") - (n - 1)),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("p"),
    )
    return pos.select(
        id_col,
        "n_tokens",
        "p",
        h15(F.array_join(F.slice("_toks", F.col("p"), F.lit(n)), " ")).alias("h"),
    )


def merge_flagged_spans(
    flagged: DataFrame, id_col: str = "doc_id", n: int = 8
) -> DataFrame:
    """Merge flagged (id, n_tokens, p) windows into maximal duplicated
    regions: new span iff p − prev_p > n (within-run gaps ≤ n keep the
    interval union contiguous, so a merged run covers exactly
    last_p − first_p + n tokens). Per-id running-frame window — O(n log n)
    in flagged rows per id, never an unbounded-following frame. Returns
    (id, n_tokens, n_dup_spans, dup_tokens)."""
    w = Window.partitionBy(id_col).orderBy("p")
    run = Window.partitionBy(id_col).orderBy("p").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    lagp = F.lag("p").over(w)
    spans = (
        flagged.withColumn(
            "ns",
            F.when(lagp.isNull() | (F.col("p") - lagp > n), 1).otherwise(0),
        )
        .withColumn("sid", F.sum("ns").over(run))
        .groupBy(id_col, "n_tokens", "sid")
        .agg((F.max("p") - F.min("p") + n).alias("span_tokens"))
    )
    return spans.groupBy(id_col, "n_tokens").agg(
        F.count("*").cast("long").alias("n_dup_spans"),
        F.sum("span_tokens").cast("long").alias("dup_tokens"),
    )


def duplicate_span_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Substring-level (suffix-style) cross-document dedup census — the
    ExactSubstr mode of deduplicate-text-datasets at n-token granularity:
    any span of ≥ n tokens duplicated across documents necessarily contains
    a duplicated n-token window, so flagging every window whose n-shingle
    occurs in ≥ ``min_docs`` DISTINCT documents and merging
    overlapping/adjacent flagged windows yields exactly the maximal
    duplicated regions a span-removal pass would cut.

    Returns one row per AFFECTED document:
    (id, n_dup_spans, dup_tokens, n_tokens, kept_tokens) where dup_tokens
    is the size of the union of flagged windows (the removed region under
    the remove-all policy) and kept_tokens = n_tokens − dup_tokens.

    Scale shape (no suffix array needed): inverted-index over window
    hashes — explode n-windows with positions (codegen slice/array_join,
    the exploded_shingles lesson), one (hash → distinct-doc count)
    aggregate, one join back, then a PER-DOCUMENT running-frame window to
    merge intervals (new span iff pos − prev_pos > n; merged span length
    = last_pos − first_pos + n, exact because within-run gaps ≤ n keep the
    union contiguous). Everything is shuffle-∝-corpus-windows; nothing
    pairwise, nothing driver-side, no unbounded-following frames. Windows
    group on the portable 60-bit h15 so the DuckDB oracle mirrors the
    grouping bit-for-bit."""
    sh = window_hash_table(df, id_col, text_col, n)
    multi = (
        sh.groupBy("h")
        .agg(F.countDistinct(id_col).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("h")
    )
    flagged = sh.join(multi, "h").select(id_col, "n_tokens", "p")
    return merge_flagged_spans(flagged, id_col, n).select(
        id_col,
        "n_dup_spans",
        "dup_tokens",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        (F.col("n_tokens") - F.col("dup_tokens")).cast("long").alias("kept_tokens"),
    )


def decontaminate_overlap(
    train: DataFrame,
    evalset: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Benchmark DECONTAMINATION — the overlap check every LLM corpus runs
    before training: for each training document, how many of its distinct
    n-gram shingles also appear in the held-out evaluation set. Downstream
    policy filters on the count (≥1 shared 13-gram ⇒ drop, in the
    GPT-3/PaLM convention; n is a parameter).

    Scale shape: both sides shingle-explode (distinct per doc), the
    overlap is an EQUI-join on the shingle string. The eval side is
    orders-of-magnitude smaller than the corpus — mark it broadcast-able
    and the whole check is one map-side pass over the training shingles
    (no shuffle of the corpus); a giant eval set degrades gracefully to a
    shuffle join on the shingle key. Output: (id, n_shared_shingles) for
    CONTAMINATED training docs only (clean docs produce no row — at 100 TB
    the result ∝ contamination, not corpus)."""
    from pyspark.sql import functions as F

    tr = shingle_table(train, id_col, text_col, n=n)
    ev = (
        shingle_table(evalset, id_col, text_col, n=n)
        .select(F.col("s"))
        .distinct()
    )
    return (
        tr.join(F.broadcast(ev), "s")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_shared_shingles"))
    )


def dedup_lines_global(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    line_sep: str = "\n",
    min_dup: int = 2,
) -> DataFrame:
    """C4-style LINE-level dedup across the whole corpus: any line whose
    exact text occurs ``min_dup``-or-more times corpus-wide is removed from
    every document except its first occurrence (first = smallest
    (doc_id, position)); documents are then reassembled with surviving
    lines in their original order. This is the "discard all but one of any
    repeated line" rule LLM corpus pipelines (C4, RefinedWeb) apply to
    strip boilerplate headers/footers that exact DOC-level dedup misses.

    Returns (id_col, text_dedup, n_lines_kept, n_lines_dropped) — one row
    per input document, even when every line was dropped (empty string).

    Scale shape (100 TB): lines explode with their position; the global
    occurrence count groups on the line's 60-bit portable hash, so the
    aggregation exchange carries (hash, count, first-occurrence struct) —
    never the line text. The keeper table (∝ distinct lines) joins back on
    the same hash key, so AQE can reuse the partitioning; reassembly is
    one groupBy(doc) of the surviving (pos, line) pairs. Three shuffles
    total, each ∝ corpus lines — no all-pairs term anywhere. Hash
    collisions (2^-60) would merge two distinct lines' counts; acceptable
    for a boilerplate filter (same trade every MinHash pipeline makes).
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), line_sep)).alias("pos", "line"),
    ).select(
        id_col, "pos", "line", h15("line", salt="ld").alias("lkey")
    )
    keepers = lines.groupBy("lkey").agg(
        F.count("*").alias("cnt"),
        F.min(F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))).alias(
            "first_occ"
        ),
    )
    survived = (
        lines.join(keepers, "lkey")
        .filter(
            (F.col("cnt") < F.lit(min_dup))
            | (
                (F.col(id_col) == F.col("first_occ.d"))
                & (F.col("pos") == F.col("first_occ.p"))
            )
        )
        .select(id_col, "pos", "line")
    )
    n_lines = df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), line_sep)).cast("long").alias("n_lines"),
    )
    rebuilt = (
        survived.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct(F.col("pos"), F.col("line")))
                    ),
                    lambda s: s.line,
                ),
                line_sep,
            ).alias("text_dedup"),
            F.count("*").cast("long").alias("n_lines_kept"),
        )
    )
    return (
        n_lines.join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
            F.coalesce("n_lines_kept", F.lit(0)).alias("n_lines_kept"),
            (F.col("n_lines") - F.coalesce("n_lines_kept", F.lit(0))).alias(
                "n_lines_dropped"
            ),
        )
    )
