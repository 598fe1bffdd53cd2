"""Similarity search over embedding columns (SURVEY §7.1 M5).

The search kernels are one pipeline — partition, candidate probe, exact
verify — built from three shared pieces: the bounded (query-chunk ×
cand-chunk) grid :func:`_bipartite_tagged_grid`, the numpy partial top-k
:func:`_partial_topk` and the window close :func:`_rank_close`. Tiered
like a production ANN stack:

- brute-force top-k (`brute_force_topk`, and the int8 / euclidean /
  hard-negative / PQ scans): a bounded query set × the corpus, exact
  score, ranked per query. Correctness baseline; the query side is a
  collected matrix, so at 100 TB only for broadcast-sized query sets (the
  corpus never re-partitions).
- ANN over a probed key (:func:`probe_topk`): each candidate is assigned
  one key, each query probes one or more keys, and every key group is
  ranked on the grid, so no task materializes more than ~2·_CHUNK_CAP
  rows however large a bucket or an inverted list gets. Three assign /
  probe pairs:
  - sign-LSH (`lsh_topk`): deterministic Rademacher hyperplanes bucket the
    corpus, a query probes its own bucket; the plane count can be derived
    from the corpus size so the expected bucket population stays bounded;
  - multi-probe LSH (`lsh_topk_multiprobe`): queries also probe every
    bucket within Hamming distance 1 — recall recovers most of what
    single-probe loses at the cost of (n_planes+1)× candidate lookups;
  - IVF (`ivf_topk`): FIXED-k centroids from a deterministic kmeans-lite
    (h15-seeded init + integer Lloyd updates), nearest-centroid
    assignment, a sampled query probes its nprobe nearest lists. Centroid
    count is a constant, so the assignment broadcast is O(k·dim)
    regardless of corpus size.
- banded threshold pairs (`cosine_threshold_pairs_banded`): the
  embedding near-dup primitive at scale — sign-LSH bands generate
  candidates on the same grid (shuffle ∝ docs·bands + candidate pairs, NO
  corpus-proportional broadcast), then the exact integer dot verifies.
  Mirrors the MinHash-band → exact-Jaccard design in operators/dedup.py.

Numeric contract: similarity = Σ round(aᵢ·1e6)·round(bᵢ·1e6) in int64 —
exact, engine-independent (rounding is half-away-from-zero in Spark,
DuckDB, and the numpy kernels here). Centroid updates use Python's floor
division (`//`) on exact int64 sums; the SQL oracle mirrors it with
floor(sum/count). The vector math runs in Arrow-batched numpy (int64
matmul), measured ~10-50× faster than interpreted Catalyst higher-order
lambdas for 64-d vectors; the declarative twin stays in functions/vector.py.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from videos_to_tfrecords_spark.functions.hashing import h15

N_PLANES = 8
_SCALE = 1_000_000
# target expected bucket population when deriving the plane count from the
# corpus size: planes = max(N_PLANES, ceil(log2(n / _TARGET_BUCKET_ROWS)))
_TARGET_BUCKET_ROWS = 128
#: rows per side of one grid cell: a key group splits into
#: ceil(|side| / _CHUNK_CAP) hash chunks per side (read at call time)
_CHUNK_CAP = 4096


def _to_int_matrix(series: pd.Series) -> np.ndarray:
    """Stack an Arrow array column into an exact int64 matrix with
    half-away-from-zero rounding (matches Spark's and DuckDB's round())."""
    m = np.stack(series.to_numpy()).astype(np.float64) * _SCALE
    return (np.sign(m) * np.floor(np.abs(m) + 0.5)).astype(np.int64)


def _pair_dot():
    # built lazily: pandas_udf needs an active SparkSession to resolve types
    @F.pandas_udf("long")
    def pair_dot(a: pd.Series, b: pd.Series) -> pd.Series:
        ai, bi = _to_int_matrix(a), _to_int_matrix(b)
        return pd.Series(np.einsum("ij,ij->i", ai, bi))

    return pair_dot


def _collect_query_matrix(
    queries: DataFrame, cols: list[str], vec_col: str, to_matrix=_to_int_matrix
) -> tuple[list[np.ndarray], np.ndarray]:
    """Materialize a BOUNDED query side as driver-side numpy: per-column
    id/label arrays plus the ``to_matrix``-quantized vector matrix (a
    (0, 1) matrix when the side is empty). The collect is metadata-sized
    by contract — every caller bounds the query set (a fixed probe sample
    or a corpus-derived-modulus sample), so this is the classic
    broadcast-variable shape, not a data-sized collect."""
    rows = queries.select(*cols, vec_col).collect()
    meta = [
        np.array([r[i] for r in rows], dtype=np.int64) for i in range(len(cols))
    ]
    vecs = (
        to_matrix(pd.Series([list(r[-1]) for r in rows]))
        if rows
        else np.zeros((0, 1), dtype=np.int64)
    )
    return meta, vecs


def _partial_topk(
    score: np.ndarray, cids: np.ndarray, k: int, drop: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Per-row partial top-k of a |q|×batch int64 score matrix under the
    total order (score desc, cand_id asc), skipping the cells ``drop``
    marks (self pairs, same-label pairs). Returns the (row, col) indices
    of at most k kept cells per row, rows ascending, each row in rank
    order. Exact: a row's top-k cells all score ≥ its k-th largest kept
    score, so one ``np.partition`` finds that bound and only the cells at
    or above it (ties included) are sorted."""
    nq, nb = score.shape
    kk = min(k, nb)
    if not nq or not kk:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64)
    live = np.where(drop, np.iinfo(np.int64).min, score)
    bound = np.partition(live, nb - kk, axis=1)[:, nb - kk]
    r, c = np.nonzero((live >= bound[:, None]) & ~drop)
    order = np.lexsort((cids[c], -score[r, c], r))
    r, c = r[order], c[order]
    keep = np.arange(len(r)) - np.searchsorted(r, r) < k
    return r[keep], c[keep]


def _rank_close(
    df: DataFrame, k: int, order: list[Column], by: tuple[str, ...] = ("query_id",)
) -> DataFrame:
    """Close a top-k over partial rows: rank each ``by`` group under
    ``order`` (a total order, so the rank is deterministic) and keep
    ranks ≤ k. Exact whenever every partial holds its own top-k under the
    same order — the global top-k is then among the partials."""
    w = Window.partitionBy(*by).orderBy(*order)
    return df.withColumn("rnk", F.row_number().over(w).cast("long")).filter(
        F.col("rnk") <= k
    )


def _scan_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    score,
    to_matrix=_to_int_matrix,
) -> DataFrame:
    """Exact top-k per query over a corpus scan, self excluded: the
    bounded query side is collected once into a ``to_matrix`` matrix and
    closed over a ``mapInPandas`` scan; each Arrow batch computes one
    ``score(qmat, batch vectors)`` |q|×batch int64 matrix and emits only
    its per-query :func:`_partial_topk`, and :func:`_rank_close` ranks the
    batches·|q|·k partials under (score desc, cand_id asc). The corpus
    crosses Arrow once and never shuffles. Output: (query_id, cand_id,
    score, rnk)."""
    (qids,), qmat = _collect_query_matrix(queries, [id_col], vec_col, to_matrix)
    c = corpus.select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cv"))

    def partial(it):
        for pdf in it:
            if not len(pdf) or not len(qids):
                continue
            cids = pdf["cand_id"].to_numpy()
            s = score(qmat, pdf["cv"])
            r, ci = _partial_topk(s, cids, k, qids[:, None] == cids[None, :])
            yield pd.DataFrame(
                {"query_id": qids[r], "cand_id": cids[ci], "score": s[r, ci]}
            )

    scored = c.mapInPandas(partial, "query_id long, cand_id long, score long")
    return _rank_close(scored, k, [F.desc("score"), F.asc("cand_id")])


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k neighbors per query by integer dot (excluding self),
    with id tie-break: :func:`_scan_topk` with one |q|×batch BLAS matmul
    per Arrow batch. vs the old crossJoin+pandas-UDF form this ships
    |corpus| vectors through Arrow once instead of |q|·|corpus| pair
    copies, and the only shuffle carries batches·|q|·k rows instead of
    |q|·|corpus|. Every caller samples the query side to O(100) rows."""
    return _scan_topk(
        queries,
        corpus,
        id_col,
        vec_col,
        k,
        lambda qmat, cv: qmat @ _to_int_matrix(cv).T,
    ).withColumnRenamed("score", "dot_scaled")


def cosine_threshold_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold_scaled: int = 450_000_000_000,  # ≈ cosine 0.45 at 1e6 scaling
    id_filter_mod: int | None = None,
) -> DataFrame:
    """All (a < b) pairs above a similarity threshold, EXACT (no candidate
    pruning). The left side is broadcast, so this variant is only for
    broadcast-sized left sides (a query set, a sampled probe) — at corpus ×
    corpus scale use :func:`cosine_threshold_pairs_banded`, which generates
    candidates by LSH banding instead of broadcasting."""
    base = df.select(F.col(id_col), F.col(vec_col))
    a = base.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    if id_filter_mod:
        a = a.filter(F.col("id_a") % id_filter_mod == 0)
    b = base.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        F.broadcast(a)
        .crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("dot_scaled", _pair_dot()("va", "vb"))
        .filter(F.col("dot_scaled") >= threshold_scaled)
        .select("id_a", "id_b", "dot_scaled")
    )


def _bipartite_tagged_grid(q: DataFrame, c: DataFrame, keys: list[str]) -> DataFrame:
    """Blocked join scaffolding for every grid kernel: the query rows and
    candidate rows of a key group are hash-chunked independently — qn =
    ceil(|q-group|/cap), cn = ceil(|c-group|/cap), cap = _CHUNK_CAP — and
    every (q-chunk × c-chunk) grid cell receives its own q rows plus its
    own c rows, role-tagged (``is_q``). A downstream groupBy(keys, qc, cc)
    task therefore sees ≤ ~2·cap rows however large either side of the
    group gets (hash-balanced: a balls-in-bins expectation, not a hard
    ceiling). Purely physical: every (query, candidate) pair of a group
    lands in exactly one cell, so results are independent of the chunking
    and oracles never see it.

    Both inputs carry ``keys + (query_id, v)``. A self-join passes the
    same frame as both sides, which computes the chunk counts once. The
    count join is an equi-join on the keys (inner — a group with only one
    side produces no pairs anyway); Spark/AQE broadcasts it when small,
    and it is never a corpus-proportional broadcast."""
    n = F.ceil(F.count("*") / F.lit(_CHUNK_CAP)).cast("int")
    counts = (
        q.groupBy(*keys).agg(n.alias("qn"), n.alias("cn"))
        if c is q
        else q.groupBy(*keys).agg(n.alias("qn")).join(
            c.groupBy(*keys).agg(n.alias("cn")), keys
        )
    )
    my_chunk = lambda n: F.pmod(  # noqa: E731
        h15(F.col("query_id").cast("string"), salt="chunk"), F.col(n)
    ).cast("int")
    q_side = (
        q.join(counts, keys)
        .withColumn("qc", my_chunk("qn"))
        .select(
            *keys,
            "qc",
            F.explode(F.sequence(F.lit(0), F.col("cn") - 1)).alias("cc"),
            F.lit(True).alias("is_q"),
            "query_id",
            "v",
        )
    )
    c_side = (
        c.join(counts, keys)
        .withColumn("cc", my_chunk("cn"))
        .select(
            *keys,
            F.explode(F.sequence(F.lit(0), F.col("qn") - 1)).alias("qc"),
            "cc",
            F.lit(False).alias("is_q"),
            "query_id",
            "v",
        )
    )
    return q_side.unionByName(c_side)


def _cell_dots(pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Split one role-tagged grid cell into (query ids, candidate ids,
    |q|×|c| exact int64 dots); a cell missing a side yields no pairs."""
    is_q = pdf["is_q"].to_numpy()
    qs, cs = pdf[is_q], pdf[~is_q]
    qids, cids = qs["query_id"].to_numpy(), cs["query_id"].to_numpy()
    if not len(qs) or not len(cs):
        return qids[:0], cids[:0], np.zeros((0, 0), dtype=np.int64)
    return qids, cids, _to_int_matrix(qs["v"]) @ _to_int_matrix(cs["v"]).T


def probe_topk(q: DataFrame, cand: DataFrame, k: int) -> DataFrame:
    """Top-k by exact integer dot over probed keys — the probe and verify
    half of every ANN kernel here. ``q`` holds one ``(key, query_id, v)``
    row per key a query probes and ``cand`` one per key a candidate is
    assigned (a self-join passes one frame as both). Each key group is
    ranked on :func:`_bipartite_tagged_grid`: every cell emits the
    :func:`_partial_topk` of its query rows against its candidate rows,
    self excluded, and :func:`_rank_close` merges the partials under
    (-dot, cand_id). As long as a query probes DISTINCT keys and a
    candidate holds ONE key, each (query, candidate) pair meets in exactly
    one cell, so the result equals the unblocked ranking.

    Output: (query_id, cand_id, dot_scaled, rnk)."""

    def cell_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        qids, cids, dots = _cell_dots(pdf)
        r, c = _partial_topk(dots, cids, k, qids[:, None] == cids[None, :])
        return pd.DataFrame(
            {"query_id": qids[r], "cand_id": cids[c], "dot_scaled": dots[r, c]}
        )

    partials = (
        _bipartite_tagged_grid(q, cand, ["key"])
        .groupBy("key", "qc", "cc")
        .applyInPandas(cell_topk, "query_id long, cand_id long, dot_scaled long")
    )
    return _rank_close(partials, k, [F.desc("dot_scaled"), F.asc("cand_id")])


def cosine_threshold_pairs_banded(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold_scaled: int = 400_000_000_000,
    n_planes: int = 24,
    n_bands: int = 6,
) -> DataFrame:
    """Near-dup pairs above a similarity threshold at corpus scale:
    candidates = (a < b) pairs sharing at least one sign-LSH band, verified
    by the exact integer dot ≥ threshold. No broadcast anywhere — the band
    explode shuffles n·n_bands rows and each (band, bkey) group is verified
    on the bounded grid, so the plan survives a corpus that is 1000× the
    executors' memory. Per-plane collision prob is 1 - θ/π; with 4-bit
    bands at cos 0.4 the banded recall is ≈ 1-(1-0.159)^6 ≈ 0.65 —
    raise n_planes/n_bands for higher thresholds (near-dup corpora are
    clustered, so real-world candidate volume ∝ dup pairs, not n²).

    Semantics (banded-candidates ∩ threshold) are deterministic — the
    hyperplanes are hash-derived, not random — so the approximate result
    itself is oracle-checkable, mirroring doc_minhash_lsh_pairs.
    """
    bits = n_planes // n_bands
    mask = (1 << bits) - 1
    sig = hyperplane_bucket(df, id_col, vec_col, n_planes, out="sig").select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("v"), "sig"
    )
    bands = sig.select(
        "query_id",
        "v",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("sig"), b * bits).bitwiseAND(mask)
                    for b in range(n_bands)
                ]
            )
        ).alias("band", "bkey"),
    )
    grid = _bipartite_tagged_grid(bands, bands, ["band", "bkey"])

    def local_matches(pdf: pd.DataFrame) -> pd.DataFrame:
        qids, cids, dots = _cell_dots(pdf)  # ≤ _CHUNK_CAP² int64 cells
        # id_a < id_b inside the kernel ⇒ each unordered pair survives in
        # exactly one grid cell (the transposed cell fails the inequality),
        # so no within-band dedupe is needed
        r, c = np.where((dots >= threshold_scaled) & (qids[:, None] < cids[None, :]))
        return pd.DataFrame(
            {"id_a": qids[r], "id_b": cids[c], "dot_scaled": dots[r, c]}
        )

    matches = grid.groupBy("band", "bkey", "qc", "cc").applyInPandas(
        local_matches, "id_a long, id_b long, dot_scaled long"
    )
    # a pair sharing m bands matches in m band groups: final dedupe is on
    # MATCHES only (tiny), not on the candidate set
    return matches.distinct()


def _sign_matrix(n_rows: int, dim: int, prefix: str = "") -> np.ndarray:
    """Deterministic Rademacher (±1) matrix: entry (j, i) is +1 iff the
    portable md5-prefix hash of f"{prefix}{j},{i}" is odd — the LSH
    hyperplanes (prefix "") and the JL projection (prefix "jl:") that the
    SQL oracles rebuild bit-for-bit with h15."""
    odd = [
        int(hashlib.md5(f"{prefix}{j},{i}".encode()).hexdigest()[:15], 16) % 2
        for j in range(n_rows)
        for i in range(dim)
    ]
    return (2 * np.array(odd, dtype=np.int64) - 1).reshape(n_rows, dim)


def auto_planes(n_rows: int, target_bucket_rows: int = _TARGET_BUCKET_ROWS) -> int:
    """Plane count that keeps the EXPECTED bucket population ≤ target:
    2^planes buckets for n rows. Floors at N_PLANES so small test corpora
    keep the 8-plane geometry the oracles encode."""
    if n_rows <= target_bucket_rows:
        return N_PLANES
    return max(N_PLANES, math.ceil(math.log2(n_rows / target_bucket_rows)))


def hyperplane_bucket(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = N_PLANES,
    out: str = "bucket",
) -> DataFrame:
    """Sign-LSH bucket id: bucket = Σ_p [v·plane_p > 0] << p, computed as a
    single int64 matmul per Arrow batch. Bucketing a 100 TB corpus is one
    embarrassingly-parallel narrow pass; the bucket column then drives a
    co-located equi-join."""

    @F.pandas_udf("long")
    def bucket_of(vecs: pd.Series) -> pd.Series:
        vi = _to_int_matrix(vecs)
        planes = _sign_matrix(n_planes, vi.shape[1])
        signed = vi @ planes.T  # (rows, planes), exact int64
        bits = (signed > 0).astype(np.int64)
        weights = (1 << np.arange(n_planes)).astype(np.int64)
        return pd.Series(bits @ weights)

    return df.withColumn(out, bucket_of(F.col(vec_col)))


def _lsh_keys(
    df: DataFrame, id_col: str, vec_col: str, n_planes: int | str
) -> tuple[int, DataFrame]:
    """(n_planes, rows) for the LSH kernels: ``n_planes="auto"`` derives
    the plane count from the corpus size (one count() job; pass the known
    size in production), and the rows are (key=bucket, query_id, v). The
    rows are checkpointed: the bucket pandas UDF feeds every grid consumer
    (count aggregates and row sides) and Catalyst has no CSE across the
    count join's branches — executing it once measured ~1.3× on the whole
    query at sf0.1."""
    if n_planes == "auto":
        n_planes = auto_planes(df.count())
    rows = (
        hyperplane_bucket(df, id_col, vec_col, n_planes, out="key")
        .select("key", F.col(id_col).alias("query_id"), F.col(vec_col).alias("v"))
        .localCheckpoint(eager=True)
    )
    return n_planes, rows


def lsh_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_planes: int | str = N_PLANES,
) -> DataFrame:
    """ANN top-k within sign-LSH buckets: :func:`probe_topk` where each
    vector is both a candidate and a query of its own bucket. Round 1 ran
    one ``applyInPandas`` task per bucket — an O(|bucket|²) single-task
    bomb when a bucket grows with the corpus; the grid bounds every task
    and leaves the result IDENTICAL to the whole-bucket ranking, so the
    oracle is the plain same-bucket ranking.

    Shuffle cost: bucket counts (tiny, broadcast back) + 2·C·n tagged rows
    where C = chunks per bucket (C=1 ⇒ the round-1 shape, ×2 for the role
    tag). Recall vs brute force is property-tested; production tightens it
    with :func:`lsh_topk_multiprobe`.
    """
    _, rows = _lsh_keys(df, id_col, vec_col, n_planes)
    return probe_topk(rows, rows, k)


def lsh_topk_multiprobe(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_planes: int | str = N_PLANES,
) -> DataFrame:
    """Multi-probe sign-LSH top-k: :func:`probe_topk` where each query
    probes its own bucket plus every bucket at Hamming distance 1 (flip
    each of the n_planes sign bits) — the standard recall recovery for
    vectors that land near a hyperplane — and a candidate lives in its own
    bucket only. Recall improvement over single-probe is pytest-asserted
    against brute force. With ``n_planes="auto"`` the expected bucket
    population stays ≤ _TARGET_BUCKET_ROWS (at fixed planes, bucket
    population ∝ corpus and the per-bucket join output is O(Σ|bucket|²)),
    and the grid bounds every task however hot a bucket gets."""
    n_planes, rows = _lsh_keys(df, id_col, vec_col, n_planes)
    flips = [
        F.col("key").bitwiseXOR(F.lit(1 << p).cast("long")) for p in range(n_planes)
    ]
    q = rows.select(F.explode(F.array("key", *flips)).alias("key"), "query_id", "v")
    return probe_topk(q, rows, k)


def _dist2_matrix(vi: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """(rows, k) int64 squared distances to each centroid via the matmul
    identity ‖v-c‖² = ‖v‖² + ‖c‖² - 2v·c — O(rows·k) memory (no
    rows×k×dim tensor), exact in int64 at the 1e6 scale (|v·c| ≤
    dim·1e12 ≪ 2^63). argmin ties break to the LOWEST cid because
    np.argmin returns the first minimum and columns are in cid order."""
    v2 = np.einsum("rd,rd->r", vi, vi)[:, None]
    c2 = np.einsum("kd,kd->k", cents, cents)[None, :]
    return v2 + c2 - 2 * (vi @ cents.T)


def _nearest_centroid(cents: np.ndarray):
    """pandas UDF → struct(cid, d2k): each vector's nearest centroid by
    exact int64 dist² (ties → lowest cid, see :func:`_dist2_matrix`) and
    that dist² div 1000. Built per call: it closes over ``cents``."""

    @F.pandas_udf("struct<cid: int, d2k: long>")
    def nearest(vs: pd.Series) -> pd.DataFrame:
        d = _dist2_matrix(_to_int_matrix(vs), cents)
        cid = np.argmin(d, axis=1).astype("int32")
        return pd.DataFrame({"cid": cid, "d2k": d[np.arange(len(cid)), cid] // 1000})

    return nearest


def kmeans_lite(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
) -> np.ndarray:
    """Deterministic fixed-k centroids in exact scaled-int space, for IVF
    coarse quantization. Everything is reproducible cross-engine:

    - init: the k vectors with the smallest (h15(id), id) — a uniform
      deterministic sample (one k-row limit job, not a corpus collect);
    - each Lloyd iteration: nearest-centroid assignment (exact int64
      dist², ties → lowest cid) then centroid[d] = floor(Σ x_d / count)
      via Python's exact integer floor division. Per-Arrow-batch partial
      sums are computed map-side in numpy (one-hot.T @ X), so the shuffle
      per iteration is k rows per batch, and the driver only ever touches
      k×(dim+1) integers — metadata-scale, like AQE stats;
    - a centroid that loses every member keeps its previous position.

    Returns a (k, dim) int64 centroid matrix (cid = row index), (0, 0)
    for an empty corpus. The cost is iters+1 scans of the corpus with
    nothing but k·dim ints moving — the scale-safe replacement for round
    1's corpus-proportional id-mod centroid sample."""
    seeds = (
        df.select(F.col(id_col), F.col(vec_col))
        .withColumn("_hk", h15(F.col(id_col).cast("string")))
        .orderBy("_hk", F.col(id_col))
        .limit(k)
        .select(F.col(vec_col))
        .collect()
    )
    if not seeds:
        return np.zeros((0, 0), dtype=np.int64)
    cents = _to_int_matrix(pd.Series([r[0] for r in seeds]))
    dim = cents.shape[1]
    for _ in range(iters):
        frozen = cents.copy()

        def partial_sums(batches, _c=frozen, _k=len(frozen)):
            for pdf in batches:
                if not len(pdf):
                    continue
                vi = _to_int_matrix(pdf[vec_col])
                cid = np.argmin(_dist2_matrix(vi, _c), axis=1)
                onehot = np.zeros((len(vi), _k), dtype=np.int64)
                onehot[np.arange(len(vi)), cid] = 1
                sums = onehot.T @ vi  # (k, dim) exact int64
                yield pd.DataFrame(
                    {
                        "cid": np.arange(_k, dtype="int32"),
                        "cnt": onehot.sum(axis=0),
                        "sums": list(sums),
                    }
                )

        agg = (
            df.select(F.col(vec_col))
            .mapInPandas(partial_sums, "cid int, cnt long, sums array<long>")
            .groupBy("cid")
            .agg(
                F.sum("cnt").alias("n"),
                *[
                    F.sum(F.element_at("sums", i + 1)).alias(f"s{i}")
                    for i in range(dim)
                ],
            )
            .collect()  # ≤ k rows of ints — planning metadata, not data
        )
        nxt = cents.copy()
        for row in agg:
            if row["n"] and row["n"] > 0:
                nxt[row["cid"]] = [
                    int(row[f"s{i}"]) // int(row["n"]) for i in range(dim)
                ]
        cents = nxt
    return cents


def ivf_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_centroids: int = 8,
    iters: int = 2,
    nprobe: int = 2,
    query_mod: int = 100,
    k: int = 3,
) -> DataFrame:
    """IVF ANN with fixed-k kmeans-lite centroids and nprobe>1 (M5 scale
    path): :func:`probe_topk` where each candidate is assigned its
    nearest centroid's inverted list and each sampled query (id %
    query_mod = 0) probes its nprobe nearest lists, ranked by exact
    integer dot. k_centroids is a CONSTANT (raise it for bigger corpora —
    e.g. 4096 at 1e9 vectors so lists average n/k), which keeps every
    broadcast O(k·dim) — centroid count no longer grows with the corpus —
    and the grid splits any list that grows anyway, so no task holds more
    than ~2·_CHUNK_CAP rows. Entirely integer-exact and deterministically
    initialized, so the whole approximate pipeline hash-matches its SQL
    oracle."""
    cents = kmeans_lite(df, id_col, vec_col, k=k_centroids, iters=iters)

    @F.pandas_udf("array<int>")
    def nearest_lists(vs: pd.Series) -> pd.Series:
        d = _dist2_matrix(_to_int_matrix(vs), cents)
        # argsort is stable ⇒ ties break to the lowest cid, matching the
        # oracle's ORDER BY dist2, cid; entry 0 is the vector's own list
        order = np.argsort(d, axis=1, kind="stable")[:, :nprobe].astype("int32")
        return pd.Series(list(order))

    # one UDF pass for every grid consumer (the _lsh_keys checkpoint note)
    rows = df.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("v"),
        nearest_lists(F.col(vec_col)).alias("lists"),
    ).localCheckpoint(eager=True)
    cand = rows.select(F.col("lists")[0].alias("key"), "query_id", "v")
    q = rows.filter(F.col("query_id") % query_mod == 0).select(
        F.explode("lists").alias("key"), "query_id", "v"
    )
    return probe_topk(q, cand, k)


#: bounded evaluation/mining probe-set size for the brute-force kernels —
#: query_mod="auto" derives mod = max(1, n // target) so work stays
#: O(target · corpus), linear, at any scale
_EVAL_QUERY_TARGET = 400


def knn_loo_accuracy(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_mod: int | str | None = "auto",
) -> DataFrame:
    """Leave-one-out 1-NN label agreement per class — the embedding-quality
    probe an LLM pipeline runs on a new encoder before trusting its
    nearest-neighbor dedup/search output (a label-coherent space puts
    same-class vectors nearest each other).

    Composition, not new machinery: exact neighbors come from
    :func:`brute_force_topk` (k=1, self excluded, id tie-break), then two
    broadcast label joins and a per-class aggregate. The accuracy estimate
    only needs a SAMPLE of evaluation points — ``query_mod`` keeps the
    broadcast query side deterministic and bounded (the crossJoin's Arrow
    volume is |queries|·|corpus|, so an unsampled query side is quadratic);
    the candidate side is always the full corpus.

    Output: (label, n, n_correct, acc_x1000) — integers only.

    ``query_mod="auto"`` derives the modulus from the corpus count so the
    evaluation set stays ~:data:`_EVAL_QUERY_TARGET` queries at ANY scale
    — a FIXED modulus makes |queries| ∝ corpus and the pair volume
    quadratic (the ann_recall_at_k lesson; the sf1 suite measured 78×
    at 10× rows on the fixed-mod form). "auto" is the DEFAULT (r6 ADVICE
    fix): brute_force_topk collects its query side to the driver, so a
    None default would collect the entire corpus — every registry caller
    already passed "auto"; pass ``query_mod=None`` only for corpora you
    know are driver-sized.
    """
    if query_mod == "auto":
        query_mod = max(1, int(df.count()) // _EVAL_QUERY_TARGET)
    q = df if query_mod is None else df.filter(F.col(id_col) % query_mod == 0)
    nn = brute_force_topk(q, df, id_col=id_col, vec_col=vec_col, k=1)
    labels = df.select(F.col(id_col), F.col(label_col))
    pred = (
        nn.join(
            F.broadcast(
                labels.select(
                    F.col(id_col).alias("query_id"),
                    F.col(label_col).alias("true_label"),
                )
            ),
            "query_id",
        )
        .join(
            F.broadcast(
                labels.select(
                    F.col(id_col).alias("cand_id"),
                    F.col(label_col).alias("pred_label"),
                )
            ),
            "cand_id",
        )
    )
    return (
        pred.groupBy(F.col("true_label").alias("label"))
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0)
            ).alias("n_correct"),
        )
        .withColumn(
            "acc_x1000",
            F.floor(1000 * F.col("n_correct") / F.col("n")).cast("long"),
        )
    )


def hard_negatives(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_mod: int | str | None = 10,
    k: int = 3,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each sampled
    query vector, the top-k most-similar corpus vectors whose LABEL
    differs — the negatives a contrastive loss learns the most from
    (easy negatives are already far away; hard ones sit near the
    decision boundary).

    Same exact kernel shape as :func:`brute_force_topk`: the sampled query
    side (id, label, vector) is collected to a driver-side int64 matrix
    and closed over a ``mapInPandas`` corpus scan — one BLAS matmul per
    Arrow batch, cross-label mask applied BEFORE the per-batch partial
    top-k (so k survivors per batch are guaranteed hard), final window
    rank over batches·|q|·k partials, tie-broken on candidate id.
    ``query_mod`` bounds the collected side exactly as in
    knn_loo_accuracy — per-batch work is |queries|·batch, linear in the
    corpus for a bounded sample, and the corpus vectors cross Arrow once.

    Output: (query_id, query_label, cand_id, neg_label, dot_scaled, rnk)
    — integers only (vectors are ×1e6 int-quantized inside the dot).

    ``query_mod="auto"`` bounds the mined-query set at
    ~:data:`_EVAL_QUERY_TARGET` via a corpus-derived modulus (the
    knn_loo_accuracy note — fixed mod ⇒ quadratic pair volume).
    Production mining over EVERY query replaces this brute-force kernel
    with the banded LSH candidate generator (cosine_threshold_pairs_banded
    / lsh_topk) and keeps per-query work index-bounded.
    """
    if query_mod == "auto":
        query_mod = max(1, int(df.count()) // _EVAL_QUERY_TARGET)
    q = df if query_mod is None else df.filter(F.col(id_col) % query_mod == 0)
    (qids, qlabels), qmat = _collect_query_matrix(
        q.withColumn(label_col, F.col(label_col).cast("long")),
        [id_col, label_col],
        vec_col,
    )
    c = df.select(
        F.col(id_col).alias("cand_id"),
        F.col(label_col).cast("long").alias("neg_label"),
        F.col(vec_col).alias("cv"),
    )

    def partial(it):
        for pdf in it:
            if not len(pdf) or not len(qids):
                continue
            cids = pdf["cand_id"].to_numpy()
            clabels = pdf["neg_label"].to_numpy()
            dots = qmat @ _to_int_matrix(pdf["cv"]).T  # |q| × batch, exact int64
            same = qlabels[:, None] == clabels[None, :]
            r, ci = _partial_topk(dots, cids, k, same)
            yield pd.DataFrame(
                {
                    "query_id": qids[r],
                    "query_label": qlabels[r],
                    "cand_id": cids[ci],
                    "neg_label": clabels[ci],
                    "dot_scaled": dots[r, ci],
                }
            )

    scored = c.mapInPandas(
        partial,
        "query_id long, query_label long, cand_id long, "
        "neg_label long, dot_scaled long",
    )
    return _rank_close(scored, k, [F.desc("dot_scaled"), F.asc("cand_id")])


def gram_matrix(
    df: DataFrame, vec_col: str = "embedding", dim: int | None = None
) -> DataFrame:
    """Distributed Gram matrix Σ v·vᵀ over an embedding column, in exact
    scaled-int64 arithmetic — the one-pass sufficient statistic behind PCA /
    whitening / covariance of a 100 TB embedding table.

    Physical shape: ``mapInPandas`` accumulates a dim×dim partial per
    PARTITION (numpy outer-product accumulation at C speed), emits only the
    upper triangle of that partial — dim(dim+1)/2 rows per partition,
    independent of row count — and a final dim²-key groupBy sums partials.
    Nothing corpus-sized ever shuffles; the result is planning-metadata
    sized. Eigen-decomposition of the dim×dim result is driver-side numpy
    (see ml tests) — the distributed part is exactly the part that scales.

    Output: (i, j, g) for 0 ≤ i ≤ j < dim, g = Σ round(1e6·v_i)·round(1e6·v_j).
    Integer sums are order-independent, so the result hash-matches a SQL
    oracle computing the same products pairwise.
    """
    import pyarrow  # noqa: F401  (Arrow batches back the iterator)

    def partial_grams(batches):
        acc: np.ndarray | None = None
        for pdf in batches:
            m = _to_int_matrix(pdf[vec_col])
            # object dtype would silently wrap at int64 only past ~4e18;
            # components are ≤1e6-scaled unit values so products fit easily
            g = m.T @ m
            acc = g if acc is None else acc + g
        if acc is None:
            return
        d = acc.shape[0]
        iu = np.triu_indices(d)
        yield pd.DataFrame(
            {"i": iu[0].astype("int64"), "j": iu[1].astype("int64"), "g": acc[iu]}
        )

    partials = df.select(vec_col).mapInPandas(
        partial_grams, "i long, j long, g long"
    )
    return partials.groupBy("i", "j").agg(F.sum("g").alias("g"))


def kmeans_profile(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
) -> DataFrame:
    """Corpus clustering profile: kmeans-lite centroids (deterministic,
    exact-integer Lloyd — see :func:`kmeans_lite`), then one Arrow pass
    assigns every vector and emits per-cluster size and inertia
    (Σ ‖v−c‖² div 1000 — the div keeps the int64 sum far from overflow at
    10⁹ vectors). The output is k rows: the corpus-organization summary a
    mixture-balancing / curriculum pass reads (cluster sizes feed
    sampling weights; inertia tracks clustering quality across corpus
    versions). Nothing but (cid, dist2) ever shuffles — the profile is a
    map-side partial aggregate over the assignment pass."""
    cents = kmeans_lite(df, id_col, vec_col, k=k, iters=iters)
    assigned = df.select(_nearest_centroid(cents)(F.col(vec_col)).alias("a"))
    return (
        assigned.groupBy(F.col("a.cid").alias("cid"))
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.sum("a.d2k").cast("long").alias("inertia_k"),
        )
        .select(F.col("cid").cast("long").alias("cid"), "n_vecs", "inertia_k")
    )


def pq_profile(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 16,
    iters: int = 1,
) -> DataFrame:
    """Product-quantization codebook training + encode-distortion profile —
    the PQ leg of the ANN family (IVF-PQ's fine quantizer): the embedding
    splits into ``m`` contiguous subspaces, each trained with the
    deterministic integer kmeans-lite (:func:`kmeans_lite` — h15-seeded
    init, exact integer Lloyd), and every vector's subvector is encoded to
    its nearest codeword (exact int64 dist², ties → lowest code). Output:
    one row per (subspace, code) with member count and quantization
    distortion (Σ ‖subv − codeword‖² div 1000) — the codebook-quality
    report that decides m/k before committing a 100 TB encode.

    Scale: codebooks are m·k·(dim/m) driver-side ints (planning metadata);
    training is iters+1 scans per subspace with only k rows/batch
    shuffling; the encode profile is one scan per subspace aggregating
    map-side. Fully deterministic ⇒ the unrolled-SQL oracle hash-checks
    even the trained codebooks. An empty frame gives no rows."""
    first = df.select(vec_col).limit(1).collect()
    if not first:
        return df.sparkSession.createDataFrame(
            [], "subspace long, code long, n_vecs long, distortion_k long"
        )
    dim = len(first[0][0])
    if dim % m != 0:
        raise ValueError(f"pq_profile: dim {dim} not divisible by m {m}")
    width = dim // m
    out: DataFrame | None = None
    for s in range(m):
        sub = df.select(
            F.col(id_col),
            F.slice(F.col(vec_col), s * width + 1, width).alias("_subv"),
        )
        prof = kmeans_profile(sub, id_col, "_subv", k=k, iters=iters).select(
            F.lit(s).cast("long").alias("subspace"),
            F.col("cid").alias("code"),
            "n_vecs",
            F.col("inertia_k").alias("distortion_k"),
        )
        out = prof if out is None else out.unionByName(prof)
    return out


def pq_adc_recall(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    k_codes: int = 16,
    iters: int = 1,
    k: int = 3,
) -> DataFrame:
    """Recall@k of PQ asymmetric-distance search vs exact search — the
    accuracy contract a team measures before replacing exact vectors with
    PQ codes at 100 TB. Per-subspace codebooks come from the deterministic
    integer kmeans-lite; every corpus vector is encoded (nearest codeword,
    ties → lowest code); each of a BOUNDED query set (id % qmod = 0 with
    qmod = max(1, n div 80) — the ann_topk_bruteforce convention) ranks the
    corpus by ADC (Σ_s dist²(q_s, codeword(code_s)), an (m × k_codes) LUT
    gather) and by exact int64 dist², both self-excluded, ties → lowest
    cand. Output: one row (n_queries, hits, recall_x1000).

    Scale: the query LUT is nq·m·k_codes ints broadcast in the task
    closure; one corpus scan computes codes + ADC + exact scores per Arrow
    batch and emits only per-batch top-k rows per (metric, query) —
    shuffle ∝ nq·k·batches, never the corpus. An empty query set gives
    (0, 0, 0)."""
    qmod = max(1, df.count() // 80)
    (q_ids,), q_mat = _collect_query_matrix(
        df.filter(F.col(id_col) % qmod == 0), [id_col], vec_col
    )
    nq = len(q_ids)
    if not nq:
        return df.sparkSession.createDataFrame(
            [(0, 0, 0)], "n_queries long, hits long, recall_x1000 long"
        )
    dim = q_mat.shape[1]
    if dim % m != 0:
        raise ValueError(f"pq_adc_recall: dim {dim} not divisible by m {m}")
    width = dim // m
    books = [
        kmeans_lite(
            df.select(
                F.col(id_col),
                F.slice(F.col(vec_col), s * width + 1, width).alias("_subv"),
            ),
            id_col,
            "_subv",
            k=k_codes,
            iters=iters,
        )
        for s in range(m)
    ]
    # LUT[s]: (nq, k_codes) exact int64 dist² from each query's subvector
    lut = [
        _dist2_matrix(q_mat[:, s * width : (s + 1) * width], books[s])
        for s in range(m)
    ]

    def scan(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            vi = _to_int_matrix(pdf[vec_col])
            ids = pdf[id_col].to_numpy()
            adc = np.zeros((nq, len(vi)), dtype=np.int64)
            for s in range(m):
                sub = vi[:, s * width : (s + 1) * width]
                codes = np.argmin(_dist2_matrix(sub, books[s]), axis=1)
                adc += lut[s][:, codes]
            exact = _dist2_matrix(q_mat, vi)
            self_mask = q_ids[:, None] == ids[None, :]
            for kind, metric in (("adc", adc), ("exact", exact)):
                # per-batch partial top-k per query: metric asc, ties →
                # lowest cand id
                r, c = _partial_topk(-metric, ids, k, self_mask)
                yield pd.DataFrame(
                    {
                        "kind": kind,
                        "query_id": q_ids[r],
                        "cand_id": ids[c],
                        "metric": metric[r, c],
                    }
                )

    cand = df.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        scan, "kind string, query_id long, cand_id long, metric long"
    )
    topk = _rank_close(
        cand, k, [F.asc("metric"), F.asc("cand_id")], by=("kind", "query_id")
    )
    ann = topk.filter(F.col("kind") == "adc").select("query_id", "cand_id")
    ex = topk.filter(F.col("kind") == "exact").select("query_id", "cand_id")
    hits = ann.join(ex, ["query_id", "cand_id"]).agg(
        F.count("*").cast("long").alias("hits")
    )
    return hits.select(
        F.lit(nq).cast("long").alias("n_queries"),
        "hits",
        F.expr(f"(1000 * hits) div {max(nq * k, 1)}")
        .cast("long")
        .alias("recall_x1000"),
    )


def ivfpq_adc_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_coarse: int = 8,
    coarse_iters: int = 2,
    nprobe: int = 2,
    m: int = 4,
    k_codes: int = 16,
    pq_iters: int = 1,
    k: int = 3,
) -> DataFrame:
    """IVF-PQ ANN — the billion-scale architecture (FAISS IVFPQ, Jégou et
    al. 2011, public) composed from this engine's two proven quantizers:
    a fixed-``k_coarse`` full-dimension kmeans-lite partitions the corpus
    into inverted lists, per-subspace PQ codebooks compress every vector
    to ``m`` small codes, and each BOUNDED query (id % qmod = 0, qmod =
    max(1, n div 80) — the pq_adc_recall convention) scans only its
    ``nprobe`` nearest lists, ranked by asymmetric distance (Σ_s
    LUT_s[query, code_s], exact int64). Output: (query_id, cand_id,
    adc_dist, rnk) top-k rows, ties → lowest cand.

    This variant quantizes RAW subvectors (no residual encoding), keeping
    every stage integer-exact and hash-checkable; production residual
    PQ is one subtraction before the same encode.

    Scale: ONE corpus scan emits (cand_id, list cid, m codes) — the
    vectors themselves never shuffle again; the probe table (nq·nprobe
    rows) and the m LUT tables (nq·k_codes rows each) broadcast, so
    candidate generation is a map-side join and the only exchange is the
    per-query top-k over nq·(n·nprobe/k_coarse) candidate rows. Codebooks
    and centroids are driver-side planning metadata (k_coarse·dim +
    m·k_codes·dim ints), constant in the corpus. An empty query set gives
    no rows."""
    qmod = max(1, df.count() // 80)
    # bounded query-side planning tables (the documented collect pattern)
    (q_ids,), q_mat = _collect_query_matrix(
        df.filter(F.col(id_col) % qmod == 0), [id_col], vec_col
    )
    spark = df.sparkSession
    if not len(q_ids):
        return spark.createDataFrame(
            [], "query_id long, cand_id long, adc_dist long, rnk long"
        )
    dim = q_mat.shape[1]
    if dim % m != 0:
        raise ValueError(f"ivfpq_adc_topk: dim {dim} not divisible by m {m}")
    width = dim // m
    coarse = kmeans_lite(df, id_col, vec_col, k=k_coarse, iters=coarse_iters)
    books = [
        kmeans_lite(
            df.select(
                F.col(id_col),
                F.slice(F.col(vec_col), s * width + 1, width).alias("_subv"),
            ),
            id_col,
            "_subv",
            k=k_codes,
            iters=pq_iters,
        )
        for s in range(m)
    ]

    code_cols = [f"code_{s}" for s in range(m)]
    enc_schema = f"cand_id long, cid int, " + ", ".join(
        f"{c} int" for c in code_cols
    )

    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            vi = _to_int_matrix(pdf[vec_col])
            out = {
                "cand_id": pdf[id_col].to_numpy(),
                "cid": np.argmin(_dist2_matrix(vi, coarse), axis=1).astype(
                    "int32"
                ),
            }
            for s in range(m):
                sub = vi[:, s * width : (s + 1) * width]
                out[code_cols[s]] = np.argmin(
                    _dist2_matrix(sub, books[s]), axis=1
                ).astype("int32")
            yield pd.DataFrame(out)

    cand = df.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        encode, enc_schema
    )

    dprobe = _dist2_matrix(q_mat, coarse)
    order = np.argsort(dprobe, axis=1, kind="stable")[:, :nprobe]
    probe_df = spark.createDataFrame(
        [
            (int(q_ids[qi]), int(cid))
            for qi in range(len(q_ids))
            for cid in order[qi]
        ],
        "query_id long, cid int",
    )
    scored = cand.join(F.broadcast(probe_df), "cid").filter(
        F.col("cand_id") != F.col("query_id")
    )
    adc_terms = []
    for s in range(m):
        lut = _dist2_matrix(q_mat[:, s * width : (s + 1) * width], books[s])
        lut_df = spark.createDataFrame(
            [
                (int(q_ids[qi]), int(c), int(lut[qi, c]))
                for qi in range(len(q_ids))
                for c in range(k_codes)
            ],
            f"query_id long, {code_cols[s]} int, d_{s} long",
        )
        scored = scored.join(
            F.broadcast(lut_df), ["query_id", code_cols[s]]
        )
        adc_terms.append(F.col(f"d_{s}"))
    adc = sum(adc_terms[1:], adc_terms[0]).cast("long")
    return _rank_close(
        scored.withColumn("adc_dist", adc), k, [F.asc("adc_dist"), F.asc("cand_id")]
    ).select("query_id", "cand_id", "adc_dist", "rnk")


def jl_project(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_out: int = 8,
) -> DataFrame:
    """Johnson–Lindenstrauss random projection dim→n_out — the
    dimensionality-reduction step before a cheaper ANN index or a
    storage-diet rewrite of a 100 TB embedding column. ±1 signs make it
    exact in int64 (proj_j = Σᵢ round(xᵢ·1e6)·sign(j,i); 64-dim inputs ⇒
    |proj| ≤ 6.4e7·dim, far from overflow). Purely narrow: one Arrow-batch
    int64 matmul per partition, no shuffle — a scan-shaped rewrite at any
    corpus size. The database-friendly ±1 matrix (Achlioptas 2001) is
    :func:`_sign_matrix` with prefix "jl:", so the SQL oracle reproduces it
    bit-for-bit."""

    @F.pandas_udf("array<long>")
    def proj(vs: pd.Series) -> pd.Series:
        vi = _to_int_matrix(vs)
        m = _sign_matrix(n_out, vi.shape[1], prefix="jl:")
        return pd.Series(list(vi @ m.T))

    return df.select(F.col(id_col), proj(F.col(vec_col)).alias("proj"))


_SEMDEDUP_TARGET_CLUSTER_ROWS = 256


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int | str = "auto",
    iters: int = 2,
    threshold_scaled: int = 400_000_000_000,
    target_cluster_rows: int = _SEMDEDUP_TARGET_CLUSTER_ROWS,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public):
    cluster the corpus with the deterministic integer kmeans-lite, then
    WITHIN each cluster drop any vector whose scaled-int dot with a
    lower-id cluster-mate reaches the threshold — keep-first dominance,
    exactly the rule doc_line_dedup uses for text. Cross-cluster near-dups
    are deliberately not compared (that is SemDeDup's design: k scales
    with the corpus so cluster populations stay bounded, making the
    within-cluster pairwise pass ~n·(n/k) total work and the shuffle an
    equi-join on cid). Output: one row per vector — (id, cid, kept).

    ``k="auto"`` derives k = max(8, ⌈n/target_cluster_rows⌉) — the sf1
    probe measured the k-pinned version superlinear (exponent 1.69: 10×
    rows ⇒ 10× cluster population ⇒ 100× pairwise work) and auto-k
    restores ~n·target total dot products. The count is one columnar scan;
    the assignment pass is n·k int64 dots — at extreme corpus sizes swap
    it for the IVF coarse-probe, the dominance join is unchanged."""
    if k == "auto":
        n = df.count()
        k = max(8, (int(n) + target_cluster_rows - 1) // target_cluster_rows)
    cents = kmeans_lite(df, id_col, vec_col, k=k, iters=iters)
    iv = F.transform(
        F.col(vec_col).cast("array<double>"),
        lambda x: F.round(x * 1_000_000).cast("long"),
    )
    base = df.select(
        F.col(id_col).alias("vid"),
        _nearest_centroid(cents)(F.col(vec_col)).cid.alias("cid"),
        iv.alias("iv"),
    )
    a = base.select("cid", F.col("vid").alias("id_a"), F.col("iv").alias("iv_a"))
    b = base.select("cid", F.col("vid").alias("id_b"), F.col("iv").alias("iv_b"))
    dot = F.aggregate(
        F.zip_with("iv_a", "iv_b", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    dropped = (
        a.join(b, "cid")
        .where(F.col("id_a") < F.col("id_b"))
        .where(dot >= F.lit(int(threshold_scaled)))
        .select(F.col("id_b").alias("vid"))
        .distinct()
        .withColumn("_drop", F.lit(True))
    )
    return (
        base.join(dropped, "vid", "left")
        .select(
            F.col("vid").alias(id_col),
            F.col("cid").cast("long").alias("cid"),
            F.coalesce(~F.col("_drop"), F.lit(True)).alias("kept"),
        )
    )


def knn_shapley_values(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
    scale: int = 10**9,
    query_target: int = 100,
) -> DataFrame:
    """Exact KNN-Shapley data valuation (Jia et al., VLDB 2019 — public):
    the Shapley value of each TRAINING point for a KNN classifier has the
    closed form s_(N) = y_(N)/N, s_(i) = s_(i+1) + (y_(i) − y_(i+1)) /
    max(K, i) over the per-test-point distance ranking, so the O(2^N)
    game collapses to a rank + suffix scan. Scores quantize per term as
    (y_i − y_{i+1})·(scale // max(K, i)) — integer flooring BEFORE the
    suffix sum, so both engines sum identical int64 terms in any order.

    The test probe is corpus-derived-modulus bounded (~``query_target``
    points, never fewer than a 1-in-2 split so the train side is always
    non-empty); the train side is everything else. The probe matrix closes
    over a ``mapInPandas`` corpus scan emitting ALL |probe|×batch scored
    pairs — unlike :func:`brute_force_topk` no top-k cut applies, because
    the recursion consumes the FULL ranking. Per-test rank+suffix-sum is
    the algorithmic floor: exact KNN-Shapley is Ω(n) per test point, and
    the window partitions by test point (bounded count), so the plan is
    |probe|·n rows end to end — linear in the corpus with a fixed probe
    constant. Returns (vec_id, label, shapley_x1e9) summed over the probe.
    """
    n = int(df.count())
    m = max(2, n // query_target)
    q = df.filter(F.col(id_col) % m == 0)
    t = df.filter(F.col(id_col) % m != 0)
    (qids, qlabels), qmat = _collect_query_matrix(q, [id_col, label_col], vec_col)
    n_train = n - len(qids)
    c = t.select(
        F.col(id_col).alias("cand_id"),
        F.col(label_col).cast("long").alias("cand_label"),
        F.col(vec_col).alias("cv"),
    )

    def partial(it):
        for pdf in it:
            if not len(pdf) or not len(qids):
                continue
            ci = _to_int_matrix(pdf["cv"])
            cids = pdf["cand_id"].to_numpy()
            clab = pdf["cand_label"].to_numpy()
            dots = qmat @ ci.T  # |q| × batch, exact int64
            nq, nb = dots.shape
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids, nb),
                    "cand_id": np.tile(cids, nq),
                    "cand_label": np.tile(clab, nq),
                    "y": (np.repeat(qlabels, nb) == np.tile(clab, nq)).astype(
                        np.int64
                    ),
                    "dot_scaled": dots.ravel(),
                }
            ).astype("int64")

    pairs = c.mapInPandas(
        partial,
        "query_id long, cand_id long, cand_label long, y long, dot_scaled long",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("dot_scaled"), F.asc("cand_id")
    )
    r = pairs.select(
        "query_id",
        "cand_id",
        "cand_label",
        "y",
        F.row_number().over(w).cast("long").alias("rnk"),
        F.lead("y").over(w).alias("ynext"),
    )
    term = F.when(
        F.col("rnk") == n_train, F.col("y") * F.lit(scale // n_train)
    ).otherwise(
        (F.col("y") - F.col("ynext"))
        * F.expr(f"CAST({scale} AS BIGINT) div greatest(CAST({k} AS BIGINT), rnk)")
    )
    # Suffix sum as a RUNNING sum over descending rank: Spark's
    # unbounded-FOLLOWING frame recomputes the aggregate per row (O(n²)
    # per partition in UnboundedFollowingWindowFunctionFrame); the
    # unbounded-PRECEDING frame is a single O(n) accumulator pass.
    ws = (
        Window.partitionBy("query_id")
        .orderBy(F.desc("rnk"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sv = r.select(
        "cand_id", "cand_label", F.sum(term).over(ws).cast("long").alias("s")
    )
    return sv.groupBy(
        F.col("cand_id").alias(id_col), F.col("cand_label").alias(label_col)
    ).agg(F.sum("s").cast("long").alias("shapley_x1e9"))


def mmr_diversified_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_target: int = 50,
    n_candidates: int = 20,
    k: int = 5,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein, SIGIR
    1998 — public): greedily pick k results per query maximizing
    λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s). At λ=½ the argmax is
    invariant under ×2, so the selection criterion is the pure-integer
    ``rel − maxsim`` — no float crosses the plan. The diversified-retrieval
    op a RAG stack runs between ANN recall and context assembly so the k
    passages aren't near-duplicates of each other.

    Shape: bounded probe (corpus-derived modulus, ~``query_target``
    queries) → exact ``brute_force_topk`` relevance candidates with their
    vectors → ONE ``applyInPandas`` over query_id running the whole greedy
    loop in-group: the candidate set is ≤ n_candidates rows, so the
    n_candidates² sim matrix is one tiny int64 matmul and the k rounds are
    numpy argmax over ≤20 elements. A DataFrame-level unrolled variant
    (anti-join ⋈ max-sim ⋈ window-pick per round) was measured at ~19 s of
    fixed overhead at ANY scale — 4 rounds × (2 shuffles + an eager
    checkpoint); the grouped form is one shuffle after candidate
    generation and is corpus-independent past that point.

    Output: (query_id, step, cand_id, mmr_score) — mmr_score is the
    scaled-int criterion at pick time (step 1: rel; later: rel − maxsim).
    """
    n = int(df.count())
    m = max(2, n // query_target)
    probe = df.filter(F.col(id_col) % m == 0)
    corpus = df.filter(F.col(id_col) % m != 0)
    vecs = corpus.select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cv"))
    cand_v = (
        brute_force_topk(
            probe, corpus, id_col=id_col, vec_col=vec_col, k=n_candidates
        )
        .select("query_id", "cand_id", F.col("dot_scaled").alias("rel"))
        .join(vecs, "cand_id")
    )

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["cand_id"]).reset_index(drop=True)
        qid = int(pdf["query_id"].iloc[0])
        cids = pdf["cand_id"].to_numpy()
        rel = pdf["rel"].to_numpy()
        mat = _to_int_matrix(pdf["cv"])
        sims = mat @ mat.T  # n_cand × n_cand, exact int64
        n_c = len(cids)
        picked: list[int] = []
        out_step, out_cid, out_score = [], [], []
        remaining = np.ones(n_c, dtype=bool)
        for step in range(1, min(k, n_c) + 1):
            if step == 1:
                score = rel.copy()
            else:
                score = rel - sims[:, picked].max(axis=1)
            score_m = np.where(remaining, score, np.iinfo(np.int64).min)
            # argmax with cand_id tie-break: ids are ascending, and
            # np.argmax returns the FIRST max — exactly the smallest id.
            best = int(np.argmax(score_m))
            picked.append(best)
            remaining[best] = False
            out_step.append(step)
            out_cid.append(int(cids[best]))
            out_score.append(int(score_m[best]))
        return pd.DataFrame(
            {
                "query_id": np.full(len(out_step), qid, dtype=np.int64),
                "step": np.array(out_step, dtype=np.int64),
                "cand_id": np.array(out_cid, dtype=np.int64),
                "mmr_score": np.array(out_score, dtype=np.int64),
            }
        )

    return cand_v.groupBy("query_id").applyInPandas(
        greedy, "query_id long, step long, cand_id long, mmr_score long"
    )


def kcenter_greedy(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez 1985 farthest-first
    traversal — public; the 2-approximation behind coreset-based active
    learning / diverse-prototype curation, e.g. Sener & Savarese 2018):
    seed with the min-id point, then k−1 rounds of "pick the point whose
    distance to its NEAREST selected center is largest". Returns the
    selected prototypes plus the final coverage radius — the objective a
    curation pipeline minimizes when choosing a small diverse subset to
    label or to seed clustering.

    Each round is one corpus scan: a pandas batch computes exact int64
    min-squared-distance to the ≤k centers broadcast as a closed-over
    numpy matrix (the kmeans_lite kernel shape), and the round's argmax
    is a TakeOrdered(1) under the total order (−min_dist, id) — k·scan
    total work, no corpus-sized state, centers are metadata-sized driver
    rows (bounded k, the broadcast-variable shape). All distances are
    exact scaled-int64 (‖·‖² ≤ dim·(2·1e6)² ≪ 2^63).

    Output: (step, center_id, radius2) — radius2 is the selected point's
    min-distance at pick time (step 1: 0 by convention); a final row
    (step k+1, center_id −1) carries the k-center objective max-min
    radius over the whole corpus.
    """
    base = df.select(F.col(id_col).alias("pid"), F.col(vec_col).alias("pv"))
    first = base.orderBy("pid").limit(1).collect()[0]
    centers = [(int(first["pid"]), list(first["pv"]))]
    out_rows = [(1, centers[0][0], 0)]

    def min_dist_col(cent_rows):
        cmat = _to_int_matrix(pd.Series([c[1] for c in cent_rows]))

        @F.pandas_udf("long")
        def md(v: pd.Series) -> pd.Series:
            vi = _to_int_matrix(v)
            return pd.Series(_dist2_matrix(vi, cmat).min(axis=1))

        return md

    for step in range(2, k + 1):
        scored = base.withColumn("md", min_dist_col(centers)("pv"))
        pick = scored.orderBy(F.desc("md"), F.asc("pid")).limit(1).collect()[0]
        centers.append((int(pick["pid"]), list(pick["pv"])))
        out_rows.append((step, int(pick["pid"]), int(pick["md"])))
    final = (
        base.withColumn("md", min_dist_col(centers)("pv"))
        .agg(F.max("md").alias("r"))
        .collect()[0]["r"]
    )
    out_rows.append((k + 1, -1, int(final)))
    spark = df.sparkSession
    return spark.createDataFrame(
        out_rows, "step long, center_id long, radius2 long"
    )


def _q8(series: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """Per-vector max-abs INT8 codes (half-away-from-zero, an all-zero
    vector codes to 0) plus the vector's scale round(1e6·maxabs)."""
    m = np.stack(series.to_numpy()).astype(np.float64)
    ma = np.abs(m).max(axis=1)
    safe = np.where(ma == 0, 1.0, ma)
    scaled = 127.0 * m / safe[:, None]
    q = (np.sign(scaled) * np.floor(np.abs(scaled) + 0.5)).astype(np.int64)
    q[ma == 0] = 0
    ms = np.floor(np.abs(1_000_000 * ma) + 0.5).astype(np.int64)
    return q, ms


def int8_brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Top-k under per-vector max-abs INT8 quantization — the ranking an
    ANN index actually serves after the embedding_quantize_int8 storage
    diet. Score key = (q_a·q_b)·round(1e6·maxabs_b): the dequantized dot
    is q_a·q_b·(maxabs_a/127)(maxabs_b/127); the query's scale is
    constant per ranking so it drops, and the candidate's scale is
    quantized to an int so the key is exact int64 (|q·q| ≤ dim·127²,
    ×1e6·maxabs ≪ 2^63) — bit-identical cross-engine, ranked by
    :func:`_scan_topk` like :func:`brute_force_topk`.
    """

    def key8(qmat: np.ndarray, cv: pd.Series) -> np.ndarray:
        ci, ms = _q8(cv)
        return (qmat @ ci.T) * ms[None, :]  # |q| × batch, exact int64

    return _scan_topk(
        queries, corpus, id_col, vec_col, k, key8, lambda s: _q8(s)[0]
    ).withColumnRenamed("score", "key8")


def euclidean_bottom2(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """For each bounded-probe query the TWO nearest corpus vectors by
    exact squared euclidean distance (scaled-int64, ties on cand_id) —
    the kernel under the TwoNN intrinsic-dimension estimator:
    :func:`_scan_topk` with score −d², so its order (score desc, cand_id)
    is the min-side order (d², cand_id)."""
    return _scan_topk(
        queries,
        corpus,
        id_col,
        vec_col,
        2,
        lambda qmat, cv: -_dist2_matrix(qmat, _to_int_matrix(cv)),
    ).select("query_id", "cand_id", (-F.col("score")).alias("dist2"), "rnk")
