"""Text/dedup/similarity operator properties beyond the oracle gate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from videos_to_tfrecords_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_dedup_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from videos_to_tfrecords_spark.operators.similarity import brute_force_topk, lsh_topk
from videos_to_tfrecords_spark.operators.text import with_fingerprint, with_lang_id
from videos_to_tfrecords_spark.sources.tables import load_table


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(spark):
    df = _docs(spark, [(1, "a b c"), (2, "a b c"), (3, "x y z")])
    out = {r.doc_id: r for r in exact_dedup(df).collect()}
    assert out[1].canonical_id == 1 and not out[1].is_duplicate
    assert out[2].canonical_id == 1 and out[2].is_duplicate
    assert out[3].canonical_id == 3 and not out[3].is_duplicate


def test_fingerprint_is_order_sensitive(spark):
    df = _docs(spark, [(1, "a b c"), (2, "c b a"), (3, "a b c")])
    fp = {r.doc_id: r.fingerprint for r in with_fingerprint(df).collect()}
    assert fp[1] == fp[3]
    assert fp[1] != fp[2]


def test_lang_id_markers(spark):
    df = _docs(
        spark,
        [
            (1, "the cat and the hat of doom"),
            (2, "der hund und die katze und der vogel"),
            (3, "zzz qqq www"),
        ],
    )
    out = {r.doc_id: r.lang_pred for r in with_lang_id(df).collect()}
    assert out[1] == "en" and out[2] == "de" and out[3] == "und"


def test_minhash_lsh_finds_planted_near_dups(spark):
    base = "w%d " * 30 % tuple(range(30))
    near = base.replace("w7 ", "w7x ")  # one-token edit → J still high
    far = "q%d " * 30 % tuple(range(100, 130))
    df = _docs(spark, [(1, base.strip()), (2, near.strip()), (3, far.strip())])
    pairs = {(r.id_a, r.id_b) for r in minhash_lsh_dedup_pairs(df, threshold_x1000=500).collect()}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)
    # LSH agrees with the exact inverted-index path at this threshold
    exact = {(r.id_a, r.id_b) for r in ngram_jaccard_pairs(df, threshold_x1000=500).collect()}
    assert pairs == exact


def test_lsh_three_paths_agree_on_clear_corpus(spark):
    """The portable-signature LSH (hash-checked), the map-side fast-hash
    LSH (rows-only), and the lossless exact path must emit the SAME pair
    set when the corpus has no near-threshold pairs (r9: the paths are
    only allowed to diverge through banding recall, which both LSH
    variants' docstrings bound — on planted J≈0.9 dups vs J≈0 background
    any divergence is a bug, not recall)."""
    from videos_to_tfrecords_spark.operators.dedup import (
        minhash_lsh_dedup_pairs_portable,
    )

    rows = []
    for d in range(12):
        base = " ".join(f"t{d}_{i}" for i in range(25))
        rows.append((2 * d, base))
        rows.append((2 * d + 1, base.replace(f"t{d}_7", f"t{d}_7x")))
    df = _docs(spark, rows)
    exact = {
        (r.id_a, r.id_b, r.j_x1000)
        for r in ngram_jaccard_pairs(df, threshold_x1000=500).collect()
    }
    mapside = {
        (r.id_a, r.id_b, r.j_x1000)
        for r in minhash_lsh_dedup_pairs(df, threshold_x1000=500).collect()
    }
    portable = {
        (r.id_a, r.id_b, r.j_x1000)
        for r in minhash_lsh_dedup_pairs_portable(df, threshold_x1000=500).collect()
    }
    assert len(exact) == 12  # one planted pair per family
    assert mapside == exact
    assert portable == exact


def test_simhash_near_dups_close(spark):
    base = "w%d " * 40 % tuple(range(40))
    near = base.replace("w7 ", "w7x ")
    far = "q%d " * 40 % tuple(range(100, 140))
    df = _docs(spark, [(1, base.strip()), (2, near.strip()), (3, far.strip())])
    sh = {r.doc_id: r.simhash for r in simhash(df).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(sh[1], sh[2]) < ham(sh[1], sh[3])


def test_lsh_topk_finds_planted_near_dups(spark):
    """Sign-LSH's contract: vectors at small angle land in one bucket. Plant
    20 near-identical twins among 100 background vectors (deterministic:
    seeded data + hash-derived planes → fixed outcome, no flake)."""
    import numpy as np

    rng = np.random.RandomState(3)
    rows = []
    for i in range(100):
        v = rng.normal(size=16)
        v /= np.linalg.norm(v)
        rows.append((i, [float(x) for x in v]))
        if i < 20:  # twin at cos ≈ 0.998
            t = v + rng.normal(scale=0.03, size=16)
            t /= np.linalg.norm(t)
            rows.append((1000 + i, [float(x) for x in t]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    approx = lsh_topk(df, k=3, n_planes=4).collect()
    found = {r.query_id: set() for r in approx}
    for r in approx:
        found[r.query_id].add(r.cand_id)
    hits = sum(1 for i in range(20) if (1000 + i) in found.get(i, set()))
    # θ≈3.5° twins: P(bucket split) ≈ 4·θ/π ≈ 8% per pair
    assert hits >= 15
    # and the exact brute-force baseline finds every twin
    exact = brute_force_topk(df, df, k=1).collect()
    nn = {r.query_id: r.cand_id for r in exact}
    assert all(nn[i] == 1000 + i for i in range(20))


def test_connected_components_both_paths(spark):
    from videos_to_tfrecords_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 9), (9, 10), (10, 11)], "id_a long, id_b long"
    )
    want = {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 8: 8, 9: 8, 10: 8, 11: 8}
    fast = {r.node: r.component for r in connected_components(pairs).collect()}
    assert fast == want
    # force the distributed label-propagation path
    dist = {
        r.node: r.component
        for r in connected_components(pairs, small_graph_threshold=0).collect()
    }
    assert dist == want


def test_jaccard_verify_both_strategies_agree(spark):
    from videos_to_tfrecords_spark.operators.dedup import jaccard_verify_from_texts

    base = "w%d " * 30 % tuple(range(30))
    near = base.replace("w7 ", "w7x ")
    docs = _docs(spark, [(1, base.strip()), (2, near.strip()), (3, "a b c d e")])
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "id_a long, id_b long")
    bc = sorted(map(tuple, jaccard_verify_from_texts(pairs, docs).collect()))
    jn = sorted(
        map(tuple, jaccard_verify_from_texts(pairs, docs, broadcast_doc_limit=0).collect())
    )
    assert bc == jn and len(bc) == 1 and bc[0][:2] == (1, 2)


def test_pack_sequences_invariants(spark):
    from videos_to_tfrecords_spark.operators.packing import pack_sequences

    docs = spark.createDataFrame(
        [(i, 10 + (i * 37) % 120) for i in range(200)], "doc_id long, n_tokens long"
    ).repartition(4)
    packed = pack_sequences(docs, capacity=256).collect()
    assert len(packed) == 200  # every doc packed exactly once
    by_bin: dict[str, list] = {}
    for r in packed:
        by_bin.setdefault(r.bin_id, []).append(r)
    for bin_id, rows in by_bin.items():
        total = sum(r.n_tokens for r in rows)
        assert total <= 256 or len(rows) == 1  # capacity, oversize solo
        # offsets are a proper prefix layout
        rows.sort(key=lambda r: r.offset)
        off = 0
        for r in rows:
            assert r.offset == off
            off += r.n_tokens
    # fill efficiency: greedy first-fit should use bins reasonably
    avg_fill = sum(min(sum(r.n_tokens for r in v), 256) for v in by_bin.values()) / (
        256 * len(by_bin)
    )
    assert avg_fill > 0.6


def test_normalized_text(spark):
    from videos_to_tfrecords_spark.operators.text import with_normalized_text

    df = spark.createDataFrame([(1, "Hello,  WORLD!! 42  ")], "doc_id long, text string")
    out = with_normalized_text(df).collect()[0]
    assert out.text_norm == "hello world 42"


def _planted_twins(spark, n_bg=100, n_twins=20, dim=16, seed=3):
    """100 background unit vectors + 20 planted near-identical twins
    (cos ≈ 0.998). Deterministic: seeded data + hash-derived planes."""
    import numpy as np

    rng = np.random.RandomState(seed)
    rows = []
    for i in range(n_bg):
        v = rng.normal(size=dim)
        v /= np.linalg.norm(v)
        rows.append((i, [float(x) for x in v]))
        if i < n_twins:
            t = v + rng.normal(scale=0.03, size=dim)
            t /= np.linalg.norm(t)
            rows.append((1000 + i, [float(x) for x in t]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_lsh_topk_chunk_grid_is_purely_physical(spark, monkeypatch):
    """Adversarial single-bucket fixture: ~all vectors nearly parallel ⇒
    one giant bucket. The blocked chunk grid must (a) produce IDENTICAL
    results to the unblocked computation and (b) keep realized chunk
    populations near |bucket|/n_chunks (hash-balanced)."""
    import collections
    import hashlib as _hl

    import numpy as np

    rng = np.random.RandomState(7)
    v0 = rng.normal(size=16)
    v0 /= np.linalg.norm(v0)
    rows = []
    for i in range(120):
        v = v0 + rng.normal(scale=0.01, size=16)
        v /= np.linalg.norm(v)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    from videos_to_tfrecords_spark.operators import similarity

    monkeypatch.setattr(similarity, "_CHUNK_CAP", 10**9)
    big = sorted(map(tuple, lsh_topk(df, k=3, n_planes=4).collect()))
    monkeypatch.setattr(similarity, "_CHUNK_CAP", 10)
    blocked = sorted(map(tuple, lsh_topk(df, k=3, n_planes=4).collect()))
    assert big == blocked and len(big) == 120 * 3

    # realized chunk balance for the dominant bucket (n_chunks = ceil(B/10))
    h15py = lambda s: int(_hl.md5(f"chunk:{s}".encode()).hexdigest()[:15], 16)  # noqa: E731
    sizes = collections.Counter(h15py(str(i)) % 12 for i in range(120))
    assert max(sizes.values()) <= 3 * (120 // 12)  # balls-in-bins, deterministic


def test_multiprobe_recall_beats_single_probe(spark):
    """Hamming-1 probing must recover twins that single-probe loses to a
    near-hyperplane split, and never lose ones it had."""
    from videos_to_tfrecords_spark.operators.similarity import lsh_topk_multiprobe

    df = _planted_twins(spark)

    def twin_hits(res):
        found = {}
        for r in res:
            found.setdefault(r.query_id, set()).add(r.cand_id)
        return sum(1 for i in range(20) if (1000 + i) in found.get(i, set()))

    single = twin_hits(lsh_topk(df, k=3, n_planes=8).collect())
    multi = twin_hits(lsh_topk_multiprobe(df, k=3, n_planes=8).collect())
    assert multi >= single
    assert multi >= 18  # θ≈3.5°: ≥2-plane splits are rare


def test_multiprobe_chunk_grid_is_purely_physical_and_bounded(spark, monkeypatch):
    """Adversarial single-bucket fixture for MULTIPROBE (the round-2 weak
    component): nearly-parallel vectors collapse into one bucket, and
    Hamming-1 probing multiplies the query side by n_planes+1. The blocked
    bipartite grid must (a) leave results identical to the unblocked
    computation and (b) bound the rows any single (bucket, qc, cc) task
    sees, however hot the bucket."""
    import numpy as np
    import pyspark.sql.functions as F

    from videos_to_tfrecords_spark.operators import similarity
    from videos_to_tfrecords_spark.operators.similarity import (
        _bipartite_tagged_grid,
        hyperplane_bucket,
        lsh_topk_multiprobe,
    )

    rng = np.random.RandomState(11)
    v0 = rng.normal(size=16)
    v0 /= np.linalg.norm(v0)
    rows = []
    for i in range(150):
        v = v0 + rng.normal(scale=0.01, size=16)
        v /= np.linalg.norm(v)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    monkeypatch.setattr(similarity, "_CHUNK_CAP", 10**9)
    big = sorted(map(tuple, lsh_topk_multiprobe(df, k=3, n_planes=4).collect()))
    monkeypatch.setattr(similarity, "_CHUNK_CAP", 12)
    blocked = sorted(map(tuple, lsh_topk_multiprobe(df, k=3, n_planes=4).collect()))
    assert big == blocked and len(big) == 150 * 3

    # realized per-task row bound: rebuild the grid the operator uses and
    # measure the largest (bucket, qc, cc) group. _CHUNK_CAP=12 ⇒ each task
    # should stay within a small hash-imbalance factor of 2*cap.
    cap = 12
    bucketed = hyperplane_bucket(df, n_planes=4)
    cand = bucketed.select(
        "bucket", F.col("vec_id").alias("query_id"), F.col("embedding").alias("v")
    )
    probes = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << p).cast("long")) for p in range(4)],
    )
    q = bucketed.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("v"),
        F.explode(probes).alias("bucket"),
    ).select("bucket", "query_id", "v")
    sizes = (
        _bipartite_tagged_grid(q, cand, ["bucket"])
        .groupBy("bucket", "qc", "cc")
        .count()
        .agg(F.max("count").alias("mx"))
        .collect()[0]["mx"]
    )
    assert sizes <= 4 * 2 * cap  # balls-in-bins slack over the 2·cap target


def test_auto_planes_derivation_and_parity(spark):
    """auto_planes floors at N_PLANES for small corpora (so test-SF
    geometry matches the fixed-plane oracles) and grows log2 with corpus
    size; the "auto" code path through both LSH operators must equal the
    explicit-plane result at floor scale."""
    from videos_to_tfrecords_spark.operators.similarity import (
        N_PLANES,
        auto_planes,
        lsh_topk,
        lsh_topk_multiprobe,
    )

    assert auto_planes(1) == N_PLANES
    assert auto_planes(128 * 2**N_PLANES) == N_PLANES
    assert auto_planes(128 * 2**N_PLANES + 1) == N_PLANES + 1
    assert auto_planes(128 * 2**20) == 20  # 134M rows → 1M buckets

    df = _planted_twins(spark)
    assert sorted(map(tuple, lsh_topk(df, k=2, n_planes="auto").collect())) == sorted(
        map(tuple, lsh_topk(df, k=2, n_planes=N_PLANES).collect())
    )
    assert sorted(
        map(tuple, lsh_topk_multiprobe(df, k=2, n_planes="auto").collect())
    ) == sorted(map(tuple, lsh_topk_multiprobe(df, k=2, n_planes=N_PLANES).collect()))


def test_ivf_kmeans_fixed_k_and_deterministic(spark):
    """kmeans-lite centroid count is a CONSTANT (the round-1 weakness was
    centroids ∝ corpus) and the whole IVF path is run-to-run identical."""
    import numpy as np

    from videos_to_tfrecords_spark.operators.similarity import ivf_topk, kmeans_lite

    df = _planted_twins(spark)
    cents = kmeans_lite(df, k=5, iters=2)
    assert cents.shape == (5, 16) and cents.dtype == np.int64
    again = kmeans_lite(df, k=5, iters=2)
    assert (cents == again).all()

    a = sorted(map(tuple, ivf_topk(df, k_centroids=5, iters=2, nprobe=2, query_mod=10, k=2).collect()))
    b = sorted(map(tuple, ivf_topk(df, k_centroids=5, iters=2, nprobe=2, query_mod=10, k=2).collect()))
    assert a == b and len(a) > 0


def test_ivf_chunk_grid_is_purely_physical_and_bounded(spark, monkeypatch):
    """Adversarial single-list fixture for IVF: nearly-parallel vectors
    under one centroid make one inverted list as large as the corpus, with
    every vector a query. The grid must (a) leave results identical to the
    unblocked ranking and (b) bound the rows any (key, qc, cc) task sees,
    within the multiprobe test's 4·2·cap slack."""
    import numpy as np
    import pyspark.sql.functions as F

    from videos_to_tfrecords_spark.operators import similarity

    rng = np.random.RandomState(13)
    v0 = rng.normal(size=16)
    v0 /= np.linalg.norm(v0)
    rows = []
    for i in range(150):
        v = v0 + rng.normal(scale=0.01, size=16)
        v /= np.linalg.norm(v)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def run():
        return sorted(
            map(
                tuple,
                similarity.ivf_topk(
                    df, k_centroids=1, nprobe=1, query_mod=1, k=3
                ).collect(),
            )
        )

    monkeypatch.setattr(similarity, "_CHUNK_CAP", 10**9)
    big = run()
    cap = 12
    monkeypatch.setattr(similarity, "_CHUNK_CAP", cap)
    grids = []
    grid = similarity._bipartite_tagged_grid
    monkeypatch.setattr(
        similarity,
        "_bipartite_tagged_grid",
        lambda *a: grids.append(grid(*a)) or grids[-1],
    )
    blocked = run()
    assert big == blocked and len(big) == 150 * 3

    (g,) = grids
    assert g.filter(~F.col("is_q")).select("key").distinct().count() == 1
    sizes = (
        g.groupBy("key", "qc", "cc")
        .count()
        .agg(F.max("count").alias("mx"))
        .collect()[0]["mx"]
    )
    assert sizes <= 4 * 2 * cap  # balls-in-bins slack over the 2·cap target


def _empty_input_cases():
    """(kernel, fixture, run) for every top-k kernel in similarity.py and
    the PQ codebook profile.
    ``empty``: a 0-row corpus. ``odd_ids``: 200 rows with odd vec_ids, so
    every id % 2 = 0 query sample (query_mod=2, and qmod = 200 div 80 = 2
    for the PQ kernels) is empty."""
    from videos_to_tfrecords_spark.operators import similarity as s

    even = lambda df: df.filter(F.col("vec_id") % 2 == 0)  # noqa: E731
    runs = {
        "brute_force_topk": lambda df: s.brute_force_topk(even(df), df),
        "lsh_topk": lambda df: s.lsh_topk(df),
        "lsh_topk_multiprobe": lambda df: s.lsh_topk_multiprobe(df),
        "cosine_threshold_pairs_banded": lambda df: s.cosine_threshold_pairs_banded(df),
        "ivf_topk": lambda df: s.ivf_topk(df, query_mod=2),
        "hard_negatives": lambda df: s.hard_negatives(df, query_mod=2),
        "int8_brute_force_topk": lambda df: s.int8_brute_force_topk(even(df), df),
        "euclidean_bottom2": lambda df: s.euclidean_bottom2(even(df), df),
        "pq_adc_recall": lambda df: s.pq_adc_recall(df),
        "ivfpq_adc_topk": lambda df: s.ivfpq_adc_topk(df),
        "pq_profile": lambda df: s.pq_profile(df),
    }
    sampled = {"ivf_topk", "hard_negatives", "pq_adc_recall", "ivfpq_adc_topk"}
    return [(name, "empty", run) for name, run in runs.items()] + [
        (name, "odd_ids", runs[name]) for name in sorted(sampled)
    ]


_EMPTY_INPUT_CASES = _empty_input_cases()


@pytest.mark.parametrize(
    "kernel,fixture,run",
    _EMPTY_INPUT_CASES,
    ids=[f"{k}-{f}" for k, f, _ in _EMPTY_INPUT_CASES],
)
def test_topk_kernels_on_empty_query_side(spark, kernel, fixture, run):
    """An empty corpus, or an empty sampled query set, yields no rows (no
    queries ⇒ pq_adc_recall's one row (0, 0, 0)) instead of raising."""
    import numpy as np

    rng = np.random.RandomState(5)
    rows = [
        (2 * i + 1, i % 3, [float(x) for x in rng.normal(size=16)])
        for i in range(0 if fixture == "empty" else 200)
    ]
    df = spark.createDataFrame(rows, "vec_id long, label long, embedding array<float>")
    got = [tuple(r) for r in run(df).collect()]
    assert got == ([(0, 0, 0)] if kernel == "pq_adc_recall" else [])


def test_banded_threshold_pairs_subset_and_twin_recall(spark, monkeypatch):
    """Banded near-dup pairs: every emitted pair is above threshold and is
    a subset of the exact all-pairs result; twins (cos≈0.998 ⇒ bands agree
    with prob ≈1) are all recovered. Blocked grid changes nothing."""
    from videos_to_tfrecords_spark.operators import similarity
    from videos_to_tfrecords_spark.operators.similarity import (
        cosine_threshold_pairs,
        cosine_threshold_pairs_banded,
    )

    df = _planted_twins(spark)
    thr = 900_000_000_000  # cos 0.9 at 1e6² scaling
    banded = sorted(map(tuple, cosine_threshold_pairs_banded(df, threshold_scaled=thr).collect()))
    exact = sorted(map(tuple, cosine_threshold_pairs(df, threshold_scaled=thr).collect()))
    assert set(banded) <= set(exact)
    assert all(d >= thr for _, _, d in banded)
    twin_pairs = {(i, 1000 + i) for i in range(20)}
    assert twin_pairs <= {(a, b) for a, b, _ in banded}
    monkeypatch.setattr(similarity, "_CHUNK_CAP", 7)
    blocked = sorted(
        map(tuple, cosine_threshold_pairs_banded(df, threshold_scaled=thr).collect())
    )
    assert blocked == banded


def test_jaccard_verify_byte_bound_forces_join_path(spark):
    """A few huge docs must defeat the broadcast-verify path even when the
    DOC COUNT is tiny — the probe is bounded by Σ bytes, not rows (round-1
    review finding: 200k × 100 KB docs ≈ 20 GB on the driver)."""
    from videos_to_tfrecords_spark.operators.dedup import jaccard_verify_from_texts

    big_a = " ".join(f"w{i}" for i in range(30_000))
    big_b = big_a.replace("w7 ", "w7x ")
    docs = _docs(spark, [(1, big_a), (2, big_b), (3, "a b c d e")])
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "id_a long, id_b long")
    # byte cap far below the ~350 KB of candidate text → join fallback
    forced = sorted(
        map(
            tuple,
            jaccard_verify_from_texts(
                pairs, docs, broadcast_byte_limit=1_000
            ).collect(),
        )
    )
    bc = sorted(map(tuple, jaccard_verify_from_texts(pairs, docs).collect()))
    assert forced == bc and len(bc) == 1 and bc[0][:2] == (1, 2)


def test_kmeans_lite_empty_cluster_keeps_previous_position(spark):
    """Two tight point clouds with k=3: at least one h15-chosen seed loses
    every member after assignment — kmeans must keep that centroid at its
    previous position (the oracle's LEFT JOIN + COALESCE; here the Python
    carry) rather than dividing by zero."""
    import numpy as np

    from videos_to_tfrecords_spark.operators.similarity import kmeans_lite

    rows = []
    for i in range(30):  # cloud A near (1, 0, ...)
        rows.append((i, [1.0 + (i % 3) * 1e-4] + [0.0] * 7))
    for i in range(30):  # cloud B near (0, 1, ...)
        rows.append((100 + i, [0.0, 1.0 + (i % 3) * 1e-4] + [0.0] * 6))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_lite(df, k=3, iters=2)
    assert cents.shape == (3, 8)
    # deterministic: second run identical (carry included)
    assert (cents == kmeans_lite(df, k=3, iters=2)).all()
    # with only two point clouds, the 3 centroids collapse onto ≤2 distinct
    # member-weighted positions + possibly a carried seed; all must be finite ints
    assert np.isfinite(cents).all()


def test_repetition_signals_hand_computed(spark):
    """Hand-computed goldens: a looping doc scores high on every signal, a
    varied doc scores 0; the <2-token edge cases are NULL-free."""
    from videos_to_tfrecords_spark.operators.text import repetition_signals

    df = spark.createDataFrame(
        [
            (1, "go go go go"),          # toks 4, distinct 1; bigrams: "go go"×3
            (2, "a b c d"),              # all unique
            (3, "x"),                    # 1 token: no bigrams
            (4, "a b a b a"),            # bigrams: ab,ba,ab,ba → all dup
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in repetition_signals(df).collect()}
    r1 = got[1]
    assert (r1.n_tokens, r1.dup_token_ratio_x1000) == (4, 750)  # (4-1)*1000//4
    assert r1.top_bigram_frac_x1000 == 1000 and r1.dup_bigram_frac_x1000 == 1000
    r2 = got[2]
    assert (r2.dup_token_ratio_x1000, r2.top_bigram_frac_x1000, r2.dup_bigram_frac_x1000) == (0, 333, 0)
    r3 = got[3]
    assert (r3.n_tokens, r3.top_bigram_frac_x1000, r3.dup_bigram_frac_x1000) == (1, 0, 0)
    r4 = got[4]
    # toks 5 distinct 2 → (3*1000)//5 = 600; 4 bigrams, top "a b"×2 → 500; all dup → 1000
    assert (r4.dup_token_ratio_x1000, r4.top_bigram_frac_x1000, r4.dup_bigram_frac_x1000) == (600, 500, 1000)


def test_mixture_resample_hits_recipe_proportions(spark):
    """Integer-recipe invariants: the binding source is fully consumed,
    per-source kept counts equal floor(T·w/100), unlisted sources vanish,
    and the kept set is deterministic across runs."""
    from videos_to_tfrecords_spark.operators.sampling import mixture_resample

    rows = (
        [(i, "web") for i in range(300)]
        + [(1000 + i, "wiki") for i in range(80)]
        + [(2000 + i, "code") for i in range(40)]
        + [(3000 + i, "junk") for i in range(50)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string")
    weights = {"web": 60, "wiki": 30, "code": 10}
    out = mixture_resample(df, "source", "doc_id", weights)
    got: dict[str, int] = {}
    for r in out.collect():
        got[r.source] = got.get(r.source, 0) + 1
    # T = min(300*100//60, 80*100//30, 40*100//10) = min(500, 266, 400) = 266
    # hash-threshold keeps the target IN EXPECTATION (binomial wobble)
    targets = {"web": 266 * 60 // 100, "wiki": 266 * 30 // 100, "code": 26}
    assert set(got) == set(targets)  # junk dropped entirely
    for s_, tgt in targets.items():
        assert abs(got[s_] - tgt) <= max(5, tgt // 5), (s_, got[s_], tgt)
    # realized mixture is close to the recipe
    total = sum(got.values())
    assert abs(got["web"] / total - 0.60) < 0.08
    a = sorted(r.doc_id for r in out.collect())
    b = sorted(r.doc_id for r in mixture_resample(df, "source", "doc_id", weights).collect())
    assert a == b


def test_decontamination_counts_shared_shingles(spark):
    """Hand-built contamination: a training doc embedding an eval doc's
    text shares its shingles; a disjoint doc produces no row."""
    from videos_to_tfrecords_spark.operators.dedup import decontaminate_overlap

    ev = spark.createDataFrame(
        [(100, "alpha beta gamma delta")], "doc_id long, text string"
    )
    tr = spark.createDataFrame(
        [
            (1, "x alpha beta gamma delta y"),  # contains both eval shingles
            (2, "p q r s t u"),                 # clean
            (3, "alpha beta gamma"),            # one shared shingle
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.n_shared_shingles for r in decontaminate_overlap(tr, ev).collect()}
    assert got == {1: 2, 3: 1}


def test_pii_scrub_goldens(spark):
    """Hand-built strings: each pattern redacts and counts; clean text
    passes through untouched with zero hits."""
    from videos_to_tfrecords_spark.operators.text import with_pii_scrubbed

    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@corp.example.org now"),
            (2, "call +1 (650) 555-0199 or 212-555-0100 today"),
            (3, "host 192.168.1.17 responded"),
            (4, "nothing sensitive here"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.text_scrubbed, r.n_pii_hits) for r in with_pii_scrubbed(df).collect()}
    assert got[1] == ("mail <EMAIL> now", 1)
    assert got[2] == ("call <PHONE> or <PHONE> today", 2)
    assert got[3] == ("host <IP> responded", 1)
    assert got[4] == ("nothing sensitive here", 0)


def test_new_ops_degenerate_inputs(spark):
    """Degenerate-input sweep for the round-3 operators: empty eval set,
    empty/whitespace docs through repetition signals, a mixture recipe
    naming only absent sources — all must return sane empty/zero results,
    not throw."""
    from videos_to_tfrecords_spark.operators.dedup import decontaminate_overlap
    from videos_to_tfrecords_spark.operators.sampling import mixture_resample
    from videos_to_tfrecords_spark.operators.text import (
        repetition_signals,
        with_pii_scrubbed,
    )

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "")], "doc_id long, text string"
    )
    empty = spark.createDataFrame([], "doc_id long, text string")

    assert decontaminate_overlap(docs, empty).count() == 0
    assert decontaminate_overlap(empty, docs).count() == 0

    rep = {r.doc_id: r for r in repetition_signals(docs).collect()}
    # "" splits to [""] → 1 token, 0 dup, no bigrams
    assert (rep[2].n_tokens, rep[2].dup_token_ratio_x1000) == (1, 0)
    assert rep[2].top_bigram_frac_x1000 == 0 and rep[2].dup_bigram_frac_x1000 == 0

    assert mixture_resample(docs, "text", "doc_id", {"absent": 100}).count() == 0

    scrub = {r.doc_id: r.n_pii_hits for r in with_pii_scrubbed(docs).collect()}
    assert scrub == {1: 0, 2: 0}


def test_line_dedup_keep_first_semantics(spark):
    """Hand-computed: dup lines keep exactly the (min doc, min pos)
    occurrence, including intra-document repeats; unique lines all
    survive; a fully-duplicated doc collapses to empty."""
    from videos_to_tfrecords_spark.operators.dedup import dedup_lines_global

    df = spark.createDataFrame(
        [
            (1, "boiler plate\nunique one\nboiler plate"),  # intra-doc dup
            (2, "boiler plate\nunique two"),
            (3, "boiler plate"),  # everything duplicated elsewhere
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup_lines_global(df).collect()}
    # doc 1 keeps its pos-0 occurrence (global first), drops the pos-2 one
    assert out[1].text_dedup == "boiler plate\nunique one"
    assert (out[1].n_lines_kept, out[1].n_lines_dropped) == (2, 1)
    assert out[2].text_dedup == "unique two"
    assert (out[2].n_lines_kept, out[2].n_lines_dropped) == (1, 1)
    assert out[3].text_dedup == ""
    assert (out[3].n_lines_kept, out[3].n_lines_dropped) == (0, 1)


def test_line_dedup_min_dup_threshold(spark):
    """min_dup=3: a line occurring twice survives everywhere; at three
    occurrences only the first survives."""
    from videos_to_tfrecords_spark.operators.dedup import dedup_lines_global

    df = spark.createDataFrame(
        [(1, "twice\nthrice"), (2, "twice\nthrice"), (3, "thrice")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup_lines_global(df, min_dup=3).collect()}
    assert out[1].text_dedup == "twice\nthrice"
    assert out[2].text_dedup == "twice"
    assert out[3].text_dedup == ""


def test_hashed_linear_quality_matches_numpy_reference(spark):
    """The JVM-side hashed classifier equals an independent Python
    re-implementation (hashlib md5 + ints) on every doc, and the plan is
    map-only (no exchange)."""
    import hashlib

    from videos_to_tfrecords_spark.operators.text import hashed_linear_quality

    rows = [(1, "the quick brown fox"), (2, "a b a b"), (3, "solo")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in hashed_linear_quality(df).collect()}

    def h15py(s):
        return int(hashlib.md5(f"ftq:{s}".encode()).hexdigest()[:15], 16)

    for doc_id, text in rows:
        toks = text.split(" ")
        feats = toks + (
            [f"{a} {b}" for a, b in zip(toks, toks[1:])] if len(toks) >= 2 else []
        )
        ws = [((h15py(f) % 4096) * 2654435761) % 2001 - 1000 for f in feats]
        assert out[doc_id].n_features == len(feats)
        assert out[doc_id].score_sum == sum(ws)
        assert out[doc_id].quality_label == (sum(ws) > 0)

    plan = hashed_linear_quality(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_jl_projection_matches_numpy_and_is_map_only(spark):
    """jl_project equals an independent hashlib+numpy re-derivation on
    hand-built vectors, and the plan has no exchange (narrow pass)."""
    import hashlib

    import numpy as np

    from videos_to_tfrecords_spark.operators.similarity import jl_project

    rows = [
        (1, [1.0, 0.0, -0.5, 0.25]),
        (2, [0.0, 0.0, 0.0, 0.0]),
        (3, [-1.0, 1.0, 1.0, -1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: list(r.proj) for r in jl_project(df, n_out=3).collect()}

    def sign(j, i):
        h = int(hashlib.md5(f"jl:{j},{i}".encode()).hexdigest()[:15], 16)
        return 1 if h % 2 == 1 else -1

    for vid, vec in rows:
        iv = [round(np.float64(np.float32(x)) * 1_000_000) for x in vec]
        want = [sum(iv[i] * sign(j, i) for i in range(4)) for j in range(3)]
        assert out[vid] == want

    plan = jl_project(df, n_out=3)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_semantic_dedup_drops_in_cluster_near_dups_only(spark):
    """Two near-identical vectors land in one cluster — the higher id is
    dropped; orthogonal vectors all survive. cid is consistent with the
    kept flag (dominance only ever within a cluster)."""
    from videos_to_tfrecords_spark.operators.similarity import semantic_dedup

    # 4-dim: two copies of e0 (near-dup pair), plus e1 and e2 singletons
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.001, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r.vec_id: r
        for r in semantic_dedup(
            df, k=3, iters=1, threshold_scaled=900_000_000_000
        ).collect()
    }
    assert len(out) == 4  # one row per vector, always
    assert out[1].kept is True
    assert out[2].kept is False  # dominated by vec 1 (dot ≈ 0.999e12)
    assert out[2].cid == out[1].cid  # dominance implies same cluster
    assert out[3].kept is True and out[4].kept is True


def test_knn_shapley_invariants(spark):
    """KNN-Shapley efficiency-style invariants on a planted fixture: per
    test point the per-rank terms telescope, so each training point's
    Shapley sum is bounded by |probe|·scale/K; and a point whose label
    matches every probe in whose top ranks it sits must score positive."""
    from videos_to_tfrecords_spark.operators.similarity import knn_shapley_values

    rows = [(i, [float((i * 7 + d) % 5 - 2) / 2 for d in range(4)], i % 2)
            for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label long")
    out = knn_shapley_values(df, k=3, query_target=10, scale=10**9).collect()
    n_train = 40 - len([r for r in rows if r[0] % 4 == 0])
    assert {r["vec_id"] for r in out}.issubset(
        {i for i in range(40) if i % 4 != 0}
    )
    n_probe = 40 // 4
    bound = n_probe * (10**9 // 3) + n_probe * 10**9 // n_train + 10**9
    for r in out:
        assert abs(r["shapley_x1e9"]) <= bound


def test_mmr_penalizes_redundancy(spark):
    """Controlled geometry: candidate 1 has top relevance, candidate 3 is
    its near-duplicate (slightly lower relevance), candidate 5 is less
    relevant but diverse. Pure relevance ranks (1, 3); MMR must rank
    (1, 5) because 3's similarity-to-selected penalty exceeds its
    relevance edge."""
    from videos_to_tfrecords_spark.operators.similarity import (
        mmr_diversified_topk,
    )

    q = [10.0, 0.0, 0.0, 0.0]
    vecs = {
        0: q, 2: q, 4: q,                 # probe queries (even ids)
        1: [9.0, 1.0, 0.0, 0.0],          # top relevance
        3: [8.9, 1.0, 0.0, 0.0],          # near-dup of 1: rel 89, sim-to-1 81.1
        5: [5.0, -5.0, 0.0, 0.0],         # diverse: rel 50, sim-to-1 40
    }
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()],
        "vec_id long, embedding array<double>",
    )
    out = mmr_diversified_topk(df, query_target=3, n_candidates=3, k=2)
    got = {(r["query_id"], r["step"]): r["cand_id"] for r in out.collect()}
    for qid in (0, 2, 4):
        assert got[(qid, 1)] == 1, got
        # relevance alone would pick 3 (score 89 vs 50); MMR picks 5
        # (89 - 81.1 = 7.9 < 50 - 40 = 10)
        assert got[(qid, 2)] == 5, got


def test_kcenter_radius_monotone_and_covers(spark):
    """Farthest-first invariants: selection radii are non-increasing, the
    final coverage radius is ≤ the last selection radius, and the seed is
    the min-id point."""
    from videos_to_tfrecords_spark.operators.similarity import kcenter_greedy

    rows = [(i, [float(i % 7), float((i * 3) % 5), 0.5]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["step"]: r for r in kcenter_greedy(df, k=5).collect()}
    assert out[1]["center_id"] == 0 and out[1]["radius2"] == 0
    radii = [out[s]["radius2"] for s in range(2, 6)]
    assert radii == sorted(radii, reverse=True)
    assert out[6]["center_id"] == -1
    assert out[6]["radius2"] <= out[5]["radius2"]
    assert len({out[s]["center_id"] for s in range(1, 6)}) == 5


def test_token_hash_u64_is_portable_and_composition_invariant():
    """The minhash token hash must be a pure function of the token's UTF-8
    bytes — never of batch composition, pad width, or host-library hashing
    internals (the r5 curation_funnel_census red row was an LSH miss-set
    that differed between environments via pd.util.hash_array). Golden
    values pin the exact FNV-1a fold so any future drift screams here."""
    import numpy as np

    from videos_to_tfrecords_spark.operators.dedup import token_hash_u64

    # batch-composition invariance: a token hashes identically whether it
    # arrives alone, with short neighbors, or with a 100-byte neighbor
    # (which changes the batch's pad width)
    solo = token_hash_u64(["hello"])[0]
    mixed = token_hash_u64(["a", "hello", "x" * 100])[1]
    assert solo == mixed
    # pure-Python reference of the specified algorithm
    def ref(tok: str) -> int:
        M = (1 << 64) - 1
        b = tok.encode("utf-8")
        h = 0
        for i, c in enumerate(b[:32]):
            h = (h + c * pow(1099511628211, i, 1 << 64)) & M
        h = ((h ^ len(b)) * 1099511628211) & M
        h ^= h >> 33
        h = (h * 0xFF51AFD7ED558CCD) & M
        h ^= h >> 33
        h = (h * 0xC4CEB9FE1A85EC53) & M
        h ^= h >> 33
        return h

    toks = ["hello", "", "a", "ü", "x" * 31, "x" * 32, "x" * 33, "x" * 40]
    got = token_hash_u64(toks)
    assert [int(v) for v in got] == [ref(t) for t in toks]
    # >32-byte tokens sharing the 32-byte prefix still differ (length fold)
    assert got[6] != got[7]
    assert got.dtype == np.uint64


def test_funnel_near_dedup_pairs_equal_exact_ground_truth(spark, sf_dir):
    """VERDICT r5 #1 done-criterion: at the funnel threshold the engine's
    near-dedup pair set must cover the oracle's EXACT all-pairs set. The
    funnel now uses the lossless prefix-filtered ngram_jaccard_pairs, so
    equality (not just ⊇) must hold against brute-force ground truth over
    the funnel's own stage-4 survivor set on real testdata."""
    from videos_to_tfrecords_spark.operators.dedup import exact_dedup

    docs = load_table(spark, sf_dir, "documents")
    n_toks = F.size(F.split(F.col("text"), " "))
    s3 = (
        docs.filter(F.col("doc_id") % 97 != 0)
        .filter((F.col("n_chars") >= 50) & (n_toks >= 10))
        .filter(F.col("lang").isin("en", "de", "fr"))
    )
    ex = exact_dedup(s3).filter(~F.col("is_duplicate")).select("doc_id")
    s4 = s3.join(ex, "doc_id").select("doc_id", "text")
    engine = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(s4, threshold_x1000=500).collect()
    }
    # brute-force exact ground truth in plain Python over string shingles
    rows = s4.collect()
    sh = {}
    for r in rows:
        toks = r.text.split(" ")
        sh[r.doc_id] = {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }
    ids = sorted(sh)
    truth = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sh[a] & sh[b])
            if inter and 1000 * inter // (len(sh[a]) + len(sh[b]) - inter) >= 500:
                truth.add((a, b))
    assert truth <= engine  # the contract: engine never misses a true pair
    assert engine == truth  # and the verify step kills every false positive


def test_duplicate_span_stats_interval_merge(spark):
    """Hand-computed ExactSubstr census: a 10-token span shared by docs 1
    and 2 yields 3 flagged 8-windows (positions 1..3) that merge into ONE
    span of 10 tokens; doc 3 shares nothing and must not appear."""
    from videos_to_tfrecords_spark.operators.dedup import duplicate_span_stats

    shared = " ".join(f"s{i}" for i in range(10))  # 10-token shared span
    d1 = shared + " a1 a2 a3"               # 13 tokens, dup region = [1,10]
    d2 = "b1 b2 " + shared                  # 12 tokens, dup region = [3,12]
    d3 = " ".join(f"z{i}" for i in range(15))
    df = _docs(spark, [(1, d1), (2, d2), (3, d3)])
    out = {r.doc_id: r for r in duplicate_span_stats(df, n=8).collect()}
    assert set(out) == {1, 2}
    assert out[1].n_dup_spans == 1 and out[1].dup_tokens == 10
    assert out[1].n_tokens == 13 and out[1].kept_tokens == 3
    assert out[2].n_dup_spans == 1 and out[2].dup_tokens == 10
    assert out[2].kept_tokens == 2
    # two DISJOINT shared spans (gap > 8) stay two spans
    far = shared + " " + " ".join(f"m{i}" for i in range(9)) + " " + shared
    df2 = _docs(spark, [(1, far), (2, shared)])
    out2 = {r.doc_id: r for r in duplicate_span_stats(df2, n=8).collect()}
    assert out2[1].n_dup_spans == 2 and out2[1].dup_tokens == 20


def test_pq_profile_and_adc_recall_invariants(spark):
    """PQ codebooks: profile covers every (subspace, code) member exactly
    once (counts sum to corpus size per subspace), and ADC recall on a
    clustered toy set is perfect — subvector codewords separate the two
    blobs, so asymmetric distance agrees with exact distance."""
    from videos_to_tfrecords_spark.operators.similarity import (
        pq_adc_recall,
        pq_profile,
    )

    rows = []
    for i in range(40):
        base = 1.0 if i % 2 == 0 else -1.0
        vec = [base + (0.001 * ((i * 7 + d) % 5)) for d in range(8)]
        rows.append((i, vec))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    prof = pq_profile(df, m=2, k=4, iters=1).collect()
    by_sub = {}
    for r in prof:
        by_sub.setdefault(r.subspace, 0)
        by_sub[r.subspace] += r.n_vecs
    assert by_sub == {0: 40, 1: 40}
    assert all(0 <= r.code < 4 for r in prof)
    out = pq_adc_recall(df, m=2, k_codes=4, iters=1, k=3).collect()[0]
    assert out.n_queries == 40  # qmod = max(1, 40 // 80) = 1 → every vector
    assert 0 <= out.recall_x1000 <= 1000
    # Within a blob ADC collapses members onto one codeword (distances tie,
    # broken by cand_id) while exact distances differ by the jitter — so
    # recall is partial BY CONSTRUCTION here; it must still clear chance:
    # picking 3 of the 19 same-blob candidates at random ≈ 158/1000.
    assert out.recall_x1000 >= 400


def test_ngram_jaccard_integer_bounds_exact_at_threshold_100(spark):
    """r7 ADVICE fix: with t = 0.1 (the double 0.10000000000000000555…),
    ALL THREE float-form candidate filters prune a true boundary pair —
    ceil(0.1·10) = 2 shortens the prefix past the shared shingle,
    0.1·10 > 1 fails the length filter at exact equality, and
    ceil(0.1/1.1·11) = 2 exceeds the achievable overlap 1. The exact
    integer forms (a+b−1) div b must keep it. Pair: |A|=10 shingles,
    |B|=1, overlap 1 → J = 1/10 = threshold exactly; the shared shingle is
    A's highest-df (last-ranked) one, so only a full-length prefix emits
    it."""
    a_text = " ".join([f"a{i}" for i in range(1, 10)] + ["x", "y", "z"])
    b_text = "x y z"
    df = spark.createDataFrame(
        [(1, a_text), (2, b_text)], "doc_id long, text string"
    )
    got = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(df, threshold_x1000=100).collect()
    }
    assert got == {(1, 2)}


def test_ivfpq_adc_topk_tiny_corpus(spark):
    """Degenerate ANN: corpus smaller than k_codes/k_coarse — kmeans-lite
    falls back to fewer-than-k centroids (init is a ≤k-row limit), every
    vector still encodes, and each bounded query returns its ≤k
    neighbors with self excluded."""
    from videos_to_tfrecords_spark.operators.similarity import ivfpq_adc_topk

    rows = [(i, [float(i + 1)] * 8 + [0.0] * 56) for i in range(5)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = ivfpq_adc_topk(
        df, k_coarse=2, coarse_iters=1, nprobe=2, m=4, k_codes=2,
        pq_iters=1, k=3,
    ).collect()
    assert len(got) > 0
    assert all(r.cand_id != r.query_id for r in got)
    per_q = {}
    for r in got:
        per_q.setdefault(r.query_id, []).append(r.rnk)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_q.values())


def test_codepoint_census_arrow_paths(spark):
    """mapInArrow census: ASCII fast path (zero-copy buffer cumsum),
    non-ASCII exact fallback, empty and NULL rows -> 0 — same numbers
    Python computes per row."""
    from videos_to_tfrecords_spark.operators.text import (
        codepoint_census_arrow,
    )

    rows = [
        (1, "abc"), (2, ""), (3, None), (4, "héllo"), (5, "日本"),
        (6, "plain ascii row"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.cp_sum, r.n_chars)
        for r in codepoint_census_arrow(df, "text").collect()
    }
    want = {
        i: (sum(map(ord, t or "")), len(t or "")) for i, t in rows
    }
    assert got == want


def test_mapside_recall_eval_invariants(spark, sf_dir):
    """minhash_lsh_recall_eval_mapside is rows-only by design (the FNV
    fast-hash family is not SQL-replayable), so its invariants are pinned
    here instead: (a) the GROUND-TRUTH columns (j_band, n_true_pairs) are
    identical to the oracle-green portable eval's — both frames census the
    same lossless ngram_jaccard_pairs set; (b) 0 <= n_lsh_found <=
    n_true_pairs with recall_x1000 = floor(1000*found/true) per band;
    (c) exact duplicates (J=1000, the 900+ band) are ALWAYS candidates —
    identical texts give identical signatures, hence identical band keys."""
    import __spark_entry__  # noqa: F401  (populates the registry)
    from videos_to_tfrecords_spark.plans.registry import QUERIES

    mapside = {
        r.j_band: r
        for r in QUERIES["minhash_lsh_recall_eval_mapside"](spark, sf_dir).collect()
    }
    portable = {
        r.j_band: r
        for r in QUERIES["minhash_lsh_recall_eval"](spark, sf_dir).collect()
    }
    assert set(mapside) == set(portable)
    for band, row in mapside.items():
        assert row.n_true_pairs == portable[band].n_true_pairs
        assert 0 <= row.n_lsh_found <= row.n_true_pairs
        assert row.recall_x1000 == (1000 * row.n_lsh_found) // row.n_true_pairs

    # (c) planted exact-duplicate corpus: every true pair is J=1000 and the
    # mapside family must recall all of them
    from videos_to_tfrecords_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures_mapside,
        ngram_jaccard_pairs,
    )
    from videos_to_tfrecords_spark.plans.text_queries import _recall_frame

    docs = _docs(
        spark,
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon"),
            (3, "zeta eta theta iota kappa"),
            (4, "zeta eta theta iota kappa"),
            (5, "completely different words here now"),
        ],
    )
    out = {
        r.j_band: r
        for r in _recall_frame(
            ngram_jaccard_pairs(docs, threshold_x1000=500),
            lsh_candidate_pairs(minhash_signatures_mapside(docs)),
        ).collect()
    }
    assert out[900].n_true_pairs == 2
    assert out[900].n_lsh_found == 2
    assert out[900].recall_x1000 == 1000


def test_shingle_table_null_text_is_empty_doc(spark):
    """r11 ADVICE: NULL text == empty document (zero shingles, no output
    row) — pinned because the old row loop raised and the docstring now
    states the fill_null semantics explicitly."""
    from videos_to_tfrecords_spark.operators.dedup import shingle_table

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, None), (3, "")], "doc_id long, text string"
    )
    got = {(r.doc_id, r.s) for r in shingle_table(df).collect()}
    assert got == {(1, "a b c"), (1, "b c d")}


def test_shingle_table_null_id_raises(spark):
    """r11 ADVICE: a NULL id must raise (numpy would round-trip
    int64-with-nulls through float64/NaN and emit a garbage id)."""
    import pytest as _pytest
    from pyspark.errors.exceptions.captured import PythonException

    from videos_to_tfrecords_spark.operators.dedup import shingle_table

    df = spark.createDataFrame(
        [(1, "a b c d"), (None, "e f g h")], "doc_id long, text string"
    )
    with _pytest.raises(PythonException, match="null doc ids"):
        shingle_table(df).collect()


def test_shingle_table_chunked_output_matches_single_batch(spark):
    """r11 ADVICE: output >= the chunk cap splits into several doc-aligned
    record batches (exercised with a tiny cap) — same rows, same within-doc
    distinct, as the unchunked path."""
    from videos_to_tfrecords_spark.operators.dedup import shingle_table

    rows = [
        (1, "aa bb cc dd ee aa bb cc"),   # has a within-doc duplicate shingle
        (2, "xx yy zz ww"),
        (3, ""),                           # zero shingles mid-stream
        (4, "mm nn oo pp qq rr"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)
    want = {(r.doc_id, r.s) for r in shingle_table(df).collect()}
    got = {(r.doc_id, r.s) for r in shingle_table(df, _chunk_bytes=64).collect()}
    assert got == want
    # a single doc larger than the cap raises with the documented message
    import pytest as _pytest
    from pyspark.errors.exceptions.captured import PythonException

    with _pytest.raises(PythonException, match="split the document upstream"):
        shingle_table(df, _chunk_bytes=32).collect()


def test_ngram_partial_counts_chunked_counts_match_single_batch(spark):
    """Output over the chunk cap splits into several n-gram-aligned record
    batches (exercised with a tiny cap): the summed counts equal the
    unchunked run's. A chunk must stay strictly under the cap, so an
    n-gram exactly as long as the cap raises."""
    import pytest as _pytest
    from pyspark.errors.exceptions.captured import PythonException

    from videos_to_tfrecords_spark.operators.text import ngram_partial_counts

    rows = [("aa bb cc dd ee aa bb cc",), (None,), ("",), ("xx yy aa bb",)]
    df = spark.createDataFrame(rows, "text string").coalesce(1)

    def summed(**kw):
        return {
            r.ngram: r.n
            for r in ngram_partial_counts(df, n=2, **kw)
            .groupBy("ngram")
            .agg(F.sum("cnt").alias("n"))
            .collect()
        }

    want = summed()
    assert want["aa bb"] == 3 and sum(want.values()) == 10
    # every bigram here is 5 bytes: a 12-byte cap holds two per chunk, a
    # 6-byte cap one, so "aa bb" is counted in several chunks
    for cap in (12, 6):
        assert summed(_chunk_bytes=cap) == want
        assert ngram_partial_counts(df, n=2, _chunk_bytes=cap).count() > len(want)
    with _pytest.raises(PythonException, match="exceeds the output chunk cap"):
        ngram_partial_counts(df, n=2, _chunk_bytes=5).collect()
